"""Temporal joins — as-of and range — as compositions of existing
DataFrame ops (build brief: custom operators Spark lacks, preference
(a) composition over UDFs).

``asof_join(left, right, on, ...)`` matches every left row to the LAST
right row with ``right_ts <= left_ts`` for the same key (backward
as-of, the kdb/pandas ``merge_asof`` default), optionally within a
tolerance.  Construction: tag both sides, union, and propagate the
latest right payload with ``last(..., ignorenulls=True)`` over a
key-partitioned (ts, side) window — right rows sort BEFORE left rows at
equal timestamps, so the match is inclusive (<=).  One shuffle (the
window partition), the same cost as a sort-merge as-of; no UDF, no
cartesian, no range self-join.

Determinism contract: the right side must be unique per (key, ts) —
pre-aggregate (e.g. ``max_by`` per key+ts) otherwise; with duplicates
the window order among equal right rows is unspecified.
``asof_join(..., strict=True)`` turns a contract violation into a loud
runtime error instead of an unspecified match, at zero extra shuffle
(the duplicate probe rides the same key-partitioned window).
"""

from __future__ import annotations

from typing import List, Sequence, Union

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(left: DataFrame, right: DataFrame,
              on: Union[str, Sequence[str]],
              left_ts: str = "ts", right_ts: str = "ts",
              right_prefix: str = "r_",
              tolerance_s: int | None = None,
              strict: bool = False) -> DataFrame:
    """Returns every left row + the matched right row's payload columns
    (prefixed), nulls when nothing precedes it (left-join semantics) or
    when the match is older than ``tolerance_s`` seconds.

    ``strict=True`` enforces the right-side (key, ts) uniqueness
    precondition at runtime: duplicate right rows sort adjacent in the
    window order, so a lag() probe inside the SAME window partition
    detects them for free and ``raise_error`` fails the job loudly
    instead of returning an unspecified match."""
    keys: List[str] = [on] if isinstance(on, str) else list(on)
    lcols = list(left.columns)
    rpay = [c for c in right.columns if c not in keys]

    lstruct_t = left.select(
        F.struct(*[F.col(c) for c in lcols]).alias("_l")).schema["_l"].dataType
    rstruct_t = right.select(
        F.struct(*[F.col(c) for c in rpay]).alias("_r")).schema["_r"].dataType

    l = left.select(
        *keys, F.col(left_ts).alias("_ts"), F.lit(1).alias("_lft"),
        F.struct(*[F.col(c) for c in lcols]).alias("_l"),
        F.lit(None).cast(rstruct_t).alias("_r"))
    r = right.select(
        *keys, F.col(right_ts).alias("_ts"), F.lit(0).alias("_lft"),
        F.lit(None).cast(lstruct_t).alias("_l"),
        F.struct(*[F.col(c) for c in rpay]).alias("_r"))

    w = (Window.partitionBy(*keys).orderBy("_ts", "_lft")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    rcol = F.col("_r")
    if strict:
        # equal-(key, ts) right rows are adjacent under (ts, side) order;
        # folding the probe into the matched value keeps Catalyst from
        # pruning it and reuses the window's exchange
        ow = Window.partitionBy(*keys).orderBy("_ts", "_lft")
        dup = ((F.col("_lft") == 0) & (F.lag("_lft").over(ow) == 0)
               & (F.lag("_ts").over(ow) == F.col("_ts")))
        rcol = F.when(dup, F.raise_error(F.concat(
            F.lit("asof_join strict: right side has duplicate rows per "
                  "(key, ts) at ts="), F.col("_ts").cast("string"),
            F.lit(" — pre-aggregate the right side")))).otherwise(rcol)
    u = l.unionByName(r).withColumn("_m", F.last(rcol, ignorenulls=True).over(w))

    matched = F.col("_m")
    if tolerance_s is not None:
        in_tol = (F.unix_micros(F.col("_ts").cast("timestamp"))
                  - F.unix_micros(F.col(f"_m.{right_ts}").cast("timestamp"))
                  <= tolerance_s * 1_000_000)
        matched = F.when(in_tol, F.col("_m"))
    return (u.filter(F.col("_lft") == 1)
            .select(*[F.col(f"_l.{c}").alias(c) for c in lcols],
                    *[matched.getField(c).alias(right_prefix + c)
                      for c in rpay]))


def range_join(left: DataFrame, right: DataFrame,
               on: Union[str, Sequence[str]],
               left_ts: str = "ts",
               right_start: str = "start_ts", right_end: str = "end_ts",
               bucket_s: int = 300,
               right_prefix: str = "r_") -> DataFrame:
    """Interval (range) join: every (left, right) pair with the same key
    and ``right_start <= left_ts <= right_end`` — inner-join semantics.

    Scale strategy: a naive key+BETWEEN join compiles to a nested-loop /
    skewed join.  Instead both sides are quantized to ``bucket_s``-second
    epoch buckets — the left point lands in one bucket, the right
    interval EXPLODES across every bucket it covers — and the join runs
    as an equi-join on (key, bucket) followed by the exact BETWEEN
    filter.  Shuffle key cardinality scales with time-span/bucket_s, so
    hot keys spread across their time range; pick ``bucket_s`` near the
    typical interval length (bucket fan-out stays O(1) per interval).
    Plan pinned nested-loop-free in tests/test_asof.py.
    """
    keys: List[str] = [on] if isinstance(on, str) else list(on)
    rpay = [c for c in right.columns if c not in keys]

    lb = F.floor(F.unix_micros(F.col(left_ts).cast("timestamp"))
                 / (bucket_s * 1_000_000))
    l = left.withColumn("_bucket", lb.cast("long"))
    rs = F.floor(F.unix_micros(F.col(right_start).cast("timestamp"))
                 / (bucket_s * 1_000_000))
    re = F.floor(F.unix_micros(F.col(right_end).cast("timestamp"))
                 / (bucket_s * 1_000_000))
    r = (right
         .withColumn("_bucket", F.explode(F.sequence(rs.cast("long"),
                                                     re.cast("long"))))
         .select(*keys, "_bucket",
                 *[F.col(c).alias(right_prefix + c) for c in rpay]))

    j = l.join(r, on=keys + ["_bucket"])
    return (j.filter(F.col(left_ts).between(F.col(right_prefix + right_start),
                                            F.col(right_prefix + right_end)))
            .drop("_bucket"))
