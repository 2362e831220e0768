"""`pages` corpus source (BASELINE.json input_hint shape).

Two providers:

  * ``pages_from_documents`` — maps the driver-generated
    ``documents.parquet`` (doc_id, text, lang, source, n_chars) into the
    canonical ``pages`` shape (FIXTURES.md §10) fully declaratively, so
    Catalyst can still prune/push down into the parquet scan.  The same
    derivation exists as a DuckDB SQL snippet in ``__spark_entry__.py``
    (PAGES_SQL) so oracle queries see identical rows.

  * ``read_pages`` — reads a materialized pages table (parquet dir or
    Iceberg identifier when a catalog is configured).  In production the
    table is Iceberg partitioned by days(warc_ts) + bucket(url); `html`
    lives in its own parquet column chunk so column pruning means the
    binary is never fetched unless asked for (SURVEY §4.2).

``latest_capture`` enforces the page key ``run_kg_pipeline`` assumes
(each ``url`` once) on any pages-shaped table; ``cli kg --pages`` and
``sources/warc.read_warc_pages`` both apply it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# Keep in lockstep with PAGES_SQL in __spark_entry__.py (oracle parity).
EPOCH = "2024-01-01 00:00:00"


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("synth://"), F.col("source"), F.lit("/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.to_timestamp(F.lit(EPOCH)) +
         F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body><p>"), F.col("text"),
                          F.lit("</p></body></html>")), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def latest_capture(pages: DataFrame) -> DataFrame:
    """One row per ``url``, the latest capture: the largest ``warc_ts``,
    on a tie the larger ``html`` (then the larger of the remaining
    columns, so the pick is deterministic).  Columns keep their order.
    One aggregation exchange."""
    rest = [c for c in pages.columns if c != "url"]
    order = ["warc_ts", "html"] + [c for c in rest
                                   if c not in ("warc_ts", "html")]
    return (pages.groupBy("url").agg(F.max(F.struct(*order)).alias("p"))
            .select("url", *[f"p.{c}" for c in rest]))


def read_pages(spark: SparkSession, location: str) -> DataFrame:
    """Read a materialized pages table (parquet path or catalog table)."""
    if "/" in location:
        return spark.read.parquet(location)
    return spark.read.table(location)
