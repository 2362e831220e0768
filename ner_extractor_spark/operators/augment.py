"""Entity-aware augmentation (SURVEY §2.9 G1-G3) — the reference's
"data-generation UDTF" (``src/augmentation.py:30-56``), distributed.

Semantics reproduced:
  * entity pool: spans per label collected across the corpus (A12);
  * per sentence, each span is independently considered for replacement
    (probability ``replace_prob``), capped at ``max_replacements``;
    a replacement identical to the original is skipped;
  * replacement splices new tokens with POS='NN', chunk='O', new BIO
    tags (G2); sentences with no replacement are dropped;
  * augmented rows carry ``loss_weight`` (G3, default 0.5).

Determinism redesign (SURVEY §4.3.2 — required for the N-vs-4N parity):
the reference's RNG is a single sequential ``random.Random(seed)``
whose draws depend on corpus scan order; that is irreproducible under
partitioning.  Here every stochastic choice is keyed by
``md5(seed | url | sent_id | span_start)``:
  * replace decision: first 8 hex digits as a uniform in [0,1);
  * pool pick: next 8 hex digits mod pool size.
Output is therefore invariant to partitioning AND SQL-reproducible
(the DuckDB oracle can recompute every choice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DENOM = float(0xFFFFFFFF)


def _u01(*cols):
    """Uniform [0,1) from md5 of the concatenated key parts."""
    h = F.md5(F.concat_ws("|", *cols))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / DENOM


def _pick(*cols):
    """Deterministic index hash (mod applied by caller)."""
    h = F.md5(F.concat_ws("|", *cols))
    return F.conv(F.substring(h, 9, 8), 16, 10).cast("long")


def build_entity_pool(mentions: DataFrame) -> DataFrame:
    """A12: distinct span token-lists per label, deterministically
    ordered (sorted by surface) so pool indices are stable."""
    return (
        mentions.select("label", F.split("surface", " ").alias("span_tokens"),
                        "surface")
        .distinct()
        .groupBy("label")
        .agg(F.array_sort(F.collect_set("surface")).alias("surfaces"))
    )


def entity_aware_augmentation(
    sentences_tagged: DataFrame,
    mentions: DataFrame,
    replace_prob: float = 0.3,
    max_replacements: int = 2,
    loss_weight: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """sentences (url, sent_id, tokens, + gold tags col `ner_tags` or
    `pred_tags`) × mentions -> augmented sentences.

    Returns (url, sent_id, tokens, ner_tags, loss_weight) — only rows
    where at least one span was replaced (reference drops no-op copies).
    """
    tags_col = ("ner_tags" if "ner_tags" in sentences_tagged.columns
                else "pred_tags")
    pool = build_entity_pool(mentions)

    # decide per mention: replace? pick which surface?
    m = (
        mentions
        .join(F.broadcast(pool), on="label")
        .withColumn("u", _u01(F.lit(str(seed)), "url", "sent_id",
                              F.col("start").cast("string")))
        .withColumn("pick_idx",
                    (_pick(F.lit(str(seed)), "url", "sent_id",
                           F.col("start").cast("string"))
                     % F.size("surfaces")).cast("int"))
        .withColumn("replacement", F.col("surfaces")[F.col("pick_idx")])
        .filter((F.col("u") <= replace_prob)
                & (F.col("replacement") != F.col("surface")))
    )
    # cap at max_replacements per sentence, lowest start first (the
    # reference iterates spans in order and stops at the cap)
    from pyspark.sql import Window
    w = Window.partitionBy("url", "sent_id").orderBy("start")
    m = (m.withColumn("rk", F.row_number().over(w))
         .filter(F.col("rk") <= max_replacements))

    picked = (
        m.groupBy("url", "sent_id")
        .agg(F.array_sort(F.collect_list(F.struct(
            F.col("start"), F.col("end"),
            F.col("label"), F.col("replacement")))).alias("repls"))
    )

    joined = sentences_tagged.join(picked, on=["url", "sent_id"], how="inner")

    # splice: walk the replacement list with aggregate(), emitting
    # (tokens, tags) — array surgery entirely in SQL HOFs (G2).
    splice = F.aggregate(
        F.col("repls"),
        F.struct(
            F.array().cast("array<string>").alias("toks"),
            F.array().cast("array<string>").alias("tags"),
            F.lit(0).alias("cursor"),
        ),
        lambda acc, r: F.struct(
            F.concat(
                acc["toks"],
                F.slice(F.col("tokens"), acc["cursor"] + 1,
                        r["start"] - acc["cursor"]),
                F.split(r["replacement"], " "),
            ).alias("toks"),
            F.concat(
                acc["tags"],
                F.slice(F.col(tags_col), acc["cursor"] + 1,
                        r["start"] - acc["cursor"]),
                F.concat(
                    F.array(F.concat(F.lit("B-"), r["label"])),
                    F.array_repeat(
                        F.concat(F.lit("I-"), r["label"]),
                        F.size(F.split(r["replacement"], " ")) - 1),
                ),
            ).alias("tags"),
            (r["end"] + 1).alias("cursor"),
        ),
        lambda acc: F.struct(
            F.concat(acc["toks"],
                     F.slice(F.col("tokens"), acc["cursor"] + 1,
                             F.greatest(F.size(F.col("tokens")) - acc["cursor"],
                                        F.lit(0)))).alias("toks"),
            F.concat(acc["tags"],
                     F.slice(F.col(tags_col), acc["cursor"] + 1,
                             F.greatest(F.size(F.col(tags_col)) - acc["cursor"],
                                        F.lit(0)))).alias("tags"),
            acc["cursor"].alias("cursor"),
        ),
    )

    return (
        joined.withColumn("_sp", splice)
        .select(
            "url", "sent_id",
            F.col("_sp.toks").alias("tokens"),
            F.col("_sp.tags").alias("ner_tags"),
            F.lit(loss_weight).alias("loss_weight"),
        )
    )
