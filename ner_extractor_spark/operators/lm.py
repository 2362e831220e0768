"""Corpus-statistics text scoring: character-trigram language-model
scoring (CCNet-style perplexity filtering, the standard web-corpus
quality gate: score each document under a corpus-level n-gram model and
cut the tail) and TF-IDF salient-term extraction.

Spark-first shapes:

  * ``trigram_model`` — ONE pass: explode char trigrams, groupBy count.
    The key space is bounded by |alphabet|³ (not corpus size), so the
    map-side combine collapses each partition to at most that many rows
    — the shuffle is corpus-size-independent, and the finished model is
    broadcastable.
  * ``trigram_logprob`` — score = mean over the document's trigrams of
    ln((c(tri) + 1) / (N + D)) (add-one-smoothed unigram-over-trigrams
    model; N = total, D = distinct trigrams).  The model join is a
    broadcast (bounded table), the (N, D) normalizer rides a 1-row
    broadcast cross join — the only shuffle is the per-doc aggregation.

Deterministic and engine-portable: counts are exact integers and the
DuckDB oracle replays the same ln/avg to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import normalize_text


def char_trigrams(col, n: int = 3):
    """ALL character n-grams (with multiplicity) of the normalized
    text; a text shorter than n yields itself once."""
    t = normalize_text(col)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1))),
        lambda i: F.substring(t, i, F.lit(n)))


def trigram_model(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(tri, c) corpus counts — bounded by |alphabet|³ rows."""
    return (docs.select(F.explode(char_trigrams(F.col(text_col)))
                        .alias("tri"))
            .groupBy("tri").agg(F.count(F.lit(1)).alias("c")))


def trigram_logprob(docs: DataFrame, model: DataFrame,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(doc_id, n_tris, lm_score): mean smoothed trigram log-prob of
    each document under ``model`` — low scores = out-of-distribution
    text (gibberish, wrong language, encoding damage).

    The model join is a broadcast: the model is bounded by
    |alphabet|³ rows, so it ships to every executor and the corpus-
    sized trigram side is not shuffled for the join (the per-doc
    aggregate is the only shuffle).

    The model is localCheckpoint-ed: it feeds TWO consumers (the
    scoring join and the (N, D) normalizer aggregate), and Catalyst
    does not reuse the exchange between them (the join side plants an
    isnotnull filter the normalizer side lacks, so the canonical
    subtrees differ) — without a barrier the full corpus trigram
    explode+aggregate runs TWICE per scoring pass (measured: one model
    pass is ~40% of the whole scoring job at sf0.1).  The barrier
    materializes the BOUNDED (≤ |alphabet|³ rows) model once."""
    model = model.localCheckpoint()
    norm = model.agg(F.sum("c").alias("n_total"),
                     F.count(F.lit(1)).alias("n_distinct"))
    tris = docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(char_trigrams(F.col(text_col)))
                       .alias("tri"))
    scored = (tris.join(F.broadcast(model), on="tri", how="left")
              .crossJoin(F.broadcast(norm))
              .select("doc_id",
                      F.log((F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                            / (F.col("n_total") + F.col("n_distinct")))
                      .alias("lp")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tris"),
                 F.round(F.avg("lp"), 6).alias("lm_score")))


def ppl_buckets(docs: DataFrame, *, id_col: str = "doc_id",
                text_col: str = "text",
                lm: DataFrame | None = None,
                lo_q: float = 1 / 3, hi_q: float = 2 / 3,
                approx: bool = False) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (VERDICT r04 #4 —
    the standard companion of the LM gate): cut the corpus into three
    quality tiers by quantiles of the per-document trigram-LM score.

    ``lm_score`` is a mean log-prob, so HIGHER = better (lower
    perplexity): head = score >= the ``hi_q`` cut, tail = score <
    the ``lo_q`` cut, middle = between.  CCNet trains on head/middle
    and drops (or down-weights) tail; the bucket column is the mixing
    key ``packing.sample_mixture`` consumes.

    Returns per-document rows (doc_id, lm_score, bucket, lo_cut,
    hi_cut) — the cut values ride every row via a 1-row broadcast
    cross join so downstream audits see the calibration they were
    gated under.

    Single corpus pass: the score table is localCheckpoint-ed once and
    both the two-quantile aggregate and the bucket projection read the
    pinned copy (the ``calibrated_curation`` barrier discipline);
    pass ``lm=`` to reuse an externally computed score table (e.g.
    ``curation_scores``' lm half) — then this adds NO corpus pass at
    all.

    Cut modes (VERDICT r05 #1): ``approx=False`` = exact interpolated
    percentile rounded to 6 — the DuckDB ``quantile_cont`` twin
    replays the identical cuts, but Spark's exact percentile buffers
    the WHOLE corpus' scores in one aggregation buffer (single-task
    O(corpus-rows) memory — an OOM at 10⁹+ docs).  ``approx=True`` =
    ``approx_percentile`` (mergeable Greenwald-Khanna state, the
    at-scale default; see functions/quantiles)."""
    from ner_extractor_spark.functions.quantiles import quantile_agg

    if lm is None:
        lm = trigram_logprob(docs, trigram_model(docs, text_col=text_col),
                             id_col=id_col, text_col=text_col
                             ).localCheckpoint()
    cuts = lm.agg(
        F.round(quantile_agg("lm_score", lo_q, approx), 6)
        .alias("lo_cut"),
        F.round(quantile_agg("lm_score", hi_q, approx), 6)
        .alias("hi_cut"))
    bucket = (F.when(F.col("lm_score") >= F.col("hi_cut"), F.lit("head"))
              .when(F.col("lm_score") < F.col("lo_cut"), F.lit("tail"))
              .otherwise(F.lit("middle")))
    return (lm.crossJoin(F.broadcast(cuts))
            .select("doc_id", "lm_score", bucket.alias("bucket"),
                    "lo_cut", "hi_cut"))


def ppl_buckets_grouped(docs: DataFrame, group_col: str, *,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        lo_q: float = 1 / 3, hi_q: float = 2 / 3,
                        approx: bool = False) -> DataFrame:
    """``ppl_buckets`` with PER-GROUP calibration (CCNet calibrates
    per language; per-domain is the same shape): the quantile cuts
    come from each group's own score distribution, so a low-resource
    language's head/middle/tail is not defined by English's scores.

    Shape: one grouped percentile aggregate (group cardinality ≪
    corpus — languages or domains — and the aggregate is map-side
    combined) joined back on the group key.  The join-back broadcasts
    the cuts table (bounded by group cardinality).  Returns
    (doc_id, <group_col>, lm_score, bucket, lo_cut, hi_cut).

    NOTE the exact-percentile memory bound bites HARDEST here: the
    grouped aggregate buffers each GROUP's scores in one buffer, and a
    web corpus' dominant language group is corpus-sized — pass
    ``approx=True`` at scale (VERDICT r05 #1; see functions/quantiles
    and the ppl_buckets docstring)."""
    from ner_extractor_spark.functions.quantiles import quantile_agg

    lm = trigram_logprob(docs, trigram_model(docs, text_col=text_col),
                         id_col=id_col, text_col=text_col)
    lm = lm.join(
        docs.select(F.col(id_col).alias("doc_id"), group_col), "doc_id") \
        .localCheckpoint()
    cuts = lm.groupBy(group_col).agg(
        F.round(quantile_agg("lm_score", lo_q, approx), 6)
        .alias("lo_cut"),
        F.round(quantile_agg("lm_score", hi_q, approx), 6)
        .alias("hi_cut"))
    bucket = (F.when(F.col("lm_score") >= F.col("hi_cut"), F.lit("head"))
              .when(F.col("lm_score") < F.col("lo_cut"), F.lit("tail"))
              .otherwise(F.lit("middle")))
    return (lm.join(F.broadcast(cuts), group_col)
            .select("doc_id", group_col, "lm_score",
                    bucket.alias("bucket"), "lo_cut", "hi_cut"))


def tfidf_topk(docs: DataFrame, k: int = 5, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Top-k salient terms per document by smoothed TF-IDF
    (idf = ln((n_docs + 1) / (df + 1)) + 1, the sklearn smoothing).

    Shapes: tf/df are map-side-combined aggregations; the idf join runs
    as an ORDINARY shuffle join on term — a web corpus's vocabulary is
    billions of terms (never broadcastable), and the hot-term skew
    ("the"-class stopwords own huge tf partitions) is the AQE-skew-join
    / salt_explode case, same as every hot-key join in this repo.  The
    top-k window partitions by doc_id — maximal-cardinality key,
    skew-free.  Deterministic ties: score desc, then term asc.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " "))
        .alias("term")).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
            .crossJoin(F.broadcast(
                docs.agg(F.count(F.lit(1)).alias("n_docs"))))
            .select("term",
                    (F.log((F.col("n_docs") + F.lit(1.0))
                           / (F.col("df") + F.lit(1.0))) + F.lit(1.0))
                    .alias("idf")))
    scored = (tf.join(df_t, on="term")
              .select("doc_id", "term",
                      F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("doc_id", "term", "tfidf", "rank"))
