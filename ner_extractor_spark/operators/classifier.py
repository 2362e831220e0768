"""Model-based quality scoring: a hashed linear text classifier —
the fastText / FineWeb-classifier SHAPE (hashing-trick features ×
linear weights → sigmoid) as a pure DataFrame pipeline.

This is the production infrastructure for classifier-based corpus
gating (educational-value / wiki-likeness / toxicity scorers): terms
hash into ``n_buckets`` feature ids, a (bucket, w) weight table joins
in (broadcast — the weight table is the model and is bounded by
n_buckets), per-document mean feature weight + bias goes through a
sigmoid, and the gate thresholds the probability.  Real trained
weights load as an ordinary two-column DataFrame; the default synthetic
weights are md5-derived exactly like ``ner.linear_tag_words``'s (the
repo's established no-torch discipline), so every stage is
deterministic, engine-portable, and DuckDB-oracle-checkable end to end
(query ``text_quality_classifier``).

Scale shape: explode terms -> project bucket (no shuffle) ->
broadcast-join weights -> one groupBy(doc) aggregation.  The only
exchange is the per-document mean — keyed on the maximal-cardinality
doc id, skew-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import normalize_text

N_BUCKETS = 1024


def _fold8(col):
    """First 8 md5 hex chars -> long (engine-portable hash)."""
    return F.conv(F.substring(col, 1, 8), 16, 10).cast("long")


def term_bucket(term_col, n_buckets: int = N_BUCKETS):
    """Hashing trick: term -> feature id in [0, n_buckets)."""
    return (_fold8(F.md5(term_col)) % n_buckets).cast("int")


def synthetic_weights(spark, n_buckets: int = N_BUCKETS,
                      seed: str = "qw") -> DataFrame:
    """(bucket, w) with w in [-1, 1): md5-derived stand-in for trained
    weights (same posture as the md5 weight matrices of
    ``linear_tag_words``) — bit-reproducible in DuckDB.

    Weights are DYADIC rationals (k/1024): every value and every
    partial sum is exactly representable in binary, so the per-doc
    mean is identical across engines and summation orders — a k/1000
    quantization drifts in the last ulp and flips round(·, 6) at
    boundaries (caught by the oracle gate on 2/500 docs)."""
    b = F.col("id").cast("int")
    h = _fold8(F.md5(F.concat(F.lit(f"{seed}|"), b.cast("string"))))
    w = (h % 2048 - F.lit(1024)) / F.lit(1024.0)
    return spark.range(n_buckets).select(b.alias("bucket"), w.alias("w"))


def classify_docs(docs: DataFrame, weights: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  bias: float = 0.0, threshold: float = 0.5,
                  n_buckets: int = N_BUCKETS) -> DataFrame:
    """(doc_id, n_terms, score, prob, keep): score = mean feature
    weight + bias over the document's normalized terms, prob =
    sigmoid(score), keep = prob >= threshold.

    TOTAL over the input (ADVICE r04): every input document gets
    exactly one output row.  Missing buckets (never-seen features)
    contribute weight 0, so an out-of-vocabulary document scores the
    bias; a ZERO-TERM document (empty / whitespace-only text) also
    scores the bias with n_terms = 0 — the aggregate is seeded from
    the docs side via a left join, so such documents cannot silently
    vanish from downstream verdict joins.
    """
    ids = docs.select(F.col(id_col).alias("doc_id"))
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " "))
        .alias("term")).filter(F.col("term") != "")
    feat = toks.select("doc_id",
                       term_bucket(F.col("term"), n_buckets).alias("bucket"))
    scored = feat.join(F.broadcast(weights), on="bucket", how="left")
    agg = (scored.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("_n"),
                F.avg(F.coalesce(F.col("w"), F.lit(0.0))).alias("_avg")))
    total = (ids.join(agg, on="doc_id", how="left")
             .select("doc_id",
                     F.coalesce(F.col("_n"), F.lit(0)).alias("n_terms"),
                     F.round(F.coalesce(F.col("_avg"), F.lit(0.0))
                             + F.lit(bias), 6).alias("score")))
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("score"))), 6)
    return total.select("doc_id", "n_terms", "score", prob.alias("prob"),
                        (prob >= threshold).alias("keep"))


def doc_features(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 n_buckets: int = 64) -> DataFrame:
    """(doc_id, bucket, cnt): integer hashed-term count features plus a
    constant bias feature at bucket -1 (cnt 1 for every document, even
    zero-term ones) — the training-side twin of ``classify_docs``'s
    feature map, kept INTEGER so the whole training loop stays exact
    (see train_perceptron)."""
    ids = docs.select(F.col(id_col).alias("doc_id"))
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " "))
        .alias("term")).filter(F.col("term") != "")
    feat = (toks.select("doc_id",
                        term_bucket(F.col("term"), n_buckets).alias("bucket"))
            .groupBy("doc_id", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))
    bias = ids.select("doc_id", F.lit(-1).alias("bucket"),
                      F.lit(1).cast("long").alias("cnt"))
    return feat.unionByName(bias)


def train_perceptron(docs: DataFrame, labels: DataFrame, *,
                     n_buckets: int = 64, n_rounds: int = 3,
                     lr_den: int = 1024,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Learn (bucket, w) classifier weights IN Spark (VERDICT r05 #6:
    the synthetic weights are a stand-in; the fastText/FineWeb shape
    needs learned ones) — a fixed-round distributed batch perceptron
    over the integer hashed features, the deterministic-iterative-job
    discipline of ``bpe_train``.

    Why perceptron rather than logistic GD: every quantity stays a
    DYADIC rational — features are integer counts, the per-round
    gradient is an integer sum (±cnt over misclassified docs), and the
    update is grad/``lr_den`` with a power-of-two denominator — so
    every margin, gradient, and weight is binary-exact, summation-
    order-independent, and bit-reproducible in the DuckDB oracle
    (query ``classifier_train``; the k/1024 dyadic lesson of
    ``synthetic_weights``).  A logistic sigmoid would make each round
    transcendental and the k-round compounding engine-divergent.

    Round r (classic batch perceptron, Rosenblatt; fastText's model
    class is the same linear-over-hashed-features): margin_d =
    Σ_b cnt_{d,b}·w_b (bias rides bucket -1); predict margin >= 0;
    for misclassified docs accumulate g_b = Σ ±cnt_{d,b} (+ for
    false-negatives, − for false-positives); w += g/lr_den.

    ``labels`` is (doc_id, label) with label ∈ {0, 1} — e.g. the
    quality_filter verdict as a labeled proxy (kept vs dropped).

    Scale shape: the feature build is ONE corpus pass
    (localCheckpoint-ed — consumed twice per round); each round is two
    bounded aggregations — the margin agg keyed on the maximal-
    cardinality doc id and the gradient agg keyed on ≤ n_buckets+1
    buckets but map-side combined, so the gradient shuffle moves at
    most n_partitions × n_buckets rows; weight state is n_buckets+1
    rows, broadcast every round.  n_rounds is a hyperparameter, not
    data-dependent — the driver loop runs a fixed, bounded number of
    short jobs exactly like ``bpe_train`` / ``graph.pagerank``."""
    spark = docs.sparkSession
    feat = doc_features(docs, id_col, text_col,
                        n_buckets).localCheckpoint()
    # NOTE (r07, measured): do NOT localCheckpoint the label table —
    # its upstream is one cheap docs projection per round, and the
    # eager barrier job costs more than the n_rounds rescans it saves
    # (sf0.1: +0.6 s with the barrier).
    lab = labels.select(F.col(id_col).alias("doc_id"),
                        F.col("label").cast("int").alias("label"))
    w = spark.range(-1, n_buckets).select(
        F.col("id").cast("int").alias("bucket"),
        F.lit(0.0).alias("w"))
    for _ in range(n_rounds):
        margins = (feat.join(F.broadcast(w), "bucket")
                   .groupBy("doc_id")
                   .agg(F.sum(F.col("cnt") * F.col("w")).alias("margin")))
        signed = (F.when(F.col("label") == 1, F.col("cnt"))
                  .otherwise(-F.col("cnt")))
        grad = (feat.join(margins, "doc_id").join(lab, "doc_id")
                .filter((F.col("margin") >= 0) != (F.col("label") == 1))
                .groupBy("bucket")
                .agg(F.sum(signed).alias("g")))
        w = (w.join(grad, "bucket", "left")
             .select("bucket",
                     (F.col("w") + F.coalesce(F.col("g"), F.lit(0))
                      / F.lit(float(lr_den))).alias("w"))
             ).localCheckpoint()
    return w


def perceptron_scores(docs: DataFrame, weights: DataFrame, *,
                      n_buckets: int = 64,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(doc_id, margin, keep): the learned linear gate — margin =
    Σ cnt_b·w_b over the document's integer hashed features (bias at
    bucket -1), keep = margin >= 0.  Exact dyadic arithmetic end to
    end (the weights are k/lr_den rationals), so the consuming query
    is bit-reproducible cross-engine.  TOTAL over input: the bias
    feature guarantees every document a row.  One broadcast join +
    one doc-keyed aggregation."""
    feat = doc_features(docs, id_col, text_col, n_buckets)
    return (feat.join(F.broadcast(weights), "bucket")
            .groupBy("doc_id")
            .agg(F.round(F.sum(F.col("cnt") * F.col("w")), 6)
                 .alias("margin"))
            .select("doc_id", "margin",
                    (F.col("margin") >= 0).alias("keep")))


def calibrate_classifier_threshold(scored: DataFrame,
                                   keep_rate: float = 0.8,
                                   approx: bool = False) -> DataFrame:
    """1-row (cls_threshold): the probability cut that keeps the top
    ``keep_rate`` fraction of documents by classifier probability —
    the same corpus-derived-calibration posture as
    ``curation.calibrate_thresholds`` (VERDICT r04 #6: a 0.5 gate is a
    magic constant; a keep-rate target is an operating point).

    ``scored`` is ``classify_docs`` output (or any DataFrame with a
    ``prob`` column).  ``approx=False``: exact interpolated
    percentile, rounded to 6 so DuckDB's ``quantile_cont`` replays the
    identical cut — but the exact UDAF buffers every probability in
    ONE aggregation buffer (single-task O(corpus) memory, VERDICT r05
    #1); ``approx=True`` (the at-scale default) uses
    ``approx_percentile``'s mergeable bounded state — see
    functions/quantiles.  One 1-row global aggregate over a table the
    gate needs anyway."""
    from ner_extractor_spark.functions.quantiles import quantile_agg

    q = 1.0 - keep_rate
    return scored.agg(F.round(
        quantile_agg("prob", q, approx), 6)
        .alias("cls_threshold"))


def classify_docs_calibrated(docs: DataFrame, weights: DataFrame,
                             keep_rate: float = 0.8,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             bias: float = 0.0,
                             n_buckets: int = N_BUCKETS,
                             approx: bool = False) -> DataFrame:
    """``classify_docs`` with the threshold derived from the corpus'
    own probability distribution instead of a scalar: keep = prob >=
    the (1 - keep_rate) percentile.

    Single corpus pass (the discipline of VERDICT r04 #2): the score
    table is localCheckpoint-ed once and BOTH the percentile aggregate
    and the gated output read the materialized copy — without the
    barrier the explode → join → agg pipeline would run twice, once
    under each consumer.  The 1-row threshold then rides a broadcast
    cross join."""
    scored = classify_docs(docs, weights, id_col=id_col,
                           text_col=text_col, bias=bias,
                           n_buckets=n_buckets).localCheckpoint()
    thr = calibrate_classifier_threshold(scored, keep_rate=keep_rate,
                                         approx=approx)
    return (scored.drop("keep").crossJoin(F.broadcast(thr))
            .select("doc_id", "n_terms", "score", "prob",
                    (F.col("prob") >= F.col("cls_threshold")).alias("keep"),
                    "cls_threshold"))
