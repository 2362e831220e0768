"""Incremental corpus curation (VERDICT r03 #8): the keep/drop verdict
of ``operators/curation.curate_corpus`` run per micro-batch with the
same idempotence discipline as ``run_kg_stream``.

Semantics — "model as of batch N" (documented, not hidden): the
corpus-level statistics the verdict composes (exact-dup keeper groups,
cross-doc shingle document frequencies, the char-trigram LM model, and
— when no frozen thresholds are passed — the calibration quantiles) are
computed over EACH BATCH'S documents alone.  That keeps every batch a
pure function of its own input, which is what makes at-least-once
replays absorbable: a replayed epoch rewrites its ``batch_id=N``
partition with byte-identical rows.  Cross-batch exact duplicates are
the job of the upstream bounded-state stream dedup
(``kg_stream.dedup_pages_stream``), not of this operator.

Production posture for thresholds: calibrate OFFLINE on a corpus
sample (``calibrate_thresholds``) and pass the frozen scalars here —
a per-batch recalibration makes the gate drift with batch composition,
which is occasionally wanted (adaptive gating) but usually not; both
modes are explicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.curation import calibrated_curation, curate_corpus


def run_curation_stream(docs_stream: DataFrame, out_dir: str,
                        checkpoint: str, *, id_col: str = "doc_id",
                        text_col: str = "text",
                        dup_threshold: float | None = None,
                        lm_threshold: float | None = None) -> None:
    """Drain a documents stream into idempotent per-batch verdict
    partitions under ``out_dir/verdicts`` (``batch_id`` surfaces as a
    partition column on read-back).

    Frozen scalar thresholds -> production gating; both ``None`` ->
    batch-local calibration (quantile cuts over the batch's own score
    distributions).  Passing only one of the two is ambiguous and
    rejected."""
    if (dup_threshold is None) != (lm_threshold is None):
        raise ValueError("pass both thresholds (frozen mode) or neither "
                         "(batch-local calibration)")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the verdict composes ~6 aggregations over the batch; pin the
        # micro-batch data once instead of re-scanning the source per
        # consumer (same barrier discipline as the batch operators)
        batch_df = batch_df.localCheckpoint()
        if batch_df.isEmpty():
            return
        if dup_threshold is None and lm_threshold is None:
            # single shared score pass between calibration and verdict
            # (VERDICT r04 #2 — same barrier as the batch path)
            verdict = calibrated_curation(
                batch_df, id_col=id_col, text_col=text_col)
        else:
            verdict = curate_corpus(
                batch_df, id_col=id_col, text_col=text_col,
                dup_threshold=dup_threshold, lm_threshold=lm_threshold)
        (verdict.write.mode("overwrite")
         .parquet(f"{out_dir}/verdicts/batch_id={batch_id}"))

    q = (docs_stream.writeStream
         .foreachBatch(process_batch)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def run_web_verdict_stream(docs_stream: DataFrame, weights: DataFrame,
                           out_dir: str, checkpoint: str, *,
                           url_col: str = "url", id_col: str = "doc_id",
                           text_col: str = "text",
                           blocked_domains: tuple[str, ...] = (),
                           blocked_terms: tuple[str, ...] = (),
                           cls_threshold: float = 0.5,
                           dup_threshold: float | None = None,
                           lm_threshold: float | None = None,
                           approx: bool = False,
                           near: bool = False,
                           perceptron_weights: DataFrame | None = None,
                           ) -> None:
    """The FULL web verdict — url gates → curation chain → classifier
    — per micro-batch (VERDICT r04 #7: the batch-only
    ``web_corpus_verdict`` composition, now streaming).

    Same semantics discipline as ``run_curation_stream``: every batch
    is a pure function of its own rows ("model as of batch N" — the
    corpus statistics, and the calibration when thresholds are None,
    come from the batch alone), so an at-least-once replay rewrites
    its ``batch_id=N`` partition byte-identically; frozen scalar
    thresholds are the production posture.  ``weights`` must be a
    batch-side DataFrame (the classifier model — bounded by
    n_buckets, broadcast inside ``classify_docs``).  Batch/stream
    parity and replay idempotence pinned in
    tests/test_curation_stream.py.

    r06 knobs, mirroring the batch operator: ``approx`` (the
    at-scale quantile mode — only meaningful with
    batch-local calibration) / ``near`` (per-batch MinHash
    near-duplicate rule — cross-batch near-dups are upstream stream
    dedup's job, same division of labor as exact dups);
    ``perceptron_weights`` is the TRAINED frozen gate (train offline
    with ``train_perceptron``, freeze the (bucket, w) table, gate
    every batch through ``perceptron_scores`` — the learned twin of
    the frozen-threshold posture)."""
    from ..operators.web_verdict import full_web_verdict
    if (dup_threshold is None) != (lm_threshold is None):
        raise ValueError("pass both thresholds (frozen mode) or neither "
                         "(batch-local calibration)")
    # the frozen gate's feature width derives from the weight table
    # ONCE (bucket -1 is the bias row), not per micro-batch
    n_b = (perceptron_weights.count() - 1
           if perceptron_weights is not None else 0)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()
        if batch_df.isEmpty():
            return
        gate = None
        if perceptron_weights is not None:
            from pyspark.sql import functions as F

            from ..operators.classifier import perceptron_scores
            gate = perceptron_scores(
                batch_df, perceptron_weights, n_buckets=n_b,
                id_col=id_col, text_col=text_col).select(
                F.col("doc_id").alias(id_col),
                F.col("keep").alias("cls_keep"))
        verdict = full_web_verdict(
            batch_df, weights, url_col=url_col, id_col=id_col,
            text_col=text_col, blocked_domains=blocked_domains,
            blocked_terms=blocked_terms, cls_threshold=cls_threshold,
            dup_threshold=dup_threshold, lm_threshold=lm_threshold,
            approx=approx, near=near, cls_keep=gate)
        (verdict.write.mode("overwrite")
         .parquet(f"{out_dir}/verdicts/batch_id={batch_id}"))

    q = (docs_stream.writeStream
         .foreachBatch(process_batch)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
