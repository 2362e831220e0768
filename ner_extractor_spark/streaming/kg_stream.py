"""Incremental KG construction over a page stream (SURVEY §2.11; north
rule: resumable).  Two pieces:

* ``dedup_pages_stream`` — streaming exact dedup: content-digest key +
  ``dropDuplicatesWithinWatermark`` so the dedup state is BOUNDED by the
  watermark horizon (an unbounded dropDuplicates would grow state
  forever on a web-scale feed).
* ``run_kg_stream`` — foreachBatch micro-batches running the SAME batch
  operators (extract → tag → triples), writing each batch
  ``mode("overwrite")`` into its own ``batch_id=N`` partition directory.
  foreachBatch is at-least-once; the per-batch overwrite makes retries
  idempotent, so the triples table is exactly-once end-to-end, and the
  streaming checkpoint gives cross-run resume — the streaming analog of
  plans/checkpoints.py's table-commit-then-manifest contract.

The batch/stream parity is pinned by tests/test_kg_stream.py: the
drained stream's triples equal ``extract_triples_local`` over the same
pages read as a batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import fingerprint


def dedup_pages_stream(pages_stream: DataFrame,
                       watermark: str = "2 hours",
                       text_col: str = "text") -> DataFrame:
    """Exact near-real-time dedup: first page per normalized-content
    digest wins; duplicates arriving within the watermark horizon are
    dropped, state older than the horizon is evicted."""
    return (pages_stream
            .withColumn("content_key", fingerprint(F.col(text_col)))
            .withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["content_key"])
            .drop("content_key"))


def run_kg_stream(pages_stream: DataFrame, dictionary: dict,
                  out_dir: str, checkpoint: str,
                  lang: str | None = "en", predicates=None,
                  use_html: bool = False) -> None:
    """Drain a pages stream through the batch KG operators, appending
    idempotent per-batch triple partitions under ``out_dir/triples_raw``
    (read back with ``spark.read.parquet(out_dir + '/triples_raw')`` —
    batch_id surfaces as a partition column).  ``use_html=True``
    extracts text from the html binary via the real markup-aware
    extractor (raw-crawl feeds where text is null), mirroring
    ``plans/kg_pipeline.run_kg_pipeline``."""
    from ..operators.extract import extract_sentences
    from ..operators.ner import tag_sentences
    from ..operators.triples import DEFAULT_PREDICATES, extract_triples_local

    preds = predicates or DEFAULT_PREDICATES

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        tagged = tag_sentences(
            extract_sentences(batch_df, lang=lang, use_html=use_html),
            dictionary)
        triples = extract_triples_local(tagged, predicates=preds)
        (triples.write.mode("overwrite")
         .parquet(f"{out_dir}/triples_raw/batch_id={batch_id}"))

    q = (pages_stream.writeStream
         .foreachBatch(process_batch)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def run_kg_delta_stream(pages_stream: DataFrame, dictionary: dict,
                        out_dir: str, checkpoint: str,
                        lang: str | None = "en", predicates=None,
                        use_html: bool = False,
                        export_nt: bool = False) -> None:
    """NOVEL-FACT delta stream — the incremental twin of
    ``kg_quality.snapshot_diff``: each micro-batch emits only the
    distinct (subj, pred, obj) facts the accumulated KG has NOT seen
    before, appended under ``out_dir/facts/batch_id=N``.  The union of
    all partitions IS the cumulative distinct KG; each partition is
    the answer to "what did this crawl increment teach us".

    Replay safety (foreachBatch is at-least-once): the prior-fact
    state read filters ``batch_id < N`` — partition pruning, so a
    replayed epoch never sees its own half-written partition — and the
    per-batch ``mode('overwrite')`` absorbs the rewrite.  State grows
    as the distinct-fact table, the same asymptotic state the batch KG
    itself carries; the anti-join keys on the triple identity.

    ``export_nt=True`` additionally serializes each increment as RDF
    N-Triples fact statements under ``out_dir/ntriples/batch_id=N``
    (sources/ntriples.py, facts-only mode) — the union of the batch
    dumps IS the cumulative KG's dump, because fact lines are 1:1
    with distinct facts and each fact is emitted by exactly the batch
    that first sees it (parity pinned in tests/test_kg_stream.py)."""
    import os

    from ..operators.extract import extract_sentences
    from ..operators.ner import tag_sentences
    from ..operators.triples import DEFAULT_PREDICATES, extract_triples_local

    preds = predicates or DEFAULT_PREDICATES
    facts_dir = f"{out_dir}/facts"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tagged = tag_sentences(
            extract_sentences(batch_df, lang=lang, use_html=use_html),
            dictionary)
        facts = (extract_triples_local(tagged, predicates=preds)
                 .select(F.col("subj_surface").alias("subj"), "pred",
                         F.col("obj_surface").alias("obj"))
                 .distinct())
        if os.path.isdir(facts_dir):
            prior = (spark.read.parquet(facts_dir)
                     .filter(F.col("batch_id") < batch_id)
                     .select("subj", "pred", "obj"))
            facts = facts.join(prior, on=["subj", "pred", "obj"],
                               how="left_anti")
        if export_nt:
            # the novel facts feed BOTH sinks — materialize once so
            # the tag->extract pipeline doesn't run twice per batch
            facts = facts.localCheckpoint()
        (facts.write.mode("overwrite")
         .parquet(f"{facts_dir}/batch_id={batch_id}"))
        if export_nt:
            from ..sources.ntriples import (to_ntriples,
                                            write_partitioned_lines)
            write_partitioned_lines(
                to_ntriples(facts, subj_col="subj", obj_col="obj"),
                f"{out_dir}/ntriples/batch_id={batch_id}")

    q = (pages_stream.writeStream
         .foreachBatch(process_batch)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
