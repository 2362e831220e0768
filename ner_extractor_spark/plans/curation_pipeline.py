"""End-to-end training-data assembly PLAN — the curation twin of
``plans/kg_pipeline`` (north rule: resumable from checkpoint with
per-partition lineage + metrics):

  docs -> web verdict (url gates + calibrated curation + classifier)
       -> kept survivors
       -> ExactSubstr span removal (Lee et al., optional)
       -> fixed-token chunks
       -> packed training bins (bucket-partitioned table)

Every stage writes a durable table via the StageManifest (resume =
skip stage; each write replaces that stage's per-partition lineage
file), so a
crashed 100 TB assembly restarts from its last finished stage instead
of re-running the verdict.  All stage logic is the declarative
operators from ``..operators`` — this module only sequences and
persists them.

Determinism note: every stage is a pure deterministic function of the
staged tables above it (md5-keyed sampling/packing, calibrated
thresholds from the corpus' own scores), so a resumed run is
byte-identical to an uninterrupted one — pinned in
tests/test_curation_pipeline.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.exact_substr import remove_exact_substrings
from ..operators.packing import chunk_documents, pack_sequences
from ..operators.web_verdict import full_web_verdict
from .checkpoints import StageManifest, write_stage


@dataclass
class CurationPipelineResult:
    verdict: DataFrame
    cleaned: DataFrame
    chunks: DataFrame
    packed: DataFrame


def run_curation_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    weights: DataFrame,
    work_dir: str,
    *,
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
    blocked_domains: tuple[str, ...] = (),
    blocked_terms: tuple[str, ...] = (),
    span_dedup: bool = True,
    span_n: int = 8,
    chunk_size: int = 64,
    budget: int = 500,
    n_buckets: int = 16,
    run_id: str = "run0",
    approx: bool = True,
    near: bool = False,
    cls_keep: DataFrame | None = None,
) -> CurationPipelineResult:
    """Assemble training data with durable, resumable stages.

    ``approx`` defaults to True here (unlike the oracle-parity
    operators): this is the PRODUCTION entry point, and the at-scale
    quantile mode is the right default where no DuckDB twin is being
    compared.  ``near=True`` adds the MinHash near-duplicate rule;
    ``cls_keep`` plugs a learned gate (e.g. ``perceptron_scores``)
    into the verdict; ``span_dedup=False`` skips the ExactSubstr
    stage (the stage is then simply absent from the manifest).

    Stage tables: ``verdict`` (doc_id, keep, reason), ``cleaned``
    (id, text, n_removed_tokens — or the kept originals when span
    dedup is off), ``chunks`` (chunk_uid, chunk_text), ``packed``
    (chunk_uid, bucket, bin, n_tokens; bucket-partitioned so
    per-bin training readers prune partitions — the Iceberg partition
    spec at production scale)."""
    if (blocked_domains or blocked_terms) and url_col not in docs.columns:
        raise ValueError(
            f"url blocklists need a {url_col!r} column on the input; "
            "drop --blocked-domain/--blocked-term for url-less corpora "
            "(the quality/dedup/LM/classifier rules still run)")
    man = StageManifest(work_dir)

    verdict = write_stage(
        man, "verdict",
        full_web_verdict(docs, weights, url_col=url_col, id_col=id_col,
                         text_col=text_col,
                         blocked_domains=blocked_domains,
                         blocked_terms=blocked_terms,
                         approx=approx, near=near, cls_keep=cls_keep),
        run_id=run_id)

    kept = docs.join(verdict.filter("keep").select(id_col), id_col)
    if span_dedup:
        cleaned = write_stage(
            man, "cleaned",
            remove_exact_substrings(kept, span_n, id_col=id_col,
                                    text_col=text_col),
            run_id=run_id)
    else:
        cleaned = write_stage(
            man, "cleaned",
            kept.select(F.col(id_col), F.col(text_col).alias("text"),
                        F.lit(0).alias("n_removed_tokens")),
            run_id=run_id)

    chunks = write_stage(
        man, "chunks",
        chunk_documents(cleaned, chunk_size=chunk_size, id_col=id_col,
                        text_col="text")
        .select(F.concat_ws("#", "doc_id", "chunk_id").alias("chunk_uid"),
                "chunk_text"),
        run_id=run_id)

    packed = write_stage(
        man, "packed",
        pack_sequences(chunks, budget=budget, n_buckets=n_buckets,
                       id_col="chunk_uid", text_col="chunk_text")
        .withColumnRenamed("doc_id", "chunk_uid"),
        partition_by=["bucket"], run_id=run_id)

    return CurationPipelineResult(verdict, cleaned, chunks, packed)
