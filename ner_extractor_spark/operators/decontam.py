"""Training-corpus decontamination — the eval-set n-gram overlap check
every LLM data pipeline runs before training (the GPT-3 appendix-C /
FineWeb procedure: flag any training document sharing at least one
word n-gram with a benchmark prompt/answer, then drop or audit it).

Spark-first shape: the EVAL side is tiny (benchmarks are thousands of
rows, not billions), so its distinct shingle table broadcasts; the
corpus side explodes its shingles once and semi-joins — one corpus
pass, no shuffle on the corpus side until the per-(doc, eval) count
aggregation, which keys on the maximal-cardinality pair.  This is the
``dup_ngram_fraction`` shingle shape with the document-frequency table
replaced by a broadcast benchmark.

n defaults to 8: the published range is 8 (FineWeb ablations) to 13
(GPT-3); lower n = stricter (more collisions).  Deterministic and
engine-portable — plain word shingles, DuckDB-oracle-checked
(query ``decontaminate``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import word_shingles


def contamination_pairs(docs: DataFrame, eval_docs: DataFrame, *,
                        n: int = 8,
                        id_col: str = "doc_id", text_col: str = "text",
                        eval_id_col: str = "eval_id",
                        eval_text_col: str = "text",
                        min_shared: int = 1) -> DataFrame:
    """(doc_id, eval_id, n_shared): every training document sharing
    >= ``min_shared`` distinct word ``n``-grams with an eval document,
    with the count of shared shingles — the audit table (who leaked
    what, from which benchmark row).

    A training doc shorter than ``n`` words yields its whole text as
    one shingle (the ``word_shingles`` convention), so exact copies of
    short benchmark rows are still caught.

    The benchmark shingle table is broadcast (typical suites are
    10³–10⁵ rows), so the corpus-sized shingle side never shuffles
    before the (doc, eval) aggregate."""
    corpus = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"))
    bench = eval_docs.select(
        F.col(eval_id_col).alias("eval_id"),
        F.explode(word_shingles(F.col(eval_text_col), n)).alias("shingle")
    ).distinct()
    return (corpus.join(F.broadcast(bench), on="shingle")
            .groupBy("doc_id", "eval_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def decontaminate(docs: DataFrame, eval_docs: DataFrame, *,
                  n: int = 8,
                  id_col: str = "doc_id", text_col: str = "text",
                  eval_id_col: str = "eval_id",
                  eval_text_col: str = "text",
                  min_shared: int = 1) -> DataFrame:
    """docs with contaminated rows REMOVED (left-anti against the
    flagged ids) — the drop policy; use ``contamination_pairs`` for
    the audit/down-weight policies."""
    flagged = (contamination_pairs(
        docs, eval_docs, n=n, id_col=id_col, text_col=text_col,
        eval_id_col=eval_id_col, eval_text_col=eval_text_col,
        min_shared=min_shared)
        .select(F.col("doc_id").alias(id_col)).distinct())
    return docs.join(flagged, on=id_col, how="left_anti")
