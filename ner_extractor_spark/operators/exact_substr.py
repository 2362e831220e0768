"""Span-level exact-duplicate detection — the ExactSubstr policy of
Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better"): find maximal VERBATIM token runs shared across documents and
remove the SPANS, not the documents.  Doc-level dedup misses the long
boilerplate tail (licenses, navigation, quoted chunks) that lives
inside otherwise-unique pages; span removal reclaims those documents.

The reference implementation is a single-node C++ suffix array; the
distributed formulation here is exact for runs >= ``n`` tokens without
any global suffix structure: a run of L >= n shared tokens is exactly
a run of L - n + 1 CONSECUTIVE shared token n-grams, so

  1. explode positional word n-grams (one corpus pass, with positions);
  2. keep n-grams whose document frequency >= ``min_df`` (the
     shingle-df shape of dup_ngram_fraction — map-side combined,
     no pairwise join);
  3. per document, merge consecutive duplicated positions into maximal
     runs with the pos - row_number() sessionization idiom (window
     partitioned on the maximal-cardinality doc id — skew-free).

Every shuffle keys on the n-gram or the doc id; the df table is
corpus-vocabulary-bounded.  Deterministic, engine-portable (md5 gram
keys), DuckDB-oracle-checked (query ``dedup_exact_spans``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import normalize_text


def _positional_grams(docs: DataFrame, n: int, id_col: str,
                      text_col: str) -> DataFrame:
    """(doc_id, pos, g): 64-bit hash of the word n-gram starting at
    pos (0-based), for every position; docs shorter than n yield none.

    r07 (guide §2.3 narrower types): the gram key is INTERNAL — it
    never reaches any output, only the df profile and the join-back —
    so it is xxhash64 (8 bytes) rather than the md5 hex string
    (32 chars ≈ 40+ bytes): the corpus-token-sized gram table, its
    localCheckpoint/stage materialization and the df shuffle all
    shrink ~4x.  (Engine-portable md5 is required only where the
    ORACLE must replay the same hash VALUES — winnow fingerprints,
    minhash signatures; here both engines just need their own
    equality key.)  Collisions follow the birthday bound: G distinct
    grams give about G²/2⁶⁵ expected colliding pairs — ≈0.03 at
    G = 10⁹, but ≈2.7·10⁴ at G = 10¹².  A collision can lift a unique
    gram to df >= ``min_df`` and flag a non-duplicate span."""
    toks = F.split(normalize_text(F.col(text_col)), " ")

    def grams(tl):
        return F.transform(
            F.sequence(F.lit(1), F.size(tl) - (n - 1)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(tl, i, n))))

    staged = docs.select(F.col(id_col).alias("doc_id"),
                         F.when(F.size(toks) >= n,
                                F.get(F.transform(F.array(toks), grams), 0))
                         .otherwise(F.array().cast("array<bigint>"))
                         .alias("_g"))
    return staged.select(
        "doc_id", F.posexplode_outer("_g").alias("pos", "g")) \
        .filter(F.col("g").isNotNull())


def exact_substring_spans(docs: DataFrame, n: int = 8, *,
                          min_df: int = 2,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          stage_dir: str | None = None) -> DataFrame:
    """(doc_id, start, end, n_tokens): maximal token spans [start, end]
    (0-based, inclusive) whose every ``n``-gram occurs in >= ``min_df``
    documents — i.e. verbatim content of length >= n shared across the
    corpus.  A span of length L covers L - n + 1 duplicated gram
    positions; adjacent duplicated positions merge into one maximal
    span (two runs separated by even one unique token stay separate).

    ``min_df`` counts DISTINCT documents, so within-doc repetition
    alone does not flag a span (that is ``text_repetition``'s job).

    Barrier posture (VERDICT r05 #2): the positional-gram table is ONE
    ROW PER CORPUS TOKEN — the largest intermediate in this repo, far
    beyond the per-doc score tables the localCheckpoint discipline was
    sized for.  The default localCheckpoint is right at sandbox scale
    (it stops the explode re-running for the two consumers: df
    profile + join-back); for beyond-memory corpora pass
    ``stage_dir=`` — the gram table is then persisted as a parquet
    stage (``plans/checkpoints.write_stage``: durable, resumable,
    never resident in executor storage) and both consumers read the
    files, the same durable-barrier swap ``winnow_matches`` documents
    for its exploded fingerprint table.
    """
    grams = _positional_grams(docs, n, id_col, text_col)
    if stage_dir is not None:
        from ner_extractor_spark.plans.checkpoints import (StageManifest,
                                                           write_stage)
        grams = write_stage(StageManifest(stage_dir), "positional_grams",
                            grams)
    else:
        # two consumers (df profile + join-back) — one barrier, the
        # winnow_matches discipline; see the docstring for the
        # durable-stage alternative at corpus scale
        grams = grams.localCheckpoint()
    hot = (grams.groupBy("g")
           .agg(F.count_distinct("doc_id").alias("df"))
           .filter(F.col("df") >= min_df)
           .select("g"))
    dup = grams.join(hot, on="g").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup.withColumn("_grp", F.col("pos") - F.row_number().over(w))
    return (runs.groupBy("doc_id", "_grp")
            .agg(F.min("pos").alias("start"),
                 (F.max("pos") + F.lit(n - 1)).alias("end"))
            .select("doc_id", "start", "end",
                    (F.col("end") - F.col("start") + 1).alias("n_tokens")))


def remove_exact_substrings(docs: DataFrame, n: int = 8, *,
                            min_df: int = 2,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """docs with every flagged span deleted from ``text_col`` (tokens
    outside any span survive, order preserved) — the Lee et al.
    removal policy.  Returns (id_col, text, n_removed_tokens).

    Shape: spans collect per doc (bounded: spans per doc ≪ tokens),
    join back on the doc id, and a token-level HOF filter drops
    positions covered by any span — no extra corpus explode."""
    spans = (exact_substring_spans(docs, n, min_df=min_df,
                                   id_col=id_col, text_col=text_col)
             .groupBy("doc_id")
             .agg(F.collect_list(F.struct("start", "end")).alias("spans")))
    toks = F.split(normalize_text(F.col(text_col)), " ")
    d = (docs.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
         .join(spans, on="doc_id", how="left")
         .withColumn("spans", F.coalesce(
             "spans", F.array().cast("array<struct<start:int,end:int>>")))
         )
    kept = F.filter(
        F.transform("_t", lambda x, i: F.struct(x.alias("x"),
                                                i.alias("i"))),
        lambda s: ~F.exists(
            "spans", lambda sp: (s["i"] >= sp["start"])
            & (s["i"] <= sp["end"])))
    return d.select(
        F.col("doc_id").alias(id_col),
        F.array_join(F.transform(kept, lambda s: s["x"]), " ")
        .alias("text"),
        (F.size("_t") - F.size(kept)).alias("n_removed_tokens"))
