"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (KG pipeline stages, dedup/similarity/text-analysis ops,
and the relational operator inventory), each with a DuckDB oracle in
`oracle_sql()` computing the identical result on the same parquet.

Engine-portability discipline: every pseudo-random or hashed value is
md5-based (identical in Spark and DuckDB); every float output is
round()-ed; every aggregate is aliased the same on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

SF_DEFAULT = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# Shared fixtures: gazetteer / predicates / aliases (tiny broadcast dims)
# ---------------------------------------------------------------------------

# (tokens..., label); chosen so no two entries can overlap in text ->
# longest-match greedy == all-matches (the SQL-oracle-friendly regime).
GAZ = {
    ("spark",): "ORG",
    ("window",): "MISC",
    ("stream",): "MISC",
    ("customer", "join"): "ALGO",
    ("table", "hash"): "ALGO",
}
# gold-variant gazetteer for the P/R scoring query: 'stream' unknown to
# gold (our preds on it = FP), 'merge group' only in gold (= FN).
GAZ_GOLD = {
    ("spark",): "ORG",
    ("window",): "MISC",
    ("customer", "join"): "ALGO",
    ("table", "hash"): "ALGO",
    ("merge", "group"): "ALGO",
}
PREDICATES = ["sort", "filter", "agg"]

# allow-listed triple signatures for the kg_triples_typed schema gate
KG_TYPE_CONSTRAINTS = [("agg", "MISC", "MISC"), ("sort", "ORG", "MISC"),
                       ("filter", "MISC", "ORG"), ("agg", "ORG", "ORG"),
                       ("sort", "ALGO", "MISC"), ("agg", "ALGO", "MISC")]

ALIASES = [
    ("spark", "Q-1", "ORG", 1.0),
    ("spark", "Q-1B", "ORG", 0.5),          # ambiguity: lower prior loses
    ("customer join", "Q-2", "ALGO", 1.0),
    ("table hash", "Q-3", "ALGO", 1.0),
    ("window", "Q-4", "MISC", 1.0),
    ("stream", "Q-5", "MISC", 1.0),
]

ANN_QUERY_IDS = [1, 5, 9]
CMS_TERMS = ["the", "and", "data", "spark", "zz-absent-term"]
# global footer planted by the text_boilerplate query (df = every doc)
BOILER_FOOTER = "(c) example.org - all rights reserved"

# ---------------------------------------------------------------------------
# Spark-side shared builders
# ---------------------------------------------------------------------------


def _spread(spark: SparkSession, df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition a tiny single-file input across the cluster —
    and a literal PASSTHROUGH when the scan already has enough input
    files to feed every core (the production shape), so no shuffle is
    ever injected at real scale.

    The sandbox sf tables are one parquet file = one input split; without
    the repartition every map-heavy stage runs on a single task no matter
    how many cores exist.

    Also ships the package to executors: the caller's SparkSession may
    not have been built by ner_extractor_spark.session.get_spark, and
    Python workers don't inherit the driver's sys.path."""
    from ner_extractor_spark.session import _ship_package
    _ship_package(spark)
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= spark.sparkContext.defaultParallelism:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism, F.col(key))


def _pages(spark: SparkSession, sf: str) -> DataFrame:
    from ner_extractor_spark.sources.pages import pages_from_documents
    return _spread(spark, pages_from_documents(spark, sf), "url")


def _sentences(spark: SparkSession, sf: str) -> DataFrame:
    from ner_extractor_spark.operators.extract import extract_sentences
    return extract_sentences(_pages(spark, sf), lang="en")


def _tagged(spark: SparkSession, sf: str, gaz=None) -> DataFrame:
    from ner_extractor_spark.operators.ner import tag_sentences
    return tag_sentences(_sentences(spark, sf), gaz or GAZ)


def _mentions(spark: SparkSession, sf: str, gaz=None) -> DataFrame:
    from ner_extractor_spark.operators.spans import extract_mentions
    return extract_mentions(_tagged(spark, sf, gaz))


def _aliases_df(spark: SparkSession) -> DataFrame:
    from ner_extractor_spark.schemas import ALIASES as ALIAS_SCHEMA
    return spark.createDataFrame(ALIASES, schema=ALIAS_SCHEMA)


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return _spread(spark, spark.read.parquet(f"{sf}/documents.parquet"), "doc_id")


def _emb(spark: SparkSession, sf: str) -> DataFrame:
    return _spread(
        spark,
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>")),
        "vec_id")


def _events(spark: SparkSession, sf: str) -> DataFrame:
    return _spread(spark, spark.read.parquet(f"{sf}/events.parquet"), "event_id")


# ---------------------------------------------------------------------------
# DuckDB-side shared SQL (CTE prefix reused by the kg_* oracles)
# ---------------------------------------------------------------------------

# pages derivation — keep in lockstep with sources/pages.py
PAGES_SQL = """
pages AS (
  SELECT 'synth://' || source || '/' || CAST(doc_id AS VARCHAR) AS url,
         text, lang
  FROM documents
)"""

SENTS_SQL = PAGES_SQL + """,
sents AS (
  SELECT url, i - 1 AS sent_id, string_split(text, chr(10))[i] AS sent_text
  FROM pages, unnest(generate_series(1, len(string_split(text, chr(10))))) t(i)
  WHERE lang = 'en' AND len(string_split(text, chr(10))[i]) > 0
)"""

TOKS_SQL = SENTS_SQL + """,
toks AS (
  SELECT url, sent_id, i - 1 AS pos,
         string_split(sent_text, ' ')[i] AS tok
  FROM sents, unnest(generate_series(1, len(string_split(sent_text, ' ')))) t(i)
)"""


def _lp_rounds_sql(n_iter: int) -> str:
    """Unrolled synchronous label-propagation rounds (mirrors
    operators/graph.label_propagation round for round: mode label over
    neighbors, ties to the smallest label)."""
    parts = ["l0 AS (SELECT DISTINCT node, node AS label FROM adj)"]
    for k in range(1, n_iter + 1):
        parts.append(f"""l{k} AS (
  SELECT node, label FROM (
    SELECT a.node, l.label, count(*) AS n,
           row_number() OVER (PARTITION BY a.node
                              ORDER BY count(*) DESC, l.label) AS rn
    FROM adj a JOIN l{k - 1} l ON l.node = a.nbr
    GROUP BY a.node, l.label)
  WHERE rn = 1)""")
    return ",\n".join(parts)


def _men_sql(gaz: dict) -> str:
    """Mentions CTE for a non-overlapping gazetteer: unigram matches plus
    lead()-paired bigram matches (equivalent to longest-match greedy
    because no two entries can overlap)."""
    uni = {k[0]: v for k, v in gaz.items() if len(k) == 1}
    big = {k: v for k, v in gaz.items() if len(k) == 2}
    uni_case = " ".join(
        f"WHEN tok = '{t}' THEN '{l}'" for t, l in sorted(uni.items()))
    big_case = " ".join(
        f"WHEN tok = '{a}' AND ntok = '{b}' THEN '{l}'"
        for (a, b), l in sorted(big.items()))
    return TOKS_SQL + f""",
tl AS (
  SELECT url, sent_id, pos, tok,
         lead(tok) OVER (PARTITION BY url, sent_id ORDER BY pos) AS ntok
  FROM toks
),
men AS (
  SELECT url, sent_id, pos AS start, pos + 1 AS "end",
         tok || ' ' || ntok AS surface,
         CASE {big_case} END AS label
  FROM tl WHERE CASE {big_case} END IS NOT NULL
  UNION ALL
  SELECT url, sent_id, pos AS start, pos AS "end", tok AS surface,
         CASE {uni_case} END AS label
  FROM tl WHERE CASE {uni_case} END IS NOT NULL
)"""


MEN_SQL = _men_sql(GAZ)


def _men_cte_only(gaz: dict, prefix: str) -> str:
    """Additional mention CTEs (referencing the existing `toks` CTE) for
    a second gazetteer in the same WITH block."""
    uni = {k[0]: v for k, v in gaz.items() if len(k) == 1}
    big = {k: v for k, v in gaz.items() if len(k) == 2}
    uni_case = " ".join(
        f"WHEN tok = '{t}' THEN '{l}'" for t, l in sorted(uni.items()))
    big_case = " ".join(
        f"WHEN tok = '{a}' AND ntok = '{b}' THEN '{l}'"
        for (a, b), l in sorted(big.items()))
    return f""",
{prefix}tl AS (
  SELECT url, sent_id, pos, tok,
         lead(tok) OVER (PARTITION BY url, sent_id ORDER BY pos) AS ntok
  FROM toks
),
{prefix}men AS (
  SELECT url, sent_id, pos AS start, pos + 1 AS "end",
         tok || ' ' || ntok AS surface,
         CASE {big_case} END AS label
  FROM {prefix}tl WHERE CASE {big_case} END IS NOT NULL
  UNION ALL
  SELECT url, sent_id, pos, pos, tok, CASE {uni_case} END
  FROM {prefix}tl WHERE CASE {uni_case} END IS NOT NULL
)"""

ALIAS_VALUES = ", ".join(
    f"('{a}', '{e}', '{t}', {p})" for a, e, t, p in ALIASES)

STOPWORD_SQL_SCORES = None  # built lazily in oracle_sql()


# ---------------------------------------------------------------------------
# queries(): name -> (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def _web_docs_with_urls(d: DataFrame) -> DataFrame:
    """documents + a deterministic synthetic url column (blocked-domain
    / blocked-term cases seeded by doc_id residues) — shared by the
    web_corpus_verdict and web_domain_keep_rates contract queries and
    mirrored verbatim by their oracles' ``uf`` CTE."""
    url = F.concat(
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("https://ads.tracker.test/doc/"))
        .when(F.col("doc_id") % 7 == 1,
              F.lit("https://sub.spam.example/doc/"))
        .otherwise(F.concat(F.lit("https://"), F.col("source"),
                            F.lit(".test/doc/"))),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 11 == 0, F.lit("/casino"))
        .otherwise(F.lit("")))
    return d.withColumn("url", url)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ner_extractor_spark.functions.text import (fingerprint, lang_id,
                                                    token_count)
    from ner_extractor_spark.operators.dedup import (exact_dedup,
                                                     minhash_lsh_pairs,
                                                     ngram_jaccard,
                                                     simhash_dedup)
    from ner_extractor_spark.operators.link import link_exact
    from ner_extractor_spark.operators.metrics import span_prf_df
    from ner_extractor_spark.operators.similarity import cosine_topk
    from ner_extractor_spark.operators.splits import (group_fold_rr,
                                                      hash_order,
                                                      random_subsample,
                                                      stratified_split)
    def kg_extract_sentences(spark, sf):
        return _sentences(spark, sf).select(
            "url", "sent_id", "sent_text",
            F.size("tokens").alias("n_tokens"))

    def kg_tokenize(spark, sf):
        return _sentences(spark, sf).select(
            "url", "sent_id",
            F.posexplode("tokens").alias("pos", "token"))

    def kg_mentions(spark, sf):
        return _mentions(spark, sf)

    def kg_mention_counts(spark, sf):
        return (_mentions(spark, sf).groupBy("label")
                .agg(F.count(F.lit(1)).alias("n")))

    def kg_surface_topk(spark, sf):
        return (_mentions(spark, sf)
                .groupBy("surface", "label").agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), "surface", "label").limit(10))

    def kg_label_vocab(spark, sf):
        return _mentions(spark, sf).select("label").distinct()

    def kg_entity_pool(spark, sf):
        return (_mentions(spark, sf).groupBy("label")
                .agg(F.countDistinct("surface").alias("n_surfaces")))

    def kg_primary_label(spark, sf):
        sents = _sentences(spark, sf).select("url", "sent_id")
        m = _mentions(spark, sf)
        w = Window.partitionBy("url", "sent_id").orderBy("start")
        first = (m.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") == 1).select("url", "sent_id", "label"))
        return (sents.join(first, ["url", "sent_id"], "left")
                .select("url", "sent_id",
                        F.coalesce("label", F.lit("O")).alias("primary_label")))

    def kg_sentence_stats(spark, sf):
        # A5: sentence-length describe per corpus
        s = _sentences(spark, sf).select(F.size("tokens").alias("n"))
        return s.agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.min("n").alias("min_len"),
            F.max("n").alias("max_len"),
            F.round(F.avg("n"), 4).alias("avg_len"),
        )

    def text_word_freq(spark, sf):
        # A3: lowercased word frequencies with a min-frequency cutoff
        d = _docs(spark, sf)
        return (d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
                .groupBy("w").agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") >= 50))

    def kg_triples(spark, sf):
        # fused zero-shuffle extractor (triple pairing is sentence-local)
        from ner_extractor_spark.operators.triples import extract_triples_local
        return extract_triples_local(_tagged(spark, sf),
                                     predicates=PREDICATES, max_gap=8)

    def kg_link_alias(spark, sf):
        linked = link_exact(_mentions(spark, sf), _aliases_df(spark))
        return (linked.groupBy("entity_id")
                .agg(F.count(F.lit(1)).alias("n_mentions")))

    def kg_link_alias_salted(spark, sf):
        # the SHIPPED beyond-broadcast configuration (north rule:
        # explicit salted repartitioning on surface-form keys): salt
        # sized from measured skew, shuffle-hash join on
        # (alias_norm, _salt) — same rows as the broadcast path, same
        # oracle (VERDICT r03 #4)
        from ner_extractor_spark.operators.link import link_exact_salted
        linked = link_exact_salted(_mentions(spark, sf), _aliases_df(spark))
        return (linked.groupBy("entity_id")
                .agg(F.count(F.lit(1)).alias("n_mentions")))

    def kg_nil_clusters(spark, sf):
        # NIL clustering: unlinkable surfaces -> char-3-gram MinHash-LSH
        # candidates -> connected components -> provisional NIL entity
        # ids (one KG node per unknown entity, not per spelling).
        # The sandbox alias dict covers every gazetteer surface, so the
        # query makes the step real: deterministic plural-typo variants
        # are added and the dict is reduced to two aliases — the
        # residual spellings must cluster with their base surfaces.
        from ner_extractor_spark.operators.link import nil_clusters
        m = _mentions(spark, sf)
        variants = (m.filter(F.col("sent_id") % 5 == 0)
                    .withColumn("surface", F.concat("surface", F.lit("s"))))
        reduced = _aliases_df(spark).filter(
            F.col("alias_norm").isin("spark", "customer join"))
        return nil_clusters(m.unionByName(variants), reduced)

    def _triples_df(spark, sf):
        from ner_extractor_spark.operators.triples import extract_triples_local
        return extract_triples_local(_tagged(spark, sf),
                                     predicates=PREDICATES, max_gap=8)

    def kg_triples_typed(spark, sf):
        # schema gate: only allow-listed (pred, subj_label, obj_label)
        # signatures reach the KG (broadcast constraint join)
        from ner_extractor_spark.operators.kg_quality import typed_triples
        return typed_triples(_triples_df(spark, sf), KG_TYPE_CONSTRAINTS)

    def kg_triple_pmi(spark, sf):
        # relation promotion signal: PMI of (subj, obj) co-occurrence
        from ner_extractor_spark.operators.kg_quality import triple_pmi
        return triple_pmi(_triples_df(spark, sf))

    def kg_negative_samples(spark, sf):
        # KG-embedding training negatives: md5-picked same-label object
        # corruption, k=2 per triple, accidental positives dropped
        from ner_extractor_spark.operators.kg_quality import negative_samples
        return negative_samples(_triples_df(spark, sf), k=2)

    def kg_triple_provenance(spark, sf):
        # the final KG fact rollup: distinct (subj, pred, obj) with
        # mention count, distinct-source count, first/last capture ts
        from ner_extractor_spark.operators.kg_quality import \
            triple_provenance
        return triple_provenance(_triples_df(spark, sf), _pages(spark, sf))

    def _triple_edges(spark, sf):
        from ner_extractor_spark.operators.triples import extract_triples_local
        tri = extract_triples_local(_tagged(spark, sf),
                                    predicates=PREDICATES, max_gap=8)
        return tri.select(F.col("subj_surface").alias("src"),
                          F.col("obj_surface").alias("dst"))

    def graph_pagerank(spark, sf):
        # entity salience over the subj->obj relation graph: fixed-round
        # damped PageRank, rank rounded per round (oracle-reproducible)
        from ner_extractor_spark.operators.graph import pagerank
        return pagerank(_triple_edges(spark, sf), n_iter=5, damping=0.85)

    def graph_degree(spark, sf):
        from ner_extractor_spark.operators.graph import degree_stats
        return degree_stats(_triple_edges(spark, sf))

    def graph_triangles(spark, sf):
        # per-node triangle participation over the entity graph
        # (oriented-edge join — each triangle closed exactly once)
        from ner_extractor_spark.operators.graph import triangle_count
        return triangle_count(_triple_edges(spark, sf))

    def skew_profile_surfaces(spark, sf):
        # heavy-hitter profile of the entity-surface-form key — the
        # exact skew key the north rule says to salt; sizes
        # link.salt_explode's k from data
        from ner_extractor_spark.operators.skew import key_skew_profile
        return key_skew_profile(_mentions(spark, sf), "surface", top_k=10)

    def graph_communities(spark, sf):
        # mode-label-propagation communities over the entity graph:
        # fixed synchronous rounds, smallest-label tie-break — the
        # oracle replays the identical trajectory round for round
        from ner_extractor_spark.operators.graph import label_propagation
        return label_propagation(_triple_edges(spark, sf), n_iter=4)

    def kg_viterbi_tags(spark, sf):
        # M3 decode exercised as a real Arrow stage, oracle-checked: the
        # recursive-CTE oracle replays the SAME dynamic program over
        # dyadic-rational scores, so path AND score match bit-for-bit
        from ner_extractor_spark.operators.ner import viterbi_tag_scores
        return viterbi_tag_scores(_sentences(spark, sf))

    def kg_tag_linear(spark, sf):
        # M1's full shape without torch (VERDICT r02 #4): tokenize
        # (fake_word_ids, truncation) -> batched numpy matmul forward
        # (md5-derived weights) -> Viterbi -> first-subword realign,
        # all inside one mapInArrow stage; scores are dyadic so the
        # recursive-CTE oracle matches bit for bit
        from ner_extractor_spark.operators.ner import linear_tag_words
        return linear_tag_words(_sentences(spark, sf))

    def kg_metrics_prf(spark, sf):
        pred = _mentions(spark, sf, GAZ)
        gold = _mentions(spark, sf, GAZ_GOLD)
        return span_prf_df(pred, gold)

    def kg_token_accuracy(spark, sf):
        # A10 accuracy: token-level tag agreement between the standard
        # and gold gazetteers (seqeval accuracy_score semantics)
        from ner_extractor_spark.operators.metrics import token_accuracy
        pred = _tagged(spark, sf, GAZ).select(
            "url", "sent_id", F.col("pred_tags"))
        gold = _tagged(spark, sf, GAZ_GOLD).select(
            "url", "sent_id", F.col("pred_tags").alias("gold_tags"))
        return token_accuracy(pred.join(gold, on=["url", "sent_id"]))

    def kg_metrics_per_type(spark, sf):
        from ner_extractor_spark.operators.metrics import per_type_report
        pred = _mentions(spark, sf, GAZ)
        gold = _mentions(spark, sf, GAZ_GOLD)
        return per_type_report(pred, gold)

    def cc_components(spark, sf):
        from ner_extractor_spark.operators.cc import connected_components
        d = _docs(spark, sf)
        w = Window.partitionBy("source").orderBy("doc_id")
        edges = (d.select("source", "doc_id",
                          F.lag("doc_id").over(w).alias("prev"))
                 .filter(F.col("prev").isNotNull())
                 .select(F.col("prev").alias("src"), F.col("doc_id").alias("dst")))
        # self-loops keep every document in the output even when its
        # source has a single doc (no lag edge) — matches the oracle's
        # every-document contract on any data shape (ADVICE r01)
        self_loops = d.select(F.col("doc_id").alias("src"),
                              F.col("doc_id").alias("dst"))
        return connected_components(edges.unionByName(self_loops))

    def dedup_exact_q(spark, sf):
        return exact_dedup(_docs(spark, sf))

    def dedup_minhash_pairs(spark, sf):
        return minhash_lsh_pairs(_docs(spark, sf))

    def dedup_jaccard(spark, sf):
        # r07: ONE corpus shingle pass shared between LSH candidate
        # generation and exact-Jaccard verification (the blocking_stats
        # discipline) — both consume the same materialized exploded
        # (doc_id, shingle) table
        from ner_extractor_spark.operators.dedup import word_shingles
        d = _docs(spark, sf)
        sh = d.select(
            F.col("doc_id"),
            F.explode(word_shingles(F.col("text"))).alias("shingle")
        ).localCheckpoint()
        return ngram_jaccard(d, minhash_lsh_pairs(d, shingles=sh),
                             shingles=sh)

    def dedup_resolve(spark, sf):
        from ner_extractor_spark.operators.dedup import resolve_duplicates
        d = _docs(spark, sf)
        return resolve_duplicates(d, minhash_lsh_pairs(d))

    def dedup_simhash(spark, sf):
        return simhash_dedup(_docs(spark, sf), max_hamming=2)

    def embedding_near_dups_q(spark, sf):
        # the LSH-banded scale path IS the verified default (16 hyperplane
        # bits in 4 bands of 4); exact n_planes=0 is an explicit audit
        # mode.  literal_planes ships the ±1 matrix as a broadcast
        # literal (one md5 per matrix cell total, not per vector×cell) —
        # bit-identical to the oracle's md5 reconstruction (r04, #5).
        from ner_extractor_spark.operators.dedup import embedding_near_dups
        return embedding_near_dups(_emb(spark, sf), threshold=0.4,
                                   n_planes=16, band_size=4,
                                   literal_planes=True, dim=64)

    def ann_topk(spark, sf):
        e = _emb(spark, sf)
        q = (e.filter(F.col("vec_id").isin(ANN_QUERY_IDS))
             .selectExpr("vec_id as qid", "embedding"))
        return cosine_topk(e, q, k=5)

    def ann_ivf_topk(spark, sf):
        # IVF scale path, oracle-checked: deterministic md5 centroids make
        # the entire cell-assignment + probe plan SQL-reproducible
        from ner_extractor_spark.operators.similarity import ivf_topk
        e = _emb(spark, sf)
        q = (e.filter(F.col("vec_id").isin(ANN_QUERY_IDS))
             .selectExpr("vec_id as qid", "embedding"))
        return ivf_topk(e, q, k=5, n_cells=16, n_probe=4)

    def ann_ivf_recall(spark, sf):
        # quality audit of the approximate path: recall@5 of IVF
        # (n_probe=4 of 16 cells) against the exact brute-force top-k,
        # per query vector — the metric that justifies shipping IVF
        from ner_extractor_spark.operators.similarity import ivf_topk
        e = _emb(spark, sf)
        q = (e.filter(F.col("vec_id").isin(ANN_QUERY_IDS))
             .selectExpr("vec_id as qid", "embedding"))
        exact = cosine_topk(e, q, k=5).select("qid", "vec_id")
        ivf = (ivf_topk(e, q, k=5, n_cells=16, n_probe=4)
               .select("qid", "vec_id").withColumn("hit", F.lit(1)))
        return (exact.join(ivf, on=["qid", "vec_id"], how="left")
                .groupBy("qid")
                .agg(F.count("hit").alias("n_matched"),
                     F.round(F.count("hit") / 5.0, 6).alias("recall_at_5")))

    def embed_kmeans_det(spark, sf):
        # M9 oracle-checked: deterministic Lloyd's (md5-picked init, 3
        # fixed rounds, centroids rounded per round — the trajectory is
        # engine-portable, unlike MLlib KMeans which stays rows-only)
        from ner_extractor_spark.operators.embed_viz import \
            kmeans_deterministic
        assigned, cents = kmeans_deterministic(_emb(spark, sf), k=8, n_iter=3)
        norm = F.round(F.sqrt(F.aggregate(
            F.transform("cv", lambda x: x * x),
            F.lit(0.0), lambda a, x: a + x)), 6)
        counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        return counts.join(cents.select("cell", norm.alias("c_norm")), "cell")

    def embed_pca_det(spark, sf):
        # M7 oracle-checked: power-iteration PCA with per-step rounding
        # (engine-portable trajectory; MLlib PCA stays the rows-only twin)
        from ner_extractor_spark.operators.embed_viz import pca_deterministic
        return pca_deterministic(_emb(spark, sf), n_components=2, n_iter=8)

    def embed_homogeneity(spark, sf):
        # A13 oracle-checked: homogeneity h = 1 - H(C|K)/H(C) over the
        # contingency of deterministic IVF cells (md5 centroids — fully
        # SQL-reproducible, unlike MLlib KMeans which stays rows-only as
        # embed_kmeans) vs the embeddings table's labels.
        from ner_extractor_spark.operators.similarity import (ivf_assign,
                                                              ivf_centroids)
        e = _emb(spark, sf)
        assigned = ivf_assign(e, ivf_centroids(e, 16))
        cont = (assigned.join(e.select("vec_id", "label"), "vec_id")
                .groupBy("cell", "label").agg(F.count(F.lit(1)).alias("n")))
        # H(C) = ln N - (Σ_c n_c ln n_c)/N ; H(C|K) = (Σ_k n_k ln n_k -
        # Σ_{c,k} n ln n)/N — three tiny aggregates, no collect
        s1 = cont.agg(F.sum("n").alias("n_total"),
                      F.sum(F.col("n") * F.log("n")).alias("s1"))
        s2 = (cont.groupBy("cell").agg(F.sum("n").alias("nk"))
              .agg(F.sum(F.col("nk") * F.log("nk")).alias("s2")))
        s3 = (cont.groupBy("label").agg(F.sum("n").alias("nl"))
              .agg(F.sum(F.col("nl") * F.log("nl")).alias("s3")))
        h_c = F.log("n_total") - F.col("s3") / F.col("n_total")
        h_ck = (F.col("s2") - F.col("s1")) / F.col("n_total")
        return (s1.crossJoin(s2).crossJoin(s3)
                .select(F.col("n_total").cast("long").alias("n_total"),
                        F.round(h_c, 6).alias("h_c"),
                        F.round(h_ck, 6).alias("h_ck"),
                        F.round(F.when(h_c > 0, F.lit(1.0) - h_ck / h_c)
                                .otherwise(F.lit(1.0)), 6).alias("homogeneity")))

    def text_quality(spark, sf):
        d = _docs(spark, sf)
        toks = F.split(F.trim(F.col("text")), r"\s+")
        return d.select(
            "doc_id",
            token_count(F.col("text")).alias("n_tokens"),
            F.round(F.size(F.array_distinct(toks)) /
                    F.greatest(F.size(toks), F.lit(1)), 6).alias("unique_ratio"),
            F.round(F.length("text") /
                    F.greatest(F.size(toks), F.lit(1)), 6).alias("mean_token_len"),
        )

    def text_fingerprint(spark, sf):
        return _docs(spark, sf).select(
            "doc_id", fingerprint(F.col("text")).alias("fp"))

    def text_boilerplate(spark, sf):
        # corpus-level line cleaning (CCNet-style): every page gets the
        # same global footer plus a per-source footer appended, so
        # df >= 2 must strip both (and any line shared by exact-
        # duplicate documents) while unique content lines survive in
        # their original order
        from ner_extractor_spark.operators.boilerplate import (
            strip_boilerplate_lines)
        aug = _docs(spark, sf).select(
            "doc_id",
            F.concat_ws(
                "\n", F.col("text"), F.lit(BOILER_FOOTER),
                F.concat(F.lit("from "), F.col("source"))).alias("text"))
        return strip_boilerplate_lines(aug, min_df=2)

    def sketch_cms(spark, sf):
        # deterministic count-min sketch (md5-keyed rows — the oracle
        # rebuilds the sketch cell for cell); estimates for a fixed
        # probe list, incl. an absent term
        from ner_extractor_spark.operators.sketch import (build_cms,
                                                          cms_estimate)
        toks = _docs(spark, sf).select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
            .alias("token"))
        terms = spark.createDataFrame(
            [(w,) for w in CMS_TERMS], "term string")
        return cms_estimate(build_cms(toks), terms)

    def sketch_bloom(spark, sf):
        # deterministic Bloom filter over the same token stream:
        # membership with guaranteed no-false-negatives; probes include
        # the absent sentinel (false unless an md5 collision, which the
        # oracle reproduces identically either way)
        from ner_extractor_spark.operators.sketch import (bloom_contains,
                                                          build_bloom)
        toks = _docs(spark, sf).select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
            .alias("token"))
        terms = spark.createDataFrame(
            [(w,) for w in CMS_TERMS], "term string")
        return bloom_contains(build_bloom(toks), terms)

    def corpus_curation(spark, sf):
        # the end-to-end keep/drop verdict: quality rules -> exact-dup
        # keeper -> cross-doc n-gram dup -> LM gate, first-violation
        # reason; thresholds DERIVED from this corpus' own score
        # distributions, with the score tables computed ONCE and
        # shared between calibration and verdict (VERDICT r04 #2)
        from ner_extractor_spark.operators.curation import \
            calibrated_curation
        return calibrated_curation(_docs(spark, sf))

    def curation_calibrate(spark, sf):
        # the calibration operator itself: exact interpolated quantile
        # cuts (p05 of LM scores, p95 of dup fractions) as a 1-row
        # broadcastable threshold table
        from ner_extractor_spark.operators.curation import \
            calibrate_thresholds
        return calibrate_thresholds(_docs(spark, sf))

    def text_dup_ngrams(spark, sf):
        # cross-document duplicate n-gram fraction (Gopher/RefinedWeb
        # quality signal) — between within-doc repetition and
        # whole-doc dedup in granularity
        from ner_extractor_spark.operators.dedup import dup_ngram_fraction
        return dup_ngram_fraction(_docs(spark, sf))

    def sketch_hll(spark, sf):
        # deterministic HyperLogLog registers over the same token
        # stream — the register table is integer-exact cross-engine;
        # the estimator (hll_estimate) is pytest-pinned vs true counts
        from ner_extractor_spark.operators.sketch import build_hll
        toks = _docs(spark, sf).select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
            .alias("token"))
        return build_hll(toks)

    def text_quality_filter(spark, sf):
        # Gopher-style hard-rule keep/drop with first-violation reason
        from ner_extractor_spark.functions.text import quality_filter
        keep, reason = quality_filter(F.col("text"))
        return _docs(spark, sf).select("doc_id", keep, reason)

    def text_repetition(spark, sf):
        # intra-document repetition (complements the inter-doc dedup_*)
        from ner_extractor_spark.functions.text import repetition_features
        dup, top = repetition_features(F.col("text"))
        return _docs(spark, sf).select("doc_id", dup, top)

    def text_pii(spark, sf):
        from ner_extractor_spark.functions.text import pii_counts
        return _docs(spark, sf).select("doc_id", *pii_counts(F.col("text")))

    def text_redact(spark, sf):
        # PII redaction (VERDICT r02 #5): chained regexp_replace over the
        # same patterns pii_counts counts; the value hash compares the
        # full redacted text byte-for-byte vs DuckDB, and the residual
        # counts ride along (zero on natural text)
        from ner_extractor_spark.functions.text import pii_counts, redact_pii
        red = _docs(spark, sf).select(
            "doc_id", redact_pii(F.col("text")).alias("redacted"))
        return red.select("doc_id", "redacted",
                          *pii_counts(F.col("redacted")))

    def text_token_stats(spark, sf):
        # build brief token counting: whitespace + BPE-ish regex pieces,
        # plus the stopword-hit ratio used by the quality filter
        from ner_extractor_spark.functions.text import (bpe_ish_token_count,
                                                        stopword_ratio)
        return _docs(spark, sf).select(
            "doc_id",
            token_count(F.col("text")).alias("n_ws_tokens"),
            bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
            F.round(stopword_ratio(F.col("text")), 6).alias("stop_ratio_en"),
        )

    def text_langid(spark, sf):
        return _docs(spark, sf).select(
            "doc_id", lang_id(F.col("text")).alias("detected"))

    def text_lang_confusion(spark, sf):
        d = _docs(spark, sf).select(
            "lang", lang_id(F.col("text")).alias("detected"))
        return (d.groupBy("lang", "detected").agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), "lang", "detected").limit(10))

    def text_lang_pivot(spark, sf):
        d = _docs(spark, sf).select(
            "lang", lang_id(F.col("text")).alias("detected"))
        return d.groupBy("lang").agg(
            F.sum(F.when(F.col("detected") == "en", 1).otherwise(0)).alias("n_en"),
            F.sum(F.when(F.col("detected") == "und", 1).otherwise(0)).alias("n_und"),
            F.count(F.lit(1)).alias("n_total"),
        )

    def agg_pricing_summary(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        return (li.filter(F.col("l_shipdate") <= "1998-09-01")
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                     F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
                     F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                     F.count(F.lit(1)).alias("n")))

    def join_orders_nation(spark, sf):
        o = spark.read.parquet(f"{sf}/orders.parquet")
        c = spark.read.parquet(f"{sf}/customer.parquet")
        n = spark.read.parquet(f"{sf}/nation.parquet")
        return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
                .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
                .groupBy("n_name")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.round(F.sum("o_totalprice"), 2).alias("revenue")))

    def window_running_value(spark, sf):
        ev = _events(spark, sf)
        w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return ev.select("event_id", "user_id",
                         F.round(F.sum("value").over(w), 4).alias("running"))

    def window_top3_per_user(spark, sf):
        ev = _events(spark, sf)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (ev.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= 3)
                .select("user_id", "event_id", "rn"))

    def topk_event_types(spark, sf):
        return (_events(spark, sf).groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), "event_type").limit(10))

    def sessionize(spark, sf):
        ev = _events(spark, sf)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
        gap = ts_us - F.unix_micros(F.lag(F.col("ts").cast("timestamp")).over(w))
        new_s = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
        return (ev.withColumn("new_s", new_s)
                .groupBy("user_id")
                .agg(F.sum("new_s").alias("n_sessions"),
                     F.count(F.lit(1)).alias("n_events")))

    def json_extract_props(spark, sf):
        ev = _events(spark, sf)
        k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("double")
        return (ev.groupBy("event_type")
                .agg(F.round(F.avg(k), 4).alias("avg_k"),
                     F.count(F.lit(1)).alias("n")))

    def join_asof(spark, sf):
        # as-of join (composition of built-ins, operators/asof.py): each
        # click matched to the user's latest view at-or-before it.  The
        # oracle is DuckDB's NATIVE ASOF LEFT JOIN — an independent
        # algorithm, not a mirror of our window construction.
        from ner_extractor_spark.operators.asof import asof_join
        ev = _events(spark, sf)
        clicks = ev.filter("event_type = 'click'").select(
            "event_id", "user_id", "ts")
        views = (ev.filter("event_type = 'view'")
                 .groupBy("user_id", "ts")
                 .agg(F.max("event_id").alias("view_event_id")))
        out = asof_join(clicks, views, on="user_id")
        return out.select("event_id", "user_id",
                          F.col("r_view_event_id").alias("view_event_id"))

    def join_range(spark, sf):
        # range join (bucketed equi-join + exact BETWEEN, operators/
        # asof.range_join): clicks inside the 5-minute window before an
        # error by the same user
        from ner_extractor_spark.operators.asof import range_join
        ev = _events(spark, sf)
        clicks = ev.filter("event_type = 'click'").select(
            "event_id", "user_id", "ts")
        errors = ev.filter("event_type = 'error'").select(
            F.col("event_id").alias("error_id"), "user_id",
            F.expr("ts - INTERVAL 5 MINUTES").alias("start_ts"),
            F.col("ts").alias("end_ts"))
        out = range_join(clicks, errors, on="user_id", bucket_s=300)
        return out.select("event_id", "user_id",
                          F.col("r_error_id").alias("error_id"))

    def stream_event_join(spark, sf):
        # the stream-stream watermarked join's batch twin (identical
        # condition; streamed==batch parity pinned in
        # tests/test_stream_join.py): attribute purchases to same-user
        # views within a 30-minute window
        from ner_extractor_spark.streaming.joins import \
            event_attribution_batch
        return event_attribution_batch(_events(spark, sf), within_s=1800)

    def stream_window_counts(spark, sf):
        ev = _events(spark, sf)
        return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.col("w.start").alias("window_start"), "event_type", "n"))

    def agg_percentiles(spark, sf):
        # EXACT interpolated percentiles (sort-based `percentile`, the
        # same linear-interpolation definition as DuckDB quantile_cont —
        # approx_percentile is the sketch variant, engine-specific)
        ev = _events(spark, sf)
        return ev.groupBy("event_type").agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
            F.count(F.lit(1)).alias("n"))

    def agg_rollup(spark, sf):
        # ROLLUP totals: (lang, source), per-lang subtotal, grand total
        d = _docs(spark, sf)
        return (d.rollup("lang", "source")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.round(F.avg(F.length("text")), 4).alias("avg_len")))

    def kfold_metric_summary(spark, sf):
        return (_events(spark, sf).groupBy("event_type").agg(
            F.round(F.avg("value"), 4).alias("mean"),
            F.round(F.stddev_pop("value"), 4).alias("stddev"),
            F.round(F.min("value"), 4).alias("min"),
            F.round(F.max("value"), 4).alias("max"),
            F.count("value").alias("count")))

    def split_stratified(spark, sf):
        return stratified_split(_docs(spark, sf), "lang", "doc_id",
                                val_ratio=0.2).select("doc_id", "lang", "split")

    def split_group_fold(spark, sf):
        return (group_fold_rr(_docs(spark, sf), "source", 5)
                .groupBy("source", "fold")
                .agg(F.count(F.lit(1)).alias("n_docs")))

    def sample_deterministic(spark, sf):
        d = random_subsample(_docs(spark, sf), "doc_id", 20)
        return d.select("doc_id",
                        hash_order(F.col("doc_id")).alias("h"))

    def sample_mixture(spark, sf):
        # data mixing: per-source dyadic fractions (exact in both
        # engines), md5-rank selection — the training-mixture recipe
        from ner_extractor_spark.operators.packing import mixture_sample
        out = mixture_sample(_docs(spark, sf),
                             {"src0": 0.5, "src1": 0.25,
                              "src2": 1.0, "src3": 0.125})
        return out.select("doc_id", "source")

    def pack_bins(spark, sf):
        # sequence packing: budget-quantized bins within md5 buckets;
        # per-bin doc counts + token sums
        from ner_extractor_spark.operators.packing import pack_sequences
        p = pack_sequences(_docs(spark, sf), budget=500, n_buckets=16)
        return (p.groupBy("bucket", "bin")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_tokens").alias("tok_sum")))

    def augment_entities(spark, sf):
        # G1-G3: entity-aware augmentation over the kg mentions.
        # ORACLE-CHECKED since r03: every stochastic choice is md5-keyed
        # (SQL-reproducible), and the splice walk re-expresses as a
        # per-piece reconstruction (kept tokens + replacement pieces
        # ordered by position) — semantics also pinned in
        # tests/test_augment.py
        from ner_extractor_spark.operators.augment import \
            entity_aware_augmentation
        tagged = _tagged(spark, sf)
        mentions = _mentions(spark, sf)
        out = entity_aware_augmentation(tagged, mentions, replace_prob=0.3)
        return out.select("url", "sent_id",
                          F.concat_ws(" ", "tokens").alias("aug_text"),
                          F.concat_ws(" ", "ner_tags").alias("aug_tags"),
                          "loss_weight")

    def embed_kmeans(spark, sf):
        # M9+A13: seeded KMeans clusters (MLlib-internal numerics -> no
        # cross-engine oracle; determinism pinned in tests/test_embed_viz)
        from ner_extractor_spark.operators.embed_viz import kmeans_clusters
        out = kmeans_clusters(_emb(spark, sf), k=8)
        return (out.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("n"))
                .select("cluster", "n"))

    def multimodal_features(spark, sf):
        # binary-column plumbing: html bytes -> deterministic features.
        # ORACLE-CHECKED since r03: the fake encoder is md5(payload)
        # bytes / 255, which DuckDB recomputes from the same html string
        # — only the real encoder kernel stays env-gated.  media_id is
        # the md5-folded url (xxhash64 is not engine-portable).
        from ner_extractor_spark.operators.multimodal import extract_features
        media = _pages(spark, sf).select(
            F.conv(F.substring(F.md5(F.col("url")), 1, 15), 16, 10)
            .cast("long").alias("media_id"),
            F.lit("image").alias("kind"),
            F.col("html").alias("payload"))
        f = extract_features(media)
        # NO round: 8 float32-quantized terms sum EXACTLY in double (27
        # mantissa bits needed), so the raw double is bit-identical in
        # both engines — a decimal round would reintroduce half-boundary
        # divergence between the engines' round implementations
        return f.select("media_id", "kind",
                        F.aggregate("feature", F.lit(0.0),
                                    lambda a, v: a + v)
                        .alias("feature_sum"))

    def multimodal_resize(spark, sf):
        # resize dimension algebra oracle-checked (synthetic dims derived
        # from text length; the pixel kernel itself is the env-gated part)
        from ner_extractor_spark.operators.multimodal import resize_images
        d = _docs(spark, sf)
        media = d.select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit(None).cast("binary").alias("payload"),
            F.lit("image/png").alias("mime"),
            (F.length("text") % 500 + 10).cast("int").alias("width"),
            (F.length("text") % 300 + 10).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"))
        return resize_images(media, max_side=64).select(
            "media_id", "out_width", "out_height")

    def text_trigram_lm(spark, sf):
        # CCNet-style LM quality gate: score every document under a
        # corpus-level char-trigram model (bounded-key count table,
        # broadcast join, one per-doc agg)
        from ner_extractor_spark.operators.lm import (trigram_logprob,
                                                      trigram_model)
        d = _docs(spark, sf)
        return trigram_logprob(d, trigram_model(d))

    def text_tfidf_topk(spark, sf):
        # salient-term extraction: smoothed TF-IDF, top-5 per doc;
        # vocab-bounded aggregations + broadcast idf, the only
        # corpus-row shuffle is the doc-keyed top-k window
        from ner_extractor_spark.operators.lm import tfidf_topk
        return tfidf_topk(_docs(spark, sf), k=5)

    def _link_pages(spark, sf):
        # planted hrefs per doc: per-source target with doc_id%17
        # fan-out + a shared hub with canonicalization noise + a
        # relative link that must drop
        d = _docs(spark, sf)
        html = F.encode(F.concat(
            F.lit('<html><body><a href="https://'), F.col("source"),
            F.lit('.Example/p/'), (F.col("doc_id") % 17).cast("string"),
            F.lit('/"></a>'),
            F.lit('<a href="https://hub.example:443/x?utm_source=t&b=1">'
                  '</a><a href="/relative/path"></a><p>'),
            F.col("text"), F.lit("</p></body></html>")), "UTF-8")
        return d.select(
            F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".test/doc/"),
                     F.col("doc_id").cast("string")).alias("url"),
            html.alias("html"))

    def web_link_graph(spark, sf):
        # domain link graph from raw html bytes:
        # decode -> regexp_extract_all -> canonical_url -> domain rollup
        from ner_extractor_spark.operators.weblinks import (
            domain_link_graph, extract_links)
        return domain_link_graph(extract_links(_link_pages(spark, sf)))

    def skew_profile_domains(spark, sf):
        # the OTHER skew key the north rule names: domain — profile the
        # dst side of the extracted link graph (the hub domain owns
        # half the edges by construction: a measured hot key)
        from ner_extractor_spark.functions.urls import canonical_url
        from ner_extractor_spark.operators.skew import key_skew_profile
        from ner_extractor_spark.operators.weblinks import (extract_links,
                                                            page_domain)
        links = extract_links(_link_pages(spark, sf))
        doms = (links.select(
            page_domain(canonical_url(F.col("href"))).alias("domain"))
            .filter(F.col("domain") != ""))
        return key_skew_profile(doms, "domain", top_k=5)

    def web_domain_authority(spark, sf):
        # domain authority: deterministic fixed-round PageRank composed
        # directly on the domain link graph — weblinks edges feed
        # graph.pagerank unchanged (weighted edges distinct to the
        # support set, same convention both engines)
        from ner_extractor_spark.operators.graph import pagerank
        edges = web_link_graph(spark, sf).select(
            F.col("src_domain").alias("src"),
            F.col("dst_domain").alias("dst"))
        return pagerank(edges, n_iter=5, damping=0.85)

    def url_canonicalize(spark, sf):
        # web-corpus hygiene: canonical per-url identity (fragment /
        # case / default-port / trailing-slash / utm + param-order
        # noise removed) — the key url-keyed dedup and byte-parity
        # contracts join on.  Messy inputs constructed deterministically
        # from doc fields so both engines canonicalize identical strings.
        from ner_extractor_spark.functions.urls import canonical_url
        d = _docs(spark, sf)
        messy = F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP://WWW.Ex.COM:80"))
            .otherwise(F.lit("HTTPS://Ex.org:443")),
            F.lit("/"), F.col("source"), F.lit("/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?utm_source=x&b="), (F.col("doc_id") % 5).cast("string"),
            F.lit("&a="), (F.col("doc_id") % 7).cast("string"),
            F.lit("#sec"), (F.col("doc_id") % 2).cast("string"))
        return d.select("doc_id", messy.alias("url_raw"),
                        canonical_url(messy).alias("url_canon"))

    def html_extract_text(spark, sf):
        # REAL markup-aware HTML extraction (VERDICT r03 #1): pages are
        # deterministically messied (script/style/head subtrees, tag
        # decoys inside comments and script strings, & < > e entity-
        # escaped text, nested blocks) and the extractor must actually
        # parse — skip subtrees, decode charrefs, map block tags to
        # line boundaries — to reproduce the oracle, which computes the
        # expected output from the CLEAN text.  A regex tag-strip fails
        # this query (script bodies leak, entities stay escaped).
        from ner_extractor_spark.operators.html import (html_to_text,
                                                        messy_html_expr)
        # whitespace-only docs are excluded BEFORE the UDF with a cheap
        # JVM predicate: filtering on the UDF *output* gets pushed below
        # the sandbox spread-Exchange and Catalyst then evaluates the
        # ArrowEvalPython stage TWICE (caught in PLANS.md review, r04).
        # A doc extracts to '' iff every char is ASCII whitespace —
        # regexp \s (not trim(), which is space-only) matches the
        # extractor's per-line Python strip and the oracle's trim set.
        p = _pages(spark, sf).filter(
            F.regexp_replace(F.col("text"), r"\s", "") != "")
        messy = p.select(
            "url", messy_html_expr(F.col("text"), F.col("url")).alias("html"))
        return messy.select("url", html_to_text(F.col("html")).alias("text"))

    def html_extract_meta(spark, sf):
        # head-metadata extraction (title / meta description /
        # canonical link) through the same real parser — attribute-
        # value charref decoding exercised via the escaped description
        from ner_extractor_spark.operators.html import (html_to_meta,
                                                        messy_html_expr)
        p = _pages(spark, sf)
        messy = p.select(
            "url", messy_html_expr(F.col("text"), F.col("url")).alias("html"))
        return messy.select(
            "url", html_to_meta(F.col("html")).alias("m")).select(
            "url", "m.title", "m.meta_description", "m.canonical")

    def web_url_filter(spark, sf):
        # RefinedWeb/C4-style corpus hygiene: blocklist domains (every
        # subdomain via the host-suffix-chain broadcast join) + blocked
        # url terms, first-violation reason codes
        from ner_extractor_spark.operators.webfilter import filter_urls
        d = _docs(spark, sf)
        url = F.concat(
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit("https://ads.tracker.test/doc/"))
            .when(F.col("doc_id") % 7 == 1,
                  F.lit("https://sub.spam.example/doc/"))
            .otherwise(F.concat(F.lit("https://"), F.col("source"),
                                F.lit(".test/doc/"))),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 11 == 0, F.lit("/casino"))
            .otherwise(F.lit("")))
        blocked = spark.createDataFrame(
            [("tracker.test",), ("spam.example",)], "domain string")
        return filter_urls(d.select(url.alias("url")), blocked, ["casino"])

    def text_quality_classifier(spark, sf):
        # model-based quality gating (fastText/FineWeb-classifier
        # shape): hashing-trick features x broadcast linear weights ->
        # sigmoid -> keep.  Weights are the md5-derived stand-in (real
        # trained weights load as the same two-column DataFrame).
        from ner_extractor_spark.operators.classifier import (
            classify_docs, synthetic_weights)
        return classify_docs(_docs(spark, sf), synthetic_weights(spark))

    def dedup_first_seen_q(spark, sf):
        # crawl-semantics exact dedup: FIRST capture wins (min (ts,url)
        # via one min(struct) aggregate — no window); batch twin of the
        # streaming watermark dedup
        from ner_extractor_spark.operators.dedup import dedup_first_seen
        return dedup_first_seen(_pages(spark, sf))

    def bpe_train(spark, sf):
        # tokenizer training: learn 6 BPE merge rules over the corpus
        # word-count table (iterative bounded-vocabulary job — the
        # pair-count state never scales with corpus size)
        from ner_extractor_spark.operators.bpe import train_bpe
        return train_bpe(_docs(spark, sf), n_merges=6)

    def bpe_encode_q(spark, sf):
        # tokenizer application: the 6 learned rules re-encode the
        # corpus (folds over the distinct-word table, one corpus join)
        from ner_extractor_spark.operators.bpe import bpe_encode, train_bpe
        d = _docs(spark, sf)
        rules = [(r["left"], r["right"])
                 for r in train_bpe(d, n_merges=6).collect()]
        return bpe_encode(d, rules)

    def bpe_fertility_q(spark, sf):
        # r06: per-language tokenizer fertility (tokens/word,
        # chars/token) under the learned merges — the tokenizer-quality
        # read that re-weights token-budgeted mixtures
        from ner_extractor_spark.operators.bpe import (bpe_fertility,
                                                       train_bpe)
        d = _docs(spark, sf)
        rules = [(r["left"], r["right"])
                 for r in train_bpe(d, n_merges=6).collect()]
        return bpe_fertility(d, rules)

    def profile_documents(spark, sf):
        # r06: Deequ-shape ingest profile of the documents table —
        # null rates / cardinality / bounds / width per column in ONE
        # aggregate pass (exact mode for oracle parity; approx=True is
        # the at-scale default, HLL++ instead of the n-column Expand)
        from ner_extractor_spark.operators.profile import profile_columns
        return profile_columns(_docs(spark, sf))

    def text_hashed_embed(spark, sf):
        # text->vector bridge: feature-hashed L2-normalized doc
        # embeddings.  CONTRACT SHAPE (VERDICT r04 #1): the operator
        # returns (doc_id, embedding array<double>), but the driver's
        # pandas canonicalizer cannot sort top-level arrays — so the
        # contract projects the per-component EXPLODED scalar rows
        # (doc_id, bucket, value); same information, driver-sortable.
        from ner_extractor_spark.operators.embed_text import \
            hashed_tf_embed
        return hashed_tf_embed(_docs(spark, sf), dim=32).select(
            "doc_id",
            F.posexplode("embedding").alias("bucket", "value")
        ).select("doc_id", "bucket",
                 F.round("value", 6).alias("value"))

    def text_winnow(spark, sf):
        # winnowing fingerprints (MOSS): guaranteed detection of
        # verbatim overlaps >= w+k-1 chars at ~2/(w+1) of the k-gram
        # cost; pure per-row HOFs, zero shuffle.  CONTRACT SHAPE
        # (VERDICT r04 #1): the sorted fingerprint set serializes to a
        # CSV string so no top-level array reaches the driver.
        from ner_extractor_spark.operators.dedup import \
            winnow_fingerprints
        return winnow_fingerprints(_docs(spark, sf)).select(
            "doc_id", "n_grams", "n_fingerprints",
            F.array_join(
                F.transform("fingerprints", lambda x: x.cast("string")),
                ",").alias("fingerprints_csv"))

    def text_ppl_buckets(spark, sf):
        # CCNet head/middle/tail perplexity bucketing (VERDICT r04 #4):
        # tier the corpus by quantile cuts over per-doc trigram-LM
        # scores; summary = bucket counts + the calibration cuts
        from ner_extractor_spark.operators.lm import ppl_buckets
        return (ppl_buckets(_docs(spark, sf))
                .groupBy("bucket", "lo_cut", "hi_cut")
                .agg(F.count(F.lit(1)).alias("n_docs"))
                .select("bucket", "n_docs", "lo_cut", "hi_cut"))

    def text_ppl_by_lang(spark, sf):
        # per-language LM tiering (the CCNet convention: each lang is
        # calibrated against its own score distribution) — grouped
        # percentile cuts joined back on the bounded group key
        from ner_extractor_spark.operators.lm import ppl_buckets_grouped
        return (ppl_buckets_grouped(_docs(spark, sf), "lang")
                .groupBy("lang", "bucket", "lo_cut", "hi_cut")
                .agg(F.count(F.lit(1)).alias("n_docs"))
                .select("lang", "bucket", "n_docs", "lo_cut", "hi_cut"))

    def text_classifier_calibrated(spark, sf):
        # classifier gate with a CALIBRATED operating point (VERDICT
        # r04 #6): threshold = the (1 - keep_rate) percentile of the
        # corpus' own probability distribution, not a 0.5 constant
        from ner_extractor_spark.operators.classifier import (
            classify_docs_calibrated, synthetic_weights)
        return classify_docs_calibrated(
            _docs(spark, sf), synthetic_weights(spark), keep_rate=0.8)

    def chunk_documents(spark, sf):
        # pretraining chunking: fixed-token sliding windows (size 64,
        # stride 48 — overlapping context) ahead of sequence packing;
        # pure HOF flat map, zero shuffle
        from ner_extractor_spark.operators.packing import \
            chunk_documents as _chunk
        return _chunk(_docs(spark, sf), chunk_size=64, stride=48)

    def export_training_jsonl(spark, sf):
        # r06: the trainer-facing artifact — chunked corpus as
        # byte-deterministic JSON Lines (fixed field order, RFC 8259
        # escape chain, md5 doc bucket); flat map over chunks, no
        # Python stage (sources/jsonl.py)
        from ner_extractor_spark.operators.packing import \
            chunk_documents as _chunk
        from ner_extractor_spark.sources.jsonl import to_training_jsonl
        return to_training_jsonl(_chunk(_docs(spark, sf),
                                        chunk_size=64, stride=48))

    def corpus_training_pipeline(spark, sf):
        # the FULL training-data flow in one plan (the FineWeb-style
        # composition this engine exists for): url gates + calibrated
        # curation + classifier verdict -> keep survivors -> chunk
        # into disjoint 64-token windows -> pack chunks into
        # 500-token-budget bins; per-(bucket, bin) summary.  Every
        # constituent is its own oracle-checked query; this pins the
        # end-to-end composition.
        from ner_extractor_spark.operators.classifier import \
            synthetic_weights
        from ner_extractor_spark.operators.packing import (
            chunk_documents as _chunk, pack_sequences)
        from ner_extractor_spark.operators.web_verdict import \
            full_web_verdict
        d = _web_docs_with_urls(_docs(spark, sf))
        verdict = full_web_verdict(
            d, synthetic_weights(spark),
            blocked_domains=("tracker.test", "spam.example"),
            blocked_terms=("casino",))
        kept = d.join(verdict.filter("keep").select("doc_id"), "doc_id")
        chunks = _chunk(kept, chunk_size=64).select(
            F.concat_ws("#", "doc_id", "chunk_id").alias("chunk_uid"),
            "chunk_text")
        packed = pack_sequences(chunks, budget=500, n_buckets=16,
                                id_col="chunk_uid",
                                text_col="chunk_text")
        return (packed.groupBy("bucket", "bin")
                .agg(F.count(F.lit(1)).alias("n_chunks"),
                     F.sum("n_tokens").alias("tok_sum")))

    def dedup_exact_spans(spark, sf):
        # ExactSubstr (Lee et al. 2022): maximal cross-doc verbatim
        # token runs >= 8 tokens, via consecutive shared-n-gram
        # sessionization — span-level dedup between doc-level dedup
        # and dup-ngram fractions in granularity
        from ner_extractor_spark.operators.exact_substr import \
            exact_substring_spans
        return exact_substring_spans(_docs(spark, sf), n=8)

    def dedup_span_removed(spark, sf):
        # the removal policy: flagged spans deleted token-wise, docs
        # survive (summary projection keeps the contract scalar-only
        # and compact: md5 of the cleaned text + the removal count)
        from ner_extractor_spark.operators.exact_substr import \
            remove_exact_substrings
        return remove_exact_substrings(_docs(spark, sf), n=8).select(
            "doc_id", F.md5("text").alias("text_md5"),
            "n_removed_tokens")

    def decontam_overlap(spark, sf):
        # eval-set decontamination (GPT-3 appendix-C / FineWeb): flag
        # training docs sharing word n-grams with a benchmark table —
        # the broadcast-benchmark semi-join shape; the synthetic eval
        # set is a deterministic slice of the corpus itself, so its
        # exact/near duplicates must surface as contaminated
        from ner_extractor_spark.operators.decontam import \
            contamination_pairs
        d = _docs(spark, sf)
        ev = d.filter(F.col("doc_id") % 50 == 0) \
            .select(F.col("doc_id").alias("eval_id"), "text")
        return contamination_pairs(d, ev, n=3, min_shared=2)

    def text_winnow_matches(spark, sf):
        # cross-doc winnow overlap report (VERDICT r04 #3 — the MOSS
        # match step the fingerprints exist to feed): explode
        # fingerprints, groupBy fingerprint, emit (doc_a, doc_b,
        # n_shared) pairs — same shingle-df shape as text_dup_ngrams,
        # no pairwise joins; max_df caps the boilerplate-fingerprint
        # pair blow-up (df² fan-out per hot fingerprint — the measured
        # sf0.01 hot fp sits in 394 of 500 docs)
        from ner_extractor_spark.operators.dedup import winnow_matches
        return winnow_matches(_docs(spark, sf), min_shared=2, max_df=20)

    def web_corpus_verdict(spark, sf):
        # the FULL web-pipeline verdict: url gates (domain blocklist +
        # term) -> calibrated curation chain (quality / exact-dup /
        # dup-ngrams / LM) -> classifier probability gate, one
        # first-violation reason per document — every constituent is
        # its own oracle-checked query; this pins the composition
        from ner_extractor_spark.operators.classifier import \
            synthetic_weights
        from ner_extractor_spark.operators.web_verdict import \
            full_web_verdict
        return full_web_verdict(
            _web_docs_with_urls(_docs(spark, sf)),
            synthetic_weights(spark),
            blocked_domains=("tracker.test", "spam.example"),
            blocked_terms=("casino",))

    def web_domain_keep_rates(spark, sf):
        # the per-domain curation report (C4/RefinedWeb operations
        # practice: domain-level keep rates are how blocklists get
        # built and crawl budgets get allocated) — full web verdict
        # rolled up by host; one extra skew-aware aggregation keyed
        # on the domain
        from ner_extractor_spark.operators.classifier import \
            synthetic_weights
        from ner_extractor_spark.operators.web_verdict import \
            full_web_verdict
        from ner_extractor_spark.operators.webfilter import url_host
        d = _web_docs_with_urls(_docs(spark, sf))
        verdict = full_web_verdict(
            d, synthetic_weights(spark),
            blocked_domains=("tracker.test", "spam.example"),
            blocked_terms=("casino",))
        hosts = d.select("doc_id", url_host(F.col("url")).alias("host"))
        return (verdict.join(hosts, "doc_id")
                .groupBy("host")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(F.col("keep").cast("int")).alias("n_kept"))
                .select("host", "n_docs",
                        F.col("n_kept").cast("long").alias("n_kept"),
                        F.round(F.col("n_kept") / F.col("n_docs"), 6)
                        .alias("keep_rate")))

    def ppl_by_lang_approx(spark, sf):
        # VERDICT r05 #1, GROUPED case — where the exact percentile's
        # single-buffer bound bites hardest (a web corpus' dominant
        # language group is corpus-sized): per-language exact CCNet
        # cuts (oracle-pinned) + booleans asserting the approx cuts
        # agree within 0.01 (measured worst delta at sf0.01: 0.0011,
        # min group 64 docs).  One score pass feeds both modes.
        from ner_extractor_spark.functions.quantiles import quantile_agg
        from ner_extractor_spark.operators.lm import (trigram_logprob,
                                                      trigram_model)
        d = _docs(spark, sf)
        lm = (trigram_logprob(d, trigram_model(d))
              .join(d.select("doc_id", "lang"), "doc_id")
              .localCheckpoint())

        def cuts(approx):
            return lm.groupBy("lang").agg(
                F.round(quantile_agg("lm_score", 1 / 3, approx), 6)
                .alias("lo"),
                F.round(quantile_agg("lm_score", 2 / 3, approx), 6)
                .alias("hi"))

        ap = cuts(True).select("lang", F.col("lo").alias("lo_a"),
                               F.col("hi").alias("hi_a"))
        tol = 0.01
        return (cuts(False).join(ap, "lang")
                .select("lang", F.col("lo").alias("lo_cut"),
                        F.col("hi").alias("hi_cut"),
                        (F.abs(F.col("lo_a") - F.col("lo")) <= tol)
                        .alias("lo_agree"),
                        (F.abs(F.col("hi_a") - F.col("hi")) <= tol)
                        .alias("hi_agree")))

    def mixture_temperature_weights(spark, sf):
        # temperature-scaled mixture weights (mT5/Pile): sampling
        # share p_g ∝ sqrt(n_g) (alpha=0.5 — IEEE-exact cross-engine),
        # keep fraction renormalized to the corpus budget, capped at 1
        from ner_extractor_spark.operators.packing import \
            temperature_weights
        return temperature_weights(_docs(spark, sf))

    def sample_mixture_temperature(spark, sf):
        # the composed sampler: temperature weights -> per-(source,
        # md5-bucket) quota streams at half-corpus budget
        from ner_extractor_spark.operators.packing import \
            temperature_mixture
        return temperature_mixture(_docs(spark, sf),
                                   budget_frac=0.5).select(
            "doc_id", "source")

    def web_verdict_learned(spark, sf):
        # the learned gate COMPOSED into the flagship (VERDICT r05 #6
        # closing move): the perceptron trains on the quality proxy,
        # and its margin gate replaces the synthetic-weight scorer as
        # the verdict's classifier_low rule (full_web_verdict's
        # pluggable cls_keep table) — train -> gate -> verdict in one
        # contract query
        from ner_extractor_spark.functions.text import quality_filter
        from ner_extractor_spark.operators.classifier import (
            perceptron_scores, synthetic_weights, train_perceptron)
        from ner_extractor_spark.operators.web_verdict import \
            full_web_verdict
        from ner_extractor_spark.operators.curation import \
            calibrated_curation
        from ner_extractor_spark.session import run_concurrently
        d = _web_docs_with_urls(_docs(spark, sf))
        keep, _ = quality_filter(F.col("text"))
        lab = d.select("doc_id", keep.cast("int").alias("label"))
        # r07 (guide §2.6): perceptron training and the curation
        # chain are independent until the final verdict join —
        # run both driver chains concurrently instead of training
        # first and only then materializing the curation barriers
        w, cur = run_concurrently(
            lambda: train_perceptron(d, lab, n_buckets=64, n_rounds=3),
            lambda: calibrated_curation(d))
        gate = perceptron_scores(d, w, n_buckets=64).select(
            "doc_id", F.col("keep").alias("cls_keep"))
        return full_web_verdict(
            d, synthetic_weights(spark),
            blocked_domains=("tracker.test", "spam.example"),
            blocked_terms=("casino",), cls_keep=gate, curation=cur)

    def classifier_train(spark, sf):
        # VERDICT r05 #6: the quality classifier TRAINED in-Spark —
        # fixed-round distributed batch perceptron over integer hashed
        # features (dyadic lr 1/1024 keeps every weight binary-exact,
        # the bpe_train iterative-job discipline), labeled by the
        # quality_filter verdict as the kept-vs-dropped proxy
        from ner_extractor_spark.functions.text import quality_filter
        from ner_extractor_spark.operators.classifier import \
            train_perceptron
        d = _docs(spark, sf)
        keep, _ = quality_filter(F.col("text"))
        lab = d.select("doc_id", keep.cast("int").alias("label"))
        w = train_perceptron(d, lab, n_buckets=64, n_rounds=3)
        return w.select("bucket", F.round("w", 6).alias("w"))

    def classifier_trained_gate(spark, sf):
        # the learned table CONSUMED: margin = sum(cnt * w) over each
        # doc's integer features (bias at bucket -1), keep = margin
        # >= 0 — exact dyadic end to end, one broadcast join + one
        # doc-keyed aggregation
        from ner_extractor_spark.functions.text import quality_filter
        from ner_extractor_spark.operators.classifier import (
            perceptron_scores, train_perceptron)
        d = _docs(spark, sf)
        keep, _ = quality_filter(F.col("text"))
        lab = d.select("doc_id", keep.cast("int").alias("label"))
        w = train_perceptron(d, lab, n_buckets=64, n_rounds=3)
        return perceptron_scores(d, w, n_buckets=64)

    def chunk_documents_bpe_q(spark, sf):
        # VERDICT r05 #5: chunking budgeted in BPE tokens — the merge
        # rules train on the corpus (6 deterministic rounds), the
        # corpus encodes under them, and 32-BPE-token disjoint windows
        # cut on the model's own token stream (</w> markers preserve
        # the reconstruct-text invariant, pinned in test_packing)
        from ner_extractor_spark.operators.bpe import train_bpe
        from ner_extractor_spark.operators.packing import \
            chunk_documents_bpe
        d = _docs(spark, sf)
        rules = [(r["left"], r["right"])
                 for r in train_bpe(d, n_merges=6).collect()]
        return chunk_documents_bpe(d, rules, chunk_size=32)

    def corpus_pipeline_spanclean(spark, sf):
        # VERDICT r05 #4: the Lee et al. ordering — ExactSubstr span
        # removal runs BETWEEN the verdict and chunking (real
        # pipelines strip cross-doc verbatim runs BEFORE windowing so
        # boilerplate never reaches a training bin): full web verdict
        # -> keep survivors -> remove shared >= 8-token spans (df
        # computed over the KEPT subset) -> 64-token disjoint chunks
        # -> 500-token-budget packing; per-(bucket, bin) summary.
        from ner_extractor_spark.operators.classifier import \
            synthetic_weights
        from ner_extractor_spark.operators.exact_substr import \
            remove_exact_substrings
        from ner_extractor_spark.operators.packing import (
            chunk_documents as _chunk, pack_sequences)
        from ner_extractor_spark.operators.web_verdict import \
            full_web_verdict
        d = _web_docs_with_urls(_docs(spark, sf))
        verdict = full_web_verdict(
            d, synthetic_weights(spark),
            blocked_domains=("tracker.test", "spam.example"),
            blocked_terms=("casino",))
        # r07: remove_exact_substrings consumes its input TWICE (the
        # positional-gram side and the span-removal join-back) — one
        # barrier on the kept survivors instead of re-running the
        # verdict assembly joins per consumer (at petabyte scale this
        # barrier is the pipeline's write_stage boundary, cf.
        # plans/curation_pipeline.py)
        kept = d.join(verdict.filter("keep").select("doc_id"), "doc_id") \
            .localCheckpoint()
        cleaned = remove_exact_substrings(kept, n=8)
        chunks = _chunk(cleaned, chunk_size=64).select(
            F.concat_ws("#", "doc_id", "chunk_id").alias("chunk_uid"),
            "chunk_text")
        packed = pack_sequences(chunks, budget=500, n_buckets=16,
                                id_col="chunk_uid",
                                text_col="chunk_text")
        return (packed.groupBy("bucket", "bin")
                .agg(F.count(F.lit(1)).alias("n_chunks"),
                     F.sum("n_tokens").alias("tok_sum")))

    def curation_calibrate_approx(spark, sf):
        # VERDICT r05 #1: the scale-safe approx_percentile calibration
        # mode, oracle-pinned — exact cuts (DuckDB quantile_cont twin)
        # ride the row alongside booleans asserting the approx cuts
        # (mergeable GK state, the at-scale default) land within the
        # pinned tolerance of the exact ones.  One shared score pass
        # feeds both modes (the calibrated_curation barrier
        # discipline); measured deltas at sf0.01: 3e-4 / 0.0.
        from ner_extractor_spark.operators.curation import (
            calibrate_thresholds, curation_scores)
        d = _docs(spark, sf)
        lm, dup = curation_scores(d)
        lm, dup = lm.localCheckpoint(), dup.localCheckpoint()
        exact = calibrate_thresholds(scores=(lm, dup))
        ap = calibrate_thresholds(scores=(lm, dup), approx=True).select(
            F.col("lm_threshold").alias("lm_a"),
            F.col("dup_threshold").alias("dup_a"))
        tol = 0.01
        return exact.crossJoin(ap).select(
            "lm_threshold", "dup_threshold",
            (F.abs(F.col("lm_a") - F.col("lm_threshold")) <= tol)
            .alias("lm_agree"),
            (F.abs(F.col("dup_a") - F.col("dup_threshold")) <= tol)
            .alias("dup_agree"))

    def corpus_curation_neardup(spark, sf):
        # VERDICT r05 #3: the calibrated curation chain WITH the
        # MinHash-LSH near-duplicate rule (FineWeb's keep/drop runs
        # near-dedup, not just exact): cluster representatives keep,
        # non-representatives drop with reason 'near_duplicate',
        # ranked after exact_duplicate and before dup_ngrams
        from ner_extractor_spark.operators.curation import \
            calibrated_curation
        return calibrated_curation(_docs(spark, sf), near=True)

    def kg_transe(spark, sf):
        # r06: KG-embedding training IN Spark — deterministic
        # TransE-L1 (Bordes et al. 2013) over the engine's own
        # (positive, corrupted) pairs from kg_negative_samples; L1
        # sign-vector subgradients + dyadic lr 1/1024 + exact clip
        # keep every round bit-replayable (the train_perceptron /
        # bpe_train iterative-job discipline), so the unrolled DuckDB
        # rounds match raw-double exactly
        from ner_extractor_spark.operators.kg_embed import (
            transe_pairs, transe_train)
        from ner_extractor_spark.operators.kg_quality import \
            negative_samples
        p = transe_pairs(negative_samples(_triples_df(spark, sf), k=2))
        emb = transe_train(p, dim=4, n_rounds=2)
        return emb.select("kind", "id", "i",
                          F.round("v", 6).alias("v"))

    def kg_transe_eval(spark, sf):
        # the learned embeddings CONSUMED: per-relation energy
        # separation (d_pos < d_neg — the ranking link prediction
        # needs), exact dyadic comparison, weighted by multiplicity
        from ner_extractor_spark.operators.kg_embed import (
            transe_eval, transe_pairs, transe_train)
        from ner_extractor_spark.operators.kg_quality import \
            negative_samples
        p = transe_pairs(negative_samples(_triples_df(spark, sf), k=2))
        emb = transe_train(p, dim=4, n_rounds=2)
        return transe_eval(p, emb)

    def kg_link_predict(spark, sf):
        # r06: the trained embeddings EVALUATED the way the TransE
        # literature does — filtered ranking: rank each true tail
        # among its same-label candidate pool by L1 energy (other
        # true tails excluded), hits@1/@3 + mean rank per relation;
        # exact dyadic energies keep cross-engine ties identical
        from ner_extractor_spark.operators.kg_embed import (
            transe_link_predict, transe_pairs, transe_train)
        from ner_extractor_spark.operators.kg_quality import \
            negative_samples
        tri = _triples_df(spark, sf)
        emb = transe_train(transe_pairs(negative_samples(tri, k=2)),
                           dim=4, n_rounds=2)
        return transe_link_predict(tri, emb)

    def web_anchor_aliases(spark, sf):
        # r06: anchor-text alias mining — the classic KG alias
        # bootstrap (the text the web uses to link to a target IS its
        # alias distribution): simple-anchor extraction (pure JVM
        # regex; nested-markup anchors excluded by design) ->
        # canonical target -> normalized surface -> per-target top-k.
        # The oracle computes expected aliases from the construction,
        # so a parser that eats the nested decoy or misses the
        # attribute-noisy anchor fails row-for-row
        from ner_extractor_spark.operators.weblinks import (
            anchor_alias_candidates, extract_anchor_texts)
        d = _docs(spark, sf)
        e = (F.col("doc_id") % 17).cast("string")
        html = F.concat(
            F.lit("<html><body><p>"), F.col("text"), F.lit("</p>"),
            F.lit('<a class="c" href="https://w.test/e/'), e,
            F.lit('?utm_source=feed&z=1" rel="nofollow">Entity '), e,
            F.lit("</a>"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit('<a href="https://w.test/e/'), e,
                            F.lit('">The  ENTITY '), e,
                            F.lit(" page</a>")))
            .otherwise(F.lit("")),
            F.lit('<a href="https://skip.test/x"><b>nested</b></a>'),
            F.lit("</body></html>"))
        pages = d.select(
            F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".test/doc/"),
                     F.col("doc_id").cast("string")).alias("url"),
            F.encode(html, "UTF-8").alias("html"))
        return anchor_alias_candidates(extract_anchor_texts(pages),
                                       top_k=2)

    def web_anchor_alias_dim(spark, sf):
        # r06: the mined anchors AS a linkable ALIASES-schema dict —
        # prior = anchor-estimated P(entity | alias); plugs straight
        # into link_exact / link_coherent (composition pinned in
        # test_weblinks.py)
        from ner_extractor_spark.operators.weblinks import \
            alias_dim_from_anchors
        return alias_dim_from_anchors(web_anchor_aliases(spark, sf))

    def warc_roundtrip(spark, sf):
        # r06: the WARC source made real — pages synthesized into
        # multi-record WARC/1.0 file blobs (spec CRLF framing + the
        # encapsulated HTTP response, JVM expressions only), then the
        # Arrow-batched parser walks the framing back out.  The
        # oracle recomputes every header field + payload md5 from the
        # documents table independently, so one mis-sliced offset or
        # miscounted Content-Length fails the hash
        from ner_extractor_spark.sources.warc import (
            parse_warc_records, synth_warc_files)
        files = synth_warc_files(_pages(spark, sf), n_files=8)
        return (parse_warc_records(files)
                .select("url", "http_status", "mime", "content_length",
                        F.md5("payload").alias("payload_md5"),
                        "warc_date", "file_id"))

    def kg_fact_resolution(spark, sf):
        # r06: truth discovery over the provenance rollup — the Web
        # states conflicting facts, the KG keeps one per functional
        # (subj, pred): weighted vote (sources > mentions > earliest
        # capture > obj) as ONE min(struct) aggregation, no window;
        # support_share is the confidence datum consumers threshold on
        from ner_extractor_spark.operators.kg_quality import (
            resolve_facts, triple_provenance)
        return resolve_facts(triple_provenance(
            _triples_df(spark, sf), _pages(spark, sf)))

    def kg_fact_timeline(spark, sf):
        # r06: the TEMPORAL twin of kg_fact_resolution — per
        # (subj, pred), capture-ordered object observations collapsed
        # into validity intervals (gaps-and-islands; valid_to = next
        # interval's start, NULL while current): how a web-scale KG
        # represents facts that change instead of voting one winner
        from ner_extractor_spark.operators.kg_quality import \
            fact_timeline
        return fact_timeline(_triples_df(spark, sf), _pages(spark, sf))

    def kg_facts_asof(spark, sf):
        # r06: time-travel the temporal KG — the belief set at a fixed
        # instant T (pure interval filter over the timeline)
        from ner_extractor_spark.operators.kg_quality import (facts_asof,
                                                              fact_timeline)
        tl = fact_timeline(_triples_df(spark, sf), _pages(spark, sf))
        return facts_asof(tl, "2024-01-01 00:04:10")

    def kg_relation_patterns(spark, sf):
        # r06: Snowball-style pattern induction — per-predicate top
        # between-span token patterns over the extracted triples
        from ner_extractor_spark.operators.kg_quality import \
            relation_patterns
        return relation_patterns(_triples_df(spark, sf),
                                 _sentences(spark, sf))

    def kg_growth_curve(spark, sf):
        # r06: crawl-ops analytics — facts first seen per capture
        # minute + cumulative KG size
        from ner_extractor_spark.operators.kg_quality import (
            growth_curve, triple_provenance)
        return growth_curve(triple_provenance(
            _triples_df(spark, sf), _pages(spark, sf)))

    def kg_snapshot_diff(spark, sf):
        # r06: KG lifecycle diff — what changed between two instants
        # of the temporal KG (added / removed / changed per subj,pred)
        from ner_extractor_spark.operators.kg_quality import (
            fact_timeline, snapshot_diff)
        tl = fact_timeline(_triples_df(spark, sf), _pages(spark, sf))
        return snapshot_diff(tl, "2024-01-01 00:02:00",
                             "2024-01-01 00:06:40")

    def kg_entity_salience(spark, sf):
        # r06: per-document entity salience (freq share + first-mention
        # earliness + sentence spread), top-5 per page — the doc-level
        # entity index a KG serves lookups from
        from ner_extractor_spark.operators.kg_quality import \
            entity_salience
        return entity_salience(_mentions(spark, sf),
                               _sentences(spark, sf), top_k=5)

    def kg_link_coherent(spark, sf):
        # r06: document-coherence disambiguation — the ambiguous
        # 'spark' alias (Q-1 prior 1.0 vs Q-1B prior 0.5) resolves to
        # Q-1B exactly in documents whose context contains the entity
        # Q-1B is related to (window/Q-4), prior elsewhere
        from ner_extractor_spark.operators.link import link_coherent
        rel = spark.createDataFrame([("Q-1B", "Q-4", 3.0)],
                                    "qa string, qb string, w double")
        return link_coherent(_mentions(spark, sf), _aliases_df(spark),
                             relatedness=rel)

    def kg_functional_resolution(spark, sf):
        # r06: truth discovery with the predicate list AUTO-DETECTED
        # from the functionality profile (no hand-curated schema);
        # 0.35 keeps the most-functional predicate of the synth KG
        from ner_extractor_spark.operators.kg_quality import \
            resolve_functional_facts
        return resolve_functional_facts(_triples_df(spark, sf),
                                        _pages(spark, sf),
                                        functional_threshold=0.35)

    def kg_predicate_stats(spark, sf):
        # r06: per-predicate schema profile — AMIE functionality /
        # inverse functionality over distinct facts; is_functional
        # feeds resolve_facts without a hand-curated schema
        from ner_extractor_spark.operators.kg_quality import \
            predicate_stats
        return predicate_stats(_triples_df(spark, sf))

    def kg_rule_mining(spark, sf):
        # r06: AMIE-style horn-rule mining — same-direction /
        # inverse (symmetry) / chain (composition) rules scored by
        # support, CWA confidence and head coverage; hub intermediates
        # capped (max_fanout) before the two-hop join
        from ner_extractor_spark.operators.kg_quality import mine_rules
        return mine_rules(_triples_df(spark, sf))

    def kg_rule_infer(spark, sf):
        # r06: KG completion — apply the conf>=0.5 mined rules back to
        # the triple table; novel facts only, best rule per fact
        from ner_extractor_spark.operators.kg_quality import (
            distinct_pairs, infer_facts, mine_rules)
        # NO barrier on the raw triples: a localCheckpoint here
        # materializes every extraction column and defeats pruning
        # (measured 2x slower); the barrier lands on the 3-column
        # distinct pair table instead — and is SHARED between mining
        # and inference (r07: each used to materialize its own copy,
        # running the whole extraction pipeline twice)
        tri = _triples_df(spark, sf)
        P = distinct_pairs(tri)
        return infer_facts(tri, mine_rules(tri, pairs=P), min_conf=0.5,
                           pairs=P)

    def kg_type_signatures(spark, sf):
        # r06: SDType-style domain/range induction — LEARN each
        # predicate's (subj_label, obj_label) signatures from distinct
        # facts (support, share, per-pred rank, dominant flag); the
        # pipeline produces typed_triples' allow-list itself
        from ner_extractor_spark.operators.kg_quality import \
            predicate_signatures
        return predicate_signatures(_triples_df(spark, sf))

    def kg_signature_outliers(spark, sf):
        # r06: the learned-schema audit — distinct facts whose type
        # signature carries < 10% of its predicate's support
        # (broadcast signature join back onto the fact table)
        from ner_extractor_spark.operators.kg_quality import \
            signature_outliers
        return signature_outliers(_triples_df(spark, sf), min_share=0.1)

    def kg_khop(spark, sf):
        # r06: bounded-k BFS shortest-hop neighborhood over the domain
        # link graph — the KG serving primitive; seed auto-picked as
        # the top-degree hub, traversal fan-out capped at 4 neighbors
        # per node (hub-capping discipline), k=3 frontier joins
        from ner_extractor_spark.operators.graph import khop_neighborhood
        from ner_extractor_spark.operators.weblinks import (
            domain_link_graph, extract_links)
        lg = domain_link_graph(extract_links(_link_pages(spark, sf)))
        return khop_neighborhood(
            lg.select(F.col("src_domain").alias("src"),
                      F.col("dst_domain").alias("dst")),
            k=3, max_degree=4)

    def kg_link_embed(spark, sf):
        # r06: dense-retrieval fallback linking — the deterministic
        # typo'd variants (same construction as kg_nil_clusters) are
        # invisible to exact linking; the hashed char-3-gram bi-encoder
        # recovers them by cosine top-1 over MinHash-LSH candidates
        from ner_extractor_spark.operators.link import link_embed
        m = _mentions(spark, sf)
        variants = (m.filter(F.col("sent_id") % 5 == 0)
                    .withColumn("surface", F.concat("surface", F.lit("s"))))
        return link_embed(m.unionByName(variants), _aliases_df(spark),
                          dim=32, min_sim=0.5)

    def kg_entity_cards(spark, sf):
        # r06: per-entity serving card — top-5 facts by evidence over
        # the provenance rollup plus fact/predicate totals (the entity
        # page's payload, alongside kg_khop_subgraph's local graph)
        from ner_extractor_spark.operators.kg_quality import (
            entity_cards, triple_provenance)
        return entity_cards(triple_provenance(_triples_df(spark, sf),
                                              _pages(spark, sf)))

    def kg_khop_subgraph(spark, sf):
        # r06: the serving payload behind kg_khop — the neighborhood's
        # INDUCED edge set (both endpoints within k hops), each edge
        # annotated with endpoint hops; membership is cap-bounded so
        # both joins broadcast and the edge table never shuffles
        from ner_extractor_spark.operators.graph import (
            induced_subgraph, khop_neighborhood)
        from ner_extractor_spark.operators.weblinks import (
            domain_link_graph, extract_links)
        lg = domain_link_graph(extract_links(_link_pages(spark, sf)))
        edges = lg.select(F.col("src_domain").alias("src"),
                          F.col("dst_domain").alias("dst"), "n")
        hood = khop_neighborhood(edges.select("src", "dst"),
                                 k=3, max_degree=4)
        return induced_subgraph(edges, hood)

    def kg_export_ntriples(spark, sf):
        # r06: the KG's interchange materialization — RDF 1.1
        # N-Triples lines (fact + rdf:type + rdfs:label statements,
        # ECHAR-escaped literals, md5-bucketed partition key) over the
        # extracted triple table; pure JVM string algebra, no UDFs
        from ner_extractor_spark.sources.ntriples import to_ntriples
        # r07: the export's 3 statement families (fact / type / label)
        # each read the triple table — materialize the 5-column
        # projection once instead of running the extraction pipeline
        # once per union branch (an export from a stored triple table
        # needs no barrier, so it lives here, not in the operator)
        tri = _triples_df(spark, sf).select(
            "subj_surface", "pred", "obj_surface",
            "subj_label", "obj_label").localCheckpoint()
        return to_ntriples(tri)

    def dedup_blocking_stats(spark, sf):
        # r06: blocking-quality audit of the MinHash-LSH candidate
        # generator — reduction ratio / pairs completeness / pairs
        # quality vs the exact-Jaccard truth set (Christen 2012); the
        # tuning dial read before a 100 TB dedup run (on a sampled
        # slice at scale — quadratic truth side, see docstring)
        from ner_extractor_spark.operators.dedup import blocking_stats
        return blocking_stats(_docs(spark, sf), threshold=0.5)

    def dedup_blocking_curve(spark, sf):
        # r06: the band-width tuning sweep behind dedup_blocking_stats
        # — the same three blocking metrics at band widths 1/2/4, all
        # from ONE shingle pass + ONE signature aggregation (the curve
        # read before fixing band_size for a 100 TB dedup run)
        from ner_extractor_spark.operators.dedup import blocking_curve
        return blocking_curve(_docs(spark, sf), band_sizes=(1, 2, 4),
                              threshold=0.5)

    def web_robots_filter(spark, sf):
        # r06: crawl-politeness gating — RFC 9309 longest-match rules
        # (broadcast per-host directive table; longer prefix wins, tie
        # goes to allow, no rule means allowed) over the synthetic web
        # urls; exercises disallow-all, allow-carve-back under a
        # disallowed subtree, and the equal-length tie
        from ner_extractor_spark.operators.webfilter import robots_filter
        rules = [
            ("ads.tracker.test", "/", False),
            ("sub.spam.example", "/doc", False),
            ("sub.spam.example", "/doc/5", True),
            ("src1.test", "/doc/1", False),
            ("src1.test", "/doc/12", True),
            ("src2.test", "/doc", True),
            ("src2.test", "/doc", False),
        ]
        return robots_filter(_web_docs_with_urls(_docs(spark, sf)), rules)

    def set_ops(spark, sf):
        d = _docs(spark, sf)
        en = d.filter("lang = 'en'").select("doc_id")
        de = d.filter("lang = 'de'").select("doc_id")
        small = d.filter("doc_id < 50").select("doc_id")
        return en.union(de).exceptAll(small)

    # ORDER IS A CONTRACT (VERDICT r02 #3, rotation VERDICT r03 #3):
    # the driver samples ~50 of these entries from the front, so
    # _rotate_contract reorders the dict LEAST-RECENTLY-DRIVER-SAMPLED
    # first by reading the CORRECTNESS_r*.json history back — new /
    # never-sampled queries lead, then the stalest rows; every query
    # regains a hard driver-green row within two rounds automatically.
    # (The literal order below is only the tiebreak within a staleness
    # class, after the alphabetical key.)
    return _rotate_contract({
        # -- new / changed this round --------------------------------
        "kg_export_ntriples": kg_export_ntriples,                # r06
        "dedup_blocking_stats": dedup_blocking_stats,            # r06
        "dedup_blocking_curve": dedup_blocking_curve,            # r06
        "bpe_fertility": bpe_fertility_q,                        # r06
        "profile_documents": profile_documents,                  # r06
        "export_training_jsonl": export_training_jsonl,          # r06
        "kg_transe": kg_transe,                                  # r06
        "kg_transe_eval": kg_transe_eval,                        # r06
        "kg_link_predict": kg_link_predict,                      # r06
        "warc_roundtrip": warc_roundtrip,                        # r06
        "web_anchor_aliases": web_anchor_aliases,                # r06
        "web_anchor_alias_dim": web_anchor_alias_dim,            # r06
        "kg_fact_resolution": kg_fact_resolution,                # r06
        "kg_fact_timeline": kg_fact_timeline,                    # r06
        "kg_facts_asof": kg_facts_asof,                          # r06
        "kg_entity_salience": kg_entity_salience,                # r06
        "kg_predicate_stats": kg_predicate_stats,                # r06
        "kg_functional_resolution": kg_functional_resolution,    # r06
        "kg_link_coherent": kg_link_coherent,                    # r06
        "kg_snapshot_diff": kg_snapshot_diff,                    # r06
        "kg_growth_curve": kg_growth_curve,                      # r06
        "kg_relation_patterns": kg_relation_patterns,            # r06
        "kg_rule_mining": kg_rule_mining,                        # r06
        "kg_rule_infer": kg_rule_infer,                          # r06
        "kg_type_signatures": kg_type_signatures,                # r06
        "kg_signature_outliers": kg_signature_outliers,          # r06
        "kg_khop": kg_khop,                                      # r06
        "kg_khop_subgraph": kg_khop_subgraph,                    # r06
        "kg_link_embed": kg_link_embed,                          # r06
        "kg_entity_cards": kg_entity_cards,                      # r06
        "web_robots_filter": web_robots_filter,                  # r06
        "curation_calibrate_approx": curation_calibrate_approx,  # r06
        "corpus_curation_neardup": corpus_curation_neardup,      # r06
        "corpus_pipeline_spanclean": corpus_pipeline_spanclean,  # r06
        "chunk_documents_bpe": chunk_documents_bpe_q,            # r06
        "classifier_train": classifier_train,                    # r06
        "classifier_trained_gate": classifier_trained_gate,      # r06
        "web_verdict_learned": web_verdict_learned,              # r06
        "ppl_by_lang_approx": ppl_by_lang_approx,                # r06
        "mixture_temperature_weights": mixture_temperature_weights,  # r06
        "sample_mixture_temperature": sample_mixture_temperature,    # r06
        "text_winnow_matches": text_winnow_matches,   # new r05
        "decontam_overlap": decontam_overlap,         # new r05
        "chunk_documents": chunk_documents,           # new r05
        "text_ppl_by_lang": text_ppl_by_lang,         # new r05
        "dedup_exact_spans": dedup_exact_spans,       # new r05
        "dedup_span_removed": dedup_span_removed,     # new r05
        "corpus_training_pipeline": corpus_training_pipeline,  # r05
        "web_domain_keep_rates": web_domain_keep_rates,  # new r05
        "text_ppl_buckets": text_ppl_buckets,         # new r05
        "text_classifier_calibrated": text_classifier_calibrated,  # r05
        "html_extract_text": html_extract_text,       # new r04
        "kg_link_alias_salted": kg_link_alias_salted,  # new r04
        "curation_calibrate": curation_calibrate,     # new r04
        "html_extract_meta": html_extract_meta,       # new r04
        "web_url_filter": web_url_filter,             # new r04
        "text_quality_classifier": text_quality_classifier,  # new r04
        "dedup_first_seen": dedup_first_seen_q,       # new r04
        "bpe_train": bpe_train,                       # new r04
        "bpe_encode": bpe_encode_q,                   # new r04
        "text_hashed_embed": text_hashed_embed,       # new r04
        "text_winnow": text_winnow,                   # new r04
        "web_corpus_verdict": web_corpus_verdict,     # new r04
        "text_boilerplate": text_boilerplate,         # new r03
        "graph_communities": graph_communities,       # new r03
        "skew_profile_surfaces": skew_profile_surfaces,  # new r03
        "web_link_graph": web_link_graph,             # new r03
        "web_domain_authority": web_domain_authority,  # new r03
        "sketch_hll": sketch_hll,                     # new r03
        "skew_profile_domains": skew_profile_domains,  # new r03
        "text_dup_ngrams": text_dup_ngrams,           # new r03
        "corpus_curation": corpus_curation,           # new r03
        "text_redact": text_redact,
        "kg_tag_linear": kg_tag_linear,
        "dedup_simhash": dedup_simhash,
        "sample_mixture": sample_mixture,
        "multimodal_features": multimodal_features,   # oracle-checked r03
        "augment_entities": augment_entities,         # oracle-checked r03
        "url_canonicalize": url_canonicalize,         # new r03
        "text_trigram_lm": text_trigram_lm,           # new r03
        "text_tfidf_topk": text_tfidf_topk,           # new r03
        "sketch_bloom": sketch_bloom,                 # new r03
        "stream_event_join": stream_event_join,       # new r03
        "kg_triples_typed": kg_triples_typed,         # new r03
        "kg_triple_pmi": kg_triple_pmi,               # new r03
        "kg_negative_samples": kg_negative_samples,   # new r03
        "kg_triple_provenance": kg_triple_provenance,  # new r03
        "kg_nil_clusters": kg_nil_clusters,           # new r03
        "graph_triangles": graph_triangles,           # new r03
        "ann_ivf_recall": ann_ivf_recall,             # new r03
        # -- oracle-eligible entries the driver has never sampled ----
        "pack_bins": pack_bins,
        "agg_percentiles": agg_percentiles,
        "agg_rollup": agg_rollup,
        "multimodal_resize": multimodal_resize,
        "kfold_metric_summary": kfold_metric_summary,
        "split_stratified": split_stratified,
        "split_group_fold": split_group_fold,
        "sample_deterministic": sample_deterministic,
        "set_ops": set_ops,
        "join_asof": join_asof,
        "join_range": join_range,
        # -- core KG / dedup / graph / embeddings / streaming --------
        "kg_extract_sentences": kg_extract_sentences,
        "kg_tokenize": kg_tokenize,
        "kg_mentions": kg_mentions,
        "kg_primary_label": kg_primary_label,
        "kg_triples": kg_triples,
        "kg_link_alias": kg_link_alias,
        "graph_pagerank": graph_pagerank,
        "graph_degree": graph_degree,
        "kg_viterbi_tags": kg_viterbi_tags,
        "kg_metrics_prf": kg_metrics_prf,
        "kg_metrics_per_type": kg_metrics_per_type,
        "kg_token_accuracy": kg_token_accuracy,
        "cc_components": cc_components,
        "dedup_exact": dedup_exact_q,
        "dedup_minhash_pairs": dedup_minhash_pairs,
        "dedup_jaccard": dedup_jaccard,
        "dedup_resolve": dedup_resolve,
        "embedding_near_dups": embedding_near_dups_q,
        "ann_topk": ann_topk,
        "ann_ivf_topk": ann_ivf_topk,
        "embed_homogeneity": embed_homogeneity,
        "embed_kmeans_det": embed_kmeans_det,
        "embed_pca_det": embed_pca_det,
        "sketch_cms": sketch_cms,
        "stream_window_counts": stream_window_counts,
        "text_quality": text_quality,
        "text_token_stats": text_token_stats,
        "text_quality_filter": text_quality_filter,
        "text_repetition": text_repetition,
        "text_pii": text_pii,
        "text_langid": text_langid,
        "sessionize": sessionize,
        "window_running_value": window_running_value,
        "window_top3_per_user": window_top3_per_user,
        "topk_event_types": topk_event_types,
        # -- unchanged r02-green relational/simple rows (past the
        #    sampling window; still covered by check_oracle locally) --
        "kg_mention_counts": kg_mention_counts,
        "kg_surface_topk": kg_surface_topk,
        "kg_label_vocab": kg_label_vocab,
        "kg_entity_pool": kg_entity_pool,
        "kg_sentence_stats": kg_sentence_stats,
        "text_word_freq": text_word_freq,
        "text_fingerprint": text_fingerprint,
        "text_lang_confusion": text_lang_confusion,
        "text_lang_pivot": text_lang_pivot,
        "agg_pricing_summary": agg_pricing_summary,
        "join_orders_nation": join_orders_nation,
        "json_extract_props": json_extract_props,
        # rows-only check: MLlib KMeans' internal numerics have no
        # cross-engine oracle by nature (the deterministic twin
        # embed_kmeans_det IS oracle-checked); pinned by pytest instead
        "embed_kmeans": embed_kmeans,
    })


#: queries whose CONTRACT SHAPE changed, keyed by the round the change
#: landed: they already have a recent driver row (so rotation would
#: bury them), but that row tested the OLD shape — force them into the
#: sampling window until a driver row from >= the change round exists,
#: then the override expires on its own.  r05 entries: the two r04
#: driver-red array-schema queries, now projecting driver-sortable
#: scalars (VERDICT r04 #1 — "done" means a green r05 driver row).
_SHAPE_CHANGED = {"text_hashed_embed": 5, "text_winnow": 5}


def _rotate_contract(d: dict) -> dict:
    """Least-recently-driver-sampled-first ordering (VERDICT r03 #3).

    The driver writes CORRECTNESS_r{N}.json with one key per query it
    actually sampled; replaying that history gives each query its last
    driver round.  Shape-changed queries (``_SHAPE_CHANGED``)
    lead outright, then never-sampled (incl. new-this-round) queries,
    then ascending last-sampled round, alphabetical within a class —
    deterministic, and self-maintaining as rounds accumulate.
    """
    import json as _json
    import re as _re
    from pathlib import Path

    last: dict[str, int] = {}
    root = Path(__file__).resolve().parent
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = _re.search(r"r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            names = _json.loads(p.read_text()).keys()
        except Exception:
            continue
        for n in names:
            last[n] = max(last.get(n, 0), rnd)
    # self-expiring: force only while the query's last driver row
    # predates its shape change — the first post-change sampling
    # round retires the override automatically
    forced = [n for n, rnd in _SHAPE_CHANGED.items()
              if n in d and last.get(n, 0) < rnd]
    rest = sorted((n for n in d if n not in forced),
                  key=lambda n: (last.get(n, -1), n))
    return {n: d[n] for n in forced + rest}


# ---------------------------------------------------------------------------
# oracle_sql(): DuckDB statements computing identical results
# ---------------------------------------------------------------------------

def _langid_scores_sql() -> str:
    from ner_extractor_spark.functions.text import STOPWORDS
    parts = []
    for lang, sw in sorted(STOPWORDS.items()):
        swl = ", ".join(f"'{w}'" for w in sw)
        parts.append(f"""
  SELECT doc_id, '{lang}' AS cand,
         CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              t -> t IN ({swl}))) AS DOUBLE)
         / greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1) AS score
  FROM documents""")
    return " UNION ALL ".join(parts)


def _langid_sql() -> str:
    return f"""
scores AS ({_langid_scores_sql()}),
pick AS (
  SELECT doc_id, cand, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) rn
  FROM scores
),
langid AS (
  SELECT doc_id, CASE WHEN score > 0 THEN cand ELSE 'und' END AS detected
  FROM pick WHERE rn = 1
)"""


def _simhash_bits_sql(n_bits: int = 16) -> str:
    """Per-doc simhash bits via md5-nibble majority vote (mirrors
    operators/dedup.simhash_bits exactly)."""
    bit_exprs = ", ".join(
        f"CASE WHEN 2 * count(*) FILTER (upper(substring(md5(tok), {j + 1}, 1)) "
        f"IN ('8','9','A','B','C','D','E','F')) > count(*) THEN 1 ELSE 0 END AS b{j}"
        for j in range(n_bits))
    return f"""
dt AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tl
  FROM documents
),
dtok AS (
  SELECT doc_id, tl[i] AS tok
  FROM dt, unnest(generate_series(1, len(tl))) t(i)
),
bits AS (
  SELECT doc_id, {bit_exprs} FROM dtok GROUP BY doc_id
)"""


def _shingle_sql() -> str:
    """Distinct word-3gram shingles per doc (mirrors dedup.word_shingles)."""
    return """
dn AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tl
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(tl[i:least(i + 2, len(tl))], ' ') AS shingle
  FROM dn, unnest(generate_series(1, greatest(len(tl) - 2, 1))) t(i)
)"""


def _minhash_bands_sql(n_hashes: int = 12, band_size: int = 2) -> str:
    return _shingle_sql() + f""",
mh AS (
  SELECT doc_id, k, min(md5(CAST(k AS VARCHAR) || '|' || shingle)) AS h
  FROM sh, unnest(generate_series(0, {n_hashes - 1})) t(k)
  GROUP BY doc_id, k
),
bands AS (
  SELECT doc_id, CAST(floor(k / {band_size}.0) AS INT) AS band,
         string_agg(h, '' ORDER BY h) AS bh
  FROM mh GROUP BY doc_id, CAST(floor(k / {band_size}.0) AS INT)
),
mpairs AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)"""


EMB_FLAT_SQL = """
ef AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)
),
en AS (
  SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ef GROUP BY vec_id
)"""


def _ivf_assign_sql(n_cells: int = 16) -> str:
    """Deterministic IVF coarse assignment (mirrors operators/similarity
    ivf_centroids + ivf_assign): centroids = the n_cells vectors with
    smallest md5(vec_id); every vector goes to its max-cosine cell (ties
    to the smallest cell id).  Requires EMB_FLAT_SQL's ef/en CTEs."""
    return f"""
cents AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS INT) AS cell,
         vec_id AS cvid
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {n_cells}
),
ccos AS (
  SELECT f.vec_id, c.cell, sum(f.v * g.v) / (nf.nrm * ng.nrm) AS cos
  FROM ef f
  CROSS JOIN cents c
  JOIN ef g ON g.vec_id = c.cvid AND g.i = f.i
  JOIN en nf ON nf.vec_id = f.vec_id
  JOIN en ng ON ng.vec_id = c.cvid
  GROUP BY f.vec_id, c.cell, nf.nrm, ng.nrm
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS r
    FROM ccos) t WHERE r = 1
)"""


# triples CTE body shared by kg_triples / graph_* oracles (mirrors
# operators/triples.extract_triples_local; requires MEN_SQL's men/toks)
_TRI_BODY = """
hits AS (
  SELECT url, sent_id, pos, tok FROM toks WHERE tok IN ({pred_list})
),
tpairs AS (
  SELECT m1.url, m1.sent_id,
         m1.start AS subj_start, m1.surface AS subj_surface, m1.label AS subj_label,
         m2.start AS obj_start,  m2.surface AS obj_surface,  m2.label AS obj_label,
         min(h.pos) AS ppos
  FROM men m1
  JOIN men m2 ON m1.url = m2.url AND m1.sent_id = m2.sent_id
             AND m1."end" < m2.start AND m2.start - m1."end" <= 8
  JOIN hits h ON h.url = m1.url AND h.sent_id = m1.sent_id
             AND h.pos > m1."end" AND h.pos < m2.start
  GROUP BY ALL
),
tri AS (
  SELECT p.url, p.sent_id, p.subj_start, p.subj_surface, p.subj_label,
         t.tok AS pred, p.obj_start, p.obj_surface, p.obj_label
  FROM tpairs p JOIN toks t
    ON t.url = p.url AND t.sent_id = p.sent_id AND t.pos = p.ppos
)"""


def _hex4_fold_sql(hexpr: str) -> str:
    """First-4-hex-chars -> int fold (mirrors operators/sketch._cell
    and packing's bucket derivation)."""
    nib = ("(strpos('0123456789abcdef', substring({h}, {i}, 1)) - 1)")
    n = [nib.format(h=hexpr, i=i) for i in (1, 2, 3, 4)]
    return f"((({n[0]} * 16 + {n[1]}) * 16 + {n[2]}) * 16 + {n[3]})"


def _mm_feature_terms(dim: int = 8) -> str:
    """The fake media encoder's byte terms (mirrors
    operators/multimodal.fake_feature): md5-digest byte i / 255.  The
    feature column is array<float>, so each term is float32-quantized
    (CAST AS REAL) BEFORE the double accumulation — exactly what Spark's
    F.aggregate over a float array does."""
    return " + ".join(
        f"CAST((((strpos('0123456789abcdef', substring(ph, {2 * i + 1}, 1)) - 1)"
        f" * 16 + (strpos('0123456789abcdef', substring(ph, {2 * i + 2}, 1)) - 1)"
        f") / 255.0) AS REAL)" for i in range(dim))


def _bpe_encode_oracle_sql(k: int) -> str:
    """Corpus tokens joined against the round-k symbolization table of
    _bpe_oracle_sql's rounds (the encoder is the trainer's fold applied
    to the distinct-word table)."""
    rounds = _bpe_oracle_sql(k).split("\nSELECT CAST(1")[0]
    return rounds + rf""",
nt2 AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
),
dtoks AS (
  SELECT doc_id, j - 1 AS pos, w[j] AS word
  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM nt2),
       unnest(generate_series(1, len(w))) t2(j)
  WHERE w[j] != ''
)
SELECT d.doc_id, CAST(d.pos AS INT) AS pos, d.word,
       array_to_string(s.syms, ' ') AS encoded
FROM dtoks d JOIN s{k} s ON s.word = d.word"""


def _bpe_oracle_sql(k: int) -> str:
    """Generated k-round replica of operators/bpe.train_bpe: each round
    re-counts adjacent pairs, picks the deterministic argmax, and
    applies the merge with a list_reduce fold string-encoded on '|'
    (same classic greedy semantics as the Spark HOF fold)."""
    parts = [r"""w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text),
                                   '\s+', ' ', 'g')), ' ')) AS word
        FROM documents)
  WHERE word != '' GROUP BY word
),
s0 AS (
  SELECT word, cnt,
         list_append(regexp_extract_all(word, '.'), '</w>') AS syms
  FROM w0
)"""]
    for i in range(1, k + 1):
        parts.append(rf""",
p{i} AS (
  SELECT syms[j] AS l, syms[j + 1] AS r, CAST(sum(cnt) AS BIGINT) AS c
  FROM s{i - 1}, unnest(generate_series(1, len(syms) - 1)) t(j)
  WHERE len(syms) > 1
  GROUP BY 1, 2
),
b{i} AS (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),
s{i} AS (
  SELECT word, cnt,
         string_split(list_reduce(list_prepend('', syms),
           (acc, x) -> CASE
             WHEN regexp_extract(acc, '\|([^|]*)$', 1) = b.l AND x = b.r
             THEN regexp_replace(acc, '\|[^|]*$', '') || '|' || b.l || b.r
             ELSE acc || '|' || x END), '|')[2:] AS syms
  FROM s{i - 1}, b{i} b
)""")
    sel = "\nUNION ALL\n".join(
        f'SELECT CAST({i} AS INT) AS rank, l AS "left", r AS "right", '
        f"l || r AS merged, c FROM b{i}" for i in range(1, k + 1))
    return "WITH " + "".join(parts) + "\n" + sel


def _hexn_fold_sql(hexpr: str, n: int, start: int = 1) -> str:
    """n-hex-chars-from-``start`` -> integer fold (generalizes
    _hex4_fold_sql; n ≤ 15 keeps the value inside a signed 64-bit range,
    matching Spark's conv(substring(h, start, n), 16, 10) cast to
    long)."""
    nib = "(strpos('0123456789abcdef', substring({h}, {i}, 1)) - 1)"
    expr = nib.format(h=hexpr, i=start)
    for i in range(start + 1, start + n):
        expr = f"({expr} * 16 + {nib.format(h=hexpr, i=i)})"
    return expr


def _viterbi_sql() -> str:
    """Recursive-CTE Viterbi over toks (mirrors
    operators/ner.viterbi_tag_scores bit for bit): K=3 tags, emission =
    first md5 byte of 'k|token' over 256 (dyadic), transitions =
    VITERBI_TRANSITIONS (dyadic).  State per sentence = 3 running scores
    + 3 running path strings; tie-breaks via >= chains keep the smallest
    tag index, matching the Python DP's strict-improvement scan."""
    from ner_extractor_spark.operators.ner import VITERBI_TRANSITIONS
    T = [[int(v * 256) for v in row] for row in VITERBI_TRANSITIONS]

    def em(k, tok="x.tok"):
        h = f"md5('{k}|' || {tok})"
        return (f"((strpos('0123456789abcdef', substring({h}, 1, 1)) - 1) * 16"
                f" + (strpos('0123456789abcdef', substring({h}, 2, 1)) - 1))"
                f" / 256.0")

    def step_score(j):
        cands = ", ".join(f"d.s{i} + ({T[i][j]} / 256.0)" for i in range(3))
        return f"greatest({cands}) + {em(j)}"

    def step_path(j):
        a = f"d.s0 + ({T[0][j]} / 256.0)"
        b = f"d.s1 + ({T[1][j]} / 256.0)"
        c = f"d.s2 + ({T[2][j]} / 256.0)"
        return (f"CASE WHEN {a} >= {b} AND {a} >= {c} THEN d.p0 "
                f"WHEN {b} >= {c} THEN d.p1 ELSE d.p2 END || ',{j}'")

    return f""",
vdp(url, sent_id, t, s0, s1, s2, p0, p1, p2) AS (
  SELECT x.url, x.sent_id, 0,
         {em(0)}, {em(1)}, {em(2)},
         '0', '1', '2'
  FROM toks x WHERE x.pos = 0
  UNION ALL
  SELECT d.url, d.sent_id, d.t + 1,
         {step_score(0)}, {step_score(1)}, {step_score(2)},
         {step_path(0)}, {step_path(1)}, {step_path(2)}
  FROM vdp d JOIN toks x
    ON x.url = d.url AND x.sent_id = d.sent_id AND x.pos = d.t + 1
),
vlast AS (
  SELECT d.* FROM vdp d
  JOIN (SELECT url, sent_id, max(pos) AS mx FROM toks GROUP BY url, sent_id) m
    ON m.url = d.url AND m.sent_id = d.sent_id AND d.t = m.mx
)"""


def _linear_viterbi_sql(max_length: int = 24) -> str:
    """Recursive-CTE replica of operators/ner.linear_tag_words — the full
    tokenize (pieces + [CLS]/[SEP] + truncation) → linear forward (md5-
    nibble features × md5-derived integer weights / 4096) → Viterbi →
    first-subword realign pipeline, bit-identical (all scores dyadic)."""
    from ner_extractor_spark.operators.ner import (VITERBI_TRANSITIONS,
                                                   linear_tagger_weights)
    T = [[int(v * 256) for v in row] for row in VITERBI_TRANSITIONS]
    W = linear_tagger_weights(3)

    def nib(i):
        return ("(strpos('0123456789abcdef', "
                f"substring(md5(x.sw), {i}, 1)) - 1)")

    def em(k):
        terms = " + ".join(f"{nib(f + 1)} * ({W[f][k]})" for f in range(4))
        return f"(({terms}) / 4096.0)"

    def step_score(j):
        cands = ", ".join(f"d.s{i} + ({T[i][j]} / 256.0)" for i in range(3))
        return f"greatest({cands}) + {em(j)}"

    def step_path(j):
        a = f"d.s0 + ({T[0][j]} / 256.0)"
        b = f"d.s1 + ({T[1][j]} / 256.0)"
        c = f"d.s2 + ({T[2][j]} / 256.0)"
        return (f"CASE WHEN {a} >= {b} AND {a} >= {c} THEN d.p0 "
                f"WHEN {b} >= {c} THEN d.p1 ELSE d.p2 END || ',{j}'")

    ml = max_length
    return f""",
swraw AS (
  SELECT url, sent_id, pos, t.j - 1 AS piece,
         CASE WHEN t.j = 1 THEN tok
              ELSE tok || '##' || CAST(t.j - 1 AS VARCHAR) END AS sw
  FROM toks, unnest(generate_series(1, 1 + len(tok) // 4)) t(j)
),
swpos AS (
  SELECT url, sent_id, pos, piece, sw,
         CAST(row_number() OVER (PARTITION BY url, sent_id
                                 ORDER BY pos, piece) AS INT) AS sp
  FROM swraw
),
subs AS (
  SELECT url, sent_id, 0 AS sp, '[CLS]' AS sw, FALSE AS fw FROM sents
  UNION ALL
  SELECT url, sent_id, sp, sw, piece = 0 FROM swpos WHERE sp <= {ml - 2}
  UNION ALL
  SELECT url, sent_id, least(mx + 1, {ml - 1}), '[SEP]', FALSE
  FROM (SELECT url, sent_id, max(sp) AS mx FROM swpos GROUP BY url, sent_id)
),
ldp(url, sent_id, t, s0, s1, s2, p0, p1, p2) AS (
  SELECT x.url, x.sent_id, 0,
         {em(0)}, {em(1)}, {em(2)},
         '0', '1', '2'
  FROM subs x WHERE x.sp = 0
  UNION ALL
  SELECT d.url, d.sent_id, d.t + 1,
         {step_score(0)}, {step_score(1)}, {step_score(2)},
         {step_path(0)}, {step_path(1)}, {step_path(2)}
  FROM ldp d JOIN subs x
    ON x.url = d.url AND x.sent_id = d.sent_id AND x.sp = d.t + 1
),
llast AS (
  SELECT d.* FROM ldp d
  JOIN (SELECT url, sent_id, max(sp) AS mx FROM subs GROUP BY url, sent_id) m
    ON m.url = d.url AND m.sent_id = d.sent_id AND d.t = m.mx
),
lbest AS (
  SELECT url, sent_id,
         CASE WHEN s0 >= s1 AND s0 >= s2 THEN p0
              WHEN s1 >= s2 THEN p1 ELSE p2 END AS path,
         CASE WHEN s0 >= s1 AND s0 >= s2 THEN s0
              WHEN s1 >= s2 THEN s1 ELSE s2 END AS score
  FROM llast
)"""


def _pagerank_sql(n_iter: int = 5, damping: float = 0.85) -> str:
    """Unrolled deterministic PageRank (mirrors operators/graph.pagerank
    step for step); requires an ``edges(src, dst)`` CTE.  Damping
    constants go through CAST(x AS DOUBLE) so DuckDB's DECIMAL literal
    parsing cannot diverge from Spark's double literals."""
    d = f"CAST({damping!r} AS DOUBLE)"
    omd = f"CAST({(1.0 - damping)!r} AS DOUBLE)"
    parts = [""",
pnodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
pn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM pnodes),
podeg AS MATERIALIZED (
  SELECT src, CAST(count(*) AS DOUBLE) AS od FROM edges GROUP BY src
),
pr0 AS MATERIALIZED (
  SELECT node, round(1.0 / (SELECT n FROM pn), 8) AS rank FROM pnodes
)"""]
    for t in range(1, n_iter + 1):
        parts.append(f""",
pr{t} AS MATERIALIZED (
  SELECT np.node,
         round({omd} / (SELECT n FROM pn) + {d} * coalesce(c.s, 0.0), 8) AS rank
  FROM pnodes np LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / o.od) AS s
    FROM edges e JOIN pr{t - 1} r ON r.node = e.src
                 JOIN podeg o ON o.src = e.src
    GROUP BY e.dst) c ON c.node = np.node
)""")
    return "".join(parts)


def _transe_sql(n_rounds: int = 2, dim: int = 4) -> str:
    """Unrolled deterministic TransE-L1 (mirrors
    operators/kg_embed.transe_train round for round — every quantity
    dyadic, see that module's docstring).  Requires the
    ``kg_negative_samples`` oracle's ``neg`` CTE in scope; emits
    ``temb{n_rounds}`` as the final embedding table."""
    def init(kind: str, src: str) -> str:
        h = _hexn_fold_sql(
            f"md5('te|{kind}|' || id || '|' || CAST(d.i AS VARCHAR))", 8)
        return (f"SELECT '{kind}' AS kind, id, d.i,\n"
                f"         ({h} % 2048 - 1024) / 1024.0 AS v\n"
                f"  FROM {src} CROSS JOIN tdims d")

    parts = [f""",
tprs AS MATERIALIZED (
  SELECT subj_surface AS h, pred AS r, obj_surface AS t,
         neg_obj_surface AS tn, CAST(count(*) AS BIGINT) AS w
  FROM neg WHERE neg_obj_surface != obj_surface
  GROUP BY 1, 2, 3, 4
),
tdims AS (SELECT CAST(g.i AS INT) AS i
          FROM unnest(generate_series(0, {dim - 1})) g(i)),
tents AS (SELECT DISTINCT id FROM (
  SELECT h AS id FROM tprs UNION ALL SELECT t FROM tprs
  UNION ALL SELECT tn FROM tprs)),
trels AS (SELECT DISTINCT r AS id FROM tprs),
temb0 AS MATERIALIZED (
  {init('e', 'tents')}
  UNION ALL
  {init('r', 'trels')}
)"""]
    grad_src = ("FROM tpd{k} pd JOIN tpv{k} v USING (h, r, t, tn)\n"
                "    WHERE 1.0 + v.dp - v.dn > 0")
    for k in range(n_rounds):
        gs = grad_src.format(k=k)
        parts.append(f""",
tpd{k} AS MATERIALIZED (
  SELECT p.h, p.r, p.t, p.tn, p.w, d.i,
         eh.v + er.v - et.v AS gp, eh.v + er.v - etn.v AS gn
  FROM tprs p CROSS JOIN tdims d
  JOIN temb{k} eh ON eh.kind = 'e' AND eh.id = p.h AND eh.i = d.i
  JOIN temb{k} er ON er.kind = 'r' AND er.id = p.r AND er.i = d.i
  JOIN temb{k} et ON et.kind = 'e' AND et.id = p.t AND et.i = d.i
  JOIN temb{k} etn ON etn.kind = 'e' AND etn.id = p.tn AND etn.i = d.i
),
tpv{k} AS MATERIALIZED (
  SELECT h, r, t, tn, sum(abs(gp)) AS dp, sum(abs(gn)) AS dn
  FROM tpd{k} GROUP BY 1, 2, 3, 4
),
tgr{k} AS (
  SELECT kind, id, i, sum(delta * w) AS g FROM (
    SELECT 'e' AS kind, pd.h AS id, pd.i,
           sign(pd.gp) - sign(pd.gn) AS delta, pd.w AS w
    {gs}
    UNION ALL
    SELECT 'r', pd.r, pd.i, sign(pd.gp) - sign(pd.gn), pd.w
    {gs}
    UNION ALL
    SELECT 'e', pd.t, pd.i, -sign(pd.gp), pd.w
    {gs}
    UNION ALL
    SELECT 'e', pd.tn, pd.i, sign(pd.gn), pd.w
    {gs}
  ) GROUP BY 1, 2, 3
),
temb{k + 1} AS MATERIALIZED (
  SELECT e.kind, e.id, e.i,
         greatest(-2.0, least(2.0,
             e.v - coalesce(g.g, 0) / 1024.0)) AS v
  FROM temb{k} e LEFT JOIN tgr{k} g
    ON g.kind = e.kind AND g.id = e.id AND g.i = e.i
)""")
    return "".join(parts)


def _pca_det_sql(n_components: int = 2, n_iter: int = 8) -> str:
    """Unrolled power-iteration PCA (mirrors
    operators/embed_viz.pca_deterministic step for step).  Requires
    EMB_FLAT_SQL's ef CTE."""
    parts = ["""
dimsx AS MATERIALIZED (SELECT vec_id, i - 1 AS dim, v FROM ef),
muv AS MATERIALIZED (SELECT dim, avg(v) AS m FROM dimsx GROUP BY dim),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
ddim AS (SELECT CAST(count(*) AS DOUBLE) AS d FROM muv),
cov0 AS MATERIALIZED (
  SELECT a.dim AS i, b.dim AS j,
         round(sum(a.v * b.v) / (SELECT n FROM nn) - ma.m * mb.m, 6) AS c
  FROM dimsx a JOIN dimsx b ON a.vec_id = b.vec_id
  JOIN muv ma ON ma.dim = a.dim JOIN muv mb ON mb.dim = b.dim
  GROUP BY a.dim, b.dim, ma.m, mb.m
),
px0 AS MATERIALIZED (
  SELECT dim,
         round((dim + 1) / sqrt((SELECT sum((dim + 1) * (dim + 1)) FROM muv)), 8) AS x
  FROM muv
)"""]
    selects = []
    for k in range(n_components):
        prev = "px0"
        for t in range(1, n_iter + 1):
            parts.append(f""",
yc{k}i{t} AS MATERIALIZED (
  SELECT c.i AS dim, round(sum(c.c * x.x), 8) AS y
  FROM cov{k} c JOIN {prev} x ON x.dim = c.j GROUP BY c.i
),
nc{k}i{t} AS (SELECT sqrt(sum(y * y)) AS nrm FROM yc{k}i{t}),
xc{k}i{t} AS MATERIALIZED (
  SELECT dim, round(y / (SELECT nrm FROM nc{k}i{t}), 8) AS x FROM yc{k}i{t}
)""")
            prev = f"xc{k}i{t}"
        parts.append(f""",
yf{k} AS MATERIALIZED (
  SELECT c.i AS dim, round(sum(c.c * x.x), 8) AS y
  FROM cov{k} c JOIN {prev} x ON x.dim = c.j GROUP BY c.i
),
lam{k} AS MATERIALIZED (
  SELECT round(sum(x.x * y.y), 6) AS lam
  FROM {prev} x JOIN yf{k} y ON y.dim = x.dim
),
cov{k + 1} AS MATERIALIZED (
  SELECT c.i, c.j,
         round(c.c - (SELECT lam FROM lam{k}) * xi.x * xj.x, 6) AS c
  FROM cov{k} c JOIN {prev} xi ON xi.dim = c.i
                JOIN {prev} xj ON xj.dim = c.j
)""")
        selects.append(
            f"SELECT {k} AS component, dim, x AS coord, "
            f"(SELECT lam FROM lam{k}) AS eigenvalue FROM {prev}")
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def _kmeans_det_sql(k: int = 8, n_iter: int = 3) -> str:
    """Unrolled deterministic Lloyd's (mirrors
    operators/embed_viz.kmeans_deterministic): md5-picked init, fixed
    rounds, centroid coords rounded per round.  Requires EMB_FLAT_SQL."""
    parts = [f"""
kcents AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS INT) AS cell,
         vec_id AS cvid
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k}
),
c0 AS MATERIALIZED (
  SELECT c.cell, g.i - 1 AS dim, round(g.v, 6) AS m
  FROM kcents c JOIN ef g ON g.vec_id = c.cvid
)"""]
    for t in range(1, n_iter + 1):
        parts.append(f""",
d{t} AS MATERIALIZED (
  SELECT f.vec_id, c.cell, sum((f.v - c.m) * (f.v - c.m)) AS d
  FROM ef f JOIN c{t - 1} c ON c.dim = f.i - 1
  GROUP BY f.vec_id, c.cell
),
a{t} AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS r
    FROM d{t}) q WHERE r = 1
),
c{t} AS MATERIALIZED (
  SELECT a.cell, f.i - 1 AS dim, round(avg(f.v), 6) AS m
  FROM a{t} a JOIN ef f ON f.vec_id = a.vec_id
  GROUP BY a.cell, f.i - 1
)""")
    return "".join(parts)


def _hyperplane_bands_sql(n_planes: int = 16, band_size: int = 4) -> str:
    """Banded random-hyperplane LSH blocks (mirrors
    operators/dedup.embedding_near_dups exactly): bit k of a vector is
    sign(sum_d v[d] * ±1), where the ±1 is md5(k|d)-parity (d 0-indexed —
    DuckDB's unnest index i is 1-based, hence i - 1)."""
    return f"""
pb AS (
  SELECT ef.vec_id, t.k,
         CASE WHEN sum(ef.v * CASE WHEN substring(md5(CAST(t.k AS VARCHAR) || '|' ||
                    CAST(ef.i - 1 AS VARCHAR)), 1, 1)
                    IN ('8','9','a','b','c','d','e','f')
                    THEN 1.0 ELSE -1.0 END) > 0 THEN 1 ELSE 0 END AS bit
  FROM ef, unnest(generate_series(0, {n_planes - 1})) t(k)
  GROUP BY ef.vec_id, t.k
),
eblocks AS (
  SELECT vec_id,
         CAST(CAST(floor(k / {band_size}.0) AS INT) AS VARCHAR) || ':' ||
         string_agg(CAST(bit AS VARCHAR), '' ORDER BY k) AS block
  FROM pb GROUP BY vec_id, CAST(floor(k / {band_size}.0) AS INT)
),
epairs AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM eblocks x JOIN eblocks y ON x.block = y.block AND x.vec_id < y.vec_id
)"""


def oracle_sql() -> dict[str, str]:
    from ner_extractor_spark.functions.text import (BPE_ISH_PATTERN,
                                                     PII_PATTERNS, STOPWORDS)
    _BPE = BPE_ISH_PATTERN
    _SW_EN = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    PII_EMAIL = PII_PATTERNS["n_emails"]
    PII_PHONE = PII_PATTERNS["n_phones"]
    PII_IPV4 = PII_PATTERNS["n_ipv4"]
    pred_list = ", ".join(f"'{p}'" for p in PREDICATES)
    ann_ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    from ner_extractor_spark.functions.urls import \
        CANONICAL_URL_SQL as _CANON_URL_SQL

    # shared link-graph CTE prefix (planted hrefs -> canonicalized
    # domain edges); used by web_link_graph and web_domain_authority
    _LINK_EDGES_SQL = """
lpages AS (
  SELECT 'https://' || source || '.test/doc/' || CAST(doc_id AS VARCHAR)
           AS url,
         '<html><body><a href="https://' || source || '.Example/p/'
           || CAST(doc_id % 17 AS VARCHAR) || '/"></a>'
           || '<a href="https://hub.example:443/x?utm_source=t&b=1"></a>'
           || '<a href="/relative/path"></a><p>' || text
           || '</p></body></html>' AS html
  FROM documents
),
links AS (
  SELECT url AS src_url,
         unnest(regexp_extract_all(html, 'href="([^"]+)"', 1)) AS href
  FROM lpages
),
_urls AS (
  SELECT src_url AS u FROM links UNION SELECT href FROM links
),
canon AS (""" + _CANON_URL_SQL + """),
e0 AS (
  SELECT regexp_extract(cs._out, '^[a-z]+://([^/:?#]+)', 1) AS src_domain,
         regexp_extract(ch._out, '^[a-z]+://([^/:?#]+)', 1) AS dst_domain
  FROM links l
  JOIN canon cs ON cs._in = l.src_url
  JOIN canon ch ON ch._in = l.href
)"""

    from ner_extractor_spark.operators.html import MESSY_EXPECTED_SQL

    d = {
        # expected output of the REAL html extractor on the messy-
        # wrapped pages, computed from the clean source text (the
        # oracle never parses markup — a correct parse must invert the
        # wrapper exactly: trim lines, drop empties, join with \n)
        "html_extract_text": f"""
WITH {PAGES_SQL},{MESSY_EXPECTED_SQL}
SELECT url, text FROM expected""",

        "html_extract_meta": f"""
WITH {PAGES_SQL}
SELECT url, url AS title,
       string_split(text, chr(10))[1] AS meta_description,
       url || '/canonical' AS canonical
FROM pages""",

        "web_url_filter": r"""
WITH up AS (
  SELECT (CASE WHEN doc_id % 7 = 0 THEN 'https://ads.tracker.test/doc/'
               WHEN doc_id % 7 = 1 THEN 'https://sub.spam.example/doc/'
               ELSE 'https://' || source || '.test/doc/' END)
         || CAST(doc_id AS VARCHAR)
         || (CASE WHEN doc_id % 11 = 0 THEN '/casino' ELSE '' END) AS url
  FROM documents
),
h AS (
  SELECT url, lower(regexp_replace(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/:?#@]+)', 1),
           ':[0-9]+$', '')) AS host
  FROM up
),
sfx AS (
  SELECT url, array_to_string(p[i:len(p)], '.') AS domain
  FROM (SELECT url, string_split(host, '.') AS p FROM h),
       unnest(generate_series(1, len(p))) t(i)
),
blocked AS (
  SELECT DISTINCT url FROM sfx
  WHERE domain IN ('tracker.test', 'spam.example')
),
r AS (
  SELECT h.url, h.host,
         CASE WHEN b.url IS NOT NULL THEN 'blocked_domain'
              WHEN contains(lower(h.url), 'casino') THEN 'blocked_term'
              ELSE 'ok' END AS reason
  FROM h LEFT JOIN blocked b ON b.url = h.url
)
SELECT url, host, reason = 'ok' AS keep, reason FROM r""",

        "text_quality_classifier": f"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text),
                                              '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents)
  WHERE t != ''
),
feat AS (
  SELECT doc_id,
         CAST({_hexn_fold_sql("md5(term)", 8)} % 1024 AS INT) AS bucket
  FROM toks
),
wt AS (
  SELECT CAST(i AS INT) AS bucket,
         ({_hexn_fold_sql("md5('qw|' || CAST(i AS VARCHAR))", 8)} % 2048
          - 1024) / 1024.0 AS w
  FROM (SELECT unnest(generate_series(0, 1023)) AS i)
),
agg0 AS (
  SELECT doc_id, count(*) AS cnt, avg(COALESCE(w, 0)) AS avg_w
  FROM feat LEFT JOIN wt USING (bucket) GROUP BY doc_id
),
agg AS (
  -- TOTAL over documents (ADVICE r04): a zero-term doc scores the
  -- bias (0.0) with n_terms = 0 instead of vanishing
  SELECT d.doc_id, CAST(COALESCE(a.cnt, 0) AS BIGINT) AS n_terms,
         round(COALESCE(a.avg_w, 0), 6) AS score
  FROM documents d LEFT JOIN agg0 a USING (doc_id)
)
SELECT doc_id, n_terms, score,
       round(1.0 / (1.0 + exp(-score)), 6) AS prob,
       round(1.0 / (1.0 + exp(-score)), 6) >= 0.5 AS keep
FROM agg""",

        "chunk_documents": """
WITH dn AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS tl
  FROM documents
),
nc AS (
  SELECT doc_id, tl,
         1 + CAST(ceil(greatest(len(tl) - 64, 0) / 48.0) AS INT)
           AS n_chunks
  FROM dn
),
cw AS (
  SELECT doc_id, CAST(g.i AS INT) AS chunk_id,
         tl[CAST(g.i * 48 + 1 AS INT):CAST(g.i * 48 + 64 AS INT)] AS ct
  FROM nc, unnest(generate_series(0, n_chunks - 1)) g(i)
)
SELECT doc_id, chunk_id,
       CAST(len(list_filter(ct, t -> t != '')) AS INT) AS n_tokens,
       array_to_string(ct, ' ') AS chunk_text
FROM cw""",

        "dedup_exact_spans": """
WITH dn AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS tl
  FROM documents
),
pg AS (
  SELECT doc_id, CAST(t.i - 1 AS INT) AS pos,
         md5(array_to_string(tl[CAST(t.i AS INT):CAST(t.i + 7 AS INT)],
                             ' ')) AS g
  FROM dn, unnest(generate_series(1, len(tl) - 7)) t(i)
),
hot AS (
  SELECT g FROM pg GROUP BY g HAVING count(DISTINCT doc_id) >= 2
),
dup AS (SELECT doc_id, pos FROM pg JOIN hot USING (g)),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS grp
  FROM dup
)
SELECT doc_id, CAST(min(pos) AS INT) AS start,
       CAST(max(pos) + 7 AS INT) AS "end",
       CAST(max(pos) - min(pos) + 8 AS INT) AS n_tokens
FROM runs GROUP BY doc_id, grp""",

        "dedup_span_removed": """
WITH dn AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS tl
  FROM documents
),
pg AS (
  SELECT doc_id, CAST(t.i - 1 AS INT) AS pos,
         md5(array_to_string(tl[CAST(t.i AS INT):CAST(t.i + 7 AS INT)],
                             ' ')) AS g
  FROM dn, unnest(generate_series(1, len(tl) - 7)) t(i)
),
hot AS (
  SELECT g FROM pg GROUP BY g HAVING count(DISTINCT doc_id) >= 2
),
dup AS (SELECT doc_id, pos FROM pg JOIN hot USING (g)),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS grp
  FROM dup
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
  FROM runs GROUP BY doc_id, grp
),
tokpos AS (
  SELECT doc_id, CAST(t.i - 1 AS INT) AS i, tl[CAST(t.i AS INT)] AS tok
  FROM dn, unnest(generate_series(1, len(tl))) t(i)
),
flagged AS (
  SELECT DISTINCT p.doc_id, p.i
  FROM tokpos p JOIN spans s
    ON s.doc_id = p.doc_id AND p.i BETWEEN s.s AND s.e
),
kept AS (
  SELECT tp.doc_id,
         COALESCE(string_agg(tp.tok, ' ' ORDER BY tp.i)
                  FILTER (f.i IS NULL), '') AS text,
         CAST(count(*) FILTER (f.i IS NOT NULL) AS INT)
           AS n_removed_tokens
  FROM tokpos tp LEFT JOIN flagged f
    ON f.doc_id = tp.doc_id AND f.i = tp.i
  GROUP BY tp.doc_id
)
SELECT doc_id, md5(text) AS text_md5, n_removed_tokens FROM kept""",

        "decontam_overlap": "WITH " + _shingle_sql().lstrip() + """,
ev AS (
  SELECT DISTINCT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 50 = 0
)
SELECT s.doc_id, e.eval_id, CAST(count(*) AS BIGINT) AS n_shared
FROM sh s JOIN ev e USING (shingle)
GROUP BY 1, 2
HAVING count(*) >= 2""",

        "text_classifier_calibrated": f"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text),
                                              '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents)
  WHERE t != ''
),
feat AS (
  SELECT doc_id,
         CAST({_hexn_fold_sql("md5(term)", 8)} % 1024 AS INT) AS bucket
  FROM toks
),
wt AS (
  SELECT CAST(i AS INT) AS bucket,
         ({_hexn_fold_sql("md5('qw|' || CAST(i AS VARCHAR))", 8)} % 2048
          - 1024) / 1024.0 AS w
  FROM (SELECT unnest(generate_series(0, 1023)) AS i)
),
agg0 AS (
  SELECT doc_id, count(*) AS cnt, avg(COALESCE(w, 0)) AS avg_w
  FROM feat LEFT JOIN wt USING (bucket) GROUP BY doc_id
),
pr AS (
  SELECT d.doc_id, CAST(COALESCE(a.cnt, 0) AS BIGINT) AS n_terms,
         round(COALESCE(a.avg_w, 0), 6) AS score,
         round(1.0 / (1.0 + exp(-round(COALESCE(a.avg_w, 0), 6))), 6)
           AS prob
  FROM documents d LEFT JOIN agg0 a USING (doc_id)
),
thr AS (
  SELECT round(quantile_cont(prob, {1.0 - 0.8!r}), 6) AS cls_threshold
  FROM pr
)
SELECT doc_id, n_terms, score, prob,
       prob >= cls_threshold AS keep, cls_threshold
FROM pr, thr""",

        "text_ppl_buckets": f"""
WITH nt AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
),
tris AS (
  SELECT doc_id, substring(t, i, 3) AS tri
  FROM nt, unnest(generate_series(1, greatest(len(t) - 2, 1))) g(i)
),
model AS (SELECT tri, count(*) AS c FROM tris GROUP BY tri),
norm AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                count(*) AS n_distinct FROM model),
lm AS (
  SELECT d.doc_id,
         round(avg(ln((coalesce(m.c, 0) + 1.0)
                      / (norm.n_total + norm.n_distinct))), 6) AS lm_score
  FROM tris d LEFT JOIN model m USING (tri), norm
  GROUP BY d.doc_id
),
cuts AS (
  SELECT round(quantile_cont(lm_score, {1 / 3!r}), 6) AS lo_cut,
         round(quantile_cont(lm_score, {2 / 3!r}), 6) AS hi_cut
  FROM lm
)
SELECT CASE WHEN lm_score >= hi_cut THEN 'head'
            WHEN lm_score < lo_cut THEN 'tail'
            ELSE 'middle' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs, lo_cut, hi_cut
FROM lm, cuts
GROUP BY 1, 3, 4""",

        "text_ppl_by_lang": f"""
WITH nt AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
),
tris AS (
  SELECT doc_id, substring(t, i, 3) AS tri
  FROM nt, unnest(generate_series(1, greatest(len(t) - 2, 1))) g(i)
),
model AS (SELECT tri, count(*) AS c FROM tris GROUP BY tri),
norm AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                count(*) AS n_distinct FROM model),
lm AS (
  SELECT d.doc_id,
         round(avg(ln((coalesce(m.c, 0) + 1.0)
                      / (norm.n_total + norm.n_distinct))), 6) AS lm_score
  FROM tris d LEFT JOIN model m USING (tri), norm
  GROUP BY d.doc_id
),
lml AS (
  SELECT l.doc_id, d.lang, l.lm_score
  FROM lm l JOIN documents d USING (doc_id)
),
cuts AS (
  SELECT lang,
         round(quantile_cont(lm_score, {1 / 3!r}), 6) AS lo_cut,
         round(quantile_cont(lm_score, {2 / 3!r}), 6) AS hi_cut
  FROM lml GROUP BY lang
)
SELECT x.lang,
       CASE WHEN x.lm_score >= c.hi_cut THEN 'head'
            WHEN x.lm_score < c.lo_cut THEN 'tail'
            ELSE 'middle' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs, c.lo_cut, c.hi_cut
FROM lml x JOIN cuts c USING (lang)
GROUP BY 1, 2, 4, 5""",

        "dedup_first_seen": f"""
WITH {PAGES_SQL},
pts AS (
  SELECT url,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds(CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT))
           AS warc_ts,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
  FROM pages
),
r AS (
  SELECT h, url, warc_ts,
         row_number() OVER (PARTITION BY h
                            ORDER BY warc_ts, url) AS rk,
         count(*) OVER (PARTITION BY h) AS n_copies
  FROM pts
)
SELECT h, url AS keeper, warc_ts AS first_ts,
       CAST(n_copies AS BIGINT) AS n_copies
FROM r WHERE rk = 1""",

        "bpe_train": _bpe_oracle_sql(6),
        "bpe_encode": _bpe_encode_oracle_sql(6),

        "text_hashed_embed": f"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text),
                                              '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents)
  WHERE t != ''
),
cnt AS (
  SELECT doc_id,
         CAST({_hexn_fold_sql("md5(term)", 8)} % 32 AS INT) AS bucket,
         CAST(count(*) AS DOUBLE) AS c
  FROM toks GROUP BY 1, 2
),
grid AS (
  SELECT d.doc_id, CAST(g.i AS INT) AS bucket
  FROM (SELECT DISTINCT doc_id FROM cnt) d,
       unnest(generate_series(0, 31)) g(i)
),
dense AS (
  SELECT g.doc_id, g.bucket, COALESCE(cnt.c, 0) AS c
  FROM grid g LEFT JOIN cnt USING (doc_id, bucket)
),
nrm AS (
  SELECT doc_id, sqrt(sum(c * c)) AS n FROM dense GROUP BY doc_id
)
SELECT d.doc_id, d.bucket, round(d.c / nrm.n, 6) AS value
FROM dense d JOIN nrm USING (doc_id)""",

        "text_winnow": f"""
WITH nt AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
),
h AS (
  SELECT doc_id, greatest(len(t) - 4, 1) AS n_grams,
         list_transform(generate_series(1, greatest(len(t) - 4, 1)),
           i -> CAST({_hexn_fold_sql("md5(substring(t, CAST(i AS INT), 5))", 8)}
                AS BIGINT)) AS hs
  FROM nt
),
w AS (
  SELECT doc_id, CAST(n_grams AS INT) AS n_grams,
         list_sort(list_distinct(
           list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
             j -> list_min(hs[CAST(j AS INT):CAST(j + 3 AS INT)])))) AS fps
  FROM h
)
SELECT doc_id, n_grams,
       CAST(len(fps) AS INT) AS n_fingerprints,
       array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), ',')
         AS fingerprints_csv
FROM w""",

        "text_winnow_matches": f"""
WITH nt AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
),
h AS (
  SELECT doc_id, greatest(len(t) - 4, 1) AS n_grams,
         list_transform(generate_series(1, greatest(len(t) - 4, 1)),
           i -> CAST({_hexn_fold_sql("md5(substring(t, CAST(i AS INT), 5))", 8)}
                AS BIGINT)) AS hs
  FROM nt
),
w AS (
  SELECT doc_id,
         list_distinct(
           list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
             j -> list_min(hs[CAST(j AS INT):CAST(j + 3 AS INT)]))) AS fps
  FROM h
),
ex AS (SELECT doc_id, unnest(fps) AS fp FROM w),
keep AS (SELECT fp FROM ex GROUP BY fp HAVING count(*) <= 20),
exk AS (SELECT ex.doc_id, ex.fp FROM ex JOIN keep USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM exk a JOIN exk b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2""",

        "kg_extract_sentences": f"""
WITH {SENTS_SQL}
SELECT url, sent_id, sent_text,
       len(string_split(sent_text, ' ')) AS n_tokens
FROM sents""",

        "kg_tokenize": f"""
WITH {TOKS_SQL}
SELECT url, sent_id, pos, tok AS token FROM toks""",

        "kg_mentions": f"""
WITH {MEN_SQL}
SELECT url, sent_id, start, "end", surface, label FROM men""",

        "kg_mention_counts": f"""
WITH {MEN_SQL}
SELECT label, CAST(count(*) AS BIGINT) AS n FROM men GROUP BY label""",

        "kg_surface_topk": f"""
WITH {MEN_SQL}
SELECT surface, label, CAST(count(*) AS BIGINT) AS n
FROM men GROUP BY surface, label
ORDER BY n DESC, surface, label LIMIT 10""",

        "kg_label_vocab": f"""
WITH {MEN_SQL}
SELECT DISTINCT label FROM men""",

        "kg_entity_pool": f"""
WITH {MEN_SQL}
SELECT label, CAST(count(DISTINCT surface) AS BIGINT) AS n_surfaces
FROM men GROUP BY label""",

        "kg_primary_label": f"""
WITH {MEN_SQL},
first_m AS (
  SELECT url, sent_id, label,
         row_number() OVER (PARTITION BY url, sent_id ORDER BY start) rn
  FROM men
)
SELECT s.url, s.sent_id, coalesce(f.label, 'O') AS primary_label
FROM sents s LEFT JOIN first_m f
  ON s.url = f.url AND s.sent_id = f.sent_id AND f.rn = 1""",

        "kg_sentence_stats": f"""
WITH {SENTS_SQL}
SELECT CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(min(len(string_split(sent_text, ' '))) AS INT) AS min_len,
       CAST(max(len(string_split(sent_text, ' '))) AS INT) AS max_len,
       round(avg(len(string_split(sent_text, ' '))), 4) AS avg_len
FROM sents""",

        "text_word_freq": """
SELECT w, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
GROUP BY w HAVING count(*) >= 50""",

        "kg_triples": f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)}
SELECT url, sent_id, subj_start, subj_surface, subj_label,
       pred, obj_start, obj_surface, obj_label
FROM tri""",

        "kg_triples_typed": f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)}
SELECT pred, subj_label, obj_label, url, sent_id, subj_start,
       subj_surface, obj_start, obj_surface
FROM tri
WHERE (pred, subj_label, obj_label) IN ({", ".join(
    f"('{p}', '{s}', '{o}')" for p, s, o in KG_TYPE_CONSTRAINTS)})""",

        "kg_triple_pmi": f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
base AS (SELECT subj_surface AS subj, obj_surface AS obj FROM tri),
pair AS (SELECT subj, obj, count(*) AS n_pair FROM base GROUP BY subj, obj),
ns AS (SELECT subj, count(*) AS n_subj FROM base GROUP BY subj),
no AS (SELECT obj, count(*) AS n_obj FROM base GROUP BY obj),
tot AS (SELECT count(*) AS n_total FROM base)
SELECT p.subj, p.obj, CAST(p.n_pair AS BIGINT) AS n_pair,
       round(ln(CAST(p.n_pair AS DOUBLE) * tot.n_total
                / (ns.n_subj * no.n_obj)), 6) AS pmi
FROM pair p JOIN ns USING (subj) JOIN no USING (obj), tot""",

        "kg_nil_clusters": f"""
WITH RECURSIVE {MEN_SQL},
men2 AS (
  SELECT surface FROM men
  UNION ALL
  SELECT surface || 's' FROM men WHERE sent_id % 5 = 0
),
resid AS (
  SELECT DISTINCT trim(regexp_replace(lower(surface), '\\s+', ' ', 'g')) AS s
  FROM men2
  WHERE trim(regexp_replace(lower(surface), '\\s+', ' ', 'g'))
        NOT IN ('spark', 'customer join')
),
shn AS (
  SELECT DISTINCT s, substring('^' || s || '$', g.i, 3) AS sh
  FROM resid,
       unnest(generate_series(1, greatest(len('^' || s || '$') - 2, 1))) g(i)
),
sig AS (
  SELECT s, t.k, min(md5(CAST(t.k AS VARCHAR) || '|' || sh)) AS h
  FROM shn, unnest(generate_series(0, 11)) t(k)
  GROUP BY s, t.k
),
nbands AS (
  SELECT s, CAST(k // 2 AS INT) AS band,
         string_agg(h, '' ORDER BY h) AS bh
  FROM sig GROUP BY s, CAST(k // 2 AS INT)
),
np AS (
  SELECT DISTINCT x.s AS a, y.s AS b
  FROM nbands x JOIN nbands y
    ON x.band = y.band AND x.bh = y.bh AND x.s < y.s
),
nsym AS (SELECT a AS st, b AS tt FROM np UNION SELECT b, a FROM np),
nreach(node, comp) AS (
  SELECT s, s FROM resid
  UNION
  SELECT nsym.tt, nreach.comp FROM nsym JOIN nreach ON nsym.st = nreach.node
),
ncanon AS (SELECT node, min(comp) AS c FROM nreach GROUP BY node)
SELECT r.s AS alias_norm, 'NIL:' || ncanon.c AS nil_id
FROM resid r JOIN ncanon ON ncanon.node = r.s""",

        # kg_link_embed: dense-retrieval fallback linking — unlinked
        # surfaces (incl. the deterministic typo variants) embedded as
        # hashed char-3-gram count vectors (fold8(md5) % 32, same
        # term_bucket as the classifier), cosine over MinHash-LSH band
        # candidates (12 hashes, bands of 2 — the nil_clusters
        # construction), top-1 per surface at sim >= 0.5, entity via
        # the best-alias rule (max prior, min entity_id)
        "kg_link_embed": f"""
WITH {MEN_SQL},
aliases(alias_norm, entity_id, entity_type, prior) AS (VALUES {ALIAS_VALUES}),
abest AS (
  SELECT alias_norm, entity_id FROM (
    SELECT alias_norm, entity_id,
           row_number() OVER (PARTITION BY alias_norm
                              ORDER BY prior DESC, entity_id) AS rk
    FROM aliases) z WHERE rk = 1
),
men2 AS (
  SELECT surface FROM men
  UNION ALL
  SELECT surface || 's' FROM men WHERE sent_id % 5 = 0
),
eresid AS (
  SELECT DISTINCT trim(regexp_replace(lower(surface), '\\s+', ' ', 'g')) AS s
  FROM men2
  WHERE trim(regexp_replace(lower(surface), '\\s+', ' ', 'g'))
        NOT IN (SELECT alias_norm FROM aliases)
),
easurf AS (SELECT DISTINCT alias_norm AS s FROM aliases),
ersh AS (
  SELECT DISTINCT s, substring('^' || s || '$', g.i, 3) AS sh
  FROM eresid,
       unnest(generate_series(1, greatest(len('^' || s || '$') - 2, 1))) g(i)
),
eash AS (
  SELECT DISTINCT s, substring('^' || s || '$', g.i, 3) AS sh
  FROM easurf,
       unnest(generate_series(1, greatest(len('^' || s || '$') - 2, 1))) g(i)
),
ersig AS (
  SELECT s, t.k, min(md5(CAST(t.k AS VARCHAR) || '|' || sh)) AS h
  FROM ersh, unnest(generate_series(0, 11)) t(k) GROUP BY s, t.k),
erband AS (
  SELECT s, CAST(k // 2 AS INT) AS band, string_agg(h, '' ORDER BY h) AS bh
  FROM ersig GROUP BY s, CAST(k // 2 AS INT)),
easig AS (
  SELECT s, t.k, min(md5(CAST(t.k AS VARCHAR) || '|' || sh)) AS h
  FROM eash, unnest(generate_series(0, 11)) t(k) GROUP BY s, t.k),
eaband AS (
  SELECT s, CAST(k // 2 AS INT) AS band, string_agg(h, '' ORDER BY h) AS bh
  FROM easig GROUP BY s, CAST(k // 2 AS INT)),
ecand AS (
  SELECT DISTINCT r.s, a.s AS alias_r
  FROM erband r JOIN eaband a ON r.band = a.band AND r.bh = a.bh
),
ercnt AS (
  SELECT s, CAST({_hexn_fold_sql("md5(sh)", 8, 1)} % 32 AS INT) AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM ersh GROUP BY 1, 2),
eacnt AS (
  SELECT s, CAST({_hexn_fold_sql("md5(sh)", 8, 1)} % 32 AS INT) AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM eash GROUP BY 1, 2),
ernrm AS (SELECT s, sqrt(sum(c * c)) AS nrm FROM ercnt GROUP BY s),
eanrm AS (SELECT s, sqrt(sum(c * c)) AS nrm FROM eacnt GROUP BY s),
edots AS (
  SELECT p.s, p.alias_r, sum(r.c * a.c) AS d
  FROM ecand p
  JOIN ercnt r ON r.s = p.s
  JOIN eacnt a ON a.s = p.alias_r AND a.b = r.b
  GROUP BY 1, 2),
escore AS (
  SELECT d.s AS alias_norm, d.alias_r,
         round(d.d / (rn.nrm * an.nrm), 6) AS sim
  FROM edots d
  JOIN ernrm rn ON rn.s = d.s
  JOIN eanrm an ON an.s = d.alias_r
  WHERE round(d.d / (rn.nrm * an.nrm), 6) >= 0.5),
etop AS (
  SELECT alias_norm, alias_r, sim,
         row_number() OVER (PARTITION BY alias_norm
                            ORDER BY sim DESC, alias_r ASC) AS rk
  FROM escore)
SELECT t.alias_norm, t.alias_r AS matched_alias, b.entity_id, t.sim
FROM etop t JOIN abest b ON b.alias_norm = t.alias_r
WHERE t.rk = 1""",

        "kg_triple_provenance": f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
pts AS (
  -- warc_ts derivation mirrors sources/pages.pages_from_documents:
  -- epoch + doc_id seconds; doc_id recovered from the synth url tail
  SELECT url,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds(CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT))
           AS warc_ts
  FROM pages
)
SELECT t.subj_surface AS subj, t.pred, t.obj_surface AS obj,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT t.url) AS BIGINT) AS n_sources,
       min(p.warc_ts) AS first_seen,
       max(p.warc_ts) AS last_seen
FROM tri t JOIN pts p USING (url)
GROUP BY 1, 2, 3""",

        # kg_entity_cards: per-subject top-5 facts by evidence over
        # the provenance rollup (ordering replicated literally) + the
        # card-header totals
        "kg_entity_cards": f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
pts AS (
  SELECT url,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds(CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT))
           AS warc_ts
  FROM pages
),
cprov AS (
  SELECT t.subj_surface AS subj, t.pred, t.obj_surface AS obj,
         CAST(count(*) AS BIGINT) AS n_mentions,
         CAST(count(DISTINCT t.url) AS BIGINT) AS n_sources,
         min(p.warc_ts) AS first_seen
  FROM tri t JOIN pts p USING (url)
  GROUP BY 1, 2, 3),
ctot AS (
  SELECT subj, CAST(count(*) AS BIGINT) AS n_facts,
         CAST(count(DISTINCT pred) AS BIGINT) AS n_preds
  FROM cprov GROUP BY 1),
crk AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY subj
    ORDER BY n_sources DESC, n_mentions DESC, first_seen ASC,
             pred ASC, obj ASC) AS INT) AS rank
  FROM cprov)
SELECT r.subj, r.pred, r.obj, r.n_sources, r.n_mentions, r.first_seen,
       r.rank, t.n_facts, t.n_preds
FROM crk r JOIN ctot t USING (subj)
WHERE r.rank <= 5""",

        "kg_negative_samples": f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
pool AS (
  SELECT obj_label AS lbl,
         -- mirror Spark's pool_cap=10000 slice (ADVICE r03): both
         -- engines must index the identical bounded pool
         list_sort(list(DISTINCT obj_surface))[1:10000] AS pl
  FROM tri GROUP BY obj_label
),
fan AS (
  SELECT t.*, pool.pl, g.i AS neg_i,
         md5('42|' || t.url || '|' || CAST(t.sent_id AS VARCHAR) || '|' ||
             CAST(t.subj_start AS VARCHAR) || '|' ||
             CAST(t.obj_start AS VARCHAR) || '|' || t.pred || '|' ||
             CAST(g.i AS VARCHAR)) AS h
  FROM tri t JOIN pool ON pool.lbl = t.obj_label,
       unnest(generate_series(0, 1)) g(i)
),
neg AS (
  SELECT url, sent_id, subj_surface, subj_label, pred, obj_surface, neg_i,
         pl[1 + CAST({_hexn_fold_sql("h", 8)} % len(pl) AS INT)]
           AS neg_obj_surface
  FROM fan
)
SELECT * FROM neg WHERE neg_obj_surface != obj_surface""",

        "kg_viterbi_tags": f"""
WITH RECURSIVE {TOKS_SQL}{_viterbi_sql()}
SELECT url, sent_id,
       CASE WHEN s0 >= s1 AND s0 >= s2 THEN p0
            WHEN s1 >= s2 THEN p1 ELSE p2 END AS path,
       CASE WHEN s0 >= s1 AND s0 >= s2 THEN s0
            WHEN s1 >= s2 THEN s1 ELSE s2 END AS score
FROM vlast""",

        "kg_tag_linear": f"""
WITH RECURSIVE {TOKS_SQL}{_linear_viterbi_sql()}
SELECT b.url, b.sent_id,
       string_agg(string_split(b.path, ',')[s.sp + 1], ','
                  ORDER BY s.sp) AS word_tags,
       CAST(count(*) AS INT) AS n_words,
       b.score AS score
FROM lbest b
JOIN subs s ON s.url = b.url AND s.sent_id = b.sent_id AND s.fw
GROUP BY b.url, b.sent_id, b.score""",

        "graph_pagerank": f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
edges AS MATERIALIZED (
  SELECT DISTINCT subj_surface AS src, obj_surface AS dst FROM tri
){_pagerank_sql(5, 0.85)}
SELECT node, rank FROM pr5""",

        "graph_degree": f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
edges AS (SELECT DISTINCT subj_surface AS src, obj_surface AS dst FROM tri),
og AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg
       FROM edges GROUP BY src),
ig AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_deg
       FROM edges GROUP BY dst)
SELECT coalesce(og.node, ig.node) AS node,
       coalesce(og.out_deg, 0) AS out_deg,
       coalesce(ig.in_deg, 0) AS in_deg
FROM og FULL JOIN ig ON og.node = ig.node""",

        "graph_triangles": f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
edges AS (SELECT DISTINCT subj_surface AS src, obj_surface AS dst FROM tri),
oe AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges
  WHERE src != dst AND src IS NOT NULL AND dst IS NOT NULL
),
tri3 AS (
  SELECT x.a, x.b, y.b AS c
  FROM oe x JOIN oe y ON y.a = x.b
  JOIN oe z ON z.a = x.a AND z.b = y.b
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS node FROM tri3)
GROUP BY node""",

        "graph_communities": f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
edges AS (
  SELECT DISTINCT subj_surface AS src, obj_surface AS dst FROM tri
  WHERE subj_surface != obj_surface
    AND subj_surface IS NOT NULL AND obj_surface IS NOT NULL
),
adj AS (
  SELECT src AS node, dst AS nbr FROM edges
  UNION
  SELECT dst AS node, src AS nbr FROM edges
),
{_lp_rounds_sql(4)}
SELECT node, label AS community FROM l4""",

        "skew_profile_surfaces": f"""
WITH {MEN_SQL},
counts AS (
  SELECT surface AS key, CAST(count(*) AS BIGINT) AS n
  FROM men GROUP BY surface
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
SELECT CAST(row_number() OVER (ORDER BY n DESC, key) AS INT) AS rank,
       key, n, round(CAST(n AS DOUBLE) / total, 6) AS share
FROM counts, tot
ORDER BY n DESC, key LIMIT 10""",

        # identical result contract for both link configurations: the
        # salted shuffle join must be indistinguishable from the
        # broadcast join to the oracle
        "kg_link_alias_salted": (_link_alias_sql := f"""
WITH {MEN_SQL},
aliases(alias_norm, entity_id, entity_type, prior) AS (VALUES {ALIAS_VALUES}),
linked AS (
  SELECT m.url, m.sent_id, m.start, a.entity_id,
         row_number() OVER (PARTITION BY m.url, m.sent_id, m.start
                            ORDER BY a.prior DESC, a.entity_id) rk
  FROM men m JOIN aliases a
    ON trim(regexp_replace(lower(m.surface), '\\s+', ' ', 'g')) = a.alias_norm
)
SELECT entity_id, CAST(count(*) AS BIGINT) AS n_mentions
FROM linked WHERE rk = 1 GROUP BY entity_id"""),
        "kg_link_alias": _link_alias_sql,

        "kg_metrics_prf": f"""
WITH {MEN_SQL},
gold_tl AS (
  SELECT url, sent_id, pos, tok,
         lead(tok) OVER (PARTITION BY url, sent_id ORDER BY pos) AS ntok
  FROM toks
),
men_gold AS (
  SELECT url, sent_id, pos AS start, pos + 1 AS "end",
         tok || ' ' || ntok AS surface,
         CASE WHEN tok = 'customer' AND ntok = 'join' THEN 'ALGO'
              WHEN tok = 'merge' AND ntok = 'group' THEN 'ALGO'
              WHEN tok = 'table' AND ntok = 'hash' THEN 'ALGO' END AS label
  FROM gold_tl
  WHERE CASE WHEN tok = 'customer' AND ntok = 'join' THEN 'ALGO'
             WHEN tok = 'merge' AND ntok = 'group' THEN 'ALGO'
             WHEN tok = 'table' AND ntok = 'hash' THEN 'ALGO' END IS NOT NULL
  UNION ALL
  SELECT url, sent_id, pos, pos, tok,
         CASE WHEN tok = 'spark' THEN 'ORG'
              WHEN tok = 'window' THEN 'MISC' END
  FROM gold_tl
  WHERE CASE WHEN tok = 'spark' THEN 'ORG'
             WHEN tok = 'window' THEN 'MISC' END IS NOT NULL
),
counts AS (
  SELECT
    (SELECT count(*) FROM men p JOIN men_gold g
       ON p.url = g.url AND p.sent_id = g.sent_id AND p.label = g.label
      AND p.start = g.start AND p."end" = g."end") AS tp,
    (SELECT count(*) FROM men) AS n_pred,
    (SELECT count(*) FROM men_gold) AS n_gold
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_gold AS BIGINT) AS n_gold,
       round(CAST(tp AS DOUBLE) / n_pred, 6) AS "precision",
       round(CAST(tp AS DOUBLE) / n_gold, 6) AS recall,
       round(2.0 * tp / (n_pred + n_gold), 6) AS f1
FROM counts""",

        "kg_token_accuracy": f"""
WITH {TOKS_SQL},
tg AS (
  SELECT url, sent_id, pos, tok,
         lead(tok) OVER w AS ntok, lag(tok) OVER w AS ptok
  FROM toks WINDOW w AS (PARTITION BY url, sent_id ORDER BY pos)
),
ptags AS (
  SELECT url, sent_id, pos,
    CASE WHEN tok = 'customer' AND ntok = 'join' THEN 'B-ALGO'
         WHEN tok = 'table' AND ntok = 'hash' THEN 'B-ALGO'
         WHEN ptok = 'customer' AND tok = 'join' THEN 'I-ALGO'
         WHEN ptok = 'table' AND tok = 'hash' THEN 'I-ALGO'
         WHEN tok = 'spark' THEN 'B-ORG'
         WHEN tok = 'window' THEN 'B-MISC'
         WHEN tok = 'stream' THEN 'B-MISC'
         ELSE 'O' END AS tag
  FROM tg
),
gtags AS (
  SELECT url, sent_id, pos,
    CASE WHEN tok = 'customer' AND ntok = 'join' THEN 'B-ALGO'
         WHEN tok = 'table' AND ntok = 'hash' THEN 'B-ALGO'
         WHEN tok = 'merge' AND ntok = 'group' THEN 'B-ALGO'
         WHEN ptok = 'customer' AND tok = 'join' THEN 'I-ALGO'
         WHEN ptok = 'table' AND tok = 'hash' THEN 'I-ALGO'
         WHEN ptok = 'merge' AND tok = 'group' THEN 'I-ALGO'
         WHEN tok = 'spark' THEN 'B-ORG'
         WHEN tok = 'window' THEN 'B-MISC'
         ELSE 'O' END AS tag
  FROM tg
)
SELECT round(avg(CASE WHEN p.tag = g.tag THEN 1.0 ELSE 0.0 END), 6) AS accuracy
FROM ptags p JOIN gtags g USING (url, sent_id, pos)""",

        "kg_metrics_per_type": f"""
WITH {MEN_SQL}{_men_cte_only(GAZ_GOLD, 'g')},
tp AS (
  SELECT p.label, count(*) AS tp
  FROM men p JOIN gmen g
    ON p.url = g.url AND p.sent_id = g.sent_id AND p.label = g.label
   AND p.start = g.start AND p."end" = g."end"
  GROUP BY p.label
),
np AS (SELECT label, count(*) AS n_pred FROM men GROUP BY label),
ng AS (SELECT label, count(*) AS support FROM gmen GROUP BY label),
merged AS (
  SELECT coalesce(ng.label, np.label, tp.label) AS label,
         coalesce(tp.tp, 0) AS tp,
         coalesce(np.n_pred, 0) AS n_pred,
         coalesce(ng.support, 0) AS support
  FROM ng FULL JOIN np ON ng.label = np.label
          FULL JOIN tp ON coalesce(ng.label, np.label) = tp.label
)
SELECT label, CAST(tp AS BIGINT) AS tp, CAST(n_pred AS BIGINT) AS n_pred,
       CAST(support AS BIGINT) AS support,
       round(CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END, 6) AS "precision",
       round(CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END, 6) AS recall,
       round(CASE WHEN n_pred + support > 0 THEN 2.0 * tp / (n_pred + support) ELSE 0.0 END, 6) AS f1
FROM merged""",

        "cc_components": """
SELECT doc_id AS node, min(doc_id) OVER (PARTITION BY source) AS comp
FROM documents
""",

        "dedup_exact": """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h,
       min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n_dups
FROM documents GROUP BY 1""",

        "dedup_minhash_pairs": f"""
WITH {_minhash_bands_sql()}
SELECT a, b FROM mpairs""",

        # blocking-quality audit: candidates from the banded LSH
        # replica, truth from the exact shingle-equijoin Jaccard
        # (exhaustive — any pair with jaccard > 0 shares a shingle)
        "dedup_blocking_stats": f"""
WITH {_minhash_bands_sql()},
sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
inter AS (
  SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS ninter
  FROM sh sa JOIN sh sb ON sb.shingle = sa.shingle AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.a, i.b FROM inter i
  JOIN sizes za ON za.doc_id = i.a
  JOIN sizes zb ON zb.doc_id = i.b
  WHERE CAST(i.ninter AS DOUBLE) / (za.nsh + zb.nsh - i.ninter) >= 0.5
),
nd AS (SELECT count(*) AS n_docs FROM documents),
nc AS (SELECT count(*) AS n_candidates FROM mpairs),
nt AS (SELECT count(*) AS n_true_pairs FROM truth),
cg AS (
  SELECT count(*) AS n_caught
  FROM truth t JOIN mpairs c ON c.a = t.a AND c.b = t.b
)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_caught AS BIGINT) AS n_caught,
       round(CAST(n_caught AS DOUBLE) / greatest(n_true_pairs, 1), 6)
         AS pairs_completeness,
       round(CAST(n_caught AS DOUBLE) / greatest(n_candidates, 1), 6)
         AS pairs_quality,
       round(1.0 - CAST(n_candidates AS DOUBLE)
                   / greatest(CAST(n_docs AS DOUBLE) * (n_docs - 1) / 2,
                              1.0), 6)
         AS reduction_ratio
FROM nd, nc, nt, cg""",

        "dedup_jaccard": f"""
WITH {_minhash_bands_sql()},
inter AS (
  SELECT p.a, p.b, count(*) AS ninter
  FROM mpairs p
  JOIN sh sa ON sa.doc_id = p.a
  JOIN sh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle
  GROUP BY p.a, p.b
),
sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id)
SELECT p.a, p.b,
       round(CAST(coalesce(i.ninter, 0) AS DOUBLE) /
             (za.nsh + zb.nsh - coalesce(i.ninter, 0)), 6) AS jaccard
FROM mpairs p
LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
JOIN sizes za ON za.doc_id = p.a
JOIN sizes zb ON zb.doc_id = p.b""",

        "dedup_resolve": f"""
WITH RECURSIVE {_minhash_bands_sql()},
sym AS (
  SELECT a AS s, b AS t FROM mpairs
  UNION SELECT b, a FROM mpairs
),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT sym.t, reach.comp FROM sym JOIN reach ON sym.s = reach.node
),
canon AS (SELECT node, min(comp) AS keeper FROM reach GROUP BY node)
SELECT d.doc_id, c.keeper, d.doc_id = c.keeper AS is_keeper
FROM documents d JOIN canon c ON c.node = d.doc_id""",

        "dedup_simhash": f"""
WITH {_simhash_bits_sql(16)},
keys AS (
  -- pigeonhole blocking on max_hamming+1 = 3 segments of the 16-bit
  -- fingerprint (sizes 6,5,5 — simhash_segments(16, 2)); mirrors
  -- operators/dedup.simhash_block_pairs exactly
  SELECT doc_id,
         'S0:' || b0||b1||b2||b3||b4||b5 AS k0,
         'S1:' || b6||b7||b8||b9||b10 AS k1,
         'S2:' || b11||b12||b13||b14||b15 AS k2,
         [b0,b1,b2,b3,b4,b5,b6,b7,b8,b9,b10,b11,b12,b13,b14,b15] AS bits
  FROM bits
),
blocks AS (
  SELECT doc_id, bits, k0 AS block FROM keys
  UNION ALL
  SELECT doc_id, bits, k1 FROM keys
  UNION ALL
  SELECT doc_id, bits, k2 FROM keys
),
spairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.bits AS ba, y.bits AS bb
  FROM blocks x JOIN blocks y ON x.block = y.block AND x.doc_id < y.doc_id
)
SELECT a, b,
       CAST(len(list_filter(list_zip(ba, bb), z -> z[1] != z[2])) AS INT) AS hamming
FROM spairs
WHERE len(list_filter(list_zip(ba, bb), z -> z[1] != z[2])) <= 2""",

        "embedding_near_dups": f"""
WITH {EMB_FLAT_SQL},{_hyperplane_bands_sql(16, 4)},
dots AS (
  SELECT p.a, p.b, sum(fa.v * fb.v) AS d
  FROM epairs p
  JOIN ef fa ON fa.vec_id = p.a
  JOIN ef fb ON fb.vec_id = p.b AND fb.i = fa.i
  GROUP BY p.a, p.b
)
SELECT d.a, d.b, round(d.d / (na.nrm * nb.nrm), 6) AS cosine
FROM dots d JOIN en na ON na.vec_id = d.a JOIN en nb ON nb.vec_id = d.b
WHERE round(d.d / (na.nrm * nb.nrm), 6) >= 0.4""",

        "ann_topk": f"""
WITH {EMB_FLAT_SQL},
q AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id IN ({ann_ids})),
dots AS (
  SELECT qf.vec_id AS qid, cf.vec_id AS vec_id, sum(qf.v * cf.v) AS d
  FROM ef qf JOIN ef cf ON qf.i = cf.i
  WHERE qf.vec_id IN ({ann_ids})
  GROUP BY qf.vec_id, cf.vec_id
),
scored AS (
  SELECT dots.qid, dots.vec_id,
         round(dots.d / (nq.nrm * nc.nrm), 6) AS cosine
  FROM dots JOIN en nq ON nq.vec_id = dots.qid
            JOIN en nc ON nc.vec_id = dots.vec_id
),
ranked AS (
  SELECT qid, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INT) AS rank
  FROM scored
)
SELECT qid, vec_id, cosine, rank FROM ranked WHERE rank <= 5""",

        "ann_ivf_topk": f"""
WITH {EMB_FLAT_SQL},{_ivf_assign_sql(16)},
probes AS (
  SELECT vec_id AS qid, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS r
    FROM ccos WHERE vec_id IN ({ann_ids})) t WHERE r <= 4
),
dots AS (
  SELECT p.qid, a.vec_id, sum(qf.v * cf.v) AS d
  FROM probes p
  JOIN assigned a ON a.cell = p.cell
  JOIN ef qf ON qf.vec_id = p.qid
  JOIN ef cf ON cf.vec_id = a.vec_id AND cf.i = qf.i
  GROUP BY p.qid, a.vec_id
),
scored AS (
  SELECT dots.qid, dots.vec_id, round(dots.d / (nq.nrm * nc.nrm), 6) AS cosine
  FROM dots JOIN en nq ON nq.vec_id = dots.qid
            JOIN en nc ON nc.vec_id = dots.vec_id
),
ranked AS (
  SELECT qid, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INT) AS rank
  FROM scored)
SELECT qid, vec_id, cosine, rank FROM ranked WHERE rank <= 5""",

        "ann_ivf_recall": f"""
WITH {EMB_FLAT_SQL},{_ivf_assign_sql(16)},
probes AS (
  SELECT vec_id AS qid, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS r
    FROM ccos WHERE vec_id IN ({ann_ids})) t WHERE r <= 4
),
idots AS (
  SELECT p.qid, a.vec_id, sum(qf.v * cf.v) AS d
  FROM probes p
  JOIN assigned a ON a.cell = p.cell
  JOIN ef qf ON qf.vec_id = p.qid
  JOIN ef cf ON cf.vec_id = a.vec_id AND cf.i = qf.i
  GROUP BY p.qid, a.vec_id
),
iscored AS (
  SELECT idots.qid, idots.vec_id,
         round(idots.d / (nq.nrm * nc.nrm), 6) AS cosine
  FROM idots JOIN en nq ON nq.vec_id = idots.qid
             JOIN en nc ON nc.vec_id = idots.vec_id
),
ivf AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id) AS rank
    FROM iscored) t WHERE rank <= 5
),
xdots AS (
  SELECT qf.vec_id AS qid, cf.vec_id AS vec_id, sum(qf.v * cf.v) AS d
  FROM ef qf JOIN ef cf ON qf.i = cf.i
  WHERE qf.vec_id IN ({ann_ids})
  GROUP BY qf.vec_id, cf.vec_id
),
xscored AS (
  SELECT xdots.qid, xdots.vec_id,
         round(xdots.d / (nq.nrm * nc.nrm), 6) AS cosine
  FROM xdots JOIN en nq ON nq.vec_id = xdots.qid
             JOIN en nc ON nc.vec_id = xdots.vec_id
),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id) AS rank
    FROM xscored) t WHERE rank <= 5
)
SELECT e.qid,
       CAST(count(i.vec_id) AS BIGINT) AS n_matched,
       round(count(i.vec_id) / 5.0, 6) AS recall_at_5
FROM exact e LEFT JOIN ivf i ON i.qid = e.qid AND i.vec_id = e.vec_id
GROUP BY e.qid""",

        "embed_homogeneity": f"""
WITH {EMB_FLAT_SQL},{_ivf_assign_sql(16)},
cont AS (
  SELECT a.cell, e.label, count(*) AS n
  FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
  GROUP BY a.cell, e.label
),
s1 AS (SELECT CAST(sum(n) AS DOUBLE) AS n_total, sum(n * ln(n)) AS s1 FROM cont),
s2 AS (SELECT sum(nk * ln(nk)) AS s2
       FROM (SELECT sum(n) AS nk FROM cont GROUP BY cell) t),
s3 AS (SELECT sum(nl * ln(nl)) AS s3
       FROM (SELECT sum(n) AS nl FROM cont GROUP BY label) t)
SELECT CAST(n_total AS BIGINT) AS n_total,
       round(ln(n_total) - s3 / n_total, 6) AS h_c,
       round((s2 - s1) / n_total, 6) AS h_ck,
       round(CASE WHEN ln(n_total) - s3 / n_total > 0
                  THEN 1 - ((s2 - s1) / n_total) / (ln(n_total) - s3 / n_total)
                  ELSE 1.0 END, 6) AS homogeneity
FROM s1, s2, s3""",

        "text_token_stats": r"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '\s+') AS tl,
         string_split_regex(trim(lower(text)), '\s+') AS tll
  FROM documents
)
SELECT doc_id,
       CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(tl) END AS n_ws_tokens,
       len(regexp_extract_all(text, '""" + _BPE + r"""')) AS n_bpe_tokens,
       round(CAST(len(list_filter(tll, x -> x IN (""" + _SW_EN + r""")))
             AS DOUBLE) / len(tll), 6) AS stop_ratio_en
FROM t""",

        "sample_mixture": f"""
WITH h AS (
  -- per-(source, md5-bucket) streams, mirroring mixture_sample's
  -- scale-safe windows (never a per-source-only partition)
  SELECT doc_id, source, md5('42|' || CAST(doc_id AS VARCHAR)) AS hh
  FROM documents
),
b AS (SELECT doc_id, source, hh, {_hex4_fold_sql("hh")} % 16 AS bkt FROM h),
c AS (SELECT source, bkt, count(*) AS n FROM b GROUP BY source, bkt),
w(source, frac) AS (VALUES ('src0', 0.5), ('src1', 0.25),
                           ('src2', 1.0), ('src3', 0.125)),
r AS (
  SELECT doc_id, source, bkt,
         row_number() OVER (PARTITION BY source, bkt ORDER BY hh) AS rk
  FROM b
)
SELECT r.doc_id, r.source
FROM r JOIN c USING (source, bkt) JOIN w USING (source)
WHERE rk <= floor(CAST(frac AS DOUBLE) * n)""",

        "pack_bins": f"""
WITH t AS (
  SELECT doc_id,
         md5('42|' || CAST(doc_id AS VARCHAR)) AS h,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens, h,
         {_hex4_fold_sql("h")} % 16 AS bucket
  FROM t
),
cumu AS (
  SELECT bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM b
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(floor((cum - n_tokens) / 500.0) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tok_sum
FROM cumu GROUP BY 1, 2""",

        "multimodal_resize": """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(length(text) % 500 + 10 AS INT) AS w,
         CAST(length(text) % 300 + 10 AS INT) AS h
  FROM documents
),
s AS (SELECT media_id, w, h, 64.0 / greatest(w, h, 1) AS scale FROM m)
SELECT media_id,
       CASE WHEN scale < 1 THEN greatest(1, CAST(floor(w * scale) AS INT))
            ELSE w END AS out_width,
       CASE WHEN scale < 1 THEN greatest(1, CAST(floor(h * scale) AS INT))
            ELSE h END AS out_height
FROM s""",

        "text_trigram_lm": r"""
WITH nt AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
),
tris AS (
  SELECT doc_id, substring(t, i, 3) AS tri
  FROM nt, unnest(generate_series(1, greatest(len(t) - 2, 1))) g(i)
),
model AS (SELECT tri, count(*) AS c FROM tris GROUP BY tri),
norm AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                count(*) AS n_distinct FROM model)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_tris,
       round(avg(ln((coalesce(m.c, 0) + 1.0)
                    / (norm.n_total + norm.n_distinct))), 6) AS lm_score
FROM tris d LEFT JOIN model m USING (tri), norm
GROUP BY d.doc_id""",

        "text_tfidf_topk": r"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text),
                                              '\s+', ' ', 'g')), ' ')) AS t
        FROM documents)
  WHERE t != ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
idf AS (
  SELECT term, ln((nd.n_docs + 1.0) / (count(*) + 1.0)) + 1.0 AS idf
  FROM tf, nd GROUP BY term, nd.n_docs
),
scored AS (
  SELECT tf.doc_id, tf.term, round(tf.tf * idf.idf, 6) AS tfidf
  FROM tf JOIN idf USING (term)
),
ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term) AS INT) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 5""",

        "url_canonicalize": """
WITH _urls AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.Ex.COM:80'
              ELSE 'HTTPS://Ex.org:443' END
         || '/' || source || '/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
         || '?utm_source=x&b=' || CAST(doc_id % 5 AS VARCHAR)
         || '&a=' || CAST(doc_id % 7 AS VARCHAR)
         || '#sec' || CAST(doc_id % 2 AS VARCHAR) AS u
  FROM documents
),
canon AS (""" + _CANON_URL_SQL + """)
SELECT d.doc_id, d.u AS url_raw, c._out AS url_canon
FROM _urls d JOIN canon c ON c._in = d.u""",

        "web_link_graph": "WITH " + _LINK_EDGES_SQL + """
SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS n
FROM e0
WHERE dst_domain != '' AND src_domain != ''
GROUP BY src_domain, dst_domain""",

        "skew_profile_domains": "WITH " + _LINK_EDGES_SQL + """,
counts AS (
  SELECT dst_domain AS key, CAST(count(*) AS BIGINT) AS n
  FROM e0 WHERE dst_domain != '' GROUP BY dst_domain
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
SELECT CAST(row_number() OVER (ORDER BY n DESC, key) AS INT) AS rank,
       key, n, round(CAST(n AS DOUBLE) / total, 6) AS share
FROM counts, tot
ORDER BY n DESC, key LIMIT 5""",

        "web_domain_authority": "WITH " + _LINK_EDGES_SQL + """,
edges AS MATERIALIZED (
  SELECT DISTINCT src_domain AS src, dst_domain AS dst FROM e0
  WHERE dst_domain != '' AND src_domain != ''
)""" + _pagerank_sql(5, 0.85) + """
SELECT node, rank FROM pr5""",

        # kg_khop: bounded-k BFS over the symmetrized domain link
        # graph — recursive CTE with per-iteration UNION dedup (BFS,
        # not path enumeration); seed = top-degree hub on the UNCAPPED
        # graph, traversal capped at 4 smallest-id neighbors per node,
        # hop = min reach depth <= 3 (all replicated literally)
        "kg_khop": "WITH RECURSIVE " + _LINK_EDGES_SQL + """,
kedges AS (
  SELECT DISTINCT src_domain AS src, dst_domain AS dst FROM e0
  WHERE dst_domain != '' AND src_domain != ''
),
ksym AS (
  SELECT src AS s, dst AS d FROM kedges
  UNION
  SELECT dst AS s, src AS d FROM kedges
),
kdeg AS (SELECT s, count(*) AS deg FROM ksym GROUP BY 1),
kseed AS (SELECT s AS node FROM kdeg ORDER BY deg DESC, s ASC LIMIT 1),
kadj AS (
  SELECT s, d FROM (
    SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY d ASC) AS rn
    FROM ksym) z
  WHERE rn <= 4
),
bfs(node, hop) AS (
  SELECT node, 0 FROM kseed
  UNION
  SELECT a.d, b.hop + 1 FROM bfs b JOIN kadj a ON a.s = b.node
  WHERE b.hop < 3
)
SELECT node, CAST(min(hop) AS INT) AS hop FROM bfs GROUP BY 1""",

        # kg_khop_subgraph: the neighborhood's induced edge set —
        # the BFS UNROLLED to k=3 plain CTEs (mirroring the Spark loop
        # hop for hop) rather than WITH RECURSIVE: DuckDB inflates the
        # link-extraction CTE chain's cardinality under WITH RECURSIVE
        # (kg_khop is immune — all its CTEs are DISTINCT — but the
        # edge WEIGHTS here are count(*)-sensitive), then the weighted
        # domain edges with BOTH endpoints inside the neighborhood,
        # annotated with endpoint hops
        "kg_khop_subgraph": "WITH " + _LINK_EDGES_SQL + """,
kedges AS (
  SELECT DISTINCT src_domain AS src, dst_domain AS dst FROM e0
  WHERE dst_domain != '' AND src_domain != ''
),
kwedges AS (
  SELECT src_domain AS src, dst_domain AS dst,
         CAST(count(*) AS BIGINT) AS n
  FROM e0 WHERE dst_domain != '' AND src_domain != ''
  GROUP BY 1, 2
),
ksym AS (
  SELECT src AS s, dst AS d FROM kedges
  UNION
  SELECT dst AS s, src AS d FROM kedges
),
kdeg AS (SELECT s, count(*) AS deg FROM ksym GROUP BY 1),
kseed AS (SELECT s AS node FROM kdeg ORDER BY deg DESC, s ASC LIMIT 1),
kadj AS (
  SELECT s, d FROM (
    SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY d ASC) AS rn
    FROM ksym) z
  WHERE rn <= 4
),
h0 AS (SELECT node, 0 AS hop FROM kseed),
h1 AS (
  SELECT node, 1 AS hop FROM (
    SELECT DISTINCT a.d AS node FROM h0 JOIN kadj a ON a.s = h0.node)
  WHERE node NOT IN (SELECT node FROM h0)),
h2 AS (
  SELECT node, 2 AS hop FROM (
    SELECT DISTINCT a.d AS node FROM h1 JOIN kadj a ON a.s = h1.node)
  WHERE node NOT IN (SELECT node FROM h0 UNION ALL SELECT node FROM h1)),
h3 AS (
  SELECT node, 3 AS hop FROM (
    SELECT DISTINCT a.d AS node FROM h2 JOIN kadj a ON a.s = h2.node)
  WHERE node NOT IN (SELECT node FROM h0 UNION ALL SELECT node FROM h1
                     UNION ALL SELECT node FROM h2)),
hood AS (
  SELECT node, CAST(hop AS INT) AS hop FROM (
    SELECT * FROM h0 UNION ALL SELECT * FROM h1
    UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3))
SELECT e.src, e.dst, e.n, hs.hop AS src_hop, hd.hop AS dst_hop
FROM kwedges e
JOIN hood hs ON hs.node = e.src
JOIN hood hd ON hd.node = e.dst""",

        "augment_entities": f"""
WITH {MEN_SQL},
pool AS (
  SELECT label, list_sort(list(DISTINCT surface)) AS surfaces
  FROM men GROUP BY label
),
dec AS (
  SELECT m.url, m.sent_id, m.start, m."end", m.label, m.surface,
         md5('42|' || m.url || '|' || CAST(m.sent_id AS VARCHAR) || '|' ||
             CAST(m.start AS VARCHAR)) AS h,
         p.surfaces AS surfaces
  FROM men m JOIN pool p USING (label)
),
cand AS (
  -- replace decision: first 8 md5 hex digits as uniform [0,1);
  -- pool pick: next 8 hex digits mod pool size (0-based -> +1)
  SELECT url, sent_id, start, "end", label,
         surfaces[1 + CAST({_hexn_fold_sql("h", 8, 9)} % len(surfaces) AS INT)]
           AS replacement
  FROM dec
  WHERE CAST({_hexn_fold_sql("h", 8, 1)} AS DOUBLE) / 4294967295.0 <= 0.3
    AND surfaces[1 + CAST({_hexn_fold_sql("h", 8, 9)} % len(surfaces) AS INT)]
        != surface
),
rep AS (
  SELECT * FROM (
    SELECT c.*, row_number() OVER (PARTITION BY url, sent_id
                                   ORDER BY start) AS rk
    FROM cand c) z
  WHERE rk <= 2
),
ttags AS (
  -- per-token BIO tags from the (non-overlapping) mention spans
  SELECT t.url, t.sent_id, t.pos, t.tok,
         coalesce(CASE WHEN m.start = t.pos THEN 'B-' || m.label
                       ELSE 'I-' || m.label END, 'O') AS tag
  FROM toks t
  LEFT JOIN men m ON m.url = t.url AND m.sent_id = t.sent_id
                 AND t.pos BETWEEN m.start AND m."end"
),
pieces AS (
  -- the splice as piece reconstruction: kept tokens outside replaced
  -- spans + one multi-token piece per replacement, ordered by position
  SELECT t.url, t.sent_id, t.pos AS opos, t.tok AS ptext, t.tag AS ptag
  FROM ttags t
  JOIN (SELECT DISTINCT url, sent_id FROM rep) s USING (url, sent_id)
  WHERE NOT EXISTS (SELECT 1 FROM rep r
                    WHERE r.url = t.url AND r.sent_id = t.sent_id
                      AND t.pos BETWEEN r.start AND r."end")
  UNION ALL
  SELECT url, sent_id, start, replacement,
         'B-' || label || repeat(' I-' || label,
                                 len(string_split(replacement, ' ')) - 1)
  FROM rep
)
SELECT url, sent_id,
       string_agg(ptext, ' ' ORDER BY opos) AS aug_text,
       string_agg(ptag, ' ' ORDER BY opos) AS aug_tags,
       CAST(0.5 AS DOUBLE) AS loss_weight
FROM pieces GROUP BY url, sent_id""",

        "multimodal_features": f"""
WITH {PAGES_SQL},
m AS (
  SELECT md5(url) AS uh,
         md5('<html><body><p>' || text || '</p></body></html>') AS ph
  FROM pages
)
SELECT CAST({_hexn_fold_sql("uh", 15)} AS BIGINT) AS media_id,
       'image' AS kind,
       CAST(0.0 AS DOUBLE) + {_mm_feature_terms()} AS feature_sum
FROM m""",

        "text_quality_filter": r"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '\s+') AS tl,
         string_split_regex(trim(lower(text)), '\s+') AS tll
  FROM documents
),
f AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(tl) END AS n,
         CAST(len(text) AS DOUBLE) / greatest(len(tl), 1) AS mean_len,
         CAST(len(list_distinct(tl)) AS DOUBLE) / greatest(len(tl), 1) AS uniq,
         CAST(len(list_filter(tll, x -> x IN (""" + _SW_EN + r""")))
              AS DOUBLE) / len(tll) AS sw
  FROM t
),
rs AS (
  SELECT doc_id,
         CASE WHEN n < 5 THEN 'too_short'
              WHEN n > 100000 THEN 'too_long'
              WHEN mean_len < 2.0 THEN 'tokens_too_short'
              WHEN mean_len > 12.0 THEN 'tokens_too_long'
              WHEN sw < 0.01 THEN 'no_stopwords'
              WHEN uniq < 0.2 THEN 'too_repetitive'
              ELSE 'ok' END AS reason
  FROM f
)
SELECT doc_id, reason = 'ok' AS keep, reason FROM rs""",

        "text_repetition": r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tl
  FROM documents
),
sh AS (
  SELECT doc_id, tl,
         list_transform(generate_series(1, greatest(len(tl) - 2, 1)),
                        i -> array_to_string(tl[i:least(i + 2, len(tl))], ' ')) AS shl
  FROM t
)
SELECT doc_id,
       round(1.0 - CAST(len(list_distinct(shl)) AS DOUBLE) / len(shl), 6)
         AS dup_shingle_ratio,
       round(CAST(list_max(list_transform(list_distinct(tl),
                    u -> len(list_filter(tl, x -> x = u)))) AS DOUBLE)
             / greatest(len(tl), 1), 6) AS top_token_share
FROM sh""",

        "text_pii": """
SELECT doc_id,
       len(regexp_extract_all(text, '""" + PII_EMAIL + """')) AS n_emails,
       len(regexp_extract_all(text, '""" + PII_PHONE + """')) AS n_phones,
       len(regexp_extract_all(text, '""" + PII_IPV4 + """')) AS n_ipv4
FROM documents""",

        "text_boilerplate": f"""
WITH aug AS (
  SELECT doc_id,
         text || chr(10) || '{BOILER_FOOTER}'
              || chr(10) || 'from ' || source AS text
  FROM documents
),
lines AS (
  SELECT doc_id, i - 1 AS pos, string_split(text, chr(10))[i] AS line
  FROM aug, unnest(generate_series(1, len(string_split(text, chr(10))))) t(i)
),
boiler AS (
  SELECT line FROM lines WHERE len(line) >= 1
  GROUP BY line HAVING count(DISTINCT doc_id) >= 2
),
kept AS (
  SELECT l.doc_id, l.pos, l.line FROM lines l
  WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.line = l.line)
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT a2.doc_id,
       CAST(len(string_split(a2.text, chr(10))) AS INT) AS n_lines,
       COALESCE(g.n_kept, 0) AS n_kept,
       COALESCE(g.clean_text, '') AS clean_text
FROM aug a2 LEFT JOIN agg g USING (doc_id)""",

        "text_redact": """
WITH red AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(text,
             '""" + PII_EMAIL + """', '<EMAIL>', 'g'),
             '""" + PII_IPV4 + """', '<IP>', 'g'),
             '""" + PII_PHONE + """', '<PHONE>', 'g') AS redacted
  FROM documents
)
SELECT doc_id, redacted,
       len(regexp_extract_all(redacted, '""" + PII_EMAIL + """')) AS n_emails,
       len(regexp_extract_all(redacted, '""" + PII_PHONE + """')) AS n_phones,
       len(regexp_extract_all(redacted, '""" + PII_IPV4 + """')) AS n_ipv4
FROM red""",

        "sketch_cms": f"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
),
cells AS (
  SELECT t.r,
         {_hex4_fold_sql("md5(CAST(t.r AS VARCHAR) || '|' || token)")} % 1024 AS cell,
         count(*) AS n
  FROM tok, unnest(generate_series(0, 3)) t(r)
  GROUP BY 1, 2
),
terms(term) AS (VALUES {", ".join(f"('{w}')" for w in CMS_TERMS)}),
probes AS (
  SELECT term, t.r,
         {_hex4_fold_sql("md5(CAST(t.r AS VARCHAR) || '|' || term)")} % 1024 AS cell
  FROM terms, unnest(generate_series(0, 3)) t(r)
)
SELECT p.term, CAST(min(coalesce(c.n, 0)) AS BIGINT) AS est
FROM probes p LEFT JOIN cells c ON c.r = p.r AND c.cell = p.cell
GROUP BY p.term""",

        "curation_calibrate": r"""
WITH nt AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
),
tris AS (
  SELECT doc_id, substring(t, i, 3) AS tri
  FROM nt, unnest(generate_series(1, greatest(len(t) - 2, 1))) g(i)
),
model AS (SELECT tri, count(*) AS c FROM tris GROUP BY tri),
norm AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                count(*) AS n_distinct FROM model),
lm AS (
  SELECT d.doc_id,
         round(avg(ln((coalesce(m.c, 0) + 1.0)
                      / (norm.n_total + norm.n_distinct))), 6) AS lm_score
  FROM tris d LEFT JOIN model m USING (tri), norm
  GROUP BY d.doc_id
),
dn AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                      ' ') AS tl
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(tl[i:least(i + 2, len(tl))], ' ') AS shingle
  FROM dn, unnest(generate_series(1, greatest(len(tl) - 2, 1))) t(i)
),
sdf AS (
  SELECT shingle, count(DISTINCT doc_id) AS sdf FROM sh GROUP BY shingle
),
dupf AS (
  SELECT s.doc_id,
         round(CAST(sum(CASE WHEN f.sdf >= 2 THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*), 6) AS dup_fraction
  FROM sh s JOIN sdf f USING (shingle)
  GROUP BY s.doc_id
)
SELECT (SELECT round(quantile_cont(lm_score, 0.05), 6) FROM lm)
         AS lm_threshold,
       (SELECT round(quantile_cont(dup_fraction, 0.95), 6) FROM dupf)
         AS dup_threshold""",

        "corpus_curation": r"""
WITH qt AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '\s+') AS tl,
         string_split_regex(trim(lower(text)), '\s+') AS tll
  FROM documents
),
qf AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(tl) END AS n,
         CAST(len(text) AS DOUBLE) / greatest(len(tl), 1) AS mean_len,
         CAST(len(list_distinct(tl)) AS DOUBLE) / greatest(len(tl), 1)
           AS uniq,
         CAST(len(list_filter(tll, x -> x IN (""" + _SW_EN + r""")))
              AS DOUBLE) / len(tll) AS sw
  FROM qt
),
qr AS (
  SELECT doc_id,
         CASE WHEN n < 5 THEN 'too_short'
              WHEN n > 100000 THEN 'too_long'
              WHEN mean_len < 2.0 THEN 'tokens_too_short'
              WHEN mean_len > 12.0 THEN 'tokens_too_long'
              WHEN sw < 0.01 THEN 'no_stopwords'
              WHEN uniq < 0.2 THEN 'too_repetitive'
              ELSE 'ok' END AS q_reason
  FROM qf
),
hx AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
  FROM documents
),
keep0 AS (SELECT h, min(doc_id) AS keeper FROM hx GROUP BY h),
nt AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
),
tris AS (
  SELECT doc_id, substring(t, i, 3) AS tri
  FROM nt, unnest(generate_series(1, greatest(len(t) - 2, 1))) g(i)
),
model AS (SELECT tri, count(*) AS c FROM tris GROUP BY tri),
norm AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                count(*) AS n_distinct FROM model),
lm AS (
  SELECT d.doc_id,
         round(avg(ln((coalesce(m.c, 0) + 1.0)
                      / (norm.n_total + norm.n_distinct))), 6) AS lm_score
  FROM tris d LEFT JOIN model m USING (tri), norm
  GROUP BY d.doc_id
),
dn AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                      ' ') AS tl
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(tl[i:least(i + 2, len(tl))], ' ') AS shingle
  FROM dn, unnest(generate_series(1, greatest(len(tl) - 2, 1))) t(i)
),
sdf AS (
  SELECT shingle, count(DISTINCT doc_id) AS sdf FROM sh GROUP BY shingle
),
dupf AS (
  SELECT s.doc_id,
         round(CAST(sum(CASE WHEN f.sdf >= 2 THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*), 6) AS dup_fraction
  FROM sh s JOIN sdf f USING (shingle)
  GROUP BY s.doc_id
),
thr AS (
  SELECT round(quantile_cont(lm_score, 0.05), 6) AS lm_threshold FROM lm
),
dthr AS (
  SELECT round(quantile_cont(dup_fraction, 0.95), 6) AS dup_threshold
  FROM dupf
),
fin AS (
  SELECT q.doc_id,
         CASE WHEN q.q_reason != 'ok' THEN q.q_reason
              WHEN x.doc_id != k.keeper THEN 'exact_duplicate'
              WHEN d.dup_fraction >= dthr.dup_threshold THEN 'dup_ngrams'
              WHEN l.lm_score < thr.lm_threshold THEN 'lm_low_quality'
              ELSE 'ok' END AS reason
  FROM qr q
  JOIN hx x ON x.doc_id = q.doc_id
  JOIN keep0 k USING (h)
  JOIN lm l ON l.doc_id = q.doc_id
  JOIN dupf d ON d.doc_id = q.doc_id, thr, dthr
)
SELECT doc_id, reason = 'ok' AS keep, reason FROM fin""",

        "text_dup_ngrams": "WITH " + _shingle_sql().lstrip() + """,
sdf AS (
  SELECT shingle, count(DISTINCT doc_id) AS sdf FROM sh GROUP BY shingle
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(sum(CASE WHEN f.sdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup,
       round(CAST(sum(CASE WHEN f.sdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS dup_fraction
FROM sh s JOIN sdf f USING (shingle)
GROUP BY s.doc_id""",

        "sketch_hll": f"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
),
hh AS (
  SELECT md5(token) AS h FROM tok
),
rr AS (
  SELECT {_hex4_fold_sql("h")} % 64 AS reg,
         substring(h, 5, 16) AS tail
  FROM hh
),
zz AS (
  SELECT reg, tail,
         length(regexp_extract(tail, '^(0*)', 1)) AS z
  FROM rr
),
rho AS (
  SELECT reg,
         CASE WHEN z >= 16 THEN 65
              ELSE z * 4
                   + CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1
                          WHEN v >= 2 THEN 2 ELSE 3 END
                   + 1 END AS rho_raw
  FROM (SELECT reg, z,
               strpos('0123456789abcdef', substring(tail, z + 1, 1)) - 1
                 AS v
        FROM zz)
)
SELECT reg, CAST(max(least(rho_raw, 40)) AS INT) AS max_rho
FROM rho GROUP BY reg""",

        "sketch_bloom": f"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
),
bits AS (
  SELECT DISTINCT
         {_hex4_fold_sql("md5('b' || CAST(t.i AS VARCHAR) || '|' || token)")}
           % 16384 AS bit
  FROM tok, unnest(generate_series(0, 3)) t(i)
),
terms(term) AS (VALUES {", ".join(f"('{w}')" for w in CMS_TERMS)}),
probes AS (
  SELECT term,
         {_hex4_fold_sql("md5('b' || CAST(t.i AS VARCHAR) || '|' || term)")}
           % 16384 AS bit
  FROM terms, unnest(generate_series(0, 3)) t(i)
)
SELECT p.term,
       count(*) FILTER (b.bit IS NOT NULL) = 4 AS maybe_present
FROM probes p LEFT JOIN bits b ON b.bit = p.bit
GROUP BY p.term""",

        "embed_pca_det": f"""
WITH {EMB_FLAT_SQL},{_pca_det_sql(2, 8)}""",

        "embed_kmeans_det": f"""
WITH {EMB_FLAT_SQL},{_kmeans_det_sql(8, 3)}
SELECT a.cell, CAST(count(*) AS BIGINT) AS n, cn.c_norm
FROM a3 a JOIN (
  SELECT cell, round(sqrt(sum(m * m)), 6) AS c_norm FROM c3 GROUP BY cell
) cn ON cn.cell = a.cell
GROUP BY a.cell, cn.c_norm""",

        "text_quality": """
WITH t AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS tl
  FROM documents
)
SELECT doc_id,
       CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(tl) END AS n_tokens,
       round(CAST(len(list_distinct(tl)) AS DOUBLE) / greatest(len(tl), 1), 6) AS unique_ratio,
       round(CAST(len(text) AS DOUBLE) / greatest(len(tl), 1), 6) AS mean_token_len
FROM t""",

        "text_fingerprint": """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents""",

        "text_langid": f"""
WITH {_langid_sql().lstrip()}
SELECT doc_id, detected FROM langid""",

        "text_lang_confusion": f"""
WITH {_langid_sql().lstrip()}
SELECT d.lang, l.detected, CAST(count(*) AS BIGINT) AS n
FROM documents d JOIN langid l USING (doc_id)
GROUP BY d.lang, l.detected
ORDER BY n DESC, d.lang, l.detected LIMIT 10""",

        "text_lang_pivot": f"""
WITH {_langid_sql().lstrip()}
SELECT d.lang,
       CAST(sum(CASE WHEN l.detected = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       CAST(sum(CASE WHEN l.detected = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS n_und,
       CAST(count(*) AS BIGINT) AS n_total
FROM documents d JOIN langid l USING (doc_id)
GROUP BY d.lang""",

        "agg_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus""",

        "join_orders_nation": """
SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name""",

        "window_running_value": """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running
FROM events""",

        "window_top3_per_user": """
SELECT user_id, event_id, CAST(rn AS INT) AS rn FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
  FROM events
) WHERE rn <= 3""",

        "topk_event_types": """
SELECT event_type, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
ORDER BY n DESC, event_type LIMIT 10""",

        "sessionize": """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id""",

        "json_extract_props": """
SELECT event_type,
       round(avg(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS DOUBLE)), 4) AS avg_k,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type""",

        "agg_percentiles": """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type""",

        "agg_rollup": """
SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
       round(avg(CAST(length(text) AS DOUBLE)), 4) AS avg_len
FROM documents GROUP BY ROLLUP (lang, source)""",

        "join_asof": """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
views AS (
  SELECT user_id, ts, max(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, v.view_event_id
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts""",

        "join_range": """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
errors AS (
  SELECT event_id AS error_id, user_id, ts
  FROM events WHERE event_type = 'error'
)
SELECT c.event_id, c.user_id, e.error_id
FROM clicks c JOIN errors e
  ON c.user_id = e.user_id
 AND c.ts BETWEEN e.ts - INTERVAL 5 MINUTE AND e.ts""",

        "stream_event_join": """
SELECT p.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       v.ts AS v_ts, p.ts AS p_ts, p.value AS value
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND v.ts <= p.ts AND p.ts <= v.ts + INTERVAL 1800 SECOND""",

        "stream_window_counts": """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2""",

        "kfold_metric_summary": """
SELECT event_type,
       round(avg(value), 4) AS mean,
       round(stddev_pop(value), 4) AS stddev,
       round(min(value), 4) AS min,
       round(max(value), 4) AS max,
       CAST(count(value) AS BIGINT) AS count
FROM events GROUP BY event_type""",

        "split_stratified": """
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5('42|' || CAST(doc_id AS VARCHAR))) rn,
         count(*) OVER (PARTITION BY lang) n
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN rn <= round(n * 0.2) THEN 'validation' ELSE 'train' END AS split
FROM r""",

        "split_group_fold": """
WITH s AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
),
f AS (
  SELECT source, n_docs,
         CAST((row_number() OVER (ORDER BY n_docs DESC, source) - 1) % 5 AS INT) AS fold
  FROM s
)
SELECT source, fold, CAST(n_docs AS BIGINT) AS n_docs FROM f""",

        "sample_deterministic": """
SELECT doc_id, md5('42|' || CAST(doc_id AS VARCHAR)) AS h
FROM documents
ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)) LIMIT 20""",

        "set_ops": """
SELECT doc_id FROM documents WHERE lang = 'en'
UNION ALL
SELECT doc_id FROM documents WHERE lang = 'de'
EXCEPT ALL
SELECT doc_id FROM documents WHERE doc_id < 50""",
    }

    # web_corpus_verdict: stitch the PROVEN pieces — the calibrated
    # curation CTE chain, the classifier probability, and the url-gate
    # logic — into one first-violation verdict (rule order: url gates,
    # quality, exact dup, dup-ngrams, LM, classifier)
    cur = d["corpus_curation"]
    tail = "SELECT doc_id, reason = 'ok' AS keep, reason FROM fin"
    assert cur.endswith(tail)
    d["web_corpus_verdict"] = cur[: -len(tail)] + f""",
uf AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 7 = 0 THEN 'https://ads.tracker.test/doc/'
               WHEN doc_id % 7 = 1 THEN 'https://sub.spam.example/doc/'
               ELSE 'https://' || source || '.test/doc/' END)
         || CAST(doc_id AS VARCHAR)
         || (CASE WHEN doc_id % 11 = 0 THEN '/casino' ELSE '' END) AS url
  FROM documents
),
ug AS (
  SELECT doc_id,
         list_has_any(
           list_transform(generate_series(1, len(p)),
                          i -> array_to_string(p[CAST(i AS INT):len(p)],
                                               '.')),
           ['tracker.test', 'spam.example']) AS domb,
         contains(lower(url), 'casino') AS termb
  FROM (SELECT doc_id, url,
               string_split(lower(regexp_replace(regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.\\-]*://(?:[^/?#@]*@)?([^/:?#@]+)',
                 1), ':[0-9]+$', '')), '.') AS p
        FROM uf)
),
ctoks AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text),
                                              '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents)
  WHERE t != ''
),
cfeat AS (
  SELECT doc_id,
         CAST({_hexn_fold_sql("md5(term)", 8)} % 1024 AS INT) AS bucket
  FROM ctoks
),
cwt AS (
  SELECT CAST(i AS INT) AS bucket,
         ({_hexn_fold_sql("md5('qw|' || CAST(i AS VARCHAR))", 8)} % 2048
          - 1024) / 1024.0 AS w
  FROM (SELECT unnest(generate_series(0, 1023)) AS i)
),
cprob0 AS (
  SELECT doc_id, round(avg(COALESCE(w, 0)), 6) AS cscore
  FROM cfeat LEFT JOIN cwt USING (bucket) GROUP BY doc_id
),
cprob AS (
  -- total over documents: zero-term docs score the bias (0.0)
  SELECT d.doc_id,
         round(1.0 / (1.0 + exp(-COALESCE(c.cscore, 0))), 6) AS prob
  FROM documents d LEFT JOIN cprob0 c USING (doc_id)
),
fin2 AS (
  SELECT f.doc_id,
         CASE WHEN u.domb THEN 'blocked_domain'
              WHEN u.termb THEN 'blocked_term'
              WHEN f.reason != 'ok' THEN f.reason
              WHEN c.prob < 0.5 THEN 'classifier_low'
              ELSE 'ok' END AS reason
  FROM fin f JOIN ug u USING (doc_id) JOIN cprob c USING (doc_id)
)
SELECT doc_id, reason = 'ok' AS keep, reason FROM fin2"""

    # web_domain_keep_rates: the same composed verdict rolled up by
    # host — the per-domain curation report
    wv = d["web_corpus_verdict"]
    tail2 = "SELECT doc_id, reason = 'ok' AS keep, reason FROM fin2"
    assert wv.endswith(tail2)
    d["web_domain_keep_rates"] = wv[: -len(tail2)] + r""",
hostx AS (
  SELECT doc_id,
         lower(regexp_replace(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/:?#@]+)', 1),
           ':[0-9]+$', '')) AS host
  FROM uf
)
SELECT h.host, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN f.reason = 'ok' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       round(CAST(sum(CASE WHEN f.reason = 'ok' THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS keep_rate
FROM fin2 f JOIN hostx h USING (doc_id)
GROUP BY h.host"""

    # corpus_training_pipeline: verdict survivors -> 64-token disjoint
    # chunks -> 500-token-budget packing (the pack_bins hashing/window
    # logic over chunk uids) — the full curate->chunk->pack flow
    d["corpus_training_pipeline"] = wv[: -len(tail2)] + f""",
keptd AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN fin2 f ON f.doc_id = d.doc_id
  WHERE f.reason = 'ok'
),
kdn AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS tl
  FROM keptd
),
knc AS (
  SELECT doc_id, tl,
         1 + CAST(ceil(greatest(len(tl) - 64, 0) / 64.0) AS INT)
           AS n_chunks
  FROM kdn
),
kcw AS (
  SELECT doc_id, CAST(g.i AS INT) AS chunk_id,
         tl[CAST(g.i * 64 + 1 AS INT):CAST(g.i * 64 + 64 AS INT)] AS ct
  FROM knc, unnest(generate_series(0, n_chunks - 1)) g(i)
),
crow AS (
  SELECT CAST(len(ct) AS BIGINT) AS n_tokens,
         md5('42|' || CAST(doc_id AS VARCHAR) || '#'
             || CAST(chunk_id AS VARCHAR)) AS h
  FROM kcw
),
cb AS (
  SELECT n_tokens, h, {_hex4_fold_sql("h")} % 16 AS bucket
  FROM crow
),
ccum AS (
  SELECT bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM cb
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(floor((cum - n_tokens) / 500.0) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS tok_sum
FROM ccum GROUP BY 1, 2"""

    # corpus_pipeline_spanclean: verdict survivors -> ExactSubstr span
    # removal over the KEPT subset (Lee et al. ordering: strip shared
    # verbatim runs BEFORE windowing) -> 64-token chunks -> 500-budget
    # packing; same chunk/pack idiom as corpus_training_pipeline with
    # the cleaned text substituted
    d["corpus_pipeline_spanclean"] = wv[: -len(tail2)] + f""",
keptd AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN fin2 f ON f.doc_id = d.doc_id
  WHERE f.reason = 'ok'
),
kdn AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS tl
  FROM keptd
),
kpg AS (
  SELECT doc_id, CAST(t.i - 1 AS INT) AS pos,
         md5(array_to_string(tl[CAST(t.i AS INT):CAST(t.i + 7 AS INT)],
                             ' ')) AS g
  FROM kdn, unnest(generate_series(1, len(tl) - 7)) t(i)
),
khot AS (
  SELECT g FROM kpg GROUP BY g HAVING count(DISTINCT doc_id) >= 2
),
kdup AS (SELECT doc_id, pos FROM kpg JOIN khot USING (g)),
kruns AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS grp
  FROM kdup
),
kspans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
  FROM kruns GROUP BY doc_id, grp
),
ktok AS (
  SELECT doc_id, CAST(t.i - 1 AS INT) AS idx,
         tl[CAST(t.i AS INT)] AS tok
  FROM kdn, unnest(generate_series(1, len(tl))) t(i)
),
kclean0 AS (
  SELECT k.doc_id, string_agg(k.tok, ' ' ORDER BY k.idx) AS text
  FROM ktok k
  WHERE NOT EXISTS (SELECT 1 FROM kspans s
                    WHERE s.doc_id = k.doc_id
                      AND k.idx BETWEEN s.s AND s.e)
  GROUP BY k.doc_id
),
kclean AS (
  -- a doc whose every token sat in a flagged span survives with ''
  SELECT d.doc_id, COALESCE(c.text, '') AS text
  FROM keptd d LEFT JOIN kclean0 c USING (doc_id)
),
sdn AS (SELECT doc_id, string_split(text, ' ') AS tl FROM kclean),
snc AS (
  SELECT doc_id, tl,
         1 + CAST(ceil(greatest(len(tl) - 64, 0) / 64.0) AS INT)
           AS n_chunks
  FROM sdn
),
scw AS (
  SELECT doc_id, CAST(g.i AS INT) AS chunk_id,
         tl[CAST(g.i * 64 + 1 AS INT):CAST(g.i * 64 + 64 AS INT)] AS ct
  FROM snc, unnest(generate_series(0, n_chunks - 1)) g(i)
),
srow AS (
  SELECT CAST(len(list_filter(ct, t -> t != '')) AS BIGINT) AS n_tokens,
         md5('42|' || CAST(doc_id AS VARCHAR) || '#'
             || CAST(chunk_id AS VARCHAR)) AS h
  FROM scw
),
scb AS (
  SELECT n_tokens, h, {_hex4_fold_sql("h")} % 16 AS bucket
  FROM srow
),
sccum AS (
  SELECT bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM scb
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(floor((cum - n_tokens) / 500.0) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS tok_sum
FROM sccum GROUP BY 1, 2"""

    # ppl_by_lang_approx: per-language exact cuts via grouped
    # quantile_cont; approx agreement is the Spark-side invariant
    d["ppl_by_lang_approx"] = r"""
WITH nt AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
),
tris AS (
  SELECT doc_id, substring(t, i, 3) AS tri
  FROM nt, unnest(generate_series(1, greatest(len(t) - 2, 1))) g(i)
),
model AS (SELECT tri, count(*) AS c FROM tris GROUP BY tri),
norm AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                count(*) AS n_distinct FROM model),
lm AS (
  SELECT d.doc_id,
         round(avg(ln((coalesce(m.c, 0) + 1.0)
                      / (norm.n_total + norm.n_distinct))), 6) AS lm_score
  FROM tris d LEFT JOIN model m USING (tri), norm
  GROUP BY d.doc_id
),
lml AS (
  SELECT l.doc_id, l.lm_score, d.lang
  FROM lm l JOIN documents d USING (doc_id)
)
SELECT lang,
       round(quantile_cont(lm_score, 1.0/3.0), 6) AS lo_cut,
       round(quantile_cont(lm_score, 2.0/3.0), 6) AS hi_cut,
       TRUE AS lo_agree, TRUE AS hi_agree
FROM lml GROUP BY lang"""

    # temperature mixing: alpha=0.5 -> sqrt (IEEE-correctly-rounded,
    # bit-stable cross-engine, unlike generic pow); weights round to 6
    d["mixture_temperature_weights"] = """
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
z AS (SELECT sum(sqrt(CAST(n AS DOUBLE))) AS z,
             CAST(sum(n) AS BIGINT) AS total FROM c)
SELECT source, CAST(n AS BIGINT) AS n,
       round(least(CAST(1.0 AS DOUBLE),
                   total * sqrt(CAST(n AS DOUBLE)) / z / n), 6) AS weight
FROM c, z"""

    d["sample_mixture_temperature"] = f"""
WITH h AS (
  SELECT doc_id, source, md5('42|' || CAST(doc_id AS VARCHAR)) AS hh
  FROM documents
),
b AS (SELECT doc_id, source, hh, {_hex4_fold_sql("hh")} % 16 AS bkt FROM h),
cb AS (SELECT source, bkt, count(*) AS nb FROM b GROUP BY source, bkt),
sc AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
z AS (SELECT sum(sqrt(CAST(n AS DOUBLE))) AS z,
             CAST(sum(n) AS BIGINT) AS total FROM sc),
w AS (
  SELECT source,
         round(least(CAST(1.0 AS DOUBLE),
                     0.5 * total * sqrt(CAST(n AS DOUBLE)) / z / n), 6)
           AS frac
  FROM sc, z
),
r AS (
  SELECT doc_id, source, bkt,
         row_number() OVER (PARTITION BY source, bkt ORDER BY hh) AS rk
  FROM b
)
SELECT r.doc_id, r.source
FROM r JOIN cb USING (source, bkt) JOIN w USING (source)
WHERE rk <= floor(frac * nb)"""

    # classifier_train / classifier_trained_gate: 3 unrolled batch-
    # perceptron rounds over integer hashed features — every margin,
    # gradient, and weight is a dyadic rational (counts, ±count sums,
    # k/1024), so the k-round replica is bit-exact cross-engine; the
    # quality_filter label proxy reuses corpus_curation's qt/qf/qr
    lab_ctes = d["corpus_curation"][: d["corpus_curation"].index("hx AS (")]
    fold8t = _hexn_fold_sql("md5(term)", 8)
    perc_rounds = []
    for r in range(1, 4):
        perc_rounds.append(f"""pm{r} AS (
  SELECT f.doc_id, sum(f.cnt * w.w) AS margin
  FROM pfeat f JOIN pw{r - 1} w USING (bucket) GROUP BY f.doc_id
),
pg{r} AS (
  SELECT f.bucket,
         CAST(sum(CASE WHEN l.label = 1 THEN f.cnt ELSE -f.cnt END)
              AS BIGINT) AS g
  FROM pfeat f
  JOIN pm{r} m ON m.doc_id = f.doc_id
  JOIN plab l ON l.doc_id = f.doc_id
  WHERE (m.margin >= 0) != (l.label = 1)
  GROUP BY f.bucket
),
pw{r} AS (
  SELECT w.bucket, w.w + COALESCE(g.g, 0) / 1024.0 AS w
  FROM pw{r - 1} w LEFT JOIN pg{r} g USING (bucket)
)""")
    perc_base = lab_ctes + f"""plab AS (
  SELECT doc_id, CASE WHEN q_reason = 'ok' THEN 1 ELSE 0 END AS label
  FROM qr
),
pt AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text),
                                          '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents)
  WHERE t != ''
),
pfeat AS (
  SELECT doc_id, CAST({fold8t} % 64 AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM pt GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, -1, 1 FROM documents
),
pw0 AS (
  SELECT CAST(i AS INT) AS bucket, CAST(0 AS DOUBLE) AS w
  FROM (SELECT unnest(generate_series(-1, 63)) AS i)
),
""" + ",\n".join(perc_rounds)
    d["classifier_train"] = (
        perc_base + "\nSELECT bucket, round(w, 6) AS w FROM pw3")

    # kg_transe / kg_transe_eval: the negative-samples chain (its neg
    # CTE is the corruption-pair table TransE trains on) + the
    # unrolled dyadic TransE rounds (_transe_sql); eval re-derives the
    # pair energies against the final embedding table
    negq = d["kg_negative_samples"]
    neg_tail = "SELECT * FROM neg WHERE neg_obj_surface != obj_surface"
    assert negq.endswith(neg_tail)
    transe_base = negq[: -len(neg_tail)].rstrip() + _transe_sql(2, 4)
    d["kg_transe"] = (transe_base
                      + "\nSELECT kind, id, i, round(v, 6) AS v FROM temb2")
    # kg_fact_resolution: the provenance rollup + a deterministic
    # weighted-vote window (the Spark side is the windowless
    # min(struct) twin of this ORDER BY)
    d["kg_fact_resolution"] = f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
pts AS (
  SELECT url,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds(CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT))
           AS warc_ts
  FROM pages
),
prov AS (
  SELECT t.subj_surface AS subj, t.pred, t.obj_surface AS obj,
         CAST(count(*) AS BIGINT) AS n_mentions,
         CAST(count(DISTINCT t.url) AS BIGINT) AS n_sources,
         min(p.warc_ts) AS first_seen
  FROM tri t JOIN pts p USING (url)
  GROUP BY 1, 2, 3
),
frk AS (
  SELECT subj, pred, obj, n_sources, n_mentions,
         row_number() OVER (PARTITION BY subj, pred
           ORDER BY n_sources DESC, n_mentions DESC, first_seen ASC,
                    obj ASC) AS rn,
         sum(n_mentions) OVER (PARTITION BY subj, pred) AS total,
         count(*) OVER (PARTITION BY subj, pred) AS n_alts
  FROM prov
)
SELECT subj, pred, obj, n_sources, n_mentions,
       CAST(n_alts AS BIGINT) AS n_alternatives,
       round(n_mentions / total, 6) AS support_share
FROM frk WHERE rn = 1"""

    # kg_fact_timeline: gaps-and-islands over capture-ordered
    # observations (same pts warc_ts derivation).  The CTE chain
    # through tl is shared with kg_facts_asof.
    _TIMELINE_CTES = """
pts AS (
  SELECT url,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds(CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT))
           AS warc_ts
  FROM pages
),
tobs AS (
  SELECT t.subj_surface AS subj, t.pred, t.obj_surface AS obj,
         p.warc_ts AS ts, CAST(count(*) AS BIGINT) AS n
  FROM tri t JOIN pts p USING (url)
  GROUP BY 1, 2, 3, 4
),
tchg AS (
  SELECT *,
         CASE WHEN lag(obj) OVER (PARTITION BY subj, pred
                                  ORDER BY ts, obj) IS NULL
                OR lag(obj) OVER (PARTITION BY subj, pred
                                  ORDER BY ts, obj) != obj
              THEN 1 ELSE 0 END AS chg
  FROM tobs
),
tseg AS (
  SELECT *, sum(chg) OVER (PARTITION BY subj, pred ORDER BY ts, obj
                           ROWS UNBOUNDED PRECEDING) AS seg
  FROM tchg
),
tiv AS (
  SELECT subj, pred, seg, any_value(obj) AS obj,
         min(ts) AS valid_from, CAST(sum(n) AS BIGINT) AS n_obs
  FROM tseg GROUP BY 1, 2, 3
),
tline AS (
  SELECT subj, pred, obj, valid_from,
         lead(valid_from) OVER (PARTITION BY subj, pred ORDER BY seg)
           AS valid_to,
         n_obs
  FROM tiv)"""

    d["kg_fact_timeline"] = f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},{_TIMELINE_CTES}
SELECT subj, pred, obj, valid_from, valid_to, n_obs FROM tline"""

    # kg_facts_asof: time-travel snapshot — the belief set at T
    d["kg_facts_asof"] = f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},{_TIMELINE_CTES}
SELECT subj, pred, obj, valid_from, valid_to, n_obs FROM tline
WHERE valid_from <= TIMESTAMP '2024-01-01 00:04:10'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-01 00:04:10')"""

    # kg_link_coherent: coherence disambiguation — candidates scored
    # by relatedness to the doc's unambiguous entities, prior fallback
    d["kg_link_coherent"] = f"""
WITH {MEN_SQL},
aliases(alias_norm, entity_id, entity_type, prior) AS (VALUES {ALIAS_VALUES}),
rel(qa, qb, w) AS (VALUES ('Q-1B', 'Q-4', 3.0)),
ac AS (SELECT alias_norm, CAST(count(DISTINCT entity_id) AS BIGINT) AS n_cand
       FROM aliases GROUP BY 1),
cand AS (
  SELECT m.url, m.sent_id, m.start, m."end", m.surface,
         a.entity_id, a.prior, ac.n_cand
  FROM men m
  JOIN aliases a
    ON trim(regexp_replace(lower(m.surface), '\\s+', ' ', 'g')) = a.alias_norm
  JOIN ac ON ac.alias_norm = a.alias_norm),
ctx AS (
  SELECT DISTINCT url, entity_id AS ctx_id FROM cand WHERE n_cand = 1),
scored AS (
  SELECT c.url, c.sent_id, c.start, c."end", c.surface, c.entity_id,
         c.prior, c.n_cand,
         CAST(sum(COALESCE(r.w, 0.0)) AS DOUBLE) AS score
  FROM cand c
  LEFT JOIN ctx x ON x.url = c.url
  LEFT JOIN rel r ON r.qa = c.entity_id AND r.qb = x.ctx_id
  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8)
SELECT url, sent_id, start, "end", surface, entity_id, prior, n_cand,
       score
FROM (
  SELECT *, row_number() OVER (PARTITION BY url, sent_id, start, "end"
    ORDER BY score DESC, prior DESC, entity_id ASC) AS rk
  FROM scored)
WHERE rk = 1"""

    # kg_functional_resolution: the fact_resolution vote restricted to
    # predicates the functionality profile auto-detects (>= 0.35)
    d["kg_functional_resolution"] = f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
pts AS (
  SELECT url,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds(CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT))
           AS warc_ts
  FROM pages
),
Pd AS (SELECT DISTINCT pred, subj_surface AS s, obj_surface AS o FROM tri),
fpred AS (
  SELECT pred FROM (
    SELECT pred, count(*) AS nf, count(DISTINCT s) AS ns
    FROM Pd GROUP BY 1)
  WHERE round(ns * 1.0 / nf, 6) >= 0.35),
prov AS (
  SELECT t.subj_surface AS subj, t.pred, t.obj_surface AS obj,
         CAST(count(*) AS BIGINT) AS n_mentions,
         CAST(count(DISTINCT t.url) AS BIGINT) AS n_sources,
         min(p.warc_ts) AS first_seen
  FROM tri t JOIN pts p USING (url) JOIN fpred f USING (pred)
  GROUP BY 1, 2, 3
),
frk AS (
  SELECT subj, pred, obj, n_sources, n_mentions,
         row_number() OVER (PARTITION BY subj, pred
           ORDER BY n_sources DESC, n_mentions DESC, first_seen ASC,
                    obj ASC) AS rn,
         sum(n_mentions) OVER (PARTITION BY subj, pred) AS total,
         count(*) OVER (PARTITION BY subj, pred) AS n_alts
  FROM prov
)
SELECT subj, pred, obj, n_sources, n_mentions,
       CAST(n_alts AS BIGINT) AS n_alternatives,
       round(n_mentions / total, 6) AS support_share
FROM frk WHERE rn = 1"""

    # kg_predicate_stats: distinct facts -> pred-keyed profile with
    # AMIE functionality; threshold replicated literally
    d["kg_predicate_stats"] = f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
P AS (SELECT DISTINCT pred, subj_surface AS s, obj_surface AS o FROM tri),
st AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n_facts,
         CAST(count(DISTINCT s) AS BIGINT) AS n_subj,
         CAST(count(DISTINCT o) AS BIGINT) AS n_obj
  FROM P GROUP BY 1)
SELECT pred, n_facts, n_subj, n_obj,
       round(n_subj * 1.0 / n_facts, 6) AS functionality,
       round(n_obj * 1.0 / n_facts, 6) AS inv_functionality,
       round(n_subj * 1.0 / n_facts, 6) >= 0.8 AS is_functional
FROM st"""

    # kg_type_signatures: SDType-style domain/range induction —
    # distinct facts -> (pred, label-pair) support/share/rank
    _SIG_BODY = """
sfacts AS (
  SELECT DISTINCT pred, subj_surface, subj_label, obj_surface, obj_label
  FROM tri),
sig AS (
  SELECT pred, subj_label, obj_label,
         CAST(count(*) AS BIGINT) AS n_facts
  FROM sfacts GROUP BY 1, 2, 3),
sigr AS (
  SELECT pred, subj_label, obj_label, n_facts,
         round(CAST(n_facts AS DOUBLE)
               / sum(n_facts) OVER (PARTITION BY pred), 6) AS share,
         CAST(row_number() OVER (PARTITION BY pred
           ORDER BY n_facts DESC, subj_label ASC, obj_label ASC)
           AS INT) AS rank
  FROM sig)"""
    d["kg_type_signatures"] = f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},{_SIG_BODY}
SELECT pred, subj_label, obj_label, n_facts, share, rank,
       rank = 1 AS is_dominant
FROM sigr"""

    # kg_signature_outliers: the learned-schema audit — facts whose
    # signature share < 0.1 (threshold replicated literally)
    d["kg_signature_outliers"] = f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},{_SIG_BODY}
SELECT f.subj_surface AS subj, f.pred, f.obj_surface AS obj,
       f.subj_label, f.obj_label, g.share AS sig_share
FROM sfacts f
JOIN sigr g USING (pred, subj_label, obj_label)
WHERE g.share < 0.1"""

    # kg_entity_salience: entity-keyed agg + two url rollups + per-url
    # rank; formula replicated literally (freq share, earliness,
    # sentence spread)
    d["kg_entity_salience"] = f"""
WITH {MEN_SQL},
dm AS (SELECT url, CAST(count(*) AS BIGINT) AS doc_mentions
       FROM men GROUP BY 1),
ds AS (SELECT url, CAST(count(*) AS BIGINT) AS doc_sents
       FROM sents GROUP BY 1),
em AS (
  SELECT url, surface, label,
         CAST(count(*) AS BIGINT) AS n_mentions,
         CAST(min(sent_id) AS INT) AS first_sent,
         CAST(count(DISTINCT sent_id) AS BIGINT) AS n_sents
  FROM men GROUP BY 1, 2, 3),
sal AS (
  SELECT e.url, e.surface, e.label, e.n_mentions, e.first_sent,
         e.n_sents,
         round(0.5 * e.n_mentions / dm.doc_mentions
               + 0.3 / (1 + e.first_sent)
               + 0.2 * e.n_sents / ds.doc_sents, 6) AS salience
  FROM em e JOIN dm USING (url) JOIN ds USING (url))
SELECT url, surface, label, n_mentions, first_sent, n_sents,
       salience, rank
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY url
    ORDER BY salience DESC, surface ASC, label ASC) AS INT) AS rank
  FROM sal)
WHERE rank <= 5"""

    # kg_relation_patterns: between-span token slice (1-based DuckDB
    # list slice == Spark F.slice arithmetic), (pred, pattern) rollup,
    # per-pred top-k
    d["kg_relation_patterns"] = f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
stoks AS (
  SELECT url, sent_id, string_split(sent_text, ' ') AS _tl FROM sents),
pt AS (
  SELECT t.pred,
         array_to_string(
           s._tl[CAST(t.subj_start
                      + len(string_split(t.subj_surface, ' '))
                      + 1 AS INT)
                 : CAST(t.obj_start AS INT)], ' ') AS pattern
  FROM tri t JOIN stoks s USING (url, sent_id)),
cnt AS (
  SELECT pred, pattern, CAST(count(*) AS BIGINT) AS n
  FROM pt GROUP BY 1, 2)
SELECT pred, pattern, n, rank FROM (
  SELECT pred, pattern, n,
         CAST(row_number() OVER (PARTITION BY pred
           ORDER BY n DESC, pattern ASC) AS INT) AS rank
  FROM cnt)
WHERE rank <= 5"""

    # kg_growth_curve: bucketed first-seen counts + cumulative window
    # (one row per time bucket — the window input is bounded)
    d["kg_growth_curve"] = f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
pts AS (
  SELECT url,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds(CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT))
           AS warc_ts
  FROM pages
),
prov AS (
  SELECT t.subj_surface AS subj, t.pred, t.obj_surface AS obj,
         min(p.warc_ts) AS first_seen
  FROM tri t JOIN pts p USING (url)
  GROUP BY 1, 2, 3
),
bk AS (
  SELECT date_trunc('minute', first_seen) AS bucket,
         CAST(count(*) AS BIGINT) AS new_facts
  FROM prov GROUP BY 1)
SELECT bucket, new_facts,
       CAST(sum(new_facts) OVER (ORDER BY bucket
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS total_facts
FROM bk"""

    # kg_snapshot_diff: two interval filters of the shared timeline,
    # full-outer on (subj, pred), unchanged omitted
    d["kg_snapshot_diff"] = f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},{_TIMELINE_CTES},
sa AS (
  SELECT subj, pred, obj AS obj_before FROM tline
  WHERE valid_from <= TIMESTAMP '2024-01-01 00:02:00'
    AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-01 00:02:00')),
sb AS (
  SELECT subj, pred, obj AS obj_after FROM tline
  WHERE valid_from <= TIMESTAMP '2024-01-01 00:06:40'
    AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-01 00:06:40'))
SELECT subj, pred, obj_before, obj_after, change FROM (
  SELECT COALESCE(a.subj, b.subj) AS subj,
         COALESCE(a.pred, b.pred) AS pred,
         a.obj_before, b.obj_after,
         CASE WHEN a.obj_before IS NULL THEN 'added'
              WHEN b.obj_after IS NULL THEN 'removed'
              WHEN a.obj_before != b.obj_after THEN 'changed'
         END AS change
  FROM sa a FULL JOIN sb b ON a.subj = b.subj AND a.pred = b.pred)
WHERE change IS NOT NULL"""

    # kg_rule_mining: AMIE-style rules — every join keys on the entity
    # pair; the chain body replays the max_fanout=64 hub cap exactly.
    # The CTE chain through rules_scored is shared with kg_rule_infer.
    _RULES_CTES = """
P AS (SELECT DISTINCT subj_surface AS x, pred, obj_surface AS y FROM tri),
marg AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_pairs FROM P GROUP BY 1),
same_r AS (
  SELECT h.pred AS head_pred, b.pred AS body,
         CAST(count(*) AS BIGINT) AS support
  FROM P b JOIN P h ON b.x = h.x AND b.y = h.y AND b.pred != h.pred
  GROUP BY 1, 2),
inv_r AS (
  SELECT h.pred AS head_pred, b.pred AS body,
         CAST(count(*) AS BIGINT) AS support
  FROM P b JOIN P h ON b.y = h.x AND b.x = h.y
  GROUP BY 1, 2),
zok AS (
  SELECT zi.z FROM
    (SELECT y AS z, count(*) AS c FROM P GROUP BY 1) zi
    JOIN (SELECT x AS z, count(*) AS c FROM P GROUP BY 1) zo USING (z)
  WHERE zi.c <= 64 AND zo.c <= 64),
body2 AS (
  SELECT DISTINCT a.pred AS q, b.pred AS r, a.x AS x, b.y AS y
  FROM P a JOIN zok ON a.y = zok.z JOIN P b ON b.x = a.y),
cbody AS (SELECT q, r, CAST(count(*) AS BIGINT) AS n_body
          FROM body2 GROUP BY 1, 2),
csup AS (
  SELECT h.pred AS head_pred, b2.q, b2.r,
         CAST(count(*) AS BIGINT) AS support
  FROM body2 b2 JOIN P h ON h.x = b2.x AND h.y = b2.y
  GROUP BY 1, 2, 3),
rules AS (
  SELECT 'same' AS kind, s.head_pred, s.body, s.support,
         m.n_pairs AS n_body
  FROM same_r s JOIN marg m ON m.pred = s.body
  UNION ALL
  SELECT 'inverse', i.head_pred, i.body, i.support, m.n_pairs
  FROM inv_r i JOIN marg m ON m.pred = i.body
  UNION ALL
  SELECT 'chain', c.head_pred, c.q || ' . ' || c.r, c.support, cb.n_body
  FROM csup c JOIN cbody cb ON cb.q = c.q AND cb.r = c.r),
rules_scored AS (
  SELECT r.kind, r.head_pred, r.body, r.support, r.n_body,
         mh.n_pairs AS n_head,
         round(r.support * 1.0 / r.n_body, 6) AS conf,
         round(r.support * 1.0 / mh.n_pairs, 6) AS head_cov
  FROM rules r JOIN marg mh ON mh.pred = r.head_pred
  WHERE r.support >= 2)"""

    d["kg_rule_mining"] = f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},{_RULES_CTES}
SELECT kind, head_pred, body, support, n_body, n_head, conf, head_cov
FROM rules_scored WHERE conf >= 0.05"""

    # kg_rule_infer: apply rules with conf >= 0.5 back to P; novel
    # facts only (anti-join on the triple identity); best rule per
    # fact by (conf desc, kind asc, body asc)
    d["kg_rule_infer"] = f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},{_RULES_CTES},
frules AS (
  SELECT * FROM rules_scored WHERE conf >= 0.5),
cand AS (
  SELECT p.x AS x, r.head_pred, p.y AS y, r.kind, r.body, r.conf
  FROM P p JOIN frules r ON r.kind = 'same' AND r.body = p.pred
  UNION
  SELECT p.y, r.head_pred, p.x, r.kind, r.body, r.conf
  FROM P p JOIN frules r ON r.kind = 'inverse' AND r.body = p.pred
  UNION
  SELECT DISTINCT a.x, r.head_pred, b.y, r.kind, r.body, r.conf
  FROM frules r
  JOIN P a ON r.kind = 'chain'
          AND a.pred = split_part(r.body, ' . ', 1)
  JOIN zok ON a.y = zok.z
  JOIN P b ON b.x = a.y AND b.pred = split_part(r.body, ' . ', 2)),
novel AS (
  SELECT c.* FROM cand c
  LEFT JOIN P e ON e.x = c.x AND e.pred = c.head_pred AND e.y = c.y
  WHERE e.x IS NULL)
SELECT subj, pred, obj, rule_kind, rule_body, conf FROM (
  SELECT x AS subj, head_pred AS pred, y AS obj, kind AS rule_kind,
         body AS rule_body, conf,
         row_number() OVER (PARTITION BY x, head_pred, y
           ORDER BY conf DESC, kind ASC, body ASC) AS rn
  FROM novel)
WHERE rn = 1"""

    # web_robots_filter: the uf url synthesis + host/path regex
    # replicas + RFC 9309 longest-match via an explicit window order
    d["web_robots_filter"] = r"""
WITH uf AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 7 = 0 THEN 'https://ads.tracker.test/doc/'
               WHEN doc_id % 7 = 1 THEN 'https://sub.spam.example/doc/'
               ELSE 'https://' || source || '.test/doc/' END)
         || CAST(doc_id AS VARCHAR)
         || (CASE WHEN doc_id % 11 = 0 THEN '/casino' ELSE '' END) AS url
  FROM documents
),
uhp AS (
  SELECT url,
         lower(regexp_replace(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/:?#@]+)', 1),
           ':[0-9]+$', '')) AS host,
         CASE WHEN regexp_extract(url,
                '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(/[^?#]*)?', 1) = ''
              THEN '/'
              ELSE regexp_extract(url,
                '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(/[^?#]*)?', 1)
         END AS path
  FROM (SELECT DISTINCT url FROM uf)
),
rr(host, prefix, allow) AS (VALUES
  ('ads.tracker.test', '/', FALSE),
  ('sub.spam.example', '/doc', FALSE),
  ('sub.spam.example', '/doc/5', TRUE),
  ('src1.test', '/doc/1', FALSE),
  ('src1.test', '/doc/12', TRUE),
  ('src2.test', '/doc', TRUE),
  ('src2.test', '/doc', FALSE)),
rcand AS (
  SELECT u.url, r.prefix, r.allow
  FROM uhp u JOIN rr r ON r.host = u.host
  WHERE starts_with(u.path, r.prefix)
),
rbest AS (
  SELECT url, prefix, allow,
         row_number() OVER (PARTITION BY url
           ORDER BY length(prefix) DESC, CAST(allow AS INT) DESC,
                    prefix DESC) AS rn
  FROM rcand
)
SELECT u.url, u.host, u.path,
       coalesce(b.allow, TRUE) AS allowed,
       b.prefix AS matched_prefix
FROM uhp u LEFT JOIN rbest b ON b.url = u.url AND b.rn = 1"""

    # kg_link_predict: the transe chain + filtered candidate ranking
    # (the neg oracle's pool CTE is the candidate pool; other true
    # tails excluded via the lpos left join)
    d["kg_link_predict"] = transe_base + """,
lpos AS MATERIALIZED (
  SELECT subj_surface AS h, pred AS r, obj_surface AS t,
         min(obj_label) AS lbl
  FROM tri GROUP BY 1, 2, 3
),
lcand AS (
  SELECT p.h, p.r, p.t, u.c
  FROM lpos p JOIN pool ON pool.lbl = p.lbl, unnest(pool.pl) AS u(c)
),
lde AS MATERIALIZED (
  SELECT cd.h, cd.r, cd.t, cd.c,
         sum(abs(eh.v + er.v - ec.v)) AS d
  FROM lcand cd CROSS JOIN tdims dd
  JOIN temb2 eh ON eh.kind = 'e' AND eh.id = cd.h AND eh.i = dd.i
  JOIN temb2 er ON er.kind = 'r' AND er.id = cd.r AND er.i = dd.i
  JOIN temb2 ec ON ec.kind = 'e' AND ec.id = cd.c AND ec.i = dd.i
  GROUP BY 1, 2, 3, 4
),
ldt AS (SELECT h, r, t, d AS dt FROM lde WHERE c = t),
lrk AS (
  SELECT e.h, e.r, e.t,
         1 + sum(CASE WHEN p2.t IS NULL AND e.d < dt.dt
                      THEN 1 ELSE 0 END) AS rank
  FROM lde e JOIN ldt dt USING (h, r, t)
  LEFT JOIN lpos p2 ON p2.h = e.h AND p2.r = e.r AND p2.t = e.c
  GROUP BY 1, 2, 3
)
SELECT r AS pred, CAST(count(*) AS BIGINT) AS n_triples,
       CAST(sum(CASE WHEN rank <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits1,
       CAST(sum(CASE WHEN rank <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hits3,
       round(avg(rank), 6) AS mean_rank
FROM lrk GROUP BY r"""

    # web_anchor_aliases: expected aliases computed from the
    # construction (the html_extract_text oracle posture — the oracle
    # never parses markup); canonicalization through the shared
    # CANONICAL_URL_SQL replica
    _ANCHOR_CTES = """
apages AS (
  SELECT doc_id, CAST(doc_id % 17 AS VARCHAR) AS e FROM documents
),
arows AS (
  SELECT 'https://w.test/e/' || e || '?utm_source=feed&z=1' AS href,
         'Entity ' || e AS anchor
  FROM apages
  UNION ALL
  SELECT 'https://w.test/e/' || e, 'The  ENTITY ' || e || ' page'
  FROM apages WHERE doc_id % 3 = 0
),
_urls AS (SELECT DISTINCT href AS u FROM arows),
canon AS (""" + _CANON_URL_SQL + r"""),
anorm AS (
  SELECT c._out AS dst_url,
         trim(regexp_replace(lower(a.anchor), '\s+', ' ', 'g'))
           AS alias_norm
  FROM arows a JOIN canon c ON c._in = a.href
),
acnt AS (
  SELECT dst_url, alias_norm, CAST(count(*) AS BIGINT) AS n
  FROM anorm WHERE alias_norm != '' GROUP BY 1, 2
),
aranked AS (
  SELECT dst_url, alias_norm, n, rank FROM (
    SELECT dst_url, alias_norm, n,
           CAST(row_number() OVER (PARTITION BY dst_url
             ORDER BY n DESC, alias_norm ASC) AS INT) AS rank
    FROM acnt)
  WHERE rank <= 2)"""

    d["web_anchor_aliases"] = (
        "WITH " + _ANCHOR_CTES
        + "\nSELECT dst_url, alias_norm, n, rank FROM aranked")

    # web_anchor_alias_dim: the mined anchors as an ALIASES-schema
    # dictionary with anchor-estimated P(entity | alias) priors
    d["web_anchor_alias_dim"] = (
        "WITH " + _ANCHOR_CTES + """,
tot AS (SELECT alias_norm, CAST(sum(n) AS BIGINT) AS _tot
        FROM aranked GROUP BY 1)
SELECT a.alias_norm, a.dst_url AS entity_id, 'URL' AS entity_type,
       round(a.n * 1.0 / t._tot, 6) AS prior
FROM aranked a JOIN tot t USING (alias_norm)""")

    # warc_roundtrip: every field recomputed from documents — the
    # framing arithmetic (fixed HTTP head = 77 ASCII bytes +
    # len(str(L)) + L payload octets) mirrors sources/warc.
    # warc_record_expr; the parser must recover it from the bytes
    d["warc_roundtrip"] = f"""
WITH {PAGES_SQL},
wp AS (
  SELECT url,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds(CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT))
           AS warc_ts,
         '<html><body><p>' || text || '</p></body></html>' AS html
  FROM pages
),
wr AS (
  SELECT CAST({_hexn_fold_sql("md5(url)", 8)} % 8 AS BIGINT) AS file_id,
         url, strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
         octet_length(encode(html)) AS pl, md5(html) AS payload_md5
  FROM wp
)
SELECT url, CAST(200 AS INT) AS http_status,
       'text/html; charset=utf-8' AS mime,
       CAST(77 + length(CAST(pl AS VARCHAR)) + pl AS BIGINT)
         AS content_length,
       payload_md5, warc_date, file_id
FROM wr"""

    d["kg_transe_eval"] = transe_base + """,
tpdE AS MATERIALIZED (
  SELECT p.h, p.r, p.t, p.tn, p.w, d.i,
         eh.v + er.v - et.v AS gp, eh.v + er.v - etn.v AS gn
  FROM tprs p CROSS JOIN tdims d
  JOIN temb2 eh ON eh.kind = 'e' AND eh.id = p.h AND eh.i = d.i
  JOIN temb2 er ON er.kind = 'r' AND er.id = p.r AND er.i = d.i
  JOIN temb2 et ON et.kind = 'e' AND et.id = p.t AND et.i = d.i
  JOIN temb2 etn ON etn.kind = 'e' AND etn.id = p.tn AND etn.i = d.i
),
tpvE AS (
  SELECT h, r, t, tn, w, sum(abs(gp)) AS dp, sum(abs(gn)) AS dn
  FROM tpdE GROUP BY 1, 2, 3, 4, 5
)
SELECT r AS pred, CAST(sum(w) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN dp < dn THEN w ELSE 0 END) AS BIGINT) AS n_sep,
       round(sum(CASE WHEN dp < dn THEN w ELSE 0 END) / sum(w), 6)
         AS sep_rate
FROM tpvE GROUP BY r"""
    d["classifier_trained_gate"] = perc_base + """,
pmf AS (
  SELECT f.doc_id, round(sum(f.cnt * w.w), 6) AS margin
  FROM pfeat f JOIN pw3 w USING (bucket) GROUP BY f.doc_id
)
SELECT doc_id, margin, margin >= 0 AS keep FROM pmf"""

    # web_verdict_learned: the verdict with the TRAINED gate — the
    # corpus_curation fin chain + the url-gate CTEs (sliced from the
    # web_corpus_verdict stitch) + the perceptron rounds; the
    # classifier_low rule fires on a negative learned margin
    i_uf = wv.index(",\nuf AS (")
    i_ct = wv.index(",\nctoks AS (")
    ufug = wv[i_uf:i_ct]
    perc_chain = perc_base[len(lab_ctes):]
    _cur_tail = "SELECT doc_id, reason = 'ok' AS keep, reason FROM fin"
    assert d["corpus_curation"].endswith(_cur_tail)
    d["web_verdict_learned"] = (
        d["corpus_curation"][: -len(_cur_tail)]
        + ufug + ",\n" + perc_chain + """,
pmf2 AS (
  SELECT f.doc_id, sum(f.cnt * w.w) AS margin
  FROM pfeat f JOIN pw3 w USING (bucket) GROUP BY f.doc_id
),
finl AS (
  SELECT f.doc_id,
         CASE WHEN u.domb THEN 'blocked_domain'
              WHEN u.termb THEN 'blocked_term'
              WHEN f.reason != 'ok' THEN f.reason
              WHEN NOT (m.margin >= 0) THEN 'classifier_low'
              ELSE 'ok' END AS reason
  FROM fin f JOIN ug u USING (doc_id) JOIN pmf2 m USING (doc_id)
)
SELECT doc_id, reason = 'ok' AS keep, reason FROM finl""")

    # chunk_documents_bpe: the round-6 BPE symbolization (the proven
    # bpe_encode chain) -> per-doc token stream (ordered flatten) ->
    # 32-BPE-token disjoint windows; array_to_string of an empty list
    # is NULL in DuckDB, hence the COALESCE (Spark array_join -> '')
    enc6 = _bpe_encode_oracle_sql(6)
    tail_enc = ("SELECT d.doc_id, CAST(d.pos AS INT) AS pos, d.word,\n"
                "       array_to_string(s.syms, ' ') AS encoded\n"
                "FROM dtoks d JOIN s6 s ON s.word = d.word")
    assert enc6.endswith(tail_enc)
    d["chunk_documents_bpe"] = enc6[: -len(tail_enc)].rstrip() + """,
bsq AS (
  SELECT d.doc_id, d.pos, s.syms
  FROM dtoks d JOIN s6 s ON s.word = d.word
),
bseq AS (
  SELECT doc_id, flatten(list(syms ORDER BY pos)) AS toks
  FROM bsq GROUP BY doc_id
),
ball AS (
  SELECT d.doc_id, COALESCE(s.toks, CAST([] AS VARCHAR[])) AS toks
  FROM documents d LEFT JOIN bseq s USING (doc_id)
),
bnc AS (
  SELECT doc_id, toks,
         1 + CAST(ceil(greatest(len(toks) - 32, 0) / 32.0) AS INT)
           AS n_chunks
  FROM ball
),
bcw AS (
  SELECT doc_id, CAST(g.i AS INT) AS chunk_id,
         toks[CAST(g.i * 32 + 1 AS INT):CAST(g.i * 32 + 32 AS INT)] AS ct
  FROM bnc, unnest(generate_series(0, n_chunks - 1)) g(i)
)
SELECT doc_id, chunk_id, CAST(len(ct) AS INT) AS n_tokens,
       COALESCE(array_to_string(ct, ' '), '') AS chunk_text
FROM bcw"""

    # curation_calibrate_approx: the exact cuts are the oracle-checked
    # values (identical quantile_cont chain); the approx-agreement
    # booleans are a Spark-side invariant (|approx - exact| <= 0.01,
    # GK summaries at accuracy >> corpus rows) the oracle pins TRUE
    d["curation_calibrate_approx"] = (
        d["curation_calibrate"]
        + ",\n       TRUE AS lm_agree, TRUE AS dup_agree")

    # corpus_curation_neardup: the calibrated chain + the MinHash-LSH
    # near-duplicate rule — reuse the proven corpus_curation CTE chain
    # (its sh CTE IS the shingle table minhash consumes), add the
    # banded-signature pairing + recursive transitive closure from the
    # verified dedup_resolve oracle, and slot the rule into the CASE
    cc0 = d["corpus_curation"]
    tailc = "SELECT doc_id, reason = 'ok' AS keep, reason FROM fin"
    assert cc0.endswith(tailc)
    mb = _minhash_bands_sql()
    nd_ctes = mb[mb.index("mh AS ("):] + """,
symnd AS (
  SELECT a AS s, b AS t FROM mpairs
  UNION SELECT b, a FROM mpairs
),
reachnd(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT symnd.t, reachnd.comp
  FROM symnd JOIN reachnd ON symnd.s = reachnd.node
),
canonnd AS (SELECT node, min(comp) AS nd_keeper FROM reachnd
            GROUP BY node),
"""
    body = cc0[: -len(tailc)]
    case_old = "WHEN x.doc_id != k.keeper THEN 'exact_duplicate'"
    case_new = (case_old
                + "\n              WHEN nd.nd_keeper != q.doc_id "
                  "THEN 'near_duplicate'")
    join_old = "JOIN dupf d ON d.doc_id = q.doc_id, thr, dthr"
    join_new = ("JOIN dupf d ON d.doc_id = q.doc_id\n"
                "  JOIN canonnd nd ON nd.node = q.doc_id, thr, dthr")
    fin_marker = "fin AS ("
    assert (case_old in body and join_old in body
            and fin_marker in body and body.startswith("\nWITH qt AS ("))
    body = (body.replace("\nWITH qt AS (", "\nWITH RECURSIVE qt AS (", 1)
            .replace(fin_marker, nd_ctes + fin_marker, 1)
            .replace(case_old, case_new, 1)
            .replace(join_old, join_new, 1))
    d["corpus_curation_neardup"] = body + tailc

    # export_training_jsonl: the chunk replica wrapped in a derived
    # table; the line is the same fixed-order concat + RFC 8259
    # replace-chain as sources/jsonl.py, bucket is the md5-prefix fold
    _jesc = ("regexp_replace("
             "replace(replace(replace(replace(replace(chunk_text, "
             "chr(92), chr(92)||chr(92)), '\"', chr(92)||'\"'), "
             "chr(10), chr(92)||'n'), chr(13), chr(92)||'r'), "
             "chr(9), chr(92)||'t'), "
             r"'[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')")
    d["export_training_jsonl"] = f"""
WITH chunksq AS (
  FROM ({d["chunk_documents"]})
)
SELECT CAST({_hex4_fold_sql("md5(CAST(doc_id AS VARCHAR))")} % 64 AS INT)
         AS part,
       '{{"id":"' || CAST(doc_id AS VARCHAR) || '-'
         || CAST(chunk_id AS VARCHAR)
         || '","n_tokens":' || CAST(n_tokens AS VARCHAR)
         || ',"text":"' || {_jesc} || '"}}' AS line
FROM chunksq"""

    # profile_documents: one UNION ALL branch per documents column,
    # each the exact-mode statistic set of operators/profile.py
    d["profile_documents"] = "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_str,
       max(CAST({c} AS VARCHAR)) AS max_str,
       round(avg(length(CAST({c} AS VARCHAR))), 6) AS avg_len
FROM documents"""
        for c in ("doc_id", "text", "lang", "source", "n_chars"))

    # dedup_blocking_curve: blocking_stats' metrics at band widths
    # 1/2/4 from one mh signature CTE; truth CTEs shared across rows
    _bs_truth = """
sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
inter AS (
  SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS ninter
  FROM sh sa JOIN sh sb ON sb.shingle = sa.shingle AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.a, i.b FROM inter i
  JOIN sizes za ON za.doc_id = i.a
  JOIN sizes zb ON zb.doc_id = i.b
  WHERE CAST(i.ninter AS DOUBLE) / (za.nsh + zb.nsh - i.ninter) >= 0.5
),
nd AS (SELECT count(*) AS n_docs FROM documents),
nt AS (SELECT count(*) AS n_true_pairs FROM truth)"""

    def _bs_row(b: int, n_hashes: int = 12) -> str:
        return f"""
bands{b} AS (
  SELECT doc_id, CAST(floor(k / {b}.0) AS INT) AS band,
         string_agg(h, '' ORDER BY h) AS bh
  FROM mh GROUP BY doc_id, CAST(floor(k / {b}.0) AS INT)
),
mpairs{b} AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands{b} a JOIN bands{b} b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
nc{b} AS (SELECT count(*) AS n_candidates FROM mpairs{b}),
cg{b} AS (
  SELECT count(*) AS n_caught
  FROM truth t JOIN mpairs{b} c ON c.a = t.a AND c.b = t.b
),
row{b} AS (
  SELECT CAST({b} AS INT) AS band_size,
         CAST({n_hashes // b} AS INT) AS n_bands,
         CAST(n_docs AS BIGINT) AS n_docs,
         CAST(n_candidates AS BIGINT) AS n_candidates,
         CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
         CAST(n_caught AS BIGINT) AS n_caught,
         round(CAST(n_caught AS DOUBLE) / greatest(n_true_pairs, 1), 6)
           AS pairs_completeness,
         round(CAST(n_caught AS DOUBLE) / greatest(n_candidates, 1), 6)
           AS pairs_quality,
         round(1.0 - CAST(n_candidates AS DOUBLE)
                     / greatest(CAST(n_docs AS DOUBLE) * (n_docs - 1)
                                / 2, 1.0), 6)
           AS reduction_ratio
  FROM nd, nc{b}, nt, cg{b}
)"""

    d["dedup_blocking_curve"] = (
        "WITH " + _shingle_sql().lstrip() + """,
mh AS (
  SELECT doc_id, k, min(md5(CAST(k AS VARCHAR) || '|' || shingle)) AS h
  FROM sh, unnest(generate_series(0, 11)) t(k)
  GROUP BY doc_id, k
),""" + _bs_truth + ","
        + ",".join(_bs_row(b) for b in (1, 2, 4))
        + """
SELECT * FROM row1 UNION ALL SELECT * FROM row2
UNION ALL SELECT * FROM row4""")

    # bpe_fertility: per-language aggregate over the bpe_encode
    # replica (nested WITH in a derived table)
    d["bpe_fertility"] = f"""
WITH encq AS (
  FROM ({_bpe_encode_oracle_sql(6)})
),
perdoc AS (
  SELECT doc_id, count(*) AS n_words,
         sum(len(string_split(encoded, ' '))) AS n_tokens,
         sum(length(word)) AS n_chars
  FROM encq GROUP BY doc_id
)
SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(p.n_words), 0) AS BIGINT) AS n_words,
       CAST(coalesce(sum(p.n_tokens), 0) AS BIGINT) AS n_tokens,
       round(CAST(sum(p.n_tokens) AS DOUBLE) / sum(p.n_words), 6)
         AS fertility,
       round(CAST(sum(p.n_chars) AS DOUBLE) / sum(p.n_tokens), 6)
         AS chars_per_token
FROM documents d LEFT JOIN perdoc p USING (doc_id)
GROUP BY d.lang"""

    # kg_export_ntriples: RDF N-Triples serialization of the triple
    # table (sources/ntriples.py) — slug/ECHAR-escape/bucket replicated
    # as portable string algebra
    def _slug(e: str) -> str:
        s = ("regexp_replace(regexp_replace(lower(" + e +
             "), '[^a-z0-9]+', '_', 'g'), '^_+|_+$', '', 'g')")
        return f"(CASE WHEN {s} = '' THEN '_' ELSE {s} END)"

    _esc = ("replace(replace(replace(replace(replace(surface, "
            "chr(92), chr(92)||chr(92)), '\"', chr(92)||'\"'), "
            "chr(10), chr(92)||'n'), chr(13), chr(92)||'r'), "
            "chr(9), chr(92)||'t')")
    _B = "http://kg.invalid/"
    d["kg_export_ntriples"] = f"""
WITH {MEN_SQL},{_TRI_BODY.format(pred_list=pred_list)},
ents AS (
  SELECT subj_surface AS surface, subj_label AS label FROM tri
  UNION ALL
  SELECT obj_surface, obj_label FROM tri
),
slugged AS (
  SELECT {_slug('surface')} AS sslug, surface, label FROM ents
),
fl AS (
  SELECT DISTINCT {_slug('subj_surface')} AS sslug,
         {_slug('pred')} AS pred,
         {_slug('obj_surface')} AS oslug
  FROM tri
),
stmts AS (
  SELECT 'fact' AS kind, sslug,
         '<{_B}e/' || sslug || '> <{_B}p/' || pred || '> <{_B}e/'
           || oslug || '> .' AS line
  FROM fl
  UNION ALL
  SELECT 'type', sslug,
         '<{_B}e/' || sslug
           || '> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{_B}c/'
           || label || '> .'
  FROM (SELECT DISTINCT sslug, label FROM slugged)
  UNION ALL
  SELECT 'label', sslug,
         '<{_B}e/' || sslug
           || '> <http://www.w3.org/2000/01/rdf-schema#label> "'
           || {_esc} || '" .'
  FROM (SELECT DISTINCT sslug, surface FROM slugged)
)
SELECT kind,
       CAST({_hex4_fold_sql("md5(sslug)")} % 64 AS INT) AS part,
       line
FROM stmts"""
    return d


# ---------------------------------------------------------------------------
# entry(): flagship smoke query
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: top-10 most frequent (surface, label) mentions in the
    sf0.001 corpus — the full extract -> tag -> span-decode path
    (SURVEY §7.1 M2's minimum end-to-end query)."""
    return queries()["kg_surface_topk"](spark, SF_DEFAULT)
