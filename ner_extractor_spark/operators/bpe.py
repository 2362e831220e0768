"""BPE merge-rule training over the corpus (Sennrich et al. 2016 —
the tokenizer-training step of an LLM data pipeline, expressed as an
iterative DataFrame job; the inference-side BPE-ish token counting
lives in functions/text.py).

Algorithm (classic greedy BPE on the word-count table):

  1. one corpus pass builds (word, cnt) with map-side combine — the
     only corpus-sized shuffle; every round after operates on the WORD
     VOCABULARY (bounded, zipf-truncatable), never the corpus;
  2. each round: explode adjacent symbol pairs weighted by cnt,
     groupBy-sum (state bounded by the pair vocabulary), pick the
     most frequent pair (ties: lexicographic (left, right) — fully
     deterministic), apply the merge to every word;
  3. the merge application is a pure HOF fold (``F.aggregate``) with
     CLASSIC left-to-right non-overlapping semantics — a run of n
     identical symbols merges to floor(n/2) pairs, matching the
     reference algorithm (pinned against a pure-Python replica in
     tests/test_bpe.py and a DuckDB ``list_reduce`` oracle replica).

Driver loop posture: one 1-row collect per round (the argmax pair) and
a ``localCheckpoint`` lineage barrier per round — the same discipline
as graph.pagerank / embed_viz KMeans; rounds are short bounded jobs,
and k (the merge budget) is a hyperparameter, not data-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import normalize_text

END = "</w>"
#: merge rules ``bpe_encode`` folds lazily between two barriers: the
#: chunk bounds codegen expression depth for production-sized rule
#: lists (thousands of merges)
FUSE = 8


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over normalized whitespace tokens."""
    return (docs.select(F.explode(F.split(normalize_text(F.col(text_col)),
                                          " ")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))


def init_symbols(words: DataFrame) -> DataFrame:
    """(word, cnt, syms): characters plus the end-of-word marker."""
    return words.select(
        "word", "cnt",
        F.concat(F.split(F.col("word"), ""),
                 F.array(F.lit(END))).alias("syms"))


def adjacent_pair_counts(words: DataFrame) -> DataFrame:
    """(left, right, c): adjacent-symbol pair counts weighted by word
    count — bounded by the pair vocabulary, map-side combined."""
    # guard: sequence(1, 0) DESCENDS to [1, 0] for single-symbol words,
    # sending element_at out of bounds (ANSI) — filter them out first
    pairs = F.explode(F.transform(
        F.sequence(F.lit(1), F.size("syms") - 1),
        lambda i: F.struct(F.element_at("syms", i).alias("l"),
                           F.element_at("syms", i + F.lit(1)).alias("r"))))
    return (words.filter(F.size("syms") > 1)
            .select(pairs.alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
            .agg(F.sum("cnt").alias("c")))


def apply_merge(syms_col, left: str, right: str):
    """Classic greedy merge of (left, right) -> left+right, as a pure
    fold: scan symbols once, merging when the accumulated tail is
    ``left`` and the incoming symbol is ``right`` (a new merge result
    never re-matches ``left`` because left+right != left)."""
    return F.aggregate(
        syms_col, F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, F.lit(-1)) == left) & (x == right),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(left + right)))
        ).otherwise(F.concat(acc, F.array(x))))


def train_bpe(docs: DataFrame, n_merges: int = 8,
              text_col: str = "text") -> DataFrame:
    """Learn ``n_merges`` merge rules; returns (rank, left, right,
    merged, c) ordered by rank — the artifact a tokenizer ships.

    Each round's merged word table gets a lineage barrier, except the
    final round's, which is discarded.  Fusing several rounds between
    barriers (the ``bpe_encode`` chunking) measured NEUTRAL warm in
    isolation but SLOWER in-suite (each argmax job then carries a
    deeper fold expression — a new whole-stage-codegen compile per
    round per query; the saved barrier jobs did not pay for the
    compile storms)."""
    spark = docs.sparkSession
    words = init_symbols(word_counts(docs, text_col)).localCheckpoint()
    rules = []
    for rank in range(1, n_merges + 1):
        top = (adjacent_pair_counts(words)
               .orderBy(F.desc("c"), F.asc("left"), F.asc("right"))
               .limit(1).collect())
        if not top:
            break
        left, right, c = top[0]["left"], top[0]["right"], top[0]["c"]
        rules.append((rank, left, right, left + right, c))
        words = words.select(
            "word", "cnt",
            apply_merge(F.col("syms"), left, right).alias("syms"))
        # barrier every round (bounds codegen depth and keeps the
        # per-round re-evaluation small); the final round's words table
        # is discarded, so no trailing barrier
        if rank < n_merges:
            words = words.localCheckpoint()
    return spark.createDataFrame(
        rules, "rank int, left string, right string, merged string, c bigint")


def bpe_encode(docs: DataFrame, rules: list[tuple[str, str]],
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(doc_id, pos, word, encoded): the corpus tokenized under learned
    merge rules (rank order).

    Scale shape: the merge folds run over the DISTINCT-WORD table (one
    ``apply_merge`` + localCheckpoint per rule — work ∝ vocabulary,
    exactly like training), then one join maps the corpus tokens to
    their encodings.  That join broadcasts the encoded vocabulary
    (VERDICT r04 #3) — a deduplicated tokenizer vocabulary is bounded
    — so the corpus side never shuffles at all (plan-pinned in
    tests/test_plans.py and tests/test_bpe.py).

    Merge folds are CHAINED LAZILY in one expression, with a
    localCheckpoint barrier only every ``FUSE`` rules — the
    fully-sequential one-job-per-rule form cost 6 barrier round trips
    for a 6-rule encode (measured 1.33 → 0.84 s at sf0.1 fused).
    Output equals the driver-side ``encode_word`` across a chunk
    boundary (pinned in tests/test_bpe.py)."""
    toks = (docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(normalize_text(F.col(text_col)), " "))
        .alias("pos", "word"))
        .filter(F.col("word") != ""))
    syms = init_symbols(
        toks.select("word").distinct().withColumn("cnt", F.lit(1)))
    for i in range(0, len(rules), FUSE):
        c = F.col("syms")
        for left, right in rules[i:i + FUSE]:
            c = apply_merge(c, left, right)
        syms = syms.select("word", "cnt", c.alias("syms"))
        # one barrier per CHUNK (and one before the join, so the
        # corpus-side plan stays visibly shuffle-free — the vocab
        # distinct's exchange lives behind the checkpoint, plan-pinned
        # in test_bpe_encode_broadcasts_vocab)
        syms = syms.localCheckpoint()
    enc = syms.select("word", F.array_join("syms", " ").alias("encoded"))
    return toks.join(F.broadcast(enc), on="word").select(
        "doc_id", "pos", "word", "encoded")


def encode_word(word: str, rules: list[tuple[str, str]]) -> list[str]:
    """Driver-side reference encoder (tests + docs): apply the learned
    rules in rank order to one word."""
    syms = list(word) + [END]
    for left, right in rules:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
            else:
                out.append(s)
        syms = out
    return syms


def bpe_fertility(docs: DataFrame, rules: list[tuple[str, str]],
                  id_col: str = "doc_id", text_col: str = "text",
                  lang_col: str = "lang") -> DataFrame:
    """Per-language tokenizer fertility profile: how many BPE tokens
    the learned merges spend per word and how many characters each
    token carries, by language.  THE tokenizer-quality read before
    fixing a pretraining mixture — a language with outsized fertility
    is under-merged (its bytes cost disproportionate sequence length),
    which silently re-weights any token-budgeted mixture against it.

    Returns one row per language: (lang, n_docs, n_words, n_tokens,
    fertility = tokens/word, chars_per_token).

    Scale shape: ``bpe_encode``'s corpus pass (vocab folds over the
    distinct-word table + one broadcast vocab join) feeds a
    doc-keyed partial aggregate, which then joins the corpus table
    only at per-doc grain for the language key and collapses to
    ≤ n_languages rows — both aggregates map-side combined; nothing
    wider than the corpus token table is ever materialized.
    """
    enc = bpe_encode(docs, rules, id_col=id_col, text_col=text_col)
    perdoc = enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.size(F.split(F.col("encoded"), " "))).alias("n_tokens"),
        F.sum(F.length(F.col("word"))).alias("n_chars"))
    # LEFT join from the corpus side: empty/whitespace-only documents
    # emit no encode rows but still count toward n_docs (a language
    # whose docs are all empty surfaces as a degenerate row — null
    # fertility — instead of vanishing from the profile)
    return (docs.select(F.col(id_col).alias("doc_id"),
                        F.col(lang_col).alias("lang"))
            .join(perdoc, on="doc_id", how="left")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.coalesce(F.col("n_words"), F.lit(0)))
                 .alias("n_words"),
                 F.sum(F.coalesce(F.col("n_tokens"), F.lit(0)))
                 .alias("n_tokens"),
                 F.round(F.sum("n_tokens") / F.sum("n_words"), 6)
                 .alias("fertility"),
                 F.round(F.sum("n_chars") / F.sum("n_tokens"), 6)
                 .alias("chars_per_token")))
