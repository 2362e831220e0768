"""Dedup family: exact, MinHash-LSH, n-gram Jaccard, SimHash,
embedding-cosine — deterministic md5-based constructions."""

from pyspark.sql import functions as F

from ner_extractor_spark.operators.dedup import (embedding_near_dups,
                                                 exact_dedup, minhash_lsh_pairs,
                                                 ngram_jaccard, simhash_dedup)

DOCS = "doc_id long, text string"


def _docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the green hills beyond the river")
    near = base.replace("green", "blue")          # 1-word change
    far = "completely unrelated text about spark shuffles and joins okay"
    return spark.createDataFrame([
        (1, base),
        (2, base.upper()),        # exact dup modulo normalization
        (3, near),                # near dup
        (4, far),
        (5, base),                # literal dup
    ], DOCS)


def test_exact_dedup(spark):
    d = exact_dedup(_docs(spark))
    rows = {r["keeper"]: r["n_dups"] for r in d.collect()}
    assert rows[1] == 3          # 1, 2 (case), 5 (literal)
    assert rows[3] == 1 and rows[4] == 1


def test_minhash_and_jaccard(spark):
    docs = _docs(spark)
    pairs = minhash_lsh_pairs(docs)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (1, 5) in got and (1, 2) in got       # exact dups always collide
    assert (1, 3) in got                          # near dup caught
    assert (1, 4) not in got and (3, 4) not in got

    j = ngram_jaccard(docs, pairs)
    jm = {(r["a"], r["b"]): r["jaccard"] for r in j.collect()}
    assert jm[(1, 5)] == 1.0
    assert 0.5 < jm[(1, 3)] < 1.0


def test_ngram_jaccard_rejects_shingle_n_with_prebuilt_shingles(spark):
    import pytest

    from ner_extractor_spark.operators.dedup import word_shingles
    docs = _docs(spark)
    sh = docs.select("doc_id", F.explode(word_shingles(F.col("text")))
                     .alias("shingle"))
    pairs = spark.createDataFrame([(1, 3)], "a long, b long")
    # the table was built with n=3; shingle_n=5 would be silently ignored
    with pytest.raises(ValueError, match="shingle_n"):
        ngram_jaccard(docs, pairs, shingle_n=5, shingles=sh)
    jm = {(r["a"], r["b"]): r["jaccard"]
          for r in ngram_jaccard(docs, pairs, shingles=sh).collect()}
    assert 0.5 < jm[(1, 3)] < 1.0


def test_simhash(spark):
    docs = _docs(spark)
    # at max_hamming=2 the unrelated doc 4 (true hamming 3 from doc 1 on
    # a coarse 16-bit fingerprint) stays out; exact/near dups collide
    got = {(r["a"], r["b"]): r["hamming"]
           for r in simhash_dedup(docs, max_hamming=2).collect()}
    assert got[(1, 5)] == 0 and got[(1, 2)] == 0
    assert got[(1, 3)] == 1                       # near dup
    assert (1, 4) not in got
    # max_hamming=3 DOES admit doc 4 — and the corrected blocking finds
    # it (the round-2 two-half blocking silently dropped this pair: its
    # recall guarantee stopped at hamming 1)
    got3 = {(r["a"], r["b"]): r["hamming"]
            for r in simhash_dedup(docs, max_hamming=3).collect()}
    assert got3[(1, 4)] == 3


def test_simhash_rejects_fingerprints_wider_than_a_long(spark):
    """The packed fingerprint is one signed long: a 64th bit overflows
    it (ARITHMETIC_OVERFLOW at job time under ANSI, a silent wrap and
    wrong hamming distances without), so it must fail at plan time."""
    import pytest
    docs = _docs(spark)
    for n_bits in (64, 65):
        with pytest.raises(ValueError, match="n_bits"):
            simhash_dedup(docs, n_bits=n_bits)
    got = {(r["a"], r["b"]): r["hamming"]
           for r in simhash_dedup(docs, n_bits=63).collect()}
    assert got[(1, 5)] == 0 and got[(1, 2)] == 0


def test_simhash_fingerprint_not_pushed_below_repartition(spark):
    """r07 canary (the winnowing lesson, packed-int edition): the
    hamming filter must NOT let Catalyst infer an isnotnull() on the
    packed fingerprint and push the whole fingerprint expression below
    an upstream repartition — that re-evaluates the corpus fingerprint
    pass serially on the pre-shuffle side (measured 5x the query at
    sf0.1).  The packed fold is HOF-bound precisely so constraint
    inference cannot walk it; this pins that no scan/pre-exchange
    Filter mentions the fingerprint aggregate."""
    docs = _docs(spark).repartition(4, "doc_id")
    plan = simhash_dedup(docs, max_hamming=2)._jdf.queryExecution() \
        .executedPlan().toString()
    # the pushed form shows up as a Filter whose condition contains
    # the normalize/md5 fingerprint pipeline over the raw text column;
    # the healthy plan has no Filter mentioning it anywhere
    for line in plan.splitlines():
        if "Filter" in line or "Condition" in line:
            assert "regexp_replace" not in line, line


def _bits_df(spark, rows):
    return spark.createDataFrame(rows, "id long, bits array<int>")


def test_simhash_blocking_straddle_pair(spark):
    """Adversarial recall fixture (VERDICT r02 #1): a hamming-2 pair with
    one diff in EACH old half (bits 3 and 12) — the round-2 two-half
    blocking silently missed it; 3-segment pigeonhole must find it."""
    from ner_extractor_spark.operators.dedup import simhash_block_pairs

    zeros = [0] * 16
    straddle = list(zeros)
    straddle[3] = 1          # old L half
    straddle[12] = 1         # old R half
    fp = _bits_df(spark, [(1, zeros), (2, straddle)])
    got = {(r["a"], r["b"]): r["hamming"]
           for r in simhash_block_pairs(fp, 16, max_hamming=2).collect()}
    assert got == {(1, 2): 2}


def test_simhash_blocking_recall_exhaustive(spark):
    """Property pin for the pigeonhole contract: for seeded random 16-bit
    fingerprints, the blocked pair set EQUALS the brute-force set of all
    pairs with hamming ≤ max_hamming (recall is guaranteed, precision by
    the verify filter)."""
    import itertools
    import random

    from ner_extractor_spark.operators.dedup import simhash_block_pairs

    rng = random.Random(7)
    base = [rng.randint(0, 1) for _ in range(16)]
    rows = [(0, base)]
    for i in range(1, 24):
        v = list(base)
        for j in rng.sample(range(16), rng.randint(0, 4)):
            v[j] ^= 1
        rows.append((i, v))
    for mh in (1, 2, 3):
        want = {(a, b): sum(x != y for x, y in zip(va, vb))
                for (a, va), (b, vb) in itertools.combinations(rows, 2)
                if sum(x != y for x, y in zip(va, vb)) <= mh}
        got = {(r["a"], r["b"]): r["hamming"]
               for r in simhash_block_pairs(
                   _bits_df(spark, rows), 16, max_hamming=mh).collect()}
        assert got == want, (mh, got.keys() ^ want.keys())


def test_embedding_near_dups_exact_and_lsh(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
        (4, [1.0, 0.0, 0.0, 0.0]),     # identical to 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # n_planes=0 is the EXPLICIT exact-audit mode (full pairwise)
    exact = embedding_near_dups(emb, threshold=0.95, n_planes=0)
    got = {(r["a"], r["b"]): r["cosine"] for r in exact.collect()}
    assert got[(1, 4)] == 1.0
    assert (1, 2) in got
    assert (1, 3) not in got
    # the DEFAULT is the banded-LSH scale path: never reports a pair the
    # exact audit wouldn't, and identical vectors share every bucket
    lsh = embedding_near_dups(emb, threshold=0.95)
    got_lsh = {(r["a"], r["b"]) for r in lsh.collect()}
    assert got_lsh <= set(got)
    assert (1, 4) in got_lsh


def test_embedding_near_dups_default_plan_has_no_cartesian(spark):
    """The shipped default must be the LSH-bucketed path: no cartesian /
    nested-loop join anywhere in the physical plan (VERDICT r01 #1)."""
    emb = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=int(i)) for i in range(4)]).alias("embedding"))
    plan = embedding_near_dups(emb)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_embedding_near_dups_literal_planes_identical(spark):
    """VERDICT r03 #5: the broadcast-literal hyperplane matrix is the
    SAME bits as the in-expression md5 path — identical candidate
    buckets, identical verified pairs, on a corpus big enough that a
    plane-sign mismatch would flip at least one bucket."""
    import math
    rows = [(i, [math.sin(0.7 * i + 0.13 * d) for d in range(8)])
            for i in range(40)]
    rows += [(100 + i, rows[i][1][:]) for i in range(5)]  # exact dups
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    expr_pairs = sorted(map(tuple, embedding_near_dups(
        emb, threshold=0.9).collect()))
    lit_pairs = sorted(map(tuple, embedding_near_dups(
        emb, threshold=0.9, literal_planes=True, dim=8).collect()))
    assert expr_pairs == lit_pairs and len(lit_pairs) >= 5
    # dim inference path agrees too
    inferred = sorted(map(tuple, embedding_near_dups(
        emb, threshold=0.9, literal_planes=True).collect()))
    assert inferred == lit_pairs


def test_dup_ngram_fraction_known_corpus(spark):
    from ner_extractor_spark.operators.dedup import dup_ngram_fraction
    docs = spark.createDataFrame(
        [(1, "a b c d"),      # shingles: "a b c", "b c d"
         (2, "a b c x"),      # shingles: "a b c", "b c x"
         (3, "p q r")],       # single shingle, unique
        "doc_id int, text string")
    got = {r["doc_id"]: r for r in dup_ngram_fraction(docs).collect()}
    assert (got[1]["n_ngrams"], got[1]["n_dup"],
            got[1]["dup_fraction"]) == (2, 1, 0.5)
    assert got[2]["dup_fraction"] == 0.5
    assert (got[3]["n_ngrams"], got[3]["dup_fraction"]) == (1, 0.0)


def test_dup_ngram_fraction_short_doc_and_within_doc_repeat(spark):
    from ner_extractor_spark.operators.dedup import dup_ngram_fraction
    # a shingle repeated WITHIN one doc is not a cross-doc duplicate
    docs = spark.createDataFrame(
        [(1, "w w w w w"),    # all shingles identical -> 1 distinct
         (2, "hi")],          # shorter than n -> one degenerate shingle
        "doc_id int, text string")
    got = {r["doc_id"]: r for r in dup_ngram_fraction(docs).collect()}
    assert (got[1]["n_ngrams"], got[1]["n_dup"]) == (1, 0)
    assert (got[2]["n_ngrams"], got[2]["n_dup"]) == (1, 0)


def test_dedup_first_seen_crawl_semantics(spark):
    """First capture wins; ts tie breaks on min id; n_copies counts all
    captures; and the content-key survivor set equals the streaming
    dedup's (batch/stream twin pin)."""
    from datetime import datetime

    from ner_extractor_spark.operators.dedup import dedup_first_seen
    t = datetime(2024, 1, 1)
    t2 = datetime(2024, 1, 2)
    rows = [
        ("u1", t2, "Shared  content"),
        ("u2", t, "shared content"),         # earlier -> keeper
        ("u3", t, "unique page"),
        ("u4", t, "SHARED CONTENT"),         # same ts as u2: id tiebreak
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string")
    got = {r["h"]: r for r in dedup_first_seen(pages).collect()}
    assert len(got) == 2
    shared = [r for r in got.values() if r["n_copies"] == 3][0]
    assert shared["keeper"] == "u2" and shared["first_ts"] == t

    # streaming twin: same distinct-content survivor count
    from ner_extractor_spark.schemas import PAGES
    from ner_extractor_spark.streaming.kg_stream import dedup_pages_stream
    import tempfile
    src = tempfile.mkdtemp() + "/src"
    spark.createDataFrame(
        [(u, ts, None, tx, "en") for u, ts, tx in rows],
        schema=PAGES).write.parquet(src)
    stream = spark.readStream.schema(PAGES).format("parquet").load(src)
    out = tempfile.mkdtemp() + "/out"
    q = (dedup_pages_stream(stream).writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", tempfile.mkdtemp())
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 2


def test_winnow_fingerprints_replica_and_guarantee(spark):
    """Winnowing: matches a pure-Python replica, and two docs sharing a
    substring of length >= w+k-1 share at least one fingerprint while
    unrelated docs (different alphabets) share none."""
    import hashlib

    from ner_extractor_spark.operators.dedup import winnow_fingerprints

    def replica(text, k=5, w=4):
        t = " ".join(text.lower().split())
        m = max(len(t) - k + 1, 1)
        hs = [int(hashlib.md5(t[i:i + k].encode()).hexdigest()[:8], 16)
              for i in range(m)]
        nw = max(len(hs) - w + 1, 1)
        return sorted({min(hs[j:j + w]) for j in range(nw)})

    shared = "the identical long passage appears verbatim here"
    rows = [(1, "prefix one " + shared + " suffix a"),
            (2, "other start " + shared + " tail b"),
            (3, "zq " * 10),
            (4, "xy")]                       # shorter than k
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in winnow_fingerprints(docs).collect()}
    for doc_id, text in rows:
        assert got[doc_id]["fingerprints"] == replica(text), doc_id
    assert set(got[1]["fingerprints"]) & set(got[2]["fingerprints"])
    assert not set(got[1]["fingerprints"]) & set(got[3]["fingerprints"])
    assert got[4]["n_grams"] == 1 and got[4]["n_fingerprints"] == 1


def test_winnow_matches_finds_window_length_overlap(spark):
    """VERDICT r04 #3 adversarial pin: a verbatim overlap of EXACTLY
    w + k - 1 = 8 chars is guaranteed to surface as a match pair
    (the winnowing guarantee); a k - 1 = 4-char overlap between
    otherwise-disjoint alphabets shares no k-gram at all, so no pair."""
    from ner_extractor_spark.operators.dedup import winnow_matches

    # docs 1/2: alphabets disjoint except the 8-char 'qqqqqqqq' run
    rows = [(1, "ababab" + "qqqqqqqq" + "cdcdcd"),
            (2, "efefef" + "qqqqqqqq" + "ghghgh"),
            # docs 3/4: only 'zzzz' (k-1 chars) in common -> no shared
            # 5-gram, hence no shared fingerprint
            (3, "ijijij" + "zzzz" + "klklkl"),
            (4, "mnmnmn" + "zzzz" + "opopop")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["n_shared"]
             for r in winnow_matches(docs).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert (3, 4) not in pairs


def test_winnow_matches_max_df_drops_boilerplate(spark):
    """The MOSS ubiquitous-content cap: a fingerprint present in more
    than max_df documents is excluded BEFORE pairing, so corpus-wide
    boilerplate does not produce O(n²) pairs."""
    from ner_extractor_spark.operators.dedup import winnow_matches

    boiler = "all rights reserved standard footer text here"
    rows = [(i, f"page {i} body {'x' * i} " + boiler) for i in range(1, 6)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    uncapped = winnow_matches(docs).count()
    capped = winnow_matches(docs, max_df=2).count()
    assert uncapped == 10            # all C(5,2) pairs share the footer
    assert capped < uncapped


def test_winnow_matches_counts_shared_fingerprints(spark):
    """n_shared equals the driver-side intersection size of the two
    documents' fingerprint sets."""
    from ner_extractor_spark.operators.dedup import (winnow_fingerprints,
                                                     winnow_matches)

    rows = [(1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox sat while the lazy dog slept")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    fps = {r["doc_id"]: set(r["fingerprints"])
           for r in winnow_fingerprints(docs).collect()}
    want = len(fps[1] & fps[2])
    got = winnow_matches(docs).collect()
    assert len(got) == 1
    assert got[0]["n_shared"] == want


def test_minhash_agg_form_equals_hof_signature(spark):
    """r06: minhash_lsh_pairs' aggregate-form signature (min() over the
    exploded shingle table) is value-identical to the HOF array form
    (minhash_sig_from) — same min over the same md5(k|shingle) set."""
    from pyspark.sql import functions as F

    from ner_extractor_spark.operators.dedup import (_minhash_sig,
                                                     minhash_sig_from,
                                                     word_shingles)

    d = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox leaps over the lazy dog"),
         (3, "completely different text about markets and trade")],
        "doc_id int, text string")
    hof = {r["doc_id"]: list(r["sig"]) for r in d.select(
        "doc_id", minhash_sig_from(word_shingles(F.col("text")), 12)
        .alias("sig")).collect()}
    sh = d.select(F.col("doc_id").alias("id"),
                  F.explode(word_shingles(F.col("text"))).alias("shingle"))
    agg = {r["id"]: [r[f"h{k}"] for k in range(12)]
           for r in _minhash_sig(sh, 12).collect()}
    assert hof == agg


def test_blocking_stats(spark):
    from ner_extractor_spark.operators.dedup import blocking_stats
    r = blocking_stats(_docs(spark), threshold=0.5).collect()
    assert len(r) == 1
    m = r[0].asDict()
    assert m["n_docs"] == 5
    # docs 1/2/5 are identical after normalization (3 true pairs at
    # jaccard 1.0) and doc 3 is one word off (jaccard well above 0.5
    # with all three) -> 6 true pairs, every one sharing all bands
    assert m["n_true_pairs"] == 6
    assert m["n_caught"] == 6
    assert m["pairs_completeness"] == 1.0
    # quality and reduction ratio are well-formed fractions
    assert 0.0 < m["pairs_quality"] <= 1.0
    assert m["n_candidates"] >= m["n_caught"]
    assert 0.0 <= m["reduction_ratio"] <= 1.0
    # reduction ratio is exactly 1 - candidates / C(5,2)
    assert m["reduction_ratio"] == round(1.0 - m["n_candidates"] / 10.0, 6)


def test_blocking_stats_rejects_nonpositive_threshold(spark):
    import pytest

    from ner_extractor_spark.operators.dedup import blocking_stats
    with pytest.raises(ValueError):
        blocking_stats(_docs(spark), threshold=0.0)


def test_band_size_must_divide_n_hashes(spark):
    """A short last band would not match the oracle's floor(k / b)
    grouping, so every MinHash-LSH entry point refuses it."""
    import pytest

    from ner_extractor_spark.operators.dedup import (blocking_curve,
                                                     minhash_lsh_pairs)
    from ner_extractor_spark.operators.link import lsh_candidates
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(_docs(spark), band_size=5)
    s = spark.createDataFrame([("acme",)], "k string")
    with pytest.raises(ValueError, match="must divide"):
        lsh_candidates(s, "k", s, "k", band_size=5)
    with pytest.raises(ValueError, match="must divide"):
        blocking_curve(_docs(spark), band_sizes=(5,))


def test_blocking_curve_monotone_and_consistent(spark):
    """Wider bands = stricter blocking: candidates and completeness
    are non-increasing in band_size, and every band's candidate set
    is a subset of band_size=1's (a shared band of width b implies b
    shared single-hash bands)."""
    from ner_extractor_spark.operators.dedup import (blocking_curve,
                                                     blocking_stats)
    d = _docs(spark)
    rows = {r["band_size"]: r.asDict()
            for r in blocking_curve(d, band_sizes=(1, 2, 4)).collect()}
    assert [rows[b]["n_bands"] for b in (1, 2, 4)] == [12, 6, 3]
    cands = [rows[b]["n_candidates"] for b in (1, 2, 4)]
    assert cands == sorted(cands, reverse=True)
    compl = [rows[b]["pairs_completeness"] for b in (1, 2, 4)]
    assert compl == sorted(compl, reverse=True)
    assert all(r["n_true_pairs"] == rows[1]["n_true_pairs"]
               for r in rows.values())
    # the band_size=2 row must equal blocking_stats' default reading
    st = blocking_stats(d, threshold=0.5).collect()[0].asDict()
    for k in ("n_candidates", "n_caught", "pairs_completeness",
              "pairs_quality", "reduction_ratio"):
        assert rows[2][k] == st[k], k
