"""Deduplication operators for web-scale training-data pipelines.

All five families requested by the build brief, each deterministic and
engine-portable (hashes are md5-based so the DuckDB oracle can recompute
them exactly):

  * exact_dedup          — hash-groupBy on normalized text
  * minhash_lsh_pairs    — word-shingle MinHash, banded LSH bucket join
  * simhash              — bit-vote fingerprint from token hashes
  * ngram_jaccard_pairs  — exact Jaccard over shingles for candidate pairs
  * embedding_near_dups  — cosine near-duplicates over array<float>

Scale notes: every pairwise family goes through a BUCKET JOIN (shingle,
band, or simhash prefix) so the shuffle key is high-cardinality; nothing
ever computes an n^2 cross join.  The exact-Jaccard verification join is
restricted to LSH candidates (the standard two-phase design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import normalize_text
from ..session import run_concurrently

N_HASHES = 12
BAND_SIZE = 2  # 6 bands of 2 -> s-curve threshold ~ (1/6)^(1/2) ~ 0.41


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact dedup: keeper = min id per md5(normalized text).
    One shuffle on the 128-bit digest — skew-free by construction."""
    return (
        docs.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_dups"))
    )


def dedup_first_seen(pages: DataFrame, id_col: str = "url",
                     ts_col: str = "warc_ts",
                     text_col: str = "text") -> DataFrame:
    """Time-ordered exact dedup (crawl semantics: the FIRST capture of
    a page's content is the keeper — re-crawls and mirrors drop):
    (h, keeper, first_ts, n_copies) per content digest.

    Deterministic keeper = min (ts, id) pair via a single ``min(struct)``
    aggregate — no window, one skew-free shuffle on the digest; the
    batch twin of ``streaming.kg_stream.dedup_pages_stream`` (which
    keeps the first ARRIVAL inside the watermark horizon — equal
    content-key sets, pinned in tests/test_dedup.py)."""
    return (
        pages.select(F.col(id_col).alias("_id"), F.col(ts_col).alias("_ts"),
                     F.md5(normalize_text(F.col(text_col))).alias("h"))
        .groupBy("h")
        .agg(F.min(F.struct(F.col("_ts"), F.col("_id"))).alias("m"),
             F.count(F.lit(1)).alias("n_copies"))
        .select("h", F.col("m._id").alias("keeper"),
                F.col("m._ts").alias("first_ts"), "n_copies"))


def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    algorithm): char-``k``-gram rolling hashes, min per sliding window
    of ``w`` hashes, distinct minima = the fingerprint set.

    Guarantee: any substring match of length >= w + k - 1 chars between
    two documents shares at least one fingerprint — so cross-doc
    fingerprint joins detect long verbatim overlaps at a bounded
    fraction (~2/(w+1)) of the full k-gram set's cost.

    Shape: ENTIRELY per-row HOF expressions (no Python, no shuffle);
    the md5 fold keeps hashes engine-portable so the DuckDB oracle
    rebuilds the identical minima.  Returns (doc_id, n_grams,
    n_fingerprints, fingerprints sorted array<bigint>); downstream
    cross-doc matching is a groupBy on the exploded fingerprint —
    the same shingle-df shape as dup_ngram_fraction."""
    t = normalize_text(F.col(text_col))
    n_grams = F.greatest(F.length(t) - (k - 1), F.lit(1))
    hashes = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.conv(F.substring(F.md5(F.substring(t, i, F.lit(k))),
                                     1, 8), 16, 10).cast("long"))
    # MATERIALIZE the hash array in its own projection AND bind it as a
    # lambda variable for the window pass: a plain column reference
    # inlines under CollapseProject when a downstream consumer keeps
    # only one output column (e.g. winnow_matches' explode), turning
    # the rolling-hash pass into a per-window re-evaluation — O(m²)
    # md5 calls (measured: sf0.01 went from ~2 s to a multi-minute
    # hang).  transform(array(_h), hs -> ...) evaluates _h exactly
    # once per row no matter how the projections collapse.
    staged = docs.select(F.col(id_col).alias("doc_id"),
                         n_grams.cast("int").alias("n_grams"),
                         hashes.alias("_h"))

    def windows(hs):
        n_wins = F.greatest(F.size(hs) - (w - 1), F.lit(1))
        return F.array_sort(F.array_distinct(
            F.transform(F.sequence(F.lit(1), n_wins),
                        lambda j: F.array_min(F.slice(hs, j, w)))))

    fps = F.get(F.transform(F.array(F.col("_h")), windows), 0)
    return staged.select("doc_id", "n_grams",
                         F.size(fps).alias("n_fingerprints"),
                         fps.alias("fingerprints"))


def winnow_matches(docs: DataFrame, k: int = 5, w: int = 4,
                   min_shared: int = 1, max_df: int | None = None,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Cross-document winnow overlap report — the MOSS match step that
    ``winnow_fingerprints`` exists to feed (VERDICT r04 #3): explode
    each document's fingerprint set, join documents sharing a
    fingerprint, count shared fingerprints per (doc_a, doc_b) pair.

    Guarantee (inherited from winnowing): two documents sharing a
    verbatim substring of >= w + k - 1 chars share >= 1 fingerprint,
    so every long overlap surfaces as a pair; shorter overlaps may or
    may not (pinned in tests/test_dedup.py).

    Scale shape: the pair fan-out per fingerprint is df² — boilerplate
    fingerprints (hot char-grams every page shares) are the skew/blow-up
    risk, so ``max_df`` drops fingerprints appearing in more than that
    many documents BEFORE pairing (the standard MOSS "ignore
    ubiquitous content" heuristic: a fingerprint in half the corpus
    identifies boilerplate, not copying).  With the cap, work is
    bounded by n_fingerprints × max_df² and every join keys on the
    fingerprint — the same shingle-df shape as dup_ngram_fraction,
    no pairwise corpus join.  Returns (doc_a, doc_b, n_shared) with
    doc_a < doc_b, n_shared >= min_shared.

    The exploded fingerprint table has THREE consumers (the df
    profile and both sides of the pair join) — without a barrier the
    rolling-hash pass would execute once per consumer (measured 3×
    at sf0.1), so it is localCheckpoint-ed once (the
    calibrated_curation discipline).  At petabyte scale, where the
    exploded table outgrows executor storage, replace the
    localCheckpoint with a persisted parquet stage
    (``plans/checkpoints.write_stage``) feeding the three consumers —
    same barrier semantics, durable storage."""
    # explode_outer, not explode: plain explode plants an implicit
    # size(fingerprints) > 0 guard that Catalyst pushes below the
    # input-spread Exchange as a scan filter — evaluating the ENTIRE
    # rolling-hash expression single-task on the pre-shuffle side
    # (measured: a 14 s serial pass at sf0.1 before the parallel one).
    # The fingerprint set is never empty (>= 1 window per doc), so the
    # outer variant is row-identical and generates no pushable filter.
    ex = (winnow_fingerprints(docs, k=k, w=w, id_col=id_col,
                              text_col=text_col)
          .select("doc_id", F.explode_outer("fingerprints").alias("fp"))
          .localCheckpoint())
    if max_df is not None:
        keep = (ex.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= max_df).select("fp"))
        ex = ex.join(keep, on="fp")
    a = ex.select("fp", F.col("doc_id").alias("doc_a"))
    b = ex.select("fp", F.col("doc_id").alias("doc_b"))
    return (a.join(b, on="fp")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def word_shingles(col, n: int = 3):
    """Distinct word n-gram shingles of a text column (built-ins only)."""
    toks = F.split(normalize_text(col), " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def minhash_sig_from(sh_col, n_hashes: int = N_HASHES):
    """Minhash signature from a MATERIALIZED shingle-array column.

    Perf note: always materialize the shingle array first (withColumn /
    select) — inlining `word_shingles(text)` here would re-evaluate the
    split/slice/concat pipeline once per hash function (a 10x+ slowdown
    measured at sf0.1)."""
    return F.array(*[
        F.array_min(F.transform(sh_col,
                                lambda s: F.md5(F.concat(F.lit(f"{k}|"), s))))
        for k in range(n_hashes)
    ])


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n_hashes: int = N_HASHES,
                      band_size: int = BAND_SIZE,
                      shingles: DataFrame | None = None) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing at least one LSH band.

    The band key concatenates the band's `band_size` minhashes sorted BY
    VALUE (a multiset key — deliberately order-insensitive within the
    band, mirrored verbatim by the DuckDB oracle's ORDER BY h): bucket
    cardinality is huge and the self-join shuffle is well spread.

    r06 form: the signature comes from ``n_hashes`` ``min()``
    AGGREGATES over the EXPLODED (id, shingle) table rather than a
    per-row HOF over the shingle array — identical values (min over
    the same md5(k|shingle) set, equality-pinned in test_dedup), but
    map-side combined (the shuffle carries n_hashes mins per doc, not
    shingle arrays), ~17% faster measured at sf0.1, and it lets
    callers SHARE one exploded shingle pass with
    ``dup_ngram_fraction`` via ``shingles=`` (the calibrated near-dup
    verdict does — one corpus shingle explode instead of two).
    ``shingles`` must be the distinct-per-doc (id_col, shingle) table
    (``word_shingles`` semantics)."""
    if shingles is None:
        sh = _shingle_rows(docs, id_col, text_col)
    else:
        sh = shingles.select(F.col(id_col).alias("id"), "shingle")
    return _band_pairs(_bands_from_sig(_minhash_sig(sh, n_hashes),
                                       n_hashes, band_size))


def _shingle_rows(docs: DataFrame, id_col: str, text_col: str,
                  n: int = 3) -> DataFrame:
    """(id, shingle): one row per distinct word ``n``-gram of each doc."""
    return docs.select(F.col(id_col).alias("id"),
                       F.explode(word_shingles(F.col(text_col), n))
                       .alias("shingle"))


def _minhash_sig(sh: DataFrame, n_hashes: int) -> DataFrame:
    """THE MinHash signature: (id, shingle) -> (id, h0..h{n-1}), h_k =
    min(md5("k|" || shingle)), banded by ``_bands_from_sig`` for dedup
    and ``link.lsh_candidates``.  Oracle mirrors: ``_minhash_bands_sql``
    (dedup); the shn/sig CTEs of ``kg_nil_clusters``/``kg_link_embed``."""
    return sh.groupBy("id").agg(*[
        F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("shingle"))))
        .alias(f"h{k}") for k in range(n_hashes)])


def ngram_jaccard(docs: DataFrame, pairs: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  shingle_n: int = 3,
                  shingles: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard similarity for candidate pairs (verification phase).
    jaccard = |A ∩ B| / |A ∪ B| over word shingles.

    Shuffle shape: shingles are computed ONLY for documents that appear
    in a candidate pair (semi-join first — the corpus never re-shingles
    for verification) and EXPLODED, so the joins shuffle (pair, shingle)
    rows — never whole documents' shingle arrays.  The intersection
    count is a groupBy over candidate pairs only.

    The candidate set is materialized once (localCheckpoint): the
    two-phase dedup contract reads candidates from a table in
    production, and without the barrier Catalyst re-evaluates the whole
    candidate-generation DAG for each of its four uses here (measured
    ~3x the query time at sf0.1).

    ``shingles=`` (r07): a pre-built, MATERIALIZED (id_col, shingle)
    exploded table (``word_shingles`` distinct semantics, same
    ``shingle_n``) — the two-phase composition then shares ONE corpus
    shingle pass between candidate generation (``minhash_lsh_pairs``)
    and this verification instead of re-shingling the candidate
    documents.  Its n is fixed when it is built, so a non-default
    ``shingle_n`` alongside it is rejected."""
    if shingles is not None and shingle_n != 3:
        raise ValueError("shingle_n does not apply to a pre-built "
                         "shingles table; build it with that n instead")
    pairs = pairs.localCheckpoint()
    ids = (pairs.select(F.col("a").alias("id"))
           .unionByName(pairs.select(F.col("b").alias("id")))
           .distinct())
    if shingles is not None:
        # already exploded + materialized by the caller: the semi-join
        # just narrows it to candidate docs, no second corpus pass
        sh = (shingles.select(F.col(id_col).alias("id"), "shingle")
              .join(ids, on="id", how="leftsemi"))
    else:
        # sh is consumed three times (sizes + both pair joins) —
        # materialize it, or the shingle pipeline re-evaluates per
        # consumer
        sh = (docs.select(F.col(id_col).alias("id"),
                          F.col(text_col).alias("t"))
              .join(ids, on="id", how="leftsemi")
              .select("id",
                      F.explode(word_shingles(F.col("t"), shingle_n))
                      .alias("shingle"))
              .localCheckpoint())
    # word_shingles is array_distinct, so count(*) == set size
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("nsh"))
    inter = (
        pairs
        .join(sh.select(F.col("id").alias("a"), "shingle"), on="a")
        .join(sh.select(F.col("id").alias("b"), "shingle"), on=["b", "shingle"])
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("ninter"))
    )
    ni = F.coalesce(F.col("ninter"), F.lit(0))
    return (
        pairs
        .join(inter, on=["a", "b"], how="left")
        .join(sizes.select(F.col("id").alias("a"), F.col("nsh").alias("na")), on="a")
        .join(sizes.select(F.col("id").alias("b"), F.col("nsh").alias("nb")), on="b")
        .select("a", "b",
                F.round(ni / (F.col("na") + F.col("nb") - ni), 6).alias("jaccard"))
    )


def simhash_bits_from(hexes_col, n_bits: int = 16):
    """SimHash fingerprint (array of n_bits 0/1 ints) from a MATERIALIZED
    per-token md5 array column (materialize first — see minhash_sig_from).

    Bit j = majority vote over tokens of bit j of md5(token); a token's
    bit j = 1 iff hex digit j of its md5 is >= '8' (top bit of nibble).
    Deterministic, portable (same formula reproducible in ANSI SQL).

    r07 (guide §1.2 per-task work): md5() emits LOWERCASE hex, so the
    top-bit test is the single lexicographic compare ``digit >= '8'``
    ('8', '9' and 'a'-'f' all sort above '8'; '0'-'7' below) — the
    prior upper() + 8-way isin did 9 string ops per (token × bit).
    Identical bits by construction (pinned in test_dedup)."""
    return F.array(*[
        (F.size(F.filter(hexes_col,
                         lambda h: F.substring(h, j + 1, 1) >= "8"))
         * 2 > F.size(hexes_col)).cast("int")
        for j in range(n_bits)
    ])


def simhash_segments(n_bits: int, max_hamming: int) -> list:
    """(1-based start, length) of the ``max_hamming + 1`` pigeonhole
    segments, longest segments first.  With h diffs spread over h+1
    segments, at least one segment is diff-free — that is the ONLY split
    count with a recall guarantee at hamming ≤ h (2 halves guarantee
    only hamming ≤ 1; round-2 shipped exactly that bug).

    ``n_bits`` is capped at 63: ``simhash_block_pairs`` packs the
    fingerprint into one signed long, and a 64th bit overflows it
    (ARITHMETIC_OVERFLOW under ANSI mode, a silent wrap without)."""
    if n_bits > 63:
        raise ValueError(f"n_bits={n_bits} does not fit a long; "
                         "the fingerprint holds at most 63 bits")
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    n_seg = max_hamming + 1
    if n_seg > n_bits:
        raise ValueError(f"max_hamming={max_hamming} needs {n_seg} segments "
                         f"but the fingerprint has only {n_bits} bits")
    base, rem = divmod(n_bits, n_seg)
    bounds, start = [], 1
    for i in range(n_seg):
        ln = base + (1 if i < rem else 0)
        bounds.append((start, ln))
        start += ln
    return bounds


def simhash_block_pairs(fp: DataFrame, n_bits: int, max_hamming: int,
                        id_col: str = "id",
                        bits_col: str = "bits") -> DataFrame:
    """Fingerprints -> verified near-dup pairs (a < b, hamming).

    Blocking: split each fingerprint into ``max_hamming + 1`` contiguous
    segments; by pigeonhole ANY pair within hamming ≤ max_hamming agrees
    exactly on at least one whole segment, so bucketing on
    (segment_index, segment_bits) has perfect recall for the contract.
    The self-join key is high-cardinality (segment bitstrings), then the
    exact hamming filter verifies candidates — never an n² cross join.
    """
    bounds = simhash_segments(n_bits, max_hamming)
    # r07 (guide §2.3 narrower types / §1.2-2 per-task work): the
    # candidate space of a b-bit simhash is quadratic-per-bucket once
    # the corpus outgrows 2^b fingerprints, so the per-candidate cost
    # is what scales.  Pack the bit array into ONE integer: the join
    # sides carry an int instead of an array<int>[n_bits], and the
    # hamming verify is bit_count(xor) instead of a zip_with + filter
    # + size array pipeline per pair (measured 8x corpus: the
    # verify/join stage dominated the query at 41 s).  Hamming values
    # — and therefore the output rows — are identical by definition.
    packed = F.aggregate(F.col(bits_col), F.lit(0).cast("long"),
                         lambda acc, x: acc * 2 + x)
    blocks = fp.select(
        F.col(id_col).alias("id"), packed.alias("bi"),
        F.explode(F.array(*[
            F.concat(F.lit(f"S{i}:"),
                     F.concat_ws("", F.slice(bits_col, s, ln)))
            for i, (s, ln) in enumerate(bounds)])).alias("block"),
    )
    a = blocks.select(F.col("id").alias("a"), F.col("bi").alias("ba"), "block")
    b = blocks.select(F.col("id").alias("b"), F.col("bi").alias("bb"), "block")
    pairs = a.join(b, "block").filter(F.col("a") < F.col("b"))
    # HOF-bound form, NOT plain bit_count(ba ^ bb): a bare
    # null-intolerant chain lets Catalyst infer isnotnull(packed) from
    # the hamming filter and push the ENTIRE fingerprint expression
    # below the input-spread Exchange — a serial single-task pass of
    # the whole corpus (the winnowing explode_outer lesson; measured
    # sf0.1 1.4 s -> 7.0 s with 93% idle when pushed).  Constraint
    # inference does not walk lambda functions, so the wrap pins the
    # evaluation above the shuffle.  Same hamming values either way.
    ham = F.get(F.transform(F.array(F.col("ba").bitwiseXOR(F.col("bb"))),
                            lambda v: F.bit_count(v)), 0)
    return (pairs.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming").distinct())


def simhash_dedup(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n_bits: int = 16,
                  max_hamming: int = 2) -> DataFrame:
    """Near-dup pairs by SimHash with pigeonhole blocking on
    ``max_hamming + 1`` fingerprint segments (see simhash_block_pairs —
    guaranteed recall for every pair within hamming ≤ max_hamming),
    then exact hamming verification."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    fp = (docs.select(F.col(id_col).alias("id"),
                      F.transform(toks, lambda t: F.md5(t)).alias("hexes"))
          .select("id", simhash_bits_from(F.col("hexes"), n_bits).alias("bits")))
    return simhash_block_pairs(fp, n_bits, max_hamming)


def resolve_duplicates(docs: DataFrame, pairs: DataFrame,
                       id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs -> canonical keeper per duplicate cluster.

    Transitive closure via connected components (a~b, b~c => one
    cluster); keeper = min id.  Returns (doc_id, keeper, is_keeper) for
    EVERY input doc (singletons keep themselves) — the standard
    "drop non-keepers" training-data dedup contract.
    """
    from .cc import connected_components

    comp = connected_components(pairs, src="a", dst="b")
    ids = docs.select(F.col(id_col))
    out = (ids.join(comp.withColumnRenamed("node", id_col), on=id_col,
                    how="left")
           .select(id_col,
                   F.coalesce("comp", F.col(id_col)).alias("keeper")))
    return out.withColumn("is_keeper", (F.col(id_col) == F.col("keeper")))


def plane_sign(k: int, d: int) -> float:
    """±1 hyperplane cell — Python twin of the in-expression md5 parity
    (first hex nibble ≥ 8 → +1).  Same bits as the expression path by
    construction; pinned by test_dedup."""
    import hashlib
    h = hashlib.md5(f"{k}|{d}".encode()).hexdigest()
    return 1.0 if h[0] in "89abcdef" else -1.0


def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95,
                        n_planes: int = 16, band_size: int = 4,
                        literal_planes: bool = False,
                        dim: int | None = None) -> DataFrame:
    """Cosine near-duplicate pairs over an embedding column.

    DEFAULT (the scale path): banded random-hyperplane LSH.  Each vector
    gets an ``n_planes``-bit sign sketch (bit k = sign(v · plane_k), with
    plane_k a deterministic ±1 pattern from md5(k|dim) parity — engine-
    portable, so the DuckDB oracle recomputes the identical buckets).
    Bits are banded ``band_size`` at a time (minhash-style OR-construction:
    pairs agreeing on ANY band become candidates), candidates are verified
    with the exact cosine.  Nothing computes an n² cross join; the only
    wide ops are the block-key self-join and the two sparse id joins that
    fetch candidate vectors.

    n_planes == 0 is the EXPLICIT exact-audit mode (full pairwise) — never
    the default, only for small-sample recall audits.

    ``literal_planes=True`` (VERDICT r03 #5) precomputes the
    n_planes × dim ±1 matrix ONCE driver-side (``plane_sign`` — the md5
    parity evaluated in Python instead of per (vector × plane × dim)
    inside the expression) and ships each plane as an array literal:
    identical bits, identical pairs (equality-pinned in test_dedup),
    one hash per matrix cell total instead of one per corpus row × cell.
    ``dim`` is the embedding width; if omitted it is read from one row
    (a driver lookup — pass it explicitly in production).
    """
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v)
    norm = lambda x: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(x, lambda a: a * a), F.lit(0.0), lambda acc, v: acc + v))

    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if n_planes > 0:
        # sign sketch: bit_k = sign(sum_d v[d] * plane_k[d]).  The md5-in-
        # expression keeps the planes oracle-reproducible; at production
        # scale precompute the (n_planes × dim) ±1 matrix once and ship it
        # as a broadcast literal — same bits, one hash per cell total.
        if literal_planes:
            if dim is None:
                row = emb.select(vec_col).limit(1).first()
                dim = len(row[0]) if row and row[0] is not None else 1
            planes = [[plane_sign(k, d) for d in range(dim)]
                      for k in range(n_planes)]

            def plane_bit(vcol, k):
                row = F.array(*[F.lit(s) for s in planes[k]])
                return (F.aggregate(
                    F.zip_with(vcol, row, lambda a, b: a * b),
                    F.lit(0.0), lambda acc, x: acc + x) > 0).cast("int")
        else:
            def plane_bit(vcol, k):
                return (F.aggregate(
                    F.zip_with(
                        vcol,
                        F.transform(F.sequence(F.lit(0), F.size(vcol) - 1),
                                    lambda d: F.when(
                                        F.substring(F.md5(F.concat(F.lit(f"{k}|"),
                                                                   d.cast("string"))), 1, 1)
                                        .isin(*"89abcdef"), F.lit(1.0)).otherwise(F.lit(-1.0))),
                        lambda a, b: a * b),
                    F.lit(0.0), lambda acc, x: acc + x) > 0).cast("int")

        n_bands = max(n_planes // band_size, 1)
        # bits MATERIALIZED once (see minhash_sig_from), then banded into
        # "band:bitstring" block keys — high-cardinality shuffle key.
        bits = e.withColumn("bits", F.array(*[
            plane_bit(F.col("v"), k) for k in range(n_planes)]))
        blocks = bits.select("id", F.explode(F.array(*[
            F.concat(F.lit(f"{bnd}:"),
                     F.concat_ws("", F.slice("bits", bnd * band_size + 1,
                                             band_size)))
            for bnd in range(n_bands)])).alias("block"))
        cand = (blocks.select(F.col("id").alias("a"), "block")
                .join(blocks.select(F.col("id").alias("b"), "block"), "block")
                .filter(F.col("a") < F.col("b"))
                .select("a", "b").distinct())
        pairs = (cand
                 .join(e.select(F.col("id").alias("a"), F.col("v").alias("va")), "a")
                 .join(e.select(F.col("id").alias("b"), F.col("v").alias("vb")), "b"))
    else:
        a = e.select(F.col("id").alias("a"), F.col("v").alias("va"))
        b = e.select(F.col("id").alias("b"), F.col("v").alias("vb"))
        pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))

    cos = dot(F.col("va"), F.col("vb")) / (norm(F.col("va")) * norm(F.col("vb")))
    return (pairs.withColumn("cosine", F.round(cos, 6))
            .filter(F.col("cosine") >= threshold)
            .select("a", "b", "cosine"))


def dup_ngram_fraction(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       shingles: DataFrame | None = None) -> DataFrame:
    """Cross-document duplicate n-gram fraction (the Gopher/RefinedWeb
    quality signal): per document, the share of its DISTINCT word
    n-grams that occur in at least one OTHER document.

    Sits between ``text.repetition_features`` (within-doc) and the
    whole-document families above: a page that is 60% templated prose
    stitched around unique filler passes exact/MinHash dedup and
    within-doc repetition, but lights up here.

    Returns (id_col, n_ngrams, n_dup, dup_fraction).

    Scale shape: explode distinct shingles (one row per (doc, shingle)),
    df-count on the shingle with map-side combine, join the counts back
    on the shingle key, per-doc aggregate — the boilerplate/line-df
    posture at n-gram granularity; no pairwise joins anywhere.
    ``shingles=`` reuses a pre-built (id_col, shingle) exploded table
    (r06: the calibrated near-dup verdict shares ONE shingle pass
    between this and ``minhash_lsh_pairs``).
    """
    if shingles is not None:
        sh = shingles.select(F.col(id_col), "shingle")
    else:
        sh = docs.select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle"))
    sdf = sh.groupBy("shingle").agg(
        F.countDistinct(id_col).alias("sdf"))
    is_dup = F.when(F.col("sdf") >= 2, F.lit(1)).otherwise(F.lit(0))
    return (sh.join(sdf, "shingle")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_ngrams"),
                 F.sum(is_dup).alias("n_dup"))
            .select(id_col, "n_ngrams", "n_dup",
                    F.round(F.col("n_dup") / F.col("n_ngrams"), 6)
                    .alias("dup_fraction")))


def blocking_stats(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n_hashes: int = N_HASHES,
                   band_size: int = BAND_SIZE, threshold: float = 0.5,
                   shingle_n: int = 3) -> DataFrame:
    """Blocking-quality audit of the MinHash-LSH candidate generator:
    the three standard blocking metrics (Christen, "Data Matching",
    2012) against the exact-Jaccard truth set.

    Returns ONE row: (n_docs, n_candidates, n_true_pairs, n_caught,
    pairs_completeness, pairs_quality, reduction_ratio) where
    completeness = caught/true (the blocking's recall), quality =
    caught/candidates (its precision), and reduction_ratio =
    1 - candidates / C(n_docs, 2) (the fraction of the quadratic
    comparison space the blocking eliminated).  This is the number you
    tune ``n_hashes``/``band_size`` against before a 100 TB dedup run.

    Scale posture: the CANDIDATE side is the production LSH path
    (banded bucket join, no all-pairs).  The TRUTH side is inherently
    quadratic-per-shared-shingle (a shingle self-join) — it is exact
    and safe at audit scale, but at web scale this operator is meant
    to run on a SAMPLED slice (e.g. ``sample_deterministic`` of 10^5
    docs), never the full corpus; the metrics are unbiased under
    uniform doc sampling of the slice.  All four counts are 1-row
    aggregates crossJoined at the end (broadcast, driver never
    collects intermediate pairs).  Candidates and truth share ONE
    exploded (id, shingle) pass (``minhash_lsh_pairs(shingles=)``) —
    which also guarantees both sides measure the SAME ``shingle_n``
    similarity, so the completeness/quality numbers audit the
    blocking against its own metric.

    The candidate and truth tables are materialized on two driver
    threads (``session.run_concurrently``); a failing side cancels the
    other side's running jobs.
    """
    if not threshold > 0:
        # jaccard >= 0 holds for every pair, including the non-
        # overlapping ones the shingle-equijoin never enumerates —
        # the truth set would silently understate
        raise ValueError("threshold must be > 0")
    # shared: LSH signature + sizes + both truth join sides
    sh = _shingle_rows(docs, id_col, text_col, shingle_n).localCheckpoint()
    cand = minhash_lsh_pairs(docs, id_col="id", n_hashes=n_hashes,
                             band_size=band_size, shingles=sh)
    # candidate and truth tables are INDEPENDENT given sh (each is
    # consumed twice: count + caught join) — materialize them
    # CONCURRENTLY (guide §2.6 overlap-independent-jobs) so the truth
    # side's stragglers back-fill with candidate-side tasks
    cand, truth = run_concurrently(
        cand.localCheckpoint, _truth_pairs(sh, threshold).localCheckpoint)
    return _blocking_row(docs, cand, truth)


def _truth_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """(a, b), a < b: the pairs of an (id, shingle) table whose Jaccard
    is >= ``threshold``.  A pair with jaccard > 0 shares a shingle, so
    the shingle-equijoin enumeration is exact for any threshold > 0."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("nsh"))
    inter = (sh.select(F.col("id").alias("a"), "shingle")
             .join(sh.select(F.col("id").alias("b"), "shingle"),
                   on="shingle")
             .filter(F.col("a") < F.col("b"))
             .groupBy("a", "b").agg(F.count(F.lit(1)).alias("ninter")))
    return (inter
            .join(sizes.select(F.col("id").alias("a"),
                               F.col("nsh").alias("na")), on="a")
            .join(sizes.select(F.col("id").alias("b"),
                               F.col("nsh").alias("nb")), on="b")
            .filter(F.col("ninter")
                    / (F.col("na") + F.col("nb") - F.col("ninter"))
                    >= F.lit(threshold))
            .select("a", "b"))


def _blocking_row(docs: DataFrame, cand: DataFrame,
                  truth: DataFrame) -> DataFrame:
    """The one-row blocking metrics of a candidate set against a truth
    set: four 1-row counts crossJoined, then the three ratios."""
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    cg = (truth.join(cand, on=["a", "b"])
          .agg(F.count(F.lit(1)).alias("n_caught")))
    # greatest(..., 1) mirrors the completeness/quality guards: a 0-
    # or 1-doc slice reads reduction_ratio 1.0 instead of null (or a
    # DIVIDE_BY_ZERO under ANSI mode)
    all_pairs = F.greatest(F.col("n_docs") * (F.col("n_docs") - 1) / 2,
                           F.lit(1.0))
    return (nd.crossJoin(nc).crossJoin(nt).crossJoin(cg)
            .select("n_docs", "n_candidates", "n_true_pairs", "n_caught",
                    F.round(F.col("n_caught")
                            / F.greatest(F.col("n_true_pairs"), F.lit(1)),
                            6).alias("pairs_completeness"),
                    F.round(F.col("n_caught")
                            / F.greatest(F.col("n_candidates"), F.lit(1)),
                            6).alias("pairs_quality"),
                    F.round(F.lit(1.0) - F.col("n_candidates") / all_pairs,
                            6).alias("reduction_ratio")))


def _bands_from_sig(sig: DataFrame, n_hashes: int,
                    band_size: int) -> DataFrame:
    """(id, h0..h{n-1}) signature table -> (id, band, bh) band keys:
    each band's ``band_size`` minhashes sorted BY VALUE (the multiset
    key minhash_lsh_pairs uses — mirrored by the DuckDB oracle's
    ORDER BY h)."""
    if n_hashes % band_size:
        # the oracle's floor(k / band_size) would add a short last band
        raise ValueError(f"band_size {band_size} must divide n_hashes")
    return sig.select("id", F.posexplode(F.array(*[
        F.concat_ws("", F.array_sort(F.array(
            *[F.col(f"h{b * band_size + j}") for j in range(band_size)])))
        for b in range(n_hashes // band_size)])).alias("band", "bh"))


def _band_pairs(bands: DataFrame) -> DataFrame:
    a = bands.select(F.col("id").alias("a"), "band", "bh")
    b = bands.select(F.col("id").alias("b"), "band", "bh")
    return (a.join(b, on=["band", "bh"]).filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())


def blocking_curve(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n_hashes: int = N_HASHES,
                   band_sizes: tuple = (1, 2, 4),
                   threshold: float = 0.5,
                   shingle_n: int = 3) -> DataFrame:
    """The band-width TUNING CURVE behind ``blocking_stats``: the same
    three blocking metrics at several LSH band widths, all from ONE
    corpus shingle pass and ONE signature aggregation — the sweep you
    read before fixing ``band_size`` for a 100 TB dedup run (wider
    bands push the s-curve threshold up: fewer candidates, lower
    completeness; the curve shows where YOUR corpus sits).

    One row per band width: (band_size, n_bands, n_docs, n_candidates,
    n_true_pairs, n_caught, pairs_completeness, pairs_quality,
    reduction_ratio).

    Scale shape: the corpus is shingled once (shared localCheckpoint),
    hashed into the signature once (n_hashes min() aggregates), and
    the exact truth set is computed once; each band width then costs
    only a posexplode over the BOUNDED signature table + a bucket
    self-join.  Same sampled-slice audit posture as blocking_stats.
    """
    if not threshold > 0:
        raise ValueError("threshold must be > 0")
    for b in band_sizes:
        if n_hashes % b:
            raise ValueError(f"band_size {b} must divide n_hashes")
    sh = _shingle_rows(docs, id_col, text_col, shingle_n).localCheckpoint()
    sig = _minhash_sig(sh, n_hashes).localCheckpoint()
    truth = _truth_pairs(sh, threshold).localCheckpoint()
    rows = None
    for b in band_sizes:
        cand = _band_pairs(_bands_from_sig(sig, n_hashes, b)) \
            .localCheckpoint()
        row = _blocking_row(docs, cand, truth).select(
            F.lit(b).cast("int").alias("band_size"),
            F.lit(n_hashes // b).cast("int").alias("n_bands"), "*")
        rows = row if rows is None else rows.unionByName(row)
    return rows
