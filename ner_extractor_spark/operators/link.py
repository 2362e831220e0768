"""Entity linking (SURVEY §7.1 M5, J5/J7): broadcast alias join +
MinHash-LSH residual candidates + explicit skew salting.

Stages:
  1. surface normalization (F8): lower + whitespace-collapse + trim —
     pure built-ins.
  2. exact alias match: broadcast hash join against the alias dictionary;
     ambiguity resolved deterministically (max prior, then min entity_id).
  3. residuals (left-anti vs step 2) go through MinHash-LSH over character
     3-gram shingles to find near-miss aliases (typos, case-garbled).
     The signature and band kernel is near-dup dedup's md5-band one,
     ``dedup._minhash_sig``/``_bands_from_sig`` (deterministic, engine-
     portable — the DuckDB oracle recomputes it in ANSI SQL;
     pyspark.ml.feature.MinHashLSH's hash seeds are not portable).
  4. skew: the hot-surface problem (a handful of surfaces dominate web
     text — SURVEY §4.3.1).  ``salt_explode`` gives the generic pattern:
     add salt = pmod(xxhash64(url), K) on the big side and explode the
     small side ×K, so one hot key fans out over K reducers.  For the
     broadcast alias join no shuffle happens at all, so salting only
     matters when the dictionary outgrows the broadcast threshold and the
     join becomes shuffle-hash — ``salt_explode`` is the documented recipe
     for that configuration (exercised by tests/test_skew_bucketing.py);
     AQE skew-join is the backstop either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import normalize_text as norm_surface
from .dedup import BAND_SIZE, N_HASHES, _bands_from_sig, _minhash_sig

SHINGLE = 3


def best_alias_rows(aliases: DataFrame) -> DataFrame:
    """One row per alias_norm: max prior, tie -> min entity_id — THE
    disambiguation rule, applied once on the (tiny, pre-broadcast)
    dimension table.  Shared by link_exact and the residual-LSH linking
    path so both tie-break identically."""
    wa = Window.partitionBy("alias_norm").orderBy(
        F.desc("prior"), F.asc("entity_id"))
    return (aliases.withColumn("_rk", F.row_number().over(wa))
            .filter(F.col("_rk") == 1).drop("_rk"))


def link_exact(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """Broadcast alias equi-join; deterministic disambiguation
    (max prior, then min entity_id).

    Returns mentions + (entity_id, prior); unmatched mentions are absent
    (use ``unlinked`` for the anti side).

    Disambiguation runs on the ALIAS side before the join: a mention's
    candidate set is fully determined by its normalized surface, so
    picking the best (prior, entity_id) row per alias_norm on the tiny
    dimension table is semantically identical to the per-mention window
    the round-2 version ran — and it removes the only shuffle from the
    corpus side entirely (measured: the big-side disambiguation window
    was ~70% of kg_link_alias's cost at sf0.1; plan pinned window-free
    on the probe side in tests/test_link_cc.py)."""
    m = mentions.withColumn("alias_norm", norm_surface(F.col("surface")))
    return m.join(F.broadcast(best_alias_rows(aliases)),
                  on="alias_norm", how="inner")


def auto_salt_k(df: DataFrame, key_col: str, n_partitions: int,
                cap: int = 64,
                profile: DataFrame | None = None) -> int:
    """Size ``salt_explode``'s k from MEASURED skew (SURVEY §4.3.1 /
    VERDICT r03 #4): the hottest key's row share × the shuffle
    partition count is how many partition-sized units that key would
    occupy unsalted — spreading it over ~that many salts levels the
    partitions.  The driver lookup itself is tiny (top-1 row), but
    computing it runs ``key_skew_profile``'s full corpus groupBy
    (ADVICE r04) — pass ``profile=`` to reuse an already-computed
    skew profile (hot paths should profile once per key per corpus
    and share it; ``skew.key_skew_profile`` output is reusable for
    any ``top_k >= 1``).  Capped because the small side replicates
    ×k."""
    import math

    from .skew import key_skew_profile
    if profile is None:
        profile = key_skew_profile(df, key_col, top_k=1)
    top = profile.orderBy(F.desc("share")).limit(1).collect()
    share = top[0]["share"] if top else 0.0
    return max(1, min(cap, math.ceil(share * n_partitions)))


def _shuffle_partitions(spark, default: int = 200) -> int:
    """spark.sql.shuffle.partitions as an int, tolerating the AQE
    'auto' setting (ADVICE r04: int('auto') raised)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism or default


def link_exact_salted(mentions: DataFrame, aliases: DataFrame,
                      k: int | None = None,
                      skew_profile: DataFrame | None = None) -> DataFrame:
    """``link_exact``'s BEYOND-BROADCAST configuration (north rule:
    explicit salted repartitioning on entity-surface-form keys).

    When the alias dictionary outgrows the broadcast threshold (real
    alias tables: every Wikipedia anchor string), the join must
    shuffle on alias_norm — and mention surfaces are zipf-hot, so the
    hot key's partition becomes the straggler.  This variant salts the
    mention side from the row-unique ``url`` (deterministic across task
    retries), explodes the DEDUPED ``best_alias_rows`` dimension ×k,
    and joins on (alias_norm, _salt) with a shuffle-hash hint so the
    plan stays a shuffle join even when the sandbox-sized dimension
    would auto-broadcast.  Same rows as ``link_exact`` by construction
    (equality + partition-balance pinned in tests/test_skew_bucketing).

    ``k=None`` sizes the salt from measured skew (``auto_salt_k``);
    pass ``skew_profile=`` (a precomputed ``key_skew_profile`` on
    ``alias_norm``) to avoid the extra corpus aggregation pass in hot
    paths (ADVICE r04).
    """
    m = mentions.withColumn("alias_norm", norm_surface(F.col("surface")))
    if k is None and skew_profile is None:
        # the in-line skew profile is an extra full pass over the
        # mention pipeline — materialize the mention table once (r07)
        # so the profile aggregation and the salted join share one
        # upstream evaluation (callers with a precomputed profile
        # skip both the pass and the barrier)
        m = m.localCheckpoint()
    if k is None:
        n_part = _shuffle_partitions(m.sparkSession)
        k = auto_salt_k(m, "alias_norm", n_part, profile=skew_profile)
    big_s, small_s, keys = salt_explode(m, best_alias_rows(aliases),
                                        "alias_norm", k=k, salt_src="url")
    return (big_s.join(small_s.hint("shuffle_hash"), on=keys, how="inner")
            .drop("_salt"))


def unlinked(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """Left-anti: mentions whose normalized surface has no exact alias."""
    m = mentions.withColumn("alias_norm", norm_surface(F.col("surface")))
    return m.join(F.broadcast(aliases.select("alias_norm")), on="alias_norm",
                  how="left_anti")


def _shingles(col, n: int = SHINGLE):
    """Distinct character n-grams of a string (padded so short strings
    still produce at least one shingle)."""
    padded = F.concat(F.lit("^"), col, F.lit("$"))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(padded) - (n - 1), F.lit(1))),
            lambda i: F.substring(padded, i, F.lit(n)),
        )
    )


def lsh_candidates(left: DataFrame, left_key: str,
                   right: DataFrame, right_key: str,
                   n_hashes: int = N_HASHES,
                   band_size: int = BAND_SIZE,
                   broadcast_right: bool = False) -> DataFrame:
    """Band-bucket join: pairs sharing any minhash band (bands of
    ``band_size`` ≥ 2 minhashes) of the keys' char-3-gram shingles,
    signed and banded by ``dedup._minhash_sig``/``_bands_from_sig``.

    Returns distinct (left_key, right_key) candidate pairs (right_key
    gets an ``_r`` suffix when the names are equal).  A band key
    concatenates ``band_size`` minhashes, so one popular shingle (the
    ``^th`` 3-gram family on web surfaces) cannot put a large fraction of
    all surfaces into one bucket — ALL hashes of the band must agree, not
    one.  Bucket-share bound pinned by tests/test_skew_bucketing.py; AQE
    splits any residual hot bucket.

    ``broadcast_right=True`` declares the right side DICTIONARY-BOUNDED
    (alias surfaces × bands): its band table broadcasts, so the
    corpus-sized left band table never shuffles.  Leave False for
    corpus×corpus pairings (nil_clusters' resid×resid), where neither
    side fits a broadcast.
    """
    def bands(df, key):
        # the kernel works on its own column names; the caller's key
        # names come back only in the final select
        sh = df.select(key).distinct().toDF("id").select(
            "id", F.explode(_shingles(norm_surface(F.col("id"))))
            .alias("shingle"))
        return _bands_from_sig(_minhash_sig(sh, n_hashes), n_hashes,
                               band_size)

    lb = bands(left, left_key).withColumnRenamed("id", "_l")
    rb = bands(right, right_key).withColumnRenamed("id", "_r")
    if broadcast_right:
        rb = F.broadcast(rb)
    out_r = right_key + "_r" if left_key == right_key else right_key
    return (lb.join(rb, on=["band", "bh"]).select("_l", "_r").distinct()
            .select(F.col("_l").alias(left_key), F.col("_r").alias(out_r)))


def nil_clusters(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """NIL clustering — the standard KG-construction step AFTER linking
    fails: mentions whose surface matches no alias are grouped into
    provisional entities, so the KG gets one node per unknown entity
    instead of one per spelling.  Composition of existing bucketed
    pieces (no new shuffle shapes): unlinked surfaces -> char-3-gram
    MinHash-LSH candidate pairs -> connected components; the cluster's
    min surface becomes the provisional id (``NIL:<surface>``).
    Returns (alias_norm, nil_id) for EVERY unlinked surface (singletons
    cluster with themselves)."""
    from .cc import connected_components

    # 3 consumers (both LSH band sides + the final join-back), each on
    # top of the full mention-extraction pipeline — one barrier (r07)
    resid = (unlinked(mentions, aliases)
             .select("alias_norm").distinct().localCheckpoint())
    cand = lsh_candidates(resid, "alias_norm", resid, "alias_norm")
    pairs = cand.filter(F.col("alias_norm") < F.col("alias_norm_r"))
    comp = connected_components(pairs, src="alias_norm", dst="alias_norm_r")
    return (resid.join(comp.withColumnRenamed("node", "alias_norm"),
                       on="alias_norm", how="left")
            .select("alias_norm",
                    F.concat(F.lit("NIL:"),
                             F.coalesce("comp", F.col("alias_norm")))
                    .alias("nil_id")))


def salt_explode(big: DataFrame, small: DataFrame, key: str, k: int = 16,
                 salt_src: str | None = None):
    """Generic skew-salting pattern (SURVEY §4.3.1): append
    salt = pmod(xxhash64(...), k) on the big side, explode the small
    side ×k, join on (key, salt).  Returns (big', small', join_keys).

    The salt MUST come from something row-unique, never the join key
    itself (a key-derived salt is constant for all rows of a hot key —
    zero spreading).  ``salt_src=None`` salts from
    ``monotonically_increasing_id()`` (row-unique by construction); pass
    a column name (e.g. a stable row id like ``url``) when the salt must
    be deterministic across task retries."""
    src = (F.monotonically_increasing_id() if salt_src is None
           else F.col(salt_src))
    salt_col = F.pmod(F.xxhash64(src), F.lit(k)).cast("int")
    big_s = big.withColumn("_salt", salt_col)
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
    small_s = small_s.withColumn("_salt", F.col("_salt").cast("int"))
    return big_s, small_s, [key, "_salt"]


def context_entities(cand: DataFrame) -> DataFrame:
    """(url, ctx_id): the UNAMBIGUOUS entities of each document —
    candidates whose alias maps to exactly one entity.  The anchor set
    coherence disambiguation scores against."""
    return (cand.filter(F.col("n_cand") == 1)
            .select("url", F.col("entity_id").alias("ctx_id"))
            .distinct())


def link_coherent(mentions: DataFrame, aliases: DataFrame,
                  relatedness: DataFrame | None = None) -> DataFrame:
    """Document-coherence entity disambiguation (the classic
    collective-linking recipe, cf. Cucerzan 2007 / Milne & Witten
    2008 — public algorithms): an ambiguous mention resolves to the
    candidate most RELATED to the document's unambiguous entities,
    falling back to (prior desc, entity_id asc) — ``link_exact``'s
    rule — when coherence is silent.  'jaguar' near 'spark plug'
    links to the car; near 'big cat' to the animal.

    ``relatedness``: (qa, qb, w) — directed, qa = candidate, qb =
    context entity.  ``None`` derives it from the corpus itself:
    co-occurrence counts of unambiguous entity pairs across documents
    (symmetric by construction).  score(mention, cand) =
    sum(w) over the document's context entities.

    Output: one row per linked mention — (url, sent_id, start, end,
    surface, entity_id, prior, n_cand, score).

    Scale shape: the alias dimension (with its candidate counts) is
    broadcast exactly as in ``link_exact``; the context explode keys
    on url (fan-out bounded by entities-per-document × candidates);
    the relatedness join keys on the (qa, qb) pair; the final pick is
    a per-mention window bounded by candidates-per-alias.  The
    derived relatedness table is one (entity, entity) co-occurrence
    aggregation — ctx-pair fan-out per document is entities-per-doc²,
    the bounded MOSS-pairing shape."""
    acount = (aliases.groupBy("alias_norm")
              .agg(F.countDistinct("entity_id").alias("n_cand")))
    dim = aliases.join(acount, on="alias_norm")
    m = mentions.withColumn("alias_norm", norm_surface(F.col("surface")))
    # the candidate table feeds the context derivation AND the scoring
    # join (plus both relatedness sides when it is corpus-derived) —
    # one barrier (r07) instead of one upstream mention-extraction
    # pass per consumer; the table is mention-row-sized (bounded
    # candidate fan-out per mention), the localCheckpoint class every
    # per-doc score table in this repo uses
    cand = m.join(F.broadcast(dim), on="alias_norm").localCheckpoint()
    ctx = context_entities(cand)

    if relatedness is None:
        a = ctx.select("url", F.col("ctx_id").alias("qa"))
        b = ctx.select("url", F.col("ctx_id").alias("qb"))
        relatedness = (a.join(b, on="url")
                       .filter(F.col("qa") != F.col("qb"))
                       .groupBy("qa", "qb")
                       .agg(F.count(F.lit(1)).cast("double").alias("w")))

    scored = (cand.join(ctx, on="url", how="left")
              .join(relatedness,
                    on=[cand["entity_id"] == relatedness["qa"],
                        ctx["ctx_id"] == relatedness["qb"]], how="left")
              .groupBy("url", "sent_id", "start", "end", "surface",
                       "entity_id", "prior", "n_cand")
              .agg(F.sum(F.coalesce(F.col("w"), F.lit(0.0)))
                   .alias("score")))
    wm = Window.partitionBy("url", "sent_id", "start", "end").orderBy(
        F.col("score").desc(), F.col("prior").desc(),
        F.col("entity_id").asc())
    return (scored.withColumn("_rk", F.row_number().over(wm))
            .filter(F.col("_rk") == 1)
            .select("url", "sent_id", "start", "end", "surface",
                    "entity_id", "prior", "n_cand", "score"))


def _surface_vec(df: DataFrame, key: str, dim: int) -> DataFrame:
    """(key, vec: array<double> of hashed char-3-gram counts, nrm) —
    the hashed bi-encoder stand-in for a learned surface encoder (same
    posture as embed_text.hashed_tf_embed, character-level so typos
    still overlap).  Counts are exact integers; the norm is the one
    sqrt — the dot/(nrm*nrm) cosine downstream reproduces bit-stably
    in DuckDB (same discipline as the ann family)."""
    from .classifier import term_bucket
    sh = df.select(F.col(key),
                   _shingles(norm_surface(F.col(key))).alias("_sh"))
    cnt = (sh.select(key, F.explode("_sh").alias("g"))
           .groupBy(key, term_bucket(F.col("g"), dim).alias("b"))
           .agg(F.count(F.lit(1)).alias("c")))
    m = (cnt.groupBy(key)
         .agg(F.map_from_entries(
             F.collect_list(F.struct("b", "c"))).alias("_m")))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at("_m", i.cast("int")), F.lit(0))
        .cast("double"))
    return (m.select(key, vec.alias("vec"))
            .withColumn("nrm", F.sqrt(F.aggregate(
                "vec", F.lit(0.0), lambda a, x: a + x * x))))


def link_embed(mentions: DataFrame, aliases: DataFrame,
               dim: int = 32, min_sim: float = 0.5,
               candidates: str = "lsh") -> DataFrame:
    """Dense-retrieval fallback linking — the hashed, deterministic
    stand-in for a BLINK-style bi-encoder (Wu et al. 2020, public
    recipe): surfaces that EXACT linking missed are embedded as hashed
    char-3-gram count vectors and matched to the alias dictionary by
    cosine, top-1 per surface at ``min_sim`` or better.  Catches what
    the equality join cannot (typos, pluralization, case garbling)
    while staying fully SQL-reproducible.  Returns (alias_norm,
    matched_alias, entity_id, sim).

    ``candidates='lsh'`` (default, the scale path): cosine is computed
    ONLY for pairs sharing a MinHash band (``lsh_candidates`` — the
    banded bucket join; per-surface work is bounded by band
    collisions, never |dictionary|).  ``candidates='all'`` is the
    exhaustive audit mode (broadcast cross join — dictionary-bounded,
    same role as dedup's n_planes=0).

    A production swap drops a learned encoder into the same (key, vec,
    nrm) shape; every downstream step (candidate join, cosine, top-1
    window) runs unchanged."""
    # the residual-surface table is consumed TWICE (the LSH candidate
    # side and the vectorizer) and sits on top of the full upstream
    # mention-extraction pipeline — materialize the tiny distinct
    # table once (r07; without the barrier the extraction pipeline ran
    # once per consumer, measured ~2x the query's map work at sf0.1)
    resid = (unlinked(mentions, aliases)
             .select("alias_norm").distinct().localCheckpoint())
    al = best_alias_rows(aliases)
    asurf = al.select(F.col("alias_norm").alias("alias_r")).distinct()
    if candidates == "all":
        cand = resid.crossJoin(F.broadcast(asurf))
    else:
        cand = (lsh_candidates(resid, "alias_norm", al, "alias_norm",
                                broadcast_right=True)
                .withColumnRenamed("alias_norm_r", "alias_r"))
    rv = _surface_vec(resid, "alias_norm", dim)
    av = _surface_vec(asurf, "alias_r", dim)
    dot = F.aggregate(F.zip_with("vec", "avec", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    scored = (cand.join(rv, on="alias_norm")
              .join(F.broadcast(av.select("alias_r",
                                          F.col("vec").alias("avec"),
                                          F.col("nrm").alias("anrm"))),
                    on="alias_r")
              .withColumn("sim", F.round(dot / (F.col("nrm")
                                                * F.col("anrm")), 6))
              .filter(F.col("sim") >= min_sim))
    wr = Window.partitionBy("alias_norm").orderBy(
        F.col("sim").desc(), F.col("alias_r").asc())
    return (scored.withColumn("_rk", F.row_number().over(wr))
            .filter(F.col("_rk") == 1)
            .join(F.broadcast(al.select(F.col("alias_norm")
                                        .alias("alias_r"),
                                        "entity_id")), on="alias_r")
            .select("alias_norm", F.col("alias_r").alias("matched_alias"),
                    "entity_id", "sim"))
