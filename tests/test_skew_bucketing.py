"""T-skew (SURVEY §5.2): salted join result == plain join result on a
hot-key dataset; skew profiles and LSH bucket-share bounds."""

from pyspark.sql import functions as F

from ner_extractor_spark.operators.link import salt_explode


def test_salted_join_equals_plain(spark):
    # hot key: 'reuters' carries 80% of the big side
    big = spark.createDataFrame(
        [(i, "reuters" if i % 5 != 0 else f"k{i}") for i in range(2000)],
        "id long, key string")
    small = spark.createDataFrame(
        [("reuters", "Q-1")] + [(f"k{i}", f"Q-{i}") for i in range(0, 2000, 5)],
        "key string, entity string")

    plain = big.join(small, on="key").select("id", "entity")
    big_s, small_s, keys = salt_explode(big, small, key="key", k=8,
                                        salt_src="id")
    salted = big_s.join(small_s, on=keys).select("id", "entity")

    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))
    # the salt actually spreads the hot key across buckets
    spread = (big_s.filter("key = 'reuters'")
              .select("_salt").distinct().count())
    assert spread == 8


def test_salt_default_spreads_hot_key(spark):
    """salt_src=None must still spread a hot key (ADVICE r01: a salt
    derived from the join key is constant per key — zero spreading)."""
    big = spark.createDataFrame([(i, "reuters") for i in range(512)],
                                "id long, key string")
    small = spark.createDataFrame([("reuters", "Q-1")],
                                  "key string, entity string")
    big_s, small_s, keys = salt_explode(big, small, key="key", k=8)
    assert big_s.select("_salt").distinct().count() >= 6
    assert big_s.join(small_s, on=keys).count() == 512


def _mentions_hot(spark, n=2000, hot_share=0.9):
    """Zipf-hot mention surfaces: `hot_share` of rows share one surface."""
    cut = int(n * hot_share)
    rows = [(f"u{i}", 0, 0, 1,
             "Spark" if i < cut else f"surf {i}", "ORG")
            for i in range(n)]
    return spark.createDataFrame(
        rows, "url string, sent_id int, start int, end int, "
              "surface string, label string")


def _aliases_for(spark):
    rows = ([("spark", "Q-1", 0.9)]
            + [(f"surf {i}", f"Q-{i}", 0.5) for i in range(2000)])
    return spark.createDataFrame(rows,
                                 "alias_norm string, entity_id string, "
                                 "prior double")


def test_link_exact_salted_equals_broadcast_path(spark):
    """VERDICT r03 #4: the SHIPPED salted beyond-broadcast linking path
    returns exactly link_exact's rows, runs a shuffle (not broadcast)
    join, and auto-sizes k from measured skew."""
    from ner_extractor_spark.operators.link import (auto_salt_k,
                                                    link_exact,
                                                    link_exact_salted)
    m, a = _mentions_hot(spark), _aliases_for(spark)
    want = sorted(map(tuple, link_exact(m, a)
                      .select("url", "entity_id", "prior").collect()))
    salted = link_exact_salted(m, a)
    got = sorted(map(tuple,
                     salted.select("url", "entity_id", "prior").collect()))
    assert got == want and len(got) == 2000
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    # measured-skew sizing: hot key is 90% of rows; with 32 shuffle
    # partitions the auto k must spread it over >= 16 salts
    from ner_extractor_spark.operators.link import norm_surface
    mm = m.withColumn("alias_norm", norm_surface(F.col("surface")))
    assert auto_salt_k(mm, "alias_norm", 32) >= 16


def test_link_exact_salted_task_balance_bound(spark):
    """T-skew (SURVEY §5.2): max/mean post-shuffle partition load of the
    salted join stays within a small factor, where the unsalted shuffle
    join concentrates the hot key's ~90% share in one partition."""
    from ner_extractor_spark.operators.link import (best_alias_rows,
                                                    link_exact_salted,
                                                    norm_surface)
    m, a = _mentions_hot(spark), _aliases_for(spark)

    def partition_loads(df):
        rows = (df.withColumn("pid", F.spark_partition_id())
                .groupBy("pid").count().collect())
        loads = [r["count"] for r in rows]
        return max(loads), sum(loads) / len(loads)

    # AQE's post-shuffle coalescing folds this sandbox-sized exchange
    # into one partition either way, hiding the per-reducer layout the
    # test measures — salting is exactly the explicit (non-AQE) skew
    # mechanism the north rule demands, so measure the raw hash layout
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        mm = m.withColumn("alias_norm", norm_surface(F.col("surface")))
        unsalted = mm.join(best_alias_rows(a).hint("shuffle_hash"),
                           on="alias_norm")
        mx_u, _ = partition_loads(unsalted)
        # k=32 over 32 partitions: balls-in-bins collisions still leave
        # a few salts sharing a reducer, so the bound below is 4x, not k
        mx_s, _ = partition_loads(link_exact_salted(m, a, k=32))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # unsalted: one partition owns ~the whole hot key (>= 0.8 of rows);
    # salted: the straggler shrinks by >= 4x
    assert mx_u >= 0.8 * 1800
    assert mx_s <= mx_u / 4, (mx_s, mx_u)


def test_lsh_hot_shingle_bucket_share_bounded(spark):
    """Pathological alias set: 300 unrelated surfaces that all share the
    '^th' shingle family.  With bands of ≥2 minhashes EVERY hash of a
    band must agree, so the hot shingle cannot put a large fraction of
    surfaces into one bucket (VERDICT r01 #6)."""
    import hashlib

    from ner_extractor_spark.operators.dedup import (_bands_from_sig,
                                                     _minhash_sig)
    from ner_extractor_spark.operators.link import (BAND_SIZE, N_HASHES,
                                                    _shingles,
                                                    lsh_candidates,
                                                    norm_surface)
    n = 300
    df = spark.createDataFrame(
        [("th" + hashlib.md5(str(i).encode()).hexdigest()[:10],)
         for i in range(n)], "alias_norm string")
    sh = df.select(F.col("alias_norm").alias("id"),
                   F.explode(_shingles(norm_surface(F.col("alias_norm"))))
                   .alias("shingle"))
    bands = _bands_from_sig(_minhash_sig(sh, N_HASHES), N_HASHES, BAND_SIZE)
    max_bucket = (bands.groupBy("band", "bh").count()
                  .agg(F.max("count")).first()[0])
    assert max_bucket / n <= 0.05, max_bucket
    # and the induced candidate set is a tiny fraction of all-pairs
    cand = lsh_candidates(df, "alias_norm", df, "alias_norm")
    n_pairs = cand.filter("alias_norm != alias_norm_r").count()
    assert n_pairs < 0.01 * n * (n - 1), n_pairs


def test_key_skew_profile_known_distribution(spark):
    from ner_extractor_spark.operators.skew import key_skew_profile
    rows = [("hot",)] * 50 + [("warm",)] * 30 + [("cold",)] * 20
    df = spark.createDataFrame(rows, "k string")
    got = [(r["rank"], r["key"], r["n"], r["share"])
           for r in key_skew_profile(df, "k", top_k=2).collect()]
    assert got == [(1, "hot", 50, 0.5), (2, "warm", 30, 0.3)]


def test_key_skew_profile_tie_breaks_on_key(spark):
    from ner_extractor_spark.operators.skew import key_skew_profile
    rows = [("b",)] * 3 + [("a",)] * 3 + [("c",)] * 3
    df = spark.createDataFrame(rows, "k string")
    got = [r["key"] for r in key_skew_profile(df, "k", top_k=3).collect()]
    assert got == ["a", "b", "c"]


def test_key_skew_profile_topk_is_partial_not_global_sort(spark):
    from ner_extractor_spark.operators.skew import key_skew_profile
    df = spark.range(100).selectExpr("cast(id % 7 as string) as k")
    plan = key_skew_profile(df, "k", top_k=3)._jdf.queryExecution() \
        .executedPlan().toString()
    # the heavy-hitter cut must compile to the distributed partial
    # top-k operator, never a full global sort of the key counts
    assert "TakeOrderedAndProject" in plan


def test_salted_link_tolerates_auto_shuffle_partitions(spark):
    """ADVICE r04: spark.sql.shuffle.partitions='auto' (a value some
    AQE-managed deployments set; this local Spark rejects it at
    conf.set, so the helper is probed with a stub conf) must not crash
    the k=None sizing path — it falls back to defaultParallelism."""
    from types import SimpleNamespace

    from ner_extractor_spark.operators.link import (_shuffle_partitions,
                                                    link_exact_salted)

    fake = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: "auto"),
        sparkContext=SimpleNamespace(defaultParallelism=8))
    assert _shuffle_partitions(fake) == 8
    none_fake = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: None),
        sparkContext=SimpleNamespace(defaultParallelism=0))
    assert _shuffle_partitions(none_fake) == 200
    # and the real k=None path still works against the live session
    mentions = spark.createDataFrame(
        [(f"u{i}", "Acme Corp") for i in range(10)],
        "url string, surface string")
    aliases = spark.createDataFrame(
        [("acme corp", "Q1", 0.9)],
        "alias_norm string, entity_id string, prior double")
    assert link_exact_salted(mentions, aliases).count() == 10
