"""Eval-set decontamination (operators/decontam.py): overlap pairs,
drop policy, short-row and threshold behavior."""


def _dfs(spark):
    train = spark.createDataFrame([
        (1, "the model was trained on a large web corpus last year"),
        # verbatim copy of benchmark row 100 -> must be flagged
        (2, "what is the capital of france the answer is paris"),
        # partial leak: shares a long span with row 100
        (3, "quiz: what is the capital of france you may ask"),
        (4, "completely unrelated text about gardening and soil"),
        # exact copy of the SHORT benchmark row 101 (< n words)
        (5, "two words"),
    ], "doc_id int, text string")
    bench = spark.createDataFrame([
        (100, "what is the capital of france the answer is paris"),
        (101, "two words"),
    ], "eval_id int, text string")
    return train, bench


def test_contamination_pairs_flags_copies_and_partial_leaks(spark):
    from ner_extractor_spark.operators.decontam import contamination_pairs

    train, bench = _dfs(spark)
    got = {(r["doc_id"], r["eval_id"]): r["n_shared"]
           for r in contamination_pairs(train, bench, n=3).collect()}
    assert (2, 100) in got          # verbatim copy
    assert (3, 100) in got          # partial 3-gram leak
    assert got[(2, 100)] > got[(3, 100)]
    assert (5, 101) in got          # short row caught via whole-text shingle
    assert not any(d in (1, 4) for d, _ in got)


def test_decontaminate_drops_only_flagged_rows(spark):
    from ner_extractor_spark.operators.decontam import decontaminate

    train, bench = _dfs(spark)
    kept = sorted(r["doc_id"]
                  for r in decontaminate(train, bench, n=3).collect())
    assert kept == [1, 4]


def test_min_shared_raises_the_bar(spark):
    """min_shared > 1 keeps single-shingle coincidences out of the
    flag set: doc 3 shares several 3-grams with row 100, so it
    survives min_shared well above 1 only if its overlap is that
    long — pin the exact count against a driver replica."""
    from ner_extractor_spark.operators.decontam import contamination_pairs

    train, bench = _dfs(spark)

    def shingles(t, n=3):
        toks = " ".join(t.lower().split()).split(" ")
        m = max(len(toks) - n + 1, 1)
        return {" ".join(toks[i:i + n]) for i in range(m)}

    t3 = "quiz: what is the capital of france you may ask"
    b100 = "what is the capital of france the answer is paris"
    want = len(shingles(t3) & shingles(b100))
    got = {(r["doc_id"], r["eval_id"]): r["n_shared"]
           for r in contamination_pairs(train, bench, n=3,
                                        min_shared=want).collect()}
    assert got[(3, 100)] == want
    hi = contamination_pairs(train, bench, n=3,
                             min_shared=want + 1).collect()
    assert (3, 100) not in {(r["doc_id"], r["eval_id"]) for r in hi}


def test_contamination_pairs_broadcasts_benchmark(spark):
    """The benchmark shingle table is the broadcast side of the one
    shingle join: the corpus shingles are never shuffled into a
    sort-merge or shuffled-hash join."""
    from ner_extractor_spark.operators.decontam import contamination_pairs

    train, bench = _dfs(spark)
    plan = contamination_pairs(train, bench, n=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
