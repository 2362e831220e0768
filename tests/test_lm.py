"""Char-trigram LM quality scoring: in-distribution text scores above
gibberish, trigram counting, partition invariance."""

from pyspark.sql import functions as F

from ner_extractor_spark.operators.lm import (char_trigrams, trigram_logprob,
                                              trigram_model)


def _docs(spark):
    english = [
        (i, "the quick brown fox jumps over the lazy dog near the river "
            "and the green hills beyond the old stone bridge") for i in range(8)]
    rows = english + [
        (100, "xq zvk wjj qqq zzzz xkcd vwxyz qzj kkx"),    # gibberish
        (101, "the fox and the dog near the river"),        # in-distribution
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_trigram_counts_and_short_text(spark):
    d = spark.createDataFrame([(1, "abcd"), (2, "ab"), (3, "  A  B ")],
                              "doc_id long, text string")
    tri = {r["doc_id"]: r["t"] for r in
           d.select("doc_id", char_trigrams(F.col("text")).alias("t"))
           .collect()}
    assert tri[1] == ["abc", "bcd"]
    assert tri[2] == ["ab"]                     # shorter than 3 -> itself
    assert tri[3] == ["a b"]                    # normalized "a b"


def test_lm_score_separates_gibberish(spark):
    d = _docs(spark)
    out = {r["doc_id"]: (r["n_tris"], r["lm_score"]) for r in
           trigram_logprob(d, trigram_model(d)).collect()}
    assert len(out) == 10
    # every doc's trigram count matches len(normalized) - 2
    assert out[101][0] == len("the fox and the dog near the river") - 2
    # the in-distribution doc scores strictly above the gibberish doc
    assert out[101][1] > out[100][1]
    # scores are negative log-probs
    assert all(s < 0 for _, s in out.values())


def test_tfidf_topk_salience_and_ranks(spark):
    from ner_extractor_spark.operators.lm import tfidf_topk
    rows = [
        (1, "apple banana apple apple cherry"),
        (2, "banana cherry cherry dates"),
        (3, "common common common words words"),
        (4, "common words here too"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_topk(d, k=2)
    got = {(r["doc_id"], r["rank"]): r["term"] for r in out.collect()}
    # doc 1: 'apple' appears 3x and only in doc 1 -> top term
    assert got[(1, 1)] == "apple"
    # ranks are 1..k per doc, complete
    assert {(r["doc_id"], r["rank"]) for r in out.collect()} >= \
        {(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 2), (4, 1), (4, 2)}
    # a corpus-wide term scores below a doc-unique term of equal tf
    scores = {(r["doc_id"], r["term"]): r["tfidf"] for r in
              tfidf_topk(d, k=10).collect()}
    assert scores[(4, "here")] > scores[(4, "common")]


def test_lm_and_tfidf_plan_shapes(spark):
    """Plan pins: the trigram model join is BROADCAST (|alphabet|³
    bounded keys); the tfidf idf join is a SHUFFLE join (a web
    vocabulary is never broadcastable) and the top-k window partitions
    by doc_id, never by term."""
    from ner_extractor_spark.operators.lm import tfidf_topk
    d = _docs(spark)
    p_lm = trigram_logprob(d, trigram_model(d)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p_lm
    p_tf = tfidf_topk(d)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in p_tf     # idf join must shuffle
    assert "SortMergeJoin" in p_tf or "ShuffledHashJoin" in p_tf
    for ln in p_tf.splitlines():
        if "windowspecdefinition" in ln:
            assert "doc_id#" in ln.split("windowspecdefinition", 1)[1], ln


def test_lm_partition_invariance(spark):
    d = _docs(spark)
    a = sorted(map(tuple, trigram_logprob(d, trigram_model(d)).collect()))
    d2 = d.repartition(7)
    b = sorted(map(tuple, trigram_logprob(d2, trigram_model(d2)).collect()))
    assert a == b


def test_ppl_buckets_cuts_and_assignment(spark):
    """CCNet head/middle/tail bucketing: cuts are the exact 1/3 / 2/3
    interpolated percentiles of the lm scores (numpy replica), every
    doc keeps exactly one row, and the bucket matches the cut algebra
    (head = best scores = lowest perplexity)."""
    import numpy as np

    from ner_extractor_spark.operators.lm import ppl_buckets

    d = _docs(spark)
    rows = ppl_buckets(d).collect()
    scores = {r["doc_id"]: r["lm_score"] for r in
              trigram_logprob(d, trigram_model(d)).collect()}
    assert len(rows) == len(scores)
    lo = round(float(np.percentile(list(scores.values()), 100 / 3,
                                   method="linear")), 6)
    hi = round(float(np.percentile(list(scores.values()), 200 / 3,
                                   method="linear")), 6)
    for r in rows:
        assert (r["lo_cut"], r["hi_cut"]) == (lo, hi)
        s = scores[r["doc_id"]]
        want = "head" if s >= hi else ("tail" if s < lo else "middle")
        assert r["bucket"] == want, (r, s)
    # gibberish lands in the tail, the in-distribution doc does not
    by_id = {r["doc_id"]: r["bucket"] for r in rows}
    assert by_id[100] == "tail" and by_id[101] != "tail"


def test_ppl_buckets_reuses_external_scores(spark):
    """Passing lm= (e.g. curation_scores' lm half) adds no corpus pass
    and returns identical rows."""
    from ner_extractor_spark.operators.lm import ppl_buckets

    d = _docs(spark)
    lm = trigram_logprob(d, trigram_model(d)).localCheckpoint()
    a = sorted(map(tuple, ppl_buckets(d).collect()))
    b = sorted(map(tuple, ppl_buckets(d, lm=lm).collect()))
    assert a == b
    plan = ppl_buckets(d, lm=lm)._jdf.queryExecution() \
        .executedPlan().toString()
    # the reuse path reads only the materialized score table
    assert "Generate" not in plan, plan


def test_ppl_buckets_grouped_per_group_cuts(spark):
    """Per-group calibration: each group's cuts equal the numpy
    percentiles of THAT group's scores, and bucket assignment uses
    the group's own cuts (a doc can be 'head' in a weak group while
    the same score would be 'tail' in a strong one)."""
    import numpy as np

    from ner_extractor_spark.operators.lm import ppl_buckets_grouped

    rows = ([(i, "en", "the quick brown fox jumps over the lazy dog "
                       f"near the river {i}") for i in range(8)]
            + [(100 + i, "zz", "xq zvk wjj qqq zzzz xkcd " + "qzj " * i)
               for i in range(8)])
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = ppl_buckets_grouped(d, "lang").collect()
    langs = {doc_id: lang for doc_id, lang, _ in rows}
    scores = {r["doc_id"]: (langs[r["doc_id"]], r["lm_score"]) for r in
              trigram_logprob(d, trigram_model(d)).collect()}
    by_lang = {}
    for _, (lang, s) in scores.items():
        by_lang.setdefault(lang, []).append(s)
    cuts = {lang: (round(float(np.percentile(v, 100 / 3, method="linear")), 6),
                   round(float(np.percentile(v, 200 / 3, method="linear")), 6))
            for lang, v in by_lang.items()}
    assert len(out) == len(rows)
    for r in out:
        lo, hi = cuts[r["lang"]]
        assert (r["lo_cut"], r["hi_cut"]) == (lo, hi)
        s = scores[r["doc_id"]][1]
        want = "head" if s >= hi else ("tail" if s < lo else "middle")
        assert r["bucket"] == want
    # the two groups calibrated independently: different cuts
    assert cuts["en"] != cuts["zz"]
