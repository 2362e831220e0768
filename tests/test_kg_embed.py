"""TransE-L1 KG-embedding training (operators/kg_embed) — pinned
against a sequential exact-rational (Fraction) replica, plus mode and
composition invariants."""

import hashlib
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from ner_extractor_spark.operators.kg_embed import (
    init_embeddings, transe_eval, transe_pairs, transe_train)


def _fold8(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _dyadic(seed: str) -> Fraction:
    return Fraction(_fold8(seed) % 2048 - 1024, 1024)


def _sgn(x):
    return (x > 0) - (x < 0)


def _replica(pairs, dim=4, n_rounds=2, lr_den=1024, margin=1, clip=2,
             seed="te"):
    """Sequential TransE over exact rationals — the ground truth the
    distributed batch job must match bit for bit."""
    emb = {}
    ents = {p[0] for p in pairs} | {p[2] for p in pairs} | {p[3]
                                                           for p in pairs}
    for e in ents:
        for i in range(dim):
            emb[("e", e, i)] = _dyadic(f"{seed}|e|{e}|{i}")
    for r in {p[1] for p in pairs}:
        for i in range(dim):
            emb[("r", r, i)] = _dyadic(f"{seed}|r|{r}|{i}")
    for _ in range(n_rounds):
        grads = {}
        for (h, r, t, tn, w) in pairs:
            gp = [emb[("e", h, i)] + emb[("r", r, i)] - emb[("e", t, i)]
                  for i in range(dim)]
            gn = [emb[("e", h, i)] + emb[("r", r, i)] - emb[("e", tn, i)]
                  for i in range(dim)]
            if margin + sum(map(abs, gp)) - sum(map(abs, gn)) > 0:
                for i in range(dim):
                    s = _sgn(gp[i]) - _sgn(gn[i])
                    for k, dlt in ((("e", h, i), s), (("r", r, i), s),
                                   (("e", t, i), -_sgn(gp[i])),
                                   (("e", tn, i), _sgn(gn[i]))):
                        grads[k] = grads.get(k, 0) + dlt * w
        for k in emb:
            v = emb[k] - Fraction(grads.get(k, 0), lr_den)
            emb[k] = max(Fraction(-clip), min(Fraction(clip), v))
    return emb


PAIRS = [
    ("alice", "works_at", "acme", "globex", 2),
    ("alice", "works_at", "acme", "initech", 1),
    ("bob", "works_at", "globex", "acme", 1),
    ("acme", "based_in", "paris", "tokyo", 3),
    ("globex", "based_in", "tokyo", "paris", 1),
    ("carol", "works_at", "initech", "acme", 1),
]


def _neg_df(spark, pairs=PAIRS):
    rows = []
    for (h, r, t, tn, w) in pairs:
        rows += [(h, r, t, tn)] * w
    return spark.createDataFrame(
        rows, "subj_surface string, pred string, obj_surface string, "
        "neg_obj_surface string")


def _collect_emb(emb):
    return {(r["kind"], r["id"], r["i"]): Fraction(r["v"])
            for r in emb.collect()}


def test_transe_matches_fraction_replica(spark):
    # the distributed batch rounds are BIT-IDENTICAL to the
    # sequential exact-rational replay (dyadic arithmetic end to end:
    # Fraction(v) on the collected double is exact)
    p = transe_pairs(_neg_df(spark))
    got = _collect_emb(transe_train(p, dim=4, n_rounds=2))
    exp = _replica(PAIRS)
    assert got == exp


def test_transe_weighting_equals_duplicates(spark):
    # collapsing duplicate pairs into an integer weight is the same
    # batch gradient as re-emitting the rows
    w1 = _collect_emb(transe_train(transe_pairs(_neg_df(spark)),
                                   dim=4, n_rounds=2))
    p2 = spark.createDataFrame(
        PAIRS, "h string, r string, t string, tn string, w long")
    w2 = _collect_emb(transe_train(p2, dim=4, n_rounds=2))
    assert w1 == w2


def test_transe_training_reduces_hinge_loss(spark):
    # the point of the exercise: total weighted hinge loss over the
    # training pairs must not increase from init to trained (batch
    # subgradient descent on a small lr)
    p = transe_pairs(_neg_df(spark)).localCheckpoint()
    spark_ = p.sparkSession
    ents = (p.select(F.col("h").alias("id"))
            .union(p.select("t")).union(p.select("tn")).distinct())
    rels = p.select(F.col("r").alias("id")).distinct()
    emb0 = (init_embeddings(spark_, ents, "e", 4)
            .unionByName(init_embeddings(spark_, rels, "r", 4)))
    embn = transe_train(p, dim=4, n_rounds=4)

    def loss(emb):
        from ner_extractor_spark.operators.kg_embed import _pair_energies
        pd = _pair_energies(p, emb)
        pv = (pd.groupBy("h", "r", "t", "tn", "w")
              .agg(F.sum(F.abs("gp")).alias("dp"),
                   F.sum(F.abs("gn")).alias("dn")))
        return (pv.agg(F.sum(F.greatest(
            F.lit(0.0), (F.lit(1.0) + F.col("dp") - F.col("dn"))
            * F.col("w"))).alias("l")).collect()[0]["l"])

    assert loss(embn) <= loss(emb0)


def test_transe_eval_counts(spark):
    # eval rolls up exactly the weighted pair table per relation
    p = transe_pairs(_neg_df(spark))
    emb = transe_train(p, dim=4, n_rounds=2)
    rows = {r["pred"]: r for r in transe_eval(p, emb).collect()}
    assert rows["works_at"]["n_pairs"] == 5
    assert rows["based_in"]["n_pairs"] == 4
    for r in rows.values():
        assert 0 <= r["n_sep"] <= r["n_pairs"]
        assert r["sep_rate"] == pytest.approx(
            round(r["n_sep"] / r["n_pairs"], 6))


def test_init_embeddings_range_and_determinism(spark):
    ids = spark.createDataFrame([("a",), ("b",)], "id string")
    e1 = _collect_emb(init_embeddings(spark, ids, "e", 8))
    e2 = _collect_emb(init_embeddings(spark, ids, "e", 8))
    assert e1 == e2 and len(e1) == 16
    assert all(Fraction(-1) <= v < Fraction(1) for v in e1.values())
    assert all(v.denominator <= 1024 for v in e1.values())


def test_link_predict_filtered_ranking(spark):
    # exact filtered-rank replica over init embeddings (no training
    # rounds needed to pin the ranking protocol itself)
    from ner_extractor_spark.operators.kg_embed import (
        init_embeddings, transe_link_predict)

    tri_rows = [
        # (h, r, t, t_label) — ORG pool: {acme, globex, initech}
        ("alice", "works_at", "acme", "ORG"),
        ("alice", "works_at", "globex", "ORG"),   # second true tail
        ("bob", "works_at", "initech", "ORG"),
        ("acme", "based_in", "paris", "LOC"),
        ("globex", "based_in", "tokyo", "LOC"),
    ]
    tri = spark.createDataFrame(
        tri_rows, "subj_surface string, pred string, obj_surface string, "
        "obj_label string")
    ents = spark.createDataFrame(
        [(e,) for e in sorted({r[0] for r in tri_rows}
                              | {r[2] for r in tri_rows})], "id string")
    rels = spark.createDataFrame(
        [(r,) for r in sorted({x[1] for x in tri_rows})], "id string")
    emb = (init_embeddings(spark, ents, "e", 4)
           .unionByName(init_embeddings(spark, rels, "r", 4)))
    got = {r["pred"]: r for r in transe_link_predict(tri, emb).collect()}

    ev = {(r["kind"], r["id"], r["i"]): Fraction(r["v"])
          for r in emb.collect()}

    def dist(h, r, x):
        return sum(abs(ev[("e", h, i)] + ev[("r", r, i)] - ev[("e", x, i)])
                   for i in range(4))

    pools = {"ORG": sorted({"acme", "globex", "initech"}),
             "LOC": sorted({"paris", "tokyo"})}
    pos = {(h, r, t) for (h, r, t, _) in tri_rows}
    exp = {}
    for (h, r, t, lbl) in tri_rows:
        dt = dist(h, r, t)
        rank = 1 + sum(1 for c in pools[lbl]
                       if (h, r, c) not in pos and dist(h, r, c) < dt)
        exp.setdefault(r, []).append(rank)
    for pred, ranks in exp.items():
        g = got[pred]
        assert g["n_triples"] == len(ranks)
        assert g["hits1"] == sum(1 for x in ranks if x <= 1)
        assert g["hits3"] == sum(1 for x in ranks if x <= 3)
        assert g["mean_rank"] == pytest.approx(
            round(sum(ranks) / len(ranks), 6))
    # the filtered protocol: alice's two true ORG tails never compete
    # with each other, so every rank is within the pool bound
    assert all(1 <= x <= 3 for x in exp["works_at"])
