"""Entity linking joins + connected-components kernel (FIXTURES.md §9)."""

from pyspark.sql import functions as F

from ner_extractor_spark.operators.cc import connected_components
from ner_extractor_spark.operators.link import (alias_dimension, link_exact,
                                                lsh_candidates, norm_surface,
                                                unlinked)
from ner_extractor_spark.plans.kg_pipeline import star_edges
from ner_extractor_spark.schemas import ALIASES

MEN = "url string, sent_id int, start int, end int, surface string, label string"


def test_cc_chain_star_disjoint_selfloop(spark):
    edges = []
    # chain 0-1-2-...-9
    edges += [(i, i + 1) for i in range(9)]
    # star centered at 100
    edges += [(100, x) for x in (101, 102, 103, 104)]
    # disjoint pair + self loop
    edges += [(200, 201), (300, 300)]
    df = spark.createDataFrame(edges, "src long, dst long")
    comp = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    assert all(comp[i] == 0 for i in range(10))
    assert all(comp[x] == 100 for x in (100, 101, 102, 103, 104))
    assert comp[200] == comp[201] == 200
    assert comp[300] == 300


def test_cc_converges_on_long_chain(spark):
    """Pointer jumping must beat O(diameter): a 60-node chain converges
    within the 50-iteration cap (propagation alone would need 59)."""
    edges = [(i, i + 1) for i in range(59)]
    df = spark.createDataFrame(edges, "src long, dst long")
    comp = connected_components(df, max_iter=15)
    assert comp.filter(F.col("comp") != 0).count() == 0


def test_star_edges_give_clique_components(spark):
    """The pipeline's CC edges: each alias's and each residual surface's
    entities joined to their smallest (``star_edges``) give the same
    components as the all-pairs cliques, with fewer edges."""
    aliases = spark.createDataFrame([
        # one alias shared by 5 entities (a 10-edge clique, 4 star edges)
        ("jordan", "Q4", "PER", 0.4), ("jordan", "Q2", "PER", 0.3),
        ("jordan", "Q8", "LOC", 0.2), ("jordan", "Q6", "ORG", 0.1),
        ("jordan", "Q5", "PER", 0.5),
        ("air jordan", "Q8", "PROD", 0.6), ("air jordan", "Q11", "PROD", 0.9),
        ("acme", "Q20", "ORG", 1.0), ("acme corp", "Q21", "ORG", 1.0),
        ("solo", "Q30", "ORG", 1.0),
    ], ALIASES)
    # residual surfaces: one LSH-matched two aliases' entities, which
    # merges their components; one matched a single entity
    resid = spark.createDataFrame(
        [("acme co", ["Q20", "Q21"]), ("jordn", ["Q2"])],
        "alias_norm string, ids array<string>")

    def clique(t):
        return (t.alias("x").join(t.alias("y"), on="alias_norm")
                .filter(F.col("x.entity_id") < F.col("y.entity_id"))
                .select(F.col("x.entity_id").alias("src"),
                        F.col("y.entity_id").alias("dst")))

    cliques = clique(aliases.select("alias_norm", "entity_id")).unionByName(
        clique(resid.select("alias_norm",
                            F.explode("ids").alias("entity_id"))))
    stars = star_edges(alias_dimension(aliases)).unionByName(
        star_edges(resid))
    assert (stars.count(), cliques.count()) == (6, 12)

    def comps(edges):
        return sorted(map(tuple, connected_components(edges).collect()))
    got = comps(stars)
    assert got == comps(cliques)
    assert got == sorted([(q, "Q11") for q in ("Q11", "Q2", "Q4", "Q5",
                                               "Q6", "Q8")]
                         + [("Q20", "Q20"), ("Q21", "Q20")])


def test_link_exact_ambiguity_deterministic(spark):
    aliases = spark.createDataFrame([
        ("globex", "Q-1", "ORG", 1.0),
        ("globex", "Q-2", "ORG", 0.25),   # lower prior loses
        ("acme corp", "Q-3", "ORG", 1.0),
    ], ALIASES)
    mentions = spark.createDataFrame([
        ("u", 0, 0, 0, "Globex", "ORG"),
        ("u", 0, 2, 3, "ACME   Corp", "ORG"),   # case+whitespace normalize
        ("u", 1, 0, 0, "Unknown Co", "ORG"),
    ], MEN)
    linked = link_exact(mentions, aliases)
    rows = {(r["url"], r["sent_id"], r["start"]): r["entity_id"]
            for r in linked.collect()}
    assert rows[("u", 0, 0)] == "Q-1"            # max prior wins
    assert rows[("u", 0, 2)] == "Q-3"            # normalization matched
    assert ("u", 1, 0) not in rows
    un = unlinked(mentions, aliases).collect()
    assert [r["surface"] for r in un] == ["Unknown Co"]
    # tie on prior -> min entity_id wins (pin the full tie-break chain)
    tied = aliases.unionByName(spark.createDataFrame(
        [("globex", "Q-0", "ORG", 1.0)], ALIASES))
    rows2 = {(r["url"], r["sent_id"], r["start"]): r["entity_id"]
             for r in link_exact(mentions, tied).collect()}
    assert rows2[("u", 0, 0)] == "Q-0"


def test_link_exact_probe_side_is_shuffle_free(spark):
    """Scale pin (BENCH r03 finding): disambiguation happens on the
    broadcast alias side, so the corpus side of link_exact must reach
    the join without any Exchange or Window — the round-2 per-mention
    window shuffled the whole corpus."""
    aliases = spark.createDataFrame(
        [("globex", "Q-1", "ORG", 1.0)], ALIASES)
    mentions = spark.createDataFrame(
        [("u", 0, 0, 0, "Globex", "ORG")], MEN)
    plan = link_exact(mentions, aliases)._jdf.queryExecution() \
        .executedPlan().toString()
    jpos = plan.find("BroadcastHashJoin")
    assert jpos != -1, plan
    # the probe (left/streamed) side is printed AFTER the join node and
    # BEFORE the broadcast exchange of the build side
    probe = plan[jpos:plan.find("BroadcastExchange")]
    assert "Window" not in probe, plan
    assert "Exchange hashpartitioning" not in probe, plan


def test_nil_clusters_group_unlinkable_spellings(spark):
    """NIL clustering: unlinked typo variants form one provisional
    entity; linked surfaces never appear; singletons self-cluster."""
    from ner_extractor_spark.operators.link import nil_clusters
    aliases = spark.createDataFrame(
        [("globex", "Q-1", "ORG", 1.0)], ALIASES)
    mentions = spark.createDataFrame([
        ("u1", 0, 0, 0, "Globex", "ORG"),        # linked -> excluded
        ("u1", 1, 0, 0, "Initech", "ORG"),
        ("u2", 0, 0, 0, "Initech Inc", "ORG"),   # near-variant
        ("u3", 0, 0, 0, "Umbrella", "ORG"),      # unrelated singleton
    ], MEN)
    got = {r["alias_norm"]: r["nil_id"]
           for r in nil_clusters(mentions, aliases).collect()}
    assert "globex" not in got
    assert got["initech"] == got["initech inc"] == "NIL:initech"
    assert got["umbrella"] == "NIL:umbrella"


def test_lsh_candidates_find_typo(spark):
    """A 1-char typo shares most char-3-gram shingles -> must surface as
    a candidate pair; an unrelated string must not."""
    left = spark.createDataFrame(
        [("globexx",), ("completely different",)], "alias_norm string")
    right = spark.createDataFrame(
        [("globex",), ("acme corp",)], "alias_norm string")
    cand = lsh_candidates(left, "alias_norm", right, "alias_norm")
    pairs = {(r[0], r[1]) for r in cand.collect()}
    assert ("globexx", "globex") in pairs
    assert ("completely different", "acme corp") not in pairs


# fixed surfaces for the exact-output pins: empty and one-letter
# strings, one-letter typos, case/whitespace variants and a '^th'
# hot-prefix family
SURFACES = [
    "", "a", "z", "globex", "globexx", "glbex", "globez", "Globex",
    "acme corp", "acme corps", "acne corp", "  Acme   CORP ", "initech",
    "initech inc", "inittech", "umbrella", "umbrela", "umbrella corp",
    "new york", "new yrok", "newyork", "apple", "appel", "banana",
    "bananas", "the", "thea", "then", "there", "therapy", "thermal",
    "theory", "thorn", "thumb", "thx", "thing", "think", "throne",
    "through", "thought",
]


def _reference_lsh(left, right, n_hashes=12, band_size=2):
    """Pure-Python lsh_candidates: md5 minhash over ^...$-padded char
    3-grams of the normalized key, bands keyed by their hashes sorted
    by value and concatenated; a pair is a candidate iff a band agrees."""
    import hashlib
    import re

    def bands(s):
        t = re.sub(r"[ \t\n\x0b\f\r]+", " ", s.lower()).strip(" ")
        p = f"^{t}$"
        grams = {p[i:i + 3] for i in range(max(len(p) - 2, 1))}
        sig = [min(hashlib.md5(f"{k}|{g}".encode()).hexdigest()
                   for g in grams) for k in range(n_hashes)]
        return ["".join(sorted(sig[b:b + band_size]))
                for b in range(0, n_hashes, band_size)]

    lb = {s: bands(s) for s in set(left)}
    rb = {s: bands(s) for s in set(right)}
    return {(a, b) for a, x in lb.items() for b, y in rb.items()
            if any(u == v for u, v in zip(x, y))}


def test_lsh_candidates_equal_python_reference(spark):
    """The exact candidate set, not just one pair: a self-join and a
    broadcast dictionary join against the pure-Python reference."""
    df = spark.createDataFrame([(s,) for s in SURFACES], "alias_norm string")
    got = {tuple(r) for r in
           lsh_candidates(df, "alias_norm", df, "alias_norm").collect()}
    assert got == _reference_lsh(SURFACES, SURFACES)
    dictionary = SURFACES[::3]
    right = spark.createDataFrame([(s,) for s in dictionary], "alias string")
    got = {tuple(r) for r in lsh_candidates(df, "alias_norm", right, "alias",
                                            broadcast_right=True).collect()}
    assert got == _reference_lsh(SURFACES, dictionary)


def test_lsh_candidates_any_key_name(spark):
    """Key columns named like the kernel's own columns still work."""
    want = _reference_lsh(SURFACES[:12], SURFACES[:12])
    for key in ("band", "bh", "id", "shingle", "k", "h"):
        df = spark.createDataFrame([(s,) for s in SURFACES[:12]],
                                   f"{key} string")
        cand = lsh_candidates(df, key, df, key)
        assert cand.columns == [key, key + "_r"]
        assert {tuple(r) for r in cand.collect()} == want


def test_norm_surface(spark):
    df = spark.createDataFrame([("  Acme   CORP ",)], "s string")
    assert df.select(norm_surface(F.col("s")).alias("n")).collect()[0]["n"] == "acme corp"


def test_link_coherent_jaguar(spark):
    from ner_extractor_spark.operators.link import link_coherent

    aliases = spark.createDataFrame(
        [("jaguar", "Q-CAT", "ANI", 0.6), ("jaguar", "Q-CAR", "ORG", 0.4),
         ("jaguar xk", "Q-CAR", "ORG", 1.0), ("big cat", "Q-CAT", "ANI", 1.0),
         ("engine", "Q-E", "MISC", 1.0), ("tail", "Q-T", "MISC", 1.0)],
        "alias_norm string, entity_id string, entity_type string, "
        "prior double")

    def m(url, sid, start, surface):
        return (url, sid, start, start, surface, "X")

    mentions = spark.createDataFrame(
        [m("d1", 0, 0, "Jaguar"), m("d1", 0, 2, "engine"),
         m("d2", 0, 0, "jaguar xk"), m("d2", 0, 3, "engine"),
         m("d3", 0, 0, "big cat"), m("d3", 0, 2, "tail"),
         m("d4", 0, 0, "jaguar"), m("d4", 0, 2, "tail"),
         m("d5", 0, 0, "jaguar")],
        "url string, sent_id int, start int, end int, surface string, "
        "label string")
    got = {(r["url"], r["surface"].lower()): (r["entity_id"], r["score"])
           for r in link_coherent(mentions, aliases).collect()}
    # derived relatedness: d2 pairs (Q-CAR, Q-E); d3 pairs (Q-CAT, Q-T)
    assert got[("d1", "jaguar")] == ("Q-CAR", 1.0)   # beats the 0.6 prior
    assert got[("d4", "jaguar")] == ("Q-CAT", 1.0)
    assert got[("d5", "jaguar")] == ("Q-CAT", 0.0)   # no context -> prior
    # unambiguous mentions link untouched
    assert got[("d2", "jaguar xk")][0] == "Q-CAR"
    assert got[("d3", "big cat")][0] == "Q-CAT"

    # explicit relatedness table overrides the derived one
    rel = spark.createDataFrame([("Q-CAT", "Q-E", 5.0)],
                                "qa string, qb string, w double")
    got2 = {(r["url"], r["surface"].lower()): r["entity_id"]
            for r in link_coherent(mentions, aliases,
                                   relatedness=rel).collect()}
    assert got2[("d1", "jaguar")] == "Q-CAT"


def test_link_embed_recovers_typos_exhaustive(spark):
    """Dense fallback (candidates='all'): pluralized surfaces exact
    linking misses must cosine-match their base alias; a surface far
    from every alias must NOT link at min_sim=0.5."""
    from ner_extractor_spark.operators.link import link_embed
    from ner_extractor_spark.schemas import ALIASES as ALIAS_SCHEMA
    mentions = spark.createDataFrame(
        [("u", 0, 0, 0, "Sparks", "ORG"),
         ("u", 0, 2, 3, "customer  joins", "ALGO"),
         ("u", 1, 0, 0, "zzqqvv", "MISC")],
        "url string, sent_id int, start int, end int, "
        "surface string, label string")
    aliases = spark.createDataFrame(
        [("spark", "Q-1", "ORG", 1.0),
         ("spark", "Q-1B", "ORG", 0.5),
         ("customer join", "Q-2", "ALGO", 1.0)], schema=ALIAS_SCHEMA)
    got = {r["alias_norm"]: (r["matched_alias"], r["entity_id"])
           for r in link_embed(mentions, aliases, dim=32, min_sim=0.5,
                               candidates="all").collect()}
    # normalization lowers + collapses whitespace before embedding
    assert got["sparks"] == ("spark", "Q-1")          # prior beats Q-1B
    assert got["customer joins"] == ("customer join", "Q-2")
    assert "zzqqvv" not in got


def test_link_embed_lsh_candidates_subset_of_exhaustive(spark):
    """The banded scale path may only MISS pairs (band non-collision),
    never invent them: lsh results are a subset of the exhaustive
    mode's, and agree on every surface they share."""
    from ner_extractor_spark.operators.link import link_embed
    from ner_extractor_spark.schemas import ALIASES as ALIAS_SCHEMA
    mentions = spark.createDataFrame(
        [("u", 0, 0, 0, "Sparks", "ORG"),
         ("u", 0, 2, 3, "customer joins", "ALGO"),
         ("u", 1, 0, 0, "windowss", "MISC")],
        "url string, sent_id int, start int, end int, "
        "surface string, label string")
    aliases = spark.createDataFrame(
        [("spark", "Q-1", "ORG", 1.0),
         ("customer join", "Q-2", "ALGO", 1.0),
         ("window", "Q-4", "MISC", 1.0)], schema=ALIAS_SCHEMA)
    full = {r["alias_norm"]: (r["matched_alias"], r["entity_id"], r["sim"])
            for r in link_embed(mentions, aliases, candidates="all")
            .collect()}
    lsh = {r["alias_norm"]: (r["matched_alias"], r["entity_id"], r["sim"])
           for r in link_embed(mentions, aliases, candidates="lsh")
           .collect()}
    assert set(lsh) <= set(full)
    for k in lsh:
        assert lsh[k] == full[k]
