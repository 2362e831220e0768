"""KG post-extraction operators (kg_construct tier): type-constrained
triple filtering, co-occurrence PMI scoring, and negative sampling for
KG-embedding training data.

All three are Spark-first relational compositions over the triples
table, deterministic and oracle-checkable:

* ``typed_triples`` — an allow-list of (pred, subj_label, obj_label)
  signatures as a broadcast inner join: schema-level noise (a LOC
  "founding" an ORG) never reaches the KG.  The constraint table is
  tiny by nature (predicates × label pairs).
* ``triple_pmi`` — pointwise mutual information of (subj, obj)
  co-occurrence: ln(n_so · N / (n_s · n_o)).  High-PMI pairs are
  promotable relations, negatives near 0 are incidental co-mentions.
  The marginal joins are ORDINARY shuffle joins on subj / obj — at
  web scale the entity vocabulary is billions of surfaces, nothing to
  broadcast; hot entities ("Reuters"-class) are AQE-skew-join /
  salt_explode cases exactly like the link joins.  Only the 1-row
  total is broadcast.
* ``negative_samples`` — the standard KG-embedding corruption recipe:
  each triple yields ``k`` negatives whose object is replaced by an
  md5-picked same-label entity (skipping accidental positives).  The
  per-label pools are sorted-distinct CAPPED at ``pool_cap`` surfaces
  (a web-scale label pool is unbounded; sampling negatives from a
  deterministic bounded slice is the standard recipe — cap before
  broadcast, never collect the full pool); every pick is keyed by
  triple identity + sample index, so output is cluster-size invariant
  and SQL-reproducible — the same determinism discipline as
  operators/augment.py.
"""

from __future__ import annotations

from typing import Iterable, Tuple

from pyspark.sql import DataFrame, Window as W, functions as F


def typed_triples(triples: DataFrame,
                  constraints: Iterable[Tuple[str, str, str]]) -> DataFrame:
    """Keep triples whose (pred, subj_label, obj_label) signature is in
    the allow-list."""
    spark = triples.sparkSession
    cdf = spark.createDataFrame(
        list(constraints), "pred string, subj_label string, obj_label string")
    return triples.join(F.broadcast(cdf),
                        on=["pred", "subj_label", "obj_label"], how="inner")


def triple_pmi(triples: DataFrame,
               subj_col: str = "subj_surface",
               obj_col: str = "obj_surface") -> DataFrame:
    """(subj, obj, n_pair, pmi) per distinct co-occurring pair."""
    s, o = F.col(subj_col).alias("subj"), F.col(obj_col).alias("obj")
    base = triples.select(s, o)
    pair = base.groupBy("subj", "obj").agg(F.count(F.lit(1)).alias("n_pair"))
    ns = base.groupBy("subj").agg(F.count(F.lit(1)).alias("n_subj"))
    no = base.groupBy("obj").agg(F.count(F.lit(1)).alias("n_obj"))
    total = base.agg(F.count(F.lit(1)).alias("n_total"))
    return (pair.join(ns, on="subj")
            .join(no, on="obj")
            .crossJoin(F.broadcast(total))
            .select("subj", "obj", "n_pair",
                    F.round(F.log(F.col("n_pair") * F.col("n_total")
                                  / (F.col("n_subj") * F.col("n_obj"))), 6)
                    .alias("pmi")))


def triple_provenance(triples: DataFrame, pages: DataFrame) -> DataFrame:
    """Raw per-sentence triples -> the final KG fact table: one row per
    distinct (subj, pred, obj) with provenance — mention count, distinct
    source count, first/last capture timestamp.  The groupBy key is the
    triple identity (maximal cardinality, skew-free); count(DISTINCT
    url) compiles to the standard two-phase expand-aggregate."""
    t = triples.join(pages.select("url", "warc_ts"), on="url")
    return (t.groupBy(F.col("subj_surface").alias("subj"), "pred",
                      F.col("obj_surface").alias("obj"))
            .agg(F.count(F.lit(1)).alias("n_mentions"),
                 F.countDistinct("url").alias("n_sources"),
                 F.min("warc_ts").alias("first_seen"),
                 F.max("warc_ts").alias("last_seen")))


def negative_samples(triples: DataFrame, k: int = 2,
                     seed: int = 42, pool_cap: int = 10000,
                     pre_filter_mod: int | None = None) -> DataFrame:
    """Each triple -> up to ``k`` (subj, pred, neg_obj) corruptions with
    a same-label object; picks identical to the original are dropped
    (never silently re-picked — re-picking would make sample i's value
    depend on pool layout in a way SQL can't replay cheaply).

    Pool bounding, in two layers (both deterministic):
      * ``pre_filter_mod=M`` thins candidate surfaces BEFORE the
        per-label collect to those with md5(surface) % M == 0 — this is
        what keeps the aggregation itself bounded when a label has
        billions of surfaces (set M ≈ surfaces/label ÷ pool_cap);
      * ``pool_cap`` slices the sorted-distinct pool before broadcast.
    At sandbox scale leave ``pre_filter_mod=None`` (pools are tiny)."""
    cand = triples.select(F.col("obj_label").alias("_lbl"), "obj_surface")
    if pre_filter_mod is not None:
        keep = (F.conv(F.substring(F.md5("obj_surface"), 1, 8), 16, 10)
                .cast("long") % pre_filter_mod == 0)
        cand = cand.filter(keep)
    pool = (cand.groupBy("_lbl")
            .agg(F.slice(F.array_sort(F.collect_set("obj_surface")),
                         1, pool_cap).alias("_pool")))
    t = triples.join(F.broadcast(pool),
                     on=triples["obj_label"] == pool["_lbl"]).drop("_lbl")
    t = t.withColumn("neg_i", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
    key = F.concat_ws("|", F.lit(str(seed)), "url", "sent_id",
                      F.col("subj_start").cast("string"),
                      F.col("obj_start").cast("string"), "pred",
                      F.col("neg_i").cast("string"))
    idx = (F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
           % F.size("_pool")).cast("int")
    neg = F.col("_pool")[idx]
    return (t.withColumn("neg_obj_surface", neg)
            .filter(F.col("neg_obj_surface") != F.col("obj_surface"))
            .select("url", "sent_id", "subj_surface", "subj_label", "pred",
                    "obj_surface", "neg_i", "neg_obj_surface"))


def resolve_facts(prov: DataFrame,
                  functional_preds: Iterable[str] | None = None
                  ) -> DataFrame:
    """Truth discovery over the ``triple_provenance`` rollup: for each
    (subj, pred) of a FUNCTIONAL predicate (one true object per
    subject — based_in, founded_by...), accept exactly one object by
    weighted vote with a fully deterministic order:

      more distinct sources > more mentions > earlier first capture >
      lexicographically smaller object.

    The Web states conflicting facts; a KG keeps one (the
    majority-vote baseline of the truth-discovery literature, e.g.
    Dong et al. 2009's VOTE).  Output: (subj, pred, obj, n_sources,
    n_mentions, n_alternatives, support_share) — support_share is the
    winner's share of all mentions of (subj, pred), the confidence
    datum downstream consumers threshold on.

    Scale shape: ONE aggregation keyed on (subj, pred) — the vote is
    a min(struct) with inverted count keys (no window, no second
    shuffle); payload fields ride behind the ordering keys, which is
    sound because (subj, pred, obj) is unique in the provenance
    rollup.  ``functional_preds=None`` resolves every predicate."""
    p = prov
    if functional_preds is not None:
        p = p.filter(F.col("pred").isin(list(functional_preds)))
    key = F.struct(
        (-F.col("n_sources")).alias("a"), (-F.col("n_mentions")).alias("b"),
        F.unix_timestamp("first_seen").alias("c"), F.col("obj").alias("obj"),
        F.col("n_sources").alias("ns"), F.col("n_mentions").alias("nm"))
    g = (p.groupBy("subj", "pred")
         .agg(F.min(key).alias("win"),
              F.sum("n_mentions").alias("total"),
              F.count(F.lit(1)).alias("n_alternatives")))
    return g.select(
        "subj", "pred", F.col("win.obj").alias("obj"),
        F.col("win.ns").alias("n_sources"), F.col("win.nm").alias("n_mentions"),
        "n_alternatives",
        F.round(F.col("win.nm") / F.col("total"), 6).alias("support_share"))


def fact_timeline(triples: DataFrame, pages: DataFrame) -> DataFrame:
    """Temporal KG: per (subj, pred), collapse the capture-ordered
    object observations into VALIDITY INTERVALS — one row per maximal
    run of a constant object: (subj, pred, obj, valid_from, valid_to,
    n_obs), ``valid_to`` = the next interval's start (NULL while
    current).  'acme based_in paris [t0, t3) -> tokyo [t3, NULL)' is
    how a web-scale KG represents facts that CHANGE (company moves,
    CEO changes) instead of voting one winner (``resolve_facts`` is
    the atemporal twin).

    Classic gaps-and-islands: change flag via lag(obj), running sum
    -> segment id, segment rollup, lead() for the closing bound.
    Ties at the same capture instant order by (ts, obj) — fully
    deterministic.  Scale shape: every window and the rollup key on
    (subj, pred) — ONE shuffle partitioning reused by all four steps
    (Catalyst collapses same-key windows into one exchange)."""
    obs = (triples.join(pages.select("url", "warc_ts"), on="url")
           .groupBy(F.col("subj_surface").alias("subj"), "pred",
                    F.col("obj_surface").alias("obj"),
                    F.col("warc_ts").alias("ts"))
           .agg(F.count(F.lit(1)).alias("n")))
    w = W.partitionBy("subj", "pred").orderBy("ts", "obj")
    chg = F.when(F.lag("obj").over(w).isNull()
                 | (F.lag("obj").over(w) != F.col("obj")), 1).otherwise(0)
    seg = (obs.withColumn("chg", chg)  # window-in-window is illegal;
           .withColumn("seg", F.sum("chg").over(  # materialize first
               w.rowsBetween(W.unboundedPreceding, W.currentRow))))
    iv = (seg.groupBy("subj", "pred", "seg")
          .agg(F.first("obj").alias("obj"),
               F.min("ts").alias("valid_from"),
               F.sum("n").alias("n_obs")))
    w2 = W.partitionBy("subj", "pred").orderBy("seg")
    return (iv.withColumn("valid_to", F.lead("valid_from").over(w2))
            .select("subj", "pred", "obj", "valid_from", "valid_to",
                    "n_obs"))


def distinct_pairs(triples: DataFrame, *,
                   subj_col: str = "subj_surface",
                   obj_col: str = "obj_surface") -> DataFrame:
    """The (x, pred, y) distinct-fact table ``mine_rules`` /
    ``infer_facts`` operate on, materialized once (r07): a caller
    running mine-then-infer passes the SAME checkpointed table to both
    via ``pairs=`` so the upstream extraction pipeline runs once, not
    once per operator (the calibrated_curation score-sharing
    discipline).  Beyond-memory corpora persist a parquet stage
    instead — see mine_rules."""
    return (triples.select(F.col(subj_col).alias("x"), "pred",
                           F.col(obj_col).alias("y"))
            .distinct().localCheckpoint())


def mine_rules(triples: DataFrame, *, min_support: int = 2,
               min_conf: float = 0.05, chain: bool = True,
               max_fanout: int | None = 64,
               subj_col: str = "subj_surface",
               obj_col: str = "obj_surface",
               pairs: DataFrame | None = None) -> DataFrame:
    """AMIE-style horn-rule mining over the triple table (Galárraga et
    al., AMIE+, VLDB J. 2015 — public algorithm): discover rules whose
    body predicts the head predicate, scored by

      * ``support``  — distinct (x, y) entity pairs matching body AND
        head,
      * ``conf``     — support / distinct body pairs (standard CWA
        confidence),
      * ``head_cov`` — support / distinct head pairs.

    Three rule shapes (``kind``):
      * ``same``:    q(x, y) => p(x, y), q != p   (implication)
      * ``inverse``: q(y, x) => p(x, y)           (q == p allowed —
        that row IS the symmetry detector: spouse(y,x) => spouse(x,y))
      * ``chain``:   q(x, z) ^ r(z, y) => p(x, y) (composition, e.g.
        born_in . city_in => citizen_of)

    ``body`` spells the body in AMIE notation; for chain rules it is
    ``"q . r"``.

    Scale shape: every rule join keys on the ENTITY PAIR (x, y) — the
    maximal-cardinality key; per-pair predicate multiplicity is
    bounded by the predicate vocabulary, so join fan-out per key is
    tiny.  Predicate marginals are broadcast (predicate vocabularies
    are small by nature — the entity vocabulary is the big one).  The
    chain body is the one quadratic hazard: a hub intermediate z
    contributes in_deg(z) x out_deg(z) two-hop pairs, so ``max_fanout``
    drops intermediates whose in- OR out-degree exceeds the cap before
    the hop join (AMIE+'s functionality heuristic; a "Reuters"-class
    hub predicts nothing anyway).  The cap is a deterministic count
    condition — SQL-replayable, oracle-checked.  ``max_fanout=None``
    disables it (exact-audit mode, sandbox scale only).

    The distinct pair table P feeds ~8 consumers (bodies, heads,
    marginals, degree caps), so ``distinct_pairs`` cuts a
    localCheckpoint barrier after the distinct and the upstream
    extraction pipeline runs ONCE (the calibrated_curation
    discipline).  P is one row per distinct triple — for
    beyond-memory corpora persist it as a parquet stage instead
    (``plans.checkpoints.write_stage``, the winnow_matches posture)
    and pass the stage as ``pairs=``.  ``pairs=`` (r07) supplies a
    precomputed ``distinct_pairs`` table so a mine-then-infer caller
    pays for the extraction pipeline once."""
    P = pairs if pairs is not None else distinct_pairs(
        triples, subj_col=subj_col, obj_col=obj_col)
    marg = P.groupBy("pred").agg(F.count(F.lit(1)).alias("n_pairs"))
    head = P.select(F.col("pred").alias("head_pred"), "x", "y")

    same = (P.select(F.col("pred").alias("_bp"), "x", "y")
            .join(head, on=["x", "y"])
            .filter(F.col("_bp") != F.col("head_pred"))
            .groupBy("head_pred", F.col("_bp").alias("body"))
            .agg(F.count(F.lit(1)).alias("support"))
            .withColumn("kind", F.lit("same")))
    inv = (P.select(F.col("pred").alias("_bp"),
                    F.col("y").alias("x"), F.col("x").alias("y"))
           .join(head, on=["x", "y"])
           .groupBy("head_pred", F.col("_bp").alias("body"))
           .agg(F.count(F.lit(1)).alias("support"))
           .withColumn("kind", F.lit("inverse")))
    # same/inverse body size = the body predicate's pair count
    # (reversing pairs preserves cardinality)
    rules = (same.unionByName(inv)
             .join(F.broadcast(marg.select(F.col("pred").alias("body"),
                                           F.col("n_pairs").alias("n_body"))),
                   on="body"))

    if chain:
        left = P.select(F.col("pred").alias("q"), "x", F.col("y").alias("z"))
        right = P.select(F.col("pred").alias("r"), F.col("x").alias("z"), "y")
        if max_fanout is not None:
            zin = (P.groupBy(F.col("y").alias("z"))
                   .agg(F.count(F.lit(1)).alias("_in")))
            zout = (P.groupBy(F.col("x").alias("z"))
                    .agg(F.count(F.lit(1)).alias("_out")))
            okz = (zin.join(zout, on="z")
                   .filter((F.col("_in") <= max_fanout)
                           & (F.col("_out") <= max_fanout))
                   .select("z"))
            left = left.join(okz, on="z")
        body2 = (left.join(right, on="z")
                 .select("q", "r", "x", "y").distinct())
        cbody = (body2.groupBy("q", "r")
                 .agg(F.count(F.lit(1)).alias("n_body")))
        csup = (body2.join(head, on=["x", "y"])
                .groupBy("head_pred", "q", "r")
                .agg(F.count(F.lit(1)).alias("support")))
        crules = (csup.join(F.broadcast(cbody), on=["q", "r"])
                  .select("head_pred",
                          F.concat_ws(" . ", "q", "r").alias("body"),
                          "support", F.lit("chain").alias("kind"),
                          "n_body"))
        rules = rules.unionByName(crules)

    out = (rules
           .join(F.broadcast(marg.select(F.col("pred").alias("head_pred"),
                                         F.col("n_pairs").alias("n_head"))),
                 on="head_pred")
           .withColumn("conf", F.round(F.col("support") / F.col("n_body"), 6))
           .withColumn("head_cov",
                       F.round(F.col("support") / F.col("n_head"), 6)))
    return (out.filter((F.col("support") >= min_support)
                       & (F.col("conf") >= min_conf))
            .select("kind", "head_pred", "body", "support", "n_body",
                    "n_head", "conf", "head_cov"))


def infer_facts(triples: DataFrame, rules: DataFrame, *,
                min_conf: float = 0.5, max_fanout: int | None = 64,
                subj_col: str = "subj_surface",
                obj_col: str = "obj_surface",
                pairs: DataFrame | None = None) -> DataFrame:
    """KG completion: apply ``mine_rules`` output back to the triple
    table and materialize the facts the rules PREDICT but the KG does
    not yet contain — (subj, pred, obj, rule_kind, rule_body, conf),
    one row per novel fact, attributed to the highest-confidence rule
    that fires for it (ties: kind asc, body asc — fully
    deterministic).

    Candidates per rule kind: ``same`` q(x,y)=>p(x,y) maps each body
    triple; ``inverse`` q(y,x)=>p(x,y) maps the reversed pair (a
    symmetric predicate back-fills its missing mirror edges);
    ``chain`` q(x,z)^r(z,y)=>p(x,y) re-runs the capped two-hop join
    restricted to predicates that appear in a surviving rule body.
    Existing facts are removed with a LEFT ANTI join on the full
    (x, pred, y) identity.

    Scale shape: the rule table is broadcast (output of rule mining —
    hundreds of rows at most); candidate generation and the anti-join
    key on the entity pair / triple identity; the chain hop reuses
    the ``max_fanout`` hub cap.  The distinct pair table is barriered
    exactly as in ``mine_rules``; ``pairs=`` (r07) reuses a
    caller-materialized ``distinct_pairs`` table (the mine-then-infer
    composition shares one)."""
    P = pairs if pairs is not None else distinct_pairs(
        triples, subj_col=subj_col, obj_col=obj_col)
    r = rules.filter(F.col("conf") >= min_conf).select(
        "kind", "head_pred", "body", "conf")

    same_c = (P.join(F.broadcast(r.filter(F.col("kind") == "same")),
                     on=P["pred"] == F.col("body"))
              .select("x", "head_pred", "y", "kind", "body", "conf"))
    inv_c = (P.join(F.broadcast(r.filter(F.col("kind") == "inverse")),
                    on=P["pred"] == F.col("body"))
             .select(F.col("y").alias("x"), "head_pred",
                     F.col("x").alias("y"), "kind", "body", "conf"))

    rc = (r.filter(F.col("kind") == "chain")
          .withColumn("_q", F.split_part(F.col("body"), F.lit(" . "),
                                         F.lit(1)))
          .withColumn("_r", F.split_part(F.col("body"), F.lit(" . "),
                                         F.lit(2))))
    left = P.select(F.col("pred").alias("_q"), "x", F.col("y").alias("z"))
    if max_fanout is not None:
        zin = (P.groupBy(F.col("y").alias("z"))
               .agg(F.count(F.lit(1)).alias("_in")))
        zout = (P.groupBy(F.col("x").alias("z"))
                .agg(F.count(F.lit(1)).alias("_out")))
        okz = (zin.join(zout, on="z")
               .filter((F.col("_in") <= max_fanout)
                       & (F.col("_out") <= max_fanout))
               .select("z"))
        left = left.join(okz, on="z")
    right = P.select(F.col("pred").alias("_r"), F.col("x").alias("z"), "y")
    chain_c = (left.join(F.broadcast(rc), on="_q")
               .join(right, on=["z", "_r"])
               .select("x", "head_pred", "y", "kind", "body", "conf")
               .distinct())

    cand = same_c.unionByName(inv_c).unionByName(chain_c).distinct()
    existing = P.select(F.col("x").alias("_ex"), F.col("pred").alias("_ep"),
                        F.col("y").alias("_ey"))
    novel = cand.join(
        existing, on=[cand["x"] == existing["_ex"],
                      cand["head_pred"] == existing["_ep"],
                      cand["y"] == existing["_ey"]], how="left_anti")
    w = W.partitionBy("x", "head_pred", "y").orderBy(
        F.col("conf").desc(), F.col("kind").asc(), F.col("body").asc())
    return (novel.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("x").alias("subj"),
                    F.col("head_pred").alias("pred"),
                    F.col("y").alias("obj"),
                    F.col("kind").alias("rule_kind"),
                    F.col("body").alias("rule_body"), "conf"))


def facts_asof(timeline: DataFrame, ts) -> DataFrame:
    """Time-travel the temporal KG: the facts VALID at instant ``ts``
    — one row per (subj, pred) interval covering ts (``fact_timeline``
    guarantees intervals within a (subj, pred) are disjoint).  A pure
    partition-prunable filter over the interval table: valid_from <=
    ts < valid_to (NULL valid_to = still current)."""
    t = F.lit(ts).cast("timestamp")
    return (timeline.filter((F.col("valid_from") <= t)
                            & (F.col("valid_to").isNull()
                               | (F.col("valid_to") > t)))
            .select("subj", "pred", "obj", "valid_from", "valid_to",
                    "n_obs"))


def entity_salience(mentions: DataFrame, sentences: DataFrame,
                    top_k: int | None = None) -> DataFrame:
    """Per-document entity salience — the standard entity-indexing
    signal (which entities a page is ABOUT, vs merely mentions): for
    each (url, surface, label),

      salience = 0.5 * freq_share        (mentions / doc mentions)
               + 0.3 / (1 + first_sent)  (earlier first mention wins)
               + 0.2 * spread            (distinct sentences / doc
                                          sentences)

    plus a per-document rank (salience desc, surface asc, label asc —
    fully deterministic).  ``top_k`` keeps the leading entities per
    page (the doc-level entity index a KG serves lookups from).

    Scale shape: one entity-keyed aggregation plus two url-keyed
    rollups (doc mention / sentence totals), all joined back on url —
    Catalyst reuses ONE url hash-partitioning across the joins and the
    per-url ranking window, whose frame is bounded by
    entities-per-document."""
    em = (mentions.groupBy("url", "surface", "label")
          .agg(F.count(F.lit(1)).alias("n_mentions"),
               F.min("sent_id").alias("first_sent"),
               F.countDistinct("sent_id").alias("n_sents")))
    # doc mention total = sum of the group counts, as a WINDOW over
    # the grouped table (r07, guide §2.4): the former separate
    # mentions.groupBy(url) re-ran the whole upstream mention pipeline
    # and joined back; the window reuses the url partitioning the
    # ranking window needs anyway.  Identical values by construction.
    em = em.withColumn("_doc_mentions",
                       F.sum("n_mentions").over(W.partitionBy("url")))
    ds = (sentences.groupBy("url")
          .agg(F.count(F.lit(1)).alias("_doc_sents")))
    sal = F.round(
        0.5 * F.col("n_mentions") / F.col("_doc_mentions")
        + 0.3 / (1 + F.col("first_sent"))
        + 0.2 * F.col("n_sents") / F.col("_doc_sents"), 6)
    w = W.partitionBy("url").orderBy(F.col("salience").desc(),
                                     F.col("surface").asc(),
                                     F.col("label").asc())
    out = (em.join(ds, on="url")
           .withColumn("salience", sal)
           .withColumn("rank", F.row_number().over(w))
           .select("url", "surface", "label", "n_mentions", "first_sent",
                   "n_sents", "salience", "rank"))
    return out.filter(F.col("rank") <= top_k) if top_k else out


def predicate_stats(triples: DataFrame,
                    subj_col: str = "subj_surface",
                    obj_col: str = "obj_surface",
                    functional_threshold: float = 0.8) -> DataFrame:
    """Per-predicate KG schema profile: (pred, n_facts, n_subj, n_obj,
    functionality, inv_functionality, is_functional) over DISTINCT
    facts.  ``functionality`` = n_subj / n_facts (AMIE's measure — 1.0
    means every subject has exactly one object, i.e. the predicate is
    functional and eligible for single-truth resolution);
    ``is_functional`` thresholds it, giving ``resolve_facts`` its
    predicate list WITHOUT a hand-curated schema.

    Scale shape: one distinct + one pred-keyed aggregation with two
    count(DISTINCT) (standard two-phase expand-aggregate); output is
    predicate-vocabulary-sized — collectable/broadcastable by
    nature."""
    P = (triples.select("pred", F.col(subj_col).alias("s"),
                        F.col(obj_col).alias("o"))
         .distinct())
    fun = F.round(F.col("n_subj") / F.col("n_facts"), 6)
    inv = F.round(F.col("n_obj") / F.col("n_facts"), 6)
    return (P.groupBy("pred")
            .agg(F.count(F.lit(1)).alias("n_facts"),
                 F.countDistinct("s").alias("n_subj"),
                 F.countDistinct("o").alias("n_obj"))
            .withColumn("functionality", fun)
            .withColumn("inv_functionality", inv)
            .withColumn("is_functional",
                        fun >= F.lit(functional_threshold)))


def resolve_functional_facts(triples: DataFrame, pages: DataFrame,
                             functional_threshold: float = 0.8
                             ) -> DataFrame:
    """``resolve_facts`` with its predicate list AUTO-DETECTED from
    ``predicate_stats`` — single-truth resolution applied exactly to
    the predicates whose functionality clears the threshold, no
    hand-curated schema.  The collect is bounded by the predicate
    vocabulary (small by nature; the entity vocabulary is the big
    one)."""
    stats = predicate_stats(triples,
                            functional_threshold=functional_threshold)
    preds = [r["pred"]
             for r in stats.filter(F.col("is_functional")).collect()]
    return resolve_facts(triple_provenance(triples, pages),
                         functional_preds=preds)


def snapshot_diff(timeline: DataFrame, t1, t2) -> DataFrame:
    """Diff two instants of the temporal KG: per (subj, pred), compare
    the belief at ``t1`` vs ``t2`` and report what changed — (subj,
    pred, obj_before, obj_after, change) with change in {'added',
    'removed', 'changed'} (unchanged facts are omitted).  The KG
    lifecycle primitive: what did this crawl increment teach us?

    ``fact_timeline`` guarantees at most one valid object per (subj,
    pred) per instant, so the diff is a full-outer equi-join on (subj,
    pred) between two interval filters of the SAME timeline — Catalyst
    reuses one scan; every shuffle keys on (subj, pred).  With a
    gaps-and-islands timeline 'removed' cannot occur (a closed
    interval always has a successor); the branch is kept for interval
    tables with explicit expiry."""
    a = (facts_asof(timeline, t1)
         .select("subj", "pred", F.col("obj").alias("obj_before")))
    b = (facts_asof(timeline, t2)
         .select("subj", "pred", F.col("obj").alias("obj_after")))
    j = a.join(b, on=["subj", "pred"], how="full_outer")
    change = (F.when(F.col("obj_before").isNull(), F.lit("added"))
              .when(F.col("obj_after").isNull(), F.lit("removed"))
              .when(F.col("obj_before") != F.col("obj_after"),
                    F.lit("changed")))
    return (j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select("subj", "pred", "obj_before", "obj_after", "change"))


def growth_curve(prov: DataFrame, bucket: str = "minute") -> DataFrame:
    """KG growth analytics over the provenance rollup: facts FIRST
    seen per capture-time bucket plus the cumulative KG size —
    (bucket, new_facts, total_facts).  The crawl-operations dashboard
    datum: is the knowledge frontier still moving, or is the crawl
    re-reading what it knows?

    Scale shape: one bucket-keyed aggregation; the cumulative sum is
    an unpartitioned window, sound because its input is one row per
    TIME BUCKET (bounded by crawl-span / bucket width — thousands of
    rows, not corpus-sized)."""
    b = (prov.groupBy(F.date_trunc(bucket, F.col("first_seen"))
                      .alias("bucket"))
         .agg(F.count(F.lit(1)).alias("new_facts")))
    w = (W.orderBy("bucket")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return b.withColumn("total_facts", F.sum("new_facts").over(w))


def relation_patterns(triples: DataFrame, sentences: DataFrame,
                      top_k: int = 5) -> DataFrame:
    """Snowball-style relation-pattern induction (Agichtein & Gravano
    2000 — public algorithm): for each predicate, the most frequent
    BETWEEN-SPAN token patterns — (pred, pattern, n, rank).  The
    bootstrap datum for growing a relation extractor: patterns mined
    from known triples find new entity pairs.

    The between-window is the whitespace tokens strictly between the
    subject span's end and the object's start (the extractor
    guarantees subject precedes object with at least the predicate
    token between — the slice is never empty, ANSI-safe).

    Scale shape: one url/sent-keyed join to re-attach sentence tokens
    (the extraction's own key), one (pred, pattern)-keyed count with
    map-side combine, and a per-pred top-k window over the
    pattern-vocabulary-sized rollup."""
    toks = sentences.select(
        "url", "sent_id", F.split(F.col("sent_text"), " ").alias("_tl"))
    j = triples.join(toks, on=["url", "sent_id"])
    subj_end = (F.col("subj_start")
                + F.size(F.split(F.col("subj_surface"), " ")) - 1)
    pat = F.concat_ws(" ", F.slice(
        F.col("_tl"), subj_end + 2, F.col("obj_start") - subj_end - 1))
    cnt = (j.select("pred", pat.alias("pattern"))
           .groupBy("pred", "pattern")
           .agg(F.count(F.lit(1)).alias("n")))
    w = W.partitionBy("pred").orderBy(F.col("n").desc(),
                                      F.col("pattern").asc())
    return (cnt.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k))


def predicate_signatures(triples: DataFrame) -> DataFrame:
    """Statistical domain/range induction (the SDType idea — Paulheim
    & Bizer 2013 — applied to an untyped web KG): LEARN each
    predicate's (subj_label, obj_label) type signatures from the data
    instead of hand-curating them, so ``typed_triples``' allow-list
    can be produced by the pipeline itself.  Returns one row per
    observed (pred, subj_label, obj_label) with its fact support,
    share of the predicate's facts, per-predicate rank, and an
    ``is_dominant`` flag (rank 1).

    Support counts DISTINCT facts (subj, pred, obj + labels), not raw
    mentions — a boilerplate page repeating one sentence a thousand
    times must not vote a thousand times (same de-biasing choice as
    predicate_stats).

    Scale shape: one distinct + one (pred, label-pair)-keyed count
    with map-side combine; the share and rank windows run over the
    SIGNATURE table, whose size is bounded by predicates ×
    label-pairs (tens of rows per predicate, never corpus-sized) —
    broadcastable by nature, which is exactly what
    ``signature_outliers`` does with it."""
    facts = (triples.select("pred", "subj_surface", "subj_label",
                            "obj_surface", "obj_label")
             .distinct())
    sig = (facts.groupBy("pred", "subj_label", "obj_label")
           .agg(F.count(F.lit(1)).alias("n_facts")))
    wp = W.partitionBy("pred")
    wr = wp.orderBy(F.col("n_facts").desc(),
                    F.col("subj_label").asc(), F.col("obj_label").asc())
    return (sig.withColumn(
                "share", F.round(F.col("n_facts")
                                 / F.sum("n_facts").over(wp), 6))
            .withColumn("rank", F.row_number().over(wr))
            .withColumn("is_dominant", F.col("rank") == 1)
            .select("pred", "subj_label", "obj_label", "n_facts",
                    "share", "rank", "is_dominant"))


def signature_outliers(triples: DataFrame,
                       min_share: float = 0.1) -> DataFrame:
    """The learned-schema audit: distinct facts whose (pred,
    subj_label, obj_label) signature carries LESS than ``min_share``
    of its predicate's support — the statistical replacement for
    ``typed_triples``' hand-written allow-list (a LOC "founding" an
    ORG surfaces here without anyone having declared that LOCs don't
    found things).  Returns (subj, pred, obj, subj_label, obj_label,
    sig_share) — the KG-noise review queue.

    Scale shape: the signature table (bounded by predicates ×
    label-pairs) is computed once and broadcast back onto the distinct
    fact table — one broadcast equi-join, no second shuffle of the
    corpus-sized side."""
    sig = predicate_signatures(triples).select(
        "pred", "subj_label", "obj_label", F.col("share").alias("sig_share"))
    facts = (triples.select("pred", "subj_surface", "subj_label",
                            "obj_surface", "obj_label")
             .distinct())
    return (facts.join(F.broadcast(sig),
                       on=["pred", "subj_label", "obj_label"])
            .filter(F.col("sig_share") < min_share)
            .select(F.col("subj_surface").alias("subj"), "pred",
                    F.col("obj_surface").alias("obj"),
                    "subj_label", "obj_label", "sig_share"))


def entity_cards(prov: DataFrame, top_k: int = 5) -> DataFrame:
    """Per-entity serving card — with ``khop_neighborhood`` /
    ``induced_subgraph`` this completes what an entity page renders:
    the subject's ``top_k`` facts ranked by EVIDENCE (distinct sources
    desc, mention count desc, earliest capture asc, pred/obj asc — the
    truth-discovery ordering of resolve_facts without the
    single-object restriction), plus the subject's total fact and
    predicate counts (the card header).

    Scale shape: the rank AND the totals are windows over ONE subj
    partitioning of the already-rolled-up provenance table (one row
    per distinct fact) — a groupBy+join formulation was measured to
    plan a second subj exchange plus a SortMergeJoin; the all-window
    form reuses a single exchange.  Frames are bounded by
    facts-per-entity.  No join back to the corpus."""
    wp = W.partitionBy("subj")
    wr = wp.orderBy(
        F.col("n_sources").desc(), F.col("n_mentions").desc(),
        F.col("first_seen").asc(), F.col("pred").asc(),
        F.col("obj").asc())
    return (prov
            .withColumn("n_facts", F.count(F.lit(1)).over(wp))
            .withColumn("n_preds",
                        F.size(F.collect_set("pred").over(wp)).cast("long"))
            .withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= top_k)
            .select("subj", "pred", "obj", "n_sources", "n_mentions",
                    "first_seen", "rank", "n_facts", "n_preds"))
