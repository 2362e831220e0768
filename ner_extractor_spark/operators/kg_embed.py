"""KG-embedding training IN Spark — deterministic TransE (Bordes et
al. 2013, "Translating Embeddings for Modeling Multi-relational Data")
over the engine's own (positive, corrupted) triple pairs.

The reference repo stops at NER tagging (DistilBERT-CRF ``src/model.py``);
a KG-construction pipeline's next step after ``kg_negative_samples``
(the corruption sampler built for exactly this) is learning entity /
relation embeddings for link prediction and fact plausibility scoring.
This module is that step, as a fixed-round distributed batch job — the
``bpe_train`` / ``train_perceptron`` iterative discipline.

Why this stays BIT-EXACT across engines (the dyadic lesson of
``synthetic_weights``):

  * embeddings initialize to md5-derived k/1024 rationals in [-1, 1);
  * the score is the L1 energy d = sum_i |h_i + r_i - t_i| — sums of
    dyadic rationals, exactly representable;
  * the margin-hinge subgradient of an L1 energy is a SIGN vector
    (every per-dim contribution is -2..2 integer), so the batch
    gradient is an integer sum — summation-order independent;
  * the update is g/1024 with an exact ±clip (greatest/least), so
    round-k weights remain dyadic with denominator 1024^(k+1)-bounded.

A float-dot-product model (DistMult, RotatE) or an L2-normalization
step would make every round transcendental and the k-round compounding
engine-divergent; classic TransE-L1 *without* the per-round renorm
(we substitute an exact L-infinity clip to keep embeddings bounded —
documented deviation) is the strongest member of the family that is
exactly replayable, and the one the DuckDB oracle (`kg_transe`)
replays unrolled, round for round.

Scale shape (100 TB posture): the embedding table is
(n_entities + n_relations) x dim rows — bounded model state, the same
class as the BPE vocabulary.  Per round: four equi-joins of the pair
table against the broadcast embedding table keyed on (id, i); one
pair-keyed window for the energies (the partition key is the pair
identity — maximal cardinality, skew-free); one gradient aggregation
keyed on (kind, id, i) — bounded by the model size and map-side
combined.  Driver state per round is nothing
but the lineage-truncation checkpoint, exactly like ``train_perceptron``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def _fold8(col):
    """First 8 md5 hex chars -> long (engine-portable hash)."""
    return F.conv(F.substring(col, 1, 8), 16, 10).cast("long")


def _dyadic(seed_expr):
    """md5-derived dyadic rational in [-1, 1): (fold8 % 2048 - 1024)/1024."""
    return (_fold8(F.md5(seed_expr)) % 2048 - F.lit(1024)) / F.lit(1024.0)


def init_embeddings(spark: SparkSession, ids: DataFrame, kind: str,
                    dim: int = 4, seed: str = "te") -> DataFrame:
    """(kind, id, i, v) init rows for every id in ``ids`` (one 'id'
    column): v = dyadic('te|<kind>|<id>|<i>').  One narrow cross join
    against a dim-row literal range — no shuffle."""
    dims = spark.range(dim).select(F.col("id").cast("int").alias("i"))
    return (ids.crossJoin(F.broadcast(dims))
            .select(F.lit(kind).alias("kind"), F.col("id"), "i",
                    _dyadic(F.concat(F.lit(f"{seed}|{kind}|"), F.col("id"),
                                     F.lit("|"), F.col("i").cast("string")))
                    .alias("v")))


def transe_pairs(neg: DataFrame,
                 subj_col: str = "subj_surface", rel_col: str = "pred",
                 obj_col: str = "obj_surface",
                 neg_col: str = "neg_obj_surface") -> DataFrame:
    """``negative_samples`` output -> the weighted training-pair table
    (h, r, t, tn, w): duplicates collapse into an integer weight so the
    batch gradient multiplies instead of re-emitting rows (identical
    math, bounded distinct keys)."""
    return (neg.groupBy(F.col(subj_col).alias("h"),
                        F.col(rel_col).alias("r"),
                        F.col(obj_col).alias("t"),
                        F.col(neg_col).alias("tn"))
            .agg(F.count(F.lit(1)).alias("w")))


def _pair_energies(pairs: DataFrame, emb: DataFrame) -> DataFrame:
    """Per (pair, dim): gp = h_i + r_i - t_i and gn = h_i + r_i - tn_i.
    Four equi-joins against the broadcast embedding table on (id, i)."""
    e = F.broadcast(emb)
    eh = e.filter(F.col("kind") == "e").select(
        F.col("id").alias("_h"), F.col("i").alias("_hi"),
        F.col("v").alias("vh"))
    er = e.filter(F.col("kind") == "r").select(
        F.col("id").alias("_r"), F.col("i").alias("_ri"),
        F.col("v").alias("vr"))
    et = e.filter(F.col("kind") == "e").select(
        F.col("id").alias("_t"), F.col("i").alias("_ti"),
        F.col("v").alias("vt"))
    etn = e.filter(F.col("kind") == "e").select(
        F.col("id").alias("_tn"), F.col("i").alias("_tni"),
        F.col("v").alias("vtn"))
    return (pairs
            .join(eh, F.col("h") == F.col("_h"))
            .join(er, (F.col("r") == F.col("_r"))
                  & (F.col("_hi") == F.col("_ri")))
            .join(et, (F.col("t") == F.col("_t"))
                  & (F.col("_hi") == F.col("_ti")))
            .join(etn, (F.col("tn") == F.col("_tn"))
                  & (F.col("_hi") == F.col("_tni")))
            .select("h", "r", "t", "tn", "w", F.col("_hi").alias("i"),
                    (F.col("vh") + F.col("vr") - F.col("vt")).alias("gp"),
                    (F.col("vh") + F.col("vr") - F.col("vtn")).alias("gn")))


def transe_train(pairs: DataFrame, *, dim: int = 4, n_rounds: int = 2,
                 lr_den: int = 1024, margin: float = 1.0,
                 clip: float = 2.0, seed: str = "te") -> DataFrame:
    """Learn (kind, id, i, v) TransE embeddings over weighted
    (h, r, t, tn, w) pairs (``transe_pairs``).  Round k:

      d_pos = sum_i |h_i + r_i - t_i|;  d_neg = same with tn;
      a pair VIOLATES when margin + d_pos - d_neg > 0 (hinge);
      per violating pair and dim the L1 subgradient is
        dL/dh_i = dL/dr_i = sign(gp_i) - sign(gn_i),
        dL/dt_i = -sign(gp_i),  dL/dtn_i = +sign(gn_i);
      v := clip(v - (sum over pairs of w * dL/dv) / lr_den, +-clip).

    Every quantity is dyadic (see module docstring), so the result is
    bit-identical to the unrolled DuckDB replay (query ``kg_transe``)
    and to a sequential Python replica (pinned in test_kg_embed).
    ``n_rounds`` is a hyperparameter — a fixed, bounded number of short
    jobs, never data-dependent."""
    spark = pairs.sparkSession
    pairs = pairs.localCheckpoint()
    ents = (pairs.select(F.col("h").alias("id"))
            .union(pairs.select("t")).union(pairs.select("tn")).distinct())
    rels = pairs.select(F.col("r").alias("id")).distinct()
    emb = (init_embeddings(spark, ents, "e", dim, seed)
           .unionByName(init_embeddings(spark, rels, "r", dim, seed))
           ).localCheckpoint()
    pw = Window.partitionBy("h", "r", "t", "tn")
    for _ in range(n_rounds):
        pd = _pair_energies(pairs, emb)
        pd = (pd.withColumn("dp", F.sum(F.abs("gp")).over(pw))
              .withColumn("dn", F.sum(F.abs("gn")).over(pw))
              .filter(F.lit(margin) + F.col("dp") - F.col("dn") > 0))
        sg = F.signum("gp") - F.signum("gn")
        grads = (pd.select(
            "w", "i",
            F.explode(F.array(
                F.struct(F.lit("e").alias("kind"), F.col("h").alias("id"),
                         sg.alias("delta")),
                F.struct(F.lit("r").alias("kind"), F.col("r").alias("id"),
                         sg.alias("delta")),
                F.struct(F.lit("e").alias("kind"), F.col("t").alias("id"),
                         (-F.signum("gp")).alias("delta")),
                F.struct(F.lit("e").alias("kind"), F.col("tn").alias("id"),
                         F.signum("gn").alias("delta")))).alias("g"))
            .groupBy(F.col("g.kind").alias("kind"), F.col("g.id").alias("id"),
                     "i")
            .agg(F.sum(F.col("g.delta") * F.col("w")).alias("g")))
        emb = (emb.join(grads, ["kind", "id", "i"], "left")
               .select("kind", "id", "i",
                       F.greatest(F.lit(-clip), F.least(F.lit(clip),
                           F.col("v") - F.coalesce(F.col("g"), F.lit(0.0))
                           / F.lit(float(lr_den)))).alias("v"))
               ).localCheckpoint()
    return emb


def transe_eval(pairs: DataFrame, emb: DataFrame) -> DataFrame:
    """Per-relation energy separation of the learned embeddings:
    (pred, n_pairs, n_sep, sep_rate) where a pair SEPARATES when the
    positive energy is strictly below the corrupted energy
    (d_pos < d_neg — the ranking the embeddings exist to induce).
    Exact dyadic comparison, weighted by pair multiplicity.  One
    pair-keyed aggregation + one relation-keyed rollup."""
    pd = _pair_energies(pairs, emb)
    pv = (pd.groupBy("h", "r", "t", "tn", "w")
          .agg(F.sum(F.abs("gp")).alias("dp"),
               F.sum(F.abs("gn")).alias("dn")))
    sep = F.when(F.col("dp") < F.col("dn"), F.col("w")).otherwise(F.lit(0))
    return (pv.groupBy(F.col("r").alias("pred"))
            .agg(F.sum("w").alias("n_pairs"),
                 F.sum(sep).alias("n_sep"))
            .select("pred", "n_pairs", "n_sep",
                    F.round(F.col("n_sep") / F.col("n_pairs"), 6)
                    .alias("sep_rate")))


def transe_link_predict(triples: DataFrame, emb: DataFrame, *,
                        pool_cap: int = 10000) -> DataFrame:
    """Link-prediction evaluation of trained embeddings — the
    standard FILTERED ranking protocol of the TransE literature: for
    every distinct positive (h, r, t), rank t among the same-label
    candidate pool by L1 energy, excluding candidates that are
    themselves true tails of (h, r); report per-relation
    (pred, n_triples, hits1, hits3, mean_rank).

    Rank is optimistic (strictly-smaller energies only) and exact:
    energies are dyadic, so cross-engine ties resolve identically —
    the DuckDB replay (query ``kg_link_predict``) is bit-stable.

    Scale shape: candidates = positives x pool (the ``pool_cap``-
    bounded, per-label sorted-distinct pool of ``negative_samples``);
    at web scale full ranking is the expensive eval step and
    ``pool_cap`` IS the sampled-ranking bound.  Three broadcast
    embedding joins, one (h,r,t,c)-keyed energy aggregation, one
    (h,r,t) rank aggregation, one per-relation rollup."""
    pos = (triples.groupBy(F.col("subj_surface").alias("h"),
                           F.col("pred").alias("r"),
                           F.col("obj_surface").alias("t"))
           .agg(F.min("obj_label").alias("lbl")))
    pool = (triples.select(F.col("obj_label").alias("lbl"), "obj_surface")
            .groupBy("lbl")
            .agg(F.slice(F.array_sort(F.collect_set("obj_surface")),
                         1, pool_cap).alias("pl")))
    cand = (pos.join(F.broadcast(pool), "lbl")
            .select("h", "r", "t", F.explode("pl").alias("c")))
    e = F.broadcast(emb)
    eh = e.filter(F.col("kind") == "e").select(
        F.col("id").alias("_h"), F.col("i").alias("_hi"),
        F.col("v").alias("vh"))
    er = e.filter(F.col("kind") == "r").select(
        F.col("id").alias("_r"), F.col("i").alias("_ri"),
        F.col("v").alias("vr"))
    ec = e.filter(F.col("kind") == "e").select(
        F.col("id").alias("_c"), F.col("i").alias("_ci"),
        F.col("v").alias("vc"))
    de = (cand
          .join(eh, F.col("h") == F.col("_h"))
          .join(er, (F.col("r") == F.col("_r"))
                & (F.col("_hi") == F.col("_ri")))
          .join(ec, (F.col("c") == F.col("_c"))
                & (F.col("_hi") == F.col("_ci")))
          .groupBy("h", "r", "t", "c")
          .agg(F.sum(F.abs(F.col("vh") + F.col("vr") - F.col("vc")))
               .alias("d")))
    dt = (de.filter(F.col("c") == F.col("t"))
          .select("h", "r", "t", F.col("d").alias("dt")))
    isp = pos.select("h", "r", F.col("t").alias("c"),
                     F.lit(True).alias("is_pos"))
    ranked = (de.join(dt, ["h", "r", "t"])
              .join(isp, ["h", "r", "c"], "left")
              .groupBy("h", "r", "t")
              .agg((F.lit(1) + F.sum(
                  F.when(F.col("is_pos").isNull()
                         & (F.col("d") < F.col("dt")), 1)
                  .otherwise(0))).cast("long").alias("rank")))
    return (ranked.groupBy(F.col("r").alias("pred"))
            .agg(F.count(F.lit(1)).alias("n_triples"),
                 F.sum((F.col("rank") <= 1).cast("long")).alias("hits1"),
                 F.sum((F.col("rank") <= 3).cast("long")).alias("hits3"),
                 F.round(F.avg("rank"), 6).alias("mean_rank")))
