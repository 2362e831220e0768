"""Connected components by hash-to-min label propagation with pointer
jumping (SURVEY §7.1 M6, J8) — the canonicalization kernel.

State: one row per node, ``(node, nbrs, comp)``: the node's neighbour
list and its label, the smallest node id it has seen so far.  Labels
only fall, and each is the id of a node in the same component.

  round 0   group the symmetrized edges by node: ``nbrs`` is the
            neighbour list, ``comp = min(node, nbrs)``;
  round k   every node sends its label to its neighbours and keeps the
            smallest label it receives, its own included: ONE
            ``groupBy`` over the node rows and the label-carrying
            neighbour rows, with no join to a separate edge table;
  jump      each round ends with ``comp <- min(comp, L(comp))``, where
            ``L`` is the labels at the round's start (round 0: the
            labels it just computed), a join on ``comp``.

The jump makes a chain of n nodes converge in O(log n) rounds: the
distance a label has travelled more than doubles every round, where
propagation alone covers one edge per round.  Each round ends in one
barrier (``localCheckpoint``), so the plan never grows (SURVEY §4.3.3),
and the barrier carries an ``Observation`` of whether any label fell:
the fixpoint test runs no Spark job of its own.  A round in which no
label falls is the fixpoint: ``comp(a) <= comp(b)`` across every
symmetric edge, so ``comp`` is constant per component and equals its
minimum.

A round plans two exchanges, the ``groupBy`` and the join (which AQE
may turn into a broadcast), plus the barrier.  The edges are read once,
by round 0's barrier, so an expensive upstream edge pipeline (the LSH
candidates of ``resolve_duplicates``) runs once.

Works on any orderable id type (string entity ids: min = lexical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 50) -> DataFrame:
    """edges(src, dst) -> (node, comp) with comp = min node id per
    component (self-loops and duplicate/reversed edges welcome)."""
    e = edges.select(F.col(src).alias("node"), F.col(dst).alias("nb"))
    sym = (e.unionByName(e.select(F.col("nb").alias("node"),
                                  F.col("node").alias("nb")))
           .filter(F.col("node").isNotNull() & F.col("nb").isNotNull()))
    state = (sym.groupBy("node")
             .agg(F.array_sort(F.collect_set("nb")).alias("nbrs"))
             .select("node", "nbrs",
                     F.least("node", F.array_min("nbrs")).alias("comp"),
                     F.col("node").alias("old")))
    state, changed = _jump(state, state)
    for _ in range(max_iter):
        if not changed:
            return state.select("node", "comp")
        # each node's label to each neighbour, and the node's own row
        # (the only one with nbrs and old set)
        sent = state.select(F.explode("nbrs").alias("node"), "comp")
        own = state.select("node", "nbrs", "comp", F.col("comp").alias("old"))
        prop = (own.unionByName(sent, allowMissingColumns=True)
                .groupBy("node")
                .agg(F.max("nbrs").alias("nbrs"), F.min("comp").alias("comp"),
                     F.max("old").alias("old")))
        state, changed = _jump(prop, state)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations")


def _jump(state: DataFrame, labels: DataFrame) -> tuple[DataFrame, bool]:
    """Pointer jump ``comp <- min(comp, labels(comp))`` on
    ``(node, nbrs, comp, old)``, then the round's barrier.  Returns the
    barrier and whether any ``comp`` fell below ``old`` in the round."""
    parent = labels.select(F.col("node").alias("comp"),
                           F.col("comp").alias("pcomp"))
    obs = Observation()
    out = (state.join(parent, on="comp", how="left")
           .select("node", "nbrs",
                   F.least("comp", F.coalesce("pcomp", "comp")).alias("comp"),
                   "old")
           .observe(obs, F.max(F.col("comp") < F.col("old")).alias("changed"))
           .localCheckpoint())
    return out, bool(obs.get["changed"])
