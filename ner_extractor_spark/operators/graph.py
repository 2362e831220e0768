"""Entity-graph analytics over extracted triples (KG-construction
companions to operators/cc.py's connected components).

``pagerank`` — deterministic fixed-iteration damped PageRank, the
standard entity-salience signal over the (subj → obj) relation graph.
Engine-portable like the other iterative operators here
(embed_viz.kmeans_deterministic / pca_deterministic): rank values are
rounded to ``round_to`` decimals every iteration, so the DuckDB oracle
recomputes the identical trajectory.

Semantics (the simple formulation):
    r_{t+1}(v) = round((1−d)/N + d · Σ_{u→v} r_t(u)/outdeg(u), 8)
Dangling nodes' mass is dropped (ranks then sum to < 1) — documented,
deterministic, and the convention the unrolled-SQL oracle mirrors.

Scale shape: per iteration one join keyed on src (edges × ranks — the
classic PR shuffle; pre-partition both sides by src on a real cluster
to make it exchange-light) and one groupBy(dst).  Each iteration is
localCheckpoint-ed (rank is consumed twice per step; without the
barrier lineage re-evaluates exponentially, same as cc.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(edges: DataFrame, n_iter: int = 5, damping: float = 0.85,
             src: str = "src", dst: str = "dst",
             round_to: int = 8) -> DataFrame:
    """(src, dst) edges -> (node, rank) after ``n_iter`` damped rounds.
    Edges are de-duplicated first; the node set is src ∪ dst."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .distinct().localCheckpoint())
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint())
    n = nodes.count()
    odeg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("od"))
    base = F.lit(1.0 - damping) / F.lit(float(n))
    r = nodes.select(
        "node", F.round(F.lit(1.0) / F.lit(float(n)), round_to).alias("rank"))
    for _ in range(n_iter):
        contrib = (e.join(odeg, "src")
                   .join(r.withColumnRenamed("node", "src"), "src")
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.sum(F.col("rank") / F.col("od")).alias("s")))
        r = (nodes.join(contrib, "node", "left")
             .select("node",
                     F.round(base + F.lit(damping)
                             * F.coalesce("s", F.lit(0.0)), round_to)
                     .alias("rank"))
             .localCheckpoint())
    return r


def degree_stats(edges: DataFrame, src: str = "src",
                 dst: str = "dst") -> DataFrame:
    """Per-node in/out degree over the distinct edge set — the cheap
    first look at a relation graph's skew (hub detection)."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .distinct())
    out_d = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    in_d = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg"))
    return (out_d.join(in_d, "node", "full")
            .select("node",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg")))


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Per-node triangle participation + the global count, via the
    classic ORIENTED-edge join: each undirected edge is stored once as
    (low, high), wedges a<b<c are built by one self-join, and a second
    join against the oriented edge set closes them — every triangle is
    produced exactly once, no double counting, no cross join.  Shuffle
    keys are node ids (maximal cardinality); hub nodes are the standard
    AQE-skew case.  Returns (node, n_triangles) for every node in at
    least one triangle."""
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                      F.greatest(F.col(src), F.col(dst)).alias("b"))
         .filter(F.col("a") != F.col("b"))
         .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
         .distinct())
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a"), F.col("b").alias("c"))
    tri = e.join(bc, on="b").join(ac, on=["a", "c"])   # rows: a < b < c
    per_node = (tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
                .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles")))
    return per_node


def label_propagation(edges: DataFrame, n_iter: int = 4,
                      src: str = "src", dst: str = "dst") -> DataFrame:
    """Community detection by synchronous mode-label propagation
    (Raghavan et al. 2007), made deterministic: every node starts
    labeled with its own id; each round a node adopts the most frequent
    label among its neighbors, ties broken to the SMALLEST label;
    exactly ``n_iter`` synchronous rounds (no convergence check), so
    the trajectory is partitioning-independent and the DuckDB oracle
    can replay it round for round.

    The graph is treated as undirected (edges mirrored), self-loops
    dropped.  Returns (node, community).

    Scale shape: per round one join keyed on the neighbor id (adjacency
    × labels) and two groupBys — (node, label) counting with map-side
    combine, then the per-node argmax as a single ``min(struct(-n,
    label))`` aggregate (no window, no sort).  Hub nodes are the usual
    AQE-skew case, same as pagerank's contribution join.  Labels are
    localCheckpoint-ed per round (same lineage barrier as cc.py /
    pagerank)."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .filter(F.col("src") != F.col("dst"))
         .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
         .distinct())
    adj = (e.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
           .union(e.select(F.col("dst").alias("node"),
                           F.col("src").alias("nbr")))
           .distinct().localCheckpoint())
    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("label"))
    for _ in range(n_iter):
        cnt = (adj.join(labels.withColumnRenamed("node", "nbr"), "nbr")
               .groupBy("node", "label").agg(F.count(F.lit(1)).alias("n")))
        labels = (cnt.groupBy("node")
                  .agg(F.min(F.struct((-F.col("n")).alias("neg_n"),
                                      F.col("label").alias("label")))
                       .alias("b"))
                  .select("node", F.col("b.label").alias("label"))
                  .localCheckpoint())
    return labels.select("node", F.col("label").alias("community"))


def khop_neighborhood(edges: DataFrame, k: int = 3,
                      seed: str | None = None,
                      max_degree: int | None = None,
                      src: str = "src", dst: str = "dst") -> DataFrame:
    """Bounded-k BFS shortest-hop neighborhood — the KG serving
    primitive ("everything within k hops of X") behind entity-page
    rendering and subgraph retrieval.  Returns (node, hop) with hop =
    EXACT shortest undirected distance from the seed, hop <= k.

    The graph is the symmetrized distinct edge set.  ``seed`` defaults
    to the highest-degree node (ties to the smallest id) — a
    deterministic, data-derived choice so the query is scale-factor
    independent.  ``max_degree`` caps the TRAVERSAL fan-out per node
    (neighbors kept by smallest id — the hub-capping discipline of
    mine_rules' max_fanout): a "Reuters"-class hub would otherwise
    pull in its whole million-neighbor adjacency at hop 1.  Degree for
    seed selection is measured on the UNCAPPED graph (the true hub);
    only the walk is capped.

    Scale shape: per hop, ONE equi-join keyed on the node id (frontier
    × adjacency) plus a distinct, and a left_anti against the visited
    set so re-reached nodes never re-expand — frontier work is
    proportional to the hop's NEW nodes, not to paths (BFS, not path
    enumeration).  k is a small constant; each hop's frontier is
    localCheckpoint-ed (iterative-lineage barrier, same as pagerank /
    cc.py).  The visited set is never collected."""
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .filter(F.col("s").isNotNull() & F.col("d").isNotNull()))
    sym = (e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
           .distinct().localCheckpoint())
    if seed is None:
        deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        seed_df = (deg.orderBy(F.col("deg").desc(), F.col("s").asc())
                   .limit(1).select(F.col("s").alias("node")))
    else:
        seed_df = sym.sparkSession.createDataFrame([(seed,)], "node string")
    adj = sym
    if max_degree is not None:
        from pyspark.sql import Window as W
        rn = F.row_number().over(
            W.partitionBy("s").orderBy(F.col("d").asc()))
        adj = (sym.withColumn("_rn", rn)
               .filter(F.col("_rn") <= max_degree).drop("_rn")
               .localCheckpoint())
    visited = (seed_df.select("node", F.lit(0).alias("hop"))
               .localCheckpoint())
    frontier = visited.select("node")
    for h in range(1, k + 1):
        nxt = (frontier.join(adj, frontier["node"] == adj["s"])
               .select(F.col("d").alias("node")).distinct()
               .join(visited.select("node"), on="node", how="left_anti")
               .select("node", F.lit(h).alias("hop"))
               .localCheckpoint())
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return visited


def induced_subgraph(edges: DataFrame, membership: DataFrame,
                     src: str = "src", dst: str = "dst") -> DataFrame:
    """The edge set INDUCED by a node subset — the serving payload a
    ``khop_neighborhood`` retrieval actually renders (the entity
    page's local subgraph, both endpoints inside the neighborhood).
    ``membership`` is (node, hop) as khop returns it; every edge
    column is kept and annotated with ``src_hop`` / ``dst_hop``.

    Scale shape: two equi-joins of the edge table against the
    membership set.  With a CAPPED walk the membership is bounded by
    max_degree^k + k (a few thousand rows at serving-realistic caps),
    so both joins broadcast and the corpus-sized edge table never
    shuffles."""
    def side(col, alias):
        return F.broadcast(membership.select(F.col("node").alias(col),
                                             F.col("hop").alias(alias)))
    extra = [c for c in edges.columns if c not in (src, dst)]
    return (edges.join(side(src, "src_hop"), on=src)
            .join(side(dst, "dst_hop"), on=dst)
            .select(src, dst, *extra, "src_hop", "dst_hop"))
