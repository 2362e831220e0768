"""End-to-end KG construction plan (north rule):

  pages -> sentences -> pred_tags -> mentions -> triples_raw
        -> linked mentions (alias broadcast join + LSH residuals)
        -> entity components (connected components)
        -> canonical triples + per-partition lineage, resumable stages.

Every stage writes a table via the StageManifest (resume = skip stage);
all stage logic is the declarative operators from ``..operators``.

Canonicalization semantics: entities that share an LSH candidate pair or
an alias-dictionary id land in one component; the canonical id is the
lexicographically smallest entity_id in the component.  Unlinkable
mentions keep a deterministic surface-derived id ``S-<md5(norm)>`` so the
triple set is total (nothing silently dropped — north rule lineage).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.cc import connected_components
from ..operators.extract import extract_sentences
from ..operators.link import link_exact, lsh_candidates, norm_surface, unlinked
from ..operators.ner import tag_sentences
from ..operators.spans import extract_mentions
from ..operators.triples import extract_triples_local
from .checkpoints import StageManifest, write_stage


@dataclass
class KGResult:
    sentences: DataFrame
    mentions: DataFrame
    triples_raw: DataFrame
    linked: DataFrame
    components: DataFrame
    triples: DataFrame


def run_kg_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    tagger_dictionary: dict,
    work_dir: str,
    lang: str | None = "en",
    run_id: str = "run0",
    predicates=None,
    use_html: bool = False,
    linker: str = "exact",
    relatedness: DataFrame | None = None,
) -> KGResult:
    """``use_html=True`` extracts text from the ``html`` binary column
    via the real markup-aware extractor (operators/html.py) instead of
    trusting a pre-extracted ``text`` column — the shape for raw-crawl
    inputs where text is null."""
    man = StageManifest(work_dir)

    # stored columns only: sent_text is concat_ws(" ", tokens) (the
    # byte-parity invariant of operators/extract.py), rebuilt on the
    # read-back.  array_join is that concat_ws, but it keeps the column
    # nullable like every other read-back column.
    sentences = write_stage(
        man, "sentences",
        extract_sentences(pages, lang=lang, use_html=use_html)
        .drop("sent_text"),
        run_id=run_id).withColumn("sent_text", F.array_join("tokens", " "))

    tagged = write_stage(
        man, "tagged", tag_sentences(sentences, tagger_dictionary), run_id=run_id)

    mentions = write_stage(
        man, "mentions", extract_mentions(tagged), run_id=run_id)

    # zero-shuffle fused extractor: triple pairing is sentence-local
    from ..operators.triples import DEFAULT_PREDICATES
    triples_raw = write_stage(
        man, "triples_raw",
        extract_triples_local(tagged, predicates=predicates or DEFAULT_PREDICATES),
        run_id=run_id)

    # --- linking ---------------------------------------------------------
    # linker='coherent' swaps in document-coherence disambiguation
    # (operators/link.link_coherent); when coherence is silent (zero
    # scores) its fallback IS link_exact's (prior, entity_id) rule, so
    # the two modes agree except where context genuinely disambiguates
    # (parity pinned in tests/test_pipeline_e2e.py).
    if linker == "coherent":
        from ..operators.link import link_coherent
        lc = link_coherent(mentions, aliases, relatedness)
        etype = (aliases.groupBy("entity_id")
                 .agg(F.min("entity_type").alias("entity_type")))
        linked = (
            lc.join(F.broadcast(etype), on="entity_id")
            .join(mentions.select("url", "sent_id", "start", "label"),
                  on=["url", "sent_id", "start"])
            .withColumn("alias_norm", norm_surface(F.col("surface"))))
    elif linker in ("exact", "embed"):
        linked = link_exact(mentions, aliases)
    else:
        raise ValueError(f"linker: {linker!r} (expected exact|coherent|embed)")
    # residual near-miss candidates: unlinked surfaces vs alias strings
    if linker == "embed":
        # dense-retrieval residual resolution: cosine-RANKED top-1 over
        # the same LSH candidate pairs (operators/link.link_embed) —
        # when a typo'd surface band-matches several aliases, the
        # closest one wins instead of the smallest entity id, and
        # sub-threshold matches fall through to the S- surface ids
        from ..operators.link import link_embed
        resid_linked = (link_embed(mentions, aliases)
                        .select("alias_norm", "entity_id"))
        # ranked resolution picks ONE entity per residual surface, so
        # the surface contributes no entity-merge edges downstream
        # (the x < y self-join below is empty by construction)
        resid_entities = resid_linked
    else:
        resid = unlinked(mentions, aliases).select("alias_norm").distinct()
        cand = lsh_candidates(resid, "alias_norm",
                              aliases.select("alias_norm").distinct(),
                              "alias_norm", broadcast_right=True)
        # LSH candidates link a residual surface to the entity of the
        # matched alias — the SAME disambiguation rule as link_exact
        # (max prior, tie min entity_id), via the shared helper.
        from ..operators.link import best_alias_rows
        alias_best = best_alias_rows(aliases).select("alias_norm", "entity_id")
        resid_entities = (
            cand.withColumnRenamed("alias_norm_r", "matched_alias")
            .join(alias_best.withColumnRenamed("alias_norm", "matched_alias"),
                  on="matched_alias")
            .select("alias_norm", "entity_id")
        )
        resid_linked = resid_entities.groupBy("alias_norm").agg(
            F.min("entity_id").alias("entity_id"))
    # one residual pass: every mention without an exact alias takes its
    # residual surface's entity, else a surface-derived id (totality)
    resid_mentions = (
        unlinked(mentions, aliases)
        .join(F.broadcast(resid_linked), on="alias_norm", how="left")
        .withColumn("entity_id", F.coalesce(
            "entity_id", F.concat(F.lit("S-"), F.md5(F.col("alias_norm")))))
        .withColumn("prior", F.lit(0.0))
        .withColumn("entity_type", F.col("label"))
    )
    # every linker's alias_norm is norm_surface(surface): not stored,
    # rebuilt as the read-back's first column
    linked_total = write_stage(
        man, "linked",
        linked.select(*resid_mentions.columns).unionByName(resid_mentions)
        .drop("alias_norm"),
        run_id=run_id)
    linked_total = linked_total.select(
        norm_surface(F.col("surface")).alias("alias_norm"), "*")

    # --- canonicalization ------------------------------------------------
    # edges: alias ambiguity (same alias -> several ids) + LSH candidate
    # pairs mapped to entity ids.
    amb_edges = (
        aliases.alias("x").join(aliases.alias("y"), on="alias_norm")
        .filter(F.col("x.entity_id") < F.col("y.entity_id"))
        .select(F.col("x.entity_id").alias("src"), F.col("y.entity_id").alias("dst"))
    )
    # a residual surface LSH-matching several dictionary entities links
    # those entities into one component
    lsh_edges = (
        resid_entities.alias("x").join(resid_entities.alias("y"), on="alias_norm")
        .filter(F.col("x.entity_id") < F.col("y.entity_id"))
        .select(F.col("x.entity_id").alias("src"), F.col("y.entity_id").alias("dst"))
    )
    edges = amb_edges.unionByName(lsh_edges)
    self_loops = linked_total.select(
        F.col("entity_id").alias("src"), F.col("entity_id").alias("dst")).distinct()
    comps = connected_components(edges.unionByName(self_loops))
    components = write_stage(man, "components", comps, run_id=run_id)

    # --- final triples ----------------------------------------------------
    lt = linked_total.select(
        "url", "sent_id", "start",
        F.col("entity_id").alias("eid"))
    canon = components.withColumnRenamed("node", "eid").withColumnRenamed("comp", "canonical")
    lt_canon = lt.join(F.broadcast(canon), on="eid", how="left").withColumn(
        "canonical", F.coalesce("canonical", "eid"))

    t = triples_raw
    triples = (
        t.join(lt_canon.select("url", "sent_id",
                               F.col("start").alias("subj_start"),
                               F.col("canonical").alias("subj")),
               on=["url", "sent_id", "subj_start"])
        .join(lt_canon.select("url", "sent_id",
                              F.col("start").alias("obj_start"),
                              F.col("canonical").alias("obj")),
              on=["url", "sent_id", "obj_start"])
        .select("subj", "pred", "obj", "url", "sent_id")
    )
    # partitioned materialization: a 16-way subject hash bucket keys the
    # final table so per-entity reads prune partitions (pruning pinned by
    # tests/test_plans.py::test_triples_stage_partition_pruning); at
    # production scale this is the Iceberg partition spec.
    triples = triples.withColumn(
        "subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(16)).cast("int"))
    triples = write_stage(man, "triples", triples,
                          partition_by=["subj_bucket"], run_id=run_id)

    return KGResult(sentences, mentions, triples_raw, linked_total,
                    components, triples)
