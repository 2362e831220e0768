"""End-to-end KG construction plan (north rule):

  pages -> sentences -> pred_tags -> mentions -> triples_raw
        -> linked mentions (alias broadcast join + LSH residuals)
        -> entity components (connected components)
        -> canonical triples + per-partition lineage, resumable stages.

Every stage writes a table via the StageManifest (resume = skip stage);
all stage logic is the declarative operators from ``..operators``.

Linking builds two dictionary-bounded tables once per call, each a
``localCheckpoint`` barrier: the alias dimension (one row per alias:
``link_exact``'s best entity and every entity id the alias names) and
the residual match table (one row per unlinked surface with an LSH or
embedding match: its entity and every candidate entity).  ``linked`` is
written from one scan of ``mentions`` broadcast-joined to both; the CC
edges read the same two tables, so nothing downstream plans the LSH
again.

Canonicalization semantics: entities that share an LSH candidate pair or
an alias-dictionary id land in one component; the canonical id is the
lexicographically smallest entity_id in the component.  CC runs on the
dictionary graph only, with star edges (each entity to the smallest
entity of its alias or residual surface); every other linked entity is
its own component and joins back in the ``components`` write.
Unlinkable mentions keep a deterministic surface-derived id
``S-<md5(norm)>`` so the triple set is total (nothing silently dropped —
north rule lineage).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.cc import connected_components
from ..operators.extract import extract_sentences
# link_exact stays importable here with the names below (pipebench's
# tracer wraps this module's linking calls by name)
from ..operators.link import (alias_dimension, link_exact,  # noqa: F401
                              lsh_candidates, norm_surface, unlinked)
from ..operators.ner import tag_sentences
from ..operators.spans import extract_mentions
from ..operators.triples import extract_triples_local
from ..schemas import TRIPLES_RAW
from .checkpoints import StageManifest, write_stage


@dataclass
class KGResult:
    """The stage tables as read back.  ``triples_raw`` and ``linked``
    are built on first read by joining their stored stage with
    ``mentions``: only a caller that reads them plans the join."""
    sentences: DataFrame
    mentions: DataFrame
    stored_triples_raw: DataFrame
    stored_linked: DataFrame
    components: DataFrame
    triples: DataFrame

    @cached_property
    def triples_raw(self) -> DataFrame:
        return _triples_with_mentions(self.stored_triples_raw, self.mentions)

    @cached_property
    def linked(self) -> DataFrame:
        return _linked_with_mentions(self.stored_linked, self.mentions)


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
    inputs where text is null.

    Precondition: each ``url`` occurs once in ``pages``.  Rows are keyed
    by ``(url, sent_id)``.  The stages up to ``triples_raw`` are computed
    row by row, but every join on the key mixes the pages of a repeated
    ``url``: the final triples join multiplies their rows, and the joins
    to ``mentions`` (the coherent linker's, and those that rebuild
    ``KGResult.linked`` and ``.triples_raw``) pair a row with each
    page's mention at the same ``(url, sent_id, start)``, so those
    tables show the other page's surfaces, labels and spans.  Nothing
    here checks it (a check would put an exchange on the map-only
    path); ``sources/pages.latest_capture`` keeps one capture per
    ``url``, and ``cli kg --pages`` and ``sources/warc.read_warc_pages``
    apply it."""
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

    # tagged keeps tokens: joining them back from sentences would put an
    # exchange on the map-only pages -> triples_raw path once sentences
    # outgrow the broadcast size
    tagged = write_stage(
        man, "tagged", tag_sentences(sentences, tagger_dictionary), run_id=run_id)

    mentions = write_stage(
        man, "mentions", extract_mentions(tagged), run_id=run_id)

    # zero-shuffle fused extractor: triple pairing is sentence-local.
    # triples_raw and linked store their row key and the columns they
    # add; KGResult joins the mention columns back in lazily, off the
    # pipeline's own path.
    from ..operators.triples import DEFAULT_PREDICATES
    triples_raw = write_stage(
        man, "triples_raw",
        extract_triples_local(tagged, predicates=predicates or DEFAULT_PREDICATES)
        .select("url", "sent_id", "subj_start", "pred", "obj_start"),
        run_id=run_id)

    # --- linking ---------------------------------------------------------
    # Two dictionary-bounded barriers, each built once and read by both
    # the linked write and the canonicalization edges (one subtree, two
    # sinks: ARCHITECTURE "Catalyst posture"):
    #   dim    one row per alias: link_exact's best entity (max prior,
    #          tie min entity_id) and ``ids``, every entity it names;
    #   resid  one row per unlinked surface that has a residual match:
    #          the linker's entity for it and ``ids``, every candidate
    #          entity.  Bounded by the distinct unlinked surfaces.
    if linker not in ("exact", "coherent", "embed"):
        raise ValueError(f"linker: {linker!r} (expected exact|coherent|embed)")
    dim = alias_dimension(aliases).localCheckpoint()
    if linker == "embed":
        # dense-retrieval residual resolution: cosine-RANKED top-1 over
        # the same LSH candidate pairs (operators/link.link_embed) —
        # when a typo'd surface band-matches several aliases, the
        # closest one wins instead of the smallest entity id, and
        # sub-threshold matches fall through to the S- surface ids.
        # One entity per surface, so no entity-merge edges.
        from ..operators.link import link_embed
        resid = (link_embed(mentions, aliases)
                 .select("alias_norm", "entity_id",
                         F.array("entity_id").alias("ids")))
    else:
        # LSH candidates link a residual surface to the entity of each
        # matched alias by link_exact's rule (the dim's best row); the
        # surface takes the smallest of them
        surf = unlinked(mentions, dim).select("alias_norm").distinct()
        cand = lsh_candidates(surf, "alias_norm", dim, "alias_norm",
                              broadcast_right=True)
        resid = (
            cand.join(F.broadcast(dim.select(
                F.col("alias_norm").alias("alias_norm_r"), "entity_id")),
                on="alias_norm_r")
            .groupBy("alias_norm")
            .agg(F.array_sort(F.collect_set("entity_id")).alias("ids"))
            .select("alias_norm", F.col("ids")[0].alias("entity_id"), "ids"))
    resid = resid.localCheckpoint()

    # one scan of mentions: the exact link, else the residual surface's
    # entity, else a surface-derived id (totality)
    m = mentions.withColumn("alias_norm", norm_surface(F.col("surface")))
    if linker == "coherent":
        # document-coherence disambiguation (operators/link.link_coherent)
        # picks the exact link; when coherence is silent (zero scores)
        # its fallback IS link_exact's (prior, entity_id) rule, so the
        # two modes agree except where context genuinely disambiguates
        # (parity pinned in tests/test_pipeline_e2e.py)
        from ..operators.link import link_coherent
        etype = (aliases.groupBy("entity_id")
                 .agg(F.min("entity_type").alias("entity_type")))
        exact = (link_coherent(mentions, aliases, relatedness)
                 .join(F.broadcast(etype), on="entity_id")
                 .select("url", "sent_id", "start", "entity_id", "prior",
                         "entity_type"))
        m = m.join(exact, on=["url", "sent_id", "start"], how="left")
    else:
        m = m.join(F.broadcast(dim.select("alias_norm", "entity_id", "prior",
                                          "entity_type")),
                   on="alias_norm", how="left")
    linked = (
        m.join(F.broadcast(resid.select(
            "alias_norm", F.col("entity_id").alias("resid_id"))),
            on="alias_norm", how="left")
        .select("url", "sent_id", "start",
                F.coalesce("entity_id", "resid_id",
                           F.concat(F.lit("S-"), F.md5("alias_norm")))
                .alias("entity_id"),
                F.coalesce("prior", F.lit(0.0)).alias("prior"),
                F.coalesce("entity_type", "label").alias("entity_type")))
    linked_total = write_stage(man, "linked", linked, run_id=run_id)

    # --- canonicalization ------------------------------------------------
    # CC over the dictionary graph only: the star edges of both barriers.
    # The linked entities outside that graph are their own components:
    # the components write unions them in, so it keeps every node.
    comps = connected_components(
        star_edges(dim).unionByName(star_edges(resid)))
    nodes = (linked_total.select(F.col("entity_id").alias("node"),
                                 F.col("entity_id").alias("comp"))
             .filter(F.col("node").isNotNull()))
    components = write_stage(
        man, "components",
        comps.unionByName(nodes).groupBy("node")
        .agg(F.min("comp").alias("comp")),
        run_id=run_id)

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


def star_edges(groups: DataFrame) -> DataFrame:
    """``(src, dst)`` edges from every id of each row's sorted ``ids``
    to ``ids[0]``, the smallest: k - 1 edges for a group of k where the
    clique has k(k-1)/2, and the same connected components."""
    return (groups.select(F.explode("ids").alias("src"),
                          F.col("ids")[0].alias("dst"))
            .filter(F.col("src") != F.col("dst")))


def _triples_with_mentions(triples_raw: DataFrame,
                           mentions: DataFrame) -> DataFrame:
    """The stored ``(url, sent_id, subj_start, pred, obj_start)`` rows
    with each end's surface and label from its mention, in
    ``TRIPLES_RAW`` order.  1:1: a triple's spans and the mentions are
    the same ``span_decode_expr`` over the same tags, so each
    ``(url, sent_id, start)`` is one mention."""
    def end(role):
        return mentions.select(
            "url", "sent_id", F.col("start").alias(f"{role}_start"),
            F.col("surface").alias(f"{role}_surface"),
            F.col("label").alias(f"{role}_label"))
    return (triples_raw
            .join(end("subj"), on=["url", "sent_id", "subj_start"])
            .join(end("obj"), on=["url", "sent_id", "obj_start"])
            .select(*TRIPLES_RAW.fieldNames()))


def _linked_with_mentions(linked: DataFrame,
                          mentions: DataFrame) -> DataFrame:
    """The stored ``(url, sent_id, start, entity_id, prior,
    entity_type)`` rows with their mention's end, surface and label,
    and ``alias_norm = norm_surface(surface)`` first: every linker keys
    on that normalised surface."""
    return (mentions.join(linked, on=["url", "sent_id", "start"])
            .select(norm_surface(F.col("surface")).alias("alias_norm"), "*"))
