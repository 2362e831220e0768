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
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.cc import connected_components
from ..operators.extract import extract_sentences
from ..operators.link import link_exact, lsh_candidates, norm_surface, unlinked
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
    path); ``sources/warc.read_warc_pages`` keeps one capture per
    ``url`` for crawl input."""
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
    linked_total = write_stage(
        man, "linked",
        linked.select(*resid_mentions.columns).unionByName(resid_mentions)
        .select("url", "sent_id", "start", "entity_id", "prior",
                "entity_type"),
        run_id=run_id)

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
