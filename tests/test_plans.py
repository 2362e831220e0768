"""Physical-plan shape gates (SURVEY §4): these pin the scale posture,
not just results — column pruning reaches the scan, the fused
pages->triples pipeline is exchange-free, and the alias join broadcasts."""

from pyspark.sql import functions as F

from ner_extractor_spark import synth
from ner_extractor_spark.operators.extract import extract_sentences
from ner_extractor_spark.operators.link import link_exact
from ner_extractor_spark.operators.ner import tag_sentences
from ner_extractor_spark.operators.spans import extract_mentions
from ner_extractor_spark.operators.triples import extract_triples_local
from ner_extractor_spark.schemas import ALIASES, PAGES


def _pages_on_disk(spark, tmp_path):
    pages = spark.createDataFrame(synth.pages_rows(synth.gold_corpus(20)),
                                  schema=PAGES)
    p = str(tmp_path / "pages")
    pages.write.parquet(p)
    return spark.read.parquet(p)


def test_html_column_pruned_from_sentence_scan(spark, tmp_path):
    pages = _pages_on_disk(spark, tmp_path)
    plan = extract_sentences(pages, lang="en")._jdf.queryExecution() \
        .executedPlan().toString()
    # the parquet ReadSchema must not fetch the html binary
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" not in read_schema, plan


def test_lang_filter_pushed_to_scan(spark, tmp_path):
    pages = _pages_on_disk(spark, tmp_path)
    plan = extract_sentences(pages, lang="en")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200], plan


def test_pages_to_triples_is_exchange_free(spark, tmp_path):
    pages = _pages_on_disk(spark, tmp_path)
    tagged = tag_sentences(extract_sentences(pages, lang=None),
                           synth.tagger_dictionary())
    plan = extract_triples_local(tagged)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan
    plan2 = extract_mentions(tagged)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan2, plan2


def test_length_bucketed_tagging_same_result(spark, tmp_path):
    """bucket_lengths=True adds exactly one RangePartitioning exchange
    before the tag UDF and changes no row (transformer pad-waste knob)."""
    pages = _pages_on_disk(spark, tmp_path)
    sents = extract_sentences(pages, lang=None)
    gaz = synth.tagger_dictionary()
    plain = tag_sentences(sents, gaz)
    bucketed = tag_sentences(sents, gaz, bucket_lengths=True)
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan
    key = lambda r: (r["url"], r["sent_id"])  # noqa: E731
    assert sorted((key(r), list(r["pred_tags"])) for r in plain.collect()) \
        == sorted((key(r), list(r["pred_tags"])) for r in bucketed.collect())


def test_triples_stage_partition_pruning(spark, tmp_path):
    """The triples stage is written partitioned by subj_bucket; a
    bucket-keyed read must prune partitions at the scan (VERDICT r01 #10)."""
    from ner_extractor_spark.plans.checkpoints import (StageManifest,
                                                       write_stage)
    man = StageManifest(str(tmp_path / "stages"))
    df = spark.range(200).select(
        F.concat(F.lit("Q-"), F.col("id")).alias("subj"),
        F.lit("p").alias("pred"),
        F.pmod(F.xxhash64(F.concat(F.lit("Q-"), F.col("id"))), F.lit(16))
        .cast("int").alias("subj_bucket"))
    write_stage(man, "triples", df, partition_by=["subj_bucket"])
    re_read = spark.read.parquet(man.path("triples"))
    plan = re_read.filter(F.col("subj_bucket") == 3)._jdf.queryExecution() \
        .executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "subj_bucket" in pf, plan


def test_alias_join_is_broadcast(spark, tmp_path):
    pages = _pages_on_disk(spark, tmp_path)
    tagged = tag_sentences(extract_sentences(pages, lang=None),
                           synth.tagger_dictionary())
    mentions = extract_mentions(tagged)
    aliases = spark.createDataFrame(synth.alias_rows(), schema=ALIASES)
    plan = link_exact(mentions, aliases)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_html_extraction_udf_evaluated_once(spark, tmp_path):
    """r04 regression pin: the html->text UDF must appear in exactly ONE
    ArrowEvalPython stage.  (A filter on the UDF output pushed below a
    repartition Exchange made Catalyst evaluate the Python stage twice
    over the whole corpus — caught in PLANS.md review.)"""
    from ner_extractor_spark.operators.html import (html_to_text,
                                                    messy_html_expr)
    pages = _pages_on_disk(spark, tmp_path)
    df = (pages.filter(F.trim(F.col("text")) != "")
          .repartition(4, "url")
          .select("url", messy_html_expr(
              F.col("text"), F.col("url")).alias("html"))
          .select("url", html_to_text(F.col("html")).alias("text")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_winnow_matches_no_serial_prefilter(spark, tmp_path):
    """Exploding a HOF-computed array: plain explode's implicit
    size() > 0 guard gets pushed below the input-spread Exchange as a
    scan filter, evaluating the whole rolling-hash expression on the
    single pre-shuffle task (measured 14 s serial at sf0.1).
    winnow_matches uses explode_outer (row-identical — the
    fingerprint set is never empty), which generates no pushable
    filter: pin that no size() predicate reaches the scan."""
    from pyspark.sql import functions as F

    from ner_extractor_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [(i, f"text body number {i} with some words") for i in range(40)],
        "doc_id int, text string")
    p = str(tmp_path / "docs")
    docs.write.parquet(p)
    spread = spark.read.parquet(p).repartition(8, F.col("doc_id"))
    ex = (winnow_fingerprints(spread)
          .select("doc_id", F.explode_outer("fingerprints").alias("fp")))
    plan = ex._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "DataFilters:" in line:
            assert "size(" not in line, line
    # the plain-explode variant DOES plant the pushable guard — keep
    # this canary so a Spark behavior change is noticed either way
    bad = (winnow_fingerprints(spread)
           .select("doc_id", F.explode("fingerprints").alias("fp")))
    bad_plan = bad._jdf.queryExecution().executedPlan().toString()
    assert any("DataFilters:" in l and "size(" in l
               for l in bad_plan.splitlines()), bad_plan


def test_bpe_encode_vocab_broadcast_plan(spark, tmp_path):
    """VERDICT r04 #3 plan pin at the file-scan level: bpe_encode's
    corpus side goes scan -> explode -> BroadcastHashJoin with no
    hash-partitioning exchange anywhere in the final plan."""
    from ner_extractor_spark.operators.bpe import bpe_encode

    docs = spark.createDataFrame(
        [(i, f"low lower lowest newer new {i}") for i in range(20)],
        "doc_id int, text string")
    p = str(tmp_path / "docs2")
    docs.write.parquet(p)
    enc = bpe_encode(spark.read.parquet(p), [("l", "o"), ("lo", "w")])
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_approx_mode_swaps_the_percentile_aggregate(spark):
    """VERDICT r05 #1: approx=True must actually replace the exact
    percentile UDAF (single-buffer O(group) state) with
    approx_percentile (mergeable GK summaries) in the physical plan —
    for the global calibration, the grouped CCNet cuts, and the
    classifier operating point."""
    import io
    from contextlib import redirect_stdout

    from ner_extractor_spark.operators.classifier import (
        calibrate_classifier_threshold, classify_docs, synthetic_weights)
    from ner_extractor_spark.operators.curation import calibrate_thresholds
    from ner_extractor_spark.operators.lm import ppl_buckets_grouped

    d = spark.createDataFrame(
        [(i, f"word{i} the a quick brown", "en" if i % 2 else "de")
         for i in range(12)], "doc_id int, text string, lang string")

    def plan(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()

    scored = classify_docs(d, synthetic_weights(spark))
    for exact_df, approx_df in [
        (calibrate_thresholds(d), calibrate_thresholds(d, approx=True)),
        (ppl_buckets_grouped(d, "lang"),
         ppl_buckets_grouped(d, "lang", approx=True)),
        (calibrate_classifier_threshold(scored),
         calibrate_classifier_threshold(scored, approx=True)),
    ]:
        pe, pa = plan(exact_df), plan(approx_df)
        assert "approx_percentile" not in pe
        assert "percentile(" in pe.replace("approx_percentile(", "")
        assert "approx_percentile" in pa
        assert "percentile(" not in pa.replace("approx_percentile(", "")


def test_robots_filter_is_broadcast_no_cartesian(spark):
    # the whole gate is a broadcast rules join — no shuffle of the
    # corpus beyond the url-keyed aggregation, and never a cartesian
    from ner_extractor_spark.operators.webfilter import robots_filter
    urls = spark.range(200).select(
        F.concat(F.lit("https://h"), (F.col("id") % 5).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string"))
        .alias("url"))
    plan = robots_filter(urls, [("h0.test", "/", False)])._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_transe_round_has_no_cartesian_and_broadcasts(spark):
    # each training round: 4 broadcast model joins + the pair window
    # + the bounded gradient agg — no cartesian anywhere
    from ner_extractor_spark.operators.kg_embed import (transe_pairs,
                                                        transe_train)
    neg = spark.createDataFrame(
        [("a", "r1", "b", "c"), ("b", "r1", "c", "a")],
        "subj_surface string, pred string, obj_surface string, "
        "neg_obj_surface string")
    emb = transe_train(transe_pairs(neg), dim=2, n_rounds=1)
    # localCheckpoint truncates lineage; re-derive one more round's
    # plan (pairs x emb) to inspect the live shape instead
    from ner_extractor_spark.operators.kg_embed import _pair_energies
    plan = _pair_energies(transe_pairs(neg).localCheckpoint(), emb) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_rule_mining_barrier_and_no_cartesian(spark):
    # the distinct pair table feeds ~8 consumers through ONE
    # localCheckpoint barrier (ExistingRDD leaves, no re-extraction);
    # predicate marginals broadcast; no cartesian anywhere
    from ner_extractor_spark.operators.kg_quality import mine_rules
    tri = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "a"), ("a", "q", "b")],
        "subj_surface string, pred string, obj_surface string")
    plan = mine_rules(tri)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # every P consumer reads the barrier leaf, not the source table
    assert plan.count("ExistingRDD") >= 6, plan.count("ExistingRDD")


def test_entity_cards_single_partitioning_no_join(spark):
    """Card totals are windows over the rank's subj partitioning —
    the groupBy+join formulation planned a second subj exchange plus
    a SortMergeJoin (plan audit r06: SMJ 1 -> 0, exchanges 11 -> 5)."""
    import datetime as dt
    from ner_extractor_spark.operators.kg_quality import entity_cards
    prov = spark.createDataFrame(
        [("a", "p", "x", 1, 1, dt.datetime(2024, 1, 1))],
        "subj string, pred string, obj string, n_mentions long, "
        "n_sources long, first_seen timestamp")
    plan = (entity_cards(prov)._jdf.queryExecution()
            .executedPlan().toString())
    assert "SortMergeJoin" not in plan, plan


def test_link_embed_alias_side_broadcasts(spark):
    """The dense linker's dictionary-sided joins must broadcast: the
    alias BAND table (broadcast_right=True — without it the
    corpus-sized residual band table shuffles against a
    dictionary-bounded one), the alias vectors, and the entity
    resolution.  The residual-vector join stays a shuffle join by
    design (corpus×corpus)."""
    from ner_extractor_spark.operators.link import link_embed
    from ner_extractor_spark.schemas import ALIASES as ALIAS_SCHEMA
    mentions = spark.createDataFrame(
        [("u", 0, 0, 0, "Sparks", "ORG")],
        "url string, sent_id int, start int, end int, "
        "surface string, label string")
    aliases = spark.createDataFrame(
        [("spark", "Q-1", "ORG", 1.0)], schema=ALIAS_SCHEMA)
    plan = (link_embed(mentions, aliases)._jdf.queryExecution()
            .executedPlan().toString())
    assert "BroadcastHashJoin" in plan, plan
    # the band-bucket join must never sort-merge on (band, bh)
    assert "SortMergeJoin [band" not in plan, plan


def test_ntriples_export_no_joins_no_python(spark):
    """The N-Triples sink is pure string algebra over three
    distinct-aggregates + a union: any Join or Python-eval node in
    the plan means a regression from the declarative form."""
    from ner_extractor_spark.sources.ntriples import to_ntriples
    tri = spark.createDataFrame(
        [("A Corp", "ORG", "acquired", "B Inc", "ORG")],
        "subj_surface string, subj_label string, pred string, "
        "obj_surface string, obj_label string")
    plan = (to_ntriples(tri)._jdf.queryExecution()
            .executedPlan().toString())
    for node in ("Join", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    assert "Union" in plan


def test_blocking_stats_joins_are_keyed(spark):
    """blocking_stats' pair enumeration must join on the shingle /
    pair keys — a CartesianProduct or broadcast NLJ anywhere means
    the quadratic space is being enumerated directly."""
    from ner_extractor_spark.operators.dedup import blocking_stats
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w q")],
        "doc_id long, text string")
    plan = (blocking_stats(docs)._jdf.queryExecution()
            .executedPlan().toString())
    assert "CartesianProduct" not in plan, plan
    # exactly the THREE 1-row x 1-row metric-assembly crossJoins may
    # plan as nested-loop joins; a fourth would be a pair-enumeration
    # join degrading to the quadratic path
    assert plan.count("BroadcastNestedLoopJoin") == 3, plan


def test_jsonl_export_is_a_pure_flat_map(spark):
    """chunk -> JSONL serialization must stay one map stage: any
    Exchange, Join, or Python-eval node means the trainer-facing
    export stopped being scan-bounded."""
    from ner_extractor_spark.operators.packing import chunk_documents
    from ner_extractor_spark.sources.jsonl import to_training_jsonl
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x y z")], "doc_id long, text string")
    plan = (to_training_jsonl(chunk_documents(docs, chunk_size=4,
                                              stride=3))
            ._jdf.queryExecution().executedPlan().toString())
    for node in ("Exchange", "Join", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
