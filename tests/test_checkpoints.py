"""write_stage contracts (plans/checkpoints.py): a crash after the table
commit resumes to the uninterrupted run's tables, lineage counts every
stage exactly once, a moved work dir resumes, every table is zstd, and
the KG stages store no column that their read-back derives or joins
back in from an earlier stage, nor ``tokens`` twice: ``mentions`` and
``triples_raw`` read the tagger's output from a persisted frame."""

import json
import shutil
from datetime import datetime
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ner_extractor_spark import synth
from ner_extractor_spark.operators.extract import extract_sentences
from ner_extractor_spark.operators.link import norm_surface
from ner_extractor_spark.operators.ner import tag_sentences
from ner_extractor_spark.operators.spans import extract_mentions
from ner_extractor_spark.operators.triples import extract_triples_local
from ner_extractor_spark.plans import kg_pipeline
from ner_extractor_spark.plans.checkpoints import (StageManifest,
                                                   read_lineage, write_stage)
from ner_extractor_spark.plans.kg_pipeline import run_kg_pipeline
from ner_extractor_spark.schemas import ALIASES, MENTIONS, PAGES

KG_STAGES = ["sentences", "tagged", "mentions", "triples_raw", "linked",
             "components", "triples"]


class Crash(RuntimeError):
    pass


def _crash_mark_once(monkeypatch, stage):
    """``StageManifest.mark`` raises on its first call for ``stage``:
    the table and its lineage are written, the manifest entry is not."""
    orig = StageManifest.mark
    armed = [True]

    def mark(self, name, **meta):
        if name == stage and armed[0]:
            armed[0] = False
            raise Crash(name)
        return orig(self, name, **meta)

    monkeypatch.setattr(StageManifest, "mark", mark)


def _lineage_sums(spark, wd):
    return {r["stage"]: r["n"] for r in read_lineage(spark, wd)
            .groupBy("stage").agg(F.sum("row_count").alias("n")).collect()}


def test_mark_crash_resume_counts_stage_once(spark, tmp_path, monkeypatch):
    man = StageManifest(str(tmp_path / "wd"))
    df = spark.range(1000).withColumn("v", F.col("id") % 7)
    _crash_mark_once(monkeypatch, "s")
    with pytest.raises(Crash):
        write_stage(man, "s", df)
    assert not man.done("s")
    out = write_stage(man, "s", df)
    assert man.done("s")
    assert out.count() == 1000
    assert _lineage_sums(spark, str(tmp_path / "wd")) == {"s": 1000}


@pytest.fixture(scope="module")
def kg_inputs(spark):
    docs = synth.gold_corpus(40)
    pages = spark.createDataFrame(synth.pages_rows(docs), schema=PAGES)
    aliases = spark.createDataFrame(synth.alias_rows(), schema=ALIASES)
    return pages, aliases


def _run_kg(spark, kg_inputs, wd):
    pages, aliases = kg_inputs
    return run_kg_pipeline(spark, pages, aliases, synth.tagger_dictionary(),
                           str(wd), lang=None)


@pytest.fixture(scope="module")
def kg_clean(spark, kg_inputs, tmp_path_factory):
    wd = tmp_path_factory.mktemp("kg_clean")
    _run_kg(spark, kg_inputs, wd)
    return wd


def _table_rows(spark, wd, stage):
    return sorted(map(tuple, spark.read.parquet(str(Path(wd) / stage))
                      .collect()))


@pytest.mark.parametrize("crash_at", ["tagged", "mentions", "linked",
                                      "triples"])
def test_kg_crash_before_mark_resumes_identical(spark, kg_inputs, kg_clean,
                                                tmp_path, monkeypatch,
                                                crash_at):
    wd = tmp_path / "kg"
    _crash_mark_once(monkeypatch, crash_at)
    with pytest.raises(Crash):
        _run_kg(spark, kg_inputs, wd)
    assert not StageManifest(str(wd)).done(crash_at)
    monkeypatch.undo()
    _run_kg(spark, kg_inputs, wd)

    sums = _lineage_sums(spark, str(wd))
    for stage in KG_STAGES:
        rows = _table_rows(spark, wd, stage)
        assert rows == _table_rows(spark, kg_clean, stage), stage
        assert sums.get(stage, 0) == len(rows), stage


def test_partitioned_stage_has_one_lineage_file(spark, kg_clean):
    lin_dir = kg_clean / "_lineage"
    assert sorted(p.name for p in lin_dir.iterdir()) == \
        sorted(f"{s}.parquet" for s in KG_STAGES)

    n = spark.read.parquet(str(kg_clean / "triples")).count()
    parts = sorted((kg_clean / "triples").rglob("part-*.parquet"))
    assert n > 0 and len(parts) > 1

    t = pq.read_table(lin_dir / "triples.parquet").to_pydict()
    assert set(t["stage"]) == {"triples"}
    assert sum(t["row_count"]) == n
    # partition_id is the written file's index in sorted path order
    assert t["partition_id"] == list(range(len(parts)))
    assert t["row_count"] == [pq.read_metadata(p).num_rows for p in parts]
    assert _lineage_sums(spark, str(kg_clean))["triples"] == n


def test_triples_part_files_are_sorted(kg_clean):
    """Each bucket file holds its rows in key order, so its bytes do not
    depend on the order the final join's tasks emit them in."""
    parts = sorted((kg_clean / "triples").rglob("part-*.parquet"))
    assert parts
    for p in parts:
        t = pq.read_table(p).to_pydict()
        keys = list(zip(*(t[c] for c in ("subj", "pred", "obj", "url",
                                         "sent_id"))))
        assert keys == sorted(keys), p


def _stage_files(wd):
    """``{relative path: mtime_ns}`` of every stage and lineage file."""
    return {str(p.relative_to(wd)): p.stat().st_mtime_ns
            for d in [*KG_STAGES, "_lineage"]
            for p in (wd / d).rglob("*") if p.is_file()}


def _manifest_ts(wd):
    m = json.loads((wd / "_manifest.json").read_text())
    return {s: e["ts"] for s, e in m["stages"].items()}


def test_moved_work_dir_resumes_without_rewriting(spark, kg_inputs,
                                                  tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _run_kg(spark, kg_inputs, a)
    a.rename(b)
    files, ts = _stage_files(b), _manifest_ts(b)
    assert set(ts) == set(KG_STAGES)
    _run_kg(spark, kg_inputs, b)
    assert _stage_files(b) == files
    assert _manifest_ts(b) == ts


def test_manifest_with_absolute_paths_resumes(spark, tmp_path):
    old, new = tmp_path / "old", tmp_path / "new"
    man = StageManifest(str(old))
    write_stage(man, "s", spark.range(10))
    m = json.loads(man.manifest_path.read_text())
    assert m["stages"]["s"]["path"] == "s"
    m["stages"]["s"]["path"] = str(old / "s")    # the older absolute form
    man.manifest_path.write_text(json.dumps(m))
    assert StageManifest(str(old)).done("s")
    old.rename(new)
    assert StageManifest(str(new)).done("s")


def _assert_zstd(root, stages):
    """Every column chunk of every parquet file under each stage dir
    and ``_lineage`` is ZSTD-compressed."""
    for d in [*stages, "_lineage"]:
        codecs = set()
        for p in (Path(root) / d).rglob("*.parquet"):
            md = pq.read_metadata(p)
            codecs |= {md.row_group(g).column(c).compression
                       for g in range(md.num_row_groups)
                       for c in range(md.num_columns)}
        assert codecs == {"ZSTD"}, (d, codecs)


def test_every_stage_and_lineage_file_is_zstd(spark, kg_clean, tmp_path):
    _assert_zstd(kg_clean, KG_STAGES)

    from ner_extractor_spark.plans.curation_pipeline import \
        run_curation_pipeline
    from test_curation_pipeline import _docs, _weights
    cp = tmp_path / "cp"
    r = run_curation_pipeline(spark, _docs(spark), _weights(spark), str(cp),
                              chunk_size=8, budget=20)
    assert r.packed.count() > 0
    _assert_zstd(cp, ["verdict", "cleaned", "chunks", "packed"])

    from ner_extractor_spark.operators.exact_substr import \
        exact_substring_spans
    d = spark.createDataFrame([(1, "a b c d e f g h i j unique one"),
                               (2, "x y a b c d e f g h i j z")],
                              "doc_id int, text string")
    exact_substring_spans(d, n=8, stage_dir=str(tmp_path / "grams")).count()
    _assert_zstd(tmp_path / "grams", ["positional_grams"])


# --- derived columns ------------------------------------------------------
# KGResult's schema at the commit before the KG stages stopped storing
# sent_text and linked.alias_norm; every read-back column is nullable
KG_RESULT = {
    "sentences": "struct<url:string,sent_id:int,tokens:array<string>,"
                 "sent_text:string>",
    "mentions": "struct<url:string,sent_id:int,start:int,end:int,"
                "surface:string,label:string>",
    "triples_raw": "struct<url:string,sent_id:int,subj_start:int,"
                   "subj_surface:string,subj_label:string,pred:string,"
                   "obj_start:int,obj_surface:string,obj_label:string>",
    "linked": "struct<alias_norm:string,url:string,sent_id:int,start:int,"
              "end:int,surface:string,label:string,entity_id:string,"
              "prior:double,entity_type:string>",
    "components": "struct<node:string,comp:string>",
    "triples": "struct<subj:string,pred:string,obj:string,url:string,"
               "sent_id:int,subj_bucket:int>",
}
LINKERS = ["exact", "embed", "coherent"]
TS = datetime(2024, 1, 1)
# lines whose spacing a whitespace-normalising serializer would change
ODD_TEXT = (" leading space\ntrailing space \ndoubled  space\n"
            "  Acme  Corp  met  Bob  \n \nplain line")
ODD_HTML = (b"<html><body><p> leading</p><p>trailing </p>"
            b"<p>doubled  space &amp;  more</p><div>  both  </div>"
            b"</body></html>")


@pytest.fixture(scope="module")
def odd_pages(spark, kg_inputs):
    pages, _ = kg_inputs
    return pages.unionByName(spark.createDataFrame(
        [("http://odd.test/text", TS, None, ODD_TEXT, "en"),
         ("http://odd.test/html", TS, ODD_HTML, None, "en")],
        schema=PAGES))


@pytest.fixture(scope="module")
def kg_by_linker(spark, kg_inputs, odd_pages, tmp_path_factory):
    """linker -> (fresh KGResult, resumed KGResult, work dir)."""
    out = {}
    for linker in LINKERS:
        wd = tmp_path_factory.mktemp(f"kg_{linker}")
        runs = [_run_linker(spark, kg_inputs, odd_pages, wd, linker)
                for _ in range(2)]
        out[linker] = (*runs, wd)
    return out


def _run_linker(spark, kg_inputs, pages, wd, linker):
    _, aliases = kg_inputs
    rel = (spark.createDataFrame([], "qa string, qb string, w double")
           if linker == "coherent" else None)
    return run_kg_pipeline(spark, pages, aliases, synth.tagger_dictionary(),
                           str(wd), lang=None, linker=linker,
                           relatedness=rel)


@pytest.mark.parametrize("linker", LINKERS)
def test_kg_result_schema_unchanged(kg_by_linker, linker):
    fresh, resumed, _ = kg_by_linker[linker]
    for res in (fresh, resumed):
        for table, ddl in KG_RESULT.items():
            schema = getattr(res, table).schema
            assert schema.simpleString() == ddl, (table, schema)
            assert all(f.nullable for f in schema.fields), table


def _lines(df):
    return sorted((r["url"], r["sent_id"], r["sent_text"])
                  for r in df.select("url", "sent_id", "sent_text")
                  .collect())


def test_sent_text_readback_is_the_extractors_line(spark, kg_inputs,
                                                   odd_pages, kg_by_linker,
                                                   tmp_path):
    fresh, resumed, _ = kg_by_linker["exact"]
    want = _lines(extract_sentences(odd_pages, lang=None))
    odd = {t for u, _, t in want if u == "http://odd.test/text"}
    assert {" leading space", "trailing space ", "doubled  space",
            "  Acme  Corp  met  Bob  ", " "} <= odd
    assert _lines(fresh.sentences) == want
    assert _lines(resumed.sentences) == want

    _, aliases = kg_inputs
    html = run_kg_pipeline(spark, odd_pages, aliases,
                           synth.tagger_dictionary(), str(tmp_path / "h"),
                           lang=None, use_html=True)
    want = _lines(extract_sentences(odd_pages, lang=None, use_html=True))
    assert any(u == "http://odd.test/html" for u, _, _ in want)
    assert _lines(html.sentences) == want


@pytest.mark.parametrize("linker", LINKERS)
def test_linked_alias_norm_is_norm_surface(kg_inputs, kg_by_linker, linker):
    _, aliases = kg_inputs
    fresh, resumed, _ = kg_by_linker[linker]
    for res in (fresh, resumed):
        lk = res.linked
        assert lk.filter(~F.col("alias_norm").eqNullSafe(
            norm_surface(F.col("surface")))).count() == 0
        # a dictionary-linked mention's rebuilt alias_norm is the alias
        # the linker matched it on
        exact = lk.filter("prior > 0").select("alias_norm", "entity_id")
        assert exact.count() > 0
        assert exact.subtract(
            aliases.select("alias_norm", "entity_id")).count() == 0


# stage -> columns its read-back derives or joins in from an earlier
# stage, or (tagged) that an earlier stage already stores
NOT_STORED = {
    "sentences": {"sent_text"},
    "tagged": {"tokens"},
    "triples_raw": {"subj_surface", "subj_label", "obj_surface",
                    "obj_label"},
    "linked": {"alias_norm", "end", "surface", "label"},
}


@pytest.mark.parametrize("linker", LINKERS)
def test_stage_files_lack_derived_columns(kg_by_linker, linker):
    _, _, wd = kg_by_linker[linker]
    for stage, derived in NOT_STORED.items():
        parts = sorted((wd / stage).glob("part-*.parquet"))
        assert parts, stage
        for p in parts:
            assert not derived & set(pq.read_schema(p).names), p


def _rows(df, cols=None):
    return sorted(map(tuple, df.select(*(cols or df.columns)).collect()))


def _tagged(pages):
    """The ``tagged`` rows as the operators produce them, never stored."""
    return tag_sentences(extract_sentences(pages, lang=None),
                         synth.tagger_dictionary())


@pytest.mark.parametrize("linker", LINKERS)
def test_rebuilt_tables_equal_unstored_operator_output(spark, odd_pages,
                                                       kg_by_linker, linker):
    fresh, resumed, wd = kg_by_linker[linker]
    tagged = _tagged(odd_pages)
    triples_raw = _rows(extract_triples_local(tagged))
    mentions = _rows(extract_mentions(tagged))
    link_cols = spark.read.parquet(str(wd / "linked")).columns
    links = _table_rows(spark, wd, "linked")
    assert triples_raw and mentions and links
    for res in (fresh, resumed):
        assert _rows(res.triples_raw) == triples_raw
        # every mention is linked exactly once: its own columns come
        # from mentions, the link columns from the stored stage
        assert _rows(res.linked, MENTIONS.fieldNames()) == mentions
        assert _rows(res.linked, link_cols) == links


def test_work_dir_with_wide_stage_tables_resumes(spark, kg_inputs,
                                                 odd_pages, kg_by_linker,
                                                 tmp_path):
    """Stage tables written before their copied columns were dropped
    still hold them; a resume reads them with the narrow schema."""
    fresh, _, wd = kg_by_linker["exact"]
    old = tmp_path / "old"
    shutil.copytree(wd, old)
    wide = {"tagged": _tagged(odd_pages),
            "triples_raw": fresh.triples_raw,
            "linked": fresh.linked.drop("alias_norm")}
    for stage, df in wide.items():
        df.write.mode("overwrite").parquet(str(old / stage))
        assert set(df.columns) >= NOT_STORED[stage] - {"alias_norm"}
    files = _stage_files(old)

    res = _run_linker(spark, kg_inputs, odd_pages, old, "exact")
    assert _stage_files(old) == files
    for table in KG_RESULT:
        got, want = getattr(res, table), getattr(fresh, table)
        assert got.schema == want.schema, table
        assert _rows(got) == _rows(want), table


def _stage_inputs(monkeypatch, spark, kg_inputs, pages, wd, linker):
    """Rerun the pipeline into ``wd``; return the frame each stage was
    handed to write (stage -> DataFrame) and the ``KGResult``."""
    seen = {}
    orig = kg_pipeline.write_stage
    orig_cc = kg_pipeline.connected_components

    def spy(man, stage, df, *a, **k):
        seen[stage] = df
        return orig(man, stage, df, *a, **k)

    def cc_spy(edges, *a, **k):
        seen["cc_edges"] = edges
        return orig_cc(edges, *a, **k)

    monkeypatch.setattr(kg_pipeline, "write_stage", spy)
    monkeypatch.setattr(kg_pipeline, "connected_components", cc_spy)
    return seen, _run_linker(spark, kg_inputs, pages, wd, linker)


@pytest.mark.parametrize("linker", LINKERS)
def test_final_triples_stage_reads_no_mentions(spark, kg_inputs, odd_pages,
                                               kg_by_linker, monkeypatch,
                                               linker):
    """The joins that rebuild ``KGResult.linked``/``.triples_raw`` stay
    off the pipeline's own path: the final triples read the stored
    ``triples_raw`` and ``linked`` tables, not ``mentions``."""
    _, _, wd = kg_by_linker[linker]
    seen, res = _stage_inputs(monkeypatch, spark, kg_inputs, odd_pages, wd,
                              linker)

    def scans(df):
        return {Path(f).parent.name for f in df.inputFiles()}

    assert scans(seen["triples"]) == {"triples_raw", "linked", "components"}
    assert "mentions" in scans(res.linked)
    assert "mentions" in scans(res.triples_raw)


def test_pages_to_triples_raw_stages_are_exchange_free(spark, kg_inputs,
                                                       odd_pages,
                                                       kg_by_linker,
                                                       monkeypatch):
    """The frames the pipeline itself writes from ``pages`` up to
    ``triples_raw``, each built on the previous stage's read-back, plan
    no exchange: the map-only path that dominates at corpus scale."""
    _, _, wd = kg_by_linker["exact"]
    seen, _ = _stage_inputs(monkeypatch, spark, kg_inputs, odd_pages, wd,
                            "exact")
    for stage in ["sentences", "tagged", "mentions", "triples_raw"]:
        plan = seen[stage]._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (stage, plan)


def _operators(df):
    """Node names of ``df``'s executed plan, not descending into the
    plan a node holds inside it (a cached relation's own plan)."""
    names, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return names


def test_mentions_and_triples_raw_read_the_persisted_tagger_output(
        spark, kg_inputs, odd_pages, tmp_path, monkeypatch):
    """On a fresh run the tagger is planned once: ``mentions`` and
    ``triples_raw`` are written from an in-memory scan of its persisted
    output, with no mapInArrow of their own, and the cache is dropped
    once ``triples_raw`` is written."""
    seen, ops = {}, {}
    orig = kg_pipeline.write_stage

    def spy(man, stage, df, *a, **k):
        if stage in ("mentions", "triples_raw"):
            seen[stage], ops[stage] = df, _operators(df)
        return orig(man, stage, df, *a, **k)

    monkeypatch.setattr(kg_pipeline, "write_stage", spy)
    _run_linker(spark, kg_inputs, odd_pages, tmp_path / "wd", "exact")
    for stage, names in ops.items():
        assert "InMemoryTableScan" in names, (stage, names)
        assert "MapInArrow" not in names, (stage, names)
        # a new plan over the same frame finds no cache left
        assert "MapInArrow" in _operators(seen[stage].select("*")), stage
    assert set(ops) == {"mentions", "triples_raw"}


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("linker", LINKERS)
def test_linked_and_cc_read_the_link_barriers(spark, kg_inputs, odd_pages,
                                              kg_by_linker, monkeypatch,
                                              linker):
    """The alias dimension and the residual match table are built once:
    ``linked`` is written from one scan of ``mentions``, and neither the
    CC edges nor the ``components`` frame plan the residual MinHash-LSH
    again (no md5 over shingles; they read the barriers)."""
    _, _, wd = kg_by_linker[linker]
    seen, _ = _stage_inputs(monkeypatch, spark, kg_inputs, odd_pages, wd,
                            linker)
    for key in ("cc_edges", "components"):
        assert "md5" not in _plan(seen[key]), (key, _plan(seen[key]))
    scans = [ln for ln in _plan(seen["linked"]).splitlines()
             if "FileScan" in ln and f"{wd / 'mentions'}]" in ln]
    assert len(scans) == 1, _plan(seen["linked"])
