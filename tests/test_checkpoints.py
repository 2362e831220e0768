"""write_stage failure paths (plans/checkpoints.py): a crash after the
table commit resumes to the uninterrupted run's tables, and lineage
counts every stage exactly once."""

from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ner_extractor_spark import synth
from ner_extractor_spark.plans.checkpoints import (StageManifest,
                                                   read_lineage, write_stage)
from ner_extractor_spark.plans.kg_pipeline import run_kg_pipeline
from ner_extractor_spark.schemas import ALIASES, PAGES

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


@pytest.mark.parametrize("crash_at", ["linked", "triples"])
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
