"""Self-tests of the benchmark (no Spark session):

    python -m pytest pipebench -q
"""

from __future__ import annotations

import filecmp
import json
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq
import pytest

import layers
import procfs
import stats
from assemble import Workload as Assemble
from kg_crawl import Workload as KgCrawl


def _files(d):
    return sorted(p.relative_to(d) for p in d.rglob("*") if p.is_file())


@pytest.mark.parametrize("cls", [KgCrawl, Assemble])
def test_same_seed_same_bytes_other_seed_other_inputs(cls, tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        cls(tmp_path / name).generate(seed, 0.02)
    a, b, c = (tmp_path / n for n in "abc")
    assert _files(a) == _files(b) and _files(a)
    _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert not mismatch and not errors
    inp = cls.input_table
    assert pq.read_table(a / inp) != pq.read_table(c / inp)


def test_kg_gold_matches_the_extracted_sentences(tmp_path):
    """Gold mention offsets index the tokens the program's html
    extractor recovers, line by line."""
    from ner_extractor_spark.operators.html import extract_text

    from kg_crawl import generate
    t = generate(3, 200)
    pages = t["pages"].to_pydict()
    sents = {}
    for url, html, lang in zip(pages["url"], pages["html"], pages["lang"]):
        for sid, line in enumerate(extract_text(html).split("\n")):
            sents[(url, sid)] = line.split(" ")
    g = t["gold"].to_pydict()
    assert len(g["url"]) > 100
    for url, sid, s, e in zip(g["url"], g["sent_id"], g["start"], g["end"]):
        toks = sents[(url, sid)][s:e + 1]
        assert toks and all(tok[:1].isupper() for tok in toks)


def test_assemble_plants_exact_shares():
    from assemble import SHARES, generate
    t = generate(1, 1000)
    assert t["docs"].num_rows == 1000
    assert t["gold"].num_rows == sum(pct for _, pct in SHARES) * 10


def test_parse_stat_survives_odd_command_names():
    line = ("42 (a) b (c)) S 7 1 1 0 -1 0 0 0 0 0 11 13 17 19 20 0 1 0 "
            "99 4096 250 0")
    assert procfs.parse_stat(line) == (7, 11 + 13 + 17 + 19, 250)


_BURN = """
import time
buf = bytearray(64 * 1024 * 1024)
for i in range(0, len(buf), 4096):
    buf[i] = 1
t = time.process_time()
while time.process_time() - t < 0.6:
    pass
time.sleep(0.5)
"""


def test_tree_monitor_counts_a_child_that_exits_inside_the_window():
    mon = procfs.TreeMonitor(interval=0.05).start()
    before = procfs.sample_tree(mon.root).rss_bytes
    child = subprocess.Popen([sys.executable, "-c", _BURN])
    child.wait(timeout=30)               # reaped: its CPU moves to cutime
    usage = mon.stop()
    assert 0.55 <= usage["cpu_s"] < 5.0
    assert usage["peak_rss_bytes"] - before >= 60 * 1024 * 1024
    assert 0.0 <= usage["steal_share"] <= 1.0
    assert usage["loadavg_mean"] >= 0.0


def test_tree_excludes_processes_outside_the_tree():
    stats_ = {1: (0, 5, 1), 10: (1, 7, 2), 11: (10, 3, 4), 20: (1, 100, 8)}
    assert sorted(procfs.tree(stats_, 10)) == [10, 11]


def test_f1_and_end_to_end_arithmetic():
    assert stats.f1({1, 2, 3, 4}, {3, 4, 5}) == pytest.approx(
        (0.5, 2 / 3, 4 / 7))
    assert stats.f1(set(), {1}) == (0.0, 0.0, 0.0)
    jobs = [{"wall_s": w, "cpu_s": c, "peak_rss_bytes": r,
             "stored_bytes": 300, "gold_f1": 0.9}
            for w, c, r in ((10.0, 40.0, 2e9), (12.0, 44.0, 3e9),
                            (30.0, 48.0, 1e9))]
    m = stats.end_to_end(jobs, input_rows=4000, input_bytes=100,
                         setup_s=7.5)
    assert m["job_s"] == (12.0, "s")
    assert m["cpu_s_per_krow"] == (11.0, "s/krow")
    assert m["stored_bytes_per_input_byte"] == (3.0, "ratio")
    assert m["gold_f1"] == (0.9, "ratio")
    assert m["setup_s"] == (7.5, "s")


def test_printed_metrics_match_benchmark_json():
    spec = json.loads((Path(__file__).resolve().parent.parent
                       / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(stats.GATED)
    assert ([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
            == layers.metric_specs())


def test_layer_metrics_attribute_jobs_and_wall_time_by_span():
    t0 = time.time()

    def at(name, start, end, children=()):
        s = layers.Span(name, t0 + start, t0 + end)
        s.children = list(children)
        return s

    job = at("job", 0, 10, [
        at("call:full_web_verdict", 0.5, 4),
        at("write_stage:verdict", 4, 7, [
            at("table:verdict", 4.2, 5.5),
            at("lineage:", 5.6, 6.6)]),
        at("write_stage:packed", 7, 9.5, [at("table:packed", 7.1, 9)]),
    ])
    jobs = [layers.SparkJob(t0 + 1, [1, 2]),   # web_verdict, thread-launched
            layers.SparkJob(t0 + 4.5, [3]),    # verdict table write
            layers.SparkJob(t0 + 6.0, [4]),    # lineage pass
            layers.SparkJob(t0 + 6.8, [5]),    # write_stage's own code
            layers.SparkJob(t0 - 2.0, [6])]    # warm-up
    st = {i: {"task_s": float(i), "shuffle_bytes": 1e6 * i,
              "spill_bytes": 0.0, "python_bytes": 0.0} for i in range(1, 7)}
    out = layers.layer_metrics(job, (t0 - 5, t0 - 0.5), jobs, st,
                               {"verdict": 500, "packed": 80}, 2_000_000,
                               {"packing.fill": 0.9})
    assert out["web_verdict.wall_s"] == pytest.approx(3.5 + 1.3)
    assert out["web_verdict.jobs"] == 2
    assert out["web_verdict.task_s"] == pytest.approx(1 + 2 + 3)
    assert out["web_verdict.shuffle_mb"] == pytest.approx(6.0)
    assert out["packing.wall_s"] == pytest.approx(1.9)
    assert out["checkpoints.lineage_s"] == pytest.approx(1.0)
    assert out["checkpoints.lineage_jobs"] == 1
    assert out["checkpoints.jobs"] == 2
    # write_stage self time (3 - 1.3 - 1.0) + (2.5 - 1.9) + lineage 1.0
    assert out["checkpoints.wall_s"] == pytest.approx(0.7 + 0.6 + 1.0)
    assert out["driver.gap_s"] == pytest.approx(10 - 4.8 - 1.9 - 2.3)
    assert out["session.jobs"] == 1 and out["session.task_s"] == 6.0
    assert out["session.wall_s"] == pytest.approx(4.5)
    assert out["web_verdict.rows_out"] == 500
    assert out["packing.rows_out"] == 80
    assert out["checkpoints.stage_mb"] == 2.0
    assert out["ner.wall_s"] == 0.0 and out["packing.fill"] == 0.9
    assert set(out) == {n for n, _, _ in layers.metric_specs()}
