"""The traced run: spans around the calls into each layer, and Spark's
event log, folded into per-layer metrics.

Spans are recorded from this benchmark's own wrappers around the plan
modules' ``write_stage``, the operator calls the plans make (the eager
``connected_components``, ``full_web_verdict``,
``remove_exact_substrings``, ``chunk_documents`` and ``pack_sequences``,
and the lazy KG constructors, whose time is plan analysis on the driver)
and ``DataFrameWriter.parquet``, which splits each stage's table write
from its ``_lineage`` append by path.  Spans stay in memory.

Spark jobs are attributed to the innermost span that was open when the
job was submitted.  Job descriptions would not work: they are
thread-local, and the curation chains launch jobs from their own
threads.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

#: stage table -> layer that produces it
STAGE_LAYER = {
    "sentences": "extract", "tagged": "ner", "mentions": "spans",
    "triples_raw": "triples", "linked": "link", "components": "cc",
    "triples": "kg_pipeline", "verdict": "web_verdict",
    "cleaned": "exact_substr", "chunks": "packing", "packed": "packing",
}
#: operator call -> layer: the eager ones run Spark jobs, the lazy ones
#: build (and analyse) the layer's plan on the driver
CALL_LAYER = {
    "extract_sentences": "extract", "tag_sentences": "ner",
    "extract_mentions": "spans", "extract_triples_local": "triples",
    "link_exact": "link", "unlinked": "link", "lsh_candidates": "link",
    "best_alias_rows": "link",
    "connected_components": "cc", "full_web_verdict": "web_verdict",
    "remove_exact_substrings": "exact_substr",
    "chunk_documents": "packing", "pack_sequences": "packing",
}
#: the stage whose row count is a layer's ``rows_out``
LAYER_ROWS = {"extract": "sentences", "ner": "tagged", "spans": "mentions",
              "triples": "triples_raw", "link": "linked", "cc": "components",
              "kg_pipeline": "triples", "web_verdict": "verdict",
              "exact_substr": "cleaned", "packing": "packed"}
STAGE_LAYERS = tuple(LAYER_ROWS)
STAGE_METRICS = (("wall_s", "s", "lower"), ("task_s", "s", "lower"),
                 ("jobs", "count", "lower"), ("shuffle_mb", "MB", "lower"),
                 ("spill_mb", "MB", "lower"), ("rows_out", "count", "higher"))
EXTRA_METRICS = (
    ("extract.python_mb", "MB", "lower"), ("ner.python_mb", "MB", "lower"),
    ("link.linked_share", "ratio", "higher"),
    ("web_verdict.keep_share", "ratio", "higher"),
    ("exact_substr.removed_share", "ratio", "higher"),
    ("packing.fill", "ratio", "higher"),
    ("checkpoints.wall_s", "s", "lower"), ("checkpoints.task_s", "s", "lower"),
    ("checkpoints.jobs", "count", "lower"),
    ("checkpoints.lineage_s", "s", "lower"),
    ("checkpoints.lineage_jobs", "count", "lower"),
    ("checkpoints.stage_mb", "MB", "lower"),
    ("driver.gap_s", "s", "lower"),
    ("session.wall_s", "s", "lower"), ("session.task_s", "s", "lower"),
    ("session.jobs", "count", "lower"),
    ("job.wall_s", "s", "lower"),
    ("job.cpu_s_per_krow", "s/krow", "lower"),
    ("job.peak_rss_mb", "MB", "lower"),
)
PYTHON_BYTES = ("data sent to Python workers",
                "data returned from Python workers")


def metric_specs() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    return [(f"{layer}.{m}", unit, better) for layer in STAGE_LAYERS
            for m, unit, better in STAGE_METRICS] + list(EXTRA_METRICS)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        return self.wall - sum(c.wall for c in self.children)

    def innermost(self, t: float) -> "Span | None":
        if not self.start <= t <= self.end:
            return None
        for c in self.children:
            hit = c.innermost(t)
            if hit is not None:
                return hit
        return self


def span_layer(span: Span) -> str:
    kind, _, what = span.name.partition(":")
    if kind == "table":
        return STAGE_LAYER.get(what, "driver")
    if kind == "call":
        return CALL_LAYER[what]
    if kind in ("lineage", "write_stage"):
        return "checkpoints"
    return "driver"


class Tracer:
    """Records spans while installed; writes nothing until asked."""

    def __init__(self, log_dir: Path):
        self.log_dir = Path(log_dir)
        self.log_dir.mkdir(parents=True, exist_ok=True)
        self._stack: list[Span] = []
        self.roots: list[Span] = []
        self._undo: list[tuple] = []

    def spark_conf(self) -> dict:
        # uncompressed, so the log can be read without a zstd codec
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.log_dir.as_uri()}

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time())
        (self._stack[-1].children if self._stack else self.roots).append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def _wrap(self, owner, attr: str, namer) -> None:
        orig = getattr(owner, attr)

        def wrapper(*a, **k):
            with self.span(namer(*a, **k)):
                return orig(*a, **k)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the layer entry points.  Only the driver thread's calls
        are spanned: every wrapped call is made from it."""
        from pyspark.sql.readwriter import DataFrameWriter

        import ner_extractor_spark.operators.link as link
        import ner_extractor_spark.plans.curation_pipeline as cp
        import ner_extractor_spark.plans.kg_pipeline as kg

        for mod in (kg, cp):
            self._wrap(mod, "write_stage",
                       lambda man, stage, *a, **k: f"write_stage:{stage}")
        for mod, names in (
                (kg, ("extract_sentences", "tag_sentences",
                      "extract_mentions", "extract_triples_local",
                      "link_exact", "unlinked", "lsh_candidates",
                      "connected_components")),
                # imported inside run_kg_pipeline, so wrapped at its source
                (link, ("best_alias_rows",)),
                (cp, ("full_web_verdict", "remove_exact_substrings",
                      "chunk_documents", "pack_sequences"))):
            for f in names:
                self._wrap(mod, f, lambda *a, _f=f, **k: f"call:{_f}")
        self._wrap(DataFrameWriter, "parquet",
                   lambda w, path, *a, **k:
                   "lineage:" if Path(path).name == "_lineage"
                   else f"table:{Path(path).name}")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


@dataclass
class SparkJob:
    submitted: float
    stages: list[int]


def read_event_log(log_dir: Path) -> tuple[list[SparkJob], dict[int, dict]]:
    """Jobs (submission time, stage ids) and per-stage totals
    (``task_s``, ``shuffle_bytes``, ``spill_bytes``, ``python_bytes``)
    from the application's event log under ``log_dir``: one file, or the
    ``events_<n>_*`` parts of a rolling log, read in part order."""
    parts = sorted(Path(log_dir).rglob("events_*"),
                   key=lambda p: int(p.name.split("_")[1]))
    if not parts:
        parts = [p for p in Path(log_dir).iterdir() if p.is_file()]
    if not parts:
        raise RuntimeError(f"no event log under {log_dir}")
    jobs, stages = [], {}
    for line in _lines(parts):
        if '"SparkListenerJobStart"' in line[:40]:
            e = json.loads(line)
            jobs.append(SparkJob(e["Submission Time"] / 1000, e["Stage IDs"]))
        elif '"SparkListenerStageCompleted"' in line[:40]:
            info = json.loads(line)["Stage Info"]
            acc = {a["Name"]: a.get("Value", 0)
                   for a in info.get("Accumulables", [])}
            stages[info["Stage ID"]] = {
                "task_s": _num(acc, "internal.metrics.executorRunTime") / 1000,
                "shuffle_bytes":
                    _num(acc, "internal.metrics.shuffle.write.bytesWritten"),
                "spill_bytes": _num(acc, "internal.metrics.diskBytesSpilled"),
                "python_bytes": sum(_num(acc, k) for k in PYTHON_BYTES),
            }
    return jobs, stages


def _lines(parts):
    for part in parts:
        with open(part) as f:
            yield from f


def _num(acc: dict, name: str) -> float:
    """An accumulable's value; absent means the stage never touched it."""
    return float(acc.get(name) or 0)


def layer_metrics(job: Span, setup: tuple[float, float],
                  jobs: list[SparkJob], stages: dict[int, dict],
                  rows: dict[str, int], stage_bytes: int,
                  extras: dict[str, float]) -> dict[str, float]:
    """Fold the spans of one traced pipeline call, the Spark jobs and
    stage totals, and the ``_lineage`` row counts into every per-layer
    metric (0 for a layer the workload does not run)."""
    out = {name: 0.0 for name, _, _ in metric_specs()}

    def add(layer: str, metric: str, v: float) -> None:
        key = f"{layer}.{metric}"
        if key in out:
            out[key] += v

    def walk(s: Span) -> None:
        layer = span_layer(s)
        if s is not job:
            add(layer, "wall_s", s.self_time() if layer == "checkpoints"
                else s.wall)
        if s.name == "lineage:":
            add("checkpoints", "lineage_s", s.wall)
        if layer != "checkpoints" and s is not job:
            return                       # a layer span owns its subtree
        for c in s.children:
            walk(c)

    walk(job)
    for j in jobs:
        if job.start <= j.submitted <= job.end:
            s = job.innermost(j.submitted)
            layer = span_layer(s)
            # a job launched in a write_stage's own code (its manifest
            # or re-read) belongs to checkpoints, as does the lineage pass
            add(layer, "jobs", 1)
            if s.name == "lineage:":
                add("checkpoints", "lineage_jobs", 1)
            for st in j.stages:
                t = stages.get(st)
                if t is None:
                    continue             # skipped: its shuffle was reused
                add(layer, "task_s", t["task_s"])
                add(layer, "shuffle_mb", t["shuffle_bytes"] / 1e6)
                add(layer, "spill_mb", t["spill_bytes"] / 1e6)
                add(layer, "python_mb", t["python_bytes"] / 1e6)
        elif setup[0] <= j.submitted <= setup[1]:
            out["session.jobs"] += 1
            out["session.task_s"] += sum(stages[st]["task_s"]
                                         for st in j.stages if st in stages)
    for layer, stage in LAYER_ROWS.items():
        out[f"{layer}.rows_out"] = float(rows.get(stage, 0))
    out["checkpoints.stage_mb"] = stage_bytes / 1e6
    out["session.wall_s"] = setup[1] - setup[0]
    out["job.wall_s"] = job.wall
    out["driver.gap_s"] = job.wall - sum(
        out[f"{layer}.wall_s"] for layer in STAGE_LAYERS + ("checkpoints",))
    out.update(extras)
    return out
