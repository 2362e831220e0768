"""Metric arithmetic shared by both workloads."""

from __future__ import annotations

import statistics
from pathlib import Path


def f1(pred: set, gold: set) -> tuple[float, float, float]:
    """(precision, recall, F1) of a predicted set against a gold set.
    An empty side scores 0 rather than dividing by zero."""
    tp = len(pred & gold)
    p = tp / len(pred) if pred else 0.0
    r = tp / len(gold) if gold else 0.0
    return p, r, (2 * p * r / (p + r) if p + r else 0.0)


def tree_bytes(path: Path) -> int:
    """Bytes of every regular file under ``path`` (hidden files and
    Spark's ``.crc`` sidecars included: they are stored bytes too)."""
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


#: the end-to-end metrics BENCHMARK.json bounds.  ``job_s`` and
#: ``cpu_s_per_krow`` go to the run record instead: CPU steal on the host
#: moves them by up to 2x between identical runs (NOTES.md, "Run-to-run
#: spread").
GATED = ("stored_bytes_per_input_byte", "gold_f1", "setup_s")


def end_to_end(jobs: list[dict], input_rows: int, input_bytes: int,
               setup_s: float) -> dict:
    """The end-to-end figures of one run from its per-job records
    (``wall_s``, ``cpu_s``, ``stored_bytes``, ``gold_f1``), as medians
    over the timed jobs.  Peak RSS is not among them: it swings ±30%
    between identical runs (NOTES.md, "Peak RSS"), so it is reported in
    the run record and the traced run instead."""
    med = lambda k: statistics.median(j[k] for j in jobs)  # noqa: E731
    return {
        "job_s": (med("wall_s"), "s"),
        "cpu_s_per_krow": (
            statistics.median(j["cpu_s"] for j in jobs)
            / (input_rows / 1000), "s/krow"),
        "stored_bytes_per_input_byte": (
            med("stored_bytes") / input_bytes, "ratio"),
        "gold_f1": (med("gold_f1"), "ratio"),
        "setup_s": (setup_s, "s"),
    }
