"""Quantile aggregate with an exact and a scale-safe approximate mode
(VERDICT r05 #1).

Every calibration cut in this repo (curation thresholds, CCNet
perplexity tiers, classifier keep-rate operating point) is a quantile
over a corpus-sized per-document score table.  Two aggregation modes:

* exact (``percentile``): sort-based interpolated percentile — the
  DuckDB ``quantile_cont`` twin, bit-matching at round(·, 6), which is
  what the oracle contract pins.  Spark implements it by buffering
  EVERY group value inside ONE aggregation buffer, i.e. a single task
  materializes O(n-rows-in-group) doubles — fine at sandbox scale,
  an executor OOM / straggler by construction at 10⁹–10¹² documents
  (and for grouped calibration the dominant group IS corpus-sized).

* approx (``approx_percentile``): Greenwald-Khanna quantile summaries —
  bounded ~O(ACCURACY · log n) state per partial aggregate, map-side
  combined and MERGEABLE like any algebraic aggregate, so no task ever
  holds the group.  Returns an actual observed value whose rank is
  within n/ACCURACY of the target rank (no interpolation).  This is
  the at-scale production default; exact remains the oracle/parity
  mode.  Exact-vs-approx cut agreement on the sandbox corpus is
  pinned within tolerance in tests/test_curation.py.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: ``approx_percentile`` accuracy of every approximate cut (Spark's
#: default): rank error n/10000, state ~O(10000 · log n) per partial
ACCURACY = 10000

def quantile_agg(col: str | Column, q: float,
                 approx: bool = False) -> Column:
    """Aggregate expression for the ``q``-quantile of ``col``.

    ``approx=False`` -> exact interpolated ``percentile`` (single-buffer
    memory bound — see module docstring); ``approx=True`` ->
    ``approx_percentile(col, q, ACCURACY)`` (mergeable bounded state,
    the at-scale mode)."""
    c = F.col(col) if isinstance(col, str) else col
    if approx:
        return F.approx_percentile(c, F.lit(q), F.lit(ACCURACY))
    return F.percentile(c, F.lit(q))
