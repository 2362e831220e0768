"""The full web-pipeline keep/drop verdict — URL gates → calibrated
curation chain → classifier probability gate — as ONE reusable
operator, so the batch contract query and the streaming foreachBatch
path run the identical composition (VERDICT r04 #7).

Rule precedence (first violation wins, pinned in tests/test_curation):

  1. blocked_domain   (suffix-chain match against the domain blocklist)
  2. blocked_term     (lowercased-url substring match)
  3. the curation chain's own order (quality rules, exact_duplicate,
     dup_ngrams, lm_low_quality — operators/curation.curate_corpus)
  4. classifier_low   (hashed linear classifier prob < threshold)

Scale shape: the gates are a zero-shuffle map over the url column
(literal blocklists; a DataFrame blocklist moves to webfilter's
broadcast suffix semi-join), the curation chain shares ONE score
computation between calibration and verdict (calibrated_curation's
localCheckpoint barrier — VERDICT r04 #2), and the classifier is an
explode → broadcast-weights join → one doc-keyed aggregate.  The
final assembly is equi-joins on the maximal-cardinality document id —
skew-free.  ``classify_docs`` is TOTAL over its input (zero-term
documents score the bias), so the inner joins lose no rows
(ADVICE r04: a whitespace-only document must still get its verdict —
here it trips the 'too_short' quality rule rather than vanishing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .classifier import classify_docs
from .curation import calibrated_curation, curate_corpus
from .webfilter import host_suffixes, url_host


def full_web_verdict(docs: DataFrame, weights: DataFrame, *,
                     url_col: str = "url", id_col: str = "doc_id",
                     text_col: str = "text",
                     blocked_domains: tuple[str, ...] = (),
                     blocked_terms: tuple[str, ...] = (),
                     cls_threshold: float = 0.5,
                     lm_quantile: float = 0.05,
                     dup_quantile: float = 0.95,
                     dup_threshold: float | None = None,
                     lm_threshold: float | None = None,
                     approx: bool = False,
                     near: DataFrame | bool = False,
                     cls_keep: DataFrame | None = None,
                     curation: DataFrame | None = None) -> DataFrame:
    """(id_col, keep, reason) — one first-violation verdict row per
    input document.

    Threshold modes (mirrors ``streaming.curation_stream``): pass BOTH
    scalar ``dup_threshold``/``lm_threshold`` for frozen production
    gating (the streaming default — calibrate offline, freeze the
    cuts), or NEITHER for corpus-local calibration via
    ``calibrated_curation`` (single shared score pass).  Passing only
    one is ambiguous and rejected.

    Scale knobs, threaded through the whole composition (VERDICT r05
    #1/#3): ``approx=True`` switches every calibration quantile to
    mergeable ``approx_percentile`` state (the at-scale mode — exact
    is the oracle-parity default);
    ``near=True`` (or a precomputed (id, nd_keeper) table) inserts the
    MinHash near-duplicate rule into the curation chain.

    ``cls_keep`` makes the classifier gate PLUGGABLE (r06): pass any
    (id_col, cls_keep boolean) table — e.g. ``perceptron_scores`` over
    weights learned by ``train_perceptron`` — and the 'classifier_low'
    rule fires on ``NOT cls_keep`` instead of the built-in hashed
    linear scorer's ``prob < cls_threshold``.  The gate table must be
    TOTAL over the input (both built-ins are).

    ``curation`` makes the curation chain pluggable the same way
    (r07): pass a precomputed (id_col, keep, reason) table — e.g.
    ``calibrated_curation`` run on a separate driver thread while a
    gate model trains (guide §2.6 overlap-independent-jobs) — and the
    chain is consumed as-is instead of being built here.  Must be
    TOTAL over the input and use the curate_corpus reason codes."""
    if (dup_threshold is None) != (lm_threshold is None):
        raise ValueError("pass both scalar thresholds (frozen mode) "
                         "or neither (corpus-local calibration)")
    url = F.col(url_col)
    if blocked_domains:
        dom_hit = F.arrays_overlap(
            host_suffixes(url_host(url)),
            F.array(*[F.lit(d.lower()) for d in blocked_domains]))
    else:
        dom_hit = F.lit(False)
    if blocked_terms:
        term_hit = F.exists(
            F.array(*[F.lit(t.lower()) for t in blocked_terms]),
            lambda t: F.contains(F.lower(url), t))
    else:
        term_hit = F.lit(False)
    gates = docs.select(F.col(id_col), dom_hit.alias("_domb"),
                        term_hit.alias("_termb"))
    if curation is not None:
        cur = curation
    elif dup_threshold is None:
        cur = calibrated_curation(docs, id_col=id_col, text_col=text_col,
                                  lm_quantile=lm_quantile,
                                  dup_quantile=dup_quantile,
                                  approx=approx, near=near)
    else:
        cur = curate_corpus(docs, id_col=id_col, text_col=text_col,
                            dup_threshold=dup_threshold,
                            lm_threshold=lm_threshold, near=near)
    cur = cur.select(id_col, F.col("reason").alias("_cr"))
    if cls_keep is not None:
        cls = cls_keep.select(F.col(id_col), F.col("cls_keep"))
        cls_fail = ~F.col("cls_keep")
    else:
        cls = (classify_docs(docs, weights, id_col=id_col,
                             text_col=text_col)
               .select(F.col("doc_id").alias(id_col), "prob"))
        cls_fail = F.col("prob") < cls_threshold
    j = gates.join(cur, id_col).join(cls, id_col)
    reason = (F.when(F.col("_domb"), F.lit("blocked_domain"))
              .when(F.col("_termb"), F.lit("blocked_term"))
              .when(F.col("_cr") != "ok", F.col("_cr"))
              .when(cls_fail, F.lit("classifier_low"))
              .otherwise(F.lit("ok")))
    return j.select(id_col, (reason == "ok").alias("keep"),
                    reason.alias("reason"))
