"""BIO tags -> entity mentions (SURVEY F1/§7.1 M2).

``span_decode_expr`` is a pure Spark SQL higher-order-function
expression over the tag array: decoding happens inside whole-stage
codegen with ZERO shuffle and zero Python; at 100 TB this is the
difference between a map-only stage and an explode+window shuffle of
10^13 token rows.  Its semantics (seqeval-lenient IOB2) are pinned
against the pure-Python reference ``functions/bio.get_entities`` in
tests/test_bio_spans.py.

Mention rows carry INCLUSIVE end (seqeval convention, reference
``src/augmentation.py:154-160``); surface = ' '.join(tokens[start:end+1])
computed with built-in slice/concat_ws (SURVEY F7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Boundary predicate (seqeval-lenient, B/I/O tag alphabet):
# a span STARTS at i iff tag != O and (B-prefix, first position, previous
# tag O, or previous type differs).  A position j is a BOUNDARY (ends the
# span before it) iff tag[j]=O or a span starts at j.
# ANSI-safe: positions come from transform(tags, (x,i) -> i) (empty for
# empty arrays) and all lookbacks use null-tolerant get().
_DECODE_SQL = """
transform(
  filter(transform({t}, (x_, i_) -> i_), i ->
    get({t}, i) != 'O' AND (
      left(get({t}, i), 1) = 'B' OR i = 0 OR get({t}, i-1) = 'O'
      OR substring(get({t}, i-1), 3) != substring(get({t}, i), 3)
    )
  ),
  s -> named_struct(
    'label', substring(get({t}, s), 3),
    'start', s,
    'end', coalesce(
      array_min(filter(transform({t}, (x_, j_) -> j_), j ->
        j > s AND (
          get({t}, j) = 'O' OR left(get({t}, j), 1) = 'B' OR get({t}, j-1) = 'O'
          OR substring(get({t}, j-1), 3) != substring(get({t}, j), 3)
        )
      )),
      size({t})
    ) - 1
  )
)
"""


def span_decode_expr(tags_col: str = "pred_tags") -> Column:
    """array<string> BIO tags -> array<struct<label,start,end>> (codegen)."""
    return F.expr(_DECODE_SQL.format(t=tags_col))


def extract_mentions(tagged: DataFrame, tags_col: str = "pred_tags") -> DataFrame:
    """(url, sent_id, tokens, <tags>) -> mentions table.

    explode is the only row-expanding step; everything stays map-side.
    """
    return (
        tagged
        .select(
            "url", "sent_id", "tokens",
            F.explode(span_decode_expr(tags_col)).alias("m"),
        )
        .select(
            "url", "sent_id",
            F.col("m.start").alias("start"),
            F.col("m.end").alias("end"),
            F.concat_ws(
                " ",
                F.slice(F.col("tokens"), F.col("m.start") + 1,
                        F.col("m.end") - F.col("m.start") + 1),
            ).alias("surface"),
            F.col("m.label").alias("label"),
        )
    )
