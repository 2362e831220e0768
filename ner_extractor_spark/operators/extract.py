"""pages -> sentences (SURVEY §7.1 M1, reference parser semantics S1/F9).

Declarative-first: the reference serializes sentences as tokens joined by
single spaces, one sentence per line (SURVEY §1.5) — so extraction is
exactly ``split('\\n')`` + ``split(' ')``, which stays entirely inside
whole-stage codegen (no Python, no shuffle; byte-parity round-trip is
``concat_ws`` of the same splits, pinned in tests/test_extract.py).

For pages that only carry raw ``html`` (text column null), the
``text_from_html`` vectorized pandas UDF recovers the text via the REAL
markup-aware extractor (``operators/html.py``: script/style/head
subtree removal, entity decoding, block-level line boundaries — not a
regex tag strip, which leaks script bodies and keeps entities escaped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .html import html_to_text as text_from_html  # noqa: F401 (re-export)


def extract_sentences(pages: DataFrame, lang: str | None = "en",
                      use_html: bool = False) -> DataFrame:
    """pages -> (url, sent_id, tokens, sent_text).

    * lang filter is a plain pushed-down predicate (P10).
    * `html` is never touched unless ``use_html`` — column pruning keeps
      the binary out of the scan (SURVEY §4.2).
    * sent_id is the 0-based line index per url (SURVEY W2) — assigned by
      posexplode, NOT a window, so there is no shuffle here at all.
    * ``sent_text`` is exactly ``concat_ws(" ", tokens)``, leading,
      trailing and doubled spaces included (pinned in
      tests/test_extract.py).  The KG ``sentences`` stage therefore
      stores ``tokens`` only and rebuilds ``sent_text`` on its read-back
      (``plans/kg_pipeline.py``).
    """
    df = pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    text = text_from_html(F.col("html")) if use_html else F.col("text")
    return (
        df.select("url", F.posexplode(F.split(text, "\n")).alias("sent_id", "sent_text"))
        .filter(F.length("sent_text") > 0)
        .select(
            "url",
            F.col("sent_id").cast("int").alias("sent_id"),
            F.split("sent_text", " ").alias("tokens"),
            "sent_text",
        )
    )
