"""The BIO tag algebra (SURVEY.md §2.7) — pure-Python core, shared by the
Spark UDFs, the fixture generator, and the tests.

Span decoding reproduces the public ``seqeval.metrics.sequence_labeling
.get_entities`` IOB2-lenient semantics exactly (the reference's scoring
authority — used at reference ``DistilBERT-CRF/src/metrics.py:62-69`` and
``src/augmentation.py:154-160``).  seqeval is not installed in this
environment, so the chunk-boundary rules are implemented anew from the
published algorithm; tests/test_bio_spans.py pins the adversarial edge
cases (orphan I-, type switches, span at sequence end, ...).

Key facts pinned by tests:
  * ``I-X`` after ``O`` or after a different type STARTS a new span
    (lenient IOB2 — differs from the notebook's greedy extractor which
    drops orphan ``I-``; we standardise on seqeval per SURVEY F1/F2).
  * spans are (type, start, end) with *inclusive* end indices.
  * label order for id assignment is plain ``sorted()`` over observed
    labels (reference ``src/data_module.py:30-40``).
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

# Canonical CoNLL-2003 label vocabulary, frozen (FIXTURES.md §3).  Sorted
# order == id order, exactly as the reference derives it.
CANONICAL_LABELS: List[str] = [
    "B-LOC", "B-MISC", "B-ORG", "B-PER",
    "I-LOC", "I-MISC", "I-ORG", "I-PER", "O",
]
LABEL_TO_ID = {label: i for i, label in enumerate(CANONICAL_LABELS)}
ID_TO_LABEL = {i: label for i, label in enumerate(CANONICAL_LABELS)}


def _split_tag(chunk: str) -> Tuple[str, str]:
    """Split a BIO tag into (prefix, type); 'O' -> ('O', '_')."""
    tag = chunk[0] if chunk else "O"
    type_ = chunk[1:].split("-", maxsplit=1)[-1] or "_"
    return tag, type_


def _end_of_chunk(prev_tag: str, tag: str, prev_type: str, type_: str) -> bool:
    if prev_tag in ("E", "S"):
        return True
    if prev_tag == "B" and tag in ("B", "S", "O"):
        return True
    if prev_tag == "I" and tag in ("B", "S", "O"):
        return True
    if prev_tag not in ("O", ".") and prev_type != type_:
        return True
    return False


def _start_of_chunk(prev_tag: str, tag: str, prev_type: str, type_: str) -> bool:
    if tag in ("B", "S"):
        return True
    if prev_tag in ("E", "S") and tag in ("E", "I"):
        return True
    if prev_tag == "O" and tag in ("E", "I"):
        return True
    if tag not in ("O", ".") and prev_type != type_:
        return True
    return False


def get_entities(seq: Sequence[str]) -> List[Tuple[str, int, int]]:
    """Decode (type, start, end_inclusive) spans from a BIO tag sequence.

    Bit-parity reimplementation of seqeval's ``get_entities`` (the
    reference's authority for both scoring and augmentation-pool spans).
    """
    prev_tag, prev_type = "O", ""
    begin_offset = 0
    chunks: List[Tuple[str, int, int]] = []
    padded = list(seq) + ["O"]
    for i, chunk in enumerate(padded):
        tag, type_ = _split_tag(chunk)
        if _end_of_chunk(prev_tag, tag, prev_type, type_):
            chunks.append((prev_type, begin_offset, i - 1))
        if _start_of_chunk(prev_tag, tag, prev_type, type_):
            begin_offset = i
        prev_tag, prev_type = tag, type_
    return chunks


def greedy_entities(tokens: Sequence[str], tags: Sequence[str]) -> List[Tuple[str, str]]:
    """Notebook-variant span extractor: ``B-`` opens, ``I-`` extends only
    an open same-type span, orphan ``I-`` is DROPPED.  Returns
    (surface, type) pairs.  (Reference BiLSTM test notebook cell 7;
    SURVEY F2 — kept only so tests can pin the F1/F2 divergence.)
    """
    out: List[Tuple[str, str]] = []
    cur_tokens: List[str] = []
    cur_type = ""
    for tok, tag in zip(tokens, tags):
        if tag.startswith("B-"):
            if cur_tokens:
                out.append((" ".join(cur_tokens), cur_type))
            cur_tokens, cur_type = [tok], tag[2:]
        elif tag.startswith("I-") and cur_tokens and tag[2:] == cur_type:
            cur_tokens.append(tok)
        else:
            if cur_tokens:
                out.append((" ".join(cur_tokens), cur_type))
            cur_tokens, cur_type = [], ""
    if cur_tokens:
        out.append((" ".join(cur_tokens), cur_type))
    return out


def fix_bio(tags: Sequence[str]) -> List[str]:
    """Rewrite orphan ``I-X`` (not preceded by B-X/I-X) to ``B-X``
    (reference BiLSTM train notebook cell 3, SURVEY F3)."""
    fixed: List[str] = []
    prev = "O"
    for tag in tags:
        if tag.startswith("I-"):
            type_ = tag[2:]
            if not (prev == f"B-{type_}" or prev == f"I-{type_}"):
                tag = f"B-{type_}"
        fixed.append(tag)
        prev = tag
    return fixed


def build_bio_tags(label: str, length: int) -> List[str]:
    """``[B-X, I-X, ...]`` for an n-token span (reference
    ``src/augmentation.py:143-151``, SURVEY F4)."""
    if length <= 0:
        return []
    return [f"B-{label}"] + [f"I-{label}"] * (length - 1)


def primary_label(ner_tags: Sequence[str]) -> str:
    """First non-O tag's type, else 'O' (reference
    ``src/datasets.py:40-44``, SURVEY P4) — the stratification key."""
    for tag in ner_tags:
        if tag != "O":
            return tag.split("-", maxsplit=1)[-1]
    return "O"
