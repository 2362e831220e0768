"""CoNLL-2003 source/sink with byte-parity serialization (SURVEY S1-S5, F6).

The serializer here is FROZEN: tokens joined by single spaces, one
``token pos chunk ner`` line per token, blank line after every sentence.
This is the byte-identity surface the north rule checks per url
(reference semantics: ``DistilBERT-CRF/src/datasets.py:22-44,75-87``).

Pure-Python core (used by fixtures and the driver-side prep "query") plus
a distributed Spark reader that reproduces the same sentence assembly with
window functions — blank line = sentence boundary, ``-DOCSTART-`` =
document boundary (doc_id running count, SURVEY W1).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, Iterable, List, Sequence, Tuple, Union


@dataclass
class Sentence:
    """Four parallel token-level annotation arrays (reference
    ``src/datasets.py:12-19`` record shape)."""

    tokens: List[str] = field(default_factory=list)
    pos_tags: List[str] = field(default_factory=list)
    chunk_tags: List[str] = field(default_factory=list)
    ner_tags: List[str] = field(default_factory=list)

    @classmethod
    def from_lines(cls, lines: Sequence[str]) -> "Sentence":
        s = cls()
        for line in lines:
            parts = line.strip().split()
            if not parts:
                continue
            if len(parts) != 4:
                raise ValueError(f"Malformed CoNLL line: {line}")
            s.tokens.append(parts[0])
            s.pos_tags.append(parts[1])
            s.chunk_tags.append(parts[2])
            s.ner_tags.append(parts[3])
        return s

    def to_lines(self) -> List[str]:
        return [
            f"{w} {p} {c} {n}"
            for w, p, c, n in zip(self.tokens, self.pos_tags, self.chunk_tags, self.ner_tags)
        ]

    def key(self) -> str:
        """Serialized multiset-join key (SURVEY J1/F6)."""
        return "\n".join(self.to_lines())

    def text(self) -> str:
        """Plain-text surface: tokens joined by single spaces (SURVEY F9
        inverse — whitespace re-tokenization round-trips exactly)."""
        return " ".join(self.tokens)


def parse_conll(text: str) -> List[Sentence]:
    """Parse CoNLL text: blank line = boundary, -DOCSTART- skipped."""
    sentences: List[Sentence] = []
    current: List[str] = []
    for raw in text.splitlines():
        stripped = raw.strip()
        if not stripped:
            if current:
                sentences.append(Sentence.from_lines(current))
                current = []
            continue
        if stripped.startswith("-DOCSTART-"):
            continue
        current.append(stripped)
    if current:
        sentences.append(Sentence.from_lines(current))
    return sentences


def parse_conll_with_doc_ids(text: str) -> List[Tuple[Sentence, int]]:
    """Parse keeping running doc ids: each -DOCSTART- increments doc_id
    (reference ``scripts/generate_kfold_splits.py:66-91``, SURVEY S2/W1)."""
    out: List[Tuple[Sentence, int]] = []
    doc_id = -1
    current: List[str] = []
    for raw in text.splitlines():
        stripped = raw.strip()
        if stripped.startswith("-DOCSTART-"):
            if current:
                out.append((Sentence.from_lines(current), doc_id))
                current = []
            doc_id += 1
            continue
        if not stripped:
            if current:
                out.append((Sentence.from_lines(current), doc_id))
                current = []
            continue
        current.append(stripped)
    if current:
        out.append((Sentence.from_lines(current), doc_id))
    return out


def serialize_conll(sentences: Iterable[Sentence]) -> str:
    """FROZEN byte-parity serializer: each sentence's lines then one blank
    line (i.e. trailing ``\\n\\n`` per sentence)."""
    parts: List[str] = []
    for s in sentences:
        for line in s.to_lines():
            parts.append(line)
            parts.append("\n")
        parts.append("\n")
    return "".join(parts)


def read_conll_file(path: Union[str, Path]) -> List[Sentence]:
    p = Path(path).expanduser().resolve()
    if not p.exists():
        raise FileNotFoundError(f"CoNLL file not found: {p}")
    return parse_conll(p.read_text(encoding="utf-8"))


def write_conll_file(sentences: Iterable[Sentence], path: Union[str, Path]) -> Path:
    p = Path(path).expanduser().resolve()
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(serialize_conll(sentences), encoding="utf-8")
    return p


# ---------------------------------------------------------------------------
# Distributed Spark reader (declarative sentence assembly)
# ---------------------------------------------------------------------------

def read_conll_spark(spark, path: str):
    """Distributed CoNLL scan: ``spark.read.text`` with per-file whole-text,
    split into sentences with doc ids — returns DataFrame
    (file, doc_id, sent_id, tokens, pos_tags, chunk_tags, ner_tags).

    Whole-file semantics keep sentence assembly trivially correct across
    split boundaries; CoNLL shards are small (file-per-split), so one file
    per task is the right granularity.  At web scale the input is the
    `pages` table, not CoNLL files — this reader exists for parity tests
    and the prep "query" (SURVEY §3.1).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                   StringType, StructField, StructType)

    schema = StructType([
        StructField("file", StringType()),
        StructField("doc_id", LongType()),
        StructField("sent_id", IntegerType()),
        StructField("tokens", ArrayType(StringType())),
        StructField("pos_tags", ArrayType(StringType())),
        StructField("chunk_tags", ArrayType(StringType())),
        StructField("ner_tags", ArrayType(StringType())),
    ])

    def assemble(iterator):
        import pandas as pd

        for pdf in iterator:
            rows = []
            for file, value in zip(pdf["file"], pdf["value"]):
                for sent_id, (sent, doc_id) in enumerate(parse_conll_with_doc_ids(value)):
                    rows.append((file, doc_id, sent_id, sent.tokens,
                                 sent.pos_tags, sent.chunk_tags, sent.ner_tags))
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    raw = (spark.read.text(path, wholetext=True)
           .withColumn("file", F.input_file_name()))
    return raw.mapInPandas(assemble, schema=schema)
