"""Deterministic fixture corpus synthesis (FIXTURES.md §§1-8, seed=42).

Builds, entirely from code (no external data):
  * a `pages` corpus whose text is CoNLL-serialized sentences (tokens
    joined by single spaces, sentences separated by '\\n') with planted
    entity surface forms, so gold BIO tags exist by construction;
  * the matching `gold_sentences` / `gold_mentions` tables;
  * the alias dictionary (ambiguous alias, case-variants, hot-skew alias);
  * the frozen dictionary-tagger model (FIXTURES.md §8) with small
    deliberate noise: one gold surface unknown to the tagger (recall hit)
    and one trap surface that tags a non-entity (precision hit) — so the
    P/R >= 0.95 gate is a real check, not a tautology.

Everything is seeded; output is independent of partitioning/cluster size.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Dict, List, Tuple

from .functions.bio import build_bio_tags, get_entities

SEED = 42
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

# Planted entity surfaces (multi-token on purpose; capitalized so the
# lowercase filler vocabulary can never collide accidentally).
ENTITIES: Dict[str, List[str]] = {
    "PER": ["John Smith", "Mary Major", "Alice Kwan", "Bob Stone"],
    "ORG": ["Acme Corp", "Globex", "Initech Ltd", "Reuters"],
    "LOC": ["Springfield", "New Holland", "Lake City", "Gotham"],
    "MISC": ["Olympics", "World Cup"],
}

# Alias known to gold but deliberately ABSENT from the tagger dictionary
# (recall noise) and a trap surface the tagger fires on spuriously
# (precision noise).
RECALL_HOLE = ("MISC", "Series A")
PRECISION_TRAP = ("ORG", "Vertex")  # appears in filler text sometimes

FILLER = (
    "the a said met visited near founded by in at with today yesterday "
    "market report game storm press result talks deal plan city bank "
    "group week year vote race show court rule trade fund team"
).split()

PREDICATES = ["met", "visited", "founded", "joined", "left"]

# The hot alias: planted far more often than others (skew test surface).
HOT = ("ORG", "Reuters")


@dataclass
class PageDoc:
    url: str
    warc_ts: datetime
    lang: str
    sentences: List[Tuple[List[str], List[str], List[str], List[str]]]

    def text(self) -> str:
        return "\n".join(" ".join(toks) for toks, _, _, _ in self.sentences)

    def html(self) -> bytes:
        return f"<html><body><p>{self.text()}</p></body></html>".encode()


def _plant(rng: random.Random, tokens, pos, chunk, ner, label: str, surface: str):
    stoks = surface.split(" ")
    tokens.extend(stoks)
    pos.extend(["NNP"] * len(stoks))
    chunk.extend(["I-NP"] * len(stoks))
    ner.extend(build_bio_tags(label, len(stoks)))


def _sentence(rng: random.Random, force_pair: bool):
    tokens: List[str] = []
    pos: List[str] = []
    chunk: List[str] = []
    ner: List[str] = []

    def fill(n):
        for _ in range(n):
            w = rng.choice(FILLER)
            if rng.random() < 0.005:
                w = PRECISION_TRAP[1]  # trap surface as plain filler (gold O)
            tokens.append(w)
            pos.append("NN")
            chunk.append("O")
            ner.append("O")

    fill(rng.randint(1, 4))
    n_ents = 2 if force_pair else rng.choice([0, 1, 1, 2])
    planted = 0
    for i in range(n_ents):
        if rng.random() < 0.35:
            label, surface = HOT
        elif rng.random() < 0.04:
            label, surface = RECALL_HOLE
        else:
            label = rng.choice(list(ENTITIES))
            surface = rng.choice(ENTITIES[label])
        _plant(rng, tokens, pos, chunk, ner, label, surface)
        planted += 1
        if i == 0 and n_ents == 2:
            # a predicate verb between the two mentions -> triple pattern
            v = rng.choice(PREDICATES)
            tokens.append(v)
            pos.append("VBD")
            chunk.append("O")
            ner.append("O")
        else:
            fill(rng.randint(1, 3))
    fill(rng.randint(0, 2))
    return tokens, pos, chunk, ner


def gold_corpus(n_docs: int = 60, seed: int = SEED) -> List[PageDoc]:
    rng = random.Random(seed)
    docs: List[PageDoc] = []
    for i in range(n_docs):
        domain = f"ex{i % 7}.test"  # few domains -> domain-skew surface
        n_sent = rng.randint(1, 5)
        sentences = [
            _sentence(rng, force_pair=(j == 0 and rng.random() < 0.7))
            for j in range(n_sent)
        ]
        lang = "en" if i % 11 else "de"  # a few non-en rows (lang filter)
        docs.append(PageDoc(
            url=f"https://{domain}/doc/{i}",
            warc_ts=EPOCH + timedelta(seconds=i * 61),
            lang=lang,
            sentences=sentences,
        ))
    # edge cases (FIXTURES.md §1)
    docs.append(PageDoc(f"https://ex0.test/doc/empty", EPOCH, "en", []))
    docs.append(PageDoc(
        f"https://ex1.test/doc/single",
        EPOCH + timedelta(days=1), "en",
        [(["Reuters"], ["NNP"], ["I-NP"], ["B-ORG"])],
    ))
    # repeated identical sentence across two urls (J1 multiset semantics)
    dup = _sentence(random.Random(seed + 1), force_pair=True)
    docs.append(PageDoc("https://ex2.test/doc/dupA", EPOCH + timedelta(days=2), "en", [dup]))
    docs.append(PageDoc("https://ex3.test/doc/dupB", EPOCH + timedelta(days=3), "en", [dup]))
    return docs


# ---------------------------------------------------------------------------
# Row builders for Spark createDataFrame
# ---------------------------------------------------------------------------

def pages_rows(docs: List[PageDoc]):
    return [(d.url, d.warc_ts, d.html(), d.text(), d.lang) for d in docs]


def gold_mention_rows(docs: List[PageDoc]):
    rows = []
    for d in docs:
        for sid, (toks, _, _, ner) in enumerate(d.sentences):
            for label, start, end in get_entities(ner):
                rows.append((d.url, sid, start, end,
                             " ".join(toks[start:end + 1]), label))
    return rows


def alias_rows():
    """Alias dictionary (FIXTURES.md §5): every planted surface plus an
    ambiguous alias and a case variant."""
    rows = []
    qid = 0
    for label, surfaces in ENTITIES.items():
        for s in surfaces:
            qid += 1
            rows.append((s.lower(), f"Q-{qid:05d}", label, 1.0))
    rows.append((RECALL_HOLE[1].lower(), "Q-90001", RECALL_HOLE[0], 1.0))
    # ambiguity: 'globex' also maps to a second id with lower prior
    rows.append(("globex", "Q-90002", "ORG", 0.25))
    return rows


def tagger_dictionary() -> Dict[Tuple[str, ...], str]:
    """Frozen longest-match dictionary for the fixture tagger: lowercase
    token-tuple -> label.  Includes the precision trap, excludes the
    recall hole."""
    d: Dict[Tuple[str, ...], str] = {}
    for label, surfaces in ENTITIES.items():
        for s in surfaces:
            if (label, s) == RECALL_HOLE:
                continue
            d[tuple(s.lower().split(" "))] = label
    d[tuple(PRECISION_TRAP[1].lower().split(" "))] = PRECISION_TRAP[0]
    return d
