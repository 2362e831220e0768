"""The ``assemble`` workload: a web-document corpus through the staged
training-data assembly (verdict -> span clean -> chunk -> pack), with
the CLI defaults (span dedup on, chunk 64, budget 500, no near-dup rule)
and one blocked domain and one blocked url term.

Documents are English-like: stopwords at about a third of the tokens and
a Zipf-distributed content vocabulary, 40-160 tokens each.  Exact shares
of planted bad documents (counts, not probabilities, so every seed plants
the same number of each):

  exact duplicate copies  6%   (a later id repeats an earlier text)
  near duplicate copies   2%   (about 6% of the source's tokens replaced)
  blocked domain          8%   (host under ``adfarm.test``)
  blocked url term        4%   (``casino`` in the url path)
  too short               4%   (under 5 tokens)
  repetitive              4%   (one token repeated)
  gibberish               2%   (random letters around stopwords: passes
                                the quality rules, fails the LM)

Most of the 30% are classes every rule set must drop, so ``gold_f1``
moves little with the seed-to-seed share of clean documents that the
calibrated cuts and the hashed classifier drop.

The gold is the set of planted bad documents; ``gold_f1`` scores the
pipeline's drop decisions against it.  The generator does not import the
program.
"""

from __future__ import annotations

import bisect
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from stats import f1
from tables import num_rows, write_parts

N_DOCS = 100
WORLD_SEED = 0
STOPWORDS = ("the and of to a in is that for it was on with as by at from "
             "this be are or an not but have has").split()
BLOCKED_DOMAIN = "adfarm.test"
BLOCKED_TERM = "casino"
CHUNK, BUDGET = 64, 500
SHARES = (("exact_dup", 6), ("near_dup", 2), ("blocked_domain", 8),
          ("blocked_term", 4), ("too_short", 4), ("repetitive", 4),
          ("gibberish", 2))

DOCS_SCHEMA = pa.schema([pa.field("doc_id", pa.int64(), False),
                         pa.field("url", pa.string()),
                         pa.field("text", pa.string())])


class _Vocab:
    def __init__(self, rng: random.Random, n: int = 4000):
        letters = "abcdefghijklmnopqrstuvwxyz"
        words: set[str] = set()
        while len(words) < n:
            words.add("".join(rng.choice(letters)
                              for _ in range(rng.randint(3, 9))))
        self.words = sorted(words)
        rng.shuffle(self.words)
        acc, self.cum = 0.0, []
        for rank in range(1, n + 1):
            acc += 1.0 / rank
            self.cum.append(acc)

    def text(self, rng: random.Random, n: int) -> str:
        out = []
        for _ in range(n):
            if rng.random() < 0.33:
                out.append(rng.choice(STOPWORDS))
            else:
                out.append(self.words[bisect.bisect(
                    self.cum, rng.random() * self.cum[-1])])
        return " ".join(out)


def generate(seed: int, n_docs: int) -> dict:
    # the vocabulary and the hosts are the same for every seed, like a
    # language and a web; the seed draws the documents
    world = random.Random(WORLD_SEED)
    vocab = _Vocab(world)
    hosts = [f"www.{world.choice(vocab.words)}{k}.com" for k in range(300)]
    rng = random.Random(seed)
    # the first tenth is clean so every copy has an earlier source
    head = n_docs // 10
    kinds = [k for k, pct in SHARES for _ in range(n_docs * pct // 100)]
    kinds += ["clean"] * (n_docs - head - len(kinds))
    rng.shuffle(kinds)
    kinds = ["clean"] * head + kinds
    texts: list[str] = []
    urls: list[str] = []
    clean: list[int] = []
    for i, kind in enumerate(kinds):
        host = rng.choice(hosts)
        path = f"/{rng.choice(vocab.words)}/{seed}-{i}"
        if kind == "exact_dup":
            text = texts[rng.choice(clean)]
        elif kind == "near_dup":
            toks = texts[rng.choice(clean)].split(" ")
            for _ in range(max(1, len(toks) // 16)):
                toks[rng.randrange(len(toks))] = vocab.text(rng, 1)
            text = " ".join(toks)
        elif kind == "too_short":
            text = vocab.text(rng, rng.randint(1, 4))
        elif kind == "repetitive":
            text = " ".join([rng.choice(vocab.words)] * rng.randint(40, 120))
        elif kind == "gibberish":
            text = " ".join(
                rng.choice(STOPWORDS) if rng.random() < 0.2 else
                "".join(rng.choice("qxzjkvwy") for _ in range(rng.randint(3, 8)))
                for _ in range(rng.randint(40, 160)))
        else:
            text = vocab.text(rng, rng.randint(40, 160))
        if kind == "blocked_domain":
            host = f"{rng.choice(vocab.words)}.{BLOCKED_DOMAIN}"
        elif kind == "blocked_term":
            path = f"/{BLOCKED_TERM}-{rng.choice(vocab.words)}/{seed}-{i}"
        if kind == "clean":
            clean.append(i)
        texts.append(text)
        urls.append(f"https://{host}{path}")
    docs = pa.table({"doc_id": list(range(n_docs)), "url": urls,
                     "text": texts}, schema=DOCS_SCHEMA)
    bad = [i for i, k in enumerate(kinds) if k != "clean"]
    return {"docs": docs, "gold": pa.table({"doc_id": pa.array(bad, pa.int64())})}


class Workload:
    name = "assemble"
    input_table = "docs"
    stages = ("verdict", "cleaned", "chunks", "packed")

    def __init__(self, data: Path):
        self.data = data

    def generate(self, seed: int, scale: float) -> None:
        tables = generate(seed, max(20, int(N_DOCS * scale)))
        for name, t in tables.items():
            write_parts(t, self.data / name)

    def load(self, spark) -> None:
        from ner_extractor_spark.operators.classifier import synthetic_weights
        self.docs = spark.read.schema(
            "doc_id BIGINT, url STRING, text STRING").parquet(
            str(self.data / "docs"))
        self.weights = synthetic_weights(spark)

    def run(self, spark, work_dir: str) -> None:
        from ner_extractor_spark.plans.curation_pipeline import \
            run_curation_pipeline
        run_curation_pipeline(
            spark, self.docs, self.weights,
            work_dir, blocked_domains=(BLOCKED_DOMAIN,),
            blocked_terms=(BLOCKED_TERM,), chunk_size=CHUNK, budget=BUDGET)

    def check(self, work_dir: Path) -> dict:
        wd = Path(work_dir)
        n_docs = num_rows(self.data / "docs")
        gold = set(pq.read_table(self.data / "gold")
                   .column("doc_id").to_pylist())
        v = pq.read_table(wd / "verdict").to_pydict()
        ids = v["doc_id"]
        kept = {i for i, k in zip(ids, v["keep"]) if k}
        dropped = {i for i, k in zip(ids, v["keep"]) if not k}
        _, _, gold_f1 = f1(dropped, gold)
        chunks = pq.read_table(wd / "chunks").column("chunk_uid").to_pylist()
        chunked = {int(c.split("#")[0]) for c in chunks}
        packed = pq.read_table(wd / "packed").to_pydict()
        bins: dict[tuple, int] = {}
        for b, n, t in zip(packed["bucket"], packed["bin"], packed["n_tokens"]):
            bins[(b, n)] = bins.get((b, n), 0) + t
        cleaned = pq.read_table(wd / "cleaned").to_pydict()
        removed = sum(cleaned["n_removed_tokens"])
        left = sum(len(t.split()) for t in cleaned["text"])
        failures = []
        if len(ids) != n_docs or len(set(ids)) != n_docs:
            failures.append(f"{len(ids)} verdict rows ({len(set(ids))} "
                            f"distinct) for {n_docs} documents")
        # a bin's chunks start inside its budget window, so one straddling
        # chunk (<= CHUNK tokens) may run past it: the bound the packing
        # contract states
        over = [k for k, t in bins.items() if t > BUDGET + CHUNK - 1]
        if over:
            failures.append(f"{len(over)} packed bins over the budget bound")
        if kept - chunked:
            failures.append(f"{len(kept - chunked)} kept documents without "
                            "a chunk")
        return {"gold_f1": gold_f1, "failures": failures, "detail": {
            "keep_share": len(kept) / max(len(ids), 1),
            "removed_share": removed / max(removed + left, 1),
            "fill": sum(bins.values()) / max(len(bins) * BUDGET, 1),
            "bins": len(bins)}}

    def layer_extras(self, work_dir: Path, check: dict) -> dict:
        d = check["detail"]
        return {"web_verdict.keep_share": d["keep_share"],
                "exact_substr.removed_share": d["removed_share"],
                "packing.fill": d["fill"]}
