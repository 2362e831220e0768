"""The ``kg_crawl`` workload: raw-crawl pages through the KG pipeline.

Pages carry markup ``html`` (head, script and style blocks, comments,
character references, inline tags) and a null ``text``, and run with
``use_html=True``, so the Arrow ``html`` UDF runs.  The entity set is
diverse: ~12k entities behind ~16k aliases, names drawn from a
56-letter alphabet, a flat Zipf popularity (s = 0.6), a few ambiguous
aliases, and near-miss variants (one letter changed) that the tagger
dictionary knows and the alias table lacks.  Those variants are what
drive ``link``'s residual MinHash-LSH path, and the entity merges it
finds give ``cc`` a real graph.  The tagger dictionary holds ~23k
entries, so building ``DictionaryTagger`` per partition costs something.

The generator does not import the program: a change to its fixture
synthesis cannot change these inputs.  It emits gold mentions and gold
links.  A gold link is ``(url, sent_id, start) -> canonical id`` under
the rule in ``plans/kg_pipeline.py``: the canonical id of an entity is
the smallest entity id of its alias-ambiguity component, and a mention
of an entity with no alias keeps ``S-<md5(normalized surface)>``.
Merges found by LSH are the program's guesses, not truth, so they are
not in the gold.
"""

from __future__ import annotations

import bisect
import hashlib
import html as htmlmod
import json
import random
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from stats import f1
from tables import write_parts

N_PAGES = 4_000
N_ENTITIES = 500
WORLD_SEED = 0
LABELS = ("PER", "ORG", "LOC", "MISC")
LETTERS = "abcdefghijklmnopqrstuvwxyzáàâäãåçéèêëíìîïñóòôöõøúùûüýÿ"
FILLER = (
    "the a an said met near by in at with today yesterday market report "
    "game storm press result talks deal plan city bank group week year "
    "vote race show court rule trade fund team of and to for on from as "
    "new old after before during under over about into than then also "
    "more most some many few other local national public private early "
    "late season council board office project study data news story & "
    "according officials statement sources people members leaders"
).split()
PREDICATES = ("met", "visited", "founded", "joined", "left")
TRAPS = ("Vertex", "Nimbus", "Cobalt", "Quasar", "Helix", "Zenith")
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])


def norm(surface: str) -> str:
    """The program's ``norm_surface``: lower, collapse spaces, trim."""
    return " ".join(surface.lower().split())


def surface_id(surface: str) -> str:
    return "S-" + hashlib.md5(norm(surface).encode()).hexdigest()


class _Entities:
    """Entity catalogue: names, aliases, variants and the gold
    canonical id of every entity."""

    def __init__(self, rng: random.Random, n: int):
        taken = set(FILLER) | set(PREDICATES) | {t.lower() for t in TRAPS}
        ids = rng.sample(range(1_000_000, 10_000_000), n)

        def word() -> str:
            while True:
                w = "".join(rng.choice(LETTERS)
                            for _ in range(rng.randint(4, 9)))
                if w not in taken:
                    taken.add(w)
                    return w[0].upper() + w[1:]

        def name() -> str:
            return " ".join(word() for _ in range(rng.choice((2, 3, 3))))

        self.ids = [f"Q-{i:07d}" for i in ids]
        self.labels = [rng.choice(LABELS) for _ in range(n)]
        self.names = [name() for _ in range(n)]
        self.alt = [name() if rng.random() < 0.25 else None for _ in range(n)]
        self.variant = [self._variant(rng, s) if rng.random() < 0.5 else None
                        for s in self.names]
        kind = ["plain"] * n
        order = rng.sample(range(n), n)
        for e in order[:n * 3 // 100]:
            kind[e] = "dark"             # tagger knows it, no alias row
        for e in order[n * 3 // 100:n * 9 // 200]:
            kind[e] = "hole"             # alias row, tagger never fires
        self.kind = kind
        # ambiguity: disjoint pairs (a, b) where a's name is also an
        # alias of b at a lower prior
        plain = order[n * 9 // 200:]
        self.pairs = [(plain[i], plain[i + 1])
                      for i in range(0, n * 4 // 100, 2)]
        self.canonical = [self.ids[e] for e in range(n)]
        for a, b in self.pairs:
            self.canonical[a] = self.canonical[b] = min(self.ids[a],
                                                        self.ids[b])
        # mention popularity over the taggable entities, flat Zipf
        self.taggable = [e for e in order if kind[e] != "hole"]
        self.holes = [e for e in range(n) if kind[e] == "hole"]
        acc, cum = 0.0, []
        for rank in range(1, len(self.taggable) + 1):
            acc += rank ** -0.6
            cum.append(acc)
        self.cum = cum

    @staticmethod
    def _variant(rng: random.Random, surface: str) -> str:
        toks = surface.split(" ")
        i = max(range(len(toks)), key=lambda k: len(toks[k]))
        t = toks[i]
        pos = rng.randrange(1, len(t))
        toks[i] = t[:pos] + rng.choice(
            [c for c in LETTERS if c != t[pos].lower()]) + t[pos + 1:]
        return " ".join(toks)

    def alias_rows(self) -> list[tuple[str, str, str, float]]:
        rows = []
        for e in range(len(self.ids)):
            if self.kind[e] == "dark":
                continue
            rows.append((norm(self.names[e]), self.ids[e], self.labels[e], 1.0))
            if self.alt[e]:
                rows.append((norm(self.alt[e]), self.ids[e],
                             self.labels[e], 0.9))
        for a, b in self.pairs:
            rows.append((norm(self.names[a]), self.ids[b], self.labels[b], 0.4))
        return rows

    def tagger_rows(self) -> list[tuple[str, str]]:
        d: dict[str, str] = {}
        for e in range(len(self.ids)):
            if self.kind[e] == "hole":
                continue
            for s in (self.names[e], self.alt[e], self.variant[e]):
                if s:
                    d.setdefault(s.lower(), self.labels[e])
        for t in TRAPS:
            d[t.lower()] = "ORG"
        return sorted(d.items())

    def mention(self, rng: random.Random) -> tuple[str, str, str | None]:
        """(surface, label, gold canonical id) of one planted mention;
        1.5% of draws are holes the tagger cannot find."""
        if rng.random() < 0.015:
            e = rng.choice(self.holes)
        else:
            e = self.taggable[bisect.bisect(self.cum,
                                            rng.random() * self.cum[-1])]
        if self.kind[e] == "dark":
            return self.names[e], self.labels[e], surface_id(self.names[e])
        r = rng.random()
        if self.variant[e] and r < 0.45:
            s = self.variant[e]
        elif self.alt[e] and r > 0.8:
            s = self.alt[e]
        else:
            s = self.names[e]
        return s, self.labels[e], self.canonical[e]


def _sentence(rng: random.Random, ents: _Entities, pair: bool):
    """(tokens, [(start, end, label, canonical)], html) of one sentence."""
    toks: list[str] = []
    gold: list[tuple[int, int, str, str]] = []
    parts: list[str] = []

    def filler(k: int) -> None:
        for _ in range(k):
            w = rng.choice(FILLER)
            if rng.random() < 0.004:
                w = rng.choice(TRAPS)    # tagged by the model, gold O
            toks.append(w)
            # an occasional numeric character reference, decoded by
            # the extractor back to the same token
            if "e" in w and rng.random() < 0.05:
                parts.append(w.replace("e", "&#101;", 1))
            else:
                parts.append(htmlmod.escape(w, quote=False))

    def plant() -> None:
        s, label, canon = ents.mention(rng)
        st = s.split(" ")
        gold.append((len(toks), len(toks) + len(st) - 1, label, canon))
        toks.extend(st)
        parts.append(f'<a href="/w/{rng.randrange(10**6)}">{s}</a>'
                     if rng.random() < 0.3 else s)

    filler(rng.randint(1, 4))
    n = 2 if pair else rng.choice((0, 1, 1, 2))
    for i in range(n):
        plant()
        if i == 0 and n == 2:
            toks.append(rng.choice(PREDICATES))
            parts.append(toks[-1])
        else:
            filler(rng.randint(1, 3))
    filler(rng.randint(0, 2))
    return toks, gold, " ".join(parts)


def _page_html(title: str, paras: list[str], rng: random.Random) -> bytes:
    body = "".join(f"<p>{p}</p>" if rng.random() < 0.8 else f"<div>{p}</div>"
                   for p in paras)
    return (
        "<!DOCTYPE html><html><head>"
        f"<title>{htmlmod.escape(title)}</title>"
        '<meta name="description" content="crawl page">'
        "<style>p { margin: 0 } .nav > a { color: #333 }</style>"
        '<script>var t = "<p>not text</p>"; if (a < b) { go(); }</script>'
        "</head><body>"
        '<nav class="nav"><!-- <p>menu decoy</p> --></nav>'
        f"<main>{body}</main>"
        "<footer><script>track('page');</script></footer>"
        "</body></html>").encode()


def generate(seed: int, n_pages: int) -> dict:
    """Every input table and the gold, as Python/Arrow objects.  The
    entity catalogue (alias table, tagger dictionary) is the same for
    every seed, like a knowledge base and a model; the seed draws the
    crawl."""
    ents = _Entities(random.Random(WORLD_SEED), N_ENTITIES)
    rng = random.Random(seed)
    urls, ts, htmls, langs = [], [], [], []
    gold_mentions: list[tuple] = []
    for i in range(n_pages):
        url = f"https://site{rng.randrange(400)}.example/a/{seed}/{i}"
        lang = "de" if rng.random() < 0.09 else "en"
        paras = []
        for sid in range(rng.randint(1, 5)):
            toks, gold, para = _sentence(
                rng, ents, pair=(sid == 0 and rng.random() < 0.7))
            paras.append(para)
            if lang == "en":
                gold_mentions.extend(
                    (url, sid, s, e, lab, canon) for s, e, lab, canon in gold)
        urls.append(url)
        ts.append(EPOCH + timedelta(seconds=61 * i))
        htmls.append(_page_html(f"page {i}", paras, rng))
        langs.append(lang)
    pages = pa.table({"url": urls, "warc_ts": ts, "html": htmls,
                      "text": pa.nulls(n_pages, pa.string()),
                      "lang": langs}, schema=PAGES_SCHEMA)
    aliases = ents.alias_rows()
    tagger = ents.tagger_rows()
    return {
        "pages": pages,
        "aliases": pa.table({
            "alias_norm": [a[0] for a in aliases],
            "entity_id": [a[1] for a in aliases],
            "entity_type": [a[2] for a in aliases],
            "prior": [a[3] for a in aliases]}),
        "tagger": pa.table({"surface": [t[0] for t in tagger],
                            "label": [t[1] for t in tagger]}),
        "gold": pa.table({
            "url": [g[0] for g in gold_mentions],
            "sent_id": [g[1] for g in gold_mentions],
            "start": [g[2] for g in gold_mentions],
            "end": [g[3] for g in gold_mentions],
            "label": [g[4] for g in gold_mentions],
            "canonical": [g[5] for g in gold_mentions]}),
    }


class Workload:
    name = "kg_crawl"
    input_table = "pages"
    stages = ("sentences", "tagged", "mentions", "triples_raw", "linked",
              "components", "triples")

    def __init__(self, data: Path):
        self.data = data

    def generate(self, seed: int, scale: float) -> None:
        tables = generate(seed, max(20, int(N_PAGES * scale)))
        for name, t in tables.items():
            write_parts(t, self.data / name)

    def load(self, spark) -> None:
        from ner_extractor_spark.schemas import ALIASES, PAGES
        self.pages = spark.read.schema(PAGES).parquet(
            str(self.data / "pages"))
        self.aliases = spark.read.schema(ALIASES).parquet(
            str(self.data / "aliases"))
        tagger = pq.read_table(self.data / "tagger").to_pydict()
        self.dictionary = {tuple(s.split(" ")): lab for s, lab in
                           zip(tagger["surface"], tagger["label"])}

    def run(self, spark, work_dir: str) -> None:
        from ner_extractor_spark.plans.kg_pipeline import run_kg_pipeline
        run_kg_pipeline(spark, self.pages,
                        self.aliases, self.dictionary, work_dir,
                        lang="en", use_html=True)

    def check(self, work_dir: Path) -> dict:
        """Output checks and the gold F1 of one finished job."""
        wd = Path(work_dir)
        gold = pq.read_table(self.data / "gold").to_pydict()
        g_mentions = set(zip(gold["url"], gold["sent_id"], gold["start"],
                             gold["end"], gold["label"]))
        m = pq.read_table(wd / "mentions").to_pydict()
        p_mentions = set(zip(m["url"], m["sent_id"], m["start"], m["end"],
                             m["label"]))
        mp, mr, _ = f1(p_mentions, g_mentions)
        comp = pq.read_table(wd / "components").to_pydict()
        canon = dict(zip(comp["node"], comp["comp"]))
        lk = pq.read_table(wd / "linked").to_pydict()
        p_links = {(u, s, st, canon.get(e, e)) for u, s, st, e in
                   zip(lk["url"], lk["sent_id"], lk["start"], lk["entity_id"])}
        g_links = set(zip(gold["url"], gold["sent_id"], gold["start"],
                          gold["canonical"]))
        _, _, link_f1 = f1(p_links, g_links)
        tr = pq.read_table(wd / "triples", columns=["subj", "obj"])
        nulls = tr.column("subj").null_count + tr.column("obj").null_count
        manifest = json.loads((wd / "_manifest.json").read_text())
        missing = [s for s in self.stages if s not in manifest["stages"]]
        failures = []
        if mp < 0.95 or mr < 0.95:
            failures.append(f"mention P/R {mp:.4f}/{mr:.4f} below 0.95")
        if nulls:
            failures.append(f"{nulls} null subj/obj in triples")
        if tr.num_rows == 0:
            failures.append("no triples")
        if missing:
            failures.append(f"stages missing from manifest: {missing}")
        linked_share = (sum(not e.startswith("S-") for e in lk["entity_id"])
                        / max(len(lk["entity_id"]), 1))
        return {"gold_f1": link_f1, "failures": failures,
                "detail": {"mention_p": mp, "mention_r": mr,
                           "linked_share": linked_share,
                           "triples": tr.num_rows}}

    def layer_extras(self, work_dir: Path, check: dict) -> dict:
        return {"link.linked_share": check["detail"]["linked_share"]}
