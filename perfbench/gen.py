"""Seeded input generator for the benchmark.

Every input the program reads is written here as parquet; the planted truth
(which pages are copies of which) stays with the harness. The same seed gives
byte-identical inputs. Pure Python + numpy in one thread; pyarrow writes.

Standalone use (writes every workload's input plus truth JSON)::

    python3 perfbench/gen.py --seed 1 --out .perfbench_work/inputs
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes, chosen so one run of a workload (JVM start, cold op, warm-up, timed
# ops, checks) fits the benchmark's per-run time budget on 4 cores.
MIRRORS = dict(
    viral_copies=2100,        # one page past max_block_size (2000)
    exact_pages=600,          # exact-copy groups of 2..40, distinct hosts
    near_pages=800,           # near-copy groups of 2..8 (~2% token edits)
    hard_negative_pairs=80,   # same url template, 50% of tokens edited
    hot_template=150,         # distinct pages under one normalized url
    filler=250,               # unique pages
    tokens=(40, 120),
)
LONGFORM = dict(
    pages=1000,               # unique pages ...
    tokens=(600, 2000),       # ... of 600..2000 tokens
    near_pairs=8,             # < 2% of pages have a planted copy
    exact_pairs=4,
)
RECRAWL = dict(
    longform=60,
    longform_tokens=(600, 2000),
    exact_pages=150,
    near_pages=150,
    hard_negative_pairs=25,
    filler=200,
    tokens=(40, 120),
    recrawl_share=0.005,      # urls re-crawled by every op
)
QUERYSUITE = dict(docs=700, vectors=1000, dim=64, labels=8, centers=16)

EPOCH_US = 1_748_736_000_000_000  # 2025-06-01T00:00:00Z in microseconds

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def _vocab(n: int) -> list[str]:
    """A fixed vocabulary of pronounceable pseudo-words (no RNG): large
    enough that random pages share almost no 3-token shingles."""
    cons = "bcdfghjklmnprstvwz"
    vows = "aeiou"
    syl = [c + v for c in cons for v in vows]  # 90 syllables
    out = []
    for a in syl:
        for b in syl:
            out.append(a + b)
            if len(out) == n:
                return out
    return out


VOCAB = _vocab(6000)


@dataclass
class Corpus:
    """Pages plus planted truth. ``family`` is the planted duplicate group of
    each page (pages of one exact or near group share it; every other page
    has a family of its own)."""

    url: list = field(default_factory=list)
    ts: list = field(default_factory=list)      # microseconds since epoch
    html: list = field(default_factory=list)
    family: list = field(default_factory=list)
    kind: list = field(default_factory=list)
    _next_family: int = 0

    def new_family(self) -> int:
        self._next_family += 1
        return self._next_family

    def add(self, url: str, html: bytes, family: int, kind: str) -> None:
        self.url.append(url)
        self.ts.append(EPOCH_US + len(self.url) * 1_000_000)
        self.html.append(html)
        self.family.append(family)
        self.kind.append(kind)

    def __len__(self) -> int:
        return len(self.url)


def _body(rng: np.random.Generator, lo: int, hi: int) -> list[str]:
    n = int(rng.integers(lo, hi + 1))
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), size=n)]


def _edit(rng: np.random.Generator, toks: list[str], n_edits: int) -> list[str]:
    """Replace ``n_edits`` distinct token positions with different words."""
    out = list(toks)
    for p in rng.choice(len(out), size=min(n_edits, len(out)), replace=False):
        w = out[p]
        while w == out[p]:
            w = VOCAB[int(rng.integers(0, len(VOCAB)))]
        out[p] = w
    return out


def _html(title: str, toks: list[str]) -> bytes:
    return (
        f"<html><head><title>{title}</title>"
        f"<script>var v=1;</script></head>"
        f"<body><p>{' '.join(toks)}</p></body></html>"
    ).encode("utf-8")


def _near_edits(n_tokens: int) -> int:
    # ~2% of tokens, at most one edit per 60 tokens: one edit changes at most
    # 3 of the page's 3-token shingles, so a copy keeps Jaccard >= 0.85 with
    # its group's original even at 40 tokens
    return max(1, n_tokens // 60)


def _exact_groups(c: Corpus, rng, n_pages: int, tokens, tag: str) -> None:
    made = 0
    g = 0
    while made < n_pages:
        k = int(min(rng.integers(2, 41), max(2, n_pages - made)))
        toks = _body(rng, *tokens)
        html = _html(f"{tag} story {g}", toks)
        fam = c.new_family()
        for j in range(k):
            c.add(f"https://m{j}-{g}.{tag}-mirror{j % 53}.org/story/{g}", html, fam, "exact")
        made += k
        g += 1


def _near_groups(c: Corpus, rng, n_pages: int, tokens, tag: str) -> None:
    made = 0
    g = 0
    while made < n_pages:
        k = int(min(rng.integers(2, 9), max(2, n_pages - made)))
        toks = _body(rng, *tokens)
        fam = c.new_family()
        title = f"{tag} near {g}"
        c.add(f"https://near{g}.{tag}.com/a/{g}", _html(title, toks), fam, "near")
        for j in range(1, k):
            copy = _edit(rng, toks, _near_edits(len(toks)))
            c.add(f"https://near{g}-{j}.{tag}-copy.net/p/{g}", _html(title, copy), fam, "near")
        made += k
        g += 1


def _hard_negatives(c: Corpus, rng, n_pairs: int, tokens, tag: str) -> None:
    for g in range(n_pairs):
        toks = _body(rng, *tokens)
        title = f"{tag} listing {g}"
        other = _edit(rng, toks, len(toks) // 2)
        # same normalized url (query string stripped): one url block per pair
        c.add(f"https://hn.{tag}.com/item/{g}?v=1", _html(title, toks), c.new_family(), "hard_negative")
        c.add(f"https://hn.{tag}.com/item/{g}?v=2", _html(title, other), c.new_family(), "hard_negative")


def _uniques(c: Corpus, rng, n: int, tokens, tag: str, kind: str = "unique") -> None:
    for i in range(n):
        c.add(f"https://{tag}{i % 97}.example.com/{kind}/{i}",
              _html(f"{tag} {kind} {i}", _body(rng, *tokens)), c.new_family(), kind)


def mirrors_corpus(seed: int) -> Corpus:
    """Short pages dominated by copies: exact groups under distinct hosts,
    near groups, hard negatives, one viral page past the block cap and one
    hot url template."""
    p = MIRRORS
    rng = np.random.default_rng([seed, 1])
    c = Corpus()
    viral = _html("viral story", _body(rng, *p["tokens"]))
    fam = c.new_family()
    for i in range(p["viral_copies"]):
        c.add(f"https://host{i}.viral{i % 89}.net/story", viral, fam, "viral")
    _exact_groups(c, rng, p["exact_pages"], p["tokens"], "mir")
    _near_groups(c, rng, p["near_pages"], p["tokens"], "mir")
    _hard_negatives(c, rng, p["hard_negative_pairs"], p["tokens"], "mir")
    for i in range(p["hot_template"]):
        c.add(f"https://hot.example.com/listing?id={i}",
              _html(f"listing {i}", _body(rng, *p["tokens"])), c.new_family(), "hot")
    _uniques(c, rng, p["filler"], p["tokens"], "fill")
    return _shuffled(c, rng)


def longform_corpus(seed: int) -> Corpus:
    """Long unique pages with few copies: extract and featurize do most of
    the work, blocking and scoring little."""
    p = LONGFORM
    rng = np.random.default_rng([seed, 4])
    c = Corpus()
    _uniques(c, rng, p["pages"] - 2 * (p["near_pairs"] + p["exact_pairs"]), p["tokens"], "lf", "longform")
    _near_groups(c, rng, 2 * p["near_pairs"], p["tokens"], "lf")
    for g in range(p["exact_pairs"]):
        html = _html(f"lf essay {g}", _body(rng, *p["tokens"]))
        fam = c.new_family()
        for j in range(2):
            c.add(f"https://essays{j}.lf-mirror.org/{g}", html, fam, "exact")
    return _shuffled(c, rng)


@dataclass
class Recrawl:
    base: Corpus
    changed: list            # indices into base re-crawled by every op
    variant_b: list          # replacement html per changed index


def recrawl_corpus(seed: int) -> Recrawl:
    """Long unique pages plus a mirrors-style mix; a fixed ~0.5% of urls is
    re-crawled by every op, alternating between a fresh unique body (odd
    versions) and the original html (even versions)."""
    p = RECRAWL
    rng = np.random.default_rng([seed, 2])
    c = Corpus()
    _uniques(c, rng, p["longform"], p["longform_tokens"], "long", "longform")
    _exact_groups(c, rng, p["exact_pages"], p["tokens"], "rc")
    _near_groups(c, rng, p["near_pages"], p["tokens"], "rc")
    _hard_negatives(c, rng, p["hard_negative_pairs"], p["tokens"], "rc")
    _uniques(c, rng, p["filler"], p["tokens"], "rcfill")
    c = _shuffled(c, rng)
    n_changed = max(1, int(round(len(c) * p["recrawl_share"])))
    changed = sorted(int(i) for i in rng.choice(len(c), size=n_changed, replace=False))
    variant_b = []
    for i in changed:
        lo, hi = p["longform_tokens"] if c.kind[i] == "longform" else p["tokens"]
        variant_b.append(_html(f"recrawled {i}", _body(rng, lo, hi)))
    return Recrawl(c, changed, variant_b)


def recrawl_version(r: Recrawl, version: int) -> tuple[list, list, list, list]:
    """Rows (url, ts, html, family) of the re-crawled urls at ``version``:
    0 is the base crawl, and each later version is strictly newer than every
    earlier one."""
    urls, ts, html, fam = [], [], [], []
    for j, i in enumerate(r.changed):
        urls.append(r.base.url[i])
        ts.append(r.base.ts[i] + version * 86_400_000_000)
        if version % 2:
            html.append(r.variant_b[j])
            fam.append(-1 - j)  # a fresh unique page: a family of its own
        else:
            html.append(r.base.html[i])
            fam.append(r.base.family[i])
    return urls, ts, html, fam


def _shuffled(c: Corpus, rng) -> Corpus:
    order = rng.permutation(len(c))
    out = Corpus()
    for i in order:
        out.url.append(c.url[i])
        out.html.append(c.html[i])
        out.family.append(c.family[i])
        out.kind.append(c.kind[i])
    out.ts = [EPOCH_US + k * 1_000_000 for k in range(len(out.url))]
    return out


def write_pages(path: str, urls, ts, html) -> None:
    n = len(urls)
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.nulls(n, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
        },
        schema=PAGES_SCHEMA,
    )
    # several row groups so the scan splits across cores
    pq.write_table(table, path, row_group_size=max(1, n // 8))


# -- querysuite tables ---------------------------------------------------------

LANGS = ["en", "de", "fr", "es", "zh"]


def write_querysuite(seed: int, out_dir: str) -> None:
    """``documents`` (doc_id, text, lang, source, n_chars) with planted exact
    and near copies and contaminated docs, and ``embeddings`` (vec_id,
    embedding, label) drawn around cluster centres with planted near-copies,
    in the shape the ``queries`` module reads."""
    p = QUERYSUITE
    rng = np.random.default_rng([seed, 3])
    words = VOCAB[:1500]
    texts, langs, sources = [], [], []

    def new_doc() -> list[str]:
        return [words[i] for i in rng.integers(0, len(words), size=int(rng.integers(20, 70)))]

    while len(texts) < p["docs"]:
        toks = new_doc()
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        src = f"src{int(rng.integers(0, 4))}"
        texts.append(toks)
        langs.append(lang)
        sources.append(src)
        r = rng.random()
        if r < 0.15:  # exact copy
            texts.append(list(toks))
            langs.append(lang)
            sources.append(src)
        elif r < 0.35:  # near copy: one token replaced
            texts.append(_edit(rng, toks, 1))
            langs.append(lang)
            sources.append(src)
        elif r < 0.45 and len(texts) > 30:  # contains a run of a held-out doc
            held = texts[25 * int(rng.integers(0, len(texts) // 25))]
            run = held[:12]
            texts.append(new_doc()[:20] + run + new_doc()[:20])
            langs.append(lang)
            sources.append(src)
    texts, langs, sources = texts[: p["docs"]], langs[: p["docs"]], sources[: p["docs"]]
    joined = [" ".join(t) for t in texts]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(len(joined), dtype=np.int64)),
                "text": pa.array(joined, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array(sources, pa.string()),
                "n_chars": pa.array([len(t) for t in joined], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

    centers = rng.normal(size=(p["centers"], p["dim"]))
    vecs = []
    while len(vecs) < p["vectors"]:
        c = centers[int(rng.integers(0, p["centers"]))]
        v = c + rng.normal(scale=1.2, size=p["dim"])
        vecs.append(v)
        if rng.random() < 0.2:
            vecs.append(v + rng.normal(scale=0.05, size=p["dim"]))
    X = np.asarray(vecs[: p["vectors"]], dtype=np.float32)
    labels = rng.integers(0, p["labels"], size=len(X)).astype(np.int32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(len(X), dtype=np.int64)),
                "embedding": pa.array(list(X), pa.list_(pa.float32())),
                "label": pa.array(labels),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    m = mirrors_corpus(args.seed)
    write_pages(os.path.join(args.out, "mirrors.parquet"), m.url, m.ts, m.html)
    lf = longform_corpus(args.seed)
    write_pages(os.path.join(args.out, "longform.parquet"), lf.url, lf.ts, lf.html)
    r = recrawl_corpus(args.seed)
    write_pages(os.path.join(args.out, "recrawl_base.parquet"), r.base.url, r.base.ts, r.base.html)
    write_querysuite(args.seed, args.out)
    truth = {
        "mirrors": {"url": m.url, "family": m.family, "kind": m.kind},
        "longform": {"url": lf.url, "family": lf.family, "kind": lf.kind},
        "recrawl": {
            "url": r.base.url, "family": r.base.family, "kind": r.base.kind,
            "changed_urls": [r.base.url[i] for i in r.changed],
        },
    }
    with open(os.path.join(args.out, "truth.json"), "w") as f:
        json.dump(truth, f)
    print(f"mirrors={len(m)} longform={len(lf)} recrawl={len(r.base)} changed={len(r.changed)} -> {args.out}")


if __name__ == "__main__":
    main()
