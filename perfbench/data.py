"""Seeded inputs: corpus, query sets and request bodies.

Everything here is a function of ``--seed`` alone (plus the fixed sentinel
docs, which do not depend on it). The engine only ever sees the parquet
written from these frames; the checks in ``oracle.py`` work from the
token-id arrays kept here, never from the engine's own analyzer.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

VOCAB = 200_000  # 100x datagen/pages.py's 2000 terms: head, middle and tail bands
ZIPF_S = 1.0
DOC_LEN = (10, 40)  # tokens per doc, uniform
CATEGORIES = [f"cat{i:02d}" for i in range(12)]
TS0 = dt.datetime(2024, 1, 1)
TS_DAYS = 84  # twelve whole weeks
PRICE_MAX = 1000

# sentinel docs: fixed text and ids, independent of the seed. Their tokens
# start with SENTINEL_PREFIX, which no vocabulary word can (first letter is
# a-w), so that prefix matches exactly the sentinels.
SENTINEL_PREFIX = "zqs"
SENTINEL_BASE = 9_000_000
N_SENTINELS = 64
APPEND_BASE = 10_000_000

_FIRST = "abcdefghijklmnopqrstuvw"
_REST = "abcdefghijklmnopqrstuvw0123456789"


def vocabulary(rng: np.random.Generator) -> np.ndarray:
    """VOCAB distinct lowercase alphanumeric words, rank order = Zipf order.
    The first four characters are a mixed-radix code of a seeded
    permutation (unique per word); a 0-4 letter seeded suffix follows."""
    code = rng.permutation(len(_FIRST) * len(_REST) ** 3)[:VOCAB]
    d0, rem = np.divmod(code, len(_REST) ** 3)
    d1, rem = np.divmod(rem, len(_REST) ** 2)
    d2, d3 = np.divmod(rem, len(_REST))
    suf_len = rng.integers(0, 5, VOCAB)
    suf = rng.integers(0, len(_REST), (VOCAB, 4))
    words = []
    for i in range(VOCAB):
        w = _FIRST[d0[i]] + _REST[d1[i]] + _REST[d2[i]] + _REST[d3[i]]
        w += "".join(_REST[c] for c in suf[i, : suf_len[i]])
        words.append(w)
    return np.array(words, dtype=object)


class Corpus:
    """Token ids per doc (flat + offsets), the structured columns, and the
    vocabulary. Sentinel docs use extra ids past the vocabulary."""

    def __init__(self, seed: int, n_docs: int):
        rng = np.random.default_rng(seed)
        words = vocabulary(rng)
        self.sentinel_words = np.array(
            [f"{SENTINEL_PREFIX}{c}{i}" for i in range(4) for c in "ab"], dtype=object
        )
        self.words = np.concatenate([words, self.sentinel_words])
        ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
        p = ranks**-ZIPF_S
        self._cdf = np.cumsum(p / p.sum())
        self.doc_ids = np.empty(0, dtype=np.int64)
        self.offsets = np.zeros(1, dtype=np.int64)
        self.flat = np.empty(0, dtype=np.int32)
        self.category = np.empty(0, dtype=object)
        self.ts = np.empty(0, dtype="datetime64[us]")
        self.price = np.empty(0, dtype=np.int64)
        self.append(self.draw_docs(np.arange(n_docs, dtype=np.int64), rng))
        self.append(self.sentinel_docs())

    # -- generation -----------------------------------------------------
    def draw_docs(self, ids: np.ndarray, rng: np.random.Generator):
        n = ids.size
        lens = rng.integers(DOC_LEN[0], DOC_LEN[1] + 1, n)
        toks = np.searchsorted(self._cdf, rng.random(int(lens.sum())))
        toks = np.minimum(toks, VOCAB - 1).astype(np.int32)
        cat = np.array(CATEGORIES, dtype=object)[
            np.minimum(rng.zipf(1.6, n) - 1, len(CATEGORIES) - 1)
        ]
        secs = rng.integers(0, TS_DAYS * 86_400, n)
        ts = np.datetime64(TS0, "us") + secs.astype("timedelta64[s]")
        price = rng.integers(0, PRICE_MAX, n)
        return ids, lens, toks, cat, ts, price

    def sentinel_docs(self):
        """Fixed docs whose every token starts with SENTINEL_PREFIX."""
        ids = SENTINEL_BASE + np.arange(N_SENTINELS, dtype=np.int64)
        k = len(self.sentinel_words)
        lens = np.full(N_SENTINELS, 3, dtype=np.int64)
        toks = np.array(
            [VOCAB + (i + j) % k for i in range(N_SENTINELS) for j in range(3)],
            dtype=np.int32,
        )
        cat = np.array([CATEGORIES[i % 3] for i in range(N_SENTINELS)], dtype=object)
        ts = np.datetime64(TS0, "us") + (
            np.arange(N_SENTINELS) * 86_400
        ).astype("timedelta64[s]")
        price = (np.arange(N_SENTINELS) * 7) % PRICE_MAX
        return ids, lens, toks, cat, ts, price

    def append(self, batch) -> None:
        """Add docs drawn by draw_docs / sentinel_docs."""
        ids, lens, toks, cat, ts, price = batch
        self.doc_ids = np.concatenate([self.doc_ids, ids])
        self.offsets = np.concatenate(
            [self.offsets, self.offsets[-1] + np.cumsum(lens)]
        )
        self.flat = np.concatenate([self.flat, toks])
        self.category = np.concatenate([self.category, cat])
        self.ts = np.concatenate([self.ts, ts])
        self.price = np.concatenate([self.price, price])

    # -- views ----------------------------------------------------------
    @property
    def n(self) -> int:
        return int(self.doc_ids.size)

    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)

    def frame(self, rows: slice | np.ndarray | None = None) -> pd.DataFrame:
        """The parquet-bound pandas frame (doc_id, text, category, ts, price)."""
        idx = np.arange(self.n) if rows is None else np.arange(self.n)[rows]
        words = self.words[self.flat]
        texts = [
            " ".join(words[self.offsets[i] : self.offsets[i + 1]]) for i in idx
        ]
        return pd.DataFrame(
            {
                "doc_id": self.doc_ids[idx],
                "text": texts,
                "category": self.category[idx],
                "ts": self.ts[idx],
                "price": self.price[idx],
            }
        )

    def doc_freq(self) -> np.ndarray:
        """df per token id over every doc in this corpus."""
        doc_of = np.repeat(np.arange(self.n), self.lengths())
        pairs = np.unique(self.flat.astype(np.int64) * (self.n + 1) + doc_of)
        return np.bincount(pairs // (self.n + 1), minlength=len(self.words))

    def bands(self) -> dict[str, np.ndarray]:
        """Token ids by df band over the vocabulary words (not sentinels)."""
        df = self.doc_freq()[:VOCAB]
        n = self.n
        return {
            "head": np.flatnonzero(df >= 0.05 * n),
            "mid": np.flatnonzero((df >= 0.002 * n) & (df < 0.02 * n)),
            "tail": np.flatnonzero((df >= 2) & (df <= 8)),
        }


def _doc_terms(corpus: Corpus, rng, band: str, bands, want: int) -> list[str]:
    """Up to `want` distinct terms of one random doc; band "head" puts one
    head-band term first and fills from any band of the same doc, so AND
    queries always match."""
    while True:
        d = int(rng.integers(0, corpus.n))
        toks = np.unique(corpus.flat[corpus.offsets[d] : corpus.offsets[d + 1]])
        if band == "head":
            first = np.intersect1d(toks, bands["head"])
            if first.size == 0:
                continue
            t0 = int(rng.choice(first))
            rest = rng.permutation(np.setdiff1d(toks, [t0]))[: want - 1]
            ids = [t0, *map(int, rest)]
        else:
            pool = np.intersect1d(toks, bands[band])
            if pool.size == 0:
                continue
            ids = list(map(int, rng.permutation(pool)[:want]))
        return sorted({str(corpus.words[i]) for i in ids})


def _word(corpus: Corpus, rng, band_ids) -> str:
    return str(corpus.words[rng.choice(band_ids)])


def term_queries(corpus: Corpus, rng: np.random.Generator, n: int) -> list[dict]:
    """Flat term queries: 1-3 terms of one doc, AND/OR, k=10 (every tenth
    k=100), cycling head / mid / tail bands. "head" holds a head-band
    term; "mid" and "tail" hold terms of that band only."""
    bands = corpus.bands()
    out = []
    for i in range(n):
        band = ("head", "mid", "tail")[i % 3]
        terms = _doc_terms(corpus, rng, band, bands, 1 + int(rng.integers(0, 3)))
        out.append(
            {
                "band": band,
                "terms": terms,
                "mode": "and" if rng.random() < 0.5 else "or",
                "k": 100 if i % 10 == 9 else 10,
            }
        )
    return out


def query_bodies(corpus: Corpus, rng: np.random.Generator, n: int) -> list[dict]:
    """ES query bodies (no aggs): bool must/should/filter/must_not, match
    with operator, term/range filters on the structured fields, and prefix
    bodies for the sayt companion."""
    b = corpus.bands()
    out = []
    for i in range(n):
        kind = i % 6
        pair = _doc_terms(corpus, rng, "mid", b, 2)
        w1, w2 = pair[0], pair[-1]
        w3 = _word(corpus, rng, b["mid"])
        cat = str(rng.choice(CATEGORIES))
        lo = int(rng.integers(0, PRICE_MAX // 2))
        day = int(rng.integers(0, TS_DAYS - 14))
        if kind == 0:
            q = {"match": {"text": {"query": f"{w1} {w2}",
                                    "operator": rng.choice(["and", "or"])}}}
        elif kind == 1:
            q = {"bool": {
                "must": [{"match": {"text": w1}}],
                "filter": [{"term": {"category": cat}}],
            }}
        elif kind == 2:
            q = {"bool": {
                "must": [{"match": {"text": {"query": f"{w1} {w2}",
                                             "operator": "or"}}}],
                "filter": [{"range": {"price": {"gte": lo, "lt": lo + 400}}}],
                "must_not": [{"term": {"text": w3}}],
            }}
        elif kind == 3:
            q = {"bool": {
                "should": [{"term": {"text": w1}}, {"term": {"text": w2}}],
                "must_not": [{"term": {"text": w3}}],
            }}
        elif kind == 4:
            start = (TS0 + dt.timedelta(days=day)).strftime("%Y-%m-%d")
            end = (TS0 + dt.timedelta(days=day + 28)).strftime("%Y-%m-%d")
            q = {"bool": {
                "must": [{"match": {"text": w1}}],
                "filter": [{"range": {"ts": {"gte": start, "lt": end}}}],
            }}
        else:
            head = str(corpus.words[rng.choice(b["mid"])])
            q = {"prefix": {"text": head[: 3 + int(rng.integers(0, 2))]}}
        out.append({"query": q, "size": 10})
    return out


def scoring_terms(query: dict) -> tuple[list[str], str | None]:
    """The text terms a query_bodies body scores on, with the flat mode
    ("and" / "or") of a `match` body; None for bool bodies, which the
    engine scores with its group kernels."""
    kind, q = next(iter(query.items()))
    clauses = [{kind: q}] if kind == "match" else q.get("must", []) + q.get("should", [])
    terms = []
    for c in clauses:
        v = next(iter(c.values()))["text"]
        terms += (v if isinstance(v, str) else v["query"]).split()
    mode = None
    if kind == "match":
        v = q["text"]
        mode = "or" if isinstance(v, str) else str(v.get("operator", "or"))
    return sorted(set(terms)), mode


# aggregation kind -> (name, agg) as the bodies carry it. min_doc_count is
# spelled out: the engine defaults it to 1 where ES defaults to 0.
AGG_KINDS = {
    "terms": ("by_cat", {"terms": {"field": "category", "size": 20}}),
    "date_histogram": ("by_week", {
        "date_histogram": {"field": "ts", "calendar_interval": "week",
                           "min_doc_count": 1},
        "aggs": {"avg_price": {"avg": {"field": "price"}}},
    }),
    "histogram": ("by_price", {
        "histogram": {"field": "price", "interval": 100, "min_doc_count": 0},
    }),
    "tree": ("cat_price", {
        "terms": {"field": "category", "size": 20},
        "aggs": {"price": {"histogram": {"field": "price", "interval": 250,
                                         "min_doc_count": 1}}},
    }),
}


def agg_bodies(corpus: Corpus, rng: np.random.Generator, n: int) -> list[dict]:
    """Bodies with `aggs` and `track_total_hits`: a terms agg, plus in turn
    a date_histogram with a metric child, a histogram with min_doc_count 0,
    and a two-level terms > histogram tree."""
    b = corpus.bands()
    out = []
    for i in range(n):
        w = _word(corpus, rng, b["head"] if i % 2 else b["mid"])
        kind = ("date_histogram", "histogram", "tree")[i % 3]
        aggs = dict([AGG_KINDS["terms"], AGG_KINDS[kind]])
        out.append({
            "query": {"match": {"text": w}},
            "size": 10,
            "track_total_hits": True,
            "aggs": aggs,
        })
    return out
