"""Independent reference results and the checker that compares against them.

Nothing here calls the engine: scores come from the benchmark's own token
ids (data.Corpus), with Lucene BM25 (k1=1.2, b=0.75, idf = ln(1 + (N - df
+ 0.5) / (df + 0.5))), ties broken by doc_id ascending. Deleted docs stay in
N, df and avgdl until a purge compaction removes them (``purge``).
Aggregation buckets come from pandas group-bys over the same corpus.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

K1, B = 1.2, 0.75
RTOL = 1e-9


class Oracle:
    """BM25 and aggregations over a data.Corpus, tracking which rows are in
    the index files (``physical``) and which of those are deleted."""

    def __init__(self, corpus):
        self.c = corpus
        self.tid = {str(w): i for i, w in enumerate(corpus.words)}
        self.physical = np.ones(corpus.n, dtype=bool)
        self.deleted = np.zeros(corpus.n, dtype=bool)
        self._row_of = None
        self._grams = self._words = None  # sayt field caches (vocabulary only)

    # -- bookkeeping ------------------------------------------------------
    def grow(self) -> None:
        """Register rows appended to the corpus since the last call."""
        extra = self.c.n - self.physical.size
        self.physical = np.concatenate([self.physical, np.ones(extra, bool)])
        self.deleted = np.concatenate([self.deleted, np.zeros(extra, bool)])
        self._row_of = None

    def rows(self, doc_ids) -> np.ndarray:
        if self._row_of is None:
            self._row_of = pd.Series(np.arange(self.c.n), index=self.c.doc_ids)
        return self._row_of.loc[np.asarray(doc_ids, dtype=np.int64)].to_numpy()

    def delete(self, doc_ids) -> None:
        self.deleted[self.rows(doc_ids)] = True

    def purge(self) -> None:
        self.physical &= ~self.deleted
        self.deleted[:] = False

    @property
    def live(self) -> np.ndarray:
        return self.physical & ~self.deleted

    def n_docs(self) -> int:
        return int(self.physical.sum())

    def avgdl(self) -> float:
        return float(self.c.lengths()[self.physical].sum()) / self.n_docs()

    # -- postings -----------------------------------------------------------
    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(rows, tf) of physical docs holding `term`."""
        t = self.tid.get(term)
        if t is None:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        pos = np.flatnonzero(self.c.flat == t)
        rows = np.searchsorted(self.c.offsets, pos, side="right") - 1
        rows, tf = np.unique(rows, return_counts=True)
        keep = self.physical[rows]
        return rows[keep], tf[keep]

    def df(self, term: str) -> int:
        return int(self.postings(term)[0].size)

    def bm25(
        self,
        terms: list[str],
        mode: str = "and",
        *,
        groups: list[list[str]] | None = None,
        not_terms: list[str] = (),
        allowed: np.ndarray | None = None,
        postings=None,
        dl=None,
        avgdl=None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Every matching live doc with its score, ranked (score desc,
        doc_id asc). `groups`: a doc needs >= 1 term of every group;
        `allowed`: row mask applied before ranking (a structured filter).
        `postings`/`dl`/`avgdl` swap in another field's stats."""
        terms = sorted(set(terms))
        post = postings or self.postings
        n = self.n_docs()
        avg = self.avgdl() if avgdl is None else avgdl
        lens = self.c.lengths() if dl is None else dl
        score = np.zeros(self.c.n)
        hit = np.zeros((len(terms), self.c.n), dtype=bool)
        for i, t in enumerate(terms):  # sorted-term accumulation, like Lucene
            rows, tf = post(t)
            if rows.size == 0:
                continue
            idf = math.log(1.0 + (n - rows.size + 0.5) / (rows.size + 0.5))
            tf = tf.astype(np.float64)
            part = tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * lens[rows].astype(np.float64) / avg)
            )
            score[rows] += idf * part
            hit[i, rows] = True
        if groups is not None:
            pos = {t: i for i, t in enumerate(terms)}
            match = np.ones(self.c.n, dtype=bool)
            for g in groups:
                match &= hit[[pos[t] for t in sorted(set(g))]].any(axis=0)
        elif mode == "and":
            match = hit.all(axis=0) if terms else np.zeros(self.c.n, bool)
        else:
            match = hit.any(axis=0)
        match &= self.live
        for t in not_terms:
            match[post(t)[0]] = False
        if allowed is not None:
            match &= allowed
        rows = np.flatnonzero(match)
        docs, s = self.c.doc_ids[rows], score[rows]
        order = np.lexsort((docs, -s))
        return docs[order], s[order]

    # -- search-as-you-type companion field ----------------------------------
    def sayt_bm25(self, prefix: str, lo: int, hi: int):
        """BM25 of `prefix` as a term of the edge-n-gram field: each token
        contributes its distinct leading prefixes of length lo..hi plus
        itself, so a prefix p (lo <= len(p) <= hi) has tf = the number of
        tokens starting with p."""
        if self._grams is None:
            self._grams = np.array(
                [len({w[:m] for m in range(lo, hi + 1)} | {w}) for w in self.c.words]
            )
        dl = np.add.reduceat(self._grams[self.c.flat], self.c.offsets[:-1])
        starts = self.starting_with(prefix)

        def post(_term):
            pos = np.flatnonzero(np.isin(self.c.flat, starts))
            rows = np.searchsorted(self.c.offsets, pos, side="right") - 1
            rows, tf = np.unique(rows, return_counts=True)
            keep = self.physical[rows]
            return rows[keep], tf[keep]

        avg = float(dl[self.physical].sum()) / self.n_docs()
        return self.bm25([prefix], "and", postings=post, dl=dl, avgdl=avg)

    def starting_with(self, prefix: str) -> np.ndarray:
        """Token ids of the words that start with `prefix`."""
        if self._words is None:
            self._words = self.c.words.astype(str)
        return np.flatnonzero(np.char.startswith(self._words, prefix))

    def prefix_match(self, prefix: str) -> np.ndarray:
        """Live doc ids holding a token that starts with `prefix`."""
        starts = self.starting_with(prefix)
        pos = np.flatnonzero(np.isin(self.c.flat, starts))
        rows = np.unique(np.searchsorted(self.c.offsets, pos, side="right") - 1)
        return np.sort(self.c.doc_ids[rows[self.live[rows]]])

    # -- ES bodies ----------------------------------------------------------
    def body(self, query: dict, sayt: tuple[int, int]) -> tuple[np.ndarray, np.ndarray]:
        """Ranked (doc_ids, scores) of the query shapes data.query_bodies
        draws; prefix queries score on the sayt companion with gram window
        `sayt`."""
        kind, q = next(iter(query.items()))
        if kind == "match":
            terms, op = _match(q["text"])
            return self.bm25(terms, op)
        if kind == "prefix":
            return self.sayt_bm25(q["text"], *sayt)
        if kind != "bool":
            raise ValueError(f"no oracle for {kind!r}")
        allowed = np.ones(self.c.n, dtype=bool)
        for f in q.get("filter", []):
            allowed &= self._filter(f)
        not_terms = [c["term"]["text"] for c in q.get("must_not", [])]
        if "should" in q:
            terms = [c["term"]["text"] for c in q["should"]]
            return self.bm25(terms, "or", not_terms=not_terms, allowed=allowed)
        groups, terms = [], []
        for c in q["must"]:
            t, op = _match(c["match"]["text"])
            terms += t
            groups += [t] if op == "or" else [[x] for x in t]
        return self.bm25(
            terms, groups=groups, not_terms=not_terms, allowed=allowed
        )

    def _filter(self, node: dict) -> np.ndarray:
        kind, q = next(iter(node.items()))
        field, v = next(iter(q.items()))
        if kind == "term":
            return getattr(self.c, field) == v
        col = getattr(self.c, field)
        if field == "ts":
            v = {op: np.datetime64(x, "us") for op, x in v.items()}
        ok = np.ones(self.c.n, dtype=bool)
        for op, x in v.items():
            ok &= {"gte": col >= x, "gt": col > x, "lte": col <= x,
                   "lt": col < x}[op]
        return ok

    # -- aggregations -------------------------------------------------------
    def frame(self, doc_ids) -> pd.DataFrame:
        rows = self.rows(doc_ids)
        return pd.DataFrame({
            "category": self.c.category[rows],
            "ts": self.c.ts[rows],
            "price": self.c.price[rows],
        })

    def aggs(self, aggs: dict, doc_ids) -> dict[str, list[tuple]]:
        """Expected rows per response key (as search_response names them),
        each row a tuple in the engine frame's column order, for the agg
        shapes of data.AGG_KINDS (their min_doc_count and metric child as
        spelled there)."""
        m = self.frame(doc_ids)
        out = {}
        for name, node in aggs.items():
            sub = node.get("aggs")
            kind, cfg = next((k, v) for k, v in node.items() if k != "aggs")
            if kind == "terms" and sub is None:
                g = m.groupby("category").size()
                out[f"aggs:{name}"] = sorted(
                    ((k, int(v)) for k, v in g.items()), key=lambda r: (-r[1], r[0])
                )[: cfg.get("size", 10)]
            elif kind == "date_histogram":
                (child, metric), = sub.items()
                key = m.ts.dt.to_period("W-SUN").dt.start_time
                g = m.groupby(key).price.agg(["size", "mean"])
                out[f"aggs:{name}"] = [
                    (k.to_pydatetime(), int(r["size"]), float(r["mean"]))
                    for k, r in g.sort_index().iterrows()
                ]
            elif kind == "histogram":
                iv = cfg["interval"]
                key = (m.price // iv) * iv
                g = key.value_counts()
                lo, hi = int(g.index.min()), int(g.index.max())
                out[f"aggs:{name}"] = [
                    (float(k), int(g.get(k, 0))) for k in range(lo, hi + 1, iv)
                ]
            elif kind == "terms":
                (child, hcfg), = sub.items()
                iv = hcfg["histogram"]["interval"]
                g = m.assign(b=(m.price // iv) * iv).groupby(["category", "b"]).size()
                out[f"aggs:{name}>{child}"] = sorted(
                    (c, float(b), int(v)) for (c, b), v in g.items()
                )
            else:
                raise ValueError(f"no oracle for agg {kind!r}")
        return out


def _match(v) -> tuple[list[str], str]:
    if isinstance(v, str):
        return sorted(set(v.split())), "or"
    return sorted(set(v["query"].split())), v.get("operator", "or")


# -- the checker ------------------------------------------------------------
def check_hits(got, exp_docs, exp_scores, k: int | None) -> str | None:
    """None when `got` [(doc_id, score), ...] is a correct top-k page of the
    expected ranking; otherwise the reason. Scores must agree within RTOL;
    docs tied on the oracle score (bit-equal) rank by doc_id."""
    exp = dict(zip(exp_docs.tolist(), exp_scores.tolist()))
    want = len(exp) if k is None else min(k, len(exp))
    if len(got) != want:
        return f"{len(got)} hits, expected {want}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc in hits"
    for d, s in got:
        if d not in exp:
            return f"doc {d} is not a match"
        if abs(s - exp[d]) > RTOL * max(1.0, abs(exp[d])):
            return f"doc {d} score {s!r}, expected {exp[d]!r}"
    for (d1, s1), (d2, s2) in zip(got, got[1:]):
        if (s1, -d1) < (s2, -d2):
            return f"hits out of order at doc {d2}"
    if got:
        last_d, _ = got[-1]
        last = exp[last_d]
        shown = {d for d, _ in got}
        for d, s in exp.items():
            if d in shown:
                continue
            if s > last + RTOL * max(1.0, abs(last)) or (s == last and d < last_d):
                return f"doc {d} (score {s!r}) missing from hits"
    return None


def check_rows(got: list[tuple], exp: list[tuple], ordered: bool) -> str | None:
    """Aggregation rows: equal up to float tolerance (floats) and, unless
    `ordered`, up to row order."""
    if not ordered:
        got, exp = sorted(got), sorted(exp)
    if len(got) != len(exp):
        return f"{len(got)} buckets, expected {len(exp)}"
    for g, e in zip(got, exp):
        if len(g) != len(e):
            return f"bucket {g} has the wrong shape"
        for a, b in zip(g, e):
            if isinstance(b, float):
                if a is None or abs(a - b) > RTOL * max(1.0, abs(b)):
                    return f"bucket {g}, expected {e}"
            elif a != b:
                return f"bucket {g}, expected {e}"
    return None


def self_test(sample_hits, sample_buckets=None) -> str | None:
    """The checker must reject corrupted copies of results it accepted.
    `sample_hits` = (got, exp_docs, exp_scores, k): a correct page with at
    least one hit; `sample_buckets` = (got, exp): correct terms-agg rows
    (key, doc_count), on workloads that run aggregations."""
    got, docs, scores, k = sample_hits
    if check_hits(got, docs, scores, k) is not None:
        return "the checker rejects the uncorrupted page"
    shown = {d for d, _ in got}
    outsider = next((int(d) for d in docs if d not in shown), -1)
    corrupted = {
        "swapped doc": check_hits([(outsider, got[0][1])] + got[1:], docs, scores, k),
        "pushed score": check_hits(
            [(got[0][0], got[0][1] * (1 + 1e-6))] + got[1:], docs, scores, k
        ),
    }
    if sample_buckets is not None:
        rows, exp_rows = sample_buckets
        if check_rows(rows, exp_rows, ordered=True) is not None:
            return "the checker rejects the uncorrupted buckets"
        corrupted["bucket off by one"] = check_rows(
            [(rows[0][0], rows[0][1] + 1)] + rows[1:], exp_rows, ordered=True
        )
    for name, verdict in corrupted.items():
        if verdict is None:
            return f"the checker accepts a {name}"
    return None
