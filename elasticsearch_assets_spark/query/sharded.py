"""Sharded index serving (the 10^12-doc topology, docs/SCALE.md).

One index directory per shard (disjoint doc sets — e.g. one per corpus
partition family or time range). Queries compute **global** collection
statistics (df summed across shards, N/avgdl combined) and rank each shard
with those — so scores are identical to a single monolithic index over the
union corpus (tested), exactly how Elasticsearch computes distributed IDF
with DFS query-then-fetch. The per-shard work reuses the serving kernels;
the coordinator merges per-shard top-k.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

from elasticsearch_assets_spark.analysis.tokenizer import tokenize
from elasticsearch_assets_spark.query.bm25 import idf
from elasticsearch_assets_spark.query.engine import (
    InvertedIndex,
    _score_optional_should,
    _score_postings,
    hits_frame,
)


class ShardedIndex:
    def __init__(self, spark: SparkSession, shard_dirs: list[str]):
        if not shard_dirs:
            raise ValueError("need at least one shard")
        self.spark = spark
        self.shards = [InvertedIndex(spark, d) for d in shard_dirs]
        self.n_docs = sum(s.meta.n_docs for s in self.shards)
        self.total_tokens = sum(s.meta.total_tokens for s in self.shards)
        self.avgdl = self.total_tokens / self.n_docs
        # k1/b must agree across shards
        k1s = {(s.meta.k1, s.meta.b) for s in self.shards}
        if len(k1s) != 1:
            raise ValueError(f"shards disagree on BM25 params: {k1s}")
        (self.k1, self.b), = k1s

    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """Global df = sum over shards (disjoint doc sets)."""
        out: dict[str, int] = {}
        for s in self.shards:
            for t, df_ in s.term_stats(terms).items():
                out[t] = out.get(t, 0) + df_
        return out

    def count_term(self, term: str) -> int:
        return self.term_stats([term]).get(term, 0)

    def search_local(
        self,
        query: str | list[str],
        k: int | None = 10,
        mode: str = "and",
        boosts: list[float] | None = None,
        opt_should: "list[tuple[list[str], float]] | None" = None,
        opt_msm: int = 0,
    ) -> list[tuple[int, float]]:
        """Coordinating-node search: global idfs -> per-shard kernel scoring
        -> k-way merge with the canonical (score DESC, doc_id ASC) order.

        `boosts` is ES `indices_boost`: one multiplier per shard applied
        to that shard's scores BEFORE the global merge. The multiplier is
        monotone within a shard, so the per-shard top-k cut is unchanged
        and the boost composes exactly with block-max pruning.

        `opt_should` / `opt_msm`: the bool must+should optional-clause
        composition — same kernel as search_optional_should with GLOBAL
        (idfs, avgdl) substituted, so sharded results stay rank-identical
        to the monolithic index (tested). Clause membership is a per-doc
        property and shards are doc-disjoint, so per-shard counting IS
        global counting."""
        if boosts is not None and len(boosts) != len(self.shards):
            raise ValueError("indices_boost needs one multiplier per shard")
        if opt_should is not None and mode != "and":
            raise ValueError("opt_should composes with must (mode='and')")
        terms = sorted(set(tokenize(query) if isinstance(query, str) else query))
        if not terms:
            return []
        clauses = [
            (sorted(set(ts)), float(w)) for ts, w in (opt_should or [])
            if ts
        ]
        opt_terms = sorted({t for ts, _ in clauses for t in ts} - set(terms))
        dfs = self.term_stats(sorted(set(terms) | set(opt_terms)))
        if mode == "and" and any(t not in dfs for t in terms):
            return []
        idfs = {
            t: idf(self.n_docs, dfs.get(t, 0))
            for t in sorted(set(terms) | set(opt_terms))
        }
        allhits: list[tuple[int, float]] = []
        for i, s in enumerate(self.shards):
            hits = self._shard_local(
                s, terms, idfs, k, mode,
                clauses if opt_should is not None else None, opt_msm,
            )
            if boosts is not None:
                b = float(boosts[i])
                hits = [(d, sc * b) for d, sc in hits]
            allhits.extend(hits)
        allhits.sort(key=lambda ds: (-ds[1], ds[0]))
        return allhits[:k] if k is not None else allhits

    def _shard_local(self, shard, terms, idfs, k, mode,
                     opt_clauses=None, opt_msm: int = 0):
        """One shard's driver-placed top-k (`InvertedIndex.search_local`'s
        kernels) with GLOBAL (idfs, avgdl) substituted."""
        if opt_clauses is not None:
            kernel = functools.partial(
                _score_optional_should, must_groups=[[t] for t in terms],
                clauses=opt_clauses, idfs=idfs, avgdl=self.avgdl, k1=self.k1,
                b=self.b, k=k, excluded=shard.tombstones, allowed=None,
                min_should_match=opt_msm,
            )
        else:
            kernel = functools.partial(
                _score_postings, terms=terms, idfs=idfs, avgdl=self.avgdl,
                k1=self.k1, b=self.b, mode=mode, k=k,
                excluded=shard.tombstones,
            )
        fetch = sorted(
            set(terms) | {t for ts, _ in (opt_clauses or []) for t in ts}
        )
        return shard._driver_hits(fetch, kernel, k)

    def search(
        self,
        query: str | list[str],
        k: int | None = 10,
        mode: str = "and",
        boosts: list[float] | None = None,
    ) -> DataFrame:
        """DataFrame result for parity with InvertedIndex.search."""
        return hits_frame(
            self.spark, self.search_local(query, k=k, mode=mode, boosts=boosts)
        )
