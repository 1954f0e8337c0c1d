"""ES custom routing: `?routing=` on index and search.

Reference behavior: ES routes each document to shard
`hash(routing_value) % n_shards` (routing defaults to _id; a custom
routing field co-locates related docs), and a search passing `routing=v`
fans out ONLY to v's shard — the latency/fan-out win custom routing
exists for. Docs with other routing values that share the shard are
still searched (ES narrows to the shard, not the value; add a query
filter for exact narrowing).

Spark-first shape: one index directory per shard under
`<base>/shard=<i>`, routed by the cross-engine 60-bit md5 hash
(operators/texthash.py — the same routing split_index uses, so a DuckDB
oracle reproduces shard membership verbatim). Ranking keeps GLOBAL
collection stats (the ShardedIndex DFS contract): a routed search
returns the global ranking restricted to the shard's docs — scores are
identical to the monolithic index, preserving the rank-identity
invariant. (ES's default query_then_fetch would use shard-local stats;
the DFS behavior is the deterministic one and is what ShardedIndex
already promises. Documented deviation.)

100 TB note: the routed path touches one shard's segment files + the
per-term stats rows of every shard (global df) — stats are vocabulary-
sized, so cross-shard stats cost is independent of corpus size.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession

from elasticsearch_assets_spark.query.sharded import ShardedIndex


def routing_shard(value, n_shards: int) -> int:
    """Python twin of split_routing_col/-sql: 60-bit md5 of the string
    form, mod n — bit-identical to both engines' expressions."""
    h = int(hashlib.md5(str(value).encode("utf-8")).hexdigest()[:15], 16)
    return h % n_shards


def build_routed_shards(
    spark: SparkSession,
    corpus: DataFrame,
    base_dir: str,
    n_shards: int,
    routing_col: str,
    *,
    num_segments: int = 4,
    num_chunks: int = 1,
    **build_kwargs,
) -> None:
    """Build `n_shards` shard indexes under base_dir/shard=<i>, routed on
    `routing_col` (hash60(str(value)) % n). One pass per shard over the
    corpus with the routing predicate pushed to the scan; shard builds
    are independent (parallelize across jobs in production)."""
    from pyspark.sql import functions as F

    from elasticsearch_assets_spark.index.build import build_index
    from elasticsearch_assets_spark.index.reshard import split_routing_col

    if n_shards < 2:
        raise ValueError("routing needs at least two shards")
    if os.path.exists(os.path.join(base_dir, "routing.json")):
        raise ValueError(f"routed index already exists: {base_dir!r}")
    shards: "dict[str, str | None]" = {}
    for t in range(n_shards):
        sub = corpus.where(
            split_routing_col(F.col(routing_col), n_shards, t)
        )
        # a shard no routing value hashes to stays empty — legal in ES
        # (recorded as null; routed searches of its values return [])
        if sub.isEmpty():
            shards[str(t)] = None
            continue
        build_index(
            spark, sub, os.path.join(base_dir, f"shard={t}"),
            num_segments=num_segments,
            num_chunks=num_chunks,
            **build_kwargs,
        )
        shards[str(t)] = f"shard={t}"
    tmp = os.path.join(base_dir, "routing.json.tmp")
    with open(tmp, "w") as f:
        json.dump(
            {
                "n_shards": n_shards,
                "routing_col": routing_col,
                "shards": shards,
            },
            f,
        )
    os.replace(tmp, os.path.join(base_dir, "routing.json"))


class RoutedIndex(ShardedIndex):
    """ShardedIndex whose shards were routed on a field; `routing=` on
    search narrows the fan-out to one shard under global stats."""

    def __init__(self, spark: SparkSession, base_dir: str):
        path = os.path.join(base_dir, "routing.json")
        if not os.path.exists(path):
            raise ValueError(f"no routed index at {base_dir!r}")
        with open(path) as f:
            cfg = json.load(f)
        self.n_shards = int(cfg["n_shards"])
        self.routing_col = cfg["routing_col"]
        self._shard_idx: "dict[int, int | None]" = {}
        dirs: "list[str]" = []
        for t in range(self.n_shards):
            sub = cfg["shards"][str(t)]
            if sub is None:
                self._shard_idx[t] = None
            else:
                self._shard_idx[t] = len(dirs)
                dirs.append(os.path.join(base_dir, sub))
        if not dirs:
            raise ValueError(f"routed index {base_dir!r} has no shards")
        super().__init__(spark, dirs)

    def shard_of(self, routing) -> int:
        return routing_shard(routing, self.n_shards)

    def search_local(
        self,
        query: "str | list[str]",
        k: "int | None" = 10,
        mode: str = "and",
        routing=None,
        **kwargs,
    ) -> "list[tuple[int, float]]":
        if routing is None:
            return super().search_local(query, k=k, mode=mode, **kwargs)
        from elasticsearch_assets_spark.analysis.tokenizer import tokenize
        from elasticsearch_assets_spark.query.bm25 import idf

        opt_should = kwargs.pop("opt_should", None)
        opt_msm = int(kwargs.pop("opt_msm", 0))
        if opt_should is not None and mode != "and":
            # same contract as the unrouted path — never silently run an
            # OR must with AND semantics
            raise ValueError("opt_should composes with must (mode='and')")
        if kwargs:
            # loud, not a silent no-op: a dropped knob under routing
            # would silently change ranking semantics
            raise TypeError(
                f"unsupported kwargs with routing: {sorted(kwargs)}"
            )
        terms = sorted(
            set(tokenize(query) if isinstance(query, str) else query)
        )
        if not terms:
            return []
        clauses = [
            (sorted(set(ts)), float(w)) for ts, w in (opt_should or [])
            if ts
        ]
        opt_terms = sorted(
            {t for ts, _ in clauses for t in ts} - set(terms)
        )
        # GLOBAL stats (every shard's df), ONE shard's postings
        dfs = self.term_stats(sorted(set(terms) | set(opt_terms)))
        if mode == "and" and any(t not in dfs for t in terms):
            return []
        idfs = {
            t: idf(self.n_docs, dfs.get(t, 0))
            for t in sorted(set(terms) | set(opt_terms))
        }
        pos = self._shard_idx[self.shard_of(routing)]
        if pos is None:  # routing value hashes to an empty shard
            return []
        hits = self._shard_local(
            self.shards[pos], terms, idfs, k, mode,
            clauses if opt_should is not None else None, opt_msm,
        )
        hits.sort(key=lambda ds: (-ds[1], ds[0]))
        return hits[:k] if k is not None else hits

    def search(
        self,
        query: "str | list[str]",
        k: "int | None" = 10,
        mode: str = "and",
        routing=None,
        **kwargs,
    ) -> DataFrame:
        from elasticsearch_assets_spark.query.engine import hits_frame

        return hits_frame(
            self.spark,
            self.search_local(query, k=k, mode=mode, routing=routing, **kwargs),
        )
