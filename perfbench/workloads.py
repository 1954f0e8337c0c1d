"""The three workloads. Each is a closed loop of one client: ``setup`` builds
what the loop needs and warms every operation once, ``round`` runs one
fixed sequence of operations (the harness repeats it until the window is
over), and every output is checked against ``oracle.Oracle`` outside the
timed part of the operation.

Every operation runs inside the run's tracer spans, around the calls into
each layer's public functions; the layer names are the package's module
paths. Untraced (``--trace 0``), the tracer is a ``spans.NullTracer`` that
records nothing, and the traced-only extra calls behind ``tr.enabled``
(forced planning, the serving layers one by one, aggregations alone) are
skipped.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import data
import oracle as O

N_DOCS = 10_000  # base corpus, sentinels excluded
CHURN_BATCH = 500  # docs appended and docs deleted per ingest_churn round
DELETE_CHUNKS = 5  # add_tombstones calls that delete a round's CHURN_BATCH docs
CHURN_QUERIES = 6  # term queries per ingest_churn round
SEGMENTS = 8
SAYT = (3, 4)  # edge n-gram window of the search-as-you-type companion
TOKENIZE_SAMPLE = 2_000  # docs in the analysis.tokenize_series probe

# traced spans whose Spark job / task counts are per-layer metrics
JOB_METRICS = {
    "index.build.build_index": {
        "spark_jobs": "index.build.spark_jobs", "tasks": "index.build.tasks",
    },
    "streaming.index_stream.StreamingIndexWriter": {
        "spark_jobs": "streaming.index_stream.spark_jobs_per_epoch",
    },
    "query.engine.execute": {
        "spark_jobs": "query.engine.spark_jobs_per_query",
        "tasks": "query.engine.tasks_per_query",
    },
}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def index_bytes(index_dir: str) -> int:
    return dir_bytes(os.path.join(index_dir, "segments")) + dir_bytes(
        os.path.join(index_dir, "stats")
    )


class Workload:
    """Shared set-up: the seeded corpus as parquet, the index over it."""

    #: operation kind -> how many of it one round runs (for round_ms)
    ROUND: dict[str, int] = {}
    #: the groups of operation kinds that kind_geomean_ms weighs equally
    GROUPS: tuple[tuple[str, ...], ...] = ()

    def __init__(self, bench):
        self.b = bench
        self.tr = bench.tr
        self.spark = bench.spark
        self.corpus = data.Corpus(bench.seed, N_DOCS)
        self.oracle = O.Oracle(self.corpus)
        self.rng = np.random.default_rng([bench.seed, 1])
        self.corpus_path = self.write_parquet("corpus", self.corpus.frame())
        self.corpus_df = self.spark.read.parquet(self.corpus_path)
        self.index_dir = os.path.join(bench.work, "index")
        if self.tr.enabled:
            self.trace_tokenizer()

    def write_parquet(self, name: str, frame) -> str:
        path = os.path.join(self.b.work, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)
        return path

    def build(self, frame_df, index_dir: str, sayt: bool = False) -> None:
        from elasticsearch_assets_spark.index.build import (
            build_index,
            build_sayt_index,
        )

        name = "index.build.build_sayt_index" if sayt else "index.build.build_index"
        fn = build_sayt_index if sayt else build_index
        kw = {"lo": SAYT[0], "hi": SAYT[1]} if sayt else {}
        with self.tr.request(name, jobs=True) as s:
            fn(self.spark, frame_df, index_dir, num_segments=SEGMENTS, **kw)
        if self.tr.enabled and not sayt:
            self.tr.timed("index.build.build_index_s", s, scale=1.0)
            self.tr.add("index.build.bytes_written", index_bytes(index_dir))

    def trace_tokenizer(self) -> None:
        from elasticsearch_assets_spark.analysis.tokenizer import tokenize_series

        texts = self.corpus.frame(slice(0, TOKENIZE_SAMPLE))["text"]
        for _ in range(3):
            with self.tr.request("analysis.tokenize_series") as s:
                toks = tokenize_series(texts)
            self.tr.add(
                "analysis.tokenize_docs_per_s", len(toks) / (s["end"] - s["start"])
            )

    def index_bytes_per_doc(self) -> float:
        return index_bytes(self.index_dir) / int(self.oracle.live.sum())

    # -- term queries, shared by term_search and ingest_churn -------------
    def search(self, idx, q: dict):
        """search(...).collect() as [(doc_id, score)]. Traced, it is split
        into term_stats / compile (lazy frame) / plan / execute spans, and
        the serving layers are then traced one by one."""
        terms, k, mode = q["terms"], q["k"], q["mode"]
        tr = self.tr
        if tr.enabled:
            with tr.span("query.engine.term_stats") as s:
                idx.term_stats(terms)
            tr.timed("query.engine.term_stats_ms", s)
        with tr.span("query.engine.compile") as s:
            frame = idx.search(terms, k=k, mode=mode)
        tr.timed("query.engine.compile_ms", s)
        rows = self.execute(frame)
        if tr.enabled:
            self.trace_serving_layers(idx, terms, k, mode)
        return rows

    def execute(self, frame):
        """collect() of a query frame as [(doc_id, score)]; traced, the
        Catalyst planning is forced in its own span first."""
        tr = self.tr
        if tr.enabled:
            with tr.span("query.engine.plan") as s:
                frame._jdf.queryExecution().executedPlan()
            tr.timed("query.engine.plan_ms", s)
        with tr.span("query.engine.execute", jobs=True) as s:
            rows = frame.collect()
        tr.timed("query.engine.execute_ms", s)
        return [(r[0], r[1]) for r in rows]

    def trace_serving_layers(self, idx, terms, k, mode) -> None:
        """The layers a query's scoring crosses, called one by one (traced
        runs only): the pushed `term IN` scan, TermPostings decode, and
        (for flat AND / OR queries, `mode` not None) the top-k kernel per
        segment, as search_local and the distributed scorer call them."""
        from pyspark.sql import functions as F

        from elasticsearch_assets_spark.query.bm25 import idf
        from elasticsearch_assets_spark.query.wand import (
            TermPostings,
            topk_conjunctive,
            topk_disjunctive_pruned,
        )

        tr = self.tr
        with tr.span("query.engine.scan", jobs=True) as s:
            rows = idx.segments.where(F.col("term").isin(terms)).collect()
        tr.timed("query.engine.scan_ms", s)
        tr.add("query.engine.postings_rows", len(rows))
        tr.add(
            "query.engine.postings_bytes",
            sum(len(r["doc_gaps"]) + len(r["tfs_enc"]) + len(r["doclens_enc"])
                for r in rows),
        )
        with tr.span("query.wand.decode") as s:
            by_seg: dict = {}
            dfs: dict[str, int] = {}
            for r in rows:
                by_seg.setdefault(r["seg_id"], {})[r["term"]] = TermPostings(r)
                dfs[r["term"]] = dfs.get(r["term"], 0) + r["df"]
        tr.timed("query.wand.decode_ms", s)
        if mode is None or (mode == "and" and len(dfs) < len(terms)):
            return
        meta = idx.meta
        idfs = {t: idf(meta.n_docs, dfs.get(t, 0)) for t in terms}
        kernel = topk_conjunctive if mode == "and" else topk_disjunctive_pruned
        with tr.span("query.wand.kernel") as s:
            for postings in by_seg.values():
                kernel(terms, postings, idfs, meta.avgdl, meta.k1, meta.b, k,
                       idx.tombstones, None)
        tr.timed("query.wand.kernel_ms", s)

    def check_term_query(self, label: str, idx, q: dict, got) -> None:
        docs, scores = self.oracle.bm25(q["terms"], q["mode"])
        self.b.check(label, O.check_hits(got, docs, scores, q["k"]))
        self.b.sample_hits(got, docs, scores, q["k"])
        dead = set(self.corpus.doc_ids[~self.oracle.live].tolist())
        if any(d in dead for d, _ in got):
            self.b.check(label, "a deleted doc was returned")

    def check_df(self, idx, terms: list[str]) -> None:
        """term_stats df == df summed over the scanned segment rows ==
        the oracle's df."""
        from pyspark.sql import functions as F

        stats = idx.term_stats(terms)
        scanned: dict[str, int] = {}
        for r in idx.segments.where(F.col("term").isin(terms)).select(
            "term", "df"
        ).collect():
            scanned[r[0]] = scanned.get(r[0], 0) + r[1]
        want = {t: self.oracle.df(t) for t in terms if self.oracle.df(t)}
        if not (stats == scanned == want):
            self.b.check("df", f"term_stats {stats}, segments {scanned}, oracle {want}")


class TermSearch(Workload):
    """Flat term queries through the distributed and the serving path."""

    ROUND = {"search_head": 1, "search_mid": 1, "search_tail": 1, "serving": 3}
    GROUPS = (("search_head", "search_mid", "search_tail"), ("serving",))

    def setup(self) -> None:
        from elasticsearch_assets_spark.query.engine import InvertedIndex

        self.build(self.corpus_df, self.index_dir)
        self.idx = InvertedIndex(self.spark, self.index_dir)
        self.queries = data.term_queries(self.corpus, self.rng, 300)
        for q in self.queries[:3]:  # warm-up: both paths, every band
            self.search(self.idx, q)
            self.serving(q)
        self.n_queries = 3  # timed queries differ from the warm-up's

    def serving(self, q: dict):
        with self.tr.span("query.engine.search_local") as s:
            got = self.idx.search_local(q["terms"], k=q["k"], mode=q["mode"])
        self.tr.timed("query.engine.search_local_ms", s)
        return got

    def round(self) -> None:
        for _ in range(3):  # one query of each band, head / mid / tail
            q = self.queries[self.n_queries % len(self.queries)]
            self.n_queries += 1
            got = self.b.op(f"search_{q['band']}", lambda: self.search(self.idx, q))
            local = self.b.op("serving", lambda: self.serving(q))
            self.check_term_query(f"search {q}", self.idx, q, got)
            if local != got:
                self.b.check(f"search_local {q}", "differs from search().collect()")
        self.check_df(self.idx, q["terms"])

    def finish(self) -> dict:
        return {"index_bytes_per_doc": self.index_bytes_per_doc()}


class EsBodies(Workload):
    """ES request bodies through search_dsl and search_response."""

    ROUND = {"dsl": 10, "prefix": 2, "response": 3}
    GROUPS = (("dsl",), ("prefix",), ("response",))

    def setup(self) -> None:
        from elasticsearch_assets_spark.query.engine import InvertedIndex

        self.build(self.corpus_df, self.index_dir)
        self.sayt_dir = os.path.join(self.b.work, "sayt")
        self.build(self.corpus_df, self.sayt_dir, sayt=True)
        self.idx = InvertedIndex(self.spark, self.index_dir)
        self.idx.attach_sayt(InvertedIndex(self.spark, self.sayt_dir), *SAYT)
        self.bodies = data.query_bodies(self.corpus, self.rng, 240)
        self.agg_bodies = data.agg_bodies(self.corpus, self.rng, 60)
        for body in self.bodies[:6] + self.agg_bodies[:3]:  # warm-up: every shape
            (self.response if "aggs" in body else self.dsl)(body)
        self.n_bodies, self.n_aggs = 6, 3  # timed bodies differ from the warm-up's

    def dsl(self, body: dict):
        from elasticsearch_assets_spark.query.dsl import compile_body, search_dsl

        tr = self.tr
        kind, q = next(iter(body["query"].items()))
        if tr.enabled and kind == "prefix":
            tr.count("query.dsl.sayt_routed", int(self.idx.sayt_routes(len(q["text"]))))
        elif tr.enabled:
            with tr.span("query.dsl.compile_body") as s:
                compile_body(body["query"], self.idx)
            tr.timed("query.dsl.compile_ms", s)
        with tr.span("query.dsl.search_dsl"):
            frame = search_dsl(self.idx, body, self.corpus_df)
        rows = self.execute(frame)
        if tr.enabled and kind != "prefix":
            terms, mode = data.scoring_terms(body["query"])
            self.trace_serving_layers(self.idx, terms, body["size"], mode)
        return rows

    def response(self, body: dict) -> dict:
        from elasticsearch_assets_spark.query.dsl import search_response

        frames = search_response(self.idx, body, self.corpus_df)
        out = {k: [tuple(r) for r in f.collect()] for k, f in frames.items()}
        if self.tr.enabled:
            self.trace_aggs(body)
        return out

    def trace_aggs(self, body: dict) -> None:
        """Every aggregation kind alone through aggs_dsl, over the body's
        match frame persisted (the plan search_response runs for its
        aggs)."""
        from pyspark import StorageLevel

        from elasticsearch_assets_spark.query.dsl import aggs_dsl, search_dsl

        tr = self.tr
        matched = search_dsl(
            self.idx, {"query": body["query"], "size": None}, self.corpus_df
        ).select("doc_id").persist(StorageLevel.MEMORY_AND_DISK)
        matched.count()
        for kind, (name, node) in data.AGG_KINDS.items():
            with tr.span(f"operators.facets.{kind}") as s:
                frames = aggs_dsl({name: node}, matched, self.corpus_df)
                n = sum(len(f.collect()) for f in frames.values())
            tr.timed(f"operators.facets.aggs_{kind}_ms", s)
            tr.add("operators.facets.buckets", n)
        matched.unpersist()

    def round(self) -> None:
        """The six body shapes of data.query_bodies in turn, twice, with
        an aggregation body after every fourth one, so that a round holds
        each of the three aggregation kinds once and is longer than the
        run's window: every run times the same sequence."""
        for i in range(12):
            body = self.bodies[self.n_bodies % len(self.bodies)]
            self.n_bodies += 1
            kind = "prefix" if "prefix" in body["query"] else "dsl"
            got = self.b.op(kind, lambda: self.dsl(body))
            docs, scores = self.oracle.body(body["query"], SAYT)
            self.b.check(f"dsl {body}", O.check_hits(got, docs, scores, body["size"]))
            if i % 4 == 3:
                self.aggregate()

    def aggregate(self) -> None:
        body = self.agg_bodies[self.n_aggs % len(self.agg_bodies)]
        self.n_aggs += 1
        resp = self.b.op("response", lambda: self.response(body))
        self.check_response(body, resp)

    def check_response(self, body: dict, resp: dict) -> None:
        docs, scores = self.oracle.body(body["query"], SAYT)
        label = f"response {body}"
        self.b.check(label, O.check_hits(resp["hits"], docs, scores, body["size"]))
        self.b.sample_hits(resp["hits"], docs, scores, body["size"])
        if resp["total"] != [(len(docs), "eq")]:
            self.b.check(label, f"total {resp['total']}, expected {len(docs)}")
        exp = self.oracle.aggs(body["aggs"], docs)
        if set(resp) != {"hits", "total", *exp}:
            self.b.check(label, f"sections {sorted(resp)}")
            return
        for key, rows in exp.items():
            ordered = key == "aggs:by_cat"  # terms buckets: count desc, key asc
            self.b.check(f"{label} {key}", O.check_rows(resp[key], rows, ordered))
        self.b.sample_buckets(resp["aggs:by_cat"], exp["aggs:by_cat"])
        if sum(c for _, c in resp["aggs:by_cat"]) != resp["total"][0][0]:
            self.b.check(label, "terms buckets do not sum to the total")

    def finish(self) -> dict:
        return {"index_bytes_per_doc": self.index_bytes_per_doc()}


class IngestChurn(Workload):
    """Appends and deletes beside reads, with a purge compaction per round."""

    ROUND = {"append": 1, "delete": DELETE_CHUNKS, "churn_search": CHURN_QUERIES,
             "compaction": 1}
    # no "delete" group: a delete is ~1 ms of file bookkeeping whose median
    # swings two-fold from one process to the next (README, End-to-end metrics)
    GROUPS = (("append",), ("churn_search",), ("compaction",))
    PREFIX_BODY = {"query": {"prefix": {"text": data.SENTINEL_PREFIX}}, "size": 1_000}

    def setup(self) -> None:
        from elasticsearch_assets_spark.query.engine import InvertedIndex
        from elasticsearch_assets_spark.streaming.index_stream import (
            StreamingIndexWriter,
        )

        t = time.perf_counter()
        self.build(self.corpus_df, self.index_dir)
        self.build_s = time.perf_counter() - t
        # the companion covers the sentinel docs: the only docs the
        # sentinel prefix can match, so before any churn it routes exactly
        self.sayt_dir = os.path.join(self.b.work, "sayt")
        sentinels = self.corpus_df.where(f"doc_id >= {data.SENTINEL_BASE}")
        self.build(sentinels, self.sayt_dir, sayt=True)
        self.idx = InvertedIndex(self.spark, self.index_dir)
        self.writer = StreamingIndexWriter(
            self.index_dir, segs_per_batch=SEGMENTS, nparts=SEGMENTS
        )
        self.base, self.appended, self.purged = int(self.oracle.live.sum()), 0, 0
        self.round_no = 0
        self.queries = data.term_queries(self.corpus, self.rng, 300)
        self.bytes_per_doc: list[float] = []
        self.n_queries = 0
        self.search(self.idx, self.queries[0])  # warm-up of the query path
        self.sayt_after_churn()  # warm-up of the prefix routes, before any churn
        if self.b.failed:
            self.b.check("prefix before churn", "routed and bare handles differ")

    def next_batch(self):
        r = self.round_no
        ids = data.APPEND_BASE + r * CHURN_BATCH + np.arange(CHURN_BATCH, dtype=np.int64)
        batch = self.corpus.draw_docs(ids, np.random.default_rng([self.b.seed, 2, r]))
        start = self.corpus.n
        self.corpus.append(batch)
        self.oracle.grow()
        return ids, self.write_parquet(f"batch{r}", self.corpus.frame(slice(start, None)))

    def victims(self) -> np.ndarray:
        """CHURN_BATCH live docs: one fixed sentinel (while any is left)
        and seeded picks among the other live docs."""
        live = self.oracle.live
        rng = np.random.default_rng([self.b.seed, 3, self.round_no])
        ids = self.corpus.doc_ids
        is_sentinel = (ids >= data.SENTINEL_BASE) & (ids < data.APPEND_BASE)
        sent = ids[live & is_sentinel]
        pool = ids[live & ~is_sentinel]
        take = sent[:1]
        rest = rng.choice(pool, CHURN_BATCH - take.size, replace=False)
        return np.sort(np.concatenate([take, rest]))

    def append(self, path: str) -> None:
        from elasticsearch_assets_spark.index.build import read_manifest

        # epoch ids must not reuse a chunk id, compaction rows included
        epoch = max(r["chunk_id"] for r in read_manifest(self.index_dir)) + 1
        batch_df = self.spark.read.parquet(path)
        with self.tr.span("streaming.index_stream.StreamingIndexWriter", jobs=True) as s:
            self.writer(batch_df, epoch)
        self.tr.timed("streaming.index_stream.epoch_s", s, scale=1.0)
        with self.tr.span("query.engine.refresh_tombstones"):
            self.idx.refresh_tombstones()

    def delete(self, ids) -> None:
        from elasticsearch_assets_spark.index.tombstones import add_tombstones

        with self.tr.span("index.tombstones.add_tombstones") as s:
            add_tombstones(self.index_dir, ids.tolist())
        self.tr.timed("index.tombstones.add_ms", s)
        with self.tr.span("query.engine.refresh_tombstones") as s:
            self.idx.refresh_tombstones()
        self.tr.timed("query.engine.refresh_tombstones_ms", s)

    def compact(self) -> None:
        from elasticsearch_assets_spark.index.merge import merge_segments

        tr = self.tr
        with tr.span("index.merge.merge_segments", jobs=True) as s:
            merge_segments(self.spark, self.index_dir, SEGMENTS, apply_tombstones=True)
        tr.timed("index.merge.merge_segments_s", s, scale=1.0)
        if tr.enabled:
            tr.add("index.merge.bytes_written", dir_bytes(os.path.join(self.index_dir, "segments")))
        self.idx.refresh_tombstones()
        tr.add("index.merge.segments_after", self.idx.meta.num_segments)

    def round(self) -> None:
        ids, path = self.next_batch()
        self.b.op("append", lambda: self.append(path))
        self.appended += ids.size
        if self.idx.meta.n_docs != self.oracle.n_docs():
            self.b.check("append", f"n_docs {self.idx.meta.n_docs}, expected {self.oracle.n_docs()}")
        self.check_appended_found(ids)

        victims = self.victims()
        for chunk in np.array_split(victims, DELETE_CHUNKS):
            self.b.op("delete", lambda: self.delete(chunk))
            self.oracle.delete(chunk)
        for _ in range(CHURN_QUERIES):
            q = self.queries[self.n_queries % len(self.queries)]
            self.n_queries += 1
            got = self.b.op("churn_search", lambda: self.search(self.idx, q))
            self.check_term_query(f"churn search {q}", self.idx, q, got)

        self.b.op("compaction", self.compact)
        self.oracle.purge()
        self.purged += victims.size
        want = self.base + self.appended - self.purged
        if not (self.idx.meta.n_docs == want == self.oracle.n_docs()):
            self.b.check("compaction", f"n_docs {self.idx.meta.n_docs}, expected {want}")
        self.bytes_per_doc.append(self.index_bytes_per_doc())
        self.check_df(self.idx, self.queries[self.n_queries % len(self.queries)]["terms"])
        self.sayt_after_churn()
        self.round_no += 1

    def check_appended_found(self, ids) -> None:
        """Every appended doc is found by its rarest term."""
        df = self.corpus.doc_freq()
        rows = self.oracle.rows(ids)
        terms = []
        for r in rows:
            toks = self.corpus.flat[self.corpus.offsets[r] : self.corpus.offsets[r + 1]]
            terms.append(str(self.corpus.words[toks[np.argmin(df[toks])]]))
        found = {d for d, _ in self.idx.search_local(sorted(set(terms)), k=None, mode="or")}
        missing = [int(d) for d in ids if d not in found]
        if missing:
            self.b.check("append", f"{len(missing)} appended docs not found, e.g. {missing[:3]}")

    def sayt_after_churn(self) -> None:
        """The known-failing operation: a prefix body on a handle with the
        (stale) sayt companion attached must match the same docs as on a
        bare handle, which expands the prefix over the term dictionary."""
        from elasticsearch_assets_spark.query.dsl import search_dsl
        from elasticsearch_assets_spark.query.engine import InvertedIndex

        bare = InvertedIndex(self.spark, self.index_dir)
        routed = InvertedIndex(self.spark, self.index_dir)
        routed.attach_sayt(InvertedIndex(self.spark, self.sayt_dir), *SAYT)
        want = self.oracle.prefix_match(data.SENTINEL_PREFIX).tolist()
        got_bare = sorted(r[0] for r in search_dsl(bare, self.PREFIX_BODY).collect())
        if got_bare != want:
            self.b.check("prefix on a bare handle", f"{len(got_bare)} docs, expected {len(want)}")
        got_routed = sorted(r[0] for r in search_dsl(routed, self.PREFIX_BODY).collect())
        self.b.attempt(failed=got_routed != got_bare)

    def finish(self) -> dict:
        return {
            "index_bytes_per_doc": float(np.median(self.bytes_per_doc)),
            "build_docs_per_s": self.base / self.build_s,
            "append_docs_per_s": CHURN_BATCH / float(np.median(self.b.ops["append"])),
        }


WORKLOADS = {
    "term_search": TermSearch,
    "es_bodies": EsBodies,
    "ingest_churn": IngestChurn,
}
