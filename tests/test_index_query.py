"""End-to-end: build index on the pages fixture, query, assert rank parity
vs the naive BM25 oracle (SURVEY.md §5(2)) and partition-count invariance."""

from __future__ import annotations

import math

import pytest

from elasticsearch_assets_spark.datagen.pages import pages_df, pages_pandas
from elasticsearch_assets_spark.index.build import build_index
from elasticsearch_assets_spark.query.bm25 import bm25_oracle
from elasticsearch_assets_spark.query.engine import InvertedIndex

N_DOCS = 800


@pytest.fixture(scope="module")
def corpus_pdf():
    return pages_pandas(N_DOCS)


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory, corpus_pdf):
    d = str(tmp_path_factory.mktemp("idx"))
    corpus = pages_df(spark, N_DOCS, partitions=6)
    meta = build_index(spark, corpus, d, num_segments=8, num_chunks=2)
    assert meta.n_docs == N_DOCS
    return InvertedIndex(spark, d)


QUERIES = [
    (["spark"], "and"),
    (["spark", "join"], "and"),
    (["query", "index", "scan"], "and"),
    (["spark", "join"], "or"),
    (["term0005", "crawl", "the"], "or"),
    (["nosuchterm"], "and"),
    (["nosuchterm", "spark"], "and"),
    (["nosuchterm", "spark"], "or"),
]


@pytest.mark.parametrize("terms,mode", QUERIES)
@pytest.mark.parametrize("k", [1, 10, 100])
def test_rank_parity_vs_oracle(index, corpus_pdf, terms, mode, k):
    docs = dict(zip(corpus_pdf["doc_id"], corpus_pdf["text"]))
    expected = bm25_oracle(docs, terms, k=k, mode=mode)
    got = [(r["doc_id"], r["score"]) for r in index.search(terms, k=k, mode=mode).collect()]
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (_, gs), (_, es) in zip(got, expected):
        assert math.isclose(gs, es, rel_tol=1e-12, abs_tol=1e-12), (gs, es)


def test_meta_stats(index, corpus_pdf):
    from elasticsearch_assets_spark.analysis.tokenizer import tokenize

    total = sum(len(tokenize(t)) for t in corpus_pdf["text"])
    assert index.meta.total_tokens == total
    assert index.meta.avgdl == total / N_DOCS


def test_count_term_fast_path(index, corpus_pdf):
    from elasticsearch_assets_spark.analysis.tokenizer import tokenize

    truth = sum(1 for t in corpus_pdf["text"] if "spark" in tokenize(t))
    assert index.count_term("spark") == truth
    assert index.count_term("nosuchterm") == 0


def test_partition_invariance(spark, tmp_path, corpus_pdf):
    """Same corpus, different segment/partition/chunk counts → identical top-k
    docIDs AND scores (SURVEY.md §7.3(1))."""
    results = []
    for segs, parts, chunks in [(1, 1, 1), (8, 6, 2), (16, 4, 4)]:
        d = str(tmp_path / f"idx_{segs}_{parts}_{chunks}")
        corpus = pages_df(spark, N_DOCS, partitions=parts)
        build_index(spark, corpus, d, num_segments=segs, num_chunks=chunks)
        idx = InvertedIndex(spark, d)
        res = [
            (r["doc_id"], r["score"])
            for r in idx.search(["spark", "join"], k=20, mode="or").collect()
        ]
        results.append(res)
    assert results[0] == results[1] == results[2]


def test_search_raw_query_string(index, corpus_pdf):
    docs = dict(zip(corpus_pdf["doc_id"], corpus_pdf["text"]))
    expected = bm25_oracle(docs, ["spark", "join"], k=5, mode="and")
    got = [(r["doc_id"], r["score"]) for r in index.search("Spark JOIN", k=5).collect()]
    assert [d for d, _ in got] == [d for d, _ in expected]


def test_materialize(index, spark, corpus_pdf):
    corpus = spark.createDataFrame(corpus_pdf[["doc_id", "url", "text"]])
    top = index.search(["spark", "join"], k=5)
    rows = index.materialize(top, corpus).collect()
    assert len(rows) == 5
    assert all("spark" in r["text"] and "join" in r["text"] for r in rows)


def test_search_local_identical_to_distributed(index, spark, distributed):
    for terms, mode, k in [
        (["spark", "join"], "and", 10),
        (["the", "data"], "or", 25),
        (["crawl"], "and", None),
        (["nosuchterm", "spark"], "and", 10),
        (["nosuchterm", "spark"], "or", 10),
    ]:
        dist = [
            (r["doc_id"], r["score"])
            for r in index.search(terms, k=k, mode=mode).collect()
        ]
        local = index.search_local(terms, k=k, mode=mode)
        assert local == dist, (terms, mode, k)
    assert index.search_local([], k=5) == []


def test_head_term_skew_segments_balanced(spark, tmp_path):
    """Head-term skew: a term in EVERY doc must spread across all segments
    (doc-hash bucketing is the salt), keeping per-segment posting lists and
    per-partition work balanced."""
    import pandas as pd

    from elasticsearch_assets_spark.index.build import build_index
    from elasticsearch_assets_spark.query.engine import InvertedIndex

    n = 4000
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            "text": [f"the the the common filler{i % 7} unique{i}" for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)
    idx_dir = str(tmp_path / "skew")
    build_index(spark, df, idx_dir, num_segments=16)
    idx = InvertedIndex(spark, idx_dir)

    seg_rows = (
        idx.segments.where("term = 'the'").select("seg_id", "df").collect()
    )
    counts = {r["seg_id"]: r["df"] for r in seg_rows}
    assert len(counts) == 16  # the head term hits every segment
    mean = n / 16
    assert max(counts.values()) < 1.5 * mean  # no hot segment

    # and the head-term query still ranks correctly with pruning
    top = idx.search(["the", "filler3"], k=5, mode="and").collect()
    assert len(top) == 5
    assert idx.count_term("the") == n


def test_search_filtered_composition(index, spark):
    """F1+P2 composed: top-k among docs passing a structured filter must
    equal filtering the exhaustive ranking — for ALL three execution
    strategies (cogrouped executor-side, broadcast id-set, semi-join
    fallback), which must be rank-identical."""
    full = index.search(["spark", "table"], k=None, mode="or").collect()
    assert len(full) > 20
    keep = {r["doc_id"] for r in full if r["doc_id"] % 3 == 0}
    filtered_df = spark.createDataFrame(
        [(int(d),) for d in keep], "doc_id long"
    )
    want = [
        (r["doc_id"], r["score"]) for r in full if r["doc_id"] in keep
    ][:10]

    # auto on a doc_hash multi-chunk index resolves to the cogroup path
    assert index.meta.partitioning == "doc_hash"
    for strategy in ("auto", "cogroup", "broadcast", "exhaustive"):
        got = index.search_filtered(
            ["spark", "table"], filtered_df, k=10, mode="or", strategy=strategy
        )
        assert [(r["doc_id"], r["score"]) for r in got.collect()] == want, strategy

    # forced-broadcast over the cap degrades to the semi-join fallback
    slow = index.search_filtered(
        ["spark", "table"], filtered_df, k=10, mode="or",
        strategy="broadcast", collect_cap=2,
    )
    assert [(r["doc_id"], r["score"]) for r in slow.collect()] == want


@pytest.mark.parametrize("strategy", ["cogroup", "broadcast", "exhaustive"])
def test_search_filtered_optional_should_needs_must(index, spark, strategy):
    """An optional-should bool without must terms is refused the same way
    by every filtered strategy (the cogroup path compiles through
    search_optional_should's compile like the other two)."""
    filtered_df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="needs must terms"):
        index.search_filtered(
            [], filtered_df, k=5, strategy=strategy,
            opt_should=[(["spark"], 1.0)],
        ).collect()


def test_search_filtered_cogroup_single_chunk(spark, tmp_path, corpus_pdf):
    """Cogroup path on a single-chunk index (trivial seg mapping) + filter
    ids that are absent from the index (harmless) + tombstone interaction."""
    from elasticsearch_assets_spark.index.tombstones import add_tombstones

    d = str(tmp_path / "idx1")
    corpus = pages_df(spark, 300, partitions=4)
    build_index(spark, corpus, d, num_segments=8, num_chunks=1)
    idx = InvertedIndex(spark, d)
    assert idx.meta.partitioning == "doc_hash" and idx.meta.num_chunks == 1

    filtered_df = spark.range(0, 10_000, 2).withColumnRenamed("id", "doc_id")
    want = idx.search_filtered(
        ["spark", "the"], filtered_df, k=20, mode="or", strategy="broadcast"
    ).collect()
    got = idx.search_filtered(
        ["spark", "the"], filtered_df, k=20, mode="or", strategy="cogroup"
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    assert all(r["doc_id"] % 2 == 0 for r in got) and len(got) == 20

    # tombstoned docs stay excluded on the cogroup path too
    add_tombstones(d, [r["doc_id"] for r in got[:3]])
    idx.refresh_tombstones()
    got2 = idx.search_filtered(
        ["spark", "the"], filtered_df, k=20, mode="or", strategy="cogroup"
    ).collect()
    assert {r["doc_id"] for r in got2}.isdisjoint(
        {r["doc_id"] for r in got[:3]}
    )


def test_search_filtered_opaque_mapping_falls_back(spark, tmp_path):
    """input-partitioned builds have no derivable doc->seg mapping: auto
    falls back to broadcast; forced cogroup raises."""
    d = str(tmp_path / "idx_inp")
    corpus = pages_df(spark, 200, partitions=4)
    build_index(spark, corpus, d, num_segments=8, num_chunks=1, partitioning="input")
    idx = InvertedIndex(spark, d)
    assert idx.meta.partitioning == "opaque"
    filtered_df = spark.range(0, 200, 3).withColumnRenamed("id", "doc_id")
    got = idx.search_filtered(["spark"], filtered_df, k=5, mode="and")
    assert all(r["doc_id"] % 3 == 0 for r in got.collect())
    with pytest.raises(ValueError, match="mapping unavailable"):
        idx.search_filtered(
            ["spark"], filtered_df, k=5, mode="and", strategy="cogroup"
        )


def test_search_local_filtered_parity(index, spark, distributed):
    """Serving-path restriction (`search_local(allowed=...)`) must equal
    the distributed filtered search — same kernels, same composition."""
    import numpy as np

    full = index.search(["spark", "table"], k=None, mode="or").collect()
    keep = sorted(r["doc_id"] for r in full if r["doc_id"] % 3 == 0)
    allowed = np.array(keep, dtype=np.int64)
    filtered_df = spark.createDataFrame([(int(d),) for d in keep], "doc_id long")
    want = [
        (r["doc_id"], r["score"])
        for r in index.search_filtered(
            ["spark", "table"], filtered_df, k=10, mode="or"
        ).collect()
    ]
    got = index.search_local(["spark", "table"], k=10, mode="or", allowed=allowed)
    assert got == want
    # k=None exhaustive form too
    want_all = [
        (r["doc_id"], r["score"])
        for r in index.search_filtered(
            ["spark", "table"], filtered_df, k=None, mode="or"
        ).collect()
    ]
    got_all = index.search_local(["spark", "table"], k=None, mode="or", allowed=allowed)
    assert got_all == want_all


def test_search_filtered_stale_handle_after_compaction(spark, tmp_path):
    """A live InvertedIndex whose cached meta predates a compaction must NOT
    route with a stale doc->segment mapping. Round 3: the durable
    seg_map.json is transformed by the merge and read fresh per query, so
    the cogroup plan keeps working — rank-identical — on the stale handle."""
    from elasticsearch_assets_spark.index.merge import merge_segments

    d = str(tmp_path / "idx_stale")
    corpus = pages_df(spark, 300, partitions=4)
    build_index(spark, corpus, d, num_segments=8, num_chunks=1)
    idx = InvertedIndex(spark, d)  # caches meta: doc_hash
    assert idx.meta.partitioning == "doc_hash"
    filt = spark.range(0, 300, 2).withColumnRenamed("id", "doc_id")
    want = [
        (r["doc_id"], r["score"])
        for r in idx.search_filtered(
            ["spark", "the"], filt, k=10, mode="or", strategy="broadcast"
        ).collect()
    ]
    merge_segments(spark, d, target_segments=4)  # remaps seg ids on disk
    got = idx.search_filtered(["spark", "the"], filt, k=10, mode="or")
    assert [(r["doc_id"], r["score"]) for r in got.collect()] == want
    # forced cogroup now SURVIVES compaction (round-2 verdict item #2)
    got_cg = idx.search_filtered(
        ["spark", "the"], filt, k=10, mode="or", strategy="cogroup"
    )
    assert [(r["doc_id"], r["score"]) for r in got_cg.collect()] == want


def test_cogroup_survives_merge_segments_with_plan(spark, tmp_path):
    """Multi-chunk build -> full compaction: strategy="cogroup" stays
    rank-identical to broadcast AND the physical plan still shows the
    executor-side FlatMapCoGroupsInPandas (no driver materialization)."""
    from elasticsearch_assets_spark.index.merge import merge_segments
    from elasticsearch_assets_spark.index.seg_map import load_seg_map

    d = str(tmp_path / "idx_cms")
    corpus = pages_df(spark, 400, partitions=4)
    build_index(spark, corpus, d, num_segments=16, num_chunks=4)
    merge_segments(spark, d, target_segments=4)
    idx = InvertedIndex(spark, d)
    filt = spark.range(0, 400, 3).withColumnRenamed("id", "doc_id")
    want = idx.search_filtered(
        ["spark", "the"], filt, k=10, mode="or", strategy="broadcast"
    ).collect()
    got_df = idx.search_filtered(
        ["spark", "the"], filt, k=10, mode="or", strategy="cogroup"
    )
    assert [(r["doc_id"], r["score"]) for r in got_df.collect()] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    # 4 chunks x 4 spc -> % 4 makes every residue table [0..3]: the map
    # collapses to ONE unranged entry (normalize), so routing adds no
    # per-chunk replication after full compaction
    entries = load_seg_map(d)
    assert len(entries) == 1 and entries[0].segs == [0, 1, 2, 3]


def test_cogroup_survives_tiered_merge_chunks(spark, tmp_path):
    """Tiered subset compaction (merge_chunks): merged + unmerged chunks
    coexist; the transformed seg_map must route both correctly."""
    from elasticsearch_assets_spark.index.build import finalize_index
    from elasticsearch_assets_spark.index.merge import merge_chunks

    d = str(tmp_path / "idx_cmc")
    corpus = pages_df(spark, 400, partitions=4)
    build_index(spark, corpus, d, num_segments=16, num_chunks=4)
    idx0 = InvertedIndex(spark, d)
    filt = spark.range(0, 400, 3).withColumnRenamed("id", "doc_id")
    want = [
        (r["doc_id"], r["score"])
        for r in idx0.search_filtered(
            ["spark", "the"], filt, k=10, mode="or", strategy="broadcast"
        ).collect()
    ]
    merge_chunks(spark, d, [0, 2], segs_out=4)
    finalize_index(spark, d, num_segments=12, num_chunks=3)
    idx = InvertedIndex(spark, d)
    got = idx.search_filtered(
        ["spark", "the"], filt, k=10, mode="or", strategy="cogroup"
    )
    assert [(r["doc_id"], r["score"]) for r in got.collect()] == want
