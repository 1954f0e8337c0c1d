"""Positional postings + index-assisted phrase queries (round 3).

Reference surface: phrases in the Lucene query string
(/root/reference/test/simple_api_reader-spec.js:63-112), delegated there to
Elasticsearch; here they are posting-list work over the positional stream
(query/phrase.py), with the text-regex compile remaining as the
non-positional fallback."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from elasticsearch_assets_spark.analysis.tokenizer import tokenize_series
from elasticsearch_assets_spark.datagen.pages import pages_df
from elasticsearch_assets_spark.index.build import build_index
from elasticsearch_assets_spark.query.engine import InvertedIndex


@pytest.fixture(scope="module")
def corpus(spark):
    return pages_df(spark, 1200, partitions=4).cache()


@pytest.fixture(scope="module")
def pos_index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "pos")
    build_index(spark, corpus, d, num_segments=8, num_chunks=2, positions=True)
    return InvertedIndex(spark, d)


def _truth(corpus, phrase: list[str]) -> list[int]:
    pdf = corpus.select("doc_id", "text").toPandas()
    toks = tokenize_series(pdf["text"])
    n = len(phrase)
    return sorted(
        int(d)
        for d, ts in zip(pdf["doc_id"], toks)
        if any(list(ts[i : i + n]) == phrase for i in range(len(ts) - n + 1))
    )


def test_phrase_matches_bruteforce(spark, corpus, pos_index, both_placements):
    for _ in both_placements():
        for ph in ("the join", "data spark"):
            got = sorted(
                r["doc_id"] for r in pos_index.search_phrase(ph, k=None).collect()
            )
            want = _truth(corpus, ph.split())
            assert got == want and len(want) > 0, ph


def test_phrase_local_parity_and_topk(
    spark, corpus, pos_index, both_placements
):
    loc, dist = [
        [(r["doc_id"], r["score"]) for r in pos_index.search_phrase(
            "the join", k=10
        ).collect()]
        for _ in both_placements()
    ]
    assert loc == dist
    assert len(dist) == 10
    scores = [s for _, s in dist]
    assert scores == sorted(scores, reverse=True)


def test_phrase_scores_equal_and_restriction(spark, corpus, pos_index):
    """Phrase scoring contract: BM25 AND-scores restricted to matching
    docs — bit-identical to search(mode="and") on those doc ids."""
    got = {
        r["doc_id"]: r["score"]
        for r in pos_index.search_phrase("the join", k=None).collect()
    }
    base = {
        r["doc_id"]: r["score"]
        for r in pos_index.search(["the", "join"], k=None, mode="and").collect()
    }
    assert set(got) <= set(base)
    assert all(base[d] == s for d, s in got.items())


def test_phrase_rank_identity_across_builds(spark, corpus, tmp_path):
    """Same invariant as plain search: segment/chunk layout never changes
    phrase results."""
    a = str(tmp_path / "a")
    build_index(spark, corpus, a, num_segments=3, num_chunks=1, positions=True)
    want = InvertedIndex(spark, a).search_phrase("the join", k=None).collect()
    b = str(tmp_path / "b")
    build_index(spark, corpus, b, num_segments=16, num_chunks=4, positions=True)
    got = InvertedIndex(spark, b).search_phrase("the join", k=None).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_positions_survive_compaction(spark, corpus, tmp_path):
    from elasticsearch_assets_spark.index.merge import merge_chunks, merge_segments

    d = str(tmp_path / "m")
    build_index(spark, corpus, d, num_segments=16, num_chunks=4, positions=True)
    want = [
        (r["doc_id"], r["score"])
        for r in InvertedIndex(spark, d).search_phrase("the join", k=None).collect()
    ]
    merge_chunks(spark, d, [0, 2], segs_out=4)
    from elasticsearch_assets_spark.index.build import finalize_index

    finalize_index(spark, d, num_segments=12, num_chunks=3)
    mid = InvertedIndex(spark, d)
    assert mid.meta.positions  # detected, not threaded
    got1 = [
        (r["doc_id"], r["score"])
        for r in mid.search_phrase("the join", k=None).collect()
    ]
    assert got1 == want
    merge_segments(spark, d, target_segments=4)
    idx = InvertedIndex(spark, d)
    assert idx.meta.positions
    got2 = [
        (r["doc_id"], r["score"])
        for r in idx.search_phrase("the join", k=None).collect()
    ]
    assert got2 == want


def test_phrase_tombstones_excluded(spark, corpus, tmp_path):
    from elasticsearch_assets_spark.index.tombstones import add_tombstones

    d = str(tmp_path / "t")
    build_index(spark, corpus, d, num_segments=8, num_chunks=1, positions=True)
    idx = InvertedIndex(spark, d)
    full = [r["doc_id"] for r in idx.search_phrase("the join", k=None).collect()]
    victim = full[0]
    add_tombstones(d, [victim])
    idx.refresh_tombstones()
    after = [r["doc_id"] for r in idx.search_phrase("the join", k=None).collect()]
    assert victim not in after and set(after) == set(full) - {victim}


def test_phrase_adjacency_edge_cases(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b c d"),       # has "a b", "b c d"
            Row(doc_id=1, text="b a c"),          # terms present, wrong order
            Row(doc_id=2, text="a x b"),          # gap breaks adjacency
            Row(doc_id=3, text="z a b a b"),      # repeated phrase
            Row(doc_id=4, text="a a b"),          # repeated term run
            Row(doc_id=5, text="b"),              # missing term
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "e")
    build_index(spark, docs, d, num_segments=2, num_chunks=1, positions=True)
    idx = InvertedIndex(spark, d)

    def hits(ph):
        return sorted(r["doc_id"] for r in idx.search_phrase(ph, k=None).collect())

    assert hits("a b") == [0, 3, 4]
    assert hits("b c d") == [0]
    assert hits("a a") == [4]
    assert hits("a a b") == [4]
    assert hits("a c") == [1]
    assert hits("c a") == []  # terms present only in the other order
    assert hits("a q") == []  # term absent from index
    assert hits("") == []


def test_phrase_requires_positions(spark, tmp_path):
    docs = spark.createDataFrame(
        [Row(doc_id=0, text="a b")], "doc_id long, text string"
    )
    d = str(tmp_path / "np")
    build_index(spark, docs, d, num_segments=2, num_chunks=1)
    idx = InvertedIndex(spark, d)
    with pytest.raises(ValueError, match="positions"):
        idx.search_phrase("a b")


def test_streaming_positional_index(spark, tmp_path):
    """Streaming epochs with positions=True produce a phrase-queryable
    index identical to the batch build."""
    from elasticsearch_assets_spark.streaming.index_stream import (
        StreamingIndexWriter,
    )

    corpus = pages_df(spark, 400, partitions=2).cache()
    sd = str(tmp_path / "s")
    writer = StreamingIndexWriter(sd, segs_per_batch=2, positions=True)
    for b in range(2):
        writer(corpus.where(f"doc_id >= {b*200} AND doc_id < {(b+1)*200}"), b)
    writer.refresh(spark)
    bd = str(tmp_path / "bb")
    build_index(spark, corpus, bd, num_segments=4, positions=True)
    a = InvertedIndex(spark, sd).search_phrase("the join", k=None).collect()
    b2 = InvertedIndex(spark, bd).search_phrase("the join", k=None).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b2
    ]


def test_positional_purge_merge(spark, corpus, tmp_path):
    """Tombstone PURGE through a positional merge (the batch-decode path's
    position masking): purged docs vanish, survivors keep bit-identical
    phrase results vs a fresh rebuild without the victims."""
    from elasticsearch_assets_spark.index.merge import merge_segments
    from elasticsearch_assets_spark.index.tombstones import add_tombstones

    d = str(tmp_path / "pm")
    build_index(spark, corpus, d, num_segments=8, num_chunks=1, positions=True)
    idx = InvertedIndex(spark, d)
    full = [r["doc_id"] for r in idx.search_phrase("the join", k=None).collect()]
    victims = full[:2]
    add_tombstones(d, victims)
    merge_segments(spark, d, 4, apply_tombstones=True)
    merged = InvertedIndex(spark, d)
    assert merged.meta.positions
    got = [
        (r["doc_id"], r["score"])
        for r in merged.search_phrase("the join", k=None).collect()
    ]
    # fresh rebuild without the victims == merged-with-purge, bit for bit
    d2 = str(tmp_path / "pm2")
    from pyspark.sql import functions as F

    build_index(
        spark, corpus.where(~F.col("doc_id").isin([int(v) for v in victims])),
        d2, num_segments=4, num_chunks=1, positions=True,
    )
    want = [
        (r["doc_id"], r["score"])
        for r in InvertedIndex(spark, d2).search_phrase("the join", k=None).collect()
    ]
    assert got == want and not set(victims) & {g for g, _ in got}
