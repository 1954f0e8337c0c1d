"""Round-3 session-9 ops: post_filter / track_total_hits / zero_terms /
fields API, multi-kNN, EQL head pipe, paragraph dedup, ICT pairs, vocab
coverage."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.index.build import build_index
from elasticsearch_assets_spark.operators.dedup import paragraph_dedup
from elasticsearch_assets_spark.operators.mining import ict_pairs
from elasticsearch_assets_spark.operators.similarity import (
    cosine_topk,
    multi_knn,
)
from elasticsearch_assets_spark.operators.textstats import vocab_coverage
from elasticsearch_assets_spark.query.engine import InvertedIndex

CORPUS = [
    (1, "spark index merge query"),
    (2, "spark table scan"),
    (3, "index table spark spark"),
    (4, "merge scan query index"),
    (5, "spark query"),
    (6, "table merge"),
]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("s9idx"))
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    build_index(spark, docs, d, num_segments=2, num_chunks=1)
    return InvertedIndex(spark, d)


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


# ---------------------------------------------------------------------------
# post_filter
# ---------------------------------------------------------------------------


def test_post_filter_hits_and_total(spark, idx, corpus_df):
    post = corpus_df.where(F.col("doc_id") % 2 == 0)
    out = idx.search_post_filter(["spark"], post, k=10, mode="or").collect()
    # hits restricted to even ids; total counts ALL 'spark' matches (1,2,3,5)
    assert all(r["doc_id"] % 2 == 0 for r in out)
    assert {r["doc_id"] for r in out} == {2}
    assert all(r["total_before_filter"] == 4 for r in out)


def test_post_filter_rank_identical_to_filtered(spark, idx, corpus_df):
    post = corpus_df.where(F.col("doc_id") % 2 == 1)
    a = idx.search_post_filter(["spark"], post, k=10, mode="or").select(
        "doc_id", "score"
    ).collect()
    b = idx.search_filtered(["spark"], post, k=10, mode="or").collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


# ---------------------------------------------------------------------------
# track_total_hits
# ---------------------------------------------------------------------------


def test_tracked_eq_below_cap(idx):
    out = idx.search_tracked(["spark"], k=2, track_total_hits=100, mode="or")
    rows = out.collect()
    assert len(rows) == 2
    assert all(r["total_hits"] == 4 and r["relation"] == "eq" for r in rows)


def test_tracked_gte_at_cap(idx):
    out = idx.search_tracked(["spark"], k=2, track_total_hits=3, mode="or")
    rows = out.collect()
    assert all(r["total_hits"] == 3 and r["relation"] == "gte" for r in rows)


def test_tracked_rejects_bad_cap(idx):
    with pytest.raises(ValueError):
        idx.search_tracked(["spark"], track_total_hits=0)


# ---------------------------------------------------------------------------
# match / zero_terms_query / match_all
# ---------------------------------------------------------------------------


def test_match_zero_terms_none_empty(idx):
    assert idx.search_match("!!! ???", zero_terms_query="none").count() == 0


def test_match_zero_terms_all_is_match_all(idx, corpus_df):
    rows = idx.search_match(
        "!!! ???", k=None, zero_terms_query="all", corpus=corpus_df
    ).collect()
    assert [r["doc_id"] for r in rows] == [1, 2, 3, 4, 5, 6]
    assert all(r["score"] == 1.0 for r in rows)


def test_match_nonempty_delegates(idx):
    a = idx.search_match("spark table", k=5, mode="or").collect()
    b = idx.search(["spark", "table"], k=5, mode="or").collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


def test_match_zero_all_requires_corpus(idx):
    with pytest.raises(ValueError):
        idx.search_match("!!!", zero_terms_query="all")
    with pytest.raises(ValueError):
        idx.search_match("spark", zero_terms_query="sometimes")


def test_match_all_excludes_tombstones(spark, corpus_df, tmp_path):
    from elasticsearch_assets_spark.index.tombstones import add_tombstones

    d = str(tmp_path / "tombidx")
    build_index(spark, corpus_df, d, num_segments=2, num_chunks=1)
    add_tombstones(d, [2, 4])
    idx2 = InvertedIndex(spark, d)
    ids = [r["doc_id"] for r in idx2.match_all(corpus_df).collect()]
    assert ids == [1, 3, 5, 6]


# ---------------------------------------------------------------------------
# fields API
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def stored(spark):
    rows = [
        (1, "en", 10, dt.date(2020, 1, 5)),
        (2, "de", 20, dt.date(2020, 2, 6)),
        (3, "en", 30, dt.date(2020, 3, 7)),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long, crawl_date date"
    )


def test_fetch_fields_basic_and_format(spark, idx, stored):
    hits = idx.search(["spark"], k=10, mode="or")
    out = idx.fetch_fields(
        hits, stored,
        ["lang", {"field": "crawl_date", "format": "yyyy/MM/dd"}],
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["crawl_date"] == "2020/01/05"
    assert rows[2]["lang"] == "de"
    # formatted values are STRINGS (the ES fields-API contract)
    assert dict(out.dtypes)["crawl_date"] == "string"


def test_fetch_fields_wildcard_and_dedup(spark, idx, stored):
    hits = idx.search(["spark"], k=3, mode="or")
    out = idx.fetch_fields(hits, stored, ["n_*", "lang", "lang"])
    assert out.columns == ["doc_id", "score", "n_chars", "lang"]


def test_fetch_fields_unknown_raises(spark, idx, stored):
    hits = idx.search(["spark"], k=1)
    with pytest.raises(ValueError):
        idx.fetch_fields(hits, stored, ["nope"])
    with pytest.raises(ValueError):
        idx.fetch_fields(hits, stored, ["zz_*"])


# ---------------------------------------------------------------------------
# multi-kNN
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.7, 0.7, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [0.9, 0.1, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_multi_knn_singleton_equals_cosine_topk(vecs):
    a = multi_knn(
        vecs, [{"query_vec": [1.0, 0.0, 0.0], "k": 3, "boost": 1.0}], k=3
    ).collect()
    b = cosine_topk(vecs, [1.0, 0.0, 0.0], k=3).collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in a] == [
        (r["vec_id"], round(r["score"], 9)) for r in b
    ]


def test_multi_knn_sums_boosted_clauses(vecs):
    out = multi_knn(
        vecs,
        [
            {"query_vec": [1.0, 0.0, 0.0], "k": 5, "boost": 1.0},
            {"query_vec": [0.0, 1.0, 0.0], "k": 5, "boost": 2.0},
        ],
        k=5,
    ).collect()
    scores = {r["vec_id"]: r["score"] for r in out}
    # vec 1 is orthogonal to clause A: score = 2.0 * 1.0
    assert abs(scores[1] - 2.0) < 1e-9
    # vec 2 appears in both: 0.7/|v| + 2*0.7/|v|
    import math

    n = math.sqrt(0.7**2 + 0.7**2)
    assert abs(scores[2] - (0.7 / n + 2 * 0.7 / n)) < 1e-9


def test_multi_knn_empty_raises(vecs):
    with pytest.raises(ValueError):
        multi_knn(vecs, [], k=3)


# ---------------------------------------------------------------------------
# EQL head pipe
# ---------------------------------------------------------------------------


def test_eql_head_earliest_chains(spark):
    from elasticsearch_assets_spark.operators.sequences import eql_sequence

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u, minute in [("a", 0), ("b", 10), ("c", 20), ("d", 30)]:
        rows.append((u, "view", t0 + dt.timedelta(minutes=minute), eid))
        eid += 1
        rows.append((u, "error", t0 + dt.timedelta(minutes=minute + 1), eid))
        eid += 1
    df = spark.createDataFrame(
        rows, "user_id string, event_type string, ts timestamp, event_id long"
    )
    full = eql_sequence(
        df, "user_id", ["event_type = 'view'", "event_type = 'error'"], 3600
    )
    head2 = eql_sequence(
        df, "user_id", ["event_type = 'view'", "event_type = 'error'"],
        3600, head=2,
    )
    assert full.count() == 4
    assert sorted(r["user_id"] for r in head2.collect()) == ["a", "b"]


# ---------------------------------------------------------------------------
# paragraph dedup
# ---------------------------------------------------------------------------


def test_paragraph_dedup_keep_first(spark):
    docs = spark.createDataFrame(
        [(1, "A\nB"), (2, "B\nC"), (3, "A"), (4, "D\nD")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert out[1]["cleaned_text"] == "A\nB"
    assert out[1]["n_removed"] == 0
    # B first occurred in doc 1 -> stripped from doc 2
    assert out[2]["cleaned_text"] == "C"
    assert out[2]["n_removed"] == 1
    # A first occurred in doc 1 -> doc 3 empties out
    assert out[3]["cleaned_text"] == ""
    assert out[3]["n_removed"] == 1
    # within-doc repeat: first position survives
    assert out[4]["cleaned_text"] == "D"
    assert out[4]["n_removed"] == 1
    assert out[4]["n_paras"] == 2


def test_paragraph_dedup_trims_and_drops_empty(spark):
    docs = spark.createDataFrame(
        [(1, "  A  \n\n  \nB")], "doc_id long, text string"
    )
    r = paragraph_dedup(docs).collect()[0]
    assert r["n_paras"] == 2
    assert r["cleaned_text"] == "A\nB"


# ---------------------------------------------------------------------------
# ICT pairs
# ---------------------------------------------------------------------------


def test_ict_pairs_deterministic_and_lossless(spark):
    docs = spark.createDataFrame(
        [(7, "s0\ns1\ns2\ns3"), (8, "a\nb"), (9, "only")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in ict_pairs(docs).collect()}
    # doc 9 has < 2 sentences -> dropped
    assert set(rows) == {7, 8}
    r = rows[7]
    assert r["n_sents"] == 4
    assert 0 <= r["pick"] < 4
    sents = ["s0", "s1", "s2", "s3"]
    assert r["query_sent"] == sents[r["pick"]]
    ctx = [s for i, s in enumerate(sents) if i != r["pick"]]
    assert r["context"] == " ".join(ctx)
    # pick is the shared 60-bit hash mod n — replayable
    import hashlib

    h = int(hashlib.md5(b"7").hexdigest()[:15], 16)
    assert r["pick"] == h % 4


def test_ict_pairs_rerun_identical(spark):
    docs = spark.createDataFrame(
        [(1, "x\ny\nz")], "doc_id long, text string"
    )
    a = ict_pairs(docs).collect()
    b = ict_pairs(docs).collect()
    assert a == b


# ---------------------------------------------------------------------------
# vocab coverage
# ---------------------------------------------------------------------------


def test_vocab_coverage_counts(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the the the"), (3, "???")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in vocab_coverage(docs, ["the", "sat"]).collect()
    }
    assert out[1]["n_tokens"] == 3 and out[1]["n_oov"] == 1
    assert abs(out[1]["oov_rate"] - 1 / 3) < 1e-9
    assert out[2]["n_oov"] == 0 and out[2]["oov_rate"] == 0.0
    # zero tokens -> rate 0.0, not NaN
    assert out[3]["n_tokens"] == 0 and out[3]["oov_rate"] == 0.0


# ---------------------------------------------------------------------------
# histogram hard_bounds / custom similarity / zipf / profile
# ---------------------------------------------------------------------------


def test_histogram_hard_bounds_clips(spark):
    from elasticsearch_assets_spark.operators.facets import (
        facet_histogram_bounds,
    )

    corpus = spark.createDataFrame(
        [(1, 5.0), (2, 15.0), (3, 25.0), (4, 95.0)], "doc_id long, v double"
    )
    matches = corpus.select("doc_id")
    out = facet_histogram_bounds(
        matches, corpus, "v", 10.0,
        extended_lo=0.0, extended_hi=99.0, hard_lo=10.0, hard_hi=30.0,
    ).collect()
    # buckets clipped to [10, 30]; value 5 and 95 never bucket
    assert [(r["bucket"], r["doc_count"]) for r in out] == [
        (10.0, 1), (20.0, 1), (30.0, 0),
    ]
    with pytest.raises(ValueError):
        facet_histogram_bounds(
            matches, corpus, "v", 10.0,
            extended_lo=0.0, extended_hi=99.0, hard_lo=10.0,
        )


def test_set_similarity_reranks(spark, idx, tmp_path):
    import os

    from elasticsearch_assets_spark.index.stats import (
        load_meta, set_similarity,
    )
    from elasticsearch_assets_spark.query.engine import (
        InvertedIndex, clone_index_files,
    )

    d = str(tmp_path / "sim")
    os.makedirs(d, exist_ok=True)
    clone_index_files(idx.index_dir, d)
    set_similarity(d, k1=0.0, b=0.0)  # k1=0 -> pure idf, tf ignored
    idx2 = InvertedIndex(spark, d)
    base = {r["doc_id"]: r["score"] for r in idx.search(["spark"], k=None, mode="or").collect()}
    flat = {r["doc_id"]: r["score"] for r in idx2.search(["spark"], k=None, mode="or").collect()}
    # same match set, and with k1=0 every match scores identical (idf only)
    assert set(base) == set(flat)
    assert len(set(flat.values())) == 1
    assert len(set(base.values())) > 1  # tf=2 doc scored higher before
    # source index meta untouched (hard-link safety)
    assert load_meta(idx.index_dir).k1 != 0.0
    with pytest.raises(ValueError):
        set_similarity(d, k1=-1.0, b=0.5)
    with pytest.raises(ValueError):
        set_similarity(d, k1=1.2, b=1.5)


def test_zipf_fit_known_distribution(spark):
    from elasticsearch_assets_spark.operators.textstats import zipf_fit

    # freq exactly proportional to 1/rank -> alpha == 1 (exact fit)
    words = []
    for rank, w in enumerate(["w1", "w2", "w3", "w4"], start=1):
        words += [w] * (120 // rank)
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    r = zipf_fit(docs, top=4).collect()[0]
    assert abs(r["alpha"] - 1.0) < 0.02
    assert r["n_vocab"] == 4 and r["n_top"] == 4


def test_profile_returns_plan_and_hits(idx, placement):
    p = idx.profile(["spark"], k=3, mode="or")
    assert len(p["hits"]) == 3
    assert p["execution_ms"] > 0 and p["planning_ms"] >= 0
    assert p["backend"] == placement
    assert p["postings_estimate"] == idx.count_term("spark")
    seg_rows = idx.segments.where(F.col("term") == "spark").count()
    assert p["postings_rows"] == seg_rows > 0
    if placement == "distributed":
        assert "TakeOrdered" in p["plan"] or "CollectLimit" in p["plan"]
    else:
        assert "LocalTableScan" in p["plan"]


def test_eql_tail_latest_chains(spark):
    from elasticsearch_assets_spark.operators.sequences import eql_sequence

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u, minute in [("a", 0), ("b", 10), ("c", 20), ("d", 30)]:
        rows.append((u, "view", t0 + dt.timedelta(minutes=minute), eid))
        eid += 1
        rows.append((u, "error", t0 + dt.timedelta(minutes=minute + 1), eid))
        eid += 1
    df = spark.createDataFrame(
        rows, "user_id string, event_type string, ts timestamp, event_id long"
    )
    tail2 = eql_sequence(
        df, "user_id", ["event_type = 'view'", "event_type = 'error'"],
        3600, tail=2,
    )
    assert sorted(r["user_id"] for r in tail2.collect()) == ["c", "d"]
    with pytest.raises(ValueError):
        eql_sequence(
            df, "user_id", ["event_type = 'view'", "event_type = 'error'"],
            3600, head=1, tail=1,
        )


def test_nested_knn_best_passage(spark):
    from elasticsearch_assets_spark.operators.similarity import nested_knn

    rows = [
        (1, [[1.0, 0.0], [0.0, 1.0]]),   # chunk 0 aligned with query
        (2, [[0.0, 1.0], [0.8, 0.6]]),   # best is chunk 1 (cos 0.8)
        (3, [[0.0, -1.0], [-1.0, 0.0]]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, vectors array<array<double>>")
    out = nested_knn(df, [1.0, 0.0], k=3).collect()
    got = {r["vec_id"]: (round(r["score"], 6), r["best_chunk"]) for r in out}
    assert got[1] == (1.0, 0)
    assert got[2] == (0.8, 1)
    assert got[3] == (0.0, 0)  # chunks score 0 and -1; max 0 at ordinal 0
    # ranked by best passage: 1, 2, 3
    assert [r["vec_id"] for r in out] == [1, 2, 3]


def test_wildcard_trigram_expansion_identical(spark, idx):
    # every pattern's trigram expansion == brute-force expansion
    for pat in ["*ark*", "s?a*", "*erge", "*a*"]:
        assert idx.expand_wildcard_trigram(pat) == idx.expand_wildcard(pat), pat


def test_wildcard_trigram_rank_identical(spark, idx):
    a = idx.search_wildcard_trigram("*ark*", k=None).collect()
    b = idx.search_wildcard("*ark*", k=None).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


def test_weighted_sample_properties(spark):
    from elasticsearch_assets_spark.operators.sampling import weighted_sample

    rows = [(i, float(1 if i < 90 else 1000)) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_sample(df, 10, "w")
    ids = [r["doc_id"] for r in out.collect()]
    assert len(ids) == 10 and len(set(ids)) == 10
    # the 10 heavy rows (w=1000, ids 90..99) should dominate the sample
    assert sum(1 for i in ids if i >= 90) >= 8
    # deterministic replay
    assert ids == [r["doc_id"] for r in weighted_sample(df, 10, "w").collect()]
    # zero/NULL weights never drawn
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, None), (3, 5.0)], "doc_id long, w double"
    )
    assert [r["doc_id"] for r in weighted_sample(df2, 3, "w").collect()] == [3]
    with pytest.raises(ValueError):
        weighted_sample(df, 0, "w")


def test_html_strip_char_filter(idx):
    toks = idx.analyze(
        "<p>Hello <b>x&amp;y</b></p>", char_filters=["html_strip"]
    )
    assert [t for _, t in toks] == ["hello", "x", "y"]
    # undecoded the entity would tokenize as x / amp / y
    toks2 = idx.analyze("<p>Hello <b>x&amp;y</b></p>")
    assert "amp" in [t for _, t in toks2]


def test_pattern_replace_char_filter(idx):
    toks = idx.analyze(
        "a1b 2024 c", char_filters=[("pattern_replace", "[0-9]+", " ")]
    )
    assert [t for _, t in toks] == ["a", "b", "c"]
    with pytest.raises(ValueError):
        idx.analyze("x", char_filters=["nope"])


def test_heaps_curve_monotone(spark):
    from elasticsearch_assets_spark.operators.textstats import heaps_curve

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a c"), (2, "d e f"), (3, "a")],
        "doc_id long, text string",
    )
    out = heaps_curve(docs, [1, 2, 4])
    got = [(r["prefix_docs"], r["vocab_size"]) for r in out.collect()]
    assert got == [(1, 2), (2, 3), (4, 6)]
    with pytest.raises(ValueError):
        heaps_curve(docs, [])


def test_luhn_stats_known_cards(spark):
    from elasticsearch_assets_spark.operators.textstats import luhn_stats

    docs = spark.createDataFrame(
        [
            (1, "pay 4111111111111111 now"),          # valid visa test num
            (2, "id 4111111111111112"),               # bad check digit
            (3, "x 5500005555555559 y 6011000990139424"),  # two valid
            (4, "short 123456789012 run"),            # 12 digits: no cand
            (5, "none"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in luhn_stats(docs).collect()}
    assert (out[1]["n_candidates"], out[1]["n_valid"]) == (1, 1)
    assert (out[2]["n_candidates"], out[2]["n_valid"]) == (1, 0)
    assert (out[3]["n_candidates"], out[3]["n_valid"]) == (2, 2)
    assert (out[4]["n_candidates"], out[4]["n_valid"]) == (0, 0)
    assert (out[5]["n_candidates"], out[5]["n_valid"]) == (0, 0)


def test_luhn_brute_force_parity(spark):
    # engine expression == python Luhn on random digit runs
    import random

    from elasticsearch_assets_spark.operators.textstats import luhn_stats

    rng = random.Random(7)
    def luhn_py(s):
        tot = 0
        for i, ch in enumerate(reversed(s)):
            d = int(ch)
            if i % 2 == 1:
                d = d * 2 - 9 if d * 2 > 9 else d * 2
            tot += d
        return tot % 10 == 0

    rows = []
    expected = []
    for i in range(60):
        s = "".join(rng.choice("0123456789") for _ in range(rng.choice([13, 14, 15, 16])))
        rows.append((i, f"n {s} t"))
        expected.append(1 if luhn_py(s) else 0)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_valid"] for r in luhn_stats(df).collect()}
    assert [got[i] for i in range(60)] == expected


def test_ict_pairs_zero_exchange_plan(spark):
    docs = spark.createDataFrame(
        [(1, "a\nb\nc")], "doc_id long, text string"
    )
    out = ict_pairs(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-only: the 10^12-doc shape


def test_nested_knn_single_wide_op_plan(spark):
    from elasticsearch_assets_spark.operators.similarity import nested_knn

    df = spark.createDataFrame(
        [(1, [[1.0, 0.0], [0.0, 1.0]])],
        "vec_id long, vectors array<array<double>>",
    )
    out = nested_knn(df, [1.0, 0.0], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan  # no shuffle before the global cut


def test_weighted_sample_zero_shuffle_plan(spark):
    from elasticsearch_assets_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame([(1, 2.0)], "doc_id long, w double")
    out = weighted_sample(df, 5, "w")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
