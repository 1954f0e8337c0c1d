"""Round-3 second batch: minimum_should_match, term boosts, regexp queries,
rescoring, match_phrase_prefix, and the remaining ES search aggregations
(date_histogram / range / stats / percentiles / cardinality) plus field
collapsing.

Reference surface: all of these are ES query-DSL / agg capabilities the
reference's deployments exercise through its pass-through query facade
(/root/reference/asset/elasticsearch_reader/index.js builds the query
bodies; the DSL semantics come from the ES/Lucene docs), re-expressed as
dictionary scans + DataFrame plans."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.analysis.tokenizer import tokenize_series
from elasticsearch_assets_spark.datagen.pages import pages_df
from elasticsearch_assets_spark.index.build import build_index
from elasticsearch_assets_spark.operators import facets as OFA
from elasticsearch_assets_spark.query.engine import InvertedIndex
from elasticsearch_assets_spark.query.expand import regexp_literal_prefix


@pytest.fixture(scope="module")
def corpus(spark):
    return pages_df(spark, 1200, partitions=4).cache()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "plain")
    build_index(spark, corpus, d, num_segments=8, num_chunks=2)
    return InvertedIndex(spark, d)


@pytest.fixture(scope="module")
def pos_index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "pos")
    build_index(spark, corpus, d, num_segments=8, num_chunks=2, positions=True)
    return InvertedIndex(spark, d)


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


# ---------------------------------------------------------------------------
# minimum_should_match
# ---------------------------------------------------------------------------

_MSM_TERMS = ["spark", "join", "merge"]


def test_msm_degenerates_to_or_and_and(index):
    base_or = _pairs(index.search(_MSM_TERMS, k=None, mode="or"))
    got_1 = _pairs(index.search(_MSM_TERMS, k=None, mode="or", min_should_match=1))
    assert got_1 == base_or
    base_and = _pairs(index.search(_MSM_TERMS, k=None, mode="and"))
    got_all = _pairs(
        index.search(_MSM_TERMS, k=None, mode="or", min_should_match=3)
    )
    assert got_all == base_and


def test_msm_counting_matches_bruteforce(corpus, index):
    pdf = corpus.select("doc_id", "text").toPandas()
    toks = tokenize_series(pdf["text"])
    want = sorted(
        int(d)
        for d, ts in zip(pdf["doc_id"], toks)
        if sum(t in ts for t in _MSM_TERMS) >= 2
    )
    got = sorted(
        r["doc_id"]
        for r in index.search(
            _MSM_TERMS, k=None, mode="or", min_should_match=2
        ).collect()
    )
    assert got == want and want
    # and the >=2 scores equal the plain OR scores on the same docs
    or_scores = dict(_pairs(index.search(_MSM_TERMS, k=None, mode="or")))
    for d, s in _pairs(
        index.search(_MSM_TERMS, k=None, mode="or", min_should_match=2)
    ):
        assert s == or_scores[d]


def test_msm_serving_parity_and_validation(index, distributed):
    dist = _pairs(
        index.search(_MSM_TERMS, k=7, mode="or", min_should_match=2)
    )
    loc = index.search_local(_MSM_TERMS, k=7, mode="or", min_should_match=2)
    assert dist == loc and loc
    with pytest.raises(ValueError, match="min_should_match"):
        index.search(_MSM_TERMS, mode="and", min_should_match=2)
    # m larger than the query is unsatisfiable
    assert (
        index.search(_MSM_TERMS, k=None, mode="or", min_should_match=4).count()
        == 0
    )


# ---------------------------------------------------------------------------
# term boosts
# ---------------------------------------------------------------------------


def test_boost_one_is_identity_and_scales_idf(index):
    terms = ["spark", "join"]
    base = _pairs(index.search(terms, k=None, mode="or"))
    noop = _pairs(index.search(terms, k=None, mode="or", boosts={"spark": 1.0}))
    assert noop == base
    # boosting a term scales exactly its contribution: score_boosted ==
    # score(other) + boost * score(boosted), verified via single-term runs
    only_spark = dict(_pairs(index.search(["spark"], k=None, mode="or")))
    only_join = dict(_pairs(index.search(["join"], k=None, mode="or")))
    boosted = _pairs(
        index.search(terms, k=None, mode="or", boosts={"spark": 2.5})
    )
    for d, s in boosted:
        want = 2.5 * only_spark.get(d, 0.0) + only_join.get(d, 0.0)
        assert abs(s - want) < 1e-9


def test_boost_serving_parity(index, distributed):
    terms = ["spark", "join"]
    dist = _pairs(
        index.search(terms, k=8, mode="and", boosts={"join": 3.0})
    )
    loc = index.search_local(terms, k=8, mode="and", boosts={"join": 3.0})
    assert dist == loc and loc


# ---------------------------------------------------------------------------
# regexp queries
# ---------------------------------------------------------------------------


def test_regexp_expansion_matches_python_re(index):
    vocab = [r["term"] for r in index.stats.select("term").collect()]
    pat = ".*(ow|up)"
    want = sorted(t for t in vocab if re.fullmatch(pat, t))
    assert sorted(index.expand_regexp(pat)) == want and want


def test_regexp_is_whole_term_anchored(index):
    # 'o.*' must NOT match 'join' (Lucene RegexpQuery anchors both ends)
    got = index.expand_regexp("o.*")
    assert all(t.startswith("o") for t in got)


def test_regexp_literal_prefix_extraction():
    assert regexp_literal_prefix("join.*") == "join"  # '*' quantifies '.'
    assert regexp_literal_prefix("jon*") == "jo"  # '*' quantifies 'n'
    assert regexp_literal_prefix("jo(in|bs)") == "jo"
    assert regexp_literal_prefix(".*x") == ""
    assert regexp_literal_prefix("abc") == "abc"


def test_regexp_search_equals_or_over_expansion(index):
    pat = ".*(ow|up)"
    terms = index.expand_regexp(pat)
    want = _pairs(index.search(terms, k=None, mode="or"))
    got = _pairs(index.search_regexp(pat, k=None))
    assert got == want and got


# ---------------------------------------------------------------------------
# rescore
# ---------------------------------------------------------------------------


def test_rescore_total_matches_manual_combine(index):
    primary = _pairs(index.search(["spark", "join"], k=20, mode="and"))
    ids = np.sort(np.array([d for d, _ in primary], dtype=np.int64))
    sec = dict(
        _pairs(index.search(["table"], k=None, mode="or", allowed=ids))
    )
    want = sorted(
        ((d, 1.0 * p + 0.5 * sec.get(d, 0.0)) for d, p in primary),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    got = _pairs(
        index.rescore(
            ["spark", "join"], ["table"], window_size=20, k=10, mode="and",
            rescore_query_weight=0.5,
        )
    )
    assert [(d, pytest.approx(s)) for d, s in want] == got and got


@pytest.mark.parametrize("score_mode", ["multiply", "max"])
def test_rescore_modes(index, score_mode):
    primary = _pairs(index.search(["spark", "join"], k=15, mode="and"))
    ids = np.sort(np.array([d for d, _ in primary], dtype=np.int64))
    sec = dict(
        _pairs(index.search(["table"], k=None, mode="or", allowed=ids))
    )

    def comb(p, s):
        if s is None:  # ES: docs the rescore query misses keep primary
            return p
        return p * s if score_mode == "multiply" else max(p, s)

    want = sorted(
        ((d, comb(p, sec.get(d))) for d, p in primary),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    got = _pairs(
        index.rescore(
            ["spark", "join"], ["table"], window_size=15, k=10, mode="and",
            score_mode=score_mode,
        )
    )
    assert [(d, pytest.approx(s)) for d, s in want] == got


def test_rescore_validation_and_empty_primary(index):
    with pytest.raises(ValueError, match="score_mode"):
        index.rescore(["spark"], ["table"], score_mode="sum")
    assert index.rescore(["qqqzzz"], ["table"], k=5).count() == 0


# ---------------------------------------------------------------------------
# match_phrase_prefix
# ---------------------------------------------------------------------------


def _phrase_prefix_truth(corpus, fixed, prefix):
    pdf = corpus.select("doc_id", "text").toPandas()
    toks = tokenize_series(pdf["text"])
    out = []
    n = len(fixed)
    for d, ts in zip(pdf["doc_id"], toks):
        hit = any(
            list(ts[i : i + n]) == fixed and ts[i + n].startswith(prefix)
            for i in range(len(ts) - n)
        )
        if hit:
            out.append(int(d))
    return sorted(out)


def test_phrase_prefix_matches_bruteforce(corpus, pos_index, both_placements):
    for _ in both_placements():
        got = sorted(
            r["doc_id"]
            for r in pos_index.search_phrase_prefix(["the", "s"], k=None).collect()
        )
        assert got == _phrase_prefix_truth(corpus, ["the"], "s") and got


def test_phrase_prefix_multi_fixed(corpus, pos_index):
    # two fixed tokens then a prefix — exercises the slot-intersection path
    pdf = corpus.select("text").toPandas()
    toks = tokenize_series(pdf["text"])
    # find a real trigram in the corpus to anchor the test
    t = next(ts for ts in toks if len(ts) >= 3)
    fixed, prefix = [t[0], t[1]], t[2][:1]
    got = sorted(
        r["doc_id"]
        for r in pos_index.search_phrase_prefix(
            [*fixed, prefix], k=None
        ).collect()
    )
    assert got == _phrase_prefix_truth(corpus, fixed, prefix) and got


def test_phrase_prefix_single_token_is_prefix_query(pos_index):
    want = _pairs(pos_index.search_prefix("s", k=None))
    got = _pairs(pos_index.search_phrase_prefix(["s"], k=None))
    assert got == want


def test_phrase_prefix_requires_positions_and_handles_empty(index, pos_index):
    with pytest.raises(ValueError, match="positions"):
        index.search_phrase_prefix(["the", "s"])
    assert (
        pos_index.search_phrase_prefix(["the", "qqqzzz"], k=None).count() == 0
    )


# ---------------------------------------------------------------------------
# aggregations + collapse
# ---------------------------------------------------------------------------


def test_facet_date_histogram_calendar_buckets(spark, corpus, index):
    matches = index.search(["spark"], k=None, mode="and")
    ids = {r["doc_id"] for r in matches.collect()}
    sub = corpus.where(F.col("doc_id").isin(list(ids))).toPandas()
    got = {
        (r["bucket"], r["doc_count"])
        for r in OFA.facet_date_histogram(
            matches, corpus, "warc_ts", "day"
        ).collect()
    }
    want = set(sub["warc_ts"].dt.floor("D").value_counts().items())
    assert got == want and got
    with pytest.raises(ValueError, match="interval"):
        OFA.facet_date_histogram(matches, corpus, "warc_ts", "fortnight")


def test_facet_range_keeps_empty_buckets(spark, corpus, index):
    matches = index.search(["spark"], k=None, mode="and")
    ids = {r["doc_id"] for r in matches.collect()}
    sub = corpus.where(F.col("doc_id").isin(list(ids))).toPandas()
    edges = [100.0, 600.0, 1_000_000.0]  # last bucket deliberately empty
    rows = OFA.facet_range(matches, corpus, "doc_id", edges).collect()
    assert [(r["bucket_lo"], r["bucket_hi"]) for r in rows] == [
        (None, 100.0), (100.0, 600.0), (600.0, 1_000_000.0),
        (1_000_000.0, None),
    ]
    v = sub["doc_id"].astype(float)
    want = [
        int((v < 100).sum()),
        int(((v >= 100) & (v < 600)).sum()),
        int(((v >= 600) & (v < 1_000_000)).sum()),
        0,
    ]
    assert [r["doc_count"] for r in rows] == want
    with pytest.raises(ValueError, match="increasing"):
        OFA.facet_range(matches, corpus, "doc_id", [5.0, 5.0])


def test_facet_stats_percentiles_cardinality(spark, corpus, index):
    matches = index.search(["spark"], k=None, mode="and")
    ids = {r["doc_id"] for r in matches.collect()}
    sub = corpus.where(F.col("doc_id").isin(list(ids))).toPandas()
    v = sub["doc_id"].astype(float)
    st = OFA.facet_stats(matches, corpus, "doc_id").collect()[0]
    assert st["count"] == len(v) and st["min"] == v.min() and st["max"] == v.max()
    assert st["sum"] == pytest.approx(v.sum())
    assert st["avg"] == pytest.approx(v.mean())
    pct = OFA.facet_percentiles(
        matches, corpus, "doc_id", [25.0, 50.0, 90.0]
    ).collect()
    for row, p in zip(pct, [25.0, 50.0, 90.0]):
        assert row["percent"] == p
        assert row["value"] == pytest.approx(
            float(np.percentile(v, p, method="linear"))
        )
    card = OFA.facet_cardinality(matches, corpus, "lang").collect()[0]
    assert card["value"] == sub["lang"].nunique()


def test_collapse_is_best_per_group_then_topk(spark, corpus, index):
    scored = index.search(["spark", "the"], k=None, mode="or")
    sdf = scored.join(corpus.select("doc_id", "lang"), "doc_id").toPandas()
    best = (
        sdf.sort_values(["score", "doc_id"], ascending=[False, True])
        .groupby("lang", as_index=False)
        .first()
    )
    want = [
        (int(r.doc_id), r.lang)
        for r in best.sort_values(
            ["score", "doc_id"], ascending=[False, True]
        ).head(3).itertuples()
    ]
    got = [
        (r["doc_id"], r["ckey"])
        for r in OFA.collapse_topk(scored, corpus, "lang", k=3).collect()
    ]
    assert got == want and len(got) == 3


# ---------------------------------------------------------------------------
# bool must_not / dis_max / constant_score / function_score
# ---------------------------------------------------------------------------


def test_must_not_matches_bruteforce(corpus, index):
    pdf = corpus.select("doc_id", "text").toPandas()
    toks = tokenize_series(pdf["text"])
    want = sorted(
        int(d)
        for d, ts in zip(pdf["doc_id"], toks)
        if "spark" in ts and "join" not in ts
    )
    got = index.search(["spark"], k=None, mode="and", must_not=["join"])
    assert sorted(r["doc_id"] for r in got.collect()) == want and want
    # scores on survivors identical to the unrestricted query's
    base = dict(_pairs(index.search(["spark"], k=None, mode="and")))
    for d, s in _pairs(got):
        assert s == base[d]


def test_must_not_serving_parity_and_composition(index, distributed):
    dist = _pairs(
        index.search(["spark", "table"], k=8, mode="or", must_not=["join", "merge"])
    )
    loc = index.search_local(
        ["spark", "table"], k=8, mode="or", must_not=["join", "merge"]
    )
    assert dist == loc and loc
    # absent not-term is a no-op
    assert _pairs(
        index.search(["spark"], k=5, must_not=["qqqzzz"])
    ) == _pairs(index.search(["spark"], k=5))
    # composes with min_should_match
    msm = _pairs(
        index.search(
            ["spark", "join", "merge"], k=None, mode="or",
            min_should_match=2, must_not=["table"],
        )
    )
    base = _pairs(
        index.search(["spark", "join", "merge"], k=None, mode="or",
                     min_should_match=2)
    )
    dropped = {d for d, _ in index.search_local(["table"], k=None, mode="or")}
    assert msm == [(d, s) for d, s in base if d not in dropped] and msm


def test_dismax_combines_max_plus_tie(index):
    s1 = dict(_pairs(index.search(["spark", "join"], k=None, mode="or")))
    s2 = dict(_pairs(index.search(["table", "merge"], k=None, mode="or")))
    got = dict(
        _pairs(index.dis_max([["spark", "join"], ["table", "merge"]],
                             tie_breaker=0.3, k=None))
    )
    assert set(got) == set(s1) | set(s2)
    for d, v in got.items():
        vals = [m[d] for m in (s1, s2) if d in m]
        want = max(vals) + 0.3 * (sum(vals) - max(vals))
        assert v == pytest.approx(want)
    # tie_breaker=0 is the pure DisMax
    got0 = dict(
        _pairs(index.dis_max([["spark", "join"], ["table", "merge"]],
                             tie_breaker=0.0, k=None))
    )
    for d, v in got0.items():
        assert v == pytest.approx(max(m[d] for m in (s1, s2) if d in m))
    assert index.dis_max([], k=5).count() == 0


def test_constant_score_gives_boost_to_all_matches(index):
    matched = {d for d, _ in _pairs(index.search(["spark"], k=None, mode="or"))}
    rows = index.constant_score(["spark"], boost=2.25, k=None).collect()
    assert {r["doc_id"] for r in rows} == matched
    assert all(r["score"] == 2.25 for r in rows)
    ids = [r["doc_id"] for r in rows]
    assert ids == sorted(ids)


def test_function_score_modes_and_validation(corpus, index):
    base = dict(_pairs(index.search(["spark"], k=None, mode="and")))
    fv = {
        int(r["doc_id"]): float(np.log1p(r["doc_id"] * 0.5))
        for r in corpus.select("doc_id").collect()
    }
    for bm, comb in [
        ("multiply", lambda s, f: s * f),
        ("sum", lambda s, f: s + f),
        ("max", max),
        ("replace", lambda s, f: f),
    ]:
        got = _pairs(
            index.function_score(
                ["spark"], corpus, "doc_id", factor=0.5, modifier="log1p",
                boost_mode=bm, k=None, mode="and",
            )
        )
        assert dict(got) == pytest.approx(
            {d: comb(s, fv[d]) for d, s in base.items()}
        )
    with pytest.raises(ValueError, match="modifier"):
        index.function_score(["spark"], corpus, "doc_id", modifier="square")
    with pytest.raises(ValueError, match="boost_mode"):
        index.function_score(["spark"], corpus, "doc_id", boost_mode="avg")


# ---------------------------------------------------------------------------
# term suggester / nested-metric terms agg / sort-by-field
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_suggest_orders_by_distance_then_df(index):
    vocab = {r["term"]: r["df"] for r in index.stats.collect()}
    text = "spork"
    cand = sorted(
        ((t, df, _lev(t, text)) for t, df in vocab.items() if _lev(t, text) <= 2),
        key=lambda x: (x[2], -x[1], x[0]),
    )[:5]
    got = [
        (r["suggestion"], r["df"], r["distance"])
        for r in index.suggest(text, max_edits=2, size=5).collect()
    ]
    assert got == cand and got
    # exact dictionary term comes back at distance 0 first
    first = index.suggest("spark", max_edits=1, size=3).collect()[0]
    assert first["suggestion"] == "spark" and first["distance"] == 0


def test_facet_terms_metrics_one_pass(spark, corpus, index):
    matches = index.search(["spark"], k=None, mode="and")
    ids = {r["doc_id"] for r in matches.collect()}
    sub = corpus.where(F.col("doc_id").isin(list(ids))).toPandas()
    got = {
        r["bucket"]: (r["doc_count"], r["sum"], r["avg"])
        for r in OFA.facet_terms_metrics(
            matches, corpus, "lang", "doc_id"
        ).collect()
    }
    for lang, grp in sub.groupby("lang"):
        n, s = len(grp), float(grp["doc_id"].sum())
        assert got[lang][0] == n
        assert got[lang][1] == pytest.approx(s)
        assert got[lang][2] == pytest.approx(s / n)
    # ordered by doc_count DESC then bucket ASC
    rows = OFA.facet_terms_metrics(matches, corpus, "lang", "doc_id").collect()
    keys = [(-r["doc_count"], r["bucket"]) for r in rows]
    assert keys == sorted(keys)


def test_search_sorted_by_field(spark, corpus, index):
    matched = {r["doc_id"] for r in index.search(["spark"], k=None).collect()}
    rows = index.search_sorted(
        ["spark"], corpus, "doc_id", ascending=True, k=7
    ).collect()
    assert [r["doc_id"] for r in rows] == sorted(matched)[:7]
    rows_d = index.search_sorted(
        ["spark"], corpus, "doc_id", ascending=False, k=7
    ).collect()
    assert [r["doc_id"] for r in rows_d] == sorted(matched, reverse=True)[:7]


# ---------------------------------------------------------------------------
# composite / filters / nested-terms / pipeline aggs, completion suggester
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def kv_df(spark):
    rows = [
        (i, ["a", "b", "c"][i % 3], f"g{i % 5}", float(i))
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, k1 string, k2 string, v double")


def test_facet_composite_pages_concatenate(kv_df):
    full = OFA.facet_composite(kv_df, ["k1", "k2"]).collect()
    assert [(r["k1"], r["k2"]) for r in full] == sorted(
        (r["k1"], r["k2"]) for r in full
    )
    # walk pages of 4 using the last key of each page as after_key
    walked, after = [], None
    while True:
        page = OFA.facet_composite(kv_df, ["k1", "k2"], size=4, after=after).collect()
        if not page:
            break
        walked.extend(page)
        after = (page[-1]["k1"], page[-1]["k2"])
    assert walked == full
    with pytest.raises(ValueError):
        OFA.facet_composite(kv_df, ["k1", "k2"], after=("a",))
    with pytest.raises(ValueError):
        OFA.facet_composite(kv_df, [])


def test_facet_filters_overlapping_buckets(kv_df):
    got = {
        r["bucket"]: r["doc_count"]
        for r in OFA.facet_filters(
            kv_df,
            {"small": F.col("v") < 30, "is_a": F.col("k1") == "a", "all": F.lit(True)},
        ).collect()
    }
    assert got == {"small": 30, "is_a": 20, "all": 60}
    # match-set restriction applies before counting
    m = kv_df.where(F.col("doc_id") < 10).select("doc_id")
    got2 = {
        r["bucket"]: r["doc_count"]
        for r in OFA.facet_filters(kv_df, {"all": F.lit(True)}, matches=m).collect()
    }
    assert got2 == {"all": 10}
    with pytest.raises(ValueError):
        OFA.facet_filters(kv_df, {})


def test_facet_terms_nested_counts_and_order(kv_df):
    m = kv_df.select("doc_id")
    rows = OFA.facet_terms_nested(m, kv_df, "k1", "k2").collect()
    pdf = kv_df.toPandas()
    for r in rows:
        grp = pdf[(pdf.k1 == r["bucket"]) & (pdf.k2 == r["sub_bucket"])]
        assert r["doc_count"] == len(grp)
        assert r["outer_count"] == len(pdf[pdf.k1 == r["bucket"]])
    keys = [
        (-r["outer_count"], r["bucket"], -r["doc_count"], r["sub_bucket"])
        for r in rows
    ]
    assert keys == sorted(keys)
    assert len(rows) == pdf.groupby(["k1", "k2"]).ngroups


def test_facet_pipeline_window_math(spark):
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1 + (i % 6), 12, 0, 0)) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, ts timestamp")
    out = OFA.facet_pipeline(
        df.select("doc_id"), df, "ts", "day", moving_window=3
    ).collect()
    counts = [r["doc_count"] for r in out]
    assert sum(counts) == 40 and len(out) == 6
    cums = np.cumsum(counts)
    for i, r in enumerate(out):
        assert r["cum_count"] == cums[i]
        expect_d = None if i == 0 else counts[i] - counts[i - 1]
        assert r["derivative"] == expect_d
        lo = max(0, i - 2)
        assert r["moving_avg"] == pytest.approx(float(np.mean(counts[lo : i + 1])))


def test_suggest_completion_ranks_by_df(index):
    vocab = {r["term"]: r["df"] for r in index.stats.collect()}
    want = sorted(
        ((t, df) for t, df in vocab.items() if t.startswith("s")),
        key=lambda x: (-x[1], x[0]),
    )[:8]
    got = [
        (r["suggestion"], r["df"])
        for r in index.suggest_completion("s", size=8).collect()
    ]
    assert got == want and got


# ---------------------------------------------------------------------------
# multi_match / script_score / random_score
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def title_index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "title")
    titled = corpus.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 6)).alias("text"),
    )
    build_index(spark, titled, d, num_segments=4, num_chunks=1)
    return InvertedIndex(spark, d)


def test_multi_match_best_and_most(index, title_index):
    from elasticsearch_assets_spark.query.engine import multi_match

    q = ["spark", "join"]
    t = {r["doc_id"]: r["score"] for r in title_index.search(q, k=None, mode="or").collect()}
    b = {r["doc_id"]: r["score"] for r in index.search(q, k=None, mode="or").collect()}
    tie, boost = 0.25, 3.0
    want = {}
    for d in set(t) | set(b):
        ss = [v for v in (t.get(d, None) and t[d] * boost, b.get(d)) if v is not None]
        want[d] = max(ss) + tie * (sum(ss) - max(ss))
    got = multi_match(
        {"title": (title_index, boost), "text": (index, 1.0)},
        q, match_type="best_fields", tie_breaker=tie, k=None,
    ).collect()
    assert len(got) == len(want)
    for r in got:
        assert r["score"] == pytest.approx(want[r["doc_id"]])
    got_m = multi_match(
        {"title": (title_index, boost), "text": (index, 1.0)},
        q, match_type="most_fields", k=None,
    ).collect()
    for r in got_m:
        ss = [v for v in (t.get(r["doc_id"], None) and t[r["doc_id"]] * boost,
                          b.get(r["doc_id"])) if v is not None]
        assert r["score"] == pytest.approx(sum(ss))
    with pytest.raises(ValueError):
        multi_match({"x": (index, 1.0)}, q, match_type="cross_fields")
    with pytest.raises(ValueError):
        multi_match({}, q)


def test_script_score_matches_manual(index, corpus):
    base = {r["doc_id"]: r["score"] for r in index.search(["spark"], k=None).collect()}
    lens = {
        r["doc_id"]: len(r["text"])
        for r in corpus.select("doc_id", "text").collect()
    }
    got = index.script_score(
        ["spark"], corpus.withColumn("n_chars", F.length("text")),
        "_score * (1 + ln(1 + n_chars))", k=20,
    ).collect()
    import math

    want = sorted(
        ((d, s * (1 + math.log(1 + lens[d]))) for d, s in base.items()),
        key=lambda x: (-x[1], x[0]),
    )[:20]
    for r, w in zip(got, want):
        assert r["doc_id"] == w[0] and r["score"] == pytest.approx(w[1])


def test_random_score_deterministic_uniform(index):
    a = index.random_score(["spark"], seed=3, k=None).collect()
    b = index.random_score(["spark"], seed=3, k=None).collect()
    assert a == b
    assert all(0.0 <= r["score"] < 1.0 for r in a)
    c = index.random_score(["spark"], seed=4, k=None).collect()
    assert [r["doc_id"] for r in a] != [r["doc_id"] for r in c]
    matched = {r["doc_id"] for r in index.search(["spark"], k=None).collect()}
    assert {r["doc_id"] for r in a} == matched


# ---------------------------------------------------------------------------
# passage dedup / decontamination
# ---------------------------------------------------------------------------


def test_dedup_passages_keeps_first_occurrence(spark):
    from elasticsearch_assets_spark.operators.dedup import dedup_passages

    rows = [
        (1, "a b c d e f"),        # chunks: "a b c", "d e f"
        (2, "a b c x y z"),        # "a b c" dup of doc1 pos1
        (3, "d e f d e f"),        # first "d e f" dup of doc1; second dup too
        (4, "q r"),                # single short chunk, unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup_passages(df, n=3).collect()}
    assert got[1]["total_chunks"] == 2 and got[1]["kept_chunks"] == 2
    assert got[1]["cleaned_text"] == "a b c d e f"
    assert got[2]["kept_chunks"] == 1 and got[2]["cleaned_text"] == "x y z"
    assert got[3]["kept_chunks"] == 0 and got[3]["cleaned_text"] is None
    assert got[4]["kept_chunks"] == 1 and got[4]["cleaned_text"] == "q r"


def test_decontaminate_flags_overlapping_docs(spark):
    from elasticsearch_assets_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words here only nothing shared"),
            (3, "quick brown fox jumps over the lazy cat"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["overlap"] for r in decontaminate(corpus, bench, n=5).collect()}
    assert 1 in got and 3 in got and 2 not in got
    assert got[1] == 5  # all 5 of doc1's 5-grams are benchmark 5-grams
    assert got[3] >= 1  # shares 'quick brown fox jumps over' etc.


def test_rrf_fuse_formula_and_bounds(spark, index):
    from elasticsearch_assets_spark.operators.similarity import rrf_fuse

    a = index.search(["spark"], k=15, mode="and")
    b = index.search(["join"], k=15, mode="and")
    ra = {r["doc_id"]: i + 1 for i, r in enumerate(a.collect())}
    rb = {r["doc_id"]: i + 1 for i, r in enumerate(b.collect())}
    want = {}
    for d in set(ra) | set(rb):
        want[d] = sum(1.0 / (60 + r[d]) for r in (ra, rb) if d in r)
    got = rrf_fuse([a, b], k_const=60, k=None).collect()
    assert len(got) == len(want)
    for r in got:
        assert r["score"] == pytest.approx(want[r["doc_id"]])
    # ordered, and a doc in both lists outranks docs in only one
    scores = [r["score"] for r in got]
    assert scores == sorted(scores, reverse=True)
    both = [d for d in want if d in ra and d in rb]
    if both:
        top = got[0]["doc_id"]
        assert top in both
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_suggest_phrase_corrects_both_tokens(index):
    rows = index.suggest_phrase("spork jion", max_edits=2, per_token=3, size=5).collect()
    assert rows and rows[0]["suggestion"] == "spark join"
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # the original (possibly unseen) phrase survives as a candidate pool
    # member: every suggestion has one candidate per input token
    assert all(len(r["suggestion"].split()) == 2 for r in rows)
    # empty input -> empty frame with the right schema
    empty = index.suggest_phrase("", size=5)
    assert empty.count() == 0 and empty.columns == ["suggestion", "score"]


def test_index_stats_matches_corpus(index, corpus):
    from elasticsearch_assets_spark.analysis.tokenizer import tokenize_series

    row = index.index_stats().collect()[0]
    pdf = corpus.select("text").toPandas()
    toks = tokenize_series(pdf["text"])
    n_tokens = int(sum(len(t) for t in toks))
    vocab = set()
    for t in toks:
        vocab.update(t)
    assert row["n_docs"] == corpus.count()
    assert row["n_terms"] == len(vocab)
    assert row["n_tokens"] == n_tokens
    assert row["avgdl"] == pytest.approx(n_tokens / corpus.count())
