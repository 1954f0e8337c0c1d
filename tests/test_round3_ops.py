"""Round-3 query-surface additions: multi-term rewrites (prefix/wildcard/
fuzzy), keyset pagination (search_after), proximity (span_near), facets,
more-like-this, repetition stats.

Reference surface: wildcards/fuzzy live in the reference's Lucene query
strings (/root/reference/asset/elasticsearch_reader/index.js:118-122) and
pagination in its scroll-style readers (reader.js) — both delegated there
to Elasticsearch; facets/MLT are the ES agg / more_like_this APIs the same
deployments use. All re-expressed as dictionary scans + DataFrame plans."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.analysis.tokenizer import tokenize_series
from elasticsearch_assets_spark.datagen.pages import pages_df
from elasticsearch_assets_spark.index.build import build_index
from elasticsearch_assets_spark.operators import facets as OFA
from elasticsearch_assets_spark.operators.textstats import repetition_stats
from elasticsearch_assets_spark.query.engine import InvertedIndex
from elasticsearch_assets_spark.query.expand import (
    literal_prefix,
    wildcard_to_like,
    wildcard_to_regex,
)


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


# ---------------------------------------------------------------------------
# expansion mechanics
# ---------------------------------------------------------------------------


def test_wildcard_translation():
    assert wildcard_to_regex("s?a*") == "^s.a.*$"
    assert wildcard_to_regex("a.b*") == "^a\\.b.*$"
    assert wildcard_to_like("s?a*") == "s_a%"
    assert literal_prefix("spa*k") == "spa"
    assert literal_prefix("*x") == ""
    assert literal_prefix("plain") == "plain"


def test_expansions_match_vocabulary(index):
    vocab = {r["term"] for r in index.stats.collect()}
    got = index.expand_prefix("s")
    assert got == sorted(t for t in vocab if t.startswith("s")) and got
    got = index.expand_wildcard("s?a*")
    import re

    rx = re.compile(r"^s.a.*$")
    assert got == sorted(t for t in vocab if rx.match(t)) and got
    got = index.expand_fuzzy("grow", max_edits=2)

    def ld(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    assert got == sorted(t for t in vocab if ld("grow", t) <= 2) and got


def test_expansion_cap_takes_highest_df(index):
    full = index.expand_prefix("s")
    dfs = {
        r["term"]: r["df"]
        for r in index.stats.where(F.col("term").isin(full)).collect()
    }
    capped = index.expand_prefix("s", max_expansions=2)
    want = sorted(sorted(full, key=lambda t: (-dfs[t], t))[:2])
    assert capped == want


def test_prefix_search_equals_or_query_over_expansion(index):
    terms = index.expand_prefix("s")
    via_rewrite = index.search_prefix("s", k=25).collect()
    via_or = index.search(terms, k=25, mode="or").collect()
    assert [(r["doc_id"], r["score"]) for r in via_rewrite] == [
        (r["doc_id"], r["score"]) for r in via_or
    ]


def test_fuzzy_includes_distance_zero(index):
    assert "spark" in index.expand_fuzzy("spark", max_edits=1)


def test_empty_expansion_returns_empty(index):
    assert index.expand_prefix("zzz") == []
    assert index.search_prefix("zzz", k=5).count() == 0
    assert index.search_wildcard("zz*q", k=5).count() == 0


# ---------------------------------------------------------------------------
# keyset pagination
# ---------------------------------------------------------------------------


def _pages_equal_full_slice(index, terms, mode):
    full = index.search(terms, k=None, mode=mode).collect()
    pages, after = [], None
    for _ in range(3):
        page = index.search(terms, k=7, mode=mode, after=after).collect()
        if not page:
            break
        pages.extend(page)
        last = page[-1]
        after = (last["score"], last["doc_id"])
    want = [(r["doc_id"], r["score"]) for r in full[: len(pages)]]
    got = [(r["doc_id"], r["score"]) for r in pages]
    assert got == want and len(got) == min(21, len(full))


def test_search_after_pages_stitch_to_full_ranking(index):
    _pages_equal_full_slice(index, ["the", "spark"], "or")
    _pages_equal_full_slice(index, ["the", "join"], "and")


def test_search_after_local_parity(index, distributed):
    page1 = index.search(["the", "spark"], k=5, mode="or").collect()
    cur = (page1[-1]["score"], page1[-1]["doc_id"])
    dist = index.search(["the", "spark"], k=5, mode="or", after=cur).collect()
    loc = index.search_local(["the", "spark"], k=5, mode="or", after=cur)
    assert [(r["doc_id"], r["score"]) for r in dist] == loc and len(loc) == 5


# ---------------------------------------------------------------------------
# proximity
# ---------------------------------------------------------------------------


def _near_truth(corpus, t1, t2, slop, ordered):
    pdf = corpus.select("doc_id", "text").toPandas()
    toks = tokenize_series(pdf["text"])
    out = []
    for d, ts in zip(pdf["doc_id"], toks):
        p1 = [i for i, t in enumerate(ts) if t == t1]
        p2 = [i for i, t in enumerate(ts) if t == t2]
        if ordered:
            hit = any(0 < b - a <= slop for a in p1 for b in p2)
        else:
            hit = any(abs(b - a) <= slop for a in p1 for b in p2)
        if hit:
            out.append(int(d))
    return sorted(out)


@pytest.mark.parametrize("ordered", [False, True])
def test_near_matches_bruteforce(
    spark, corpus, pos_index, ordered, both_placements
):
    for _ in both_placements():
        got = sorted(
            r["doc_id"]
            for r in pos_index.search_near(
                "the", "join", slop=3, ordered=ordered, k=None
            ).collect()
        )
        want = _near_truth(corpus, "the", "join", 3, ordered)
        assert got == want and want


def test_near_slop_zero_is_empty_and_one_is_adjacent(corpus, pos_index):
    # slop=0 can never match two distinct terms (one token per position)
    assert pos_index.search_near("the", "join", slop=0, k=None).count() == 0
    got = sorted(
        r["doc_id"]
        for r in pos_index.search_near(
            "the", "join", slop=1, ordered=True, k=None
        ).collect()
    )
    assert got == _near_truth(corpus, "the", "join", 1, True)


def test_near_local_parity(pos_index, both_placements):
    loc, dist = [
        pos_index.search_near("the", "join", slop=3, k=10).collect()
        for _ in both_placements()
    ]
    assert loc == dist and loc


def test_near_requires_positions_and_distinct_terms(
    index, pos_index, both_placements
):
    for _ in both_placements():
        with pytest.raises(ValueError, match="positions"):
            index.search_near("spark", "join", slop=2)
        with pytest.raises(ValueError, match="distinct"):
            pos_index.search_near("spark", "spark", slop=2)


# ---------------------------------------------------------------------------
# facets
# ---------------------------------------------------------------------------


def test_facet_counts_and_histogram(spark, corpus, index):
    matches = index.search(["spark"], k=None, mode="and")
    ids = {r["doc_id"] for r in matches.collect()}
    sub = corpus.where(F.col("doc_id").isin(list(ids))).toPandas()
    got = {
        (r["bucket"], r["doc_count"])
        for r in OFA.facet_counts(matches, corpus, "lang").collect()
    }
    want = set(sub.groupby("lang").size().items())
    assert got == want and got
    hist = {
        (r["bucket"], r["doc_count"])
        for r in OFA.facet_histogram(matches, corpus, "doc_id", 100.0).collect()
    }
    want_h = set((sub["doc_id"] // 100 * 100.0).value_counts().items())
    assert hist == want_h


def test_facet_top_hits_is_grouped_topk(spark, corpus, index):
    scored = index.search(["spark", "join"], k=None, mode="and")
    out = OFA.facet_top_hits(scored, corpus, "lang", per_bucket=2).collect()
    sdf = scored.join(corpus.select("doc_id", "lang"), "doc_id").toPandas()
    for bucket, grp in sdf.groupby("lang"):
        top = grp.sort_values(
            ["score", "doc_id"], ascending=[False, True]
        ).head(2)
        got = [
            (r["doc_id"], r["rank"]) for r in out if r["bucket"] == bucket
        ]
        assert got == [(int(d), i + 1) for i, d in enumerate(top["doc_id"])]


# ---------------------------------------------------------------------------
# more-like-this
# ---------------------------------------------------------------------------


def test_more_like_this_excludes_source_and_ranks(corpus, index):
    res = index.more_like_this(3, corpus, max_terms=5, k=10).collect()
    assert len(res) == 10
    assert all(r["doc_id"] != 3 for r in res)
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)


def test_more_like_this_missing_doc_is_empty(corpus, index):
    assert index.more_like_this(10**12, corpus, k=5).count() == 0


# ---------------------------------------------------------------------------
# repetition stats
# ---------------------------------------------------------------------------


def test_repetition_stats_handcomputed(spark):
    rows = [
        (1, "a b a b a"),      # bigrams: ab ba ab ba -> 4 total, 2 unique
        (2, "x x x x"),        # xx xx xx -> 3 total, 1 unique
        (3, "one"),            # < 2 tokens
        (4, ""),               # empty
        (5, "p q r"),          # pq qr -> all unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert (got[1]["n_bigrams"], got[1]["n_unique_bigrams"]) == (4, 2)
    assert got[1]["dup_bigram_frac"] == pytest.approx(0.5)
    assert got[1]["top_bigram_share"] == pytest.approx(0.5)
    assert (got[2]["n_bigrams"], got[2]["n_unique_bigrams"]) == (3, 1)
    assert got[2]["dup_bigram_frac"] == pytest.approx(2 / 3)
    assert got[2]["top_bigram_share"] == pytest.approx(1.0)
    for d in (3, 4):
        assert got[d]["n_bigrams"] == 0
        assert got[d]["dup_bigram_frac"] == 0.0
        assert got[d]["top_bigram_share"] == 0.0
    assert got[5]["dup_bigram_frac"] == 0.0
    assert got[5]["top_bigram_share"] == pytest.approx(0.5)


# ---------------------------------------------------------------------------
# clause-level boolean groups + query strings
# ---------------------------------------------------------------------------


def test_group_conjunctive_vs_bruteforce(index):
    # docs matching (the) AND (join OR data); scores sum matched terms
    per_term = {
        t: {r["doc_id"]: r["score"] for r in index.search([t], k=None).collect()}
        for t in ("the", "join", "data")
    }
    want = {}
    for d in per_term["the"]:
        if d in per_term["join"] or d in per_term["data"]:
            want[d] = sum(per_term[t].get(d, 0.0) for t in per_term)
    got = {
        r["doc_id"]: r["score"]
        for r in index.search(
            None, k=None, mode="and", groups=[["the"], ["join", "data"]]
        ).collect()
    }
    assert set(got) == set(want) and want
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def test_group_singletons_equal_flat_and(index):
    flat = index.search(["the", "join"], k=None, mode="and").collect()
    grp = index.search(
        None, k=None, mode="and", groups=[["the"], ["join"]]
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in flat] == [
        (r["doc_id"], r["score"]) for r in grp
    ]


def test_group_serving_and_cogroup_parity(spark, corpus, index, distributed):
    groups = [["the"], ["join", "data"]]
    dist = index.search(None, k=15, mode="and", groups=groups).collect()
    loc = index.search_local(None, k=15, mode="and", groups=groups)
    assert [(r["doc_id"], r["score"]) for r in dist] == loc
    filt = corpus.where(F.col("doc_id") % 2 == 0)
    cg = index.search_filtered(
        [], filt, k=15, mode="and", strategy="cogroup", groups=groups
    ).collect()
    bc = index.search_filtered(
        [], filt, k=15, mode="and", strategy="broadcast", groups=groups
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in cg] == [
        (r["doc_id"], r["score"]) for r in bc
    ]
    evens = {r["doc_id"] for r in cg}
    assert evens and all(d % 2 == 0 for d in evens)


def test_group_with_all_terms_missing_is_empty(index):
    got = index.search(
        None, k=None, mode="and", groups=[["the"], ["zzzznope"]]
    )
    assert got.count() == 0


def test_querystring_routes_and_matches_manual_composition(spark, corpus, index):
    got = index.search_querystring(
        "the AND jo* AND doc_id:>=600", corpus, k=12
    ).collect()
    groups = [["the"], index.expand_prefix("jo")]
    manual = index.search_filtered(
        [], corpus.where(F.col("doc_id") >= 600), k=12, mode="and",
        groups=groups,
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in manual
    ] and got


def test_querystring_unsupported_shapes_raise(corpus, index, pos_index):
    with pytest.raises(NotImplementedError, match="OR of a text clause"):
        index.search_querystring("the OR doc_id:>=5", corpus)
    with pytest.raises(NotImplementedError, match="OR of a phrase"):
        pos_index.search_querystring('"the join" OR spark', corpus)
    with pytest.raises(ValueError, match="no scoring clause"):
        index.search_querystring("doc_id:>=5", corpus)
    with pytest.raises(ValueError, match="corpus"):
        index.search_querystring("the AND doc_id:>=5")


def test_querystring_phrase_plus_filter(spark, corpus, pos_index):
    got = pos_index.search_querystring(
        '"the join" AND doc_id:[0 TO 700]', corpus, k=None
    ).collect()
    import numpy as np

    allowed = np.arange(0, 701, dtype=np.int64)
    want = pos_index.search_phrase(["the", "join"], k=None, allowed=allowed)
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want.collect()
    ] and got


def test_fuzzy_ast_parse_and_filter(spark):
    from elasticsearch_assets_spark.query.lucene import (
        Fuzzy,
        Term,
        compile_filter,
        parse_lucene,
    )

    assert parse_lucene("spark~1") == Fuzzy(None, "spark", 1)
    assert parse_lucene("spark~") == Fuzzy(None, "spark", 2)
    assert parse_lucene("name:spark~2") == Fuzzy("name", "spark", 2)
    assert parse_lucene(r"spark\~1") == Term(None, "spark~1")
    df = spark.createDataFrame(
        [(1, "sparky stuff"), (2, "nothing here"), (3, "spark")],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"]
        for r in df.where(compile_filter(parse_lucene("spark~1"))).collect()
    )
    assert got == [1, 3]


# ---------------------------------------------------------------------------
# significant terms + highlighting
# ---------------------------------------------------------------------------


def test_significant_terms_matches_bruteforce(spark, corpus, index):
    matches = index.search(["spark"], k=None, mode="and")
    out = OFA.significant_terms(matches, corpus, n=5, min_doc_count=2)
    got = [(r["term"], r["fg_df"], r["bg_df"]) for r in out.collect()]
    pdf = corpus.select("doc_id", "text").toPandas()
    toks = tokenize_series(pdf["text"])
    ids = {r["doc_id"] for r in matches.collect()}
    fg, bg = {}, {}
    for d, ts in zip(pdf["doc_id"], toks):
        for t in set(ts):
            bg[t] = bg.get(t, 0) + 1
            if int(d) in ids:
                fg[t] = fg.get(t, 0) + 1
    fgt, bgt = len(ids), len(pdf)
    scored = sorted(
        (
            (-(c / fgt) / (bg[t] / bgt), t, c, bg[t])
            for t, c in fg.items()
            if c >= 2
        ),
    )[:5]
    want = [(t, c, b) for _, t, c, b in scored]
    assert got == want and got


def test_highlight_window_and_absent(spark):
    from elasticsearch_assets_spark.operators.highlight import highlight_first

    corpus = spark.createDataFrame(
        [
            (1, "x" * 50 + " spark rules"),
            (2, "Spark at the very start"),
            (3, "no match here"),
        ],
        "doc_id long, text string",
    )
    matches = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    got = {
        r["doc_id"]: (r["pos"], r["snippet"])
        for r in highlight_first(
            matches, corpus, ["spark"], before=10, width=20
        ).collect()
    }
    assert got[1][0] == 52 and got[1][1] == ("x" * 50 + " spark rules")[41:61]
    assert got[2][0] == 1 and got[2][1] == "Spark at the very st"
    assert got[3] == (None, None)
