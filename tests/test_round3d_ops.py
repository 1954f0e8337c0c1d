"""Round-3 batch 6: ids query, pinned query, rank_feature /
distance_feature boosts, match_bool_prefix, and the percolator.

Reference surface: ES query-DSL shapes the reference's deployments reach
through its pass-through facade (semantics from the ES/Lucene docs),
re-expressed as broadcast joins + enrich joins + one-pass token joins."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.analysis.tokenizer import tokenize_series
from elasticsearch_assets_spark.datagen.pages import pages_df
from elasticsearch_assets_spark.index.build import build_index
from elasticsearch_assets_spark.operators import percolate as OP
from elasticsearch_assets_spark.query.engine import InvertedIndex


@pytest.fixture(scope="module")
def corpus(spark):
    return pages_df(spark, 800, partitions=4).cache()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "plain")
    build_index(spark, corpus, d, num_segments=8, num_chunks=2)
    return InvertedIndex(spark, d)


@pytest.fixture(scope="module")
def doc_tokens(corpus):
    pdf = corpus.select("doc_id", "text").toPandas()
    toks = tokenize_series(pdf["text"])
    return dict(zip(pdf["doc_id"].tolist(), [list(t) for t in toks]))


def _common_term(doc_tokens, rank=0):
    from collections import Counter

    c = Counter(t for toks in doc_tokens.values() for t in set(toks))
    return c.most_common()[rank][0]


# ---------------------------------------------------------------------------
# ids query
# ---------------------------------------------------------------------------


def test_ids_query_matches_and_scores(index, corpus):
    ids = [1, 5, 9, 10**9]  # last absent
    out = index.ids_query(ids, corpus, boost=2.0).collect()
    assert [r["doc_id"] for r in out] == [1, 5, 9]
    assert all(r["score"] == 2.0 for r in out)


def test_ids_query_empty_and_dedup(index, corpus):
    assert index.ids_query([], corpus).count() == 0
    out = index.ids_query([4, 4, 2], corpus).collect()
    assert [r["doc_id"] for r in out] == [2, 4]


# ---------------------------------------------------------------------------
# pinned query
# ---------------------------------------------------------------------------


def test_pinned_structure(index, corpus, doc_tokens):
    term = _common_term(doc_tokens)
    pins = [33, 11]
    out = index.pinned(pins, [term], k=10, mode="or", corpus=corpus).collect()
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    assert [r["doc_id"] for r in out[:2]] == pins
    # organic tail == plain search with the pins dropped
    organic = [
        r["doc_id"]
        for r in index.search([term], k=12, mode="or").collect()
        if r["doc_id"] not in pins
    ][: 10 - len(pins)]
    assert [r["doc_id"] for r in out[2:]] == organic


def test_pinned_overlap_dedup(index, corpus, doc_tokens):
    term = _common_term(doc_tokens)
    top = index.search([term], k=1, mode="or").collect()[0]["doc_id"]
    out = index.pinned([top], [term], k=5, mode="or", corpus=corpus).collect()
    ids = [r["doc_id"] for r in out]
    assert ids[0] == top and len(ids) == len(set(ids)) == 5


def test_pinned_unknown_id_dropped(index, corpus, doc_tokens):
    term = _common_term(doc_tokens)
    out = index.pinned([10**9, 3], [term], k=5, corpus=corpus).collect()
    assert out[0]["doc_id"] == 3 and out[0]["rank"] == 1


# ---------------------------------------------------------------------------
# rank_feature / distance_feature
# ---------------------------------------------------------------------------


def _scores(df):
    return {r["doc_id"]: r["score"] for r in df.collect()}


def test_rank_feature_saturation_formula(index, corpus, doc_tokens):
    term = _common_term(doc_tokens)
    base = _scores(index.search([term], k=None, mode="and"))
    lens = {
        r["doc_id"]: r["n"]
        for r in corpus.select(
            "doc_id", F.length("text").alias("n")
        ).collect()
    }
    feat = corpus.select("doc_id", F.length("text").alias("tl"))
    out = _scores(
        index.rank_feature(
            [term], feat, "tl", pivot=100.0, boost=3.0, k=None
        )
    )
    assert set(out) == set(base)
    for d, s in out.items():
        expect = base[d] + 3.0 * lens[d] / (lens[d] + 100.0)
        assert math.isclose(s, expect, rel_tol=1e-9)


def test_rank_feature_log_and_sigmoid(index, corpus, doc_tokens):
    term = _common_term(doc_tokens)
    base = _scores(index.search([term], k=None, mode="and"))
    feat = corpus.select("doc_id", F.length("text").alias("tl"))
    lens = {r["doc_id"]: r["tl"] for r in feat.collect()}
    out_log = _scores(
        index.rank_feature(
            [term], feat, "tl", function="log", scaling_factor=2.0, k=None
        )
    )
    out_sig = _scores(
        index.rank_feature(
            [term], feat, "tl", function="sigmoid", pivot=50.0,
            exponent=0.5, k=None,
        )
    )
    for d in base:
        assert math.isclose(
            out_log[d], base[d] + math.log(2.0 + lens[d]), rel_tol=1e-9
        )
        fp = lens[d] ** 0.5
        assert math.isclose(
            out_sig[d], base[d] + fp / (fp + 50.0 ** 0.5), rel_tol=1e-9
        )
    with pytest.raises(ValueError):
        index.rank_feature([term], feat, "tl", function="nope")


def test_distance_feature_formula_and_null(index, corpus, doc_tokens):
    term = _common_term(doc_tokens)
    base = _scores(index.search([term], k=None, mode="and"))
    # feature present only for even ids — odd ids must keep plain BM25
    feat = corpus.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.length("text")).alias("tl"),
    )
    lens = {r["doc_id"]: r["tl"] for r in feat.collect()}
    out = _scores(
        index.distance_feature(
            [term], feat, "tl", origin=200.0, pivot=10.0, boost=2.0, k=None
        )
    )
    for d in base:
        if lens[d] is None:
            assert math.isclose(out[d], base[d], rel_tol=1e-9)
        else:
            dist = abs(lens[d] - 200.0)
            assert math.isclose(
                out[d], base[d] + 2.0 * 10.0 / (10.0 + dist), rel_tol=1e-9
            )
    with pytest.raises(ValueError):
        index.distance_feature([term], feat, "tl", origin=0.0, pivot=0.0)


# ---------------------------------------------------------------------------
# match_bool_prefix
# ---------------------------------------------------------------------------


def test_match_bool_prefix_or_equals_expanded_or(index, doc_tokens):
    term = _common_term(doc_tokens)
    prefix = term[:2]
    expansions = index.expand_prefix(prefix)
    assert term in expansions
    got = index.match_bool_prefix(f"{term} {prefix}", k=None).collect()
    want = index.search(
        sorted({term} | set(expansions)), k=None, mode="or"
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_match_bool_prefix_and_semantics(index, doc_tokens):
    t1 = _common_term(doc_tokens, 0)
    t2 = _common_term(doc_tokens, 1)
    prefix = t2[:2]
    got = {
        r["doc_id"]
        for r in index.match_bool_prefix(
            f"{t1} {prefix}", k=None, operator="and"
        ).collect()
    }
    expansions = set(index.expand_prefix(prefix))
    want = {
        d
        for d, toks in doc_tokens.items()
        if t1 in toks and expansions & set(toks)
    }
    assert got == want
    with pytest.raises(ValueError):
        index.match_bool_prefix("a b", operator="nor")


# ---------------------------------------------------------------------------
# percolate
# ---------------------------------------------------------------------------


def test_percolate_brute_force(spark, corpus, doc_tokens):
    t1 = _common_term(doc_tokens, 0)
    t2 = _common_term(doc_tokens, 1)
    t3 = _common_term(doc_tokens, 5)
    specs = [
        (1, [t1, t2], 2),       # AND
        (2, [t2, t3], 1),       # OR
        (3, [t1, t2, t3], 2),   # 2-of-3
        (4, ["zzz_no_such_term"], 1),
    ]
    qs = OP.make_queries(spark, specs)
    got = {
        (r["doc_id"], r["query_id"])
        for r in OP.percolate(qs, corpus).collect()
    }
    want = set()
    for d, toks in doc_tokens.items():
        s = set(toks)
        for qid, terms, msm in specs:
            need = msm if msm > 0 else len(set(terms))
            if len(set(terms) & s) >= need:
                want.add((d, qid))
    assert got == want
    assert not any(q == 4 for _, q in got)


def test_percolate_msm_zero_means_all(spark):
    qs = OP.make_queries(spark, [(9, ["a", "b", "a"], 0)])
    row = qs.collect()[0]
    assert row["msm"] == 2 and sorted(row["terms"]) == ["a", "b"]


# ---------------------------------------------------------------------------
# batch 7a aggregations (missing / value_count / global / boxplot /
# string_stats / t_test / rate / geo_bounds)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def match_pdf(index, corpus, doc_tokens):
    term = _common_term(doc_tokens)
    matches = index.search([term], k=None, mode="and")
    pdf = (
        corpus.join(matches.select("doc_id"), "doc_id", "left_semi")
        .select("doc_id", "text")
        .toPandas()
    )
    return matches, pdf


def test_missing_and_value_count(corpus, match_pdf):
    from elasticsearch_assets_spark.operators import facets as OFA

    matches, pdf = match_pdf
    c2 = corpus.withColumn(
        "maybe", F.when(F.col("doc_id") % 3 != 0, F.col("text"))
    )
    miss = OFA.facet_missing(matches, c2, "maybe").collect()[0]["doc_count"]
    vc = OFA.facet_value_count(matches, c2, "maybe").collect()[0]["value"]
    n_null = int((pdf["doc_id"] % 3 == 0).sum())
    assert miss == n_null
    assert vc == len(pdf) - n_null
    assert miss + vc == len(pdf)


def test_global_counts_ignores_matches(spark, corpus):
    from elasticsearch_assets_spark.operators import facets as OFA

    c2 = corpus.withColumn("b", (F.col("doc_id") % 5).cast("string"))
    got = {
        r["bucket"]: r["doc_count"]
        for r in OFA.facet_global_counts(c2, "b").collect()
    }
    pdf = c2.select("b").toPandas()
    assert got == pdf["b"].value_counts().to_dict()


def test_boxplot_vs_numpy(corpus, match_pdf):
    from elasticsearch_assets_spark.operators import facets as OFA

    matches, pdf = match_pdf
    c2 = corpus.withColumn("v", F.length("text").cast("double"))
    row = OFA.facet_boxplot(matches, c2, "v").collect()[0]
    vals = pdf["text"].str.len().to_numpy(dtype=float)
    assert row["min"] == vals.min() and row["max"] == vals.max()
    for name, q in (("q1", 25), ("q2", 50), ("q3", 75)):
        assert math.isclose(
            row[name], float(np.percentile(vals, q)), rel_tol=1e-9
        )


def test_string_stats_vs_python(corpus, match_pdf):
    from collections import Counter

    from elasticsearch_assets_spark.operators import facets as OFA

    matches, pdf = match_pdf
    row = OFA.facet_string_stats(matches, corpus, "text").collect()[0]
    lens = pdf["text"].str.len()
    assert row["count"] == len(pdf)
    assert row["min_length"] == lens.min()
    assert row["max_length"] == lens.max()
    assert math.isclose(row["avg_length"], lens.mean(), rel_tol=1e-9)
    c = Counter("".join(pdf["text"]))
    n = sum(c.values())
    ent = -sum((v / n) * math.log2(v / n) for v in c.values())
    assert math.isclose(row["entropy"], ent, rel_tol=1e-9)


def test_t_test_vs_numpy(corpus):
    from elasticsearch_assets_spark.operators import facets as OFA

    c2 = corpus.withColumn("v", F.length("text").cast("double"))
    row = OFA.facet_t_test(
        c2, "v", F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1
    ).collect()[0]
    pdf = c2.select("doc_id", "v").toPandas()
    a = pdf[pdf["doc_id"] % 2 == 0]["v"].to_numpy()
    b = pdf[pdf["doc_id"] % 2 == 1]["v"].to_numpy()
    t = (a.mean() - b.mean()) / math.sqrt(
        a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
    )
    assert row["na"] == len(a) and row["nb"] == len(b)
    assert math.isclose(row["t_value"], t, rel_tol=1e-9)


def test_rate_scaling_pairs(spark):
    from elasticsearch_assets_spark.operators import facets as OFA

    df = spark.createDataFrame(
        [
            (1, "2024-01-05 00:00:00", 31.0),
            (2, "2024-01-20 00:00:00", 31.0),
            (3, "2024-02-10 00:00:00", 29.0),  # 2024 is a leap year
        ],
        "id long, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    matches = df.select("id")
    out = OFA.facet_rate(
        matches, df, "ts", "v", "month", "day", id_col="id"
    ).collect()
    assert [(r["total"], r["rate"]) for r in out] == [(62.0, 2.0), (29.0, 1.0)]
    day = OFA.facet_rate(
        matches, df, "ts", None, "day", "hour", id_col="id"
    ).collect()
    assert all(math.isclose(r["rate"], r["total"] / 24.0) for r in day)
    with pytest.raises(ValueError):
        OFA.facet_rate(matches, df, "ts", "v", "year", "day", id_col="id")


def test_geo_bounds(spark):
    from elasticsearch_assets_spark.operators import facets as OFA

    df = spark.createDataFrame(
        [(1, 10.0, -20.0), (2, -5.0, 170.0), (3, 45.0, 3.0)],
        "id long, lat double, lon double",
    )
    row = OFA.facet_geo_bounds(
        df.select("id"), df, "lat", "lon", id_col="id"
    ).collect()[0]
    assert (row["top_left_lat"], row["top_left_lon"]) == (45.0, -20.0)
    assert (row["bottom_right_lat"], row["bottom_right_lon"]) == (-5.0, 170.0)


# ---------------------------------------------------------------------------
# batch 7b aggregations (date_range / ip_range / geohash_grid /
# diversified_sampler / serial_diff / cumulative_cardinality /
# bucket_sort / significant_text / variable_width_histogram)
# ---------------------------------------------------------------------------


def _pygeohash(lat, lon, precision):
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_i = [-90.0, 90.0]
    lon_i = [-180.0, 180.0]
    bits, even, ch, out = 0, True, 0, []
    while len(out) < precision:
        iv = lon_i if even else lat_i
        x = lon if even else lat
        mid = (iv[0] + iv[1]) / 2
        if x >= mid:
            ch = ch * 2 + 1
            iv[0] = mid
        else:
            ch = ch * 2
            iv[1] = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(b32[ch])
            bits, ch = 0, 0
    return "".join(out)


def test_geohash_grid_vs_python(spark):
    from elasticsearch_assets_spark.operators import facets as OFA

    rows = [
        (i, ((i * 37) % 1800) / 10.0 - 90.0, ((i * 53) % 3600) / 10.0 - 180.0)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lon double")
    for p in (1, 4):
        got = {
            r["bucket"]: r["doc_count"]
            for r in OFA.facet_geohash_grid(
                df.select("id"), df, "lat", "lon", precision=p, id_col="id"
            ).collect()
        }
        from collections import Counter

        want = Counter(_pygeohash(la, lo, p) for _, la, lo in rows)
        assert got == dict(want)
    with pytest.raises(ValueError):
        OFA.geohash_sql("lat", "lon", 9)


def test_ipv4_to_long(spark):
    from elasticsearch_assets_spark.operators import facets as OFA

    df = spark.createDataFrame(
        [("0.0.0.1",), ("10.0.0.0",), ("255.255.255.255",)], "ip string"
    )
    got = [r["n"] for r in df.select(OFA.ipv4_to_long("ip").alias("n")).collect()]
    assert got == [1, 10 * 16777216, 2**32 - 1]


def test_date_and_ip_range_cover_all(spark, corpus):
    from elasticsearch_assets_spark.operators import facets as OFA

    df = corpus.withColumn(
        "ip",
        F.concat_ws(
            ".", (F.col("doc_id") * 3) % 256, F.lit(0), F.lit(0),
            F.col("doc_id") % 256,
        ),
    )
    out = OFA.facet_ip_range(
        df.select("doc_id"), df, "ip", ["100.0.0.0", "200.0.0.0"]
    ).collect()
    assert sum(r["doc_count"] for r in out) == df.count()
    assert [r["bucket_lo"] for r in out] == [None, "100.0.0.0", "200.0.0.0"]
    with pytest.raises(ValueError):
        OFA.facet_ip_range(df.select("doc_id"), df, "ip", ["2.0.0.0", "1.0.0.0"])


def test_diversified_sampler_constraints(corpus, match_pdf):
    from elasticsearch_assets_spark.operators import facets as OFA

    matches, pdf = match_pdf
    c2 = corpus.withColumn("g", (F.col("doc_id") % 4).cast("string"))
    cap, size = 3, 8
    out = OFA.facet_diversified_sampler(
        matches, c2, "g", "g", shard_size=size, max_docs_per_value=cap
    ).collect()
    assert sum(r["doc_count"] for r in out) == min(size, len(pdf))
    assert all(r["doc_count"] <= cap for r in out)


def test_serial_diff_and_normalize(spark):
    from elasticsearch_assets_spark.operators import facets as OFA

    rows = [
        (i, f"2024-01-{d:02d} 03:00:00", float(v))
        for i, (d, v) in enumerate([(1, 10), (1, 20), (2, 5), (3, 25)])
    ]
    df = spark.createDataFrame(rows, "id long, ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = OFA.facet_serial_diff(
        df.select("id"), df, "ts", "v", "day", 1, id_col="id"
    ).collect()
    assert [r["value"] for r in out] == [30.0, 5.0, 25.0]
    assert out[0]["diff"] is None
    assert [r["diff"] for r in out[1:]] == [-25.0, 20.0]
    assert [r["pct_of_sum"] for r in out] == [50.0, 25.0 / 3, 125.0 / 3]
    with pytest.raises(ValueError):
        OFA.facet_serial_diff(df.select("id"), df, "ts", "v", "day", 0, id_col="id")


def test_cumulative_cardinality_brute(spark):
    from elasticsearch_assets_spark.operators import facets as OFA

    rows = [
        (1, "2024-01-01 00:00:00", 100),
        (2, "2024-01-01 01:00:00", 200),
        (3, "2024-01-02 00:00:00", 100),  # no new key that day
        (4, "2024-01-03 00:00:00", 300),
        (5, "2024-01-03 05:00:00", 100),
    ]
    df = spark.createDataFrame(rows, "id long, ts string, u long").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = OFA.facet_cumulative_cardinality(
        df.select("id"), df, "ts", "u", "day", id_col="id"
    ).collect()
    assert [(r["new_keys"], r["cumulative_cardinality"]) for r in out] == [
        (2, 2), (0, 2), (1, 3),
    ]


def test_bucket_sort_paging(spark, corpus):
    from elasticsearch_assets_spark.operators import facets as OFA

    c2 = corpus.withColumn("g", (F.col("doc_id") % 5).cast("string")).withColumn(
        "v", F.length("text").cast("double")
    )
    full = OFA.facet_bucket_sort(
        c2.select("doc_id"), c2, "g", "v", size=100, from_=0
    ).collect()
    page = OFA.facet_bucket_sort(
        c2.select("doc_id"), c2, "g", "v", size=2, from_=1
    ).collect()
    assert [r["bucket"] for r in page] == [r["bucket"] for r in full[1:3]]


def test_significant_text_sample_restriction(index, corpus, doc_tokens):
    from elasticsearch_assets_spark.operators import facets as OFA

    term = _common_term(doc_tokens)
    matches = index.search([term], k=None, mode="and")
    small = OFA.facet_significant_text(
        matches, corpus, n=None, sample_size=10, min_doc_count=1
    )
    # fg_df can never exceed the sample size
    assert small.agg(F.max("fg_df")).collect()[0][0] <= 10


def test_variable_width_histogram(corpus, match_pdf):
    from elasticsearch_assets_spark.operators import facets as OFA

    matches, pdf = match_pdf
    c2 = corpus.withColumn("v", F.length("text").cast("double"))
    out = OFA.facet_variable_width_histogram(matches, c2, "v", 4).collect()
    assert sum(r["doc_count"] for r in out) == len(pdf)
    assert len(out) <= 4
    # clusters are ordered and non-overlapping
    for a, b in zip(out, out[1:]):
        assert a["max"] <= b["min"]
    with pytest.raises(ValueError):
        OFA.facet_variable_width_histogram(matches, c2, "v", 0)


# ---------------------------------------------------------------------------
# batch 8: span algebra / intervals / simple_query_string
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pos_index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "pos")
    build_index(spark, corpus, d, num_segments=8, num_chunks=2, positions=True)
    return InvertedIndex(spark, d)


def _near_pairs_py(toks, t1, t2, slop, ordered):
    """Brute-force (start, end) span pairs of a token list."""
    out = []
    for i, a in enumerate(toks):
        if a != t1:
            continue
        for j, b in enumerate(toks):
            if b != t2 or j == i:
                continue
            if ordered and not (j > i and j - i <= slop):
                continue
            if not ordered and abs(j - i) > slop:
                continue
            out.append((min(i, j), max(i, j) + 1))
    return out


def _pick_near_terms(doc_tokens, slop):
    """Two mid-frequency terms that co-occur within the slop window."""
    from collections import Counter

    c = Counter(t for toks in doc_tokens.values() for t in set(toks))
    common = [t for t, _ in c.most_common(12)]
    for t1 in common:
        for t2 in common:
            if t1 == t2:
                continue
            n = sum(
                1
                for toks in doc_tokens.values()
                if _near_pairs_py(toks, t1, t2, slop, True)
            )
            if n >= 3:
                return t1, t2
    pytest.skip("no co-occurring term pair in the synthetic corpus")


def test_span_or_brute(pos_index, doc_tokens, both_placements):
    for _ in both_placements():
        t1, t2 = _pick_near_terms(doc_tokens, 4)
        t3 = _common_term(doc_tokens, 6)
        got = {
            r["doc_id"]
            for r in pos_index.search_span_or(
                [("near", t1, t2, 4, True), ("term", t3)], k=None
            ).collect()
        }
        want = {
            d
            for d, toks in doc_tokens.items()
            if _near_pairs_py(toks, t1, t2, 4, True) or t3 in toks
        }
        assert got == want


def test_span_containing_and_within_brute(pos_index, doc_tokens):
    t1, t2 = _pick_near_terms(doc_tokens, 6)
    # pick a little term that actually falls inside some window
    from collections import Counter

    c = Counter(t for toks in doc_tokens.values() for t in set(toks))
    little = None
    want = set()
    for cand, _ in c.most_common(30):
        if cand in (t1, t2):
            continue
        hits = set()
        for d, toks in doc_tokens.items():
            spans = _near_pairs_py(toks, t1, t2, 6, True)
            pos = [i for i, t in enumerate(toks) if t == cand]
            if any(s <= q < e for s, e in spans for q in pos):
                hits.add(d)
        if hits:
            little, want = cand, hits
            break
    if little is None:
        pytest.skip("no containing composition in the synthetic corpus")
    big = ("near", t1, t2, 6, True)
    got_c = {
        r["doc_id"]
        for r in pos_index.search_span_containing(
            big, ("term", little), k=None
        ).collect()
    }
    got_w = {
        r["doc_id"]
        for r in pos_index.search_span_within(
            ("term", little), big, k=None
        ).collect()
    }
    assert got_c == want
    assert got_w == want  # doc sets coincide; emitted spans differ


def test_span_kernels_emit_different_spans(doc_tokens):
    """Containing returns BIG spans, within returns LITTLE spans."""
    import numpy as np

    from elasticsearch_assets_spark.query.phrase import (
        span_containing_spans,
        span_within_spans,
    )

    big = (
        np.array([1, 1], dtype=np.int64),
        np.array([0, 10], dtype=np.int64),
        np.array([5, 15], dtype=np.int64),
    )
    little = (
        np.array([1, 1], dtype=np.int64),
        np.array([2, 30], dtype=np.int64),
        np.array([3, 31], dtype=np.int64),
    )
    c = span_containing_spans(big, little)
    w = span_within_spans(little, big)
    assert (c[1].tolist(), c[2].tolist()) == ([0], [5])    # the big span
    assert (w[1].tolist(), w[2].tolist()) == ([2], [3])    # the little span
    with pytest.raises(ValueError):
        span_containing_spans(big, big)  # little must be width 1


def test_intervals_brute_and_phrase_degeneration(
    pos_index, doc_tokens, corpus, both_placements
):
    from collections import Counter

    c = Counter(t for toks in doc_tokens.values() for t in set(toks))
    t1, t2, t3 = [t for t, _ in c.most_common(3)]

    def ordered_hit(toks, terms, gaps):
        # greedy existence check
        best = None
        for i, t in enumerate(toks):
            if t != terms[0]:
                continue
            cur = i
            ok = True
            for nxt in terms[1:]:
                found = next(
                    (j for j in range(cur + 1, len(toks)) if toks[j] == nxt),
                    None,
                )
                if found is None:
                    ok = False
                    break
                cur = found
            if ok and cur - i + 1 - len(terms) <= gaps:
                best = True
                break
        return bool(best)

    for placement in both_placements():
        for gaps in (0, 5, 50):
            got = {
                r["doc_id"]
                for r in pos_index.search_intervals(
                    [t1, t2, t3], max_gaps=gaps, k=None
                ).collect()
            }
            want = {
                d for d, toks in doc_tokens.items()
                if ordered_hit(toks, [t1, t2, t3], gaps)
            }
            assert got == want, f"{placement} gaps={gaps}"
    with pytest.raises(ValueError):
        pos_index.search_intervals([t1], max_gaps=0)
    with pytest.raises(ValueError):
        pos_index.search_intervals([t1, t1], max_gaps=0)


def test_intervals_zero_gaps_equals_phrase(pos_index, doc_tokens):
    t1, t2 = _pick_near_terms(doc_tokens, 1)
    got = {
        r["doc_id"]
        for r in pos_index.search_intervals([t1, t2], max_gaps=0, k=None).collect()
    }
    phr = {
        r["doc_id"]
        for r in pos_index.search_phrase([t1, t2], k=None).collect()
    }
    assert got == phr


def test_sqs_parser():
    from elasticsearch_assets_spark.query.simplestring import parse_sqs

    p = parse_sqs("spark tab* jo|scan -merge +query")
    assert p.groups == [
        [("spark", False)], [("tab", True)],
        [("jo", False), ("scan", False)], [("query", False)],
    ]
    assert p.nots == [("merge", False)]
    assert parse_sqs('"a b"').phrase == ["a", "b"]
    with pytest.raises(ValueError):
        parse_sqs('spark "a b"')


def test_sqs_and_equals_groups(index, doc_tokens):
    t1 = _common_term(doc_tokens, 0)
    t2 = _common_term(doc_tokens, 1)
    prefix = t2[:3]
    got = index.search_simple_query_string(
        f"{t1} {prefix}*", k=None, default_operator="and"
    ).collect()
    want = index.search(
        None, k=None, mode="and",
        groups=[[t1], index.expand_prefix(prefix)],
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_sqs_or_with_negation(index, doc_tokens):
    t1 = _common_term(doc_tokens, 0)
    t2 = _common_term(doc_tokens, 1)
    t3 = _common_term(doc_tokens, 2)
    got = index.search_simple_query_string(
        f"{t1}|{t2} -{t3}", k=None, default_operator="or"
    ).collect()
    want = index.search(
        [t1, t2], k=None, mode="or", must_not=[t3]
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_sqs_phrase_delegates(pos_index, doc_tokens):
    t1, t2 = _pick_near_terms(doc_tokens, 1)
    got = {
        r["doc_id"]
        for r in pos_index.search_simple_query_string(
            f'"{t1} {t2}"', k=None
        ).collect()
    }
    want = {
        r["doc_id"] for r in pos_index.search_phrase([t1, t2], k=None).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# batch 9: PII scrubbing
# ---------------------------------------------------------------------------


def test_pii_scrub_counts_and_redaction(spark):
    from elasticsearch_assets_spark.operators.textstats import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "write to a.b+c@ex.co.uk and bob@x.io now"),
            (2, "ssn 123-45-6789 phone 555-123-4567 alt 555.123.4567"),
            (3, "host 10.0.255.1 clean words only"),
            (4, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert rows[1]["n_email"] == 2 and "<EMAIL>" in rows[1]["clean_text"]
    assert "@" not in rows[1]["clean_text"]
    assert rows[2]["n_ssn"] == 1 and rows[2]["n_phone"] == 2
    assert "123-45-6789" not in rows[2]["clean_text"]
    assert rows[3]["n_ipv4"] == 1 and "<IP>" in rows[3]["clean_text"]
    assert rows[4]["clean_text"] == "nothing sensitive here"
    assert all(
        rows[4][f"n_{c}"] == 0 for c in ("email", "ssn", "phone", "ipv4")
    )


# ---------------------------------------------------------------------------
# batch 10: combined_fields (BM25F)
# ---------------------------------------------------------------------------


def test_combined_fields_single_field_equals_or_search(index, corpus, doc_tokens):
    """With one field at weight 1.0 the pseudo-stats collapse to the plain
    collection stats, so BM25F == the flat OR search (float-path delta
    only)."""
    from elasticsearch_assets_spark.query.engine import combined_fields

    t1 = _common_term(doc_tokens, 0)
    t2 = _common_term(doc_tokens, 3)
    got = {
        r["doc_id"]: r["score"]
        for r in combined_fields(
            {"text": (index, 1.0)}, corpus, {"text": "text"},
            [t1, t2], k=None, mode="or",
        ).collect()
    }
    want = _scores(index.search([t1, t2], k=None, mode="or"))
    assert set(got) == set(want)
    for d in got:
        assert math.isclose(got[d], want[d], rel_tol=1e-9)


def test_combined_fields_brute_force(spark, tmp_path_factory):
    from elasticsearch_assets_spark.index.stats import B, K1
    from elasticsearch_assets_spark.query.engine import combined_fields

    rows = [
        (0, "alpha beta gamma", "alpha"),
        (1, "beta beta delta epsilon", "delta zeta"),
        (2, "alpha delta", "beta"),
        (3, "zeta eta theta iota kappa", "alpha beta"),
        (4, "gamma gamma gamma", "gamma"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, body string, head string")
    d = tmp_path_factory.mktemp("cfidx")
    build_index(spark, df, str(d / "body"), text_col="body",
                num_segments=2, num_chunks=1)
    build_index(spark, df, str(d / "head"), text_col="head",
                num_segments=2, num_chunks=1)
    bidx = InvertedIndex(spark, str(d / "body"))
    hidx = InvertedIndex(spark, str(d / "head"))
    terms = ["alpha", "beta"]
    w_head = 3.0
    got = {
        r["doc_id"]: r["score"]
        for r in combined_fields(
            {"body": (bidx, 1.0), "head": (hidx, w_head)},
            df, {"body": "body", "head": "head"}, terms, k=None, mode="or",
        ).collect()
    }
    # brute force BM25F
    toks = {r[0]: (r[1].split(), r[2].split()) for r in rows}
    dlc = {d_: len(b) + w_head * len(h) for d_, (b, h) in toks.items()}
    avgdl = sum(dlc.values()) / len(dlc)
    n = len(rows)
    want = {}
    for t in terms:
        dfc = sum(
            1 for b, h in toks.values() if t in b or t in h
        )
        if dfc == 0:
            continue
        idf = math.log(1 + (n - dfc + 0.5) / (dfc + 0.5))
        for d_, (b, h) in toks.items():
            tfc = b.count(t) + w_head * h.count(t)
            if tfc == 0:
                continue
            w = idf * tfc * (K1 + 1) / (
                tfc + K1 * (1 - B + B * dlc[d_] / avgdl)
            )
            want[d_] = want.get(d_, 0.0) + w
    assert set(got) == set(want)
    for d_ in got:
        assert math.isclose(got[d_], want[d_], rel_tol=1e-9)
    # AND mode keeps only docs matching every term in SOME field
    got_and = {
        r["doc_id"]
        for r in combined_fields(
            {"body": (bidx, 1.0), "head": (hidx, w_head)},
            df, {"body": "body", "head": "head"}, terms, k=None, mode="and",
        ).collect()
    }
    want_and = {
        d_ for d_, (b, h) in toks.items()
        if all(t in b or t in h for t in terms)
    }
    assert got_and == want_and
    with pytest.raises(ValueError):
        combined_fields({}, df, {}, terms)
    with pytest.raises(ValueError):
        combined_fields(
            {"body": (bidx, 1.0)}, df, {"other": "body"}, terms
        )


def test_polygon_predicate_vs_python(spark):
    from elasticsearch_assets_spark.operators.geo import (
        point_in_polygon_sql,
        polygon_predicate,
    )

    poly = [(0.0, 0.0), (10.0, 5.0), (8.0, 12.0), (-2.0, 9.0), (-4.0, 4.0)]

    def ray_cast(py, px):
        inside = False
        n = len(poly)
        for i in range(n):
            y1, x1 = poly[i]
            y2, x2 = poly[(i + 1) % n]
            if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (
                y2 - y1
            ) + x1:
                inside = not inside
        return inside

    rows = [
        (i, ((i * 37) % 200) / 10.0 - 10.0, ((i * 53) % 250) / 10.0 - 5.0)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lon double")
    got = {
        r["id"]
        for r in df.where(polygon_predicate("lat", "lon", poly)).collect()
    }
    want = {i for i, la, lo in rows if ray_cast(la, lo)}
    assert got == want and got  # non-degenerate
    with pytest.raises(ValueError):
        point_in_polygon_sql("lat", "lon", poly[:2])


# ---------------------------------------------------------------------------
# batch 10c: URL canonicalization / delete_by_query
# ---------------------------------------------------------------------------


def test_canonical_url_rules(spark):
    from elasticsearch_assets_spark.operators.urls import canonicalize_urls

    cases = [
        (" HTTP://Example.COM:80/Path/x#frag ", "http://example.com/Path/x", "example.com"),
        ("https://A.B.c:443/", "https://a.b.c/", "a.b.c"),
        ("https://a.b:8443/q?x=1#y", "https://a.b:8443/q?x=1", "a.b"),
        ("http://host/path/", "http://host/path", "host"),
        ("not a url", "not a url", ""),
        ("http://h:8080/", "http://h:8080/", "h"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(cases)], "id long, url string"
    )
    rows = {r["id"]: r for r in canonicalize_urls(df).collect()}
    for i, (_, canon, host) in enumerate(cases):
        assert rows[i]["canonical_url"] == canon, rows[i]
        assert rows[i]["host"] == host


def test_dedup_by_url_groups(spark):
    from elasticsearch_assets_spark.operators.urls import dedup_by_url

    df = spark.createDataFrame(
        [
            (3, "HTTP://X.COM:80/a#z"),
            (1, "http://x.com/a/"),
            (7, "http://X.com/a"),
            (2, "http://y.com/b"),
        ],
        "doc_id long, url string",
    )
    out = {r["canonical_url"]: r for r in dedup_by_url(df).collect()}
    assert out["http://x.com/a"]["keep_id"] == 1
    assert out["http://x.com/a"]["n_copies"] == 3
    assert out["http://y.com/b"]["n_copies"] == 1


def test_delete_by_query_semantics(spark, corpus, doc_tokens, tmp_path_factory):
    import shutil

    term = _common_term(doc_tokens, 4)
    d = str(tmp_path_factory.mktemp("delq") / "idx")
    build_index(spark, corpus, d, num_segments=4, num_chunks=1)
    idx = InvertedIndex(spark, d)
    before = {r["doc_id"] for r in idx.search([term], k=None).collect()}
    assert before
    n = idx.delete_by_query([term])
    assert n == len(before)
    # deleted docs vanish from every query immediately
    assert idx.search([term], k=None).count() == 0
    other = _common_term(doc_tokens, 0)
    assert not before & {
        r["doc_id"] for r in idx.search([other], k=None).collect()
    }
    # second call deletes nothing (already-tombstoned docs never match)
    assert idx.delete_by_query([term]) == 0
    # stats untouched until compaction (the ES deleted-docs contract)
    assert idx.count_term(term) == len(before)


def test_many_term_or_exhaustive_switch_rank_identical(index, doc_tokens):
    """≥ MANY_TERMS_EXHAUSTIVE present terms flips the pruned OR kernel
    to exhaustive-then-cut; results must be bit-identical to k=None
    scoring (and the switch threshold must actually engage)."""
    from collections import Counter

    from elasticsearch_assets_spark.query.wand import MANY_TERMS_EXHAUSTIVE

    c = Counter(t for toks in doc_tokens.values() for t in set(toks))
    terms = sorted(t for t, _ in c.most_common(MANY_TERMS_EXHAUSTIVE + 8))
    assert len(terms) >= MANY_TERMS_EXHAUSTIVE
    topk = index.search(terms, k=15, mode="or").collect()
    full = index.search(terms, k=None, mode="or").collect()
    assert [(r["doc_id"], r["score"]) for r in topk] == [
        (r["doc_id"], r["score"]) for r in full[:15]
    ]


def test_duplicate_spans_brute(spark):
    from collections import Counter

    from elasticsearch_assets_spark.operators import dedup as OD

    boiler = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (0, f"{boiler} one two three {boiler}"),
        (1, f"intro words here {boiler} tail"),
        (2, "completely unique text with no repeats at all whatsoever"),
        (3, "short"),
        (4, f"x {boiler} y {boiler} z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    L = 4
    got = [
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in OD.duplicate_spans(df, L=L).collect()
    ]

    # brute force
    toks = {d: t.split() for d, t in rows}
    cnt = Counter()
    for t in toks.values():
        for i in range(len(t) - L + 1):
            cnt[" ".join(t[i : i + L])] += 1
    want = []
    for d, t in sorted(toks.items()):
        marks = [
            i + 1
            for i in range(len(t) - L + 1)
            if cnt[" ".join(t[i : i + L])] >= 2
        ]
        spans = []
        for p in marks:
            if spans and p <= spans[-1][1]:
                spans[-1] = (spans[-1][0], max(spans[-1][1], p + L))
            else:
                spans.append((p, p + L))
        want.extend((d, s, e) for s, e in spans)
    assert got == want
    assert any(d == 0 for d, _, _ in got)      # boilerplate found
    assert not any(d == 2 for d, _, _ in got)  # unique doc clean
    assert not any(d == 3 for d, _, _ in got)  # shorter than L


def test_update_by_query_semantics(index, corpus, doc_tokens):
    term = _common_term(doc_tokens, 2)
    matched = {
        r["doc_id"] for r in index.search([term], k=None, mode="or").collect()
    }
    c2 = corpus.withColumn("flag", F.lit(0))
    out = index.update_by_query(
        c2, [term], {"flag": "flag + 7", "doc_key": "upper(doc_key)"}
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    base = {r["doc_id"]: r for r in c2.collect()}
    assert set(rows) == set(base)  # row count preserved
    for d, r in rows.items():
        if d in matched:
            assert r["flag"] == 7
            assert r["doc_key"] == base[d]["doc_key"].upper()
        else:
            assert r["flag"] == 0 and r["doc_key"] == base[d]["doc_key"]
    with pytest.raises(ValueError):
        index.update_by_query(c2, [term], {"nope": "1"})


def test_analyze_api(index):
    assert index.analyze("Hello, World! 42") == [
        (0, "hello"), (1, "world"), (2, "42"),
    ]


def test_significance_heuristics(index, corpus, doc_tokens):
    from elasticsearch_assets_spark.operators import facets as OFA

    term = _common_term(doc_tokens, 0)
    matches = index.search([term], k=None, mode="and")
    fg_total = matches.count()
    bg_total = corpus.count()
    for h in ("percentage", "jlh", "chi_square"):
        out = OFA.significant_terms(
            matches, corpus, n=None, heuristic=h, min_doc_count=2
        ).collect()
        assert out
        for r in out[:20]:
            fgp = r["fg_df"] / fg_total
            bgp = r["bg_df"] / bg_total
            if h == "percentage":
                want = fgp / bgp
            elif h == "jlh":
                want = (fgp - bgp) * (fgp / bgp)
            else:
                n11 = r["fg_df"]
                n01 = r["bg_df"] - r["fg_df"]
                n10 = fg_total - n11
                n00 = (bg_total - fg_total) - n01
                n = bg_total
                want = (
                    n * (n11 * n00 - n10 * n01) ** 2
                    / ((n11 + n01) * (n11 + n10) * (n10 + n00) * (n01 + n00))
                ) if fgp > bgp else 0.0
            assert math.isclose(r["score"], want, rel_tol=1e-9), (h, r)
    with pytest.raises(ValueError):
        OFA.significant_terms(matches, corpus, heuristic="nope").collect()


# ---------------------------------------------------------------------------
# batch 11: document relations
# ---------------------------------------------------------------------------


def test_has_child_and_parent(spark):
    from elasticsearch_assets_spark.operators import relations as OR

    parents = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "c")], "pk long, seg string"
    )
    children = spark.createDataFrame(
        [(10, 1, 5.0), (11, 1, 15.0), (12, 1, 25.0),
         (13, 2, 50.0), (14, 3, 1.0), (15, 9, 99.0)],
        "ck long, fk long, v double",
    )
    hc = OR.has_child(
        parents, children, "pk", "fk", F.col("v") > 10.0, min_children=2
    ).collect()
    assert [(r["pk"], r["n_matching"]) for r in hc] == [(1, 2)]
    hp = OR.has_parent(
        parents, children, "pk", "fk", F.col("seg") == "a",
        child_cols=["ck"],
    ).collect()
    assert sorted(r["ck"] for r in hp) == [10, 11, 12, 14]
    with pytest.raises(ValueError):
        OR.has_child(parents, children, "pk", "fk", F.col("v") > 0, 0)


def test_nested_co_match_vs_flattened(spark):
    from elasticsearch_assets_spark.operators import relations as OR

    rows = [
        (0, "spark join extra words here pad pad pad pad pad"),   # same chunk
        (1, "spark " + "pad " * 12 + "join end"),                 # different chunks
        (2, "no relevant terms at all"),
        (3, "pad pad join spark tail"),                           # same chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]
        for r in df.where(
            OR.nested_co_match("text", ["spark", "join"], n=10)
        ).collect()
    }
    assert got == {0, 3}  # doc 1 flattened-matches but nested-misses
    flat = {
        d for d, t in rows if "spark" in t.split() and "join" in t.split()
    }
    assert 1 in flat and 1 not in got
    with pytest.raises(ValueError):
        OR.nested_co_match("text", [])


def test_moving_percentiles_vs_numpy(spark):
    from elasticsearch_assets_spark.operators import facets as OFA

    rows = [
        (i, f"2024-01-{d:02d} 01:00:00", float(v))
        for i, (d, v) in enumerate(
            [(1, 10), (2, 40), (3, 20), (4, 80), (5, 30), (6, 60)]
        )
    ]
    df = spark.createDataFrame(rows, "id long, ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = OFA.facet_moving_percentiles(
        df.select("id"), df, "ts", "v", "day", window=3, percent=50.0,
        id_col="id",
    ).collect()
    vals = [10.0, 40.0, 20.0, 80.0, 30.0, 60.0]
    for i, r in enumerate(out):
        w = vals[max(0, i - 2) : i + 1]
        assert math.isclose(
            r["moving_pct"], float(np.percentile(w, 50)), rel_tol=1e-9
        )
    with pytest.raises(ValueError):
        OFA.facet_moving_percentiles(
            df.select("id"), df, "ts", "v", window=0, id_col="id"
        )


def test_dis_max_fused_parity_with_per_search_combine(
    index, doc_tokens, both_placements
):
    """The fused single-scan dis_max must equal the naive per-subquery
    search + driver combine, in both OR and AND subquery modes."""
    for _ in both_placements():
        t1 = _common_term(doc_tokens, 0)
        t2 = _common_term(doc_tokens, 1)
        t3 = _common_term(doc_tokens, 2)
        subs = [[t1, t2], [t3], ["zz_no_such_term"]]
        for mode in ("or", "and"):
            got = {
                r["doc_id"]: r["score"]
                for r in index.dis_max(
                    subs, tie_breaker=0.4, k=None, mode=mode
                ).collect()
            }
            per = [
                _scores(index.search(q, k=None, mode=mode)) for q in subs
            ]
            want = {}
            for d in set().union(*[set(p) for p in per]):
                ss = [p[d] for p in per if d in p]
                want[d] = max(ss) + 0.4 * (sum(ss) - max(ss))
            assert set(got) == set(want)
            for d in got:
                assert math.isclose(got[d], want[d], rel_tol=1e-9), (mode, d)


def test_search_sorted_after_walks_pages(index, corpus, doc_tokens):
    term = _common_term(doc_tokens, 1)
    c2 = corpus.withColumn("v", F.length("text").cast("long"))
    full = index.search_sorted(
        [term], c2, "v", ascending=True, k=None
    ).collect()
    pages, after = [], None
    while True:
        p = index.search_sorted(
            [term], c2, "v", ascending=True, k=7, after=after
        ).collect()
        if not p:
            break
        pages.extend(p)
        after = (p[-1]["v"], p[-1]["doc_id"])
    assert [(r["doc_id"], r["v"]) for r in pages] == [
        (r["doc_id"], r["v"]) for r in full
    ]


def test_linear_fuse_formula(spark):
    from elasticsearch_assets_spark.operators.similarity import linear_fuse

    a = spark.createDataFrame(
        [(1, 10.0), (2, 5.0), (3, 0.0)], "doc_id long, score double"
    )
    b = spark.createDataFrame(
        [(2, 2.0), (4, 1.0)], "doc_id long, score double"
    )
    out = {
        r["doc_id"]: r["score"]
        for r in linear_fuse([a, b], weights=[1.0, 3.0], k=None).collect()
    }
    # minmax: a -> {1:1.0, 2:0.5, 3:0.0}; b -> {2:1.0, 4:0.0}
    assert out == {1: 1.0, 2: 0.5 + 3.0, 3: 0.0, 4: 0.0}
    # degenerate list (one score) normalizes to 1.0
    c = spark.createDataFrame([(9, 42.0)], "doc_id long, score double")
    got = linear_fuse([c], k=None).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [(9, 1.0)]
    # normalizer "none" keeps raw scores
    raw = {
        r["doc_id"]: r["score"]
        for r in linear_fuse(
            [a, b], weights=[1.0, 1.0], normalizer="none", k=None
        ).collect()
    }
    assert raw == {1: 10.0, 2: 7.0, 3: 0.0, 4: 1.0}
    with pytest.raises(ValueError):
        linear_fuse([])
    with pytest.raises(ValueError):
        linear_fuse([a], weights=[1.0, 2.0])
    with pytest.raises(ValueError):
        linear_fuse([a], normalizer="zscore")
