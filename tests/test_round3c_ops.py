"""Round-3 fourth batch: boosting query, span_first / span_not, the
_explain / _termvectors / _stats inspection APIs, and the remaining ES
aggregations (extended_stats, percentile_ranks, weighted_avg, rare_terms,
adjacency_matrix, geotile_grid, auto_date_histogram).

Reference surface: ES query-DSL / agg / document APIs the reference's
deployments reach through its pass-through facade
(/root/reference/asset/elasticsearch_reader/index.js builds query bodies;
semantics from the ES/Lucene docs), re-expressed as dictionary scans +
DataFrame plans."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.analysis.tokenizer import tokenize_series
from elasticsearch_assets_spark.datagen.pages import pages_df
from elasticsearch_assets_spark.index.build import build_index
from elasticsearch_assets_spark.operators import facets as OFA
from elasticsearch_assets_spark.query.engine import InvertedIndex


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


@pytest.fixture(scope="module")
def doc_tokens(corpus):
    pdf = corpus.select("doc_id", "text").toPandas()
    toks = tokenize_series(pdf["text"])
    return dict(zip(pdf["doc_id"].tolist(), [list(t) for t in toks]))


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


# ---------------------------------------------------------------------------
# boosting query
# ---------------------------------------------------------------------------


def test_boosting_demotes_negative_matches(index, doc_tokens):
    base = dict(_pairs(index.search(["spark", "join"], k=None, mode="or")))
    got = dict(_pairs(index.boosting(["spark", "join"], ["merge"], 0.25, k=None)))
    assert set(got) == set(base)  # negative side never excludes
    for d, s in got.items():
        if "merge" in doc_tokens[d]:
            assert s == pytest.approx(base[d] * 0.25)
        else:
            assert s == base[d]


def test_boosting_validates_negative_boost(index):
    with pytest.raises(ValueError):
        index.boosting("spark", "merge", negative_boost=1.5)


# ---------------------------------------------------------------------------
# span queries
# ---------------------------------------------------------------------------


def test_span_first_matches_leading_positions(
    pos_index, doc_tokens, both_placements
):
    for _ in both_placements():
        end = 4
        got = {d for d, _ in _pairs(pos_index.search_span_first("spark", end, k=None))}
        want = {d for d, toks in doc_tokens.items() if "spark" in toks[:end]}
        assert got == want
        # scores equal the single-term scores restricted to the match set
        base = dict(_pairs(pos_index.search(["spark"], k=None)))
        for d, s in _pairs(pos_index.search_span_first("spark", end, k=None)):
            assert s == pytest.approx(base[d])


def test_span_first_edge_cases(pos_index, index):
    assert pos_index.search_span_first("spark", 0, k=None).count() == 0
    assert pos_index.search_span_first("zzzznope", 5, k=None).count() == 0
    with pytest.raises(ValueError):
        index.search_span_first("spark", 3)  # non-positional index


def test_span_not_window_semantics(pos_index, doc_tokens, both_placements):
    for _ in both_placements():
        pre = post = 2
        got = {
            d for d, _ in _pairs(
                pos_index.search_span_not("spark", "join", pre=pre, post=post, k=None)
            )
        }
        want = set()
        for d, toks in doc_tokens.items():
            inc = [i for i, t in enumerate(toks) if t == "spark"]
            exc = [i for i, t in enumerate(toks) if t == "join"]
            if any(
                all(not (p - pre <= q <= p + post) for q in exc) for p in inc
            ):
                want.add(d)
        assert got == want


def test_span_not_missing_exclude_is_plain_match(pos_index):
    got = _pairs(pos_index.search_span_not("spark", "zzzznope", pre=3, post=3, k=None))
    base = _pairs(pos_index.search(["spark"], k=None))
    assert got == base
    with pytest.raises(ValueError):
        from elasticsearch_assets_spark.query.phrase import span_not_match
        span_not_match({}, "same", "same")


# ---------------------------------------------------------------------------
# inspection APIs
# ---------------------------------------------------------------------------


def test_explain_weights_sum_to_search_score(index):
    scored = _pairs(index.search(["spark", "join"], k=5, mode="and"))
    assert scored
    for doc_id, score in scored[:3]:
        rows = index.explain(["spark", "join"], doc_id).collect()
        assert [r["term"] for r in rows] == ["join", "spark"]
        assert sum(r["weight"] for r in rows) == pytest.approx(score)
        for r in rows:
            assert r["tf"] >= 1 and r["df"] >= 1 and r["dl"] >= r["tf"]


def test_explain_empty_and_nonmatching(index):
    assert index.explain([], 7).count() == 0
    # a doc matching neither term explains to zero rows
    missing = index.explain(["zzzznope"], 7)
    assert missing.count() == 0
    assert missing.columns == ["term", "tf", "dl", "df", "idf", "weight"]


def test_termvectors_matches_tokenized_doc(index, doc_tokens):
    doc_id = sorted(doc_tokens)[17]
    rows = index.termvectors(doc_id).collect()
    toks = doc_tokens[doc_id]
    want_tf = {}
    for t in toks:
        want_tf[t] = want_tf.get(t, 0) + 1
    got_tf = {r["term"]: r["tf"] for r in rows}
    assert got_tf == want_tf
    terms = [r["term"] for r in rows]
    assert terms == sorted(terms)
    dfs = index.term_stats(list(got_tf))
    assert {r["term"]: r["df"] for r in rows} == dfs


# ---------------------------------------------------------------------------
# aggregations
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark_matches(index):
    return index.search(["spark"], k=None, mode="and")


@pytest.fixture(scope="module")
def match_vals(spark_matches, corpus):
    ids = {r["doc_id"] for r in spark_matches.select("doc_id").collect()}
    pdf = corpus.select("doc_id").toPandas()
    return np.array(
        [d for d in pdf["doc_id"].tolist() if d in ids], dtype=np.float64
    )


def test_extended_stats_matches_numpy(spark_matches, corpus, match_vals):
    row = OFA.facet_extended_stats(
        spark_matches, corpus, "doc_id", sigma=2.0
    ).collect()[0]
    v = match_vals
    assert row["count"] == v.size
    assert row["sum_of_squares"] == pytest.approx(float((v * v).sum()))
    assert row["variance"] == pytest.approx(float(v.var()))  # population
    assert row["std_deviation"] == pytest.approx(float(v.std()))
    assert row["std_upper"] == pytest.approx(float(v.mean() + 2 * v.std()))
    assert row["std_lower"] == pytest.approx(float(v.mean() - 2 * v.std()))


def test_percentile_ranks_matches_numpy(spark_matches, corpus, match_vals):
    vals = [100.0, 600.0, 5000.0]
    rows = OFA.facet_percentile_ranks(
        spark_matches, corpus, "doc_id", vals
    ).collect()
    assert [r["value"] for r in rows] == vals
    for r in rows:
        want = 100.0 * float((match_vals <= r["value"]).sum()) / match_vals.size
        assert r["percent"] == pytest.approx(want)
    assert rows[-1]["percent"] == pytest.approx(100.0)


def test_weighted_avg_matches_numpy(spark_matches, corpus, match_vals):
    weighted = corpus.withColumn("w", (F.col("doc_id") % 7 + 1).cast("double"))
    row = OFA.facet_weighted_avg(
        spark_matches, weighted, "doc_id", "w"
    ).collect()[0]
    w = match_vals % 7 + 1
    assert row["value"] == pytest.approx(float((match_vals * w).sum() / w.sum()))


def test_rare_terms_tail_only(spark_matches, corpus, match_vals):
    bucketed = corpus.withColumn("b", F.col("doc_id") % 700)
    rows = OFA.facet_rare_terms(
        spark_matches, bucketed, "b", max_doc_count=1
    ).collect()
    b = (match_vals.astype(np.int64)) % 700
    uniq, counts = np.unique(b, return_counts=True)
    want = {int(u) for u, c in zip(uniq, counts) if c <= 1}
    assert {r["bucket"] for r in rows} == want
    assert all(r["doc_count"] == 1 for r in rows)
    # rare-first, bucket-ASC determinism
    assert [r["bucket"] for r in rows] == sorted(r["bucket"] for r in rows)


def test_adjacency_matrix_counts(spark_matches, corpus, match_vals):
    rows = OFA.facet_adjacency_matrix(
        spark_matches,
        corpus,
        {
            "low": F.col("doc_id") < 400,
            "mid": (F.col("doc_id") >= 200) & (F.col("doc_id") < 900),
        },
    ).collect()
    got = {r["key"]: r["doc_count"] for r in rows}
    v = match_vals
    want = {
        "low": int((v < 400).sum()),
        "mid": int(((v >= 200) & (v < 900)).sum()),
        "low&mid": int(((v >= 200) & (v < 400)).sum()),
    }
    assert got == {k: c for k, c in want.items() if c > 0}
    assert [r["key"] for r in rows] == sorted(got)


def test_geotile_grid_formula(spark_matches, corpus, match_vals):
    zoom = 4
    geo = corpus.withColumn(
        "lat", ((F.col("doc_id") * 3) % 170 - 85).cast("double")
    ).withColumn("lon", ((F.col("doc_id") * 11) % 360 - 180).cast("double"))
    rows = OFA.facet_geotile_grid(
        spark_matches, geo, "lat", "lon", zoom=zoom
    ).collect()
    z2 = 2.0 ** zoom

    def tile(lat, lon):
        lat = max(-85.05112878, min(85.05112878, lat))
        latr = math.radians(lat)
        x = math.floor((lon + 180.0) / 360.0 * z2)
        y = math.floor(
            (1.0 - math.log(math.tan(latr) + 1.0 / math.cos(latr)) / math.pi)
            / 2.0 * z2
        )
        x = min(max(x, 0), int(z2) - 1)
        y = min(max(y, 0), int(z2) - 1)
        return f"{zoom}/{x}/{y}"

    want = {}
    for d in match_vals.astype(np.int64):
        key = tile(float((d * 3) % 170 - 85), float((d * 11) % 360 - 180))
        want[key] = want.get(key, 0) + 1
    assert {r["key"]: r["doc_count"] for r in rows} == want
    counts = [r["doc_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    with pytest.raises(ValueError):
        OFA.facet_geotile_grid(spark_matches, geo, "lat", "lon", zoom=31)


def test_auto_date_histogram_picks_smallest_fitting(spark, spark_matches, corpus):
    # 2·doc_id mod 2100 minutes spans ~35 hours -> minute count huge,
    # hour count 35, day count 2 -> target 10 picks 'day', 40 picks 'hour'
    dated = corpus.withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_interval(mins=((F.col("doc_id") * 2) % 2100).cast("int")),
    )
    rows = OFA.facet_auto_date_histogram(
        spark_matches, dated, "ts", target_buckets=10
    ).collect()
    assert rows and all(r["interval"] == "day" for r in rows)
    assert len(rows) == 2  # Jan 1 + Jan 2
    # with a generous target the finer rung wins
    rows_h = OFA.facet_auto_date_histogram(
        spark_matches, dated, "ts", target_buckets=40
    ).collect()
    assert rows_h and all(r["interval"] == "hour" for r in rows_h)
    assert sum(r["doc_count"] for r in rows_h) == sum(
        r["doc_count"] for r in rows
    )


# ---------------------------------------------------------------------------
# batch 5: terms_set / exists / matrix stats family
# ---------------------------------------------------------------------------


def test_terms_set_per_doc_threshold(index, corpus, doc_tokens):
    terms = ["spark", "join", "merge"]
    c2 = corpus.withColumn("req", (F.col("doc_id") % 3 + 1).cast("int"))
    got = dict(_pairs(index.terms_set(terms, c2, "req", k=None)))
    want_or = dict(_pairs(index.search(terms, k=None, mode="or")))
    want_ids = set()
    for d, toks in doc_tokens.items():
        matched = len(set(terms) & set(toks))
        if matched >= (d % 3 + 1):
            want_ids.add(d)
    assert set(got) == want_ids
    for d, s in got.items():  # scores are the OR scores, restricted
        assert s == pytest.approx(want_or[d])
    assert index.terms_set([], c2, "req").count() == 0


def test_lucene_exists_pseudo_field(spark, corpus):
    from elasticsearch_assets_spark.query.lucene import compile_filter, parse_lucene

    ev = corpus.withColumn(
        "maybe", F.when(F.col("doc_id") % 4 == 0, None).otherwise(F.col("doc_id"))
    )
    pred = compile_filter(parse_lucene("_exists_:maybe"), analyzed_fields=set())
    got = ev.where(pred).count()
    assert got == ev.where(F.col("maybe").isNotNull()).count()
    assert got == corpus.where(F.col("doc_id") % 4 != 0).count()


def test_matrix_stats_matches_numpy(spark_matches, corpus, match_vals):
    c2 = corpus.withColumn("y", ((F.col("doc_id") * 13) % 101).cast("double"))
    row = OFA.facet_matrix_stats(spark_matches, c2, "doc_id", "y").collect()[0]
    x = match_vals
    y = (match_vals * 13) % 101
    assert row["count"] == x.size
    assert row["var_x"] == pytest.approx(float(x.var()))
    assert row["var_y"] == pytest.approx(float(y.var()))
    cov = float(((x - x.mean()) * (y - y.mean())).mean())
    assert row["covariance"] == pytest.approx(cov)
    assert row["correlation"] == pytest.approx(cov / (x.std() * y.std()))


def test_mad_matches_numpy(spark_matches, corpus, match_vals):
    row = OFA.facet_mad(spark_matches, corpus, "doc_id").collect()[0]
    med = float(np.median(match_vals))
    assert row["value"] == pytest.approx(float(np.median(np.abs(match_vals - med))))


def test_multi_terms_composite_buckets(spark_matches, corpus, match_vals):
    c2 = corpus.withColumn("a", F.col("doc_id") % 3).withColumn(
        "b", F.col("doc_id") % 2
    )
    rows = OFA.facet_multi_terms(spark_matches, c2, ["a", "b"], n=None).collect()
    got = {(r["key_a"], r["key_b"]): r["doc_count"] for r in rows}
    want = {}
    for d in match_vals.astype(np.int64):
        want[(d % 3, d % 2)] = want.get((d % 3, d % 2), 0) + 1
    assert got == want
    with pytest.raises(ValueError):
        OFA.facet_multi_terms(spark_matches, c2, [])


def test_top_metrics_grouped_top1(spark_matches, corpus, match_vals):
    c2 = corpus.withColumn("b", F.col("doc_id") % 5)
    rows = OFA.facet_top_metrics(spark_matches, c2, "b", "doc_id", "doc_id").collect()
    for r in rows:
        in_bucket = match_vals.astype(np.int64)[
            match_vals.astype(np.int64) % 5 == r["bucket"]
        ]
        assert r["sort_val"] == int(in_bucket.max())
        assert r["metric_val"] == r["sort_val"]
    assert [r["bucket"] for r in rows] == sorted(r["bucket"] for r in rows)


def test_geo_distance_rings(spark_matches, corpus, match_vals):
    import math as _m

    geo = corpus.withColumn(
        "lat", ((F.col("doc_id") * 3) % 170 - 85).cast("double")
    ).withColumn("lon", ((F.col("doc_id") * 11) % 360 - 180).cast("double"))
    edges = [3000.0, 9000.0]
    rows = OFA.facet_geo_distance(
        spark_matches, geo, "lat", "lon", "10,20", edges
    ).collect()

    def hav_km(lat, lon):
        r = 6371008.8
        p1, p2 = _m.radians(10.0), _m.radians(lat)
        dl = _m.radians(lon - 20.0)
        a = (
            _m.sin((p2 - p1) / 2) ** 2
            + _m.cos(p1) * _m.cos(p2) * _m.sin(dl / 2) ** 2
        )
        return 2 * r * _m.asin(_m.sqrt(a)) / 1000.0

    kms = [
        hav_km(float((d * 3) % 170 - 85), float((d * 11) % 360 - 180))
        for d in match_vals.astype(np.int64)
    ]
    want = [
        sum(1 for v in kms if v < 3000.0),
        sum(1 for v in kms if 3000.0 <= v < 9000.0),
        sum(1 for v in kms if v >= 9000.0),
    ]
    assert [r["doc_count"] for r in rows] == want
    assert rows[0]["bucket_lo"] is None and rows[-1]["bucket_hi"] is None
    with pytest.raises(ValueError):
        OFA.facet_geo_distance(spark_matches, geo, "lat", "lon", "10,20", [5.0, 5.0])


def test_geo_centroid_mean(spark_matches, corpus, match_vals):
    geo = corpus.withColumn("lat", (F.col("doc_id") % 90).cast("double")).withColumn(
        "lon", (F.col("doc_id") % 180).cast("double")
    )
    row = OFA.facet_geo_centroid(spark_matches, geo, "lat", "lon").collect()[0]
    assert row["count"] == match_vals.size
    assert row["lat"] == pytest.approx(float((match_vals % 90).mean()))
    assert row["lon"] == pytest.approx(float((match_vals % 180).mean()))


def test_sampler_deterministic_and_bounded(spark_matches, corpus):
    c2 = corpus.withColumn("b", F.col("doc_id") % 4)
    r1 = OFA.facet_sampler(spark_matches, c2, "b", shard_size=60).collect()
    r2 = OFA.facet_sampler(spark_matches, c2, "b", shard_size=60).collect()
    assert r1 == r2  # md5 ordering is reproducible
    assert sum(r["doc_count"] for r in r1) == 60
    # shard_size larger than the match set degrades to the full terms agg
    full = OFA.facet_sampler(spark_matches, c2, "b", shard_size=10_000_000).collect()
    whole = OFA.facet_counts(spark_matches, c2, "b").collect()
    assert {(r["bucket"], r["doc_count"]) for r in full} == {
        (r["bucket"], r["doc_count"]) for r in whole
    }


def test_bucket_script_and_selector(spark, spark_matches, corpus, match_vals):
    dated = corpus.withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-03-01 00:00:00"))
        + F.make_interval(hours=(F.col("doc_id") % 72).cast("int")),
    ).withColumn("v", (F.col("doc_id") % 50).cast("double"))
    rows = OFA.facet_bucket_script(
        spark_matches, dated, "ts", "v", "day", min_count=0
    ).collect()
    assert len(rows) == 3  # 72 hours -> 3 days
    for r in rows:
        assert r["ratio"] == pytest.approx(r["total"] / r["doc_count"])
    total_docs = sum(r["doc_count"] for r in rows)
    assert total_docs == match_vals.size
    # selector drops buckets at or below the floor
    kept = OFA.facet_bucket_script(
        spark_matches, dated, "ts", "v", "day", min_count=rows[0]["doc_count"]
    ).collect()
    assert all(r["doc_count"] > rows[0]["doc_count"] for r in kept)
