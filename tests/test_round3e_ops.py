"""Round-3 batch 13: _msearch fused multi-query execution, _mget,
script query, wrapper query, terms-lookup.

Reference surface: the ES request APIs the reference's facade reaches
(/root/reference/asset/elasticsearch_reader/index.js pass-through bodies;
semantics from the ES docs), re-expressed as one fused segment scan
(msearch), broadcast semi joins (mget / terms-lookup), and Catalyst-compiled
script expressions."""

from __future__ import annotations

import base64

import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.datagen.pages import pages_df
from elasticsearch_assets_spark.index.build import build_index
from elasticsearch_assets_spark.operators.relations import terms_lookup
from elasticsearch_assets_spark.query.engine import InvertedIndex


@pytest.fixture(scope="module")
def corpus(spark):
    return pages_df(spark, 600, partitions=4).cache()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_e") / "plain")
    build_index(spark, corpus, d, num_segments=8, num_chunks=2)
    return InvertedIndex(spark, d)


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


# ---------------------------------------------------------------------------
# msearch
# ---------------------------------------------------------------------------


MSEARCH_SPECS = [
    {"query": ["spark", "join"], "mode": "and", "k": 7},
    {"query": ["hash", "merge"], "mode": "or", "k": 5},
    {"query": ["table"], "mode": "and", "k": None},
    {"query": ["spark", "join", "merge"], "mode": "or", "min_should_match": 2, "k": 9},
    {"query": ["spark"], "mode": "and", "boosts": {"spark": 2.5}, "k": 6},
    {"query": ["spark"], "mode": "and", "must_not": ["join"], "k": 8},
]


def test_msearch_bit_identical_to_search(index):
    out = index.msearch(MSEARCH_SPECS)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, s in enumerate(MSEARCH_SPECS):
        alone = index.search(
            s["query"],
            k=s["k"],
            mode=s.get("mode", "and"),
            min_should_match=s.get("min_should_match"),
            boosts=s.get("boosts"),
            must_not=s.get("must_not"),
        )
        assert got.get(qid, []) == _rows(alone), f"query {qid} diverged"


def test_msearch_unsatisfiable_and_query_is_absent(index):
    out = index.msearch(
        [["spark"], ["spark", "zzzznotaterm"], ["join"]], k=4
    )
    qids = {r["query_id"] for r in out.collect()}
    assert 1 not in qids and {0, 2} <= qids


def test_msearch_plain_strings_and_default_k(index):
    out = index.msearch(["spark join", "hash"], k=3).collect()
    per = {}
    for r in out:
        per.setdefault(r["query_id"], []).append(r["doc_id"])
    assert len(per[0]) == 3 and len(per[1]) == 3


def test_msearch_empty(index):
    assert index.msearch([]).count() == 0
    assert index.msearch([[]]).count() == 0


def test_msearch_single_scan_plan(index):
    """The fused plan reads the segment table once — exactly one
    FlatMapGroupsInPandas (and one scan feeding it) for M queries."""
    plan = index.msearch(MSEARCH_SPECS)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1


# ---------------------------------------------------------------------------
# mget
# ---------------------------------------------------------------------------


def test_mget_found_and_missing(index, corpus):
    out = index.mget([3, 1, 10**9, 3], corpus)
    ids = [r["doc_id"] for r in out.collect()]
    assert ids == [1, 3]
    assert set(out.columns) == set(corpus.columns)


def test_mget_tombstoned_doc_not_found(spark, corpus, tmp_path_factory):
    from elasticsearch_assets_spark.index.tombstones import add_tombstones

    d = str(tmp_path_factory.mktemp("idx_e") / "tomb")
    build_index(spark, corpus, d, num_segments=4, num_chunks=1)
    add_tombstones(d, [5])
    idx = InvertedIndex(spark, d)
    ids = [r["doc_id"] for r in idx.mget([4, 5, 6], corpus).collect()]
    assert ids == [4, 6]


def test_mget_all_missing(index, corpus):
    assert index.mget([10**9], corpus).count() == 0


# ---------------------------------------------------------------------------
# script query
# ---------------------------------------------------------------------------


def test_script_query_filter_context(index, corpus):
    out = index.script_query(corpus, "doc_id % 5 = 0 AND length(text) > 0")
    assert out.count() == corpus.where("doc_id % 5 = 0 AND length(text) > 0").count()


def test_script_query_with_ranking_matches_search_filtered(index, corpus):
    got = index.script_query(
        corpus, "doc_id % 3 = 0", query=["spark", "join"], k=10, mode="or"
    )
    exp = index.search_filtered(
        ["spark", "join"], corpus.where("doc_id % 3 = 0"), k=10, mode="or"
    )
    assert _rows(got) == _rows(exp)


# ---------------------------------------------------------------------------
# wrapper query
# ---------------------------------------------------------------------------


def test_wrapper_query_decodes_and_delegates(index, corpus):
    q = "spark AND jo*"
    b64 = base64.b64encode(q.encode()).decode()
    got = index.search_wrapper(b64, corpus, k=8)
    exp = index.search_querystring(q, corpus, k=8)
    assert _rows(got) == _rows(exp)


# ---------------------------------------------------------------------------
# terms lookup
# ---------------------------------------------------------------------------


def test_terms_lookup_scalar_path(spark):
    lookup = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "id long, tag string"
    )
    corpus = spark.createDataFrame(
        [(10, "alpha"), (11, "beta"), (12, "alpha")], "doc long, tag string"
    )
    out = terms_lookup(corpus, "tag", lookup, F.col("id") == 1, "tag")
    assert sorted(r["doc"] for r in out.collect()) == [10, 12]


def test_terms_lookup_array_path(spark):
    lookup = spark.createDataFrame(
        [(1, "a b c")], "id long, tags string"
    )
    corpus = spark.createDataFrame(
        [(10, "a"), (11, "z"), (12, "c")], "doc long, tag string"
    )
    out = terms_lookup(
        corpus, "tag", lookup, F.col("id") == 1, "split(tags, ' ')"
    )
    assert sorted(r["doc"] for r in out.collect()) == [10, 12]


def test_terms_lookup_missing_doc_matches_nothing(spark):
    lookup = spark.createDataFrame([(1, "a")], "id long, tag string")
    corpus = spark.createDataFrame([(10, "a")], "doc long, tag string")
    out = terms_lookup(corpus, "tag", lookup, F.col("id") == 99, "tag")
    assert out.count() == 0


# ---------------------------------------------------------------------------
# rank_eval
# ---------------------------------------------------------------------------


def test_rank_eval_known_metrics(spark):
    from elasticsearch_assets_spark.operators.rankeval import rank_eval

    # q0: ranks 1..4 = docs 10,11,12,13; relevant = 11 (g1), 13 (g2), 99 (g1, unretrieved)
    results = spark.createDataFrame(
        [(0, 10, 4.0), (0, 11, 3.0), (0, 12, 2.0), (0, 13, 1.0)],
        "query_id int, doc_id long, score double",
    )
    judgments = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2), (0, 99, 1)],
        "query_id int, doc_id long, grade int",
    )
    r = rank_eval(results, judgments, k=3).collect()[0]
    assert r["precision_k"] == pytest.approx(1 / 3)
    assert r["recall_k"] == pytest.approx(1 / 3)
    assert r["mrr"] == pytest.approx(1 / 2)
    import math

    dcg = (2**1 - 1) / math.log2(2 + 1)  # doc 11 at rank 2
    idcg = (2**2 - 1) / math.log2(2) + (2**1 - 1) / math.log2(3) + (
        2**1 - 1
    ) / math.log2(4)
    assert r["ndcg"] == pytest.approx(dcg / idcg)


def test_rank_eval_no_judgments_query_zeroes(spark):
    from elasticsearch_assets_spark.operators.rankeval import rank_eval

    results = spark.createDataFrame(
        [(0, 1, 1.0)], "query_id int, doc_id long, score double"
    )
    judgments = spark.createDataFrame(
        [], "query_id int, doc_id long, grade int"
    )
    r = rank_eval(results, judgments, k=5).collect()[0]
    assert (r["precision_k"], r["recall_k"], r["mrr"], r["ndcg"]) == (0, 0, 0, 0)


def test_rank_eval_perfect_ranking(spark):
    from elasticsearch_assets_spark.operators.rankeval import rank_eval

    results = spark.createDataFrame(
        [(1, 5, 9.0), (1, 6, 8.0)], "query_id int, doc_id long, score double"
    )
    judgments = spark.createDataFrame(
        [(1, 5, 2), (1, 6, 1)], "query_id int, doc_id long, grade int"
    )
    r = rank_eval(results, judgments, k=2).collect()[0]
    assert r["ndcg"] == pytest.approx(1.0)
    assert r["mrr"] == 1.0
    assert r["recall_k"] == 1.0


# ---------------------------------------------------------------------------
# sparse_vector (text expansion)
# ---------------------------------------------------------------------------


def test_search_sparse_matches_manual_tfidf(index, corpus):
    import math

    weights = {"spark": 1.0, "join": 0.5, "zzzznotaterm": 3.0}
    got = {r["doc_id"]: r["score"] for r in index.search_sparse(weights, k=None).collect()}
    pdf = corpus.select("doc_id", "text").toPandas()
    n = index.meta.n_docs
    dfs = index.term_stats(["spark", "join"])
    exp = {}
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        toks = text.split()
        s = 0.0
        for t, w in [("spark", 1.0), ("join", 0.5)]:
            tf = toks.count(t)
            if tf:
                s += w * tf * math.log(1 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
        if s:
            exp[doc_id] = s
    assert set(got) == set(exp)
    for d in exp:
        assert got[d] == pytest.approx(exp[d], rel=1e-9)


def test_search_sparse_topk_and_empty(index):
    assert index.search_sparse({}, k=5).count() == 0
    assert index.search_sparse({"zzzznotaterm": 1.0}).count() == 0
    assert index.search_sparse({"spark": 1.0}, k=5).count() == 5


# ---------------------------------------------------------------------------
# aliases
# ---------------------------------------------------------------------------


def test_filtered_alias_matches_search_filtered(index, corpus):
    index.add_alias("recent", "doc_id >= 300")
    got = index.search_alias("recent", ["spark", "join"], corpus, k=8, mode="or")
    exp = index.search_filtered(
        ["spark", "join"], corpus.where("doc_id >= 300"), k=8, mode="or"
    )
    assert _rows(got) == _rows(exp)
    with pytest.raises(KeyError):
        index.search_alias("nope", ["spark"], corpus)


def test_plain_alias_is_passthrough(index, corpus):
    index.add_alias("all", None)
    got = index.search_alias("all", ["spark"], k=6)
    exp = index.search(["spark"], k=6)
    assert _rows(got) == _rows(exp)


# ---------------------------------------------------------------------------
# reindex
# ---------------------------------------------------------------------------


def test_reindex_excludes_tombstones_and_refreshes_stats(
    spark, corpus, tmp_path_factory
):
    from elasticsearch_assets_spark.index.build import reindex
    from elasticsearch_assets_spark.index.tombstones import add_tombstones

    base = tmp_path_factory.mktemp("idx_reix")
    src_dir, dst_dir, ref_dir = (
        str(base / "src"), str(base / "dst"), str(base / "ref")
    )
    build_index(spark, corpus, src_dir, num_segments=4, num_chunks=1)
    add_tombstones(src_dir, [0, 2, 4])
    src = InvertedIndex(spark, src_dir)

    reindex(spark, src, corpus, dst_dir, where="doc_id < 100",
            num_segments=4, num_chunks=1)
    dst = InvertedIndex(spark, dst_dir)
    # fresh stats: N is the live subset size (source stats kept deleted docs)
    assert dst.meta.n_docs == 97
    assert dst.tombstones.size == 0
    # rank parity vs an index built directly on the live subset
    live = corpus.where("doc_id < 100 AND doc_id NOT IN (0, 2, 4)")
    build_index(spark, live, ref_dir, num_segments=4, num_chunks=1)
    ref = InvertedIndex(spark, ref_dir)
    assert _rows(dst.search(["spark", "join"], k=None, mode="or")) == _rows(
        ref.search(["spark", "join"], k=None, mode="or")
    )


def test_reindex_transform_rewrites_fields(spark, corpus, tmp_path_factory):
    from elasticsearch_assets_spark.index.build import reindex
    from elasticsearch_assets_spark.index.tombstones import add_tombstones

    base = tmp_path_factory.mktemp("idx_reix2")
    src_dir, dst_dir = str(base / "src"), str(base / "dst")
    build_index(spark, corpus, src_dir, num_segments=2, num_chunks=1)
    src = InvertedIndex(spark, src_dir)
    reindex(
        spark, src, corpus, dst_dir, where="doc_id < 50",
        transform={"text": "concat(text, ' reindexmarker')"},
        num_segments=2, num_chunks=1,
    )
    dst = InvertedIndex(spark, dst_dir)
    assert dst.count_term("reindexmarker") == 50
    with pytest.raises(ValueError, match="unknown columns"):
        reindex(spark, src, corpus, str(base / "bad"),
                transform={"nope": "1"})


# ---------------------------------------------------------------------------
# agg completion: sibling buckets, ip_prefix, children, reverse_nested
# ---------------------------------------------------------------------------


def test_facet_sibling_stats(spark):
    from elasticsearch_assets_spark.operators.facets import facet_sibling_stats

    corpus = spark.createDataFrame(
        [(i, f"2024-01-{(i % 3) + 1:02d} 00:00:00") for i in range(10)],
        "doc_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    matches = corpus.select("doc_id")
    r = facet_sibling_stats(matches, corpus, "ts", "day").collect()[0]
    # buckets: day1=4 (0,3,6,9), day2=3, day3=3
    assert (r["n_buckets"], r["sum_bucket"]) == (3, 10)
    assert (r["min_bucket"], r["max_bucket"]) == (3, 4)
    assert r["avg_bucket"] == pytest.approx(10 / 3)


def test_facet_ip_prefix_buckets(spark):
    from elasticsearch_assets_spark.operators.facets import facet_ip_prefix

    corpus = spark.createDataFrame(
        [(1, "10.0.0.5"), (2, "10.0.15.200"), (3, "10.0.16.1"), (4, "192.168.1.1")],
        "doc_id long, ip string",
    )
    out = facet_ip_prefix(corpus.select("doc_id"), corpus, "ip", 20).collect()
    got = {r["subnet"]: r["doc_count"] for r in out}
    # /20 blocks: 10.0.0.0/20 covers .0-.15 third octet
    assert got == {"10.0.0.0/20": 2, "10.0.16.0/20": 1, "192.168.0.0/20": 1}
    with pytest.raises(ValueError):
        facet_ip_prefix(corpus.select("doc_id"), corpus, "ip", 0)


def test_facet_children_and_reverse_nested(spark):
    from elasticsearch_assets_spark.operators.facets import (
        facet_children,
        facet_reverse_nested,
    )

    parents = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", -1.0), (3, "b", 2.0)],
        "pk long, seg string, bal double",
    )
    children = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 99.0), (3, 5.0)], "fk long, v double"
    )
    out = facet_children(
        parents, children, "pk", "fk", "seg", "v",
        parent_pred=F.col("bal") > 0,
    ).collect()
    got = {r["seg"]: (r["child_count"], r["sum_value"]) for r in out}
    assert got == {"a": (2, 30.0), "b": (1, 5.0)}  # parent 2 filtered out

    nested = spark.createDataFrame(
        [(100, "x"), (100, "x"), (200, "x"), (200, "y")],
        "parent long, flag string",
    )
    rn = {r["flag"]: (r["doc_count"], r["parent_count"])
          for r in facet_reverse_nested(nested, "flag", "parent").collect()}
    assert rn == {"x": (3, 2), "y": (1, 1)}


# ---------------------------------------------------------------------------
# categorize_text / change_point / geo_line / frequent_pairs
# ---------------------------------------------------------------------------


def test_categorize_text_templates(spark):
    from elasticsearch_assets_spark.operators.facets import facet_categorize_text

    corpus = spark.createDataFrame(
        [
            (1, "error code 500 at node"),
            (2, "error code 404 at node"),
            (3, "login ok for user42 now"),
        ],
        "doc_id long, msg string",
    )
    out = facet_categorize_text(corpus.select("doc_id"), corpus, "msg", 4)
    got = {r["category"]: r["doc_count"] for r in out.collect()}
    assert got == {"error code <num> at": 2, "login ok for <num>": 1}


def test_change_point_finds_step(spark):
    from elasticsearch_assets_spark.operators.facets import facet_change_point

    rows = []
    # 4 days at value 10, then 3 days at value 50 — step after day 4
    for d in range(1, 5):
        rows += [(d, f"2024-03-{d:02d} 10:00:00", 10.0)] * 2
    for d in range(5, 8):
        rows += [(d * 10, f"2024-03-{d:02d} 10:00:00", 50.0)] * 2
    corpus = spark.createDataFrame(
        rows, "doc_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    r = facet_change_point(
        corpus.select("doc_id"), corpus, "ts", "value", "day"
    ).collect()[0]
    assert str(r["bucket"]).startswith("2024-03-05")
    assert r["left_mean"] == 10.0 and r["right_mean"] == 50.0
    assert r["delta"] == 40.0


def test_geo_line_orders_and_caps(spark):
    from elasticsearch_assets_spark.operators.facets import facet_geo_line

    corpus = spark.createDataFrame(
        [
            ("a", 3, 1.0, 10.0),
            ("a", 1, 2.0, 20.0),
            ("a", 2, 3.0, 30.0),
            ("b", 1, 5.0, 50.0),
        ],
        "grp string, t long, lat double, lon double",
    )
    out = {r["grp"]: (r["line"], r["n_points"])
           for r in facet_geo_line(corpus, "grp", "lat", "lon", "t", 2).collect()}
    # group a: ordered by t → (20 2), (30 3); capped at 2 (drops t=3)
    assert out["a"] == ("LINESTRING (20.0 2.0, 30.0 3.0)", 2)
    assert out["b"] == ("LINESTRING (50.0 5.0)", 1)


def test_frequent_pairs_apriori(spark):
    from elasticsearch_assets_spark.operators.itemsets import frequent_pairs

    corpus = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b"),
            (3, "a b d"),
            (4, "c d d"),  # duplicate d counts once
        ],
        "doc_id long, txt string",
    )
    out = frequent_pairs(corpus, "doc_id", "split(txt, ' ')", 2).collect()
    got = {(r["item1"], r["item2"]): r["support"] for r in out}
    # supports: a=3 b=3 c=2 d=2; pairs >= 2: (a,b)=3; (c,d)=1 < 2 dropped
    assert got == {("a", "b"): 3}
    # ordering: support DESC, items ASC
    out2 = frequent_pairs(corpus, "doc_id", "split(txt, ' ')", 1).collect()
    assert [r["support"] for r in out2] == sorted(
        [r["support"] for r in out2], reverse=True
    )
    with pytest.raises(ValueError):
        frequent_pairs(corpus, "doc_id", "split(txt, ' ')", 0)


# ---------------------------------------------------------------------------
# keep-best dedup / stratified sampling / int8 quantization
# ---------------------------------------------------------------------------


def test_dedup_keep_best_picks_highest_quality(spark):
    from elasticsearch_assets_spark.operators.dedup import dedup_keep_best

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id long, rep long",
    )
    quality = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5), (5, 0.1), (6, 0.7)],
        "doc_id long, quality double",
    )
    out = dedup_keep_best(clusters, quality).collect()
    # cluster 1: tie 2 vs 3 at 0.9 -> smallest id 2; cluster 4: itself; 5: doc 6
    assert [(r["doc_id"], r["rep"]) for r in out] == [(2, 1), (4, 4), (6, 5)]


def test_stratified_sample_rates_and_determinism(spark):
    from elasticsearch_assets_spark.operators.sampling import (
        rate_threshold_hex,
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, "hi" if i % 2 == 0 else "lo") for i in range(4000)],
        "doc_id long, band string",
    )
    rates = {"hi": 0.9, "lo": 0.1}
    out = stratified_sample(df, "band", rates)
    counts = {r["band"]: r["n"] for r in out.groupBy("band").agg(F.count("*").alias("n")).collect()}
    assert 1600 < counts["hi"] < 2000  # 2000 * 0.9
    assert 120 < counts["lo"] < 280    # 2000 * 0.1
    # deterministic: same call -> identical row set
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in stratified_sample(df, "band", rates).collect())
    assert a == b
    # unknown stratum -> default_rate 0 drops everything
    df2 = spark.createDataFrame([(1, "xx")], "doc_id long, band string")
    assert stratified_sample(df2, "band", rates).count() == 0
    assert rate_threshold_hex(1.0) == "g"
    assert rate_threshold_hex(0.5) == "80000000"
    with pytest.raises(ValueError):
        rate_threshold_hex(1.5)


def test_sample_filter_sql_matches_spark(spark):
    import duckdb

    from elasticsearch_assets_spark.operators.sampling import (
        sample_filter_sql,
        stratified_sample,
    )

    pdf = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(500)],
        "doc_id long, band string",
    ).toPandas()
    rates = {"a": 0.4, "b": 0.75}
    spark_ids = sorted(
        r["doc_id"]
        for r in stratified_sample(
            spark.createDataFrame(pdf), "band", rates
        ).collect()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    duck_ids = sorted(
        r[0]
        for r in con.sql(
            f"SELECT doc_id FROM t WHERE {sample_filter_sql('band', rates)}"
        ).fetchall()
    )
    assert spark_ids == duck_ids and len(spark_ids) > 0


def test_quantized_cosine_recall_vs_exact(spark):
    from elasticsearch_assets_spark.operators.similarity import (
        cosine_topk,
        quantized_cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).head()["embedding"]]
    exact = [r["vec_id"] for r in cosine_topk(emb, qv, k=10).collect()]
    quant = [r["vec_id"] for r in quantized_cosine_topk(emb, qv, k=10).collect()]
    assert quant[0] == exact[0] == 7  # self-match survives quantization
    assert len(set(exact) & set(quant)) >= 8  # recall@10 >= 0.8


def test_quantize_embeddings_range_and_scale(spark):
    from elasticsearch_assets_spark.operators.similarity import quantize_embeddings

    emb = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(emb).collect()}
    assert rows[1]["qvec"] == [64, -127, 32]  # floor(x/1.0*127+0.5)
    assert rows[1]["scale"] == 1.0
    assert rows[2]["qvec"] == [0, 0, 0]  # zero vector safe (eps scale)


# ---------------------------------------------------------------------------
# point-in-time (PIT)
# ---------------------------------------------------------------------------


def test_pit_snapshot_survives_appends_and_deletes(spark, tmp_path):
    from pyspark.sql import Row

    from elasticsearch_assets_spark.index.tombstones import add_tombstones
    from elasticsearch_assets_spark.streaming.index_stream import index_stream

    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta doc{i}") for i in range(40)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    idx_dir, ckpt = str(tmp_path / "sidx"), str(tmp_path / "ckpt")
    q, writer = index_stream(
        spark.readStream.schema(schema).parquet(src), idx_dir,
        checkpoint_dir=ckpt, segs_per_batch=2, trigger_available_now=True,
    )
    q.awaitTermination()
    writer.refresh(spark)

    live = InvertedIndex(spark, idx_dir)
    pit = live.pit()
    before = [(r["doc_id"], r["score"])
              for r in pit.search(["alpha"], k=None).collect()]
    assert len(before) == 40

    # epoch 2 appends 20 docs with a new term
    spark.createDataFrame(
        [Row(doc_id=100 + i, text=f"alpha gamma doc{100+i}") for i in range(20)],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    q2, writer2 = index_stream(
        spark.readStream.schema(schema).parquet(src), idx_dir,
        checkpoint_dir=ckpt, segs_per_batch=2, trigger_available_now=True,
    )
    q2.awaitTermination()
    writer2.refresh(spark)

    fresh = InvertedIndex(spark, idx_dir)
    assert fresh.search(["alpha"], k=None).count() == 60
    assert fresh.count_term("gamma") == 20
    # the PIT is bit-identical to its snapshot: same docs, same scores
    after = [(r["doc_id"], r["score"])
             for r in pit.search(["alpha"], k=None).collect()]
    assert after == before
    assert pit.count_term("gamma") == 0

    # deletes after the PIT don't reach it either (tombstones are
    # per-handle); a fresh handle sees them
    add_tombstones(idx_dir, [0, 1])
    assert InvertedIndex(spark, idx_dir).search(["alpha"], k=None).count() == 58
    assert pit.search(["alpha"], k=None).count() == 40
    with pytest.raises(TypeError):
        pit.refresh_tombstones()

    # compaction rewrites the whole segment tree (purging the deletes);
    # the PIT's hard-linked snapshot is untouched — the refcount claim
    from elasticsearch_assets_spark.index.merge import merge_segments

    merge_segments(spark, idx_dir, target_segments=2)
    assert InvertedIndex(spark, idx_dir).search(["alpha"], k=None).count() == 58
    assert [(r["doc_id"], r["score"])
            for r in pit.search(["alpha"], k=None).collect()] == before

    # the cogrouped FILTERED path must route with the PINNED seg map, not
    # the live one the compaction just remapped (regression: the live map
    # silently dropped docs — 17/40 — before the clone design)
    ids = spark.range(0, 1000).toDF("doc_id")
    filtered = pit.search_filtered(["alpha"], ids, k=None)
    assert filtered.count() == 40
    assert [(r["doc_id"], r["score"]) for r in filtered.collect()] == before

    # a snapshot is read-only and not re-pinnable
    with pytest.raises(TypeError):
        pit.delete_by_query(["alpha"])
    with pytest.raises(TypeError):
        pit.pit()
    pit.close()
    import os as _os

    assert not _os.path.exists(pit.pit_dir)


def test_pit_handle_has_every_live_attribute(spark, index):
    """A PIT handle runs the base constructor over its clone, so every
    instance attribute a freshly opened live handle has exists on it."""
    live = InvertedIndex(spark, index.index_dir)
    pit = live.pit()
    try:
        assert set(vars(live)) <= set(vars(pit))
        assert pit.index_dir == pit.pit_dir != live.index_dir
        assert pit.search(["spark"], k=5).collect() == live.search(
            ["spark"], k=5
        ).collect()
    finally:
        pit.close()


# ---------------------------------------------------------------------------
# span_multi / collapse inner_hits
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pindex(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_e") / "pos")
    build_index(spark, corpus, d, num_segments=4, num_chunks=1, positions=True)
    return InvertedIndex(spark, d)


def test_span_multi_single_expansion_equals_term(pindex):
    # a prefix that expands to exactly one term behaves like that term
    expr = pindex.span_multi("crawl", kind="prefix")
    assert expr[0] == "any" and "crawl" in expr[1]
    if expr[1] == ["crawl"]:
        got = pindex.search_span_or([expr], k=None)
        exp = pindex.search_span_or([("term", "crawl")], k=None)
        assert _rows(got) == _rows(exp)


def test_span_multi_or_union_equals_expansion_terms(pindex):
    expr = pindex.span_multi("jo", kind="prefix")
    assert len(expr[1]) >= 1
    got = pindex.search_span_or([expr], k=None)
    exp = pindex.search_span_or([("term", t) for t in expr[1]], k=None)
    assert _rows(got) == _rows(exp)


def test_span_multi_as_containing_little(pindex):
    expr = pindex.span_multi("jo", kind="prefix")
    big = ("near", "the", "data", 8, False)
    got = {r["doc_id"] for r in
           pindex.search_span_containing(big, expr, k=None).collect()}
    # union of per-term containing results == multiterm containing
    exp = set()
    for t in expr[1]:
        exp |= {r["doc_id"] for r in
                pindex.search_span_containing(big, ("term", t), k=None).collect()}
    assert got == exp
    with pytest.raises(ValueError):
        pindex.span_multi("jo", kind="nope")


def test_collapse_inner_hits(spark):
    from elasticsearch_assets_spark.operators.facets import collapse_inner_hits

    corpus = spark.createDataFrame(
        [(i, "g" + str(i % 3)) for i in range(9)], "doc_id long, grp string"
    )
    scored = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(9)], "doc_id long, score double"
    )
    out = collapse_inner_hits(scored, corpus, "grp", k=2, inner_size=2).collect()
    # winners: doc 0 (g0, 100), doc 1 (g1, 99) -> top-2 groups g0, g1
    # inner hits: g0 -> docs 0,3; g1 -> docs 1,4
    assert [(r["ckey"], r["doc_id"], r["rank"]) for r in out] == [
        ("g0", 0, 1), ("g0", 3, 2), ("g1", 1, 1), ("g1", 4, 2),
    ]


# ---------------------------------------------------------------------------
# terms_enum / search templates / min_score / prequantized ANN
# ---------------------------------------------------------------------------


def test_terms_enum_prefix_and_size(index):
    out = index.terms_enum("jo", size=5).collect()
    assert 1 <= len(out) <= 5
    assert all(r["term"].startswith("jo") for r in out)
    terms = [r["term"] for r in out]
    assert terms == sorted(terms)
    # df values agree with count_term
    for r in out:
        assert r["df"] == index.count_term(r["term"])


def test_render_template_strict():
    from elasticsearch_assets_spark.query.engine import render_template

    assert (
        render_template("a AND {{p}} AND n:>={{ n }}", {"p": "b", "n": 4})
        == "a AND b AND n:>=4"
    )
    with pytest.raises(KeyError, match="unbound"):
        render_template("{{missing}}", {})


def test_search_template_matches_querystring(index, corpus):
    got = index.search_template(
        "spark AND jo* AND doc_id:>={{cut}}", {"cut": 300}, corpus, k=8
    )
    exp = index.search_querystring("spark AND jo* AND doc_id:>=300", corpus, k=8)
    assert _rows(got) == _rows(exp)


def test_min_score_filters_before_cut(index):
    full = _rows(index.search(["spark", "join"], k=None, mode="or"))
    thr = full[len(full) // 2][1]  # a score in the middle of the range
    got = _rows(index.search(["spark", "join"], k=None, mode="or", min_score=thr))
    exp = [(d, s) for d, s in full if s >= thr]
    assert got == exp
    # with k: top-k of the thresholded set
    got_k = _rows(index.search(["spark", "join"], k=5, mode="or", min_score=thr))
    assert got_k == exp[:5]


def test_prequantized_topk_matches_inline(spark):
    from elasticsearch_assets_spark.operators.similarity import (
        quantize_embeddings,
        quantized_cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).head()["embedding"]]
    inline = quantized_cosine_topk(emb, qv, k=10).collect()
    stored = quantize_embeddings(emb)
    pre = quantized_cosine_topk(stored, qv, k=10, prequantized=True).collect()
    assert [(r["vec_id"], r["score"]) for r in inline] == [
        (r["vec_id"], r["score"]) for r in pre
    ]


# ---------------------------------------------------------------------------
# chunk_documents / dedup_against
# ---------------------------------------------------------------------------


def test_chunk_documents_windows_and_overlap(spark):
    from elasticsearch_assets_spark.operators.textstats import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x")], "doc_id long, text string"
    )
    out = chunk_documents(df, window=4, stride=3).collect()
    got = {(r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
           for r in out}
    # doc 1: starts 1,4,7 -> [a b c d], [d e f g], [g]
    assert got[(1, 0)] == (4, "a b c d")
    assert got[(1, 1)] == (4, "d e f g")
    assert got[(1, 2)] == (1, "g")
    assert got[(2, 0)] == (1, "x")
    # disjoint default: stride == window
    dis = chunk_documents(df, window=3).where("doc_id = 1").collect()
    assert [r["chunk_text"] for r in dis] == ["a b c", "d e f", "g"]
    with pytest.raises(ValueError):
        chunk_documents(df, window=2, stride=3)


def test_dedup_against_cross_only_and_parity(spark):
    from elasticsearch_assets_spark.operators.dedup import (
        dedup_against,
        lsh_candidate_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),        # dup of 1
            (3, "alpha beta gamma delta epsilon"),  # near-dup of 1
            (4, "totally different words here"),
            (11, "alpha beta gamma delta"),        # new: dup of 1/2
            (12, "unrelated new content entirely"),
        ],
        "doc_id long, text string",
    )
    new = docs.where("doc_id >= 10")
    base = docs.where("doc_id < 10")
    cand = dedup_against(new, base, n=1, k=8, bands=4).collect()
    pairs = {(r["new_id"], r["base_id"]) for r in cand}
    # cross pairs only — new ids on the left, base on the right
    assert all(a >= 10 and b < 10 for a, b in pairs)
    assert (11, 1) in pairs and (11, 2) in pairs
    # verified variant agrees with the self-join run on the union,
    # restricted to cross pairs
    ver = dedup_against(new, base, n=1, k=8, bands=4, threshold=0.8)
    got = {(r["new_id"], r["base_id"]): r["jaccard"] for r in ver.collect()}
    full = lsh_candidate_pairs(docs, n=1, k=8, bands=4, threshold=0.8)
    exp = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"])): r["jaccard"]
        for r in full.collect()
        if (r["id_a"] >= 10) != (r["id_b"] >= 10)
    }
    assert got == exp and (11, 1) in got and got[(11, 1)] == 1.0


def test_dedup_against_max_bucket_caps_base(spark):
    from elasticsearch_assets_spark.operators.dedup import dedup_against

    rows = [(i, "same same same") for i in range(1, 9)]  # degenerate bucket
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new = spark.createDataFrame(
        [(100, "same same same")], "doc_id long, text string"
    )
    assert dedup_against(new, docs, max_bucket=4).count() == 0
    assert dedup_against(new, docs, max_bucket=None).count() == 8


# ---------------------------------------------------------------------------
# msearch property fuzz: fused == per-query, for arbitrary spec batches
# ---------------------------------------------------------------------------


from hypothesis import given, settings, strategies as st

_VOCAB = ["spark", "join", "the", "data", "merge", "hash", "table", "web",
          "index", "crawl", "zzznope"]

_spec = st.fixed_dictionaries(
    {
        "query": st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=4),
        "mode": st.sampled_from(["and", "or"]),
        "k": st.sampled_from([3, 7, None]),
    }
)


@settings(max_examples=8, deadline=None)
@given(specs=st.lists(_spec, min_size=1, max_size=4))
def test_msearch_fuzz_bit_identical(index, specs):
    got = {}
    for r in index.msearch(specs).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, s in enumerate(specs):
        alone = _rows(index.search(s["query"], k=s["k"], mode=s["mode"]))
        assert got.get(qid, []) == alone, (qid, s)


# ---------------------------------------------------------------------------
# multi-field query_string
# ---------------------------------------------------------------------------


def test_querystring_multi_field_single_is_boosted_passthrough(index, corpus):
    from elasticsearch_assets_spark.query.engine import querystring_multi_field

    got = querystring_multi_field(
        {"text": (index, 2.0)}, "spark AND jo*", corpus, k=8, tie_breaker=0.3
    ).collect()
    exp = index.search_querystring("spark AND jo*", corpus, k=8).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"] * 2.0) for r in exp
    ]


def test_querystring_multi_field_dismax_combine(index, pindex, corpus):
    from elasticsearch_assets_spark.query.engine import querystring_multi_field

    tie, boost = 0.4, 1.5
    got = {
        r["doc_id"]: r["score"]
        for r in querystring_multi_field(
            {"text": (index, 1.0), "pos": (pindex, boost)},
            "spark AND jo*", corpus, k=None, tie_breaker=tie,
            field_text_cols={"pos": "text"},
        ).collect()
    }
    a = {r["doc_id"]: r["score"]
         for r in index.search_querystring("spark AND jo*", corpus, k=None).collect()}
    b = {r["doc_id"]: r["score"] * boost
         for r in pindex.search_querystring("spark AND jo*", corpus, k=None).collect()}
    exp = {}
    for d in set(a) | set(b):
        ss = [s for s in (a.get(d), b.get(d)) if s is not None]
        exp[d] = max(ss) + tie * (sum(ss) - max(ss))
    assert set(got) == set(exp)
    for d in exp:
        assert got[d] == pytest.approx(exp[d], rel=1e-12)
    with pytest.raises(ValueError):
        querystring_multi_field({}, "spark")


# ---------------------------------------------------------------------------
# phrase + filter through the cogrouped ladder
# ---------------------------------------------------------------------------


def test_search_phrase_filtered_all_strategies_identical(pindex, corpus):
    filt = corpus.where("doc_id % 3 = 0")
    outs = {}
    for strat in ("cogroup", "broadcast", "exhaustive"):
        outs[strat] = _rows(
            pindex.search_phrase_filtered(
                "the join", filt, k=None, strategy=strat
            )
        )
    assert outs["cogroup"] == outs["broadcast"] == outs["exhaustive"]
    assert len(outs["cogroup"]) > 0
    # restriction is real: unfiltered phrase returns a superset
    full = _rows(pindex.search_phrase("the join", k=None))
    assert set(outs["cogroup"]) < set(full)
    assert all(d % 3 == 0 for d, _ in outs["cogroup"])


def test_querystring_phrase_filter_uses_ladder(pindex, corpus):
    got = pindex.search_querystring(
        '"the join" AND doc_id:>=100', corpus, k=None
    )
    exp = pindex.search_phrase_filtered(
        "the join", corpus.where("doc_id >= 100"), k=None
    )
    assert _rows(got) == _rows(exp)


# ---------------------------------------------------------------------------
# _validate/query and _field_caps
# ---------------------------------------------------------------------------


def test_validate_query(index):
    ok, expl = index.validate_query("spark AND jo* AND doc_id:>=100")
    assert ok and "clause group" in expl and "structured filter" in expl
    ok2, expl2 = index.validate_query('"the join"')
    assert ok2 and "phrase" in expl2
    bad, expl3 = index.validate_query("field:(unclosed")
    assert not bad and expl3


def test_field_caps(index, corpus):
    caps = {c["field"]: c for c in index.field_caps(corpus)}
    assert caps["text"]["searchable"] and caps["text"]["type"] == "string"
    assert caps["doc_id"]["aggregatable"] and caps["doc_id"]["type"] == "bigint"
