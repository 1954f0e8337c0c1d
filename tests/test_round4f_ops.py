"""Session-10 operators: distributed BPE tokenizer training + application."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.operators import bpe


# --- independent reference (re-implemented here, not imported, so the test
# is not circular with bpe_learn_local) ------------------------------------


def _ref_bpe(word_counts, k, min_count=2):
    vocab = {w: ([c for c in w], n) for w, n in word_counts.items() if len(w) >= 2}
    merges = []
    for _ in range(k):
        pc: dict = {}
        for syms, n in vocab.values():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] = pc.get((syms[i], syms[i + 1]), 0) + n
        if not pc:
            break
        best = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        (a, b), cnt = best
        if cnt < min_count:
            break
        merges.append((a, b, cnt))
        for w, (syms, n) in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = (out, n)
    return merges


CORPUS = [
    "the lower the newer the wider",
    "low lower lowest new newer newest",
    "wide wider widest low low low",
    "newer lower wider newest lowest",
]


def _word_counts(docs):
    wc: dict = {}
    for t in docs:
        for w in t.lower().split():
            wc[w] = wc.get(w, 0) + 1
    return wc


def test_bpe_learn_matches_independent_reference(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], ["doc_id", "text"])
    got = bpe.bpe_learn(df, 6)
    ref = _ref_bpe(_word_counts(CORPUS), 6)
    assert got == ref
    # and the module's pure-python trainer (the oracle path) agrees too
    assert bpe.bpe_learn_local(list(_word_counts(CORPUS).items()), 6) == ref


def test_bpe_local_greedy_left_to_right():
    # "aaa" + merge (a,a) -> [aa, a]: newly formed symbols never re-merge
    # under the same rule within the pass
    assert bpe._apply_local(list("aaa"), "a", "a") == ["aa", "a"]
    assert bpe._apply_local(list("aaaa"), "a", "a") == ["aa", "aa"]
    # cascade across DIFFERENT rules is allowed (later fold in the chain)
    s = bpe._apply_local(list("aaa"), "a", "a")
    assert bpe._apply_local(s, "aa", "a") == ["aaa"]


def test_bpe_spark_fold_matches_local(spark):
    # the Spark aggregate() fold == the python greedy pass, including the
    # self-pair and merged-symbol-as-left cases
    words = ["aaa", "aaaa", "banana", "a", "ab"]
    merges = [("a", "a"), ("a", "n"), ("an", "an")]
    df = spark.createDataFrame([(w,) for w in words], ["wd"])
    expr = bpe.apply_merges_spark_sql("wd", merges)
    got = {r["wd"]: r["syms"] for r in df.select("wd", F.expr(expr).alias("syms")).collect()}
    for w in words:
        s = [c for c in w]
        for a, b in merges:
            s = bpe._apply_local(s, a, b)
        assert got[w] == s, (w, got[w], s)


def test_bpe_min_count_stop(spark):
    # every pair unique -> all counts 1 -> min_count=2 stops immediately
    df = spark.createDataFrame([(0, "abc def")], ["doc_id", "text"])
    assert bpe.bpe_learn(df, 5) == []
    # min_count=1 learns something
    assert len(bpe.bpe_learn(df, 5, min_count=1)) > 0


def test_bpe_apply_zero_shuffle_plan(spark):
    df = spark.createDataFrame([(0, "low lower")], ["doc_id", "text"])
    out = bpe.bpe_apply(df, [("l", "o"), ("lo", "w")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map: the 100 TB application shape
    rows = {r["doc_id"]: r["bpe"] for r in out.collect()}
    assert rows[0] == ["low", "low", "e", "r"]


def test_bpe_symbol_literal_guard():
    with pytest.raises(ValueError):
        bpe.apply_merges_spark_sql("wd", [("a'", "b")])


# --- session-10 batch 2: caret boosts, _source filtering, sharded terms
# agg, per-host caps ---------------------------------------------------------


def test_caret_boost_parsing():
    from elasticsearch_assets_spark.query.lucene import (
        Fuzzy, Not, Or, Phrase, Prefix, Range, Term, parse_lucene,
    )

    assert parse_lucene("spark^2") == Term(None, "spark", 2.0)
    assert parse_lucene('"big deal"^3') == Phrase(None, "big deal", 3.0)
    assert parse_lucene("jo*^1.5") == Prefix(None, "jo", 1.5)
    assert parse_lucene("word~1^2") == Fuzzy(None, "word", 1, 2.0)
    # group boost distributes to leaves
    assert parse_lucene("(a OR b)^2") == Or(
        (Term(None, "a", 2.0), Term(None, "b", 2.0))
    )
    # filter context ignores boost (the ES rule)
    assert parse_lucene("count:[1 TO 5]^2") == Range("count", "1", "5", True, True)
    n = parse_lucene("NOT a^2")
    assert isinstance(n, Not)
    # escaped caret is literal (backslash-run parity)
    assert parse_lucene("foo\\^2") == Term(None, "foo^2")


@pytest.fixture(scope="module")
def boost_index(spark, tmp_path_factory):
    from elasticsearch_assets_spark.index.build import build_index
    from elasticsearch_assets_spark.query.engine import InvertedIndex

    rows = [
        (0, "spark join table spark"),
        (1, "join table row"),
        (2, "spark row row join"),
        (3, "table table join spark row"),
        (4, "jolt jolt row"),
        (5, "spark jolt table"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    d = str(tmp_path_factory.mktemp("boostidx"))
    build_index(spark, docs, d, num_segments=2, num_chunks=1, positions=True)
    return InvertedIndex(spark, d), docs


def test_querystring_boost_parity_with_search(boost_index):
    idx, _ = boost_index
    via_qs = idx.search_querystring("spark^2 OR jo*^0.5 OR table", k=None).collect()
    expansions = idx.expand_prefix("jo")
    boosts = {"spark": 2.0, **{t: 0.5 for t in expansions}}
    groups = [["spark"], expansions, ["table"]]
    direct = idx.search([], k=None, mode="or", groups=groups, boosts=boosts).collect()
    assert [(r["doc_id"], r["score"]) for r in via_qs] == [
        (r["doc_id"], r["score"]) for r in direct
    ]
    # boost actually changes scores vs unboosted
    plain = idx.search([], k=None, mode="or", groups=groups).collect()
    assert [(r["doc_id"], r["score"]) for r in via_qs] != [
        (r["doc_id"], r["score"]) for r in plain
    ]


def test_querystring_phrase_boost_through_filtered_path(boost_index):
    idx, docs = boost_index
    # phrase boost reaches _compile_phrase through the filtered ladder
    via_qs = idx.search_querystring(
        '"spark join"^2 AND doc_id:<=4', docs, k=None
    ).collect()
    direct = idx.search_phrase_filtered(
        ["spark", "join"],
        docs.where(F.col("doc_id") <= 4),
        k=None,
        boosts={"spark": 2.0, "join": 2.0},
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in via_qs] == [
        (r["doc_id"], r["score"]) for r in direct
    ]
    assert via_qs, "phrase must match"


def test_fetch_source_include_exclude(boost_index, spark):
    idx, docs = boost_index
    stored = docs.withColumn("n_chars", F.length("text")).withColumn(
        "n_upper", F.lit(0)
    )
    hits = idx.search(["spark"], k=3)
    out = idx.fetch_source(hits, stored, includes=["n_*", "text"], excludes=["n_chars"])
    assert sorted(out.columns) == ["doc_id", "n_upper", "score", "text"]
    # includes=None -> everything minus excludes
    out2 = idx.fetch_source(hits, stored, excludes=["n_*"])
    assert sorted(out2.columns) == ["doc_id", "score", "text"]
    # lenient on non-matching patterns, strict on empty projection
    idx.fetch_source(hits, stored, includes=["text", "zz*"])
    with pytest.raises(ValueError):
        idx.fetch_source(hits, stored, includes=["zz*"])


def test_facet_terms_sharded_error_bound_brute(spark):
    """Replay the per-shard merge in python and check doc_count AND
    error bound; also: error bound is 0 when shard_size covers all."""
    import hashlib

    from elasticsearch_assets_spark.operators.facets import facet_terms_sharded

    rows = [(i, ["a", "b", "c", "d"][i % 4] if i % 7 else "e") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    n_shards, shard_size = 3, 2
    got = facet_terms_sharded(
        df, "lang", 4, n_shards=n_shards, shard_size=shard_size, id_col="doc_id"
    ).collect()

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    per: dict = {}
    for i, lang in rows:
        sh = h60(str(i)) % n_shards
        per.setdefault(sh, {}).setdefault(lang, 0)
        per[sh][lang] += 1
    tops, floors = {}, {}
    for sh, counts in per.items():
        ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        keep = ordered[:shard_size]
        tops[sh] = dict(keep)
        floors[sh] = keep[-1][1] if len(keep) == shard_size else 0
    merged: dict = {}
    for sh, keep in tops.items():
        for b, c in keep.items():
            merged.setdefault(b, [0, 0])
            merged[b][0] += c
            merged[b][1] += floors[sh]
    tot = sum(floors.values())
    exp = sorted(
        ((b, c, tot - rep) for b, (c, rep) in merged.items()),
        key=lambda t: (-t[1], t[0]),
    )[:4]
    assert [(r["bucket"], r["doc_count"], r["doc_count_error_upper_bound"]) for r in got] == exp
    # wide shard_size -> exact counts, zero error
    wide = facet_terms_sharded(
        df, "lang", 10, n_shards=n_shards, shard_size=100, id_col="doc_id"
    ).collect()
    true_counts = {}
    for _, lang in rows:
        true_counts[lang] = true_counts.get(lang, 0) + 1
    assert {r["bucket"]: r["doc_count"] for r in wide} == true_counts
    assert all(r["doc_count_error_upper_bound"] == 0 for r in wide)


def test_cap_per_host(spark):
    from elasticsearch_assets_spark.operators.sampling import cap_per_host

    rows = [
        (1, "a.com", 10), (2, "a.com", 30), (3, "a.com", 20),
        (4, "b.com", 5), (5, None, 1), (6, None, 2), (7, None, 3),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "host", "n"])
    # priority mode: keep the largest-n 2 per host; NULL host is a group
    got = cap_per_host(df, "host", 2, priority_col="n").collect()
    kept = sorted(
        ((r["host"], r["doc_id"]) for r in got),
        key=lambda t: (t[0] or "", t[1]),
    )
    assert kept == [(None, 6), (None, 7), ("a.com", 2), ("a.com", 3), ("b.com", 4)]
    # unbiased mode: deterministic + cap respected
    g1 = sorted(r["doc_id"] for r in cap_per_host(df, "host", 1).collect())
    g2 = sorted(r["doc_id"] for r in cap_per_host(df, "host", 1).collect())
    assert g1 == g2 and len(g1) == 3
    with pytest.raises(ValueError):
        cap_per_host(df, "host", 0)


# --- session-10 batch 3: ES|QL KNN, semantic stand-in, agg knobs ------------


def test_esql_knn_filter_during_search(spark):
    from elasticsearch_assets_spark.query.esql import esql

    rows = [(i, [float(i), 1.0], "en" if i % 2 == 0 else "de") for i in range(1, 9)]
    df = spark.createDataFrame(rows, "id BIGINT, v ARRAY<DOUBLE>, lang STRING")
    out = esql(
        'FROM t | WHERE lang == "en" | WHERE KNN(v, [1.0, 0.0], 2) | KEEP id, _score',
        tables={"t": df},
    ).collect()
    # even ids only (filter BEFORE the cut), ranked by cosine to (1,0):
    # larger first component wins -> ids 8, 6
    assert [r["id"] for r in out] == [8, 6]
    assert out[0]["_score"] > out[1]["_score"]
    with pytest.raises(ValueError, match="entire WHERE"):
        esql('FROM t | WHERE KNN(v, [1.0, 0.0], 2) AND lang == "en"', tables={"t": df})


def test_semantic_embed_parity_and_zero_norm(spark):
    from elasticsearch_assets_spark.operators.semantic import (
        embed_local, semantic_topk,
    )

    rows = [
        (0, "spark join table"),
        (1, "quick brown fox"),
        (2, "join join row"),
        (3, ""),  # zero vector -> dropped
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = semantic_topk(df, "spark join", k=10).collect()
    ids = [r["doc_id"] for r in got]
    assert 3 not in ids and len(ids) >= 2
    # replay scores in python from embed_local
    import math

    q = embed_local("spark join")
    nq = math.sqrt(sum(v * v for v in q))
    exp = []
    for i, t in rows:
        e = embed_local(t)
        nd = math.sqrt(sum(v * v for v in e))
        if nd == 0:
            continue
        exp.append((i, sum(a * b for a, b in zip(e, q)) / (nd * nq)))
    exp.sort(key=lambda p: (-p[1], p[0]))
    assert [(r["doc_id"], pytest.approx(r["score"], abs=1e-12)) for r in got] == [
        (i, pytest.approx(s, abs=1e-12)) for i, s in exp
    ]


def test_facet_extended_stats_bucket_numpy(spark):
    import numpy as np

    from elasticsearch_assets_spark.operators.facets import (
        facet_extended_stats_bucket,
    )

    rows = [(i, f"2024-01-{1 + i % 5:02d} 10:00:00") for i in range(37)]
    df = spark.createDataFrame(rows, ["doc_id", "s"]).withColumn(
        "ts", F.col("s").cast("timestamp")
    )
    got = facet_extended_stats_bucket(
        df.select("doc_id"), df, "ts", "day"
    ).collect()[0]
    counts = np.bincount([i % 5 for i in range(37)])
    assert got["n_buckets"] == 5
    assert got["sum_bucket"] == 37
    assert got["sum_of_squares"] == int((counts**2).sum())
    assert got["variance"] == pytest.approx(counts.var(), abs=1e-9)
    assert got["std_upper"] == pytest.approx(
        counts.mean() + 2 * counts.std(), abs=1e-9
    )


def test_facet_counts_regex(spark):
    from elasticsearch_assets_spark.operators.facets import facet_counts_regex

    rows = [(i, f"src{i % 15}") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got = facet_counts_regex(
        df.select("doc_id"), df, "source",
        include_re="src1.*", exclude_re="src1[23]",
    ).collect()
    buckets = {r["bucket"] for r in got}
    assert buckets == {"src1", "src10", "src11", "src14"}
    assert all(r["doc_count"] == 4 for r in got)


# --- session-10 batch 4: SLM retention ---------------------------------------


def test_slm_retention_plan_semantics(spark):
    from elasticsearch_assets_spark.index.slm import retention_plan

    rows = [(f"s{i:02d}", f"2024-01-{i:02d} 12:00:00") for i in range(1, 21)]
    df = spark.createDataFrame(rows, ["name", "s"]).withColumn(
        "ts", F.col("s").cast("timestamp")
    )
    plan = retention_plan(
        df, "2024-01-25", expire_after_days=7, min_count=2, max_count=4
    ).collect()
    by_name = {r["name"]: r for r in plan}
    # newest (s20, age 5) .. rank asc
    assert by_name["s20"]["rank"] == 1 and by_name["s20"]["keep"]
    # ranks 1-2 retained by min_count regardless; ranks 3-4 kept while
    # unexpired (ages 7, 8 -> s18 age 7 kept, s17 age 8 expired... check)
    keeps = sorted(r["name"] for r in plan if r["keep"])
    # ages: s20=5, s19=6, s18=7, s17=8; expire=7 -> s17 over age at rank 4
    assert keeps == ["s18", "s19", "s20"]
    reasons = {r["name"]: r["reason"] for r in plan}
    assert reasons["s17"] == "expired"
    # min_count beats expiry: everything expired -> newest 2 still kept
    plan2 = retention_plan(
        df, "2024-06-01", expire_after_days=7, min_count=2, max_count=4
    ).collect()
    assert sorted(r["name"] for r in plan2 if r["keep"]) == ["s19", "s20"]
    # max_count beats freshness
    plan3 = retention_plan(
        df, "2024-01-21", expire_after_days=365, min_count=1, max_count=3
    ).collect()
    assert sum(r["keep"] for r in plan3) == 3
    assert {r["reason"] for r in plan3 if not r["keep"]} == {
        "max_count_exceeded"
    }
    with pytest.raises(ValueError):
        retention_plan(df, "2024-01-21", expire_after_days=1, min_count=5, max_count=2)


def test_slm_apply_retention_filesystem(spark, tmp_path):
    import os

    from elasticsearch_assets_spark.index.build import build_index
    from elasticsearch_assets_spark.index.slm import (
        apply_retention, list_snapshots,
    )
    from elasticsearch_assets_spark.query.engine import InvertedIndex

    docs = spark.createDataFrame(
        [(i, f"doc {i} spark join") for i in range(20)], ["doc_id", "text"]
    )
    d = str(tmp_path / "idx")
    build_index(spark, docs, d, num_segments=2, num_chunks=1)
    idx = InvertedIndex(spark, d)
    repo = str(tmp_path / "repo")
    for n in ("snap-a", "snap-b", "snap-c"):
        idx.snapshot(repo, n)
    assert list_snapshots(repo) == ["snap-a", "snap-b", "snap-c"]
    plan = [
        {"name": "snap-a", "keep": False},
        {"name": "snap-b", "keep": True},
        {"name": "snap-c", "keep": False},
    ]
    deleted = apply_retention(repo, plan)
    assert deleted == ["snap-a", "snap-c"]
    assert list_snapshots(repo) == ["snap-b"]
    # the survivor restores and searches (hard links intact)
    from elasticsearch_assets_spark.query.engine import restore_snapshot

    rest = restore_snapshot(spark, repo, "snap-b", str(tmp_path / "restored"))
    assert rest.search(["spark"], k=3).count() == 3
    # unknown plan names refuse BEFORE deleting anything
    with pytest.raises(ValueError):
        apply_retention(repo, [{"name": "nope", "keep": False}])
    assert list_snapshots(repo) == ["snap-b"]


# --- session-10 batch 5: MLT multi-doc, ingest pipeline composition ---------


def test_mlt_multi_doc_like(boost_index):
    idx, docs = boost_index
    multi = idx.more_like_this([0, 1], docs, max_terms=3, k=None).collect()
    ids = [r["doc_id"] for r in multi]
    assert 0 not in ids and 1 not in ids
    # single-doc call unchanged (int arg keeps working)
    single = idx.more_like_this(0, docs, max_terms=3, k=None).collect()
    assert all(r["doc_id"] != 0 for r in single)


def test_ingest_pipeline_composition(spark):
    from elasticsearch_assets_spark.sinks.ingest import run_pipeline

    df = spark.createDataFrame([(1, "en"), (2, "de")], ["id", "lang"])
    shared = [{"uppercase": {"field": "lang"}}]
    out = run_pipeline(
        df,
        [{"pipeline": {"name": "s"}}, {"set": {"field": "f", "value": "x"}}],
        registry={"s": shared},
    ).collect()
    assert {(r["id"], r["lang"], r["f"]) for r in out} == {
        (1, "EN", "x"), (2, "DE", "x"),
    }
    with pytest.raises(ValueError, match="unknown name"):
        run_pipeline(df, [{"pipeline": {"name": "nope"}}])
    cyc = {"a": [{"pipeline": {"name": "b"}}], "b": [{"pipeline": {"name": "a"}}]}
    with pytest.raises(ValueError, match="cycle"):
        run_pipeline(df, [{"pipeline": {"name": "a"}}], registry=cyc)


# --- session-10 batch 6: request cache ---------------------------------------


def test_request_cache_parity_invalidation_eviction(spark, tmp_path):
    from elasticsearch_assets_spark.index.build import build_index
    from elasticsearch_assets_spark.query.cache import (
        RequestCache, index_fingerprint,
    )
    from elasticsearch_assets_spark.query.engine import InvertedIndex

    docs = spark.createDataFrame(
        [(i, f"spark join row{i % 3} alpha") for i in range(30)],
        ["doc_id", "text"],
    )
    d = str(tmp_path / "idx")
    build_index(spark, docs, d, num_segments=2, num_chunks=1)
    idx = InvertedIndex(spark, d)
    cache = RequestCache(idx, cache_dir=str(tmp_path / "rc"), max_entries=2)

    direct = [(r["doc_id"], r["score"]) for r in idx.search("spark join", k=5).collect()]
    first = [(r["doc_id"], r["score"]) for r in cache.search("spark join", k=5).collect()]
    second = [(r["doc_id"], r["score"]) for r in cache.search("spark join", k=5).collect()]
    assert first == direct == second
    assert (cache.hits, cache.misses) == (1, 1)

    # a delete changes the fingerprint -> the stale entry is unreachable
    from elasticsearch_assets_spark.index.tombstones import add_tombstones

    fp0 = index_fingerprint(d)
    add_tombstones(d, [direct[0][0]])
    idx = InvertedIndex(spark, d)  # fresh handle (tombstones load at open)
    cache.index = idx
    assert index_fingerprint(d) != fp0
    after = [(r["doc_id"], r["score"]) for r in cache.search("spark join", k=5).collect()]
    assert cache.misses == 2
    assert direct[0][0] not in [t[0] for t in after]

    # eviction keeps the entry count bounded
    for q in ("alpha", "row0", "row1", "row2"):
        cache.search(q, k=3)
    assert len(cache._entries()) <= 2
    # different kwargs are different keys
    cache.search("spark join", k=5, mode="and")
    assert cache.misses >= 6


# --- session-10 batch 7: ES Query DSL (JSON body) compiler -------------------


def test_dsl_match_parity(boost_index):
    from elasticsearch_assets_spark.query.dsl import search_dsl

    idx, docs = boost_index
    got = search_dsl(
        idx, {"query": {"match": {"text": "spark join"}}, "size": None}
    ).collect()
    exp = idx.search("spark join", k=None, mode="or").collect()
    assert got == exp
    got_and = search_dsl(
        idx,
        {"query": {"match": {"text": {"query": "spark join",
                                      "operator": "and"}}}, "size": None},
    ).collect()
    exp_and = idx.search("spark join", k=None, mode="and").collect()
    assert got_and == exp_and


def test_dsl_bool_must_filter_must_not(boost_index):
    from elasticsearch_assets_spark.query.dsl import search_dsl

    idx, docs = boost_index
    body = {
        "query": {"bool": {
            "must": [{"match": {"text": {"query": "spark", "boost": 2.0}}}],
            "filter": [{"range": {"doc_id": {"gte": 0, "lte": 4}}}],
            "must_not": [{"term": {"text": "jolt"}}],
        }},
        "size": None,
    }
    got = search_dsl(idx, body, docs).collect()
    filtered = docs.where(
        (F.col("doc_id") >= 0) & (F.col("doc_id") <= 4)
        & ~F.col("text").rlike(r"(?i)(^|[^\p{L}\p{N}])jolt($|[^\p{L}\p{N}])")
    )
    exp = idx.search_filtered(
        ["spark"], filtered, k=None, boosts={"spark": 2.0}
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in exp
    ]
    assert got, "must match at least one doc"


def test_dsl_should_msm_and_pure_filter(boost_index):
    from elasticsearch_assets_spark.query.dsl import search_dsl

    idx, docs = boost_index
    body = {
        "query": {"bool": {
            "should": [
                {"term": {"text": "spark"}},
                {"term": {"text": "row"}},
                {"term": {"text": "table"}},
            ],
            "minimum_should_match": 2,
        }},
        "size": None,
    }
    got = search_dsl(idx, body).collect()
    exp = idx.search(
        ["spark", "row", "table"], k=None, mode="or", min_should_match=2
    ).collect()
    assert got == exp
    # filter-only bool: constant 1.0 over matches
    fo = search_dsl(
        idx,
        {"query": {"bool": {"filter": [
            {"term": {"doc_id": "3"}}]}}, "size": None},
        docs,
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in fo] == [(3, 1.0)]


def test_dsl_phrase_constant_score_dismax(boost_index):
    from elasticsearch_assets_spark.query.dsl import search_dsl

    idx, docs = boost_index
    ph = search_dsl(
        idx,
        {"query": {"bool": {
            "must": [{"match_phrase": {"text": "spark join"}}],
            "filter": [{"range": {"doc_id": {"lte": 4}}}],
        }}, "size": None},
        docs,
    ).collect()
    exp = idx.search_phrase_filtered(
        ["spark", "join"], docs.where(F.col("doc_id") <= 4), k=None
    ).collect()
    assert ph == exp
    cs = search_dsl(
        idx,
        {"query": {"constant_score": {
            "filter": {"range": {"doc_id": {"gte": 4}}}, "boost": 2.5,
        }}, "size": None},
        docs,
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in cs] == [(4, 2.5), (5, 2.5)]
    dm = search_dsl(
        idx,
        {"query": {"dis_max": {
            "queries": [{"match": {"text": "spark"}},
                        {"match": {"text": "join table"}}],
            "tie_breaker": 0.3,
        }}, "size": None},
    ).collect()
    exp_dm = idx.dis_max(
        [["spark"], ["join", "table"]], tie_breaker=0.3, k=None
    ).collect()
    assert dm == exp_dm


def test_dsl_strictness(boost_index):
    from elasticsearch_assets_spark.query.dsl import search_dsl

    idx, docs = boost_index
    # must + should routes to optional-should scoring (session 12) —
    # the rejection this battery used to pin is now a kernel
    # (test_round4i_ops.py pins its semantics); phrase-in-must next to
    # should is the shape that still raises
    got = search_dsl(idx, {"query": {"bool": {
        "must": [{"match": {"text": "spark"}}],
        "should": [{"match": {"text": "row"}}],
    }}, "size": None}).collect()
    exp = idx.search_optional_should(
        ["spark"], [(["row"], 1.0)], k=None
    ).collect()
    assert got == exp
    # every must+should shape now routes (session 12): boosted musts take
    # the composed path, where base and clause frames score independently
    got_b = search_dsl(idx, {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark", "boost": 2.0}}}],
        "should": [{"match": {"text": "row"}}],
    }}, "size": None}).collect()
    import pyspark.sql.functions as SF

    base_b = idx.search(["spark"], k=None, boosts={"spark": 2.0}).select(
        "doc_id", SF.col("score").alias("s")
    )
    cl_b = idx.search(["row"], k=None, mode="or").select(
        "doc_id", SF.col("score").alias("c")
    )
    exp_b = (
        base_b.join(cl_b, "doc_id", "left")
        .select("doc_id",
                (SF.col("s") + SF.coalesce("c", SF.lit(0.0))).alias("score"))
        .orderBy(SF.col("score").desc(), SF.col("doc_id").asc())
        .collect()
    )
    assert got_b == exp_b and got_b
    with pytest.raises(NotImplementedError, match="non-analyzed"):
        search_dsl(idx, {"query": {"match": {"doc_id": "3"}}})
    with pytest.raises(ValueError, match="need corpus"):
        search_dsl(idx, {"query": {"bool": {
            "must": [{"match": {"text": "spark"}}],
            "filter": [{"range": {"doc_id": {"gte": 0}}}],
        }}})


def test_dsl_knn_section_and_hybrid(spark, boost_index):
    from elasticsearch_assets_spark.query.dsl import search_dsl

    idx, docs = boost_index
    vecs = docs.withColumn(
        "embedding",
        F.array(
            (F.col("doc_id") % 3).cast("double"),
            F.lit(1.0),
        ),
    )
    # pure knn: sums boosted clause similarities (single clause = cosine)
    got = search_dsl(
        idx,
        {"knn": {"field": "embedding", "query_vector": [1.0, 0.0],
                 "k": 3, "boost": 2.0}, "size": 3},
        vecs,
    ).collect()
    from elasticsearch_assets_spark.operators.similarity import cosine_topk

    exp = cosine_topk(vecs, [1.0, 0.0], k=3, id_col="doc_id").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], 2.0 * r["score"]) for r in exp
    ]
    # hybrid: query + knn sum per doc
    hy = search_dsl(
        idx,
        {"query": {"match": {"text": "spark"}},
         "knn": {"field": "embedding", "query_vector": [1.0, 0.0], "k": 6},
         "size": None},
        vecs,
    ).collect()
    bm = {r["doc_id"]: r["score"]
          for r in idx.search("spark", k=None, mode="or").collect()}
    kn = {r["doc_id"]: r["score"]
          for r in cosine_topk(vecs, [1.0, 0.0], k=6, id_col="doc_id").collect()}
    exp_h = {}
    for d in set(bm) | set(kn):
        exp_h[d] = bm.get(d, 0.0) + kn.get(d, 0.0)
    got_h = {r["doc_id"]: r["score"] for r in hy}
    assert got_h == pytest.approx(exp_h)


def test_dsl_aggs_section(spark, boost_index):
    from elasticsearch_assets_spark.query.dsl import aggs_dsl

    idx, docs = boost_index
    corpus = docs.withColumn("lang", F.when(F.col("doc_id") % 2 == 0, "en"))
    matches = idx.search(["row"], k=None, mode="or")
    out = aggs_dsl(
        {
            "langs": {"terms": {"field": "lang", "size": 5}},
            "nmiss": {"missing": {"field": "lang"}},
            "ids": {"stats": {"field": "doc_id"}},
        },
        matches, corpus,
    )
    langs = {(r["bucket"], r["doc_count"]) for r in out["langs"].collect()}
    # matches: docs containing 'row' = 1, 2, 3, 4 -> en for 2, 4; None for 1, 3
    assert ("en", 2) in langs
    assert out["nmiss"].collect()[0][0] == 2
    st = out["ids"].collect()[0]
    assert st["count"] == 4 and st["min"] == 1 and st["max"] == 4
    with pytest.raises(NotImplementedError):
        aggs_dsl({"x": {"terms": {"field": "lang"}, "aggs": {}}}, matches, corpus)


def test_dsl_sort_section(boost_index):
    from elasticsearch_assets_spark.query.dsl import search_dsl

    idx, docs = boost_index
    corpus = docs.withColumn("n", F.length("text"))
    got = search_dsl(
        idx,
        {"query": {"match": {"text": "row"}},
         "sort": [{"n": {"order": "desc"}}], "size": 3},
        corpus,
    ).collect()
    exp = idx.search_sorted(["row"], corpus, "n", ascending=False, k=3).collect()
    assert got == exp
    # search_after pages through the same path
    after = (got[-1]["n"], got[-1]["doc_id"])
    page2 = search_dsl(
        idx,
        {"query": {"match": {"text": "row"}},
         "sort": [{"n": {"order": "desc"}}], "size": 3,
         "search_after": list(after)},
        corpus,
    ).collect()
    exp2 = idx.search_sorted(
        ["row"], corpus, "n", ascending=False, k=3, after=after
    ).collect()
    assert page2 == exp2


def test_dsl_function_score(boost_index):
    from elasticsearch_assets_spark.query.dsl import search_dsl

    idx, docs = boost_index
    corpus = docs.withColumn("pop", (F.col("doc_id") + 1).cast("double"))
    body = {"query": {"function_score": {
        "query": {"match": {"text": "spark"}},
        "field_value_factor": {"field": "pop", "factor": 2.0,
                               "modifier": "log1p"},
        "boost_mode": "sum",
    }}, "size": None}
    got = search_dsl(idx, body, corpus).collect()
    exp = idx.function_score(
        ["spark"], corpus, "pop", factor=2.0, modifier="log1p",
        boost_mode="sum", k=None, mode="or",
    ).collect()
    assert got == exp and got


def test_dsl_min_score_before_size_cut(boost_index):
    from elasticsearch_assets_spark.query.dsl import search_dsl

    idx, docs = boost_index
    full = idx.search("spark join", k=None, mode="or").collect()
    thr = full[2]["score"]  # keep the top-3-or-ties band
    got = search_dsl(
        idx,
        {"query": {"match": {"text": "spark join"}}, "size": 2,
         "min_score": thr},
    ).collect()
    exp = [r for r in full if r["score"] >= thr][:2]
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in exp
    ]
    assert len(got) == 2
