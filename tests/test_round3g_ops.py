"""Round-3 batch 15: decay scoring, n-term unordered span_near, query-time
synonyms, EQL sequences, bucket_correlation, kNN outlier scores.

Reference surface: ES function_score decay functions, Lucene
SpanNearQuery(inOrder=false) with n clauses, the synonym_graph search
analyzer, Elastic EQL `sequence by ... with maxspan`, the
bucket_correlation pipeline agg, and ES ML outlier detection's
distance_kth_nn feature."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.analysis.tokenizer import tokenize_series
from elasticsearch_assets_spark.datagen.pages import pages_df
from elasticsearch_assets_spark.index.build import build_index
from elasticsearch_assets_spark.operators.facets import bucket_correlation
from elasticsearch_assets_spark.operators.sequences import eql_sequence
from elasticsearch_assets_spark.operators.similarity import knn_outlier_scores
from elasticsearch_assets_spark.query.engine import InvertedIndex
from elasticsearch_assets_spark.query.expand import synonym_groups

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    return pages_df(spark, 1000, partitions=4).cache()


@pytest.fixture(scope="module")
def pos_index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_g") / "pos")
    build_index(spark, corpus, d, num_segments=8, num_chunks=2, positions=True)
    return InvertedIndex(spark, d)


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").cache()


# ---------------------------------------------------------------------------
# unordered n-term span_near
# ---------------------------------------------------------------------------


def _near_any_truth(corpus, terms, slop):
    pdf = corpus.select("doc_id", "text").toPandas()
    toks = tokenize_series(pdf["text"])
    w = len(terms) + slop
    out = []
    for d, ts in zip(pdf["doc_id"], toks):
        ts = list(ts)
        hit = False
        for i in range(len(ts)):
            window = ts[i : i + w]
            if all(t in window for t in terms):
                hit = True
                break
        if hit:
            out.append(int(d))
    return sorted(out)


def test_span_near_unordered_bruteforce(corpus, pos_index):
    for terms, slop in [
        (["the", "join", "data"], 3),
        (["spark", "table"], 0),
        (["data", "the"], 8),
    ]:
        got = sorted(
            r["doc_id"]
            for r in pos_index.search_span_near(
                terms, slop=slop, in_order=False, k=None
            ).collect()
        )
        want = _near_any_truth(corpus, terms, slop)
        assert got == want and len(want) > 0, (terms, slop)


def test_span_near_ordered_equals_intervals(pos_index, both_placements):
    for _ in both_placements():
        a = sorted(
            r["doc_id"]
            for r in pos_index.search_span_near(
                ["the", "join"], slop=3, in_order=True, k=None
            ).collect()
        )
        b = sorted(
            r["doc_id"]
            for r in pos_index.search_intervals(
                ["the", "join"], max_gaps=3, k=None
            ).collect()
        )
        assert a == b and len(a) > 0
        # unordered is a superset of ordered
        c = sorted(
            r["doc_id"]
            for r in pos_index.search_span_near(
                ["the", "join"], slop=3, in_order=False, k=None
            ).collect()
        )
        assert set(a) <= set(c)


def test_span_near_validation(pos_index):
    with pytest.raises(ValueError, match=">= 2 terms"):
        pos_index.search_span_near(["one"], slop=1)
    from elasticsearch_assets_spark.query.phrase import near_any_match

    with pytest.raises(ValueError, match="distinct"):
        near_any_match({}, ["a", "a"], 1)


# ---------------------------------------------------------------------------
# decay scoring
# ---------------------------------------------------------------------------


def test_decay_formulas(spark, corpus, pos_index):
    base = {
        r["doc_id"]: r["score"]
        for r in pos_index.search(["spark"], k=None).collect()
    }
    docs = corpus.select("doc_id", F.length("text").alias("len"))
    lens = {r["doc_id"]: r["len"] for r in docs.collect()}
    origin, scale, decay = 300.0, 200.0, 0.5
    for fn in ("gauss", "exp", "linear"):
        got = {
            r["doc_id"]: r["score"]
            for r in pos_index.decay_score(
                ["spark"], docs, "len", origin=origin, scale=scale,
                decay=decay, fn=fn, k=None,
            ).collect()
        }
        assert set(got) == set(base)
        for d, s in got.items():
            dist = max(0.0, abs(lens[d] - origin))
            if fn == "gauss":
                sigma2 = -(scale**2) / (2.0 * math.log(decay))
                fv = math.exp(-(dist**2) / (2.0 * sigma2))
            elif fn == "exp":
                fv = math.exp(dist * math.log(decay) / scale)
            else:
                s_adj = scale / (1.0 - decay)
                fv = max(0.0, (s_adj - dist) / s_adj)
            assert s == pytest.approx(base[d] * fv, rel=1e-9), (fn, d)


def test_decay_validation(pos_index, corpus):
    docs = corpus.select("doc_id", F.length("text").alias("len"))
    with pytest.raises(ValueError, match="decay function"):
        pos_index.decay_score(["spark"], docs, "len", 0, 1, fn="cosine")
    with pytest.raises(ValueError, match="decay must"):
        pos_index.decay_score(["spark"], docs, "len", 0, 1, decay=1.0)
    with pytest.raises(ValueError, match="scale"):
        pos_index.decay_score(["spark"], docs, "len", 0, 0)
    with pytest.raises(ValueError, match="boost_mode"):
        pos_index.decay_score(["spark"], docs, "len", 0, 1, boost_mode="xor")


# ---------------------------------------------------------------------------
# synonyms
# ---------------------------------------------------------------------------


def test_synonym_groups_shape():
    assert synonym_groups(["a", "b"], {"b": ["c"]}) == [["a"], ["b", "c"]]
    assert synonym_groups(["a"], {}) == [["a"]]
    with pytest.raises(ValueError, match="at least one"):
        synonym_groups([], {})
    with pytest.raises(ValueError, match="invalid synonym"):
        synonym_groups(["a"], {"a": [""]})


def test_search_synonyms_equals_group_search(pos_index):
    syn = {"join": ["merge"]}
    a = [
        (r["doc_id"], r["score"])
        for r in pos_index.search_synonyms(["spark", "join"], syn, k=None).collect()
    ]
    b = [
        (r["doc_id"], r["score"])
        for r in pos_index.search(
            ["spark", "join"], k=None, mode="and",
            groups=[["spark"], ["join", "merge"]],
        ).collect()
    ]
    assert a == b and len(a) > 0
    # no synonyms degenerates to the plain query, bit-identical
    c = [
        (r["doc_id"], r["score"])
        for r in pos_index.search_synonyms(["spark", "join"], {}, k=None).collect()
    ]
    d = [
        (r["doc_id"], r["score"])
        for r in pos_index.search(["spark", "join"], k=None, mode="and").collect()
    ]
    assert c == d
    # OR mode flattens
    e = [
        (r["doc_id"], r["score"])
        for r in pos_index.search_synonyms(["join"], syn, k=None, mode="or").collect()
    ]
    f_ = [
        (r["doc_id"], r["score"])
        for r in pos_index.search(["join", "merge"], k=None, mode="or").collect()
    ]
    assert e == f_


# ---------------------------------------------------------------------------
# EQL sequences
# ---------------------------------------------------------------------------


def _eql_truth(rows, by, type_steps, maxspan_ms):
    """Greedy earliest-completion over a collected event list."""
    rows = sorted(rows, key=lambda r: (r["ts"], r["event_id"]))
    out = []
    per_key: dict = {}
    for r in rows:
        per_key.setdefault(r[by], []).append(r)
    for key, evs in per_key.items():
        for i, r in enumerate(evs):
            if r["event_type"] != type_steps[0]:
                continue
            chain = [r]
            pos = i
            ok = True
            for step in type_steps[1:]:
                nxt = next(
                    (e for e in evs[pos + 1 :] if e["event_type"] == step), None
                )
                if nxt is None:
                    ok = False
                    break
                pos = evs.index(nxt, pos + 1)
                chain.append(nxt)
            if not ok:
                continue
            span = (chain[-1]["ts"] - chain[0]["ts"]).total_seconds() * 1000
            if span <= maxspan_ms:
                out.append((key, tuple(e["event_id"] for e in chain)))
    return sorted(out)


def test_eql_two_step_bruteforce(events):
    got = sorted(
        (r["user_id"], (r["id_0"], r["id_1"]))
        for r in eql_sequence(
            events, "user_id", ["event_type = 'view'", "event_type = 'error'"],
            maxspan_seconds=3600,
        ).collect()
    )
    want = _eql_truth(
        events.collect(), "user_id", ["view", "error"], 3600 * 1000
    )
    assert got == want and len(want) > 0


def test_eql_three_step_and_span(events):
    res = eql_sequence(
        events, "user_id",
        ["event_type = 'view'", "event_type = 'click'", "event_type = 'error'"],
        maxspan_seconds=86400,
    ).collect()
    want = _eql_truth(
        events.collect(), "user_id", ["view", "click", "error"], 86400 * 1000
    )
    got = sorted((r["user_id"], (r["id_0"], r["id_1"], r["id_2"])) for r in res)
    assert got == want and len(want) > 0
    assert all(0 <= r["span_ms"] <= 86400 * 1000 for r in res)
    with pytest.raises(ValueError, match=">= 2 steps"):
        eql_sequence(events, "user_id", ["event_type = 'view'"], 60)
    with pytest.raises(ValueError, match="maxspan"):
        eql_sequence(events, "user_id", ["a = 1", "b = 2"], 0)


# ---------------------------------------------------------------------------
# bucket correlation + kNN outliers
# ---------------------------------------------------------------------------


def test_bucket_correlation_known_signal(spark):
    # counts 10,20,30 in buckets 0,1,2 against indicator 1,2,3 -> corr 1
    rows = [(i, float(b * 100 + 1)) for b, n in [(0, 10), (1, 20), (2, 30)]
            for i in range(n)]
    df = spark.createDataFrame(
        [(i, v) for i, (_, v) in enumerate(rows)], "doc_id long, x double"
    )
    matches = df.select("doc_id")
    out = bucket_correlation(matches, df, "x", 100.0, [1.0, 2.0, 3.0]).collect()
    assert out[0]["correlation"] == pytest.approx(1.0)
    with pytest.raises(ValueError, match=">= 2 entries"):
        bucket_correlation(matches, df, "x", 100.0, [1.0])


def test_knn_outliers_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    vecs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    normed = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = normed @ normed.T
    dists = 1.0 - sims
    np.fill_diagonal(dists, np.inf)  # exclude self (sorts last)
    k = 4
    kth = np.sort(dists, axis=1)[:, k - 1]
    order = np.lexsort((ids, -kth))
    want = [(int(ids[i]), float(kth[i])) for i in order[:5]]
    got = [
        (r["vec_id"], r["score"])
        for r in knn_outlier_scores(emb, k=k, top_n=5).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gi, gs), (wi, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)
    with pytest.raises(ValueError, match="k must"):
        knn_outlier_scores(emb, k=0)
