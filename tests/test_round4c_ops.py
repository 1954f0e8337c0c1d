"""Round-3 session-8 ops: phrase + scoring-clause composition.

Closes the query-string surface gap named in query/querystring.py —
`"phrase" AND term AND jo*` (a Lucene BooleanQuery holding a PhraseQuery
next to other scoring clauses, the shape the reference's `q=` surface
accepts via Elasticsearch, /root/reference/test/simple_api_reader-spec.js).
Contract: a doc matches iff it contains the phrase consecutively AND >= 1
term of every group; the score sums every matched term (the engine's
scoring_boolean contract), i.e. exactly `search(groups=...)` restricted to
phrase-matching docs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_assets_spark.datagen.pages import pages_df
from elasticsearch_assets_spark.index.build import build_index
from elasticsearch_assets_spark.query.engine import InvertedIndex


@pytest.fixture(scope="module")
def corpus(spark):
    return pages_df(spark, 900, partitions=4).cache()


@pytest.fixture(scope="module")
def pos_index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx4c") / "pos")
    build_index(spark, corpus, d, num_segments=8, num_chunks=2, positions=True)
    return InvertedIndex(spark, d)


PHRASE = ["the", "join"]
GROUPS = [["data", "spark"], ["query"]]


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_phrase_groups_matches_manual_composition(pos_index):
    got = pos_index.search_phrase(PHRASE, k=None, groups=GROUPS)
    ph_ids = np.array(
        sorted(r["doc_id"] for r in pos_index.search_phrase(PHRASE, k=None).collect()),
        dtype=np.int64,
    )
    allg = [[t] for t in sorted(set(PHRASE))] + GROUPS
    want = pos_index.search(
        [], k=None, mode="and", groups=allg, allowed=ph_ids
    )
    assert _rows(got) == _rows(want) and got.count() > 0
    # the groups genuinely restrict (otherwise the test proves nothing)
    assert got.count() < len(ph_ids)


def test_phrase_groups_serving_parity(pos_index, both_placements):
    loc, dist = [
        _rows(pos_index.search_phrase(PHRASE, k=None, groups=GROUPS))
        for _ in both_placements()
    ]
    assert loc == dist and dist


def test_phrase_groups_filtered_strategies_rank_identical(pos_index, corpus):
    filt = corpus.where(F.col("doc_id") % 2 == 0)
    outs = [
        _rows(
            pos_index.search_phrase_filtered(
                PHRASE, filt, k=None, strategy=s, groups=GROUPS
            )
        )
        for s in ("cogroup", "broadcast", "exhaustive")
    ]
    assert outs[0] == outs[1] == outs[2] and outs[0]
    assert all(d % 2 == 0 for d, _ in outs[0])


def test_querystring_phrase_with_scoring_clauses(pos_index, corpus):
    got = pos_index.search_querystring(
        '"the join" AND data AND doc_id:>=100', corpus, k=None
    )
    filt = corpus.where(F.col("doc_id") >= 100)
    want = pos_index.search_phrase_filtered(
        PHRASE, filt, k=None, groups=[["data"]]
    )
    assert _rows(got) == _rows(want) and got.count() > 0


def test_phrase_groups_unsatisfiable_group_is_empty(pos_index):
    got = pos_index.search_phrase(PHRASE, k=None, groups=[["zzzznope"]])
    assert got.count() == 0


def test_phrase_groups_missing_term_dropped_from_group(pos_index):
    # a globally-absent term in a group is dropped (MultiTermQuery-rewrite
    # rule); the group still matches through its present terms
    with_missing = _rows(
        pos_index.search_phrase(PHRASE, k=None, groups=[["data", "zzzznope"]])
    )
    clean = _rows(pos_index.search_phrase(PHRASE, k=None, groups=[["data"]]))
    assert with_missing == clean and with_missing


# ---------------------------------------------------------------------------
# ES|QL FUSE linear, BUCKET auto form, KQL existence (session-8 batch 2)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tiny(spark):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": pd.to_datetime(
                    [
                        "2024-01-01 00:05:00",
                        "2024-01-01 07:00:00",
                        "2024-01-02 01:00:00",
                        "2024-01-05 13:00:00",
                    ]
                ),
                "v": [1.0, 5.0, 17.0, 93.0],
            }
        )
    ).cache()


def test_fuse_linear_minmax_sum(tiny):
    from elasticsearch_assets_spark.query.esql import esql

    out = esql(
        "FROM t | EVAL _id = v, _score = v"
        " | FORK (WHERE v < 50) (WHERE v > 2)"
        " | FUSE linear KEY BY _id | SORT _score DESC, _id",
        tables={"t": tiny},
    ).select("_id", "_score").collect()
    got = [(r["_id"], pytest.approx(r["_score"])) for r in out]
    # branch A = {1,5,17} minmax-> {0,.25,1}; branch B = {5,17,93} -> {0,12/88,1}
    assert got == [
        (17.0, pytest.approx(1.0 + 12.0 / 88.0)),
        (93.0, pytest.approx(1.0)),
        (5.0, pytest.approx(0.25)),
        (1.0, pytest.approx(0.0)),
    ]


def test_fuse_linear_rejects_rank_constant(tiny):
    from elasticsearch_assets_spark.query.esql import esql

    with pytest.raises(ValueError, match="RANK_CONSTANT"):
        esql(
            "FROM t | EVAL _id = v, _score = v | FORK (WHERE v < 50)"
            " (WHERE v > 2) | FUSE linear KEY BY _id RANK_CONSTANT 10",
            tables={"t": tiny},
        )


def test_bucket_auto_date_picks_ladder_rung(tiny):
    from elasticsearch_assets_spark.query.esql import esql

    # 5 days / 10 buckets = 43200 s -> the 12-hour rung
    out = esql(
        "FROM t | STATS c = COUNT(*)"
        " BY b = BUCKET(ts, 10, '2024-01-01', '2024-01-06') | SORT b",
        tables={"t": tiny},
    ).collect()
    assert [str(r["b"]) for r in out] == [
        "2024-01-01 00:00:00",
        "2024-01-02 00:00:00",
        "2024-01-05 12:00:00",
    ] and [r["c"] for r in out] == [2, 1, 1]


def test_bucket_auto_numeric_nice_tick(tiny):
    from elasticsearch_assets_spark.query.esql import esql

    # (100-0)/10 = 10 -> tick 10
    out = esql(
        "FROM t | STATS c = COUNT(*) BY b = BUCKET(v, 10, 0, 100) | SORT b",
        tables={"t": tiny},
    ).collect()
    assert [(r["b"], r["c"]) for r in out] == [(0.0, 2), (10.0, 1), (90.0, 1)]
    # (100-0)/3 = 33.3 -> tick 50
    out2 = esql(
        "FROM t | STATS c = COUNT(*) BY b = BUCKET(v, 3, 0, 100) | SORT b",
        tables={"t": tiny},
    ).collect()
    assert [(r["b"], r["c"]) for r in out2] == [(0.0, 3), (50.0, 1)]


def test_kql_exists_rewrites_to_isnotnull(spark):
    from elasticsearch_assets_spark.query.lucene import (
        compile_filter,
        parse_kql,
    )

    node = parse_kql("lang: * and v >= 3")
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {"lang": ["en", None, "de"], "v": [5.0, 9.0, 1.0], "text": [""] * 3}
        )
    )
    got = df.where(compile_filter(node)).collect()
    assert [(r["lang"], r["v"]) for r in got] == [("en", 5.0)]


# ---------------------------------------------------------------------------
# OSA (transpositions=true) fuzziness — ES's default fuzzy metric
# ---------------------------------------------------------------------------


def _brute_osa(a: str, b: str) -> int:
    la, lb = len(a), len(b)
    d = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(la + 1):
        d[i][0] = i
    for j in range(lb + 1):
        d[0][j] = j
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost)
            if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[la][lb]


def test_osa_kernel_matches_bruteforce():
    import random

    from elasticsearch_assets_spark.query.expand import osa_distances

    rng = random.Random(7)
    cands = [""] + [
        "".join(rng.choice("abcde") for _ in range(rng.randint(0, 8)))
        for _ in range(300)
    ] + ["abc", "ba", "abdc", "ac"]
    for q in ("", "a", "ca", "abcd", "spark"):
        got = osa_distances(q, np.array(cands, dtype="U"))
        want = np.array([_brute_osa(q, c) for c in cands])
        assert (got == want).all()


def test_osa_is_restricted_damerau():
    from elasticsearch_assets_spark.query.expand import osa_distances

    # the case separating OSA (Lucene) from unrestricted Damerau (DuckDB):
    # 'ca' -> 'abc' is 2 in Damerau, 3 in OSA (no editing inside a swap)
    assert int(osa_distances("ca", np.array(["abc"], dtype="U"))[0]) == 3
    assert int(osa_distances("ab", np.array(["ba"], dtype="U"))[0]) == 1


def test_fuzzy_transpositions_expansion(pos_index):
    # a transposed typo reaches the real term at distance 1 under OSA
    # where plain levenshtein needs 2
    osa1 = pos_index.expand_fuzzy("teh", max_edits=1, transpositions=True)
    lev1 = pos_index.expand_fuzzy("teh", max_edits=1)
    assert "the" in osa1 and "the" not in lev1
    # the expansion equals the brute-force OSA filter over the dictionary
    vocab = [r["term"] for r in pos_index.stats.select("term").collect()]
    want = sorted(t for t in vocab if _brute_osa("teh", t) <= 1)
    assert osa1 == want
