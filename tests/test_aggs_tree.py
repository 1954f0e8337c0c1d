"""Generalized aggregation trees (round-4 verdict item #2).

aggs_dsl now compiles ARBITRARY agg trees: any chain of bucket aggs
(terms/histogram/date_histogram/range/filters) to any depth, any mix of
metric children per level, sibling-path pipeline children, per-level
terms `size` cuts — all riding ONE rollup shuffle (facets.facet_tree).
Every test pins results against an independent pandas brute force.
"""

from __future__ import annotations

import pandas as pd
import pytest

from elasticsearch_assets_spark.query.dsl import aggs_dsl


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (
            i,
            ["alpha", "beta", "gamma", None][i % 4],
            ["en", "de", "fr"][i % 3],
            float(i % 23) * 1.5,
            i % 7,
        )
        for i in range(200)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, host string, lang string, price double, grp int"
    ).cache()


@pytest.fixture(scope="module")
def pdf(corpus):
    return corpus.toPandas()


@pytest.fixture(scope="module")
def matches(corpus):
    return corpus.select("doc_id").where("doc_id % 2 = 0")


@pytest.fixture(scope="module")
def mpdf(pdf):
    return pdf[pdf.doc_id % 2 == 0]


def _pd(df):
    return df.toPandas()


def test_two_level_terms_metric_multi_field(corpus, matches, mpdf):
    """terms>terms with metric children on DIFFERENT fields — the shape
    the one-level compiler rejected (shared-field restriction)."""
    out = aggs_dsl(
        {
            "byhost": {
                "terms": {"field": "host"},
                "aggs": {
                    "bylang": {
                        "terms": {"field": "lang"},
                        "aggs": {
                            "p": {"avg": {"field": "price"}},
                            "g": {"sum": {"field": "grp"}},
                        },
                    }
                },
            }
        },
        matches, corpus,
    )
    assert set(out) == {"byhost>bylang"}
    got = _pd(out["byhost>bylang"])
    base = mpdf[mpdf.host.notna()]
    exp = (
        base.groupby(["host", "lang"])
        .agg(doc_count=("doc_id", "size"), p=("price", "mean"), g=("grp", "sum"))
        .reset_index()
    )
    m = {
        (r.host, r.lang): (r.doc_count, r.p, r.g)
        for r in exp.itertuples(index=False)
    }
    assert len(got) == len(m)
    for r in got.itertuples(index=False):
        dc, p, g = m[(r.byhost, r.bylang)]
        assert r.doc_count == dc
        assert r.p == pytest.approx(p)
        assert r.g == pytest.approx(g)


def test_three_level_chain_with_size_cut(corpus, matches, mpdf):
    """terms(size=2)>terms(size=1)>avg: per-parent top-N by count with
    _key tie-break (the QUALIFY shape); eliminated parents prune their
    descendants."""
    out = aggs_dsl(
        {
            "byhost": {
                "terms": {"field": "host", "size": 2},
                "aggs": {
                    "bylang": {
                        "terms": {"field": "lang", "size": 1},
                        "aggs": {
                            "bygrp": {
                                "terms": {"field": "grp"},
                                "aggs": {"p": {"avg": {"field": "price"}}},
                            }
                        },
                    }
                },
            }
        },
        matches, corpus,
    )
    got = _pd(out["byhost>bylang>bygrp"])
    base = mpdf[mpdf.host.notna()]
    hc = base.groupby("host").size().reset_index(name="n")
    hosts = set(
        hc.sort_values(["n", "host"], ascending=[False, True]).head(2).host
    )
    keep = []
    for h in hosts:
        lc = base[base.host == h].groupby("lang").size().reset_index(name="n")
        lang = lc.sort_values(["n", "lang"], ascending=[False, True]).iloc[0].lang
        keep.append((h, lang))
    exp = (
        base[
            base.apply(lambda r: (r.host, r.lang) in keep, axis=1)
        ]
        .groupby(["host", "lang", "grp"])
        .agg(doc_count=("doc_id", "size"), p=("price", "mean"))
        .reset_index()
    )
    assert len(got) == len(exp)
    m = {
        (r.host, r.lang, r.grp): (r.doc_count, r.p)
        for r in exp.itertuples(index=False)
    }
    for r in got.itertuples(index=False):
        dc, p = m[(r.byhost, r.bylang, r.bygrp)]
        assert r.doc_count == dc and r.p == pytest.approx(p)


def test_intermediate_metrics_and_pipeline(corpus, matches, mpdf):
    out = aggs_dsl(
        {
            "byhost": {
                "terms": {"field": "host"},
                "aggs": {
                    "m": {"sum": {"field": "price"}},
                    "bylang": {
                        "terms": {"field": "lang"},
                        "aggs": {"p": {"avg": {"field": "price"}}},
                    },
                    "pavg": {"avg_bucket": {"buckets_path": "bylang>p"}},
                    "pcnt": {"max_bucket": {"buckets_path": "bylang>_count"}},
                },
            }
        },
        matches, corpus,
    )
    assert set(out) == {"byhost", "byhost>bylang", "byhost>pavg", "byhost>pcnt"}
    base = mpdf[mpdf.host.notna()]
    inter = _pd(out["byhost"])
    exp = base.groupby("host").agg(
        doc_count=("doc_id", "size"), m=("price", "sum")
    )
    for r in inter.itertuples(index=False):
        assert r.doc_count == exp.loc[r.byhost].doc_count
        assert r.m == pytest.approx(exp.loc[r.byhost].m)
    leaf = base.groupby(["host", "lang"]).agg(
        p=("price", "mean"), n=("doc_id", "size")
    ).reset_index()
    pavg = _pd(out["byhost>pavg"])
    for r in pavg.itertuples(index=False):
        assert r.value == pytest.approx(
            leaf[leaf.host == r.byhost].p.mean()
        )
    pcnt = _pd(out["byhost>pcnt"])
    for r in pcnt.itertuples(index=False):
        assert r.value == leaf[leaf.host == r.byhost].n.max()


def test_histogram_parent_stats_child(corpus, matches, mpdf):
    out = aggs_dsl(
        {
            "hist": {
                "histogram": {"field": "price", "interval": 10.0},
                "aggs": {"s": {"stats": {"field": "grp"}}},
            }
        },
        matches, corpus,
    )
    got = _pd(out["hist"])
    base = mpdf.copy()
    base["bucket"] = (base.price // 10.0) * 10.0
    exp = base.groupby("bucket").agg(
        doc_count=("doc_id", "size"),
        s_count=("grp", "count"), s_min=("grp", "min"),
        s_max=("grp", "max"), s_sum=("grp", "sum"), s_avg=("grp", "mean"),
    )
    assert len(got) == len(exp)
    for r in got.itertuples(index=False):
        e = exp.loc[r.hist]
        assert r.doc_count == e.doc_count
        assert (r.s_count, r.s_min, r.s_max) == (e.s_count, e.s_min, e.s_max)
        assert r.s_sum == pytest.approx(e.s_sum)
        assert r.s_avg == pytest.approx(e.s_avg)


def test_range_parent_child_metric(corpus, matches, mpdf):
    out = aggs_dsl(
        {
            "rng": {
                "range": {
                    "field": "price",
                    "ranges": [
                        {"to": 10.0},
                        {"from": 10.0, "to": 25.0},
                        {"from": 25.0},
                    ],
                },
                "aggs": {"c": {"cardinality": {"field": "grp"}}},
            }
        },
        matches, corpus,
    )
    got = _pd(out["rng"])
    base = mpdf.copy()
    base["bidx"] = (base.price >= 10.0).astype(int) + (
        base.price >= 25.0
    ).astype(int)
    exp = base.groupby("bidx").agg(
        doc_count=("doc_id", "size"), c=("grp", "nunique")
    )
    assert len(got) == len(exp)
    for r in got.itertuples(index=False):
        e = exp.loc[r.rng]
        assert (r.doc_count, r.c) == (e.doc_count, e.c)


def test_filters_level_overlap_and_nesting(corpus, matches, mpdf):
    """A filters level under terms: docs land in EVERY matching bucket
    (the ES overlapping-buckets contract), nested metrics follow."""
    out = aggs_dsl(
        {
            "byhost": {
                "terms": {"field": "host"},
                "aggs": {
                    "fl": {
                        "filters": {
                            "filters": {
                                "low": {"range": {"grp": {"lte": 3}}},
                                "even": {"terms": {"grp": [0, 2, 4, 6]}},
                            }
                        },
                        "aggs": {"mx": {"max": {"field": "price"}}},
                    }
                },
            }
        },
        matches, corpus,
    )
    got = _pd(out["byhost>fl"])
    base = mpdf[mpdf.host.notna()]
    exp = {}
    for r in base.itertuples(index=False):
        if r.grp <= 3:
            exp.setdefault((r.host, "low"), []).append(r.price)
        if r.grp in (0, 2, 4, 6):
            exp.setdefault((r.host, "even"), []).append(r.price)
    assert len(got) == len(exp)
    for r in got.itertuples(index=False):
        vals = exp[(r.byhost, r.fl)]
        assert r.doc_count == len(vals)
        assert r.mx == pytest.approx(max(vals))


def test_terms_missing_and_order_by_child(corpus, matches, mpdf):
    """`missing` fills null buckets; `order` by a child metric drives the
    size cut."""
    out = aggs_dsl(
        {
            "byhost": {
                "terms": {
                    "field": "host", "missing": "_none_", "size": 2,
                    "order": {"m": "desc"},
                },
                "aggs": {
                    "m": {"sum": {"field": "price"}},
                    "bylang": {"terms": {"field": "lang"}},
                },
            }
        },
        matches, corpus,
    )
    base = mpdf.copy()
    base["host2"] = base.host.fillna("_none_")
    sums = base.groupby("host2").price.sum().sort_values(ascending=False)
    top2 = set(sums.head(2).index)
    inter = _pd(out["byhost"])
    assert set(inter.byhost) == top2
    leaf = _pd(out["byhost>bylang"])
    assert set(leaf.byhost) == top2
    exp = base[base.host2.isin(top2)].groupby(["host2", "lang"]).size()
    assert len(leaf) == len(exp)
    for r in leaf.itertuples(index=False):
        assert r.doc_count == exp.loc[(r.byhost, r.bylang)]


def test_branching_buckets_emit_per_path(corpus, matches):
    out = aggs_dsl(
        {
            "byhost": {
                "terms": {"field": "host"},
                "aggs": {
                    "bylang": {"terms": {"field": "lang"}},
                    "bygrp": {"terms": {"field": "grp"}},
                },
            }
        },
        matches, corpus,
    )
    assert set(out) == {"byhost>bylang", "byhost>bygrp"}
    a = _pd(out["byhost>bylang"])
    b = _pd(out["byhost>bygrp"])
    # both branches share the same parent totals
    assert (
        a.groupby("byhost").doc_count.sum().to_dict()
        == b.groupby("byhost").doc_count.sum().to_dict()
    )


def test_one_level_fast_paths_keep_their_schema(corpus, matches):
    """The round-3 single-kernel shapes still compile to their original
    kernels and column names — back-compat for existing consumers."""
    out = aggs_dsl(
        {
            "byhost": {
                "terms": {"field": "host"},
                "aggs": {
                    "avg": {"avg": {"field": "price"}},
                    "sum": {"sum": {"field": "price"}},
                },
            }
        },
        matches, corpus,
    )
    assert list(out["byhost"].columns) == ["bucket", "doc_count", "sum", "avg"]
    out2 = aggs_dsl(
        {
            "byhost": {
                "terms": {"field": "host"},
                "aggs": {"bylang": {"terms": {"field": "lang"}}},
            }
        },
        matches, corpus,
    )
    assert list(out2["byhost"].columns) == [
        "bucket", "outer_count", "sub_bucket", "doc_count",
    ]


def test_flat_range_and_filters_now_supported(corpus, matches, mpdf):
    out = aggs_dsl(
        {
            "rng": {
                "range": {
                    "field": "price",
                    "ranges": [{"to": 15.0}, {"from": 15.0}],
                }
            },
            "fl": {
                "filters": {
                    "filters": {"low": {"range": {"grp": {"lte": 3}}}}
                }
            },
        },
        matches, corpus,
    )
    rng = _pd(out["rng"])
    assert rng.doc_count.sum() == len(mpdf)
    fl = _pd(out["fl"])
    assert fl.doc_count.iloc[0] == int((mpdf.grp <= 3).sum())


def test_tree_error_surfaces(corpus, matches):
    with pytest.raises(NotImplementedError, match="cannot carry"):
        aggs_dsl(
            {
                "s": {
                    "stats": {"field": "price"},
                    "aggs": {"x": {"avg": {"field": "grp"}}},
                }
            },
            matches, corpus,
        )
    with pytest.raises(NotImplementedError, match="does not resolve"):
        aggs_dsl(
            {
                "byhost": {
                    "terms": {"field": "host"},
                    "aggs": {
                        "bylang": {"terms": {"field": "lang"}},
                        "p": {"avg_bucket": {"buckets_path": "nosuch>m"}},
                    },
                }
            },
            matches, corpus,
        )
    with pytest.raises(ValueError, match="contiguous"):
        aggs_dsl(
            {
                "rng": {
                    "range": {
                        "field": "price",
                        "ranges": [{"to": 5.0}, {"from": 9.0, "to": 12.0},
                                   {"from": 12.0}],
                    },
                    "aggs": {"m": {"avg": {"field": "grp"}}},
                }
            },
            matches, corpus,
        )


def test_min_doc_count_prunes_bucket_and_descendants(corpus, matches, mpdf):
    base = mpdf.copy()
    counts = base.groupby("lang").size()
    floor = int(counts.max())  # keeps only the strictly-largest bucket(s)
    keep = set(counts[counts >= floor].index)
    assert 0 < len(keep) < len(counts)
    out = aggs_dsl(
        {
            "bylang": {
                "terms": {"field": "lang", "min_doc_count": floor},
                "aggs": {"bygrp": {"terms": {"field": "grp"}}},
            }
        },
        matches, corpus,
    )
    leaf = _pd(out["bylang>bygrp"])
    assert set(leaf.bylang) == keep
    exp = base[base.lang.isin(keep)].groupby(["lang", "grp"]).size()
    assert len(leaf) == len(exp)
    for r in leaf.itertuples(index=False):
        assert r.doc_count == exp.loc[(r.bylang, r.bygrp)]


def test_date_histogram_fixed_interval(spark, matches):
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=7 * i))
        for i in range(200)
    ]
    ts = spark.createDataFrame(rows, "doc_id long, ts timestamp")
    out = aggs_dsl(
        {
            "byhour": {
                "date_histogram": {"field": "ts", "fixed_interval": "2h"},
                "aggs": {"n": {"value_count": {"field": "doc_id"}}},
            }
        },
        matches, ts,
    )
    got = _pd(out["byhour"])
    exp = {}
    for i, t in rows:
        if i % 2 != 0:
            continue  # matches fixture keeps even ids
        b = t - dt.timedelta(
            minutes=t.minute % 120 + (t.hour % 2) * 60,
            seconds=t.second,
        )
        b = b.replace(minute=0)
        b = b.replace(hour=b.hour - b.hour % 2)
        exp[b] = exp.get(b, 0) + 1
    assert len(got) == len(exp)
    for r in got.itertuples(index=False):
        key = r.byhour.to_pydatetime()
        assert exp[key] == r.doc_count == r.n
    with pytest.raises(ValueError, match="fixed_interval"):
        aggs_dsl(
            {"x": {"date_histogram": {"field": "ts", "fixed_interval": "2w"},
                   "aggs": {"n": {"value_count": {"field": "doc_id"}}}}},
            matches, ts,
        )


def test_percentiles_metric_child(corpus, matches, mpdf):
    import numpy as np

    out = aggs_dsl(
        {
            "byhost": {
                "terms": {"field": "host"},
                "aggs": {
                    "pp": {
                        "percentiles": {
                            "field": "price", "percents": [25, 50, 99.9],
                        }
                    }
                },
            }
        },
        matches, corpus,
    )
    got = _pd(out["byhost"])
    assert {"pp_25", "pp_50", "pp_99_9"} <= set(got.columns)
    base = mpdf[mpdf.host.notna()]
    for r in got.itertuples(index=False):
        vals = base[base.host == r.byhost].price.to_numpy()
        for pct, col in ((25, r.pp_25), (50, r.pp_50), (99.9, r.pp_99_9)):
            assert col == pytest.approx(
                float(np.percentile(vals, pct, method="linear"))
            )


def test_terms_include_exclude_in_tree(corpus, matches, mpdf):
    """terms include/exclude regex prune the bucket universe in a tree
    level (previously only the flat path had them)."""
    out = aggs_dsl(
        {
            "bylang": {
                "terms": {"field": "lang", "include": "en|de"},
                "aggs": {"n": {"value_count": {"field": "doc_id"}}},
            }
        },
        matches, corpus,
    )
    got = _pd(out["bylang"])
    assert set(got.bylang) == {"en", "de"}
    exp = mpdf[mpdf.lang.isin(["en", "de"])].groupby("lang").size()
    for r in got.itertuples(index=False):
        assert r.doc_count == r.n == exp.loc[r.bylang]


def test_flat_agg_kinds_delegate_to_kernels(corpus, matches):
    """Round-5: every remaining facet kernel with an ES body shape is
    reachable through aggs_dsl — each result must be row-identical to the
    direct kernel call."""
    from elasticsearch_assets_spark.operators import facets as OFA

    body = {
        "pp": {"percentiles": {"field": "price", "percents": [25, 50, 95]}},
        "pr": {"percentile_ranks": {"field": "price", "values": [5.0, 20.0]}},
        "xs": {"extended_stats": {"field": "price", "sigma": 3.0}},
        "wa": {"weighted_avg": {"value": {"field": "price"},
                                "weight": {"field": "grp"}}},
        "rare": {"rare_terms": {"field": "grp", "max_doc_count": 20}},
        "mt": {"multi_terms": {"terms": [{"field": "host"},
                                         {"field": "lang"}], "size": 5}},
        "mad": {"median_absolute_deviation": {"field": "price"}},
        "box": {"boxplot": {"field": "price"}},
        "ss": {"string_stats": {"field": "lang"}},
        "comp": {"composite": {"sources": [
            {"h": {"terms": {"field": "host"}}},
            {"l": {"terms": {"field": "lang"}}},
        ], "size": 7}},
    }
    out = aggs_dsl(body, matches, corpus)
    direct = {
        "pp": OFA.facet_percentiles(matches, corpus, "price", [25.0, 50.0, 95.0]),
        "pr": OFA.facet_percentile_ranks(matches, corpus, "price", [5.0, 20.0]),
        "xs": OFA.facet_extended_stats(matches, corpus, "price", sigma=3.0),
        "wa": OFA.facet_weighted_avg(matches, corpus, "price", "grp"),
        "rare": OFA.facet_rare_terms(matches, corpus, "grp", max_doc_count=20),
        "mt": OFA.facet_multi_terms(matches, corpus, ["host", "lang"], n=5),
        "mad": OFA.facet_mad(matches, corpus, "price"),
        "box": OFA.facet_boxplot(matches, corpus, "price"),
        "ss": OFA.facet_string_stats(matches, corpus, "lang"),
        "comp": OFA.facet_composite(corpus, ["host", "lang"], size=7,
                                    matches=matches),
    }
    assert set(out) == set(body)
    for kname, frame in direct.items():
        assert [tuple(r) for r in out[kname].collect()] == [
            tuple(r) for r in frame.collect()
        ], kname
    # composite after-key pagination maps the named-dict `after` form
    page2 = aggs_dsl(
        {"comp": {"composite": {"sources": [
            {"h": {"terms": {"field": "host"}}},
            {"l": {"terms": {"field": "lang"}}},
        ], "size": 7, "after": {"h": "alpha", "l": "fr"}}}},
        matches, corpus,
    )["comp"]
    exp2 = OFA.facet_composite(
        corpus, ["host", "lang"], size=7, after=("alpha", "fr"),
        matches=matches,
    )
    assert [tuple(r) for r in page2.collect()] == [
        tuple(r) for r in exp2.collect()
    ]


def test_flat_adjacency_and_auto_dh(spark, corpus, matches):
    from elasticsearch_assets_spark.operators import facets as OFA
    from pyspark.sql import functions as F
    import datetime as dt

    out = aggs_dsl(
        {"adj": {"adjacency_matrix": {"filters": {
            "low": {"range": {"grp": {"lte": 3}}},
            "en": {"term": {"lang": "en"}},
        }}}},
        matches, corpus, analyzed_fields={"__none__"},
    )["adj"]
    exp = OFA.facet_adjacency_matrix(
        matches, corpus,
        {"low": F.col("grp") <= 3, "en": F.col("lang") == "en"},
    )
    assert [tuple(r) for r in out.collect()] == [
        tuple(r) for r in exp.collect()
    ]
    rows = [(i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=9 * i))
            for i in range(120)]
    ts = spark.createDataFrame(rows, "doc_id long, ts timestamp")
    got = aggs_dsl(
        {"adh": {"auto_date_histogram": {"field": "ts", "buckets": 8}}},
        matches, ts,
    )["adh"]
    exp2 = OFA.facet_auto_date_histogram(matches, ts, "ts", target_buckets=8)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in exp2.collect()
    ]


def test_global_filter_sampler_tophits_wrappers(spark, corpus, matches, mpdf, pdf):
    from elasticsearch_assets_spark.operators import facets as OFA
    from pyspark.sql import functions as F

    # global: sub-aggs see the WHOLE corpus (query ignored)
    out = aggs_dsl(
        {"all": {"global": {}, "aggs": {
            "bylang": {"terms": {"field": "lang"}}}}},
        matches, corpus,
    )
    got = {(r["bucket"], r["doc_count"])
           for r in out["all>bylang"].collect()}
    exp = pdf.groupby("lang").size()
    assert got == {(l, int(n)) for l, n in exp.items()}

    # filter: sub-aggs over match ∩ predicate — trees compose inside
    out2 = aggs_dsl(
        {"cheap": {"filter": {"range": {"price": {"lt": 10.0}}}, "aggs": {
            "bylang": {"terms": {"field": "lang"}, "aggs": {
                "p": {"avg": {"field": "price"}}}}}}},
        matches, corpus,
    )
    got2 = _pd(out2["cheap>bylang"])  # one-level fast-path schema
    base = mpdf[mpdf.price < 10.0]
    exp2 = base.groupby("lang").agg(n=("doc_id", "size"), p=("price", "mean"))
    assert len(got2) == len(exp2)
    for r in got2.itertuples(index=False):
        assert r.doc_count == exp2.loc[r.bucket].n
        assert r.avg == pytest.approx(exp2.loc[r.bucket].p)

    # sampler: delegates to the deterministic kernel
    out3 = aggs_dsl(
        {"s": {"sampler": {"shard_size": 30}, "aggs": {
            "bylang": {"terms": {"field": "lang"}}}}},
        matches, corpus,
    )["s"]
    exp3 = OFA.facet_sampler(matches, corpus, "lang", shard_size=30)
    assert [tuple(r) for r in out3.collect()] == [
        tuple(r) for r in exp3.collect()
    ]

    # terms + top_hits child needs a SCORED match frame
    scored = matches.withColumn(
        "score", (F.col("doc_id") % 13).cast("double")
    )
    out4 = aggs_dsl(
        {"byhost": {"terms": {"field": "host"}, "aggs": {
            "top": {"top_hits": {"size": 2}}}}},
        scored, corpus,
    )["byhost"]
    exp4 = OFA.facet_top_hits(scored, corpus, "host", per_bucket=2)
    assert [tuple(r) for r in out4.collect()] == [
        tuple(r) for r in exp4.collect()
    ]
    with pytest.raises(NotImplementedError, match="scored"):
        aggs_dsl(
            {"byhost": {"terms": {"field": "host"}, "aggs": {
                "top": {"top_hits": {"size": 2}}}}},
            matches, corpus,
        )


def test_serial_pipeline_children(corpus, matches, mpdf):
    """cumulative_sum / derivative / moving_fn as tree children: one
    value per CHILD bucket, windowed over the bucket series per parent
    (ordered by the child key), vs a pandas replay."""
    out = aggs_dsl(
        {
            "byhost": {
                "terms": {"field": "host"},
                "aggs": {
                    "hist": {"histogram": {"field": "price",
                                           "interval": 8.0}},
                    "cum": {"cumulative_sum": {
                        "buckets_path": "hist>_count"}},
                    "der": {"derivative": {"buckets_path": "hist>_count"}},
                    "mov": {"moving_fn": {"buckets_path": "hist>_count",
                                          "window": 2}},
                },
            }
        },
        matches, corpus,
    )
    assert {"byhost>cum", "byhost>der", "byhost>mov"} <= set(out)
    base = mpdf[mpdf.host.notna()].copy()
    base["bucket"] = (base.price // 8.0) * 8.0
    series = (
        base.groupby(["host", "bucket"]).size().rename("n").reset_index()
        .sort_values(["host", "bucket"])
    )
    cum = _pd(out["byhost>cum"]).sort_values(["byhost", "hist"])
    exp_cum = series.groupby("host").n.cumsum().tolist()
    assert cum.value.tolist() == exp_cum
    assert cum.series.tolist() == series.n.tolist()
    der = _pd(out["byhost>der"]).sort_values(["byhost", "hist"])
    exp_der = series.groupby("host").n.diff().tolist()
    got_der = der.value.tolist()
    for g, e in zip(got_der, exp_der):
        if pd.isna(e):
            assert g is None or pd.isna(g)  # null -> NaN through Arrow
        else:
            assert g == e
    mov = _pd(out["byhost>mov"]).sort_values(["byhost", "hist"])
    exp_mov = (
        series.groupby("host").n
        .rolling(2, min_periods=1).mean().reset_index(drop=True).tolist()
    )
    for g, e in zip(mov.value.tolist(), exp_mov):
        assert g == pytest.approx(e)


def test_serial_pipeline_canonical_spelling(spark, corpus, matches, mpdf):
    """The ES spelling: the pipeline is a direct child of the histogram
    with `buckets_path: "_count"`, so the series is the histogram's own
    buckets, ordered by its key (9 docs, interval 3: counts 3, 3, 3)."""
    nine = spark.createDataFrame(
        [(i, float(i)) for i in range(9)], "doc_id long, v double"
    )
    out = aggs_dsl(
        {"h": {"histogram": {"field": "v", "interval": 3},
               "aggs": {
                   "cum": {"cumulative_sum": {"buckets_path": "_count"}},
                   "der": {"derivative": {"buckets_path": "_count"}},
               }}},
        nine.select("doc_id"), nine,
    )
    cum = _pd(out["h>cum"]).sort_values("h")
    assert cum.h.tolist() == [0.0, 3.0, 6.0]
    assert cum.value.tolist() == [3, 6, 9]
    der = _pd(out["h>der"]).sort_values("h").value.tolist()
    assert pd.isna(der[0]) and der[1:] == [0, 0]
    # nested under a terms level: one series per host
    out = aggs_dsl(
        {"byhost": {"terms": {"field": "host"}, "aggs": {
            "hist": {"histogram": {"field": "price", "interval": 8.0},
                     "aggs": {"cum": {"cumulative_sum": {
                         "buckets_path": "_count"}}}}}}},
        matches, corpus,
    )
    base = mpdf[mpdf.host.notna()].copy()
    base["bucket"] = (base.price // 8.0) * 8.0
    series = (
        base.groupby(["host", "bucket"]).size().rename("n").reset_index()
        .sort_values(["host", "bucket"])
    )
    got = _pd(out["byhost>hist>cum"]).sort_values(["byhost", "hist"])
    assert got.value.tolist() == series.groupby("host").n.cumsum().tolist()


def test_filters_level_refuses_shallower_count_consumers(corpus, matches):
    """Docs matching several filters explode into several rows — metrics,
    count-ordered size cuts, min_doc_count, and pipeline series ABOVE the
    filters level would double-count them. The compiler refuses loudly."""
    fl = {"filters": {"filters": {
        "low": {"range": {"grp": {"lte": 3}}},
        "even": {"terms": {"grp": [0, 2, 4, 6]}},
    }}}
    with pytest.raises(NotImplementedError, match="double-count"):
        aggs_dsl(
            {"byhost": {"terms": {"field": "host"},
                        "aggs": {"m": {"sum": {"field": "price"}},
                                 "fl": dict(fl)}}},
            matches, corpus,
        )
    with pytest.raises(NotImplementedError, match="double-count"):
        aggs_dsl(
            {"byhost": {"terms": {"field": "host", "size": 2},
                        "aggs": {"fl": dict(fl)}}},
            matches, corpus,
        )
    with pytest.raises(NotImplementedError, match="double-count"):
        aggs_dsl(
            {"byhost": {"terms": {"field": "host"},
                        "aggs": {"bylang": {"terms": {"field": "lang"},
                                            "aggs": {"fl": dict(fl)}},
                                 "p": {"max_bucket": {
                                     "buckets_path": "bylang>_count"}}}}},
            matches, corpus,
        )
    # the legitimate shapes keep working: filters leaf under terms, and
    # a size cut ordered by _key (count-independent) would still be
    # refused v1 — spell it as a sibling agg (the error's guidance)
    ok = aggs_dsl(
        {"byhost": {"terms": {"field": "host"}, "aggs": {"fl": dict(fl)}}},
        matches, corpus,
    )
    assert "byhost>fl" in ok


def test_histogram_min_doc_count_zero_fills_empty_buckets(spark, matches, corpus, mpdf):
    """ES's histogram DEFAULT (min_doc_count=0): every bucket between the
    observed min and max keys appears, zero-count ones included."""
    rows = [(i, float(v)) for i, v in enumerate([1, 2, 30, 31, 62])]
    df = spark.createDataFrame(rows, "doc_id long, price double")
    out = aggs_dsl(
        {"h": {"histogram": {"field": "price", "interval": 10.0,
                             "min_doc_count": 0}}},
        df.select("doc_id"), df,
    )["h"]
    got = [(r["bucket"], r["doc_count"]) for r in out.collect()]
    assert got == [(0.0, 2), (10.0, 0), (20.0, 0), (30.0, 2),
                   (40.0, 0), (50.0, 0), (60.0, 1)]
    # min_doc_count >= 2 filters; default (1) matches the historical shape
    out2 = aggs_dsl(
        {"h": {"histogram": {"field": "price", "interval": 10.0,
                             "min_doc_count": 2}}},
        df.select("doc_id"), df,
    )["h"]
    assert [(r["bucket"], r["doc_count"]) for r in out2.collect()] == [
        (0.0, 2), (30.0, 2)
    ]
    base = aggs_dsl(
        {"h": {"histogram": {"field": "price", "interval": 10.0}}},
        df.select("doc_id"), df,
    )["h"]
    assert [(r["bucket"], r["doc_count"]) for r in base.collect()] == [
        (0.0, 2), (30.0, 2), (60.0, 1)
    ]
    # negative values: floor toward -inf, fill spans the negatives too
    neg = spark.createDataFrame(
        [(0, -15.0), (1, 5.0)], "doc_id long, price double"
    )
    out3 = aggs_dsl(
        {"h": {"histogram": {"field": "price", "interval": 10.0,
                             "min_doc_count": 0}}},
        neg.select("doc_id"), neg,
    )["h"]
    assert [(r["bucket"], r["doc_count"]) for r in out3.collect()] == [
        (-20.0, 1), (-10.0, 0), (0.0, 1)
    ]
    # tree levels refuse the fill with guidance
    with pytest.raises(ValueError, match="flat"):
        aggs_dsl(
            {"h": {"histogram": {"field": "price", "interval": 10.0,
                                 "min_doc_count": 0},
                   "aggs": {"m": {"avg": {"field": "price"}}}}},
            neg.select("doc_id"), neg,
        )
