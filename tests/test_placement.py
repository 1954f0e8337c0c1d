"""Segment-executor placement: below DRIVER_POSTINGS_MAX estimated
postings (Σ df, or Σ cf for positional kernels) the segment kernels run
on the driver and the result is a job-free local frame; above it the
applyInPandas plan runs. Both give identical pages."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest

from elasticsearch_assets_spark.datagen.pages import pages_df
from elasticsearch_assets_spark.index.build import build_index
from elasticsearch_assets_spark.index.tombstones import add_tombstones
from elasticsearch_assets_spark.query import engine
from elasticsearch_assets_spark.query.engine import InvertedIndex

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("placement"))
    build_index(
        spark, pages_df(spark, 600, partitions=4), d, num_segments=6, num_chunks=2
    )
    return d


@pytest.fixture(scope="module")
def deleted(spark, index_dir):
    """The four best `spark OR join` docs, tombstoned."""
    top = InvertedIndex(spark, index_dir).search_local(
        ["spark", "join"], k=4, mode="or"
    )
    add_tombstones(index_dir, [doc for doc, _ in top])
    return {doc for doc, _ in top}


@pytest.fixture(scope="module")
def idx(spark, index_dir, deleted):
    return InvertedIndex(spark, index_dir)


@pytest.fixture(scope="module")
def pos_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("placement_pos"))
    build_index(
        spark, pages_df(spark, 600, partitions=4), d, num_segments=6,
        num_chunks=2, positions=True,
    )
    return InvertedIndex(spark, d)


def _pairs(frame):
    return [(r["doc_id"], r["score"]) for r in frame.collect()]


def _jobs_of(sc, group: str, action):
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_placed_collect_runs_no_spark_job(spark, idx, monkeypatch):
    sc = spark.sparkContext
    queries = [
        (["spark", "join"], "and"),  # hits
        (["spark", "nosuchterm"], "and"),  # unsatisfiable AND
        ([], "or"),  # empty query
    ]
    for i, (terms, mode) in enumerate(queries):
        frame = idx.search(terms, k=5, mode=mode)
        assert _jobs_of(sc, f"placement-driver-{i}", frame.collect) == []
    # the instrument sees the jobs of a distributed-placed collect
    monkeypatch.setattr(engine, "DRIVER_POSTINGS_MAX", 0)
    frame = idx.search(["spark", "join"], k=5, mode="and")
    assert _jobs_of(sc, "placement-distributed", frame.collect)


def test_query_above_cap_plans_flatmapgroups(idx, monkeypatch):
    terms = ["spark", "join"]
    estimate = sum(idx.term_stats(terms).values())

    def plan_of(cap):
        monkeypatch.setattr(engine, "DRIVER_POSTINGS_MAX", cap)
        frame = idx.search(terms, k=5, mode="or")
        return frame._jdf.queryExecution().executedPlan().toString(), _pairs(frame)

    above, dist = plan_of(estimate)
    below, local = plan_of(estimate + 1)
    assert "FlatMapGroupsInPandas" in above
    assert "LocalTableScan" in below and "FlatMapGroupsInPandas" not in below
    assert dist == local and len(local) == 5


def test_driver_placed_phrase_collect_runs_no_spark_job(spark, pos_idx):
    sc = spark.sparkContext
    frame = pos_idx.search_phrase("the join", k=5)
    assert "LocalTableScan" in frame._jdf.queryExecution().executedPlan().toString()
    assert _jobs_of(sc, "placement-driver-phrase", frame.collect) == []
    assert len(_pairs(frame)) == 5


def test_positional_query_is_placed_by_collection_frequency(
    pos_idx, monkeypatch
):
    """A phrase decodes every position of its terms, so its estimate is
    Σ cf, not Σ df: with Σ df < cap ≤ Σ cf it still runs distributed."""
    from pyspark.sql import functions as F

    terms = ["join", "the"]
    sums = (
        pos_idx.stats.where(F.col("term").isin(terms))
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .first()
    )
    assert sums["df"] < sums["cf"]

    def plan_of(cap):
        monkeypatch.setattr(engine, "DRIVER_POSTINGS_MAX", cap)
        frame = pos_idx.search_phrase("the join", k=5)
        return frame._jdf.queryExecution().executedPlan().toString(), _pairs(frame)

    above, dist = plan_of(sums["cf"])
    below, local = plan_of(sums["cf"] + 1)
    assert "FlatMapGroupsInPandas" in above
    assert "LocalTableScan" in below and "FlatMapGroupsInPandas" not in below
    assert dist == local and len(local) == 5


def test_identical_pages_under_both_placements(idx, deleted, monkeypatch):
    def both(method, *args, **kwargs):
        pages = []
        for cap in (0, 2**62):
            monkeypatch.setattr(engine, "DRIVER_POSTINGS_MAX", cap)
            pages.append(_pairs(getattr(idx, method)(*args, **kwargs)))
        assert pages[0] == pages[1], (method, args, kwargs)
        return pages[0]

    base = both("search", ["spark", "join", "table"], k=None, mode="or")
    assert base and not deleted & {d for d, _ in base}
    cursor = (base[4][1], base[4][0])
    allowed = np.array(sorted(d for d, _ in base if d % 3 == 0), dtype=np.int64)
    cases = [
        dict(k=5, after=cursor),
        dict(k=5, allowed=allowed),
        dict(k=None, min_score=base[len(base) // 2][1]),
        dict(k=8, must_not=["join"]),
        dict(k=8, boosts={"join": 2.5, "table": 0.5}),
        dict(k=None, min_should_match=2),
    ]
    for kw in cases:
        assert both("search", ["spark", "join", "table"], mode="or", **kw)
    assert both(
        "search", None, k=10, mode="and", groups=[["the"], ["join", "table"]]
    )
    assert both(
        "search_optional_should", ["the"], [["spark"], (["join", "table"], 2.0)],
        k=10, minimum_should_match=1, must_not=["merge"],
    )


def test_workers_import_package_from_any_directory(tmp_path):
    """A script started outside the repo, with the package reachable only
    from the driver's sys.path, builds an index and runs a
    distributed-placed search: the Python workers import the package."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from elasticsearch_assets_spark.session import get_spark
        from elasticsearch_assets_spark.datagen.pages import pages_df
        from elasticsearch_assets_spark.index.build import build_index
        from elasticsearch_assets_spark.query import engine
        from elasticsearch_assets_spark.query.engine import InvertedIndex

        engine.DRIVER_POSTINGS_MAX = 0
        spark = get_spark(master="local[2]", shuffle_partitions=2)
        out = {str(tmp_path / "idx")!r}
        build_index(spark, pages_df(spark, 200, partitions=2), out,
                    num_segments=2, num_chunks=1)
        idx = InvertedIndex(spark, out)
        rows = idx.search(["spark"], k=3, mode="or").collect()
        assert rows == [tuple(h) for h in idx.search_local(["spark"], k=3,
                                                          mode="or")]
        print("HITS", len(rows))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "HITS 3" in proc.stdout
