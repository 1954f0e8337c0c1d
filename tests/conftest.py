from __future__ import annotations

import pytest

from elasticsearch_assets_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def _force_placement(monkeypatch, name: str) -> str:
    from elasticsearch_assets_spark.query import engine

    cap = 2**62 if name == "driver" else 0
    monkeypatch.setattr(engine, "DRIVER_POSTINGS_MAX", cap)
    return name


@pytest.fixture(params=["driver", "distributed"])
def placement(request, monkeypatch):
    """Run the test under each placement of search(): a huge
    DRIVER_POSTINGS_MAX scores every query on the driver, 0 scores every
    query through the applyInPandas plan."""
    return _force_placement(monkeypatch, request.param)


@pytest.fixture
def distributed(monkeypatch):
    """Force search() onto the applyInPandas plan, which test-sized
    queries would otherwise never reach: the serving-versus-distributed
    rank-identity tests compare search_local (always the driver
    placement) against it."""
    return _force_placement(monkeypatch, "distributed")


@pytest.fixture
def both_placements(monkeypatch):
    """`for _ in both_placements():` runs a test body under the driver
    and then the distributed placement of the segment executor, keeping
    one test id (the oracle tests of the folded kernels check both)."""

    def each():
        for name in ("driver", "distributed"):
            yield _force_placement(monkeypatch, name)

    return each
