from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from quackosm_spark.sources.pbf import ELEMENTS_SCHEMA  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    import os

    from quackosm_spark.session import get_spark

    # One JVM serves the whole 300-test suite: give it headroom (the 8g
    # default is sized for a single conversion, and a heap death here
    # cascades into ConnectionRefused for every remaining test), but at most
    # half the machine's memory — a heap that outgrows physical memory gets
    # the JVM OOM-killed, with the same cascade. Skip the UI server.
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(24, max(8, ram_gb // 2))}g")
    spark = get_spark(
        app_name="quackosm-spark-tests",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="module", autouse=True)
def _release_module_caches():
    """The session JVM outlives every module: release the caches a module's
    tests own (README "Cache lifecycle") when the module ends."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


def _node(id, lat, lon, tags=None):
    return ("node", id, tags, None, None, None, lat, lon)


def _way(id, refs, tags=None):
    return ("way", id, tags, refs, None, None, None, None)


def _relation(id, refs, types, roles, tags=None):
    return ("relation", id, tags, refs, types, roles, None, None)


# The F1 scenario table (FIXTURES.md): every pipeline edge case.
# Node grid: ids 1..9 at lat/lon (0.1*i). Scenario inventory in comments.
F1_ROWS = [
    # tagged node / untagged node (required only)
    _node(1, 0.1, 0.1, {"amenity": "cafe", "name": "N1"}),
    _node(2, 0.2, 0.1, None),
    _node(3, 0.2, 0.2, {"created_by": "editor"}),  # metadata-only tags
    _node(4, 0.1, 0.2, None),
    _node(5, 0.5, 0.5, {"amenity": "bench", "area": "yes"}),
    _node(6, 0.6, 0.5, None),
    _node(7, 0.6, 0.6, None),
    _node(8, 0.5, 0.6, None),
    _node(9, 5.0, 5.0, {"shop": "bakery"}),  # far away (geometry filter)
    # closed way with polygon tag -> Polygon (nodes 1-2-3-4-1)
    _way(101, [1, 2, 3, 4, 1], {"building": "yes"}),
    # closed way with area=no -> LineString
    _way(102, [5, 6, 7, 8, 5], {"barrier": "wall", "area": "no"}),
    # open way -> LineString
    _way(103, [1, 2, 3], {"highway": "residential"}),
    # closed 3-point way (<4 distinct) -> stays LineString
    _way(104, [1, 2, 1], {"building": "hut"}),
    # way with a dangling ref -> dropped by validity
    _way(105, [1, 2, 999], {"highway": "path"}),
    # untagged closed way (relation member only)
    _way(106, [5, 6, 7, 8, 5], None),
    # two halves of a ring (for linemerge in relation 203)
    _way(107, [1, 2, 3], None),
    _way(108, [3, 4, 1], None),
    # multipolygon: single outer ring split across 2 ways
    _relation(
        201, [107, 108], ["way", "way"], ["outer", "outer"],
        {"type": "multipolygon", "natural": "water"},
    ),
    # multipolygon with outer + inner hole
    _relation(
        202, [106, 101], ["way", "way"], ["outer", "inner"],
        {"type": "multipolygon", "landuse": "forest"},
    ),
    # relation with NULL roles -> default outer
    _relation(
        203, [107, 108], ["way", "way"], [None, None],
        {"type": "multipolygon", "leisure": "park"},
    ),
    # relation with unclosed ring -> dropped whole
    _relation(
        204, [103], ["way"], ["outer"],
        {"type": "multipolygon", "landuse": "meadow"},
    ),
    # route relation -> ignored by kind-validity
    _relation(
        205, [101], ["way"], ["outer"],
        {"type": "route", "route": "bus"},
    ),
    # relation with node member (ignored) + way member
    _relation(
        206, [1, 106], ["node", "way"], ["admin_centre", "outer"],
        {"type": "boundary", "boundary": "administrative"},
    ),
]


@pytest.fixture(scope="session")
def elements(spark):
    """F1 as an elements DataFrame."""
    return spark.createDataFrame(F1_ROWS, ELEMENTS_SCHEMA)


@pytest.fixture(scope="session")
def f1_pbf(tmp_path_factory) -> str:
    """F1 written as a synthetic ``.osm.pbf`` (one OSMData blob)."""
    from quackosm_spark.sources.pbf_encode import write_pbf

    names = ELEMENTS_SCHEMA.fieldNames()
    path = tmp_path_factory.mktemp("f1") / "f1.osm.pbf"
    return write_pbf(str(path), [dict(zip(names, row)) for row in F1_ROWS])


@pytest.fixture(scope="session")
def empty_pbf(tmp_path_factory) -> str:
    """A header-only ``.osm.pbf``: no OSMData blob, no elements."""
    from quackosm_spark.sources.pbf_encode import write_pbf

    return write_pbf(str(tmp_path_factory.mktemp("empty") / "empty.osm.pbf"), [])


MONACO = "/root/reference/tests/test_files/monaco.osm.pbf"
