"""The conversion tail on the synthetic F1 PBF: geo stats computed once and
shared by the spatial sort and the GeoParquet sink, WKT re-encoded by the
sink, and an element-less PBF converting to an empty, well-formed output."""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow.parquet as pq


def _geo_footer(out: Path) -> dict:
    part = sorted(Path(out).glob("*.parquet"))[0]
    return json.loads(pq.read_schema(part).metadata[b"geo"])["columns"]["geometry"]


def test_wkt_output_keeps_the_wkb_geo_stats(spark, f1_pbf, tmp_path):
    from quackosm_spark.functions import convert_pbf_to_parquet

    wkb = _geo_footer(convert_pbf_to_parquet(spark, f1_pbf, working_directory=tmp_path))
    wkt_out = convert_pbf_to_parquet(spark, f1_pbf, working_directory=tmp_path, save_as_wkt=True)
    wkt = _geo_footer(wkt_out)
    assert (wkb["encoding"], wkt["encoding"]) == ("WKB", "WKT")
    assert wkt["geometry_types"] == wkb["geometry_types"]
    assert wkt["bbox"] == wkb["bbox"]
    assert wkb["geometry_types"] == ["LineString", "Point", "Polygon"]
    geometries = [r.geometry for r in spark.read.parquet(str(wkt_out)).collect()]
    assert all(isinstance(g, str) for g in geometries)
    assert any(g.startswith("POLYGON") for g in geometries)


def test_header_only_pbf_converts_to_empty_stats(spark, empty_pbf, tmp_path):
    from quackosm_spark.functions import convert_pbf_to_parquet

    out = convert_pbf_to_parquet(spark, empty_pbf, working_directory=tmp_path)
    geo = _geo_footer(out)
    assert geo["geometry_types"] == []
    assert geo["bbox"] == [0, 0, 0, 0]
    assert spark.read.parquet(str(out)).count() == 0


def test_spatial_sort_defaults_its_extent_to_the_geo_stats_bbox(spark, elements):
    from quackosm_spark.plans.output import spatial_sort
    from quackosm_spark.plans.pipeline import build_features
    from quackosm_spark.sinks.geoparquet import collect_geo_stats

    features = build_features(spark, elements).cache()
    try:
        own = [r.feature_id for r in spatial_sort(features).collect()]
        given = spatial_sort(features, extent=collect_geo_stats(features)[1])
        assert [r.feature_id for r in given.collect()] == own
    finally:
        features.unpersist()
