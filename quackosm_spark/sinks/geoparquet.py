"""GeoParquet 1.1.0 sink (S6): Spark parquet write + 'geo' footer metadata.

Reference: quackosm/_geoparquet_metadata.py:7-30 (metadata construction),
pbf_file_reader.py:4124-4197 (bbox/geometry-type aggregation before write).

Spark's parquet writer cannot attach file-level key-value metadata, so the
write is two-phase: (1) distributed ``df.write.parquet`` (zstd, bounded file
sizes — this is the 100 TB path, all heavy lifting stays on executors), then
(2) a footer-rewrite pass stamping the ``geo`` entry into each part file.
The rewrite streams row groups through pyarrow without decoding values and is
embarrassingly parallel over part files (thread pool here; a ``foreach`` over
files on a real cluster).
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import Literal

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from quackosm_spark.constants import GEOMETRY_COLUMN

# PROJJSON for OGC:CRS84 (lon/lat WGS84) — the fixed output CRS (§1.3).
CRS_LONLAT = {
    "$schema": "https://proj.org/schemas/v0.5/projjson.schema.json",
    "type": "GeographicCRS",
    "name": "WGS 84 longitude-latitude",
    "datum": {
        "type": "GeodeticReferenceFrame",
        "name": "World Geodetic System 1984",
        "ellipsoid": {
            "name": "WGS 84",
            "semi_major_axis": 6378137,
            "inverse_flattening": 298.257223563,
        },
    },
    "coordinate_system": {
        "subtype": "ellipsoidal",
        "axis": [
            {
                "name": "Geodetic longitude",
                "abbreviation": "Lon",
                "direction": "east",
                "unit": "degree",
            },
            {
                "name": "Geodetic latitude",
                "abbreviation": "Lat",
                "direction": "north",
                "unit": "degree",
            },
        ],
    },
    "id": {"authority": "OGC", "code": "CRS84"},
}

_WKB_TYPE_NAMES = {
    "Point": "Point",
    "LineString": "LineString",
    "Polygon": "Polygon",
    "MultiPoint": "MultiPoint",
    "MultiLineString": "MultiLineString",
    "MultiPolygon": "MultiPolygon",
    "GeometryCollection": "GeometryCollection",
}


def build_geo_metadata(
    geometry_types: list[str],
    bbox: tuple[float, float, float, float],
    encoding: Literal["WKB", "WKT"] = "WKB",
    bbox_covering_column: str | None = None,
) -> dict:
    column_meta: dict = {
        "encoding": encoding,
        "crs": CRS_LONLAT,
        "geometry_types": geometry_types,
        "bbox": list(bbox),
    }
    if bbox_covering_column:
        # GeoParquet 1.1 covering: names the per-row bounds struct readers
        # can use for row-group pruning
        column_meta["covering"] = {
            "bbox": {
                side: [bbox_covering_column, side]
                for side in ("xmin", "ymin", "xmax", "ymax")
            }
        }
    return {
        "version": "1.1.0",
        "primary_column": GEOMETRY_COLUMN,
        "columns": {GEOMETRY_COLUMN: column_meta},
        "creator": {"library": "quackosm_spark", "version": "0.1.0"},
    }


def collect_geo_stats(features: DataFrame) -> tuple[list[str], tuple[float, float, float, float]]:
    """A7 extent agg + A8 distinct geometry types in ONE aggregate job over
    the WKB geometry column; empty input → ``[]``, ``(0, 0, 0, 0)``."""
    from quackosm_spark.plans.output import geometry_bbox_udf

    # one WKB decode per row: bbox struct + type sniff in a single pass
    stats = (
        features.select(
            _geom_type(GEOMETRY_COLUMN).alias("__t"),
            geometry_bbox_udf(GEOMETRY_COLUMN).alias("__bb"),
        )
        .agg(
            F.collect_set("__t").alias("types"),
            F.min("__bb.xmin").alias("minx"),
            F.min("__bb.ymin").alias("miny"),
            F.max("__bb.xmax").alias("maxx"),
            F.max("__bb.ymax").alias("maxy"),
        )
        .collect()[0]
    )
    types = sorted(_WKB_TYPE_NAMES.get(t, t) for t in stats["types"])
    sides = (stats["minx"], stats["miny"], stats["maxx"], stats["maxy"])
    return types, tuple(0.0 if v is None else v for v in sides)


@F.pandas_udf(StringType())
def _geom_type(geometry: pd.Series) -> pd.Series:
    from quackosm_spark.geometry.wkb import geometry_type

    return pd.Series(
        [geometry_type(bytes(b)) if b is not None else None for b in geometry]
    )


@F.pandas_udf(StringType())
def _to_wkt(geometry: pd.Series) -> pd.Series:
    from quackosm_spark.geometry import model, wkb

    return pd.Series(
        [model.to_wkt(wkb.loads(bytes(b))) if b is not None else None for b in geometry]
    )


def _stamp_footer(path: Path, geo_json: str, compression: str = "zstd") -> None:
    table = pq.read_table(path)
    meta = dict(table.schema.metadata or {})
    meta[b"geo"] = geo_json.encode()
    pq.write_table(
        table.replace_schema_metadata(meta),
        path,
        compression=compression,
        row_group_size=100_000,
    )
    # the rewrite invalidates Hadoop's local-FS checksum sidecar; drop it so
    # subsequent Spark reads don't fail with ChecksumException
    crc = path.parent / f".{path.name}.crc"
    crc.unlink(missing_ok=True)


def write_geoparquet(
    features: DataFrame,
    path: str | Path,
    geometry_types: list[str] | None = None,
    bbox: tuple[float, float, float, float] | None = None,
    compression: str = "zstd",
    compression_level: int | None = None,
    row_group_size: int | None = None,
    parquet_version: str | None = None,
    max_records_per_file: int | None = None,
    bbox_column: bool = False,
    encoding: Literal["WKB", "WKT"] = "WKB",
) -> Path:
    """Distributed parquet write + geo footer stamping. Returns the directory.

    ``compression``/``max_records_per_file`` mirror the reference's writer
    tuning surface (COMPRESSION zstd, FILE_SIZE_BYTES/ROW_GROUP_SIZE_BYTES,
    pbf_file_reader.py:2686-2699) in Spark terms. ``compression_level``
    maps to the parquet-mr codec level option, ``row_group_size`` to
    ``parquet.block.size`` (bytes — Spark's writer sizes row groups by
    bytes where DuckDB counts rows), ``parquet_version`` ("v1"/"v2") to
    ``parquet.writer.version``.

    ``bbox_column=True`` writes the GeoParquet 1.1 ``bbox`` covering column
    (per-row bounds struct + ``covering`` metadata). Combined with the
    Hilbert spatial sort, parquet min/max row-group stats on the struct
    fields let any reader — Spark included, see ``read_geoparquet`` — skip
    row groups that can't intersect a query window; that's the scan-prune
    story for spatial queries over 100 TB of output.

    ``features`` carries WKB; ``encoding="WKT"`` re-encodes it after the
    stats and covering column are taken from the WKB (reference
    tests/base/test_pbf_file_reader.py:95-98)."""
    path = Path(path)
    if bbox_column and "bbox" not in features.columns:
        from quackosm_spark.plans.output import geometry_bbox_udf

        features = features.withColumn("bbox", geometry_bbox_udf(GEOMETRY_COLUMN))
    if geometry_types is None or bbox is None:
        computed_types, computed_bbox = collect_geo_stats(features)
        geometry_types = geometry_types or computed_types
        bbox = bbox or computed_bbox
    if encoding == "WKT":
        features = features.withColumn(GEOMETRY_COLUMN, _to_wkt(GEOMETRY_COLUMN))
    writer = features.write.mode("overwrite").option("compression", compression)
    if compression_level is not None:
        writer = writer.option(
            f"parquet.compression.codec.{compression}.level", str(compression_level)
        )
    if row_group_size is not None:
        writer = writer.option("parquet.block.size", str(row_group_size))
    if parquet_version is not None:
        versions = {"v1": "PARQUET_1_0", "v2": "PARQUET_2_0"}
        writer = writer.option("parquet.writer.version", versions[parquet_version])
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(str(path))
    geo_json = json.dumps(
        build_geo_metadata(
            geometry_types, bbox,
            encoding=encoding,
            bbox_covering_column="bbox" if bbox_column else None,
        )
    )
    parts = sorted(path.glob("*.parquet"))
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(lambda p: _stamp_footer(p, geo_json, compression), parts))
    return path


def read_geoparquet(spark, path: str | Path, bbox: tuple[float, float, float, float] | None = None) -> DataFrame:
    """Read a GeoParquet directory, optionally windowed to a bbox.

    When the file carries the 1.1 covering column, the window becomes four
    comparisons on ``bbox.*`` struct fields — plain parquet predicates that
    push into the scan and prune whole row groups via min/max stats (the
    payoff of writing spatially sorted + covered files). Without the column,
    the filter falls back to decoding WKB bounds per row (correct, no
    pruning)."""
    df = spark.read.parquet(str(path))
    if bbox is None:
        return df
    xmin, ymin, xmax, ymax = bbox
    if "bbox" in df.columns:
        return df.where(
            (F.col("bbox.xmin") <= xmax)
            & (F.col("bbox.xmax") >= xmin)
            & (F.col("bbox.ymin") <= ymax)
            & (F.col("bbox.ymax") >= ymin)
        )
    from quackosm_spark.plans.output import geometry_bbox_udf

    b = geometry_bbox_udf(GEOMETRY_COLUMN)
    return (
        df.withColumn("__b", b)
        .where(
            (F.col("__b.xmin") <= xmax)
            & (F.col("__b.xmax") >= xmin)
            & (F.col("__b.ymin") <= ymax)
            & (F.col("__b.ymax") >= ymin)
        )
        .drop("__b")
    )
