"""Output checks run on every benchmark request.

Each check returns a list of human-readable problems; an empty list means the
output is correct. A non-empty list counts the request as failed.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Any, Iterable, Optional

import pyarrow.parquet as pq

BBOX_TOLERANCE = 1e-9


def _walk_coords(geom: dict[str, Any]) -> Iterable[tuple[float, float]]:
    if geom["type"] == "GeometryCollection":
        for g in geom["geometries"]:
            yield from _walk_coords(g)
        return
    stack = [geom["coordinates"]]
    while stack:
        c = stack.pop()
        if c and isinstance(c[0], (int, float)):
            yield c[0], c[1]
        else:
            stack.extend(c)


def check_geoparquet(
    path: Path,
    expected: dict[str, str],
    columns: Optional[list[str]] = None,
) -> list[str]:
    """A conversion result against the generator's ground truth:

    - the ``feature_id`` set equals the expected set and is unique;
    - every geometry decodes with ``quackosm_spark.geometry.wkb.loads`` and
      has the expected type;
    - every part file carries a ``geo`` footer whose types and bbox match
      the data;
    - optionally, the column list equals ``columns``.
    """
    from quackosm_spark.geometry import wkb

    problems: list[str] = []
    parts = sorted(Path(path).glob("*.parquet"))
    if not parts:
        return [f"{path}: no parquet part files"]
    fids: list[str] = []
    types: set[str] = set()
    minx = miny = float("inf")
    maxx = maxy = float("-inf")
    wrong_type = 0
    footers = []
    for part in parts:
        pf = pq.ParquetFile(part)
        meta = pf.schema_arrow.metadata or {}
        if b"geo" not in meta:
            problems.append(f"{part.name}: no geo footer")
        else:
            footers.append(json.loads(meta[b"geo"]))
        if columns is not None and pf.schema_arrow.names != columns:
            problems.append(f"{part.name}: columns {pf.schema_arrow.names} != {columns}")
        table = pf.read(columns=["feature_id", "geometry"])
        for fid, blob in zip(table.column(0).to_pylist(), table.column(1).to_pylist()):
            fids.append(fid)
            try:
                geom = wkb.loads(blob)
            except Exception as exc:  # noqa: BLE001 - any decode failure is a wrong output
                problems.append(f"{fid}: WKB does not decode ({exc})")
                continue
            types.add(geom["type"])
            if expected.get(fid) not in (None, geom["type"]):
                wrong_type += 1
            for x, y in _walk_coords(geom):
                minx, miny = min(minx, x), min(miny, y)
                maxx, maxy = max(maxx, x), max(maxy, y)
    if wrong_type:
        problems.append(f"{wrong_type} features with the wrong geometry type")
    if len(set(fids)) != len(fids):
        problems.append(f"{len(fids) - len(set(fids))} duplicate feature_id values")
    missing = set(expected) - set(fids)
    extra = set(fids) - set(expected)
    if missing or extra:
        problems.append(
            f"feature_id set differs: {len(missing)} missing (e.g. {sorted(missing)[:3]}),"
            f" {len(extra)} unexpected (e.g. {sorted(extra)[:3]})"
        )
    for geo in footers:
        col = geo.get("columns", {}).get("geometry", {})
        if sorted(col.get("geometry_types", [])) != sorted(types):
            problems.append(f"geo footer types {col.get('geometry_types')} != data {sorted(types)}")
            break
        bbox = col.get("bbox") or []
        if fids and (len(bbox) != 4 or any(
            abs(a - b) > BBOX_TOLERANCE for a, b in zip(bbox, (minx, miny, maxx, maxy))
        )):
            problems.append(f"geo footer bbox {col.get('bbox')} != data {(minx, miny, maxx, maxy)}")
            break
    return problems


def check_selection(selected: Iterable[str], expected: Iterable[str]) -> list[str]:
    """The extracts the coverage search selected against the expected ids."""
    got, want = sorted(selected), sorted(expected)
    return [] if got == want else [f"selected extracts {got} != expected {want}"]
