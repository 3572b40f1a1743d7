"""Seeded synthetic OSM city for the conversion benchmark.

``make_city(seed, blocks)`` lays out a ``blocks × blocks`` street grid with
buildings, POIs and a handful of special-case elements in every district,
covering the FIXTURES.md F1 scenarios:

- tagged POI nodes with ``name:*`` keys, untagged geometry-only nodes, nodes
  carrying only metadata tags (stripped to nothing → no feature);
- building polygons, open streets, a closed way tagged ``area=no``, a closed
  three-point way (too few distinct points for a polygon), a way with a
  dangling node ref, a one-ref way;
- multipolygon relations with a hole, with an outer ring split over two
  ways, with two outers, with an unclosed ring, plus a ``type=route``
  relation and a non-way member that must be ignored.

Alongside the elements it builds the tag filter, the query polygon
(non-convex, inside the city), an extracts index of the city and its
neighbours, and the ground truth for every request: ``expected_features``
re-derives, independently of the package, which ``feature_id`` each
conversion must output and with which geometry type.

The same seed always yields byte-identical files (``write_inputs``).
"""

from __future__ import annotations

import json
import math
import random
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Optional

LON0, LAT0 = 10.0, 50.0
BLOCK_DEG = 0.001  # ~70 m × 110 m blocks
STREET_SEGMENT_BLOCKS = 6

TAGS_FILTER = {
    "amenity": ["cafe", "restaurant", "pharmacy", "school"],
    "shop": ["bakery", "bicycle", "books"],
    "building": ["church", "school"],
    "name:*": True,
    "access": False,
}

METADATA_TAGS = {
    "area", "created_by", "converted_by", "source", "time", "ele", "note",
    "todo", "fixme", "FIXME",
}
METADATA_PREFIXES = ("openGeoDB:",)

# Closed-way polygon decision for the keys this generator emits (the public
# osm-polygon-features rules): keys that always make an area, and keys whose
# listed values do NOT make one.
_AREA_KEYS = {"building", "leisure", "landuse", "shop", "tourism"}
_AREA_DENY = {"amenity": {"bench", "weighbridge"}}

_AMENITIES = ["cafe", "restaurant", "pharmacy", "school", "bench", "bank",
              "parking", "post_box", "fuel", "library"]
_SHOPS = ["bakery", "bicycle", "books", "supermarket", "clothes", "hairdresser"]
_BUILDINGS = ["yes", "yes", "yes", "house", "apartments", "retail", "church",
              "school", "garage"]
_HIGHWAYS = ["residential", "residential", "tertiary", "secondary", "primary"]
_LANGS = ["en", "de", "fr", "pl"]
_STREET_NAMES = ["Oak", "Elm", "Pine", "Lake", "Hill", "Mill", "Park", "Main",
                 "Church", "River", "Bridge", "Market"]


def _q(v: float) -> float:
    """Round to the 1e-7 degree grid the PBF stores."""
    return round(v, 7)


# --------------------------------------------------------------------------
# the city
# --------------------------------------------------------------------------

@dataclass
class City:
    seed: int
    blocks: int
    nodes: list[dict[str, Any]]
    ways: list[dict[str, Any]]
    relations: list[dict[str, Any]]

    @property
    def elements(self) -> list[dict[str, Any]]:
        return self.nodes + self.ways + self.relations

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        span = self.blocks * BLOCK_DEG
        return (LON0, LAT0, LON0 + span, LAT0 + span)


class _Builder:
    def __init__(self, seed: int, blocks: int) -> None:
        self.rng = random.Random(seed)
        self.seed = seed
        self.blocks = blocks
        self.nodes: list[dict[str, Any]] = []
        self.ways: list[dict[str, Any]] = []
        self.relations: list[dict[str, Any]] = []

    def node(self, x: float, y: float, tags: Optional[dict] = None) -> int:
        nid = len(self.nodes) + 1
        self.nodes.append({"kind": "node", "id": nid, "tags": tags or None,
                           "lat": _q(LAT0 + y), "lon": _q(LON0 + x)})
        return nid

    def way(self, refs: list[int], tags: Optional[dict] = None) -> int:
        wid = len(self.ways) + 1
        self.ways.append({"kind": "way", "id": wid, "tags": tags or None,
                          "refs": list(refs)})
        return wid

    def relation(self, members: list[tuple[str, int, Optional[str]]], tags: dict) -> int:
        rid = len(self.relations) + 1
        self.relations.append({
            "kind": "relation", "id": rid, "tags": tags,
            "refs": [m[1] for m in members],
            "ref_types": [m[0] for m in members],
            "ref_roles": [m[2] for m in members],
        })
        return rid

    def ring(self, x0: float, y0: float, x1: float, y1: float) -> list[int]:
        """Four fresh corner nodes of an axis-aligned rectangle (CCW), closed."""
        ids = [self.node(x0, y0), self.node(x1, y0), self.node(x1, y1), self.node(x0, y1)]
        return ids + [ids[0]]

    def meta(self, tags: dict) -> dict:
        r = self.rng.random()
        if r < 0.15:
            tags["source"] = "survey"
        elif r < 0.25:
            tags["created_by"] = "JOSM"
        elif r < 0.28:
            tags["note"] = "check"
        return tags


def _name(rng: random.Random, kind: str) -> str:
    return f"{rng.choice(_STREET_NAMES)} {kind} {rng.randrange(1000)}"


def make_city(seed: int, blocks: int) -> City:
    b = _Builder(seed, blocks)
    rng = b.rng
    d = BLOCK_DEG
    n = blocks

    # street grid: shared intersection nodes, one mid-block node per edge
    inter = [[b.node(i * d, j * d) for j in range(n + 1)] for i in range(n + 1)]
    for horizontal in (True, False):
        for line in range(n + 1):
            tags = {"highway": rng.choice(_HIGHWAYS), "name": _name(rng, "Street")}
            for start in range(0, n, STREET_SEGMENT_BLOCKS):
                stop = min(start + STREET_SEGMENT_BLOCKS, n)
                refs: list[int] = []
                for k in range(start, stop):
                    a = inter[k][line] if horizontal else inter[line][k]
                    mid_x, mid_y = ((k + 0.5) * d, line * d) if horizontal else (line * d, (k + 0.5) * d)
                    refs += [a, b.node(mid_x, mid_y)]
                refs.append(inter[stop][line] if horizontal else inter[line][stop])
                b.way(refs, b.meta(dict(tags)))

    route_members: list[tuple[str, int, Optional[str]]] = []
    for bi in range(n):
        for bj in range(n):
            x0, y0 = bi * d, bj * d
            _fill_block(b, x0, y0, d)
            if (bi * n + bj) % 9 == 4:
                _special_district(b, x0, y0, d)
            if bj == n // 2 and len(route_members) < 40:
                route_members.append(("way", 1 + bi, None))
    b.relation(route_members, {"type": "route", "route": "bus", "name": "Line 1"})
    return City(seed, blocks, b.nodes, b.ways, b.relations)


def _fill_block(b: _Builder, x0: float, y0: float, d: float) -> None:
    rng = b.rng
    inset = 0.08 * d
    cols = rng.choice((2, 2, 3))
    cell = (d - 2 * inset) / cols
    for c in range(cols):
        for row in range(2):
            if rng.random() < 0.25:
                continue
            bx0 = x0 + inset + c * cell + 0.1 * cell
            by0 = y0 + inset + row * (d - 2 * inset) / 2 + 0.1 * cell
            w = cell * rng.uniform(0.5, 0.8)
            h = (d - 2 * inset) / 2 * rng.uniform(0.5, 0.8)
            tags: dict[str, str] = {"building": rng.choice(_BUILDINGS)}
            if rng.random() < 0.5:
                tags["addr:street"] = _name(rng, "Street")
                tags["addr:housenumber"] = str(rng.randrange(1, 200))
            if rng.random() < 0.1:
                tags["name"] = _name(rng, "House")
                tags[f"name:{rng.choice(_LANGS)}"] = _name(rng, "House")
            if rng.random() < 0.05:
                tags["access"] = "private"
            b.way(b.ring(bx0, by0, bx0 + w, by0 + h), b.meta(tags))
    # POIs
    for _ in range(rng.choice((0, 1, 1, 2, 3))):
        x, y = x0 + rng.uniform(0.05, 0.95) * d, y0 + rng.uniform(0.05, 0.95) * d
        if rng.random() < 0.6:
            tags = {"amenity": rng.choice(_AMENITIES)}
        else:
            tags = {"shop": rng.choice(_SHOPS)}
        if rng.random() < 0.7:
            tags["name"] = _name(rng, "Place")
            for lang in rng.sample(_LANGS, rng.randrange(3)):
                tags[f"name:{lang}"] = _name(rng, "Place")
        if rng.random() < 0.1:
            tags["access"] = "private"
        if rng.random() < 0.1:
            tags["fixme"] = "position"
        b.node(x, y, b.meta(tags))
    if rng.random() < 0.1:  # metadata-only node: stripped to nothing
        b.node(x0 + 0.5 * d, y0 + 0.02 * d, {"created_by": "JOSM", "source": "gps"})


def _special_district(b: _Builder, x0: float, y0: float, d: float) -> None:
    """One of each F1 edge case, squeezed into the block's street margin and
    an inner strip so nothing overlaps the ordinary buildings."""
    rng = b.rng
    s = 0.02 * d  # small feature size
    ex, ey = x0 + 0.02 * d, y0 + 0.02 * d
    # closed way tagged area=no → LineString
    b.way(b.ring(ex, ey, ex + s, ey + s), {"leisure": "track", "area": "no"})
    # closed three-point way → stays a LineString
    p, q = b.node(ex + 2 * s, ey), b.node(ex + 3 * s, ey + s)
    b.way([p, q, p], {"building": "yes"})
    # dangling node ref → dropped
    refs = b.ring(ex + 4 * s, ey, ex + 5 * s, ey + s)
    b.way(refs[:2] + [10**12 + b.seed] + refs[2:], {"building": "yes"})
    # one-ref way → dropped
    b.way([b.node(ex + 6 * s, ey)], {"barrier": "fence"})
    # metadata tags only → stripped to nothing, no feature
    b.node(ex + 7 * s, ey, {"created_by": "JOSM", "source": "gps"})

    # multipolygons along the block's top margin
    my = y0 + 0.93 * d
    h = 0.05 * d
    mx = x0 + 0.05 * d
    # outer + inner hole → Polygon
    outer = b.way(b.ring(mx, my, mx + 4 * h, my + h))
    inner = b.way(b.ring(mx + h, my + 0.3 * h, mx + 2 * h, my + 0.7 * h))
    label = b.node(mx + 3 * h, my + 0.5 * h)
    b.relation([("way", outer, "outer"), ("way", inner, "inner"), ("node", label, "label")],
               {"type": "multipolygon", "leisure": "park", "name": _name(rng, "Park")})
    mx += 4.5 * h
    # outer ring split over two ways → Polygon after linemerge
    c = [b.node(mx, my), b.node(mx + 2 * h, my), b.node(mx + 2 * h, my + h), b.node(mx, my + h)]
    w1 = b.way([c[0], c[1], c[2]])
    w2 = b.way([c[2], c[3], c[0]])
    b.relation([("way", w1, "outer"), ("way", w2, "outer")],
               {"type": "multipolygon", "landuse": "grass"})
    mx += 2.5 * h
    # two outers → MultiPolygon
    o1 = b.way(b.ring(mx, my, mx + h, my + h))
    o2 = b.way(b.ring(mx + 1.5 * h, my, mx + 2.5 * h, my + h))
    b.relation([("way", o1, "outer"), ("way", o2, None)],
               {"type": "multipolygon", "landuse": "meadow", "source": "bing"})
    mx += 3 * h
    # unclosed ring → relation dropped
    u = [b.node(mx, my), b.node(mx + h, my), b.node(mx + h, my + h), b.node(mx, my + h)]
    uw = b.way(u)
    b.relation([("way", uw, "outer")], {"type": "multipolygon", "landuse": "forest"})


# --------------------------------------------------------------------------
# polygons
# --------------------------------------------------------------------------

def query_polygon(seed: int, bbox: tuple[float, float, float, float],
                  vertices: int = 200, share: float = 0.10) -> dict[str, Any]:
    """Non-convex star polygon (CCW) with ``vertices`` vertices covering
    about ``share`` of ``bbox``: the area a request asks the extracts
    coverage search for."""
    rng = random.Random(seed * 7919 + 1)
    minx, miny, maxx, maxy = bbox
    w, h = maxx - minx, maxy - miny
    lobes, amp = rng.choice((5, 7, 9)), 0.3
    phase = rng.uniform(0, 2 * math.pi)
    radius = math.sqrt(share * w * h / (math.pi * (1 + amp * amp / 2)))
    cx = minx + w * rng.uniform(0.35, 0.65)
    cy = miny + h * rng.uniform(0.35, 0.65)
    ring = []
    for i in range(vertices):
        t = 2 * math.pi * i / vertices
        r = radius * (1 + amp * math.sin(lobes * t + phase)) * rng.uniform(0.995, 1.005)
        ring.append([round(cx + r * math.cos(t), 9), round(cy + r * math.sin(t), 9)])
    ring.append(list(ring[0]))
    return {"type": "Polygon", "coordinates": [ring]}


# --------------------------------------------------------------------------
# ground truth
# --------------------------------------------------------------------------

def strip_metadata(tags: Optional[dict]) -> dict:
    return {k: v for k, v in (tags or {}).items()
            if k not in METADATA_TAGS and not k.startswith(METADATA_PREFIXES)}


def _like(pattern: str, value: str) -> bool:
    import fnmatch

    return fnmatch.fnmatchcase(value, pattern.replace("[", "[[]"))


def expand_filter(tags_filter: dict, elements: list[dict]) -> dict:
    """Wildcard keys expanded against every key present in the file."""
    keys = sorted({k for e in elements for k in (e.get("tags") or {})})
    out: dict[str, Any] = {}
    for key, value in tags_filter.items():
        for k in ([k for k in keys if _like(key, k)] if "*" in key else [key]):
            out[k] = value
    return out


def _value_match(value: Any, v: Optional[str]) -> bool:
    if v is None:
        return False
    values = [value] if isinstance(value, str) else value
    return any(_like(x, v) if "*" in x else x == v for x in values)


def tags_pass(expanded: Optional[dict], tags: Optional[dict]) -> bool:
    """``(OR of positive clauses) AND (AND of negative clauses)`` over the
    raw tags."""
    if not tags:
        return False
    if expanded is None:
        return True
    positive = [(k, v) for k, v in expanded.items() if v is not False]
    if any(k in tags for k, v in expanded.items() if v is False):
        return False
    if not positive:
        return True
    return any(k in tags if v is True else _value_match(v, tags.get(k)) for k, v in positive)


def _way_type(way: dict, coords: dict[int, tuple[float, float]]) -> str:
    pts = [coords[r] for r in way["refs"]]
    distinct = 1 + sum(1 for a, b in zip(pts, pts[1:]) if a != b)
    tags = way["tags"] or {}
    polygon_tags = tags.get("area") != "no" and (
        tags.get("area") == "yes"
        or any(k in tags for k in _AREA_KEYS)
        or any(k in tags and tags[k] not in deny for k, deny in _AREA_DENY.items())
    )
    if pts[0] == pts[-1] and distinct >= 4 and polygon_tags:
        return "Polygon"
    return "LineString"


def _relation_type(rel: dict, ways_by_id: dict[int, dict]) -> Optional[str]:
    """Geometry type of the generator's multipolygon shapes: unclosed rings
    drop the relation, several disjoint outers make a MultiPolygon."""
    members = [ways_by_id[r] for r, t in zip(rel["refs"], rel["ref_types"]) if t == "way"]
    roles = [ro or "outer" for ro, t in zip(rel["ref_roles"], rel["ref_types"]) if t == "way"]
    ends: dict[int, int] = {}
    for w in members:
        for end in (w["refs"][0], w["refs"][-1]):
            ends[end] = ends.get(end, 0) + 1
    if any(c % 2 for c in ends.values()):
        return None
    outers = [w for w, ro in zip(members, roles) if ro == "outer"]
    closed_outers = sum(1 for w in outers if w["refs"][0] == w["refs"][-1])
    return "MultiPolygon" if closed_outers > 1 else "Polygon"


def expected_features(city: City, tags_filter: Optional[dict] = None) -> dict[str, str]:
    """``feature_id → geometry type`` a conversion of ``city`` must output,
    following the reference's staged semantics: tag prefilter on raw tags,
    referential validity, metadata stripping."""
    expanded = expand_filter(tags_filter, city.elements) if tags_filter else None
    coords = {n["id"]: (n["lon"], n["lat"]) for n in city.nodes}
    ways_by_id = {w["id"]: w for w in city.ways if len(w["refs"]) >= 2}
    rels = [r for r in city.relations
            if r["refs"] and (r["tags"] or {}).get("type") in ("multipolygon", "boundary")]

    n_f = {n["id"] for n in city.nodes if tags_pass(expanded, n["tags"])}
    w_f = {wid for wid, w in ways_by_id.items() if tags_pass(expanded, w["tags"])}
    r_f = {r["id"]: r for r in rels if tags_pass(expanded, r["tags"])}

    def member_ways(r: dict) -> list[int]:
        return [ref for ref, t in zip(r["refs"], r["ref_types"]) if t == "way"]

    def valid_way(wid: int) -> bool:
        w = ways_by_id.get(wid)
        return w is not None and all(ref in coords for ref in w["refs"])

    out: dict[str, str] = {}
    for n in city.nodes:
        if n["id"] in n_f and strip_metadata(n["tags"]):
            out[f"node/{n['id']}"] = "Point"
    for wid in sorted(w_f):
        w = ways_by_id[wid]
        if valid_way(wid) and strip_metadata(w["tags"]):
            out[f"way/{wid}"] = _way_type(w, coords)
    for rid, r in sorted(r_f.items()):
        if not strip_metadata(r["tags"]) or not all(valid_way(m) for m in member_ways(r)):
            continue
        kind = _relation_type(r, ways_by_id)
        if kind is not None:
            out[f"relation/{rid}"] = kind
    return out


def expected_exploded_columns(city: City, tags_filter: dict, feature_ids: set[str]) -> list[str]:
    """Exploded output columns: every positive (expanded) filter key that
    carries a matching value on at least one output feature."""
    expanded = expand_filter(tags_filter, city.elements)
    by_fid = {f"{e['kind']}/{e['id']}": strip_metadata(e["tags"]) for e in city.elements}
    keep = []
    for key, value in expanded.items():
        if value is False:
            continue
        for fid in feature_ids:
            v = by_fid[fid].get(key)
            if v is not None and (value is True or _value_match(value, v)):
                keep.append(key)
                break
    return ["feature_id", *sorted(keep, key=str.casefold), "geometry"]


# --------------------------------------------------------------------------
# files
# --------------------------------------------------------------------------

def _box(minx: float, miny: float, maxx: float, maxy: float) -> dict[str, Any]:
    x0, y0, x1, y1 = (round(v, 7) for v in (minx, miny, maxx, maxy))
    return {"type": "Polygon", "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]}


def city_index_records(city: City, file_name: str) -> list[dict[str, Any]]:
    """Extracts index with the city itself plus three disjoint neighbour
    extracts: a query inside the city must select exactly ``city``."""
    minx, miny, maxx, maxy = city.bbox
    w, h = maxx - minx, maxy - miny
    records = [{"id": "city", "name": "city", "file_name": file_name, "parent": "",
                "url": "", "geometry": _box(minx, miny, maxx, maxy)}]
    for k, (dx, dy) in enumerate(((1.5, 0.0), (0.0, 1.5), (1.5, 1.5))):
        records.append({
            "id": f"neighbour_{k}", "name": f"neighbour {k}",
            "file_name": f"neighbour-{city.seed}-{k}", "parent": "", "url": "",
            "geometry": _box(minx + dx * w, miny + dy * h, maxx + dx * w, maxy + dy * h),
        })
    return records


def write_inputs(out_dir: Path, seed: int, blocks: int) -> dict[str, Any]:
    """Write the city PBF, the query polygon, the city's extracts index and
    the ground truth under ``out_dir``; return the manifest."""
    from quackosm_spark.sources.pbf_encode import write_pbf

    out_dir.mkdir(parents=True, exist_ok=True)
    city = make_city(seed, blocks)
    stem = f"city-{seed}"
    city_pbf = out_dir / f"{stem}.osm.pbf"
    write_pbf(str(city_pbf), city.elements)
    tagged = expected_features(city, TAGS_FILTER)
    truth: dict[str, Any] = {
        "full": expected_features(city),
        "tags": tagged,
        "tags_columns": expected_exploded_columns(city, TAGS_FILTER, set(tagged)),
        "tags_extracts": ["city"],
    }
    manifest: dict[str, Any] = {
        "seed": seed,
        "blocks": blocks,
        "city_pbf": str(city_pbf),
        "city_elements": len(city.elements),
        "city_bytes": city_pbf.stat().st_size,
        "query_polygon": query_polygon(seed, city.bbox),
        "city_index": city_index_records(city, stem),
        "truth": truth,
    }
    (out_dir / f"{stem}.truth.json").write_text(json.dumps(truth, sort_keys=True))
    on_disk = {k: v for k, v in manifest.items() if k != "truth"}
    on_disk["city_pbf"] = city_pbf.name
    (out_dir / f"{stem}.inputs.json").write_text(json.dumps(on_disk, sort_keys=True))
    return manifest
