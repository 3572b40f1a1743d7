"""Tests of the conversion benchmark itself (no Spark session needed).

Run from the repository root: ``python -m pytest convbench -q``.
"""

from __future__ import annotations

import json
import sys
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import checks  # noqa: E402
import citygen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

TINY = 3  # blocks: one special district


@pytest.fixture(scope="module")
def tiny_city() -> citygen.City:
    return citygen.make_city(5, TINY)


# --------------------------------------------------------------------------
# generator
# --------------------------------------------------------------------------

def test_same_seed_gives_byte_identical_files(tmp_path: Path) -> None:
    a = citygen.write_inputs(tmp_path / "a", 5, TINY)
    b = citygen.write_inputs(tmp_path / "b", 5, TINY)
    files_a = sorted(p.relative_to(tmp_path / "a") for p in (tmp_path / "a").rglob("*") if p.is_file())
    files_b = sorted(p.relative_to(tmp_path / "b") for p in (tmp_path / "b").rglob("*") if p.is_file())
    assert files_a == files_b and len(files_a) == 3
    for rel in files_a:
        assert (tmp_path / "a" / rel).read_bytes() == (tmp_path / "b" / rel).read_bytes(), rel
    c = citygen.write_inputs(tmp_path / "c", 6, TINY)
    assert Path(c["city_pbf"]).read_bytes() != Path(a["city_pbf"]).read_bytes()


def test_pbf_decodes_to_the_generated_elements(tmp_path: Path) -> None:
    from quackosm_spark.sources import pbf_decode

    m = citygen.write_inputs(tmp_path, 5, TINY)
    counts: Counter = Counter()
    with open(m["city_pbf"], "rb") as f:
        for ref in pbf_decode.index_blobs(m["city_pbf"]):
            if ref.kind != "OSMData":
                continue
            for chunk in pbf_decode.decode_primitive_block(pbf_decode.read_blob_payload(f, ref)):
                counts[chunk["kind"]] += len(chunk["ids"])
    city = citygen.make_city(5, TINY)
    assert counts == Counter(e["kind"] for e in city.elements)
    assert m["city_elements"] == sum(counts.values())


def test_ground_truth_covers_the_f1_scenarios(tiny_city: citygen.City) -> None:
    truth = citygen.expected_features(tiny_city)
    ways = {w["id"]: w for w in tiny_city.ways}
    rels = {r["id"]: r for r in tiny_city.relations}
    types = Counter(truth.values())
    assert {"Point", "LineString", "Polygon", "MultiPolygon"} <= set(types)

    def way_with(tags: dict) -> int:
        return next(i for i, w in ways.items() if w["tags"] and tags.items() <= w["tags"].items())

    assert truth[f"way/{way_with({'leisure': 'track', 'area': 'no'})}"] == "LineString"
    three_point = next(i for i, w in ways.items() if len(w["refs"]) == 3 and w["refs"][0] == w["refs"][-1])
    assert truth[f"way/{three_point}"] == "LineString"
    dangling = next(i for i, w in ways.items() if any(r > 10**11 for r in w["refs"]))
    assert f"way/{dangling}" not in truth
    one_ref = next(i for i, w in ways.items() if len(w["refs"]) == 1)
    assert f"way/{one_ref}" not in truth
    assert all(truth[f"way/{i}"] == "Polygon" for i, w in ways.items()
               if w["tags"] and w["tags"].get("building") == "yes" and len(w["refs"]) == 5
               and f"way/{i}" in truth)

    def rel_with(key: str, value: str) -> str:
        return next(f"relation/{i}" for i, r in rels.items() if r["tags"].get(key) == value)

    assert truth[rel_with("leisure", "park")] == "Polygon"  # outer + hole
    assert truth[rel_with("landuse", "grass")] == "Polygon"  # split outer
    assert truth[rel_with("landuse", "meadow")] == "MultiPolygon"  # two outers
    assert rel_with("landuse", "forest") not in truth  # unclosed ring
    assert rel_with("type", "route") not in truth
    meta_only = [n for n in tiny_city.nodes if n["tags"] and not citygen.strip_metadata(n["tags"])]
    assert meta_only
    assert all(f"node/{n['id']}" not in truth for n in meta_only)


def test_tag_filter_truth(tiny_city: citygen.City) -> None:
    tagged = citygen.expected_features(tiny_city, citygen.TAGS_FILTER)
    by_fid = {f"{e['kind']}/{e['id']}": e["tags"] or {} for e in tiny_city.elements}
    assert tagged
    for fid in tagged:
        assert "access" not in by_fid[fid]  # the negation
    columns = citygen.expected_exploded_columns(tiny_city, citygen.TAGS_FILTER, set(tagged))
    assert columns[0] == "feature_id" and columns[-1] == "geometry"
    assert any(c.startswith("name:") for c in columns)  # the wildcard key expanded


def test_query_polygon_selects_the_city_extract(tiny_city: citygen.City) -> None:
    from quackosm_spark import extracts

    city_index = extracts.build_index(citygen.city_index_records(tiny_city, "city-5"))
    polygon = citygen.query_polygon(5, tiny_city.bbox, vertices=24)
    ring = polygon["coordinates"][0]
    minx, miny, maxx, maxy = tiny_city.bbox
    assert ring[0] == ring[-1] and len(ring) == 25
    assert all(minx < x < maxx and miny < y < maxy for x, y in ring)
    assert [e.id for e in extracts.find_extracts_for_geometry(polygon, city_index)] == ["city"]


# --------------------------------------------------------------------------
# metric grammar
# --------------------------------------------------------------------------

def test_metric_names_and_units_follow_the_grammar() -> None:
    for name, unit in run.END_TO_END.items():
        assert run.NAME_RE.match(name) and run.UNIT_RE.match(unit), name
    for name, (unit, _moves) in run.PER_LAYER.items():
        assert run.NAME_RE.match(name) and run.UNIT_RE.match(unit), name
    assert not set(run.END_TO_END) & set(run.PER_LAYER)
    for bad in ("", "_x", "a b", "a/b", "x" * 65, "é"):
        assert not run.NAME_RE.match(bad)


def test_benchmark_json_matches_the_runner() -> None:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: u for k, (u, _m) in run.PER_LAYER.items()}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_tail_percentile_is_the_highest_the_sample_supports() -> None:
    assert run.tail_percentile(1) == 100.0
    assert run.tail_percentile(100) == 90.0
    assert run.tail_percentile(1000) == 99.0
    assert run.tail_percentile(10_000) == 99.9
    assert run.percentile([3.0, 1.0, 2.0], 100.0) == 3.0
    assert run.percentile(list(map(float, range(1, 101))), 95.0) == 95.0


# --------------------------------------------------------------------------
# span arithmetic
# --------------------------------------------------------------------------

def test_self_times_of_a_hand_built_trace() -> None:
    trace = [
        spans.Span("functions", "r/0", None, "r", 0.0, 10.0),
        spans.Span("a", "r/1", "r/0", "r", 1.0, 4.0),
        spans.Span("b", "r/2", "r/0", "r", 5.0, 9.0),
        spans.Span("c", "r/3", "r/2", "r", 6.0, 8.0),
    ]
    selves = spans.self_times(trace)
    assert selves == {"r/0": 3.0, "r/1": 3.0, "r/2": 2.0, "r/3": 2.0}
    assert sum(selves.values()) == trace[0].duration


def test_tracer_nests_spans() -> None:
    tracer = spans.Tracer("req")
    with tracer.span("functions") as root:
        with tracer.span("a") as a:
            pass
        with tracer.span("b") as b:
            with tracer.span("c") as c:
                pass
    assert root.parent is None and a.parent == root.span_id
    assert b.parent == root.span_id and c.parent == b.span_id
    assert {s.request_id for s in tracer.spans} == {"req"}
    selves = spans.self_times(tracer.spans)
    assert sum(selves.values()) == pytest.approx(root.duration)


# --------------------------------------------------------------------------
# output checks
# --------------------------------------------------------------------------

def _write_result(path: Path, rows: list[tuple[str, dict]], geo: dict | None) -> None:
    from quackosm_spark.geometry import wkb

    path.mkdir(parents=True)
    table = pa.table({
        "feature_id": [r[0] for r in rows],
        "tags": pa.array([[("k", "v")] for _ in rows], pa.map_(pa.string(), pa.string())),
        "geometry": [wkb.dumps(r[1]) for r in rows],
    })
    if geo is not None:
        table = table.replace_schema_metadata({b"geo": json.dumps(geo).encode()})
    pq.write_table(table, path / "part-0.parquet")


def _geo(types: list[str], bbox: list[float]) -> dict:
    return {"version": "1.1.0", "columns": {"geometry": {"geometry_types": types, "bbox": bbox}}}


POINT = {"type": "Point", "coordinates": [1.0, 2.0]}
LINE = {"type": "LineString", "coordinates": [[0.0, 0.0], [3.0, 4.0]]}


def test_checks_accept_a_correct_result(tmp_path: Path) -> None:
    _write_result(tmp_path / "ok", [("node/1", POINT), ("way/1", LINE)],
                  _geo(["LineString", "Point"], [0.0, 0.0, 3.0, 4.0]))
    expected = {"node/1": "Point", "way/1": "LineString"}
    assert checks.check_geoparquet(tmp_path / "ok", expected, run.COMPACT_COLUMNS) == []


@pytest.mark.parametrize("rows, geo, expected, columns, needle", [
    ([("node/1", POINT)], _geo(["Point"], [1.0, 2.0, 1.0, 2.0]),
     {"node/1": "Point", "way/1": "LineString"}, None, "missing"),
    ([("node/1", POINT), ("node/1", POINT)], _geo(["Point"], [1.0, 2.0, 1.0, 2.0]),
     {"node/1": "Point"}, None, "duplicate"),
    ([("way/1", POINT)], _geo(["Point"], [1.0, 2.0, 1.0, 2.0]),
     {"way/1": "LineString"}, None, "wrong geometry type"),
    ([("node/1", POINT)], None, {"node/1": "Point"}, None, "no geo footer"),
    ([("node/1", POINT)], _geo(["Point"], [0.0, 0.0, 1.0, 2.0]),
     {"node/1": "Point"}, None, "bbox"),
    ([("node/1", POINT)], _geo(["Polygon"], [1.0, 2.0, 1.0, 2.0]),
     {"node/1": "Point"}, None, "types"),
    ([("node/1", POINT)], _geo(["Point"], [1.0, 2.0, 1.0, 2.0]),
     {"node/1": "Point"}, ["feature_id", "geometry"], "columns"),
])
def test_checks_reject_wrong_results(tmp_path: Path, rows, geo, expected, columns, needle) -> None:
    _write_result(tmp_path / "bad", rows, geo)
    problems = checks.check_geoparquet(tmp_path / "bad", expected, columns)
    assert any(needle in p for p in problems), problems


def test_tree_memory_is_the_largest_sum_of_current_pss(tmp_path: Path) -> None:
    proc = tmp_path / "proc"

    def fake_process(pid: int, ppid: int, pss_kb: int | None, rss_kb: int) -> None:
        d = proc / str(pid)
        d.mkdir(parents=True)
        (d / "stat").write_text(f"{pid} (java x) S {ppid} 1 1 0")
        (d / "status").write_text(f"Name:\tjava\nVmHWM:\t999999 kB\nVmRSS:\t{rss_kb} kB\n")
        if pss_kb is not None:
            (d / "smaps_rollup").write_text(
                f"00-ff ---p 0 00:00 0 [rollup]\nRss: {rss_kb} kB\n"
                f"Pss: {pss_kb} kB\nPss_Anon: 1 kB\n")

    fake_process(10, 1, 100, 400)  # the driver
    fake_process(11, 10, 200, 500)  # the JVM
    fake_process(12, 11, None, 30)  # no smaps_rollup: VmRSS
    fake_process(20, 1, 5000, 5000)  # not in the tree
    readings = spans.tree_resident_bytes(10, str(proc))
    assert readings == {10: 100 * 1024, 11: 200 * 1024, 12: 30 * 1024}

    ticks = iter([{1: 5, 2: 5}, {1: 30}, {1: 8, 2: 8, 3: 8}, {}])
    sampler = spans.RssSampler(sample=lambda: next(ticks))
    for _ in range(4):
        sampler.tick()
    assert sampler.peak == 30 and sampler.by_pid == {1: 30}


def test_selection_check() -> None:
    assert checks.check_selection(["b", "a"], ["a", "b"]) == []
    assert checks.check_selection(["a"], ["a", "b"])


# --------------------------------------------------------------------------
# process teardown
# --------------------------------------------------------------------------

def test_end_descendants_ends_orphans_and_stubborn_children(tmp_path: Path) -> None:
    """An orphaned grandchild and a child that ignores SIGTERM are both
    gone, and reaped, when end_descendants returns."""
    import subprocess

    script = tmp_path / "tree.py"
    script.write_text(f"""
import json, signal, subprocess, sys
sys.path.insert(0, {str(HERE)!r})
import procs
assert procs.become_subreaper()
# the shell exits at once, leaving its background sleep an orphan
subprocess.run(["sh", "-c", "sleep 60 & echo $! > {tmp_path / 'orphan'}"], check=True)
# SIG_IGN survives exec: this sleep ignores SIGTERM
subprocess.Popen(["sleep", "60"],
                 preexec_fn=lambda: signal.signal(signal.SIGTERM, signal.SIG_IGN))
assert len(procs.descendants()) == 2, procs.descendants()
signalled = procs.end_descendants(grace=0.2, term_wait=0.5)
print(json.dumps({{"left": procs.descendants(), "signalled": signalled}}))
""")
    out = subprocess.run([sys.executable, str(script)], capture_output=True, text=True,
                         timeout=60)
    assert out.returncode == 0, out.stderr
    result = json.loads(out.stdout.splitlines()[-1])
    assert result["left"] == []
    assert len(result["signalled"]["term"]) == 2
    assert len(result["signalled"]["kill"]) == 1
    orphan = int((tmp_path / "orphan").read_text())
    assert not Path(f"/proc/{orphan}").exists()
