#!/usr/bin/env python3
"""PBF → GeoParquet conversion benchmark (closed loop, one client).

Run from the repository root::

    python3 convbench/run.py --workload city_tags --seed 1 --seconds 10 --trace 0
    python3 convbench/run.py --workload all --seed 1      # every workload, one summary

Each run generates its seeded input with ``citygen``, brings up a session with
``session.get_spark`` on ``local[$(nproc)]`` and issues sequential requests
through the public functions: one cache-miss conversion, then repeated
requests that the result cache must serve for ``--seconds`` seconds (at least
``REPEATS`` of them). One cache-miss conversion takes 20-50 s on 4 vCPUs, so
a run times exactly one; its spread shows across runs. Every output is
checked against the generator's ground truth (``checks``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` additionally runs
one traced conversion: each layer's public function is called in the order
``functions.convert_pbf_to_parquet`` composes them, inside a span with its own
Spark job group, with the layer's output persisted and materialized at the
boundary. It prints the per-layer metrics (``PER_LAYER``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name → value and unit). Everything above it is a
human-readable report; the full result with the machine state is written to
``.bench_out/`` in the repository root. All files a run writes stay under the
repository root (``.bench_work/`` is removed at the end of the run).
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import math
import os
import platform
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable, Optional

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import citygen  # noqa: E402
import procs  # noqa: E402
import spans as tr  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# name → unit
END_TO_END = {
    "convert_s": "s",
    "elements_per_s": "1/s",
    "setup_s": "s",
    "output_bytes_per_input_byte": "ratio",
}

# name → (unit, the end-to-end metric and workload it should move)
PER_LAYER = {
    "sources.pbf.scan_s": ("s", "convert_s on city_tags"),
    "sources.pbf.elements_per_s": ("1/s", "convert_s on city_tags"),
    "sources.pbf.decode_amplification": ("ratio", "convert_s on city_tags and city_full"),
    "filters.tags.expand_s": ("s", "convert_s on city_tags"),
    "filters.selectivity": ("ratio", "nothing: a sanity count"),
    "plans.pipeline.build_s": ("s", "convert_s on city_full and city_tags"),
    "plans.pipeline.jobs": ("count", "convert_s on city_tags"),
    "plans.pipeline.stages": ("count", "convert_s on city_tags"),
    "plans.pipeline.tasks": ("count", "convert_s on city_tags"),
    "plans.pipeline.shuffle_bytes": ("B", "convert_s on city_full"),
    "plans.output.sort_s": ("s", "convert_s on city_full"),
    "plans.output.shape_s": ("s", "convert_s on city_tags"),
    "plans.output.jobs": ("count", "convert_s on city_tags"),
    "sinks.geoparquet.stats_s": ("s", "convert_s on city_full"),
    "sinks.geoparquet.write_s": ("s", "convert_s on city_full"),
    "sinks.geoparquet.write_amplification": (
        "ratio", "convert_s and output_bytes_per_input_byte on city_full"),
    "cache.key_ms": ("ms", "cache.hit_ms on city_tags"),
    "cache.hit_ms.p50": ("ms", "nothing end-to-end: repeats take tens of microseconds"),
    "cache.hit_ms.tail": ("ms", "nothing end-to-end: repeats take tens of microseconds"),
    "cache.hit_ratio": ("ratio", "cache.hit_ms on city_tags (must read 1.0)"),
    "extracts.cover_s": ("s", "convert_s on city_tags"),
    "extracts.files_selected": ("count", "convert_s on city_tags"),
    "functions.jobs": ("count", "convert_s on city_tags"),
    "functions.self_s": ("s", "convert_s on all workloads"),
    "functions.trace_overhead_s": ("s", "nothing: traced total minus untraced convert_s"),
    # not end-to-end: G1 sizes the driver JVM's heap differently from run to
    # run, so its resident memory alone varies 1.5-2.7 GB on city_tags
    "session.peak_rss_mb": ("MB", "nothing bounded: peak memory of the untraced conversion"),
}

# Output shaping of the default (compact) conversion.
COMPACT_COLUMNS = ["feature_id", "tags", "geometry"]

# Latency percentiles a sample may report as its tail: the highest one with
# at least TAIL_MIN_BEYOND samples at or above it (else the maximum).
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10
# Cache-served repeats are timed in batches (one latency sample = the mean of
# a batch): a single repeat takes tens of microseconds, where one scheduler
# hiccup would otherwise be the tail.
HIT_BATCH = 10


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

# Small cities keep one run of city_full near a minute on 4 vCPUs.
BLOCKS = 10
# Least number of cache-served repeats after the conversion.
REPEATS = 1000


@dataclass
class Workload:
    name: str
    kind: str  # "full" | "tags": which request and ground truth
    sort_result: bool = True

    @property
    def tags_filter(self) -> Optional[dict]:
        return None if self.kind == "full" else citygen.TAGS_FILTER


# city_tags skips the Hilbert sort because sorting its ~200 output rows is
# only ~40 more Spark jobs of per-job overhead, which city_full already pays.
# A polygon-filtered conversion (convert_geometry_to_parquet) is not a
# workload: on 4 vCPUs one takes 60-90 s, more than a run can afford.
WORKLOADS = {
    "city_full": Workload("city_full", "full"),
    "city_tags": Workload("city_tags", "tags", sort_result=False),
}


@dataclass
class Request:
    """One workload request: how to issue it cold and cache-served."""

    convert: Callable[[Path], Path]  # working dir → result path
    repeat: Callable[[Path], Path]
    expected: dict[str, str]
    columns: list[str]
    # extract ids the coverage search selected on the last conversion, and
    # the ids it must select (None: the request runs no coverage search)
    selected: list[str] = field(default_factory=list)
    expected_selection: Optional[list[str]] = None


def build_request(spark: Any, w: Workload, manifest: dict[str, Any], inputs_dir: Path) -> Request:
    """city_full: ``convert_pbf_to_parquet`` with defaults. city_tags: the
    extracts coverage search for the query polygon
    (``extracts.find_and_download_extracts_pbf_files``), then
    ``convert_pbf_to_parquet`` of the selected files with the tag filter,
    exploded and unsorted; its repeats convert the same files again."""
    from quackosm_spark import extracts
    from quackosm_spark.functions import convert_pbf_to_parquet

    truth = manifest["truth"]
    if w.kind == "full":
        def convert(wd: Path) -> Path:
            return convert_pbf_to_parquet(spark, manifest["city_pbf"], working_directory=wd)

        return Request(convert, convert, truth["full"], COMPACT_COLUMNS)

    index = extracts.build_index(manifest["city_index"])
    paths: list[str] = []

    def convert_selected(wd: Path) -> Path:
        return convert_pbf_to_parquet(
            spark, paths, tags_filter=w.tags_filter, explode_tags=True,
            sort_result=w.sort_result, working_directory=wd)

    def cover_and_convert(wd: Path) -> Path:
        pairs = extracts.find_and_download_extracts_pbf_files(
            manifest["query_polygon"], index, inputs_dir)
        req.selected[:] = [e.id for e, _p in pairs]
        paths[:] = [str(p) for _e, p in pairs]
        return convert_selected(wd)

    req = Request(cover_and_convert, convert_selected, truth["tags"], truth["tags_columns"],
                  expected_selection=truth["tags_extracts"])
    return req


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def tail_percentile(n: int) -> float:
    """Highest ladder percentile with TAIL_MIN_BEYOND samples at or above
    it; 100 (the maximum) when the sample is too small for any."""
    supported = [p for p in TAIL_LADDER if round(n * (100 - p) / 100, 9) >= TAIL_MIN_BEYOND]
    return supported[-1] if supported else 100.0


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[min(len(ordered), max(1, math.ceil(round(p * len(ordered) / 100, 9)))) - 1]


def parquet_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).glob("*.parquet"))


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

@dataclass
class Run:
    workload: Workload
    seed: int
    seconds: int
    trace: bool
    work: Path
    problems: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    report: dict[str, Any] = field(default_factory=dict)

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)


def spark_conf(work: Path) -> dict[str, str]:
    """Spark settings of the benchmark session on top of ``get_spark``'s:
    quiet console output, and every job kept in the UI for the traced run's
    attribution. Nothing here changes how a conversion executes."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the traced run attributes jobs through the UI REST API: keep them all
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def machine_state() -> dict[str, Any]:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "platform": platform.platform(),
    }


def cpu_anchors(nproc: int) -> dict[str, float]:
    """Single-core and multi-core anchors from the repository's bench.py."""
    sys.path.insert(0, str(ROOT))
    from bench import cpu_microbench, multicore_probe

    return {"microbench_s": cpu_microbench(), "multicore_s": multicore_probe(nproc)}


def setup_session(run: Run, manifest: dict[str, Any]) -> tuple[Any, float]:
    """get_spark → first finished job (a scan of a one-node PBF through the
    package's ``osmpbf`` source)."""
    from quackosm_spark.session import get_spark
    from quackosm_spark.sources.pbf import read_osm_pbf

    t0 = time.perf_counter()
    spark = get_spark(app_name="convbench", extra_conf=spark_conf(run.work))
    rows = read_osm_pbf(spark, manifest["probe_pbf"]).count()
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    run.record("setup probe scan", [] if rows == 1 else [f"probe scan returned {rows} rows"])
    return spark, setup_s


def timed_requests(run: Run, spark: Any, req: Request) -> Optional[dict[str, Any]]:
    """The closed loop: one cache-miss conversion, then cache-served repeats
    in batches of HIT_BATCH until ``--seconds`` have passed since the
    conversion started and at least REPEATS were issued. None when the
    conversion fails."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    wd = run.work / "out" / "request"
    sc.setJobGroup("convert", "cache-miss conversion")
    t_loop = time.perf_counter()
    try:
        with tr.RssSampler() as sampler:
            result = req.convert(wd)
            convert_s = time.perf_counter() - t_loop
    except Exception as exc:  # noqa: BLE001 - a failed request is counted, not fatal
        run.record("conversion", [f"raised {type(exc).__name__}: {exc}"])
        return None
    run.report["peak_rss_mb"] = sampler.peak / 2**20
    run.report["peak_rss_mb_by_pid"] = {
        pid: round(v / 2**20, 1) for pid, v in sorted(sampler.by_pid.items(), key=lambda kv: -kv[1])}
    problems = checks.check_geoparquet(result, req.expected, req.columns)
    stem = Path(run.report["inputs"]["pbf"]).name.removesuffix(".osm.pbf")
    if not Path(result).name.startswith(stem + "_"):
        problems.append(f"result {result.name} was not built from {stem}")
    if req.expected_selection is not None:
        problems += checks.check_selection(req.selected, req.expected_selection)
    run.record("conversion", problems)

    sc.setJobGroup("hits", "cache-served repeats")
    hit_ms: list[float] = []
    paths = []
    gc.collect()
    while len(paths) < REPEATS or time.perf_counter() - t_loop < run.seconds:
        t = time.perf_counter()
        for _ in range(HIT_BATCH):
            try:
                paths.append(req.repeat(wd))
            except Exception as exc:  # noqa: BLE001
                run.record("cache repeat", [f"raised {type(exc).__name__}: {exc}"])
        hit_ms.append((time.perf_counter() - t) * 1000 / HIT_BATCH)
    jobs = tracker.getJobIdsForGroup("hits")
    hits_ok = 0
    for p in paths:
        ok = str(p) == str(result) and not jobs
        hits_ok += ok
        run.record("cache repeat", [] if ok else [f"repeat resolved to {p}, {len(jobs)} jobs"])
    sc.setLocalProperty("spark.jobGroup.id", None)
    return {
        "convert_s": convert_s,
        "hit_ms": hit_ms,
        "hit_ratio": hits_ok / max(1, len(paths)),
        "output_bytes": parquet_bytes(result),
        "peak_rss": sampler.peak,
    }


def end_to_end(loop: dict[str, Any], setup_s: float, manifest: dict[str, Any]) -> dict[str, float]:
    return {
        "convert_s": loop["convert_s"],
        "elements_per_s": manifest["city_elements"] / loop["convert_s"],
        "setup_s": setup_s,
        "output_bytes_per_input_byte": loop["output_bytes"] / manifest["city_bytes"],
    }


# --------------------------------------------------------------------------
# traced run
# --------------------------------------------------------------------------

def shape_output(features: Any, tags_filter: Any, explode: bool) -> Any:
    """The output shaping ``functions.convert_pbf_to_dataframe`` applies
    after ``build_features`` to one file (flat tag filters only)."""
    from quackosm_spark.filters.tags import has_positive_clause, merge_osm_tags_filter
    from quackosm_spark.plans.output import (
        drop_empty_columns,
        explode_tags_to_columns,
        keep_relevant_tags,
    )

    shape_by_filter = tags_filter is not None and has_positive_clause(tags_filter)
    merged = merge_osm_tags_filter(tags_filter) if tags_filter is not None else None
    if explode:
        return drop_empty_columns(
            explode_tags_to_columns(features, merged if shape_by_filter else None, False))
    return keep_relevant_tags(features, merged) if shape_by_filter else features


def traced_conversion(run: Run, spark: Any, w: Workload, manifest: dict[str, Any],
                      inputs_dir: Path, tracer: tr.Tracer) -> Path:
    """One conversion, layer by layer, through the layers' public functions."""
    from pyspark import StorageLevel

    from quackosm_spark import cache, extracts
    from quackosm_spark.filters.tags import expand_wildcard_keys
    from quackosm_spark.plans.output import spatial_sort
    from quackosm_spark.plans.pipeline import PbfPipelineOptions, build_features
    from quackosm_spark.sinks.geoparquet import collect_geo_stats, write_geoparquet
    from quackosm_spark.sources.pbf import read_osm_pbf

    keep = StorageLevel.MEMORY_AND_DISK
    wd = run.work / "out" / "traced"
    tags_filter = w.tags_filter
    persisted = []

    def materialize(df: Any) -> Any:
        df = df.persist(keep)
        df.count()
        persisted.append(df)
        return df

    with tracer.span("functions"):
        with tracer.span("extracts.cover") as s:
            if w.kind == "tags":
                pairs = extracts.find_and_download_extracts_pbf_files(
                    manifest["query_polygon"], extracts.build_index(manifest["city_index"]),
                    inputs_dir)
            else:
                pairs = []
            s.attrs["selected"] = [e.id for e, _p in pairs]
            paths = [str(p) for _e, p in pairs] or [manifest["city_pbf"]]
        opts = PbfPipelineOptions(tags_filter=tags_filter,
                                  explode_tags=True if tags_filter else None)
        with tracer.span("cache.key"):
            result = cache.result_file_path(
                paths, wd, tags_filter=tags_filter, explode_tags=opts.resolve_explode_tags(),
                sort_result=w.sort_result)
        with tracer.span("sources.pbf.scan") as s:
            elements = read_osm_pbf(spark, *paths).persist(keep)
            s.attrs["rows"] = elements.count()
            persisted.append(elements)
        with tracer.span("filters.tags.expand"):
            expanded = expand_wildcard_keys(elements, tags_filter)
        opts.tags_filter = expanded
        with tracer.span("plans.pipeline.build"):
            features = materialize(build_features(spark, elements, opts))
        with tracer.span("plans.output.shape"):
            shaped = materialize(shape_output(features, expanded, opts.resolve_explode_tags()))
        with tracer.span("plans.output.sort"):
            ordered = materialize(spatial_sort(shaped)) if w.sort_result else shaped
        with tracer.span("sinks.geoparquet.stats"):
            types, bbox = collect_geo_stats(ordered)
        with tracer.span("sinks.geoparquet.write") as s:
            before = tr.tree_bytes_written()
            write_geoparquet(ordered, result, geometry_types=types, bbox=bbox)
            s.attrs["bytes_written"] = tr.bytes_written_between(before, tr.tree_bytes_written())
    for df in persisted:
        df.unpersist()
    return result


def traced_metrics(run: Run, spark: Any, w: Workload, manifest: dict[str, Any],
                   inputs_dir: Path, req: Request, loop: dict[str, Any]) -> dict[str, float]:
    from quackosm_spark.sources.pbf import read_osm_pbf

    sc = spark.sparkContext
    rest = tr.SparkRest(sc)
    elements = manifest["city_elements"]

    # the scan-row counter must read 1.0 on a bare scan before it is trusted
    sc.setJobGroup("bare-scan", "read_osm_pbf -> noop")
    read_osm_pbf(spark, manifest["city_pbf"]).write.format("noop").mode("overwrite").save()

    tracer = tr.Tracer(f"{w.name}-{run.seed}-traced", sc)
    result = traced_conversion(run, spark, w, manifest, inputs_dir, tracer)
    sc.setLocalProperty("spark.jobGroup.id", None)
    run.record("traced conversion", checks.check_geoparquet(result, req.expected, req.columns))

    groups = {"bare-scan", "convert"} | {s.span_id for s in tracer.spans}
    counters = rest.counters_by_group(groups)
    bare = counters["bare-scan"].scan_rows / elements
    run.record("scan-row counter on a bare scan", [] if bare == 1.0 else [f"reads {bare}, not 1.0"])

    def span(name: str) -> tr.Span:
        return tracer.by_name(name)[0]

    def group(name: str) -> tr.Counters:
        return counters[span(name).span_id]

    selves = tr.self_times(tracer.spans)
    root = span("functions")
    total = root.duration
    children = sum(selves[s.span_id] for s in tracer.spans if s is not root)
    if abs(children + selves[root.span_id] - total) > 1e-9:
        run.record("span arithmetic", [f"self times {children + selves[root.span_id]} != {total}"])
    untraced = counters["convert"]
    out_rows = len(req.expected)
    scan = span("sources.pbf.scan")
    write = span("sinks.geoparquet.write")
    if req.expected_selection is not None:
        run.record("traced extracts selection", checks.check_selection(
            span("extracts.cover").attrs["selected"], req.expected_selection))
    tracer.dump(ROOT / ".bench_out" / f"spans-{w.name}-{run.seed}.jsonl")
    run.report["spans"] = [
        {"name": s.name, "duration_s": s.duration, "self_s": selves[s.span_id],
         **{k: v for k, v in vars(counters.get(s.span_id, tr.Counters())).items()}}
        for s in tracer.spans
    ]
    run.report["untraced_counters"] = vars(untraced)
    # where the time goes: the traced spans' shares, and the untraced
    # conversion's Spark job count against its wall time
    run.report["regime"] = [
        f"untraced conversion: {loop['convert_s']:.2f} s, {untraced.jobs} Spark jobs"
        f" ({loop['convert_s'] / max(1, untraced.jobs):.3f} s per job), {untraced.tasks} tasks,"
        f" executor {untraced.executor_run_s:.1f} s, PBF decoded"
        f" {untraced.scan_rows / elements:.1f}x",
        *(f"span {s.name:24s} self {selves[s.span_id]:7.3f} s"
          f" {100 * selves[s.span_id] / total:5.1f}% of traced {total:.2f} s,"
          f" {counters.get(s.span_id, tr.Counters()).jobs} jobs" for s in tracer.spans),
    ]
    return {
        "sources.pbf.scan_s": scan.duration,
        "sources.pbf.elements_per_s": scan.attrs["rows"] / scan.duration,
        "sources.pbf.decode_amplification": untraced.scan_rows / elements,
        "filters.tags.expand_s": span("filters.tags.expand").duration,
        "filters.selectivity": out_rows / elements,
        "plans.pipeline.build_s": span("plans.pipeline.build").duration,
        "plans.pipeline.jobs": group("plans.pipeline.build").jobs,
        "plans.pipeline.stages": group("plans.pipeline.build").stages,
        "plans.pipeline.tasks": group("plans.pipeline.build").tasks,
        "plans.pipeline.shuffle_bytes": group("plans.pipeline.build").shuffle_write_bytes,
        "plans.output.sort_s": span("plans.output.sort").duration,
        "plans.output.shape_s": span("plans.output.shape").duration,
        "plans.output.jobs": group("plans.output.shape").jobs + group("plans.output.sort").jobs,
        "sinks.geoparquet.stats_s": span("sinks.geoparquet.stats").duration,
        "sinks.geoparquet.write_s": write.duration,
        "sinks.geoparquet.write_amplification":
            write.attrs["bytes_written"] / max(1, parquet_bytes(result)),
        "cache.key_ms": span("cache.key").duration * 1000,
        "cache.hit_ms.p50": statistics.median(loop["hit_ms"]),
        "cache.hit_ms.tail": percentile(loop["hit_ms"], tail_percentile(len(loop["hit_ms"]))),
        "cache.hit_ratio": loop["hit_ratio"],
        "extracts.cover_s": span("extracts.cover").duration,
        "extracts.files_selected": len(span("extracts.cover").attrs["selected"]),
        "functions.jobs": untraced.jobs,
        "functions.self_s": selves[root.span_id],
        "functions.trace_overhead_s": total - loop["convert_s"],
        "session.peak_rss_mb": loop["peak_rss"] / 2**20,
    }


# --------------------------------------------------------------------------
# entry points
# --------------------------------------------------------------------------

def run_one(args: argparse.Namespace) -> int:
    try:
        sys.path.insert(0, str(ROOT))
        import quackosm_spark  # noqa: F401
    except ImportError as exc:
        print(f"convbench: the quackosm_spark package is not next to the benchmark ({exc})",
              file=sys.stderr)
        return 3

    # the session's JVM and Python workers must have ended before the run
    # exits, also when it is stopped with SIGTERM
    procs.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    w = WORKLOADS[args.workload]
    work = ROOT / ".bench_work" / f"{w.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # every file Python, the JVMs and Spark write goes under the work dir
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None
    run = Run(w, args.seed, args.seconds, bool(args.trace), work)
    state = machine_state()
    run.report.update({"workload": w.name, "seed": args.seed, "seconds": args.seconds,
                       "trace": args.trace, "machine": state})
    if args.trace:
        run.report["machine"]["anchors"] = cpu_anchors(state["nproc"])
    spark = None
    try:
        inputs_dir = work / "inputs"
        t = time.perf_counter()
        manifest = citygen.write_inputs(inputs_dir, args.seed, BLOCKS)
        probe = inputs_dir / "probe.osm.pbf"
        from quackosm_spark.sources.pbf_encode import write_pbf

        write_pbf(str(probe), [{"kind": "node", "id": 1, "lat": 0.0, "lon": 0.0, "tags": None}])
        manifest["probe_pbf"] = str(probe)
        run.report["inputs"] = {
            "generate_s": time.perf_counter() - t, "blocks": BLOCKS, "pbf": manifest["city_pbf"],
            "elements": manifest["city_elements"], "bytes": manifest["city_bytes"],
            "expected_features": len(manifest["truth"][w.kind]),
        }
        spark, setup_s = setup_session(run, manifest)
        req = build_request(spark, w, manifest, inputs_dir)
        loop = timed_requests(run, spark, req)
        if loop is None:
            raise RuntimeError(f"the conversion failed: {run.problems}")
        metrics = {k: (v, END_TO_END[k]) for k, v in end_to_end(loop, setup_s, manifest).items()}
        run.report["selected_extracts"] = req.selected
        run.report["notes"] = {
            "convert_s": "(the run's one cache-miss conversion)",
            "cache.hit_ms.p50": f"(cache-served repeats, median of {len(loop['hit_ms'])}"
                                f" batches of {HIT_BATCH})",
            "cache.hit_ms.tail": f"(p{tail_percentile(len(loop['hit_ms'])):g} of"
                                 f" {len(loop['hit_ms'])} batches)",
        }
        if args.trace:
            layer = traced_metrics(run, spark, w, manifest, inputs_dir, req, loop)
            run.report["end_to_end"] = {k: v for k, (v, _u) in metrics.items()}
            metrics = {k: (v, PER_LAYER[k][0]) for k, v in layer.items()}
    finally:
        procs.stop_spark(spark)
        run.report["teardown"] = procs.end_descendants()
        shutil.rmtree(work, ignore_errors=True)
    run.report["machine"]["loadavg_end"] = list(os.getloadavg())
    run.report["failed_ops_ratio"] = run.failed / max(1, run.attempted)
    run.report["problems"] = run.problems
    return emit(run, metrics)


def emit(run: Run, metrics: dict[str, tuple[float, str]]) -> int:
    out = ROOT / ".bench_out"
    out.mkdir(exist_ok=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    run.report["result"] = result
    name = f"result-{run.workload.name}-{run.seed}-trace{int(run.trace)}.json"
    (out / name).write_text(json.dumps(run.report, indent=1, default=str))
    m = run.report["machine"]
    print(f"# {run.workload.name} seed={run.seed} nproc={m['nproc']} loadavg={m['loadavg'][0]:.2f}"
          f" pyspark={m['pyspark']} pyarrow={m['pyarrow']} anchors={m.get('anchors', 'traced runs only')}")
    print(f"# input: {run.report['inputs']}")
    for k, (v, u) in metrics.items():
        note = run.report["notes"].get(k) or (f"(moves {PER_LAYER[k][1]})" if k in PER_LAYER else "")
        print(f"{k} = {v:.6g} {u} {note}".rstrip())
    for line in run.report.get("regime", []):
        print(f"# {line}")
    print(f"failed_ops_ratio = {run.report['failed_ops_ratio']:.6g} ratio"
          f" ({run.failed} of {run.attempted})")
    for p in run.problems[:20]:
        print(f"! {p}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run_all(args: argparse.Namespace) -> int:
    """Every workload in its own process, one summary."""
    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__)), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        print(f"== {name} (exit {proc.returncode})")
        print("\n".join(lines[:-1]))
        status = status or proc.returncode
    return status


def main(argv: Optional[list[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
