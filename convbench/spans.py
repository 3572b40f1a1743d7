"""Span tracing and Spark counters for the traced benchmark run.

``Tracer`` records one span per layer call (name, start, end, parent,
request id) and sets a Spark job group per span, so every job a layer
launches can be attributed to it afterwards from the local Spark UI REST API
(``SparkRest``) — the package itself is never instrumented. Spans stay in
memory until ``Tracer.dump``.

``self_times`` is the span arithmetic: a span's self time is its duration
minus the durations of its direct children, so the self times of all spans
of a request add up to the root span's duration.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Any, Callable, Iterator, Optional

SCAN_NODE = "BatchScan osmpbf"


@dataclass
class Span:
    name: str
    span_id: str
    parent: Optional[str]
    request_id: str
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[str, float]:
    """span_id → duration minus the durations of its direct children."""
    out = {s.span_id: s.duration for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.duration
    return out


class Tracer:
    """Nested spans with one Spark job group each. ``sc`` may be None (no
    job groups), which is how the span arithmetic is unit-tested."""

    def __init__(self, request_id: str, sc: Any = None) -> None:
        self.request_id = request_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Optional[Span]) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.span_id, span.name)

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name,
            span_id=f"{self.request_id}/{len(self.spans)}/{name}",
            parent=parent.span_id if parent else None,
            request_id=self.request_id,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# --------------------------------------------------------------------------
# Spark status tracker + UI REST counters
# --------------------------------------------------------------------------

@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    scan_rows: int = 0


def _metric_int(value: str) -> int:
    head = value.split("\n")[0].split(" ")[0].replace(",", "")
    try:
        return int(float(head))
    except ValueError:
        return 0


class SparkRest:
    """Read-only client for the local Spark UI REST API of ``sc``."""

    def __init__(self, sc: Any) -> None:
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str) -> Any:
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as resp:
            return json.load(resp)

    def wait_idle(self, timeout: float = 10.0) -> None:
        """The UI listener runs asynchronously; wait until the status
        tracker reports no active job and the REST view has caught up."""
        deadline = time.monotonic() + timeout
        tracker = self.sc.statusTracker()
        while time.monotonic() < deadline:
            if not tracker.getActiveJobsIds():
                running = self.get("jobs?status=running")
                if not running:
                    return
            time.sleep(0.05)

    def counters_by_group(self, groups: set[str]) -> dict[str, Counters]:
        """Jobs, completed stages, tasks, executor run time, shuffle bytes
        and ``osmpbf`` scan output rows per job group."""
        self.wait_idle()
        tracker = self.sc.statusTracker()
        jobs = {j["jobId"]: j for j in self.get("jobs")}
        stages = {s["stageId"]: s for s in self.get("stages?status=complete")}
        out = {g: Counters() for g in groups}
        group_of_job: dict[int, str] = {}
        for g in groups:
            job_ids = tracker.getJobIdsForGroup(g)
            c = out[g]
            c.jobs = len(job_ids)
            seen: set[int] = set()
            for jid in job_ids:
                group_of_job[jid] = g
                for sid in jobs.get(jid, {}).get("stageIds", []):
                    if sid in stages and sid not in seen:
                        seen.add(sid)
                        st = stages[sid]
                        c.stages += 1
                        c.tasks += st["numCompleteTasks"]
                        c.executor_run_s += st["executorRunTime"] / 1000.0
                        c.shuffle_write_bytes += st["shuffleWriteBytes"]
                        c.shuffle_read_bytes += st["shuffleReadBytes"]
        for execution in self.get("sql?details=true&planDescription=false&offset=0&length=100000"):
            job_ids = execution.get("successJobIds", []) + execution.get("failedJobIds", [])
            owners = {group_of_job[j] for j in job_ids if j in group_of_job}
            if len(owners) != 1:
                continue
            rows = sum(
                _metric_int(m["value"])
                for node in execution.get("nodes", [])
                if node["nodeName"] == SCAN_NODE
                for m in node.get("metrics", [])
                if m["name"] == "number of output rows"
            )
            out[owners.pop()].scan_rows += rows
        return out


# --------------------------------------------------------------------------
# process tree: memory and bytes written
# --------------------------------------------------------------------------

def process_tree(root: int | None = None, proc: str = "/proc") -> list[int]:
    """``root`` (default: this process) and all its descendants — the driver,
    the JVM and the Python workers."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            with open(f"{proc}/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _kb_field(path: str, key: str) -> Optional[int]:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def resident_bytes(pid: int, proc: str = "/proc") -> int:
    """Current proportional set size of ``pid`` (``Pss`` in smaps_rollup):
    pages shared with other processes, such as the copy-on-write pages of
    forked Python workers, count once in the tree's sum. Falls back to
    ``VmRSS`` where smaps_rollup cannot be read; 0 once the process is gone."""
    kb = _kb_field(f"{proc}/{pid}/smaps_rollup", "Pss:")
    if kb is None:
        kb = _kb_field(f"{proc}/{pid}/status", "VmRSS:")
    return (kb or 0) * 1024


def tree_resident_bytes(root: int | None = None, proc: str = "/proc") -> dict[int, int]:
    """pid → current resident bytes of every process in the tree."""
    return {pid: resident_bytes(pid, proc) for pid in process_tree(root, proc)}


def tree_bytes_written() -> dict[int, int]:
    """pid → bytes the process caused to be written to storage."""
    out = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/io") as f:
                fields = dict(line.split(": ") for line in f.read().splitlines())
            out[pid] = int(fields["write_bytes"])
        except (OSError, KeyError, ValueError):
            continue
    return out


def bytes_written_between(before: dict[int, int], after: dict[int, int]) -> int:
    """Bytes written by processes alive at the end (new ones count from 0)."""
    return sum(v - before.get(pid, 0) for pid, v in after.items())


class RssSampler:
    """Background sampler of the process tree's memory: each tick adds up
    the current resident bytes of every live process in the tree, and
    ``peak`` is the largest total seen. ``by_pid`` holds the readings of the
    tick that set the peak.

    Reading the JVM's smaps_rollup walks its page tables: on 4 vCPUs one
    tick of the whole tree costs ~50 ms of a core, so ticks are 0.5 s apart
    to keep the sampler from slowing the conversion it measures."""

    def __init__(self, period: float = 0.5,
                 sample: Callable[[], dict[int, int]] = tree_resident_bytes) -> None:
        import threading

        self.period = period
        self.sample = sample
        self.peak = 0
        self.by_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def tick(self) -> None:
        readings = self.sample()
        total = sum(readings.values())
        if total > self.peak:
            self.peak, self.by_pid = total, readings

    def _run(self) -> None:
        while not self._stop.is_set():
            self.tick()
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc: Any) -> None:
        self._stop.set()
        self._thread.join()
        self.tick()
