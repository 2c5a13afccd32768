"""Spans, job groups, process-tree RSS and the event-log reader.

The harness records a span around every call it makes into a layer of
the package and runs the call under a Spark job group named after the
layer.  A traced run also writes the Spark event log; :func:`layer_metrics`
joins the log's jobs and tasks to the spans afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

LAYERS = ("sources", "profile", "constraints", "manifest", "curation", "incremental")
LAYER_METRICS = (
    "wall_s", "driver_s", "jobs", "task_s", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "input_mb", "output_mb", "task_failures",
)
MB = 1024 * 1024


class Spans:
    """In-memory span recorder: ``(id, name, start, end, parent, run_id)``.

    The parent of a span is the innermost open span of the same thread,
    or the span passed as ``parent`` when the caller starts a thread."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def current(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, parent: int | None = None, sc=None):
        """Time a block; with ``sc`` the block's Spark jobs run under the
        job group ``<name>#<span id>`` (thread-local: pinned threads)."""
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.rows)
            row = {"id": sid, "name": name, "parent": parent if parent is not None
                   else (stack[-1] if stack else None), "run_id": self.run_id,
                   "start": time.time(), "end": None}
            self.rows.append(row)
        outer_group = self._local.__dict__.get("group")
        if sc is not None:
            self._local.group = f"{name}#{sid}"
            sc.setJobGroup(self._local.group, name)
        stack.append(sid)
        try:
            yield row
        finally:
            stack.pop()
            row["end"] = time.time()
            if sc is not None:
                self._local.group = outer_group
                if outer_group is None:
                    for key in ("spark.jobGroup.id", "spark.job.description"):
                        sc.setLocalProperty(key, None)
                else:
                    sc.setJobGroup(outer_group, outer_group.split("#")[0])

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")


@contextmanager
def inherit_job_groups():
    """Run every task submitted to a ``ThreadPoolExecutor`` with the
    submitting thread's Spark local properties, job group included.

    The package runs some of its jobs from its own thread pools.  In
    pinned-thread mode each Python thread has its own JVM thread, and a
    pool thread starts with no job group, so without this its jobs would
    belong to no layer.  Active in traced and untraced runs alike."""
    from pyspark import SparkContext

    submit = ThreadPoolExecutor.submit

    def inheriting_submit(self, fn, /, *args, **kwargs):
        jsc = SparkContext._active_spark_context._jsc.sc()
        props = jsc.getLocalProperties().clone()

        def run(*a, **kw):
            jsc.setLocalProperties(props)
            return fn(*a, **kw)

        return submit(self, run, *args, **kwargs)

    ThreadPoolExecutor.submit = inheriting_submit
    try:
        yield
    finally:
        ThreadPoolExecutor.submit = submit


# ---------------------------------------------------------------------------
# process-tree RSS
# ---------------------------------------------------------------------------
def process_tree(root: int) -> dict[int, int]:
    """``{pid: rss bytes}`` of ``root`` and all its descendants, from /proc.

    A child that still runs its parent's program is a launch caught
    between clone and exec: it shares the parent's memory, so its RSS is
    the parent's again and counts as 0."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    comm: dict[int, str] = {}
    ppid: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        pid = int(d)
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                rss[pid] = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
        name, rest = stat.split(" (", 1)[1].rsplit(") ", 1)
        comm[pid] = name
        ppid[pid] = int(rest.split()[1])
        children.setdefault(ppid[pid], []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        spawning = pid != root and comm.get(pid) == comm.get(ppid.get(pid)) == "java"
        tree[pid] = 0 if spawning else rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return tree


class RssSampler:
    """Peak RSS of this process and all its descendants (driver JVM,
    executor JVMs, Python workers), sampled from /proc every ``period``
    seconds while running."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(process_tree(pid).values()))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, sum(process_tree(os.getpid()).values()))


# ---------------------------------------------------------------------------
# event log -> per-layer metrics
# ---------------------------------------------------------------------------
def _read_events(event_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _descends(span: dict, ancestor: int, by_id: dict) -> bool:
    p = span["parent"]
    while p is not None:
        if p == ancestor:
            return True
        p = by_id[p]["parent"]
    return False


def layer_metrics(event_dir: str, spans: list[dict], iterations: list[dict]) -> dict:
    """Per-layer metrics, each the median over ``iterations`` (spans
    named ``iteration``) of that iteration's total.

    A job belongs to the layer of its job group, or to ``unattributed``
    when it has none."""
    events = _read_events(event_dir)
    by_id = {s["id"]: s for s in spans}
    layer_spans = [s for s in spans if s["name"] in LAYERS]

    def iteration_of(t: float) -> dict | None:
        for it in iterations:
            if it["start"] <= t <= it["end"]:
                return it
        return None

    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            t = e["Submission Time"] / 1000
            group = (props.get("spark.jobGroup.id") or "").split("#")[0]
            layer = group if group in LAYERS else "unattributed"
            jobs[e["Job ID"]] = {"layer": layer, "start": t, "end": t,
                                 "iteration": iteration_of(t)}
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000

    per: dict[tuple[int, str], dict] = {}

    def acc(it: dict, layer: str) -> dict:
        return per.setdefault((it["id"], layer), dict.fromkeys(LAYER_METRICS, 0.0))

    for job in jobs.values():
        if job["iteration"] is not None:
            acc(job["iteration"], job["layer"])["jobs"] += 1
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        job = jobs.get(stage_job.get(e["Stage ID"], -1))
        if job is None or job["iteration"] is None:
            continue
        m = acc(job["iteration"], job["layer"])
        tm = e.get("Task Metrics") or {}
        info = e.get("Task Info") or {}
        m["task_s"] += tm.get("Executor Run Time", 0) / 1000
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1000
        sw = tm.get("Shuffle Write Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        m["shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / MB
        m["spill_mb"] += (
            tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        ) / MB
        m["input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
        m["output_mb"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
        if info.get("Failed") or info.get("Killed"):
            m["task_failures"] += 1

    for it in iterations:
        for layer in LAYERS:
            own = [s for s in layer_spans if s["name"] == layer
                   and it["start"] <= s["start"] <= it["end"]]
            if not own:
                continue
            m = acc(it, layer)
            m["wall_s"] = sum(s["end"] - s["start"] for s in own)
            for s in own:
                # a span is busy while a job of its own layer, or of a
                # span nested in it, runs
                nested = {layer} | {d["name"] for d in layer_spans
                                    if _descends(d, s["id"], by_id)}
                busy = [(j["start"], j["end"]) for j in jobs.values()
                        if j["layer"] in nested and j["iteration"] is it]
                clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in busy
                           if b > s["start"] and a < s["end"]]
                m["driver_s"] += (s["end"] - s["start"]) - _union_length(clipped)

    def median(layer: str, metric: str) -> float:
        return statistics.median(
            per.get((it["id"], layer), {}).get(metric, 0.0) for it in iterations
        )

    out = {f"{lyr}.{m}": median(lyr, m) for lyr in LAYERS for m in LAYER_METRICS}
    # jobs outside any layer mean a call the harness does not span
    out["unattributed.jobs"] = median("unattributed", "jobs")
    return out
