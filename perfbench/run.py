#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root.  It generates the workload's inputs from
the seed (cached under ``.perfbench_work/``), starts a Spark session and
warms it up with one pass over a smaller input (``setup_s``), then runs
the workload in a closed loop, one client and one iteration at a time,
for ``--seconds`` seconds but at least once, and checks every
iteration's output.  The last line
of stdout is the JSON result; every other file it writes stays under
``.perfbench_work/``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
loop three times, each for a third of the time, in three sessions of one
JVM: untraced, with the Spark event log on, untraced again.  It reports
the per-layer metrics of the traced loop and the tracing overhead: its
median ``wall_s`` minus the mean of the two untraced ones.  Spans of every
run go to ``.perfbench_work/spans/``, and a host tag with the metrics to
``.perfbench_work/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import RssSampler, Spans, inherit_job_groups, layer_metrics, process_tree  # noqa: E402
from workloads import WORKLOADS, clear  # noqa: E402


def host_tag() -> dict:
    """Single-core busy-loop time plus the host's size, so runs made in
    a slow window can be told apart."""
    n = 2_000_000
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    probe = time.perf_counter() - t0
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    import pyspark

    return {"probe_s": probe, "probe_iterations": n, "nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024, "spark": pyspark.__version__}


def session(w, work: str, event_dir: str | None = None):
    """A session from the package's factory, with the harness's own
    settings: master, memory, shuffle width, every directory under
    ``work``, and the event log when tracing."""
    from datapatterns_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a heap committed and touched up front keeps the JVM's share of
        # peak_rss_mb from following when the collector grows the heap
        "spark.driver.extraJavaOptions": f"{java} -Xms2g -XX:+AlwaysPreTouch",
        "spark.eventLog.enabled": "true" if event_dir else "false",
    }
    if event_dir:
        conf["spark.eventLog.dir"] = event_dir
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(f"perfbench-{w.name}", master=w.master, shuffle_partitions=8,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and its JVM, and wait until every process they
    started, Python workers included, has exited."""
    from pyspark import SparkContext

    started = set(process_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{pid}") for pid in started):
        if time.time() > deadline:
            raise RuntimeError("Spark processes still running after stop")
        time.sleep(0.1)


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


def closed_loop(w, spark, spans, inp: dict, seconds: float, out_root: str) -> dict:
    """Run iterations back to back until ``seconds`` have passed, at least
    one, and check each.  Times are medians over the iterations that
    passed, or over all of them when none did."""
    runs: list[dict] = []
    in_bytes = du(inp["path"])
    deadline = time.time() + seconds
    with RssSampler() as rss:
        while not runs or time.time() < deadline:
            out = os.path.join(out_root, f"it{len(runs)}")
            clear(out)
            res: dict = {}
            try:
                with spans.span("iteration") as it:
                    res = w.iteration(spark, spans, inp, out)
                bad = w.check(res, inp["facts"], spark, out)
            except Exception:
                traceback.print_exc()
                bad = ["iteration raised"]
            if bad:
                print(f"perfbench: {w.name} iteration {len(runs) + 1} failed: "
                      + "; ".join(bad[:10]), file=sys.stderr)
            runs.append({"span": it, "ok": not bad, "wall_s": it["end"] - it["start"],
                         "resume_s": res.get("resume_s", 0.0),
                         "out_bytes_per_in_byte": du(out) / in_bytes})
            clear(out)
    passed = [r for r in runs if r["ok"]] or runs
    return {
        "attempted": len(runs),
        "failed": sum(not r["ok"] for r in runs),
        "iterations": [r["span"] for r in passed],
        "peak_rss_mb": rss.peak / (1024 * 1024),
        **{k: statistics.median(r[k] for r in passed)
           for k in ("wall_s", "resume_s", "out_bytes_per_in_byte")},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "datapatterns_spark", "__init__.py")):
        print("perfbench: run from the repository root; datapatterns_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench_work")
    run_id = f"{w.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_root = os.path.join(work, "out", run_id)
    host = host_tag()
    inp, warm = w.inputs(os.path.join(work, "inputs"), args.seed)
    spans = Spans(run_id)

    event_dir = os.path.join(work, "events", run_id)
    spark = None
    traced = after = None
    seconds = args.seconds / 3 if args.trace else args.seconds
    try:
        with inherit_job_groups():
            with spans.span("setup") as sp:
                spark = session(w, work)
                clear(os.path.join(out_root, "warm"))
                w.iteration(spark, spans, warm, os.path.join(out_root, "warm"))
            setup_s = sp["end"] - sp["start"]
            host["jdk"] = spark.sparkContext._jvm.System.getProperty("java.version")
            print(json.dumps({"host": host}))
            plain = closed_loop(w, spark, spans, inp, seconds, out_root)
            if args.trace:
                # traced between two untraced loops, so that the JIT warming
                # up further over the run does not read as negative overhead;
                # the JVM and its JIT and codegen caches outlive a session,
                # so a new session needs no warm-up pass
                clear(event_dir)
                spark.stop()
                spark = session(w, work, event_dir=event_dir)
                traced = closed_loop(w, spark, spans, inp, seconds, out_root)
                spark.stop()  # flushes the event log
                spark = session(w, work)
                after = closed_loop(w, spark, spans, inp, seconds, out_root)
    finally:
        if spark is not None:
            stop(spark)
        spans.dump(os.path.join(work, "spans", f"{run_id}.jsonl"))
        shutil.rmtree(out_root, ignore_errors=True)

    runs = [r for r in (plain, traced, after) if r is not None]
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    if args.trace:
        metrics = {k: (v, "count" if k.endswith((".jobs", ".task_failures")) else
                       "MB" if k.endswith("_mb") else "s")
                   for k, v in layer_metrics(event_dir, spans.rows,
                                             traced["iterations"]).items()}
        untraced = (plain["wall_s"] + after["wall_s"]) / 2
        metrics["trace_overhead_s"] = (traced["wall_s"] - untraced, "s")
        metrics["manifest.resume_s"] = (plain["resume_s"], "s")
        metrics["out_bytes_per_in_byte"] = (plain["out_bytes_per_in_byte"], "ratio")
        metrics["failed_frac"] = (failed / attempted, "ratio")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (plain["wall_s"], "s"),
            "rows_per_s": (inp["facts"]["rows"] / plain["wall_s"], "1/s"),
            "peak_rss_mb": (plain["peak_rss_mb"], "MB"),
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(work, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"run_id": run_id, "host": host, "setup_s": setup_s,
                            "seconds": args.seconds, **result}) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
