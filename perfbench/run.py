"""Benchmark entry point.

    python3 perfbench/run.py --workload nfl_warehouse --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench/`` in the checkout; one closed-loop client runs
ops for ``--seconds`` seconds after set-up and warm-up, the workload's
correctness gate runs after the window, and the last line of standard
output is one JSON object::

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` reports its per-layer metrics, taken from spans around
each public call, job groups, the status tracker and a Spark event log
enabled only in that run. The spans are written to
``.perfbench/traces/<workload>-<seed>.json``. See NOTES.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import spans  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
MAX_CORES = 4

SETUP_SPANS = (
    "session.start",
    "catalog.load",
    "jobs.rebuild",
    "jobs.append",
    "jobs.upsert",
    "jobs.read",
)
OP_SPANS = (
    "queries.build",
    "queries.exec",
    "plans.build",
    "plans.exec",
    "streaming.batch",
    "streaming.counts_read",
)
LAYERS = ("session", "catalog", "queries", "plans", "jobs", "streaming")
WORKLOAD_LAYER_KEYS = (
    "jobs.rebuild_rows_per_s",
    "jobs.rebuild_files",
    "jobs.appended_rows",
    "jobs.table_files",
    "jobs.table_mb",
    "streaming.txlog_versions",
    "streaming.kept_share",
    "streaming.state_mb.funnel",
    "streaming.state_mb.neardup",
    "streaming.state_mb.near_counts",
    "streaming.state_mb.len_hist",
    "streaming.state_mb.frequent",
)


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(percent, value)``; ``(0, 0)`` when fewer than 11 samples or
    when that percentile does not lie above the median."""
    n = len(samples)
    if n < 11:
        return 0.0, 0.0
    xs = sorted(samples)
    value = xs[n - 11]  # exactly ten samples are larger
    if value <= statistics.median(xs):
        return 0.0, 0.0
    return 100.0 * (n - 10) / n, value


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:7.2f}] {msg}", file=sys.stderr)


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(tr, jobs, n_ops, n_setup) -> dict:
    out = {}
    for name in SETUP_SPANS:
        out[f"{name}_s"] = median_or_zero(tr.durations(name, "setup").values())
    for name in OP_SPANS:
        per_op = tr.durations(name, "op")
        out[f"{name}_s"] = sum(per_op.values()) / n_ops if per_op else 0.0
    spans.attribute_jobs(tr.spans, jobs)
    by_id = {s["id"]: s for s in tr.spans}
    totals = {
        (layer, phase): dict.fromkeys(spans.COUNTERS, 0.0)
        for layer in LAYERS
        for phase in ("setup", "op")
    }
    for s in tr.spans:
        key = (s["name"].split(".")[0], s["phase"])
        if key in totals:
            totals[key]["failed_tasks"] += s.get("failed_tasks", 0)
    for job in jobs:
        s = by_id.get(job["span"])
        key = (s["name"].split(".")[0], s["phase"]) if s else None
        if key in totals:
            for c in spans.COUNTERS:
                if c != "failed_tasks":
                    totals[key][c] += job[c]
    for layer in LAYERS:
        op_spans = any(
            s["phase"] == "op" and s["name"].startswith(layer + ".") for s in tr.spans
        )
        # per op when the layer runs inside ops, else per set-up rep
        src, div = ((layer, "op"), n_ops) if op_spans else ((layer, "setup"), n_setup)
        for c in spans.COUNTERS:
            out[f"{layer}.{c}"] = totals[src][c] / div
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS  # noqa: E402

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload}; have {sorted(WORKLOADS)}")
    # the package must import from the checkout; without it this fails
    # before any result is printed
    from nfl_data_pipeline_spark.operators.hints import drain_gate_events
    from nfl_data_pipeline_spark.session import get_spark

    work = os.path.join(OUT, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CACHE"] = "1"  # catalog.load hot cache
    k = min(MAX_CORES, os.cpu_count() or 1)
    conf = {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(spans.event_log_conf(log_dir))

    host0 = spans.host_stamp()
    # every process Spark starts is stopped and waited for on the way
    # out, also when the run is interrupted or terminated
    spans.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with spans.TreeRss() as rss:
            t0 = time.time()
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{k}]",
                shuffle_partitions=k,
                extra_conf=conf,
            )
            spark.sparkContext.setLogLevel("ERROR")
            tr = spans.Tracer(spark, bool(args.trace))
            tr.spans.append(
                {"id": 0, "name": "session.start", "parent": None, "op": 0,
                 "phase": "setup", "start": t0, "end": time.time()}
            )
            wl = WORKLOADS[args.workload](spark, tr, args.seed, work)
            log(f"session {time.time() - t0:.2f}s")
            rep_times = wl.setup()
            log(f"setup reps {[round(t, 2) for t in rep_times]}")
            tr.phase, tr.op_id = "warmup", None
            for i in range(wl.WARMUP_OPS):
                t = time.perf_counter()
                wl.op(-1 - i)
                log(f"warm-up op {time.perf_counter() - t:.2f}s")
            drain_gate_events()

            tr.phase = "op"
            latencies, failed = [], 0
            t_first = time.perf_counter()
            while time.perf_counter() - t_first < args.seconds:
                tr.op_id = len(latencies) + failed
                t = time.perf_counter()
                try:
                    wl.op(tr.op_id)
                except Exception:  # a failed op is counted; the run goes on
                    traceback.print_exc()
                    failed += 1
                    continue
                latencies.append(time.perf_counter() - t)
            window = time.perf_counter() - t_first
            gates = drain_gate_events()

            log(f"window {window:.2f}s ops {[round(x, 2) for x in latencies]}")
            tr.phase, tr.op_id = "check", None
            t = time.perf_counter()
            problems = wl.check()
            log(f"check {time.perf_counter() - t:.2f}s")
            stored = wl.stored_ratio()
            layer = wl.layer_metrics() if args.trace else {}
            spark.stop()
    finally:
        spans.stop_process_tree()
    host1 = spans.host_stamp()

    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    n_ops = max(1, len(latencies))
    # set-up reps beyond the first are extra work this benchmark adds;
    # setup_s keeps one rep, at the median rep time
    setup_s = (
        t_first - T_PROCESS - sum(rep_times) + statistics.median(rep_times)
    )
    ops_per_s = len(latencies) / window
    host = {
        "host.cpu_ref_s": host0["cpu_ref_s"],
        "host.load1m": host0["load1m"],
        "host.cpu_ref_s_end": host1["cpu_ref_s"],
        "host.load1m_end": host1["load1m"],
    }
    print("host " + json.dumps(host))
    pct, tail_s = tail(latencies)
    if args.trace:
        jobs = spans.parse_event_log(log_dir)
        metrics = per_layer(tr, jobs, n_ops, len(rep_times))
        metrics.update({k_: layer.get(k_, 0.0) for k_ in WORKLOAD_LAYER_KEYS})
        metrics["operators.gate_broadcast"] = sum(
            g["path"] == "broadcast" for g in gates
        ) / n_ops
        metrics["operators.gate_shuffle"] = sum(g["path"] != "broadcast" for g in gates) / n_ops
        metrics.update(host)
        metrics["ops.count"] = len(latencies)
        metrics["ops.tail_pct"] = pct
        metrics["ops.tail_s"] = tail_s
        metrics["trace.ops_per_s"] = ops_per_s
        tr.dump(
            os.path.join(OUT, "traces", f"{args.workload}-{args.seed}.json"),
            {"jobs": jobs, "latencies": latencies, "metrics": metrics},
        )
    else:
        metrics = {
            "setup_s": setup_s,
            "ops_per_s": ops_per_s,
            "op_p50_s": statistics.median(latencies) if latencies else 0.0,
            "peak_rss_mb": rss.peak_mb,
            "stored_bytes_per_user_byte": stored,
        }
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": not problems and bool(latencies),
        "attempted": len(latencies) + failed,
        "failed": failed,
        "metrics": {
            name: {"value": v, "unit": unit_of(name)}
            for name, v in metrics.items()
        },
    }
    print(json.dumps(result))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or ".state_mb." in name:
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith(("_share", "per_user_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
