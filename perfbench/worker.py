"""One benchmark run in its own process: prepare inputs, set up and warm
a Spark session, run timed units for the requested seconds (or, with
--trace 1, trace the same unit and the workload's traced passes), and
write a JSON result.

Started by perfbench/run.py, which owns the process tree, the
timeout and the peak-RSS sampling:

    python3 -m perfbench.worker --workload NAME --seed N --seconds S --trace 0|1 --out PATH
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import sys
import time
import traceback

PROCESS_START = time.time()

from . import inputs as I  # noqa: E402
from .workloads import WORKLOADS, Meter, no_span, restore_conf  # noqa: E402


def host() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "cores": len(os.sched_getaffinity(0)),
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
    }


def session_conf(h: dict, event_dir: str | None = None) -> dict:
    conf = {
        # well below MemTotal: the package default (24g) exceeds small hosts
        "spark.driver.memory": f"{min(3072, h['mem_total_mb'] // 4)}m",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file:{event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(h: dict, name: str, event_dir: str | None = None):
    from scrapeulous_spark.session import get_spark

    return get_spark(cpus=h["cores"], app_name=f"perfbench_{name}", extra_conf=session_conf(h, event_dir))


def run(args) -> dict:
    h = host()
    tmp = os.path.join(I.STATE, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    # a traced run keeps the event log on from the start; its traced unit
    # takes the place of the first timed unit, so it runs the same work
    event_dir = os.path.join(tmp, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    w = WORKLOADS[args.workload](tmp)
    # workloads whose layers a traced run of this one measures too
    passes = [p(tmp) for p in w.traced_passes] if args.trace else []
    t = time.time()
    for x in [w] + passes:
        x.prepare(args.seed)
    prepare_s = time.time() - t

    # set-up: session start plus warm-up, timed from process start
    # (interpreter, imports, JVM launch) minus the cached input
    # generation above. Once per run: a second set-up in the same
    # process would reuse the warm JVM and measure something else.
    spark = start_session(h, args.workload, event_dir)
    scaled = w.configure(spark)
    t1 = time.time()
    w.warmup(spark)
    start_s = t1 - PROCESS_START - prepare_s
    warmup_s = time.time() - t1
    setup = {"start_s": start_s, "warmup_s": warmup_s, "total_s": start_s + warmup_s}

    # timed units until --seconds of correct units, at least one; a failed
    # unit is counted and followed by another, up to two failures
    units = []
    while not args.trace:
        good = [u["unit_wall_s"] for u in units if u["ok"]]
        if good and sum(good) >= args.seconds:
            break
        if w.max_units is not None and len(units) >= w.max_units:
            break
        meter = Meter()
        try:
            u = w.unit(spark, meter)
        except Exception:  # a failed unit is counted, not fatal
            traceback.print_exc()
            u = {"ok": False, "problems": ["raised"], "unit_wall_s": meter.wall_s, "items": 0}
        u.update(cpu_s=meter.cpu_s, windows=meter.windows)
        units.append(u)
        if not u["ok"]:
            sys.stderr.write(f"unit {len(units)} failed its output check: {u['problems']}\n")
            if sum(1 for x in units if not x["ok"]) >= 2:
                break

    conf = dict(spark.sparkContext.getConf().getAll())
    versions = {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
    traced = []
    if args.trace:
        traced.append(traced_unit(spark, args, w))
        restore_conf(spark, scaled)
        for p in passes:
            p.warmup(spark)
            traced.append(traced_unit(spark, args, p))
    spark.stop()  # also flushes the event log
    import pyspark

    versions["pyspark"] = pyspark.__version__
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "host": h,
        "versions": versions,
        "spark_conf": {k: v for k, v in sorted(conf.items()) if k.startswith(("spark.sql", "spark.driver.memory", "spark.master", "spark.scheduler", "spark.local"))},
        "scaled_conf": scaled,
        "inputs": {x.name: x.record for x in [w] + passes},
        "prepare_s": prepare_s,
        "setup": setup,
        "units": units,
    }
    if args.trace:
        result["trace"] = trace_metrics(traced, event_dir, h, setup)
    shutil.rmtree(tmp, ignore_errors=True)
    return result


def traced_unit(spark, args, w) -> dict:
    """One unit of w with the entry points wrapped. Its walls never feed
    the end-to-end metrics."""
    from .trace import Tracer

    run_id = f"{args.workload}-{w.name}-{args.seed}-{os.getpid()}"
    tracer = Tracer(spark, run_id)
    w.span = tracer.span
    tracer.install()
    meter = Meter()
    try:
        u = w.unit(spark, meter)
    finally:
        tracer.uninstall()
        w.span = no_span
    # spans are kept in memory during the run and written out at its end
    spans_path = os.path.join(I.STATE, "results", f"{run_id}-spans.json")
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    with open(spans_path, "w") as f:
        json.dump(tracer.spans, f)
    return {"workload": w, "unit": u, "windows": meter.windows, "spans": tracer.spans}


def trace_metrics(traced: list[dict], event_dir: str, h: dict, setup: dict) -> dict:
    """Per-layer metrics of the traced units: every layer from the first
    (the run's own workload), and from each further one (a traced pass)
    the layers it is there for."""
    from .trace import join_strategies, layer_metrics, layer_shares, parse_events, read_event_log

    (log,) = glob.glob(os.path.join(event_dir, "*"))
    parsed = parse_events(read_event_log(log))
    metrics: dict[str, float] = {}
    units = []
    for i, t in enumerate(traced):
        u = t["unit"]
        extra = {
            "session.start_s": setup["start_s"],
            "session.warmup_s": setup["warmup_s"],
            "seen.rows": float(u.get("seen_rows", 0)),
            "tables.warehouse_mb": float(u.get("warehouse_mb", 0.0)),
            "serp.pages": float(u.get("serp_pages", 0)),
        }
        m = layer_metrics(t["spans"], parsed, t["windows"], h["cores"], extra)
        metrics.update(m if i == 0 else {k: v for k, v in m.items() if k.startswith(t["workload"].layers)})
        units.append(
            {
                "workload": t["workload"].name,
                "unit": u,
                "windows": t["windows"],
                "shares": layer_shares(parsed, t["windows"]),
                "joins": join_strategies(
                    plan for start, plan in parsed["final_plans"] if any(a <= start <= b for a, b in t["windows"])
                ),
            }
        )
    return {"jobs": len(parsed["jobs"]), "units": units, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    result = run(args)
    tmp = f"{args.out}.tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
