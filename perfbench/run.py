"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Runs one workload (crawl_wide or recrawl_deep) in a worker
process of its own process group, samples the peak RSS of the worker's
process tree from outside, and prints as the last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics of a
traced run (--trace 1). The line before it is the full run record,
which is also kept under .perfbench/results/. A worker that exits
non-zero or times out has its whole process tree killed, the end of
its log printed to stderr, and makes this command exit 1 with no
result line. Every run ends with no process of its tree left: this
command is the subreaper of the tree, so processes that leave the
worker's group (PySpark's Python daemon) are found and stopped too.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.proc import become_subreaper, stop_descendants, tree_rss_mb  # noqa: E402
from perfbench.stats import median  # noqa: E402
from perfbench.trace import LAYER_METRICS  # noqa: E402

E2E_METRICS = [
    ("setup_s", "s"),
    ("unit_wall_s", "s"),
    ("crawl_urls_per_s", "URLs/s"),
    ("cpu_s", "CPU-s"),
    ("peak_rss_mb", "MB"),
]
TIMEOUT_S = 175.0  # every run must end within 180 s
COLD_TIMEOUT_S = 880.0  # the first run of a workload in a checkout builds its caches
SAMPLE_EVERY_S = 0.2


class RssSampler(threading.Thread):
    """Samples the RSS of a process tree until stopped."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.samples: list[tuple[float, float]] = []
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(SAMPLE_EVERY_S):
            self.samples.append((time.time(), tree_rss_mb(self.pid)))

    def stop(self) -> None:
        self._done.set()
        self.join()

    def peak(self, windows: list[tuple[float, float]]) -> float:
        inside = [r for t, r in self.samples if any(a <= t <= b for a, b in windows)]
        if inside:
            return max(inside)
        # a segment shorter than the sampling period: take the nearest sample
        mid = windows[0][0]
        return min(self.samples, key=lambda s: abs(s[0] - mid))[1]


def _tail(path: str, n: int = 40) -> str:
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def e2e_metrics(result: dict, sampler: RssSampler) -> dict[str, float]:
    units = [u for u in result["units"] if u["ok"]] or result["units"]
    return {
        "setup_s": result["setup"]["total_s"],
        "unit_wall_s": median([u["unit_wall_s"] for u in units]),
        "crawl_urls_per_s": median([u["items"] / max(u["unit_wall_s"], 1e-9) for u in units]),
        "cpu_s": median([u["cpu_s"] for u in units]),
        "peak_rss_mb": median([sampler.peak(u["windows"]) for u in units]),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "scrapeulous_spark")):
        sys.stderr.write(f"scrapeulous_spark not found under {ROOT}: run from a repository checkout\n")
        return 2

    state = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(state, "tmp")
    for d in ("results", "logs", "tmp", "cache"):
        os.makedirs(os.path.join(state, d), exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out = os.path.join(state, "results", f"{stem}.json")
    log = os.path.join(state, "logs", f"{stem}.log")
    ready = os.path.join(state, "cache", f"ready-{args.workload}")

    # the JVM and Python temporary files of this run, removed after it
    run_tmp = os.path.join(tmp, f"sup-{os.getpid()}")
    os.makedirs(run_tmp)
    env = dict(os.environ)
    env.update(
        TMPDIR=run_tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_tmp, "spark-local"),
        SPARK_GRAFT_CACHE=os.path.join(state, "cache", "pkg"),
        PYTHONPATH=os.pathsep.join([ROOT] + [x for x in [env.get("PYTHONPATH")] if x]),
        SPARK_SUBMIT_OPTS=f"{env.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={run_tmp} -XX:-UsePerfData".strip(),
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
    ]
    timeout = TIMEOUT_S if os.path.exists(ready) else COLD_TIMEOUT_S
    become_subreaper()
    # a SIGTERM or SIGINT unwinds through the clean-up below
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))
    rc, stopped = None, True
    with open(log, "w") as logf:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        finally:
            for sig in (signal.SIGTERM, signal.SIGINT):
                signal.signal(sig, signal.SIG_IGN)
            sampler.stop()
            # the worker's group holds the JVM; PySpark's Python daemon and
            # its workers leave it, so every descendant is stopped as well
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            stopped = stop_descendants()
            # a killed worker leaves its warehouses and shuffle files behind
            shutil.rmtree(os.path.join(tmp, f"run-{proc.pid}"), ignore_errors=True)
            shutil.rmtree(run_tmp, ignore_errors=True)
    if rc != 0 or not stopped:
        why = (
            f"timed out after {timeout:.0f}s" if rc is None
            else f"exited with code {rc}" if rc != 0
            else "left processes that did not end within 10 s"
        )
        sys.stderr.write(f"worker {why}; end of its log:\n{_tail(log)}")
        return 1

    with open(out) as f:
        result = json.load(f)
    units = result["units"]
    failed = sum(1 for u in units if not u["ok"])
    attempted = len(units)
    if args.trace:
        tr = result["trace"]
        attempted += len(tr["units"])
        failed += sum(1 for t in tr["units"] if not t["unit"]["ok"])
        values, names = tr["metrics"], LAYER_METRICS
    else:
        values, names = e2e_metrics(result, sampler), E2E_METRICS
    result["metrics"] = {n: {"value": values[n], "unit": u} for n, u in names}
    with open(out, "w") as f:
        json.dump(result, f)
    if not failed:
        open(ready, "w").close()
    print(json.dumps(result))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": result["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
