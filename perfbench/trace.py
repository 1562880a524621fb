"""Tracing for the benchmark's traced run.

Three sources, joined after the run:

* Spans. ``Tracer.install`` wraps the program's public entry points
  (``CrawlEngine.run/new_round/forget/result_*``,
  ``SerpPaginationEngine.run`` and every
  ``SnapshotTable.append/overwrite/read/current/snapshots`` call) and
  the DataFrame actions the package itself calls. Each wrapper records
  a span (name, layer, start, end, parent, thread, run id) and, for
  spans that may submit Spark jobs,
  sets the job group of the calling thread to ``<layer>#<span id>``
  and restores it afterwards, so jobs on the engine's overlap threads
  are tagged too.
* The Spark event log: job, stage and task-end events give task time,
  GC, shuffle and I/O bytes, records and Python-exchange bytes per
  job group, and the SQL plans tell which exchanges sit over which
  table scans and which join strategies ran.
* Call sites. A DataFrame action inside the package gets the layer of
  its calling function (``SITE_LAYERS``), or its enclosing span's.

``layer_metrics`` turns spans and parsed events into the per-layer
metrics listed in ``LAYER_METRICS`` (defined in LAYERS.md).
"""

from __future__ import annotations

import itertools
import json
import os
import re
import sys
import threading
import time
from contextlib import contextmanager

from .stats import clip, interval_union

GROUP = "spark.jobGroup.id"
UNATTRIBUTED = "unattributed"

# warehouse table -> layer of its commits
TABLE_LAYERS = {
    "crawl_order": "fetch.meta",
    "entities_raw": "extract",
    "frontier": "frontier.commit",
    "seen_pairs": "frontier.commit",
    "seen": "seen",
    "deleted": "seen",
    "cuckoo": "seen",
    "bloom": "seen",
    "payload_report": "validate",
    "metrics": "loop",
}

# (package file, function) of a DataFrame action -> layer; a None
# function matches the whole file
SITE_LAYERS = {
    ("loop.py", "_sched_for_depth"): "frontier.sched",
    ("loop.py", "run"): "frontier.sched",
    ("loop.py", "_superstep_seeds"): "frontier.expand",
    ("loop.py", "_superstep_depth"): "frontier.expand",
    ("salting.py", None): "frontier.expand",
    ("loop.py", "_update_seen"): "seen",
    ("loop.py", "forget"): "seen",
    ("seen.py", None): "seen",
    ("cuckoo.py", None): "seen",
    ("serp_loop.py", None): "serp",
}

# entry spans whose job group is the fallback for untagged jobs inside them
FALLBACK_SPANS = ("engine.run", "engine.new_round")

_ACTIONS = ("count", "collect", "isEmpty", "toPandas", "localCheckpoint", "first", "take", "head")
_PKG = os.sep + "scrapeulous_spark" + os.sep
_PY_SENT = "data sent to Python workers"
_SHUFFLE_WRITTEN = "shuffle bytes written"
_MB = float(2**20)


def table_layer(table: str, lineage: dict | None) -> str:
    if table == "entities":
        stage = (lineage or {}).get("stage")
        return "extract.dedup" if stage == "finalize" else "extract"
    return TABLE_LAYERS.get(table, "tables")


def site_layer(site: tuple[str, str] | None) -> str | None:
    if site is None:
        return None
    return SITE_LAYERS.get(site) or SITE_LAYERS.get((site[0], None))


def _package_site(frame) -> tuple[str, str, int] | None:
    """(file, function, line) of the innermost frame inside the package."""
    while frame is not None:
        code = frame.f_code
        if _PKG in code.co_filename:
            return os.path.basename(code.co_filename), code.co_name, frame.f_lineno
        frame = frame.f_back
    return None


class Tracer:
    """Span recorder and entry-point wrapper for one traced unit."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.df_class = type(spark.range(1))
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[type, str, object]] = []

    # ------------------------------------------------------------- spans

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, tag: bool = True, **attrs):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        prev = self.sc.getLocalProperty(GROUP) if tag else None
        if tag:
            self.sc.setLocalProperty(GROUP, f"{layer}#{rec['id']}")
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if tag:
                self.sc.setLocalProperty(GROUP, prev)
            self.spans.append(rec)

    def current_layer(self) -> str | None:
        stack = self._stack()
        return stack[-1]["layer"] if stack else None

    def current_name(self) -> str | None:
        stack = self._stack()
        return stack[-1]["name"] if stack else None

    # ------------------------------------------------------------ wrapping

    def _patch(self, cls: type, attr: str, make) -> None:
        orig = cls.__dict__[attr]
        self._patched.append((cls, attr, orig))
        setattr(cls, attr, make(orig))

    def install(self) -> None:
        from scrapeulous_spark.plans.loop import CrawlEngine
        from scrapeulous_spark.plans.serp_loop import SerpPaginationEngine
        from scrapeulous_spark.sources.tables import SnapshotTable

        tracer = self

        def table_write(op):
            def make(orig):
                def wrapper(table, df, lineage=None, partition_by=None):
                    with tracer.span(
                        f"{table.name}.{op}",
                        table_layer(table.name, lineage),
                        table=table.name,
                        lineage=lineage or {},
                    ):
                        return orig(table, df, lineage=lineage, partition_by=partition_by)

                return wrapper

            return make

        def manifest(op):
            def make(orig):
                def wrapper(table, *args, **kwargs):
                    with tracer.span(f"{table.name}.{op}", "tables", tag=False, table=table.name) as rec:
                        out = orig(table, *args, **kwargs)
                        if op == "snapshots":
                            rec["files"] = len(out)
                            rec["dirs"] = len(out[-1]["dirs"]) if out else 0
                        return out

                return wrapper

            return make

        def entry(name, layer):
            def make(orig):
                def wrapper(*args, **kwargs):
                    with tracer.span(name, layer):
                        return orig(*args, **kwargs)

                return wrapper

            return make

        def action(op):
            def make(orig):
                def wrapper(df, *args, **kwargs):
                    site = _package_site(sys._getframe(1))
                    if site is None:
                        return orig(df, *args, **kwargs)
                    layer = site_layer(site[:2])
                    # no call site entry: the enclosing span's layer; under
                    # an entry span alone that is the loop fallback
                    fallback = layer is None and tracer.current_name() in FALLBACK_SPANS
                    layer = layer or tracer.current_layer() or UNATTRIBUTED
                    with tracer.span(op, layer, site="%s:%s:%d" % site, fallback=fallback):
                        return orig(df, *args, **kwargs)

                return wrapper

            return make

        for op in ("append", "overwrite"):
            self._patch(SnapshotTable, op, table_write(op))
        for op in ("read", "current", "snapshots"):
            self._patch(SnapshotTable, op, manifest(op))
        self._patch(CrawlEngine, "run", entry("engine.run", "loop"))
        self._patch(CrawlEngine, "new_round", entry("engine.new_round", "loop"))
        self._patch(CrawlEngine, "forget", entry("engine.forget", "seen"))
        for op in ("result_crawl_order", "result_seen", "result_entities", "result_payload_report"):
            self._patch(CrawlEngine, op, entry(f"engine.{op}", "result"))
        self._patch(SerpPaginationEngine, "run", entry("serp.run", "serp"))
        for op in _ACTIONS:
            if op in self.df_class.__dict__:
                self._patch(self.df_class, op, action(op))

    def uninstall(self) -> None:
        while self._patched:
            cls, attr, orig = self._patched.pop()
            setattr(cls, attr, orig)


# ------------------------------------------------------------ event log


def read_event_log(path: str):
    with open(path) as f:
        for line in f:
            try:
                yield json.loads(line)
            except ValueError:
                continue


def _walk(node):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def _exchange_scan_accums(plans: list[dict]) -> dict[int, set[str]]:
    """Accumulator id of each shuffle Exchange's 'shuffle bytes written'
    -> the scan locations on its map side (down to the next stage)."""
    out: dict[int, set[str]] = {}
    for plan in plans:
        for node in _walk(plan):
            if node.get("nodeName") != "Exchange":
                continue
            acc = next(
                (m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == _SHUFFLE_WRITTEN),
                None,
            )
            if acc is None:
                continue
            locs = out.setdefault(acc, set())
            todo = list(node.get("children", []))
            while todo:
                n = todo.pop()
                name = n.get("nodeName", "")
                if name.endswith("QueryStage") or name in ("Exchange", "ReusedExchange"):
                    continue
                loc = (n.get("metadata") or {}).get("Location")
                if loc:
                    locs.add(loc)
                todo.extend(n.get("children", []))
    return out


_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
          "CartesianProduct")


def scan_label(location: str) -> str:
    """Table name of a scan location: the warehouse table (``.../<table>/data/...``)
    or the input file name."""
    m = re.search(r"/([A-Za-z0-9_]+)/data(?:/|$)", location)
    if m:
        return m.group(1)
    return os.path.basename(location.rstrip("/")).removesuffix(".parquet")


def _side_tables(node) -> str:
    names = set()
    for n in _walk(node):
        loc = (n.get("metadata") or {}).get("Location")
        if loc:
            names.update(scan_label(p) for p in re.findall(r"file:([^,\]\s]+)", loc))
        elif n.get("nodeName", "").startswith(("Scan ExistingRDD", "Scan LocalTableScan", "LocalTableScan")):
            names.add("local")
    return "+".join(sorted(names)) or "-"


def join_strategies(plans) -> dict[str, int]:
    """Joins of the executed plans as ``Strategy[left tables | right tables]``
    -> count, the tables being those scanned under each side; a ``*`` marks
    the side a broadcast join builds."""
    out: dict[str, int] = {}
    for plan in plans:
        for node in _walk(plan):
            name = node.get("nodeName", "")
            if name in _JOINS and len(node.get("children", [])) == 2:
                sides = [_side_tables(c) for c in node["children"]]
                simple = node.get("simpleString", "")
                if "BuildLeft" in simple:
                    sides[0] = "*" + sides[0]
                elif "BuildRight" in simple:
                    sides[1] = "*" + sides[1]
                key = f"{name}[{sides[0]} | {sides[1]}]"
                out[key] = out.get(key, 0) + 1
    return dict(sorted(out.items()))


def parse_events(events) -> dict:
    """Jobs, per-task metric records and SQL plans from event-log dicts."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    tasks: list[dict] = []
    plans: list[dict] = []
    final: dict = {}  # execution id -> (start, last plan)
    for ev in events:
        e = ev.get("Event", "")
        if e == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get(GROUP),
                "submit": ev["Submission Time"] / 1000.0,
                "end": None,
            }
            for s in ev.get("Stage Infos", []):
                stage_group.setdefault(s["Stage ID"], props.get(GROUP))
        elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif e == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            if props.get(GROUP) is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = props[GROUP]
        elif e == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            accums, python_sent = {}, 0.0
            for a in info.get("Accumulables", []):
                try:
                    accums[a["ID"]] = float(a.get("Update") or 0)
                except (TypeError, ValueError):
                    continue
                if a.get("Name") == _PY_SENT:
                    python_sent += accums[a["ID"]]
            tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "launch": (info.get("Launch Time") or 0) / 1000.0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "output_records": (m.get("Output Metrics") or {}).get("Records Written", 0),
                    "python_sent": python_sent,
                    "accums": accums,
                }
            )
        elif e.endswith("SQLExecutionStart") or e.endswith("SQLAdaptiveExecutionUpdate"):
            plans.append(ev["sparkPlanInfo"])
            # the last plan of an execution is the one that ran
            xid = ev.get("executionId")
            start = ev["time"] / 1000.0 if "time" in ev else final.get(xid, (0.0, None))[0]
            final[xid] = (start, ev["sparkPlanInfo"])
    for t in tasks:
        t["group"] = stage_group.get(t["stage"])
    return {
        "jobs": [j for j in jobs.values() if j["end"] is not None],
        "tasks": tasks,
        "exchange_scans": _exchange_scan_accums(plans),
        "final_plans": list(final.values()),
    }


def group_layer(group: str | None) -> str:
    return group.split("#", 1)[0] if group else UNATTRIBUTED


def group_span(group: str | None) -> int | None:
    if not group or "#" not in group:
        return None
    try:
        return int(group.rsplit("#", 1)[1])
    except ValueError:
        return None


# ------------------------------------------------------------ span math


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = interval_union(clip(children.get(s["id"], []), [(s["start"], s["end"])]))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _in(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(a <= t <= b for a, b in windows)


# ------------------------------------------------------- layer metrics

SUPERSTEPS = 3  # seeds plus depths 1 and 2, the deepest any workload goes
SERP_PAGES = 3  # SerpPaginationEngine(num_pages=3) in the analytics workload
# the payload-driven SERP extractors of the catalog; the analytics workload
# checks at start that REGISTRY holds exactly these
PROJ_QUERIES = (
    "proj_amazon_products", "proj_bing_ads", "proj_bing_organic", "proj_bing_pagination",
    "proj_bing_places", "proj_bing_questions", "proj_bing_rev_image", "proj_bing_search_info",
    "proj_bing_shopping", "proj_bing_videos", "proj_google_ads", "proj_google_local_map",
    "proj_google_organic", "proj_google_places", "proj_google_related",
    "proj_google_search_info", "proj_nytimes_headlines", "proj_rev_image_meta",
)

LAYER_METRICS: list[tuple[str, str]] = (
    [("session.start_s", "s"), ("session.warmup_s", "s")]
    + [(f"loop.superstep{k}_s", "s") for k in range(SUPERSTEPS)]
    + [("loop.finalize_s", "s"), ("loop.driver_only_s", "s"), ("loop.fallback_s", "s"),
       ("loop.occupancy", "ratio"), ("loop.jobs", "count")]
    + [("fetch.meta.task_s", "s"), ("fetch.meta.rows", "rows"),
       ("fetch.payload.scan_mb", "MB"), ("fetch.payload.shuffle_mb", "MB")]
    + [("frontier.sched.task_s", "s"), ("frontier.sched.shuffle_mb", "MB"),
       ("frontier.sched.rows", "rows"), ("frontier.scheduled_ratio", "ratio"),
       ("frontier.expand.task_s", "s"), ("frontier.expand.cand_rows", "rows"),
       ("frontier.commit.wall_s", "s")]
    + [("seen.wall_s", "s"), ("seen.task_s", "s"), ("seen.shuffle_mb", "MB"),
       ("seen.cand_rows", "rows"), ("seen.new_rows", "rows"), ("seen.new_ratio", "ratio"),
       ("seen.rows", "rows")]
    + [("extract.task_s", "s"), ("extract.body_mb", "MB"), ("extract.mb_per_task_s", "MB/s"),
       ("extract.matches", "rows"), ("extract.gc_s", "s"), ("extract.dedup.task_s", "s"),
       ("extract.dedup.shuffle_mb", "MB")]
    + [("validate.task_s", "s"), ("validate.images", "count"),
       ("validate.images_per_task_s", "1/s"), ("validate.python_mb", "MB")]
    + [("tables.commits", "count"), ("tables.manifest_s", "s"),
       ("tables.manifest_files_read", "count"), ("tables.read_scans_max", "count"),
       ("tables.written_mb", "MB"), ("tables.warehouse_mb", "MB")]
    + [("exec.task_s", "s"), ("exec.gc_s", "s"), ("exec.shuffle_mb", "MB")]
    + [(f"serp.page{k}_s", "s") for k in range(1, SERP_PAGES + 1)]
    + [("serp.pages", "count"), ("serp.task_s", "s")]
    + [(f"catalog.{q}.wall_s", "s") for q in PROJ_QUERIES]
    + [("catalog.total_s", "s")]
    + [("trace.wall_s", "s"), ("trace.covered_frac", "ratio"), ("trace.unattributed_s", "s")]
)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(
    spans: list[dict],
    parsed: dict,
    windows: list[tuple[float, float]],
    cores: int,
    extra: dict,
) -> dict[str, float]:
    """Per-layer metrics of one traced unit. ``windows`` are its timed
    segments; jobs, tasks and spans outside them are ignored. ``extra``
    carries what the workload measured itself: session.start_s,
    session.warmup_s, seen.rows, tables.warehouse_mb and serp.pages."""
    wall = sum(b - a for a, b in windows)
    jobs = [j for j in parsed["jobs"] if _in(j["submit"], windows)]
    tasks = [t for t in parsed["tasks"] if _in(t["launch"], windows)]
    spans = [s for s in spans if _in(s["start"], windows)]
    by_id = {s["id"]: s for s in spans}

    def task_sum(field: str, layers: tuple[str, ...] | None = None) -> float:
        return sum(
            t[field] for t in tasks if layers is None or group_layer(t["group"]) in layers
        )

    def job_wall(layers: tuple[str, ...]) -> float:
        ivs = [(j["submit"], j["end"]) for j in jobs if group_layer(j["group"]) in layers]
        return interval_union(clip(ivs, windows))

    def records(pred) -> float:
        """Output records of tasks tagged with a span matching pred."""
        total = 0.0
        for t in tasks:
            s = by_id.get(group_span(t["group"]))
            if s is not None and pred(s):
                total += t["output_records"]
        return total

    def scan_shuffle_mb(location: str, layers: tuple[str, ...]) -> float:
        accs = {a for a, locs in parsed["exchange_scans"].items() if any(location in l for l in locs)}
        return sum(
            v
            for t in tasks
            if group_layer(t["group"]) in layers
            for a, v in t["accums"].items()
            if a in accs
        ) / _MB

    def lineage(s: dict) -> dict:
        return s.get("lineage") or {}

    m: dict[str, float] = {}
    m["session.start_s"] = extra["session.start_s"]
    m["session.warmup_s"] = extra["session.warmup_s"]

    # loop: superstep windows per engine.run span (one per round)
    runs = [s for s in spans if s["name"] == "engine.run"]
    writes = [s for s in spans if s["name"].endswith((".append", ".overwrite"))]
    for k in range(SUPERSTEPS):
        total = 0.0
        for r in runs:
            ws = [
                w for w in writes
                if lineage(w).get("superstep") == k and r["start"] <= w["start"] <= r["end"]
            ]
            if ws:
                total += max(w["end"] for w in ws) - min(w["start"] for w in ws)
        m[f"loop.superstep{k}_s"] = total
    fin = 0.0
    for r in runs:
        starts = [
            w["start"] for w in writes
            if lineage(w).get("stage") == "finalize" and r["start"] <= w["start"] <= r["end"]
        ]
        if starts:
            fin += r["end"] - min(starts)
    m["loop.finalize_s"] = fin
    all_jobs = interval_union(clip([(j["submit"], j["end"]) for j in jobs], windows))
    m["loop.driver_only_s"] = wall - all_jobs
    # jobs tagged only because an entry span enclosed them: no table or
    # call site named their layer
    fallback_ids = {s["id"] for s in spans if s["name"] in FALLBACK_SPANS or s.get("fallback")}
    fallback = [j for j in jobs if group_span(j["group"]) in fallback_ids]
    m["loop.fallback_s"] = interval_union(clip([(j["submit"], j["end"]) for j in fallback], windows))
    m["loop.occupancy"] = _ratio(task_sum("run_s"), cores * wall)
    m["loop.jobs"] = float(len(jobs))

    # fetch
    m["fetch.meta.task_s"] = task_sum("run_s", ("fetch.meta",))
    m["fetch.meta.rows"] = records(lambda s: s.get("table") == "crawl_order")
    m["fetch.payload.scan_mb"] = task_sum("input_bytes", ("extract", "frontier.expand")) / _MB
    # the body join of extraction; expansion shuffles its candidates by design
    m["fetch.payload.shuffle_mb"] = scan_shuffle_mb("/pages.parquet", ("extract",))

    # frontier: rows written by expansion commits feed the next scheduling
    # window; the terminal drain's leftovers feed nothing
    expanded = records(
        lambda s: s.get("table") == "frontier" and lineage(s).get("stage") != "drain"
    )
    fetched_deep = records(
        lambda s: s.get("table") == "crawl_order" and lineage(s).get("superstep", 0) >= 1
    )
    m["frontier.sched.task_s"] = task_sum("run_s", ("frontier.sched",))
    m["frontier.sched.shuffle_mb"] = task_sum("shuffle_write", ("frontier.sched",)) / _MB
    m["frontier.sched.rows"] = expanded
    m["frontier.scheduled_ratio"] = _ratio(fetched_deep, expanded)
    m["frontier.expand.task_s"] = task_sum("run_s", ("frontier.expand",))
    m["frontier.expand.cand_rows"] = expanded
    m["frontier.commit.wall_s"] = job_wall(("frontier.commit",))

    # seen: candidates offered = fetched seed rows + expanded frontier rows
    seeds_fetched = records(
        lambda s: s.get("table") == "crawl_order" and lineage(s).get("superstep") == 0
    )
    new_rows = records(lambda s: s.get("table") == "seen")
    m["seen.wall_s"] = job_wall(("seen",))
    m["seen.task_s"] = task_sum("run_s", ("seen",))
    m["seen.shuffle_mb"] = scan_shuffle_mb("/seen/data/", ("seen",))
    m["seen.cand_rows"] = seeds_fetched + expanded
    m["seen.new_rows"] = new_rows
    m["seen.new_ratio"] = _ratio(new_rows, seeds_fetched + expanded)
    m["seen.rows"] = extra["seen.rows"]

    # extract
    ex_task = task_sum("run_s", ("extract",))
    body_mb = task_sum("input_bytes", ("extract",)) / _MB
    m["extract.task_s"] = ex_task
    m["extract.body_mb"] = body_mb
    m["extract.mb_per_task_s"] = _ratio(body_mb, ex_task)
    m["extract.matches"] = records(lambda s: s.get("table") == "entities_raw")
    m["extract.gc_s"] = task_sum("gc_s", ("extract",))
    m["extract.dedup.task_s"] = task_sum("run_s", ("extract.dedup",))
    m["extract.dedup.shuffle_mb"] = task_sum("shuffle_write", ("extract.dedup",)) / _MB

    # validate
    v_task = task_sum("run_s", ("validate",))
    images = records(lambda s: s.get("table") == "payload_report")
    m["validate.task_s"] = v_task
    m["validate.images"] = images
    m["validate.images_per_task_s"] = _ratio(images, v_task)
    m["validate.python_mb"] = task_sum("python_sent", ("validate",)) / _MB

    # tables
    own = self_times(spans)
    manifest = [s for s in spans if s["name"].endswith((".current", ".snapshots"))]
    reads = {s["id"] for s in spans if s["name"].endswith(".read")}
    m["tables.commits"] = float(len(writes))
    m["tables.manifest_s"] = sum(own[s["id"]] for s in manifest)
    m["tables.manifest_files_read"] = float(
        sum(s.get("files", 0) for s in manifest if s["name"].endswith(".snapshots"))
    )
    m["tables.read_scans_max"] = float(
        max((s.get("dirs", 0) for s in manifest if s["parent"] in reads), default=0)
    )
    m["tables.written_mb"] = task_sum("output_bytes") / _MB
    m["tables.warehouse_mb"] = extra["tables.warehouse_mb"]

    # Spark-wide
    m["exec.task_s"] = task_sum("run_s")
    m["exec.gc_s"] = task_sum("gc_s")
    m["exec.shuffle_mb"] = task_sum("shuffle_write") / _MB

    # serp: the pagination's checkpoints in call order are the seed
    # state, then per page the parsed page and the next state (none after
    # the last page); page 1 also holds the seed state
    serp_actions = sorted(
        (s for s in spans if s.get("site", "").startswith("serp_loop.py:")), key=lambda s: s["start"]
    )
    for k in range(1, SERP_PAGES + 1):
        m[f"serp.page{k}_s"] = 0.0
    for i, s in enumerate(serp_actions):
        k = f"serp.page{max(1, (i + 1) // 2)}_s"
        if k in m:
            m[k] += s["end"] - s["start"]
    m["serp.pages"] = extra["serp.pages"]
    m["serp.task_s"] = task_sum("run_s", ("serp",))

    # catalog: the workload's span around each query
    for q in PROJ_QUERIES:
        m[f"catalog.{q}.wall_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == f"catalog.{q}")
    m["catalog.total_s"] = sum(m[f"catalog.{q}.wall_s"] for q in PROJ_QUERIES)

    # coverage: wall = job time attributed to a module layer + job time
    # with only unattributed or fallback jobs in flight + driver-only time
    attributed = interval_union(
        clip(
            [
                (j["submit"], j["end"])
                for j in jobs
                if group_layer(j["group"]) != UNATTRIBUTED and group_span(j["group"]) not in fallback_ids
            ],
            windows,
        )
    )
    unattributed = all_jobs - attributed
    m["trace.wall_s"] = wall
    m["trace.covered_frac"] = _ratio(wall - unattributed, wall)
    m["trace.unattributed_s"] = unattributed
    return m


def layer_shares(parsed: dict, windows: list[tuple[float, float]]) -> dict[str, dict[str, float]]:
    """Each layer's share of the unit's task seconds and of its wall (time
    with one of the layer's jobs in flight; shares of the wall overlap)."""
    wall = sum(b - a for a, b in windows)
    tasks = [t for t in parsed["tasks"] if _in(t["launch"], windows)]
    jobs = [j for j in parsed["jobs"] if _in(j["submit"], windows)]
    total = sum(t["run_s"] for t in tasks)
    layers = sorted({group_layer(t["group"]) for t in tasks} | {group_layer(j["group"]) for j in jobs})
    out = {}
    for layer in layers:
        task_s = sum(t["run_s"] for t in tasks if group_layer(t["group"]) == layer)
        ivs = [(j["submit"], j["end"]) for j in jobs if group_layer(j["group"]) == layer]
        out[layer] = {
            "task_frac": round(_ratio(task_s, total), 4),
            "wall_frac": round(_ratio(interval_union(clip(ivs, windows)), wall), 4),
        }
    return out
