"""Spark-free tests of the benchmark's own logic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs as I  # noqa: E402
from perfbench import trace as T  # noqa: E402
from perfbench.stats import clip, interval_union, median, quartiles, spread  # noqa: E402

# ------------------------------------------------------------------ stats


def test_median_and_quartiles_match_statistics_module():
    values = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.9, 7.0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert quartiles(values) == (q1, q2, q3)
    assert median(values) == statistics.median(values)
    assert spread(values) == (q3 - q1) / q2
    assert quartiles([2.5]) == (2.5, 2.5, 2.5)


def test_interval_union_merges_overlaps_and_clip_cuts_to_windows():
    assert interval_union([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4.0
    assert interval_union([]) == 0.0
    assert clip([(0, 10), (12, 14)], [(2, 4), (13, 20)]) == [(2, 4), (13, 14)]


# ------------------------------------------------------------- hashing


def test_rows_digest_is_order_insensitive_and_matches_the_spark_formula():
    rows = [(1, 0, "http://h0.example.com/p1", 0), (1, 1, "http://h0.example.com/p2", 1)]
    a, b = I.rows_digest(rows), I.rows_digest(reversed(rows))
    assert a == b and a["rows"] == 2
    key = "1\x1f0\x1fhttp://h0.example.com/p1\x1f0"
    # conv(substring(md5(key), 1, 15), 16, 10) on the Spark side
    assert I.key_hash(key) == int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
    assert int(a["sum"]) == sum(I.key_hash("\x1f".join(map(str, r))) for r in rows)


# ------------------------------------------------------- layer mapping


def test_table_and_site_layers():
    assert T.table_layer("crawl_order", {"superstep": 0}) == "fetch.meta"
    assert T.table_layer("entities", {"stage": "finalize"}) == "extract.dedup"
    assert T.table_layer("entities", {"stage": "seed_entities"}) == "extract"
    assert T.table_layer("cuckoo", None) == "seen"
    assert T.table_layer("something_new", None) == "tables"
    assert T.site_layer(("loop.py", "_sched_for_depth")) == "frontier.sched"
    assert T.site_layer(("salting.py", "detect_hot_hosts")) == "frontier.expand"
    assert T.site_layer(("loop.py", "unknown_fn")) is None
    assert T.site_layer(None) is None


def test_package_site_finds_the_innermost_package_frame():
    fake = os.path.join(os.sep, "x", "scrapeulous_spark", "plans", "loop.py")
    ns = {"T": T, "sys": sys}
    exec(compile("def _sched_for_depth():\n    return T._package_site(sys._getframe())\n", fake, "exec"), ns)
    assert ns["_sched_for_depth"]() == ("loop.py", "_sched_for_depth", 2)
    assert T._package_site(sys._getframe()) is None  # this file is not in the package


# ------------------------------------------------------------- spans


def _span(sid, name, layer, start, end, parent=None, **attrs):
    return {"id": sid, "name": name, "layer": layer, "parent": parent, "thread": 1,
            "run": "r", "start": start, "end": end, **attrs}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, "engine.run", "loop", 0.0, 10.0),
        _span(2, "seen.append", "seen", 1.0, 4.0, parent=1),
        _span(3, "seen.current", "tables", 3.0, 5.0, parent=1),  # overlaps span 2
        _span(4, "seen.snapshots", "tables", 3.5, 4.5, parent=3),
        _span(5, "late", "loop", 9.0, 12.0, parent=1),  # runs past its parent
    ]
    own = T.self_times(spans)
    assert own[1] == 10.0 - (4.0 + 1.0)  # children cover [1,5] and [9,10]
    assert own[3] == 2.0 - 1.0
    assert own[2] == 3.0 and own[4] == 1.0


# ---------------------------------------------------------- event log


def _job(jid, group, sub, end, stages):
    props = {} if group is None else {T.GROUP: group}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": sub * 1000,
         "Properties": props, "Stage Infos": [{"Stage ID": s} for s in stages]},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end * 1000},
    ]


def _task(stage, launch, run_s, **kw):
    accums = [{"ID": a, "Name": n, "Update": v} for a, n, v in kw.pop("accums", [])]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch * 1000, "Accumulables": accums},
        "Task Metrics": {
            "Executor Run Time": run_s * 1000, "JVM GC Time": kw.get("gc_s", 0) * 1000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": kw.get("shuffle", 0)},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Input Metrics": {"Bytes Read": kw.get("input", 0)},
            "Output Metrics": {"Bytes Written": kw.get("out_bytes", 0),
                               "Records Written": kw.get("records", 0)},
        },
    }


def _plan_event(exchange_acc, location):
    plan = {
        "nodeName": "AdaptiveSparkPlan", "metrics": [], "children": [{
            "nodeName": "Exchange",
            "metrics": [{"name": "shuffle bytes written", "accumulatorId": exchange_acc}],
            "children": [{"nodeName": "Project", "metrics": [], "children": [{
                "nodeName": "Scan parquet ", "metrics": [], "children": [],
                "metadata": {"Location": location},
            }]}],
        }],
    }
    return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "sparkPlanInfo": plan}


def synthetic_events():
    """A crawl superstep in miniature, times in seconds from 100:
    job 1  [100,104] fetch.meta     crawl_order append (span 11)
    job 2  [102,108] extract        FAIR pool, overlaps job 1 (span 12)
    job 3  [103,106] seen           seen append, shuffles the seen scan (span 13)
    job 4  [109,110] frontier.sched action span tagged by call site (span 14)
    job 5  [111,112] no job group   unattributed
    job 6  [112.5,113.5] loop       only the engine.run span encloses it (fallback)
    job 0  [ 90, 95] warm-up job    outside the window
    window [100,115]: jobs cover [100,108] + [109,110] + [111,112] + [112.5,113.5]
    """
    ev = []
    ev += _job(0, "loop#1", 90, 95, [0])
    ev += _job(1, "fetch.meta#11", 100, 104, [1])
    ev += _job(2, "extract#12", 102, 108, [2])
    ev += _job(3, "seen#13", 103, 106, [3])
    ev += _job(4, "frontier.sched#14", 109, 110, [4])
    ev += _job(5, None, 111, 112, [5])
    ev += _job(6, "loop#10", 112.5, 113.5, [6])
    ev.append(_plan_event(77, "InMemoryFileIndex(1 paths)[file:/wh/seen/data/abc]"))
    ev += [
        _task(0, 91, 50.0),
        _task(1, 100.1, 2.0, records=300),
        _task(2, 102.1, 8.0, gc_s=1.0, input=2**20 * 4, records=40),
        _task(3, 103.1, 3.0, shuffle=2**20, records=25, accums=[(77, "shuffle bytes written", 2**20 * 2)]),
        _task(4, 109.1, 1.0),
        _task(5, 111.1, 0.5),
        _task(6, 112.6, 0.5),
    ]
    return ev


def synthetic_spans():
    return [
        _span(10, "engine.run", "loop", 100.0, 114.0),
        _span(11, "crawl_order.append", "fetch.meta", 100.0, 104.2, parent=10,
              table="crawl_order", lineage={"superstep": 0}),
        _span(12, "entities_raw.append", "extract", 102.0, 108.1,
              table="entities_raw", lineage={"superstep": 0}),
        _span(13, "seen.append", "seen", 103.0, 106.1, parent=10,
              table="seen", lineage={"superstep": 0}),
        _span(14, "count", "frontier.sched", 109.0, 110.1, parent=10, site="loop.py:_sched_for_depth:529"),
        _span(15, "seen.snapshots", "tables", 103.0, 103.2, parent=16, files=3, dirs=3),
        _span(16, "seen.read", "tables", 103.0, 103.3, parent=13),
        _span(1, "warmup", "loop", 90.0, 95.0),
    ]


def test_parse_events_tags_jobs_tasks_and_seen_exchanges():
    parsed = T.parse_events(synthetic_events())
    groups = {j["group"] for j in parsed["jobs"]}
    assert groups == {"loop#1", "fetch.meta#11", "extract#12", "seen#13", "frontier.sched#14", "loop#10", None}
    assert {t["group"] for t in parsed["tasks"] if t["stage"] == 3} == {"seen#13"}
    assert any("/seen/data/" in loc for loc in parsed["exchange_scans"][77])


EXTRA = {"session.start_s": 6.0, "session.warmup_s": 20.0, "seen.rows": 1000.0,
         "tables.warehouse_mb": 1.5, "serp.pages": 0.0}


def test_layer_metrics_attribute_overlapping_and_untagged_jobs():
    m = T.layer_metrics(synthetic_spans(), T.parse_events(synthetic_events()),
                        [(100.0, 115.0)], cores=4, extra=EXTRA)
    assert m["trace.wall_s"] == 15.0
    assert m["loop.jobs"] == 6  # the warm-up job is outside the window
    # job time [100,108] + [109,110] + [111,112] + [112.5,113.5] = 11 s;
    # the rest is driver-only
    assert m["loop.driver_only_s"] == 4.0
    # job 6 is tagged only by the engine.run span around it
    assert m["loop.fallback_s"] == 1.0
    # neither job 5 (no group) nor job 6 (fallback) counts as covered
    assert m["trace.unattributed_s"] == 2.0
    assert abs(m["trace.covered_frac"] - 13.0 / 15.0) < 1e-9
    # overlapping FAIR-pool jobs keep their own layers
    assert m["seen.wall_s"] == 3.0
    assert m["fetch.meta.task_s"] == 2.0 and m["extract.task_s"] == 8.0
    assert m["frontier.sched.task_s"] == 1.0
    assert m["exec.task_s"] == 15.0  # warm-up task excluded
    assert m["extract.gc_s"] == 1.0 and m["extract.body_mb"] == 4.0
    assert m["extract.mb_per_task_s"] == 0.5
    assert m["extract.matches"] == 40 and m["fetch.meta.rows"] == 300
    assert m["seen.new_rows"] == 25 and m["seen.cand_rows"] == 300
    assert abs(m["seen.new_ratio"] - 25 / 300) < 1e-12
    # only the exchange over the seen scan counts, not all seen shuffles
    assert m["seen.shuffle_mb"] == 2.0
    assert m["exec.shuffle_mb"] == 1.0
    assert m["loop.superstep0_s"] == 108.1 - 100.0
    assert m["tables.commits"] == 3 and m["tables.read_scans_max"] == 3
    assert m["tables.manifest_files_read"] == 3
    assert abs(m["loop.occupancy"] - 15.0 / (4 * 15.0)) < 1e-12
    assert m["session.start_s"] == 6.0
    assert set(m) == {name for name, _unit in T.LAYER_METRICS}


def test_action_span_under_an_entry_span_alone_is_fallback():
    spans = synthetic_spans() + [
        _span(17, "count", "loop", 112.5, 113.6, parent=10, site="loop.py:helper:9", fallback=True)
    ]
    events = [e for e in synthetic_events() if e.get("Job ID") != 6]
    events += _job(6, "loop#17", 112.5, 113.5, [6])
    m = T.layer_metrics(spans, T.parse_events(events), [(100.0, 115.0)], cores=4, extra=EXTRA)
    assert m["loop.fallback_s"] == 1.0 and m["trace.unattributed_s"] == 2.0


def test_layer_shares_split_task_seconds_and_wall_by_layer():
    shares = T.layer_shares(T.parse_events(synthetic_events()), [(100.0, 115.0)])
    assert shares["extract"] == {"task_frac": round(8.0 / 15.0, 4), "wall_frac": round(6.0 / 15.0, 4)}
    assert shares["unattributed"]["task_frac"] == round(0.5 / 15.0, 4)
    assert abs(sum(s["task_frac"] for s in shares.values()) - 1.0) < 1e-3


def test_serp_pages_and_catalog_walls_from_spans():
    spans = [_span(20, "serp.run", "serp", 200.0, 212.0)]
    # seed state, then per page the parsed page and the next state
    for i, (a, b) in enumerate([(200, 201), (201, 203), (203, 204), (204, 207), (207, 208), (208, 211)]):
        spans.append(_span(21 + i, "localCheckpoint", "serp", a, b, parent=20, site=f"serp_loop.py:run:{i}"))
    spans += [_span(30, "catalog.proj_bing_ads", "catalog", 190.0, 190.5),
              _span(31, "catalog.proj_google_ads", "catalog", 190.5, 191.25)]
    parsed = {"jobs": [], "tasks": [], "exchange_scans": {}}
    m = T.layer_metrics(spans, parsed, [(189.0, 212.0)], cores=4, extra={**EXTRA, "serp.pages": 36.0})
    assert (m["serp.page1_s"], m["serp.page2_s"], m["serp.page3_s"]) == (4.0, 4.0, 3.0)
    assert m["serp.pages"] == 36.0
    assert m["catalog.proj_bing_ads.wall_s"] == 0.5 and m["catalog.total_s"] == 1.25


def _join_plan(xid, t, name, left_loc, right_loc):
    def scan(loc):
        return {"nodeName": "Scan parquet ", "children": [], "metadata": {"Location": loc}}

    return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
            "executionId": xid, **({"time": t * 1000} if t else {}),
            "sparkPlanInfo": {"nodeName": "AdaptiveSparkPlan", "children": [
                {"nodeName": name, "children": [
                    {"nodeName": "ShuffleQueryStage", "children": [scan(left_loc)]},
                    {"nodeName": "Project", "children": [scan(right_loc)]}]}]}}


def test_join_strategies_name_each_side_by_its_scanned_tables():
    assert T.scan_label("/w/wh-1/seen/data/snap-3/part-0.parquet") == "seen"
    assert T.scan_label("/c/store/pages.parquet") == "pages"
    seen = "InMemoryFileIndex(2 paths)[file:/w/seen/data/a, file:/w/seen/data/b]"
    events = [
        _join_plan(1, 100.0, "BroadcastHashJoin", "InMemoryFileIndex(1 paths)[file:/c/pages.parquet]",
                   "InMemoryFileIndex(1 paths)[file:/w/frontier/data/x]"),
        # a later plan of the same execution replaces the first
        _join_plan(1, None, "SortMergeJoin", "InMemoryFileIndex(1 paths)[file:/w/frontier/data/x]", seen),
        _join_plan(2, 101.0, "SortMergeJoin", "InMemoryFileIndex(1 paths)[file:/w/frontier/data/y]", seen),
        _join_plan(3, 102.0, "BroadcastHashJoin", "InMemoryFileIndex(1 paths)[file:/w/frontier/data/y]", seen),
    ]
    events[-1]["sparkPlanInfo"]["children"][0]["simpleString"] = "BroadcastHashJoin [url#1], [url#2], LeftAnti, BuildRight, false"
    plans = T.parse_events(events)["final_plans"]
    assert [start for start, _plan in plans] == [100.0, 101.0, 102.0]
    assert T.join_strategies(p for _s, p in plans) == {
        "SortMergeJoin[frontier | seen]": 2, "BroadcastHashJoin[frontier | *seen]": 1}


# ---------------------------------------------------------- inputs


def test_parse_bytes_reads_spark_size_strings():
    assert I.parse_bytes("64m") == 64 * 2**20
    assert I.parse_bytes("1747k") == 1747 * 2**10
    assert I.parse_bytes("16MB") == 16 * 2**20
    assert I.parse_bytes("10485760") == 10485760


def test_frame_digest_treats_spark_and_duckdb_nulls_alike():
    import pandas as pd

    a = pd.DataFrame({"b": [1.0, float("nan")], "a": ["x", None]})
    b = pd.DataFrame({"a": [None, "x"], "b": pd.array([None, 1], dtype="Int64")})
    assert I.frame_digest(a)["cols"] == ["a", "b"]
    assert I.frame_digest(a)["rows"] == 2
    assert I.frame_digest(a) == I.frame_digest(b.astype({"b": "float64"}))
    assert I.canon_cell(pd.NA) == I.canon_cell(None) == "NULL"


def test_relabeled_serps_keep_next_links_inside_their_copy(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    def page(kw, n, nxt):
        q = kw.replace(" ", "+")
        body = f'<a id="pnnext" href="https://g/search?q={q}&amp;start={10 * nxt}">n</a>' if nxt else "-"
        return {"url": f"https://g/search?q={q}&start={10 * n}", "engine": "google", "keyword": kw,
                "page_num": n + 1, "body": body}

    rows = [page("ab cd", 0, 1), page("ab cd", 1, None), page("ab", 0, None),
            {"url": "https://b/search?q=ab+cd&first=1", "engine": "bing", "keyword": "ab cd",
             "page_num": 1, "body": ""}]
    src = str(tmp_path / "src.parquet")
    pq.write_table(pa.Table.from_pylist(rows), src)
    out = I.relabeled_serps(src, str(tmp_path / "out.parquet"), copies=2, seed=7)
    assert len(out) == 6 and all(r["engine"] == "google" for r in out)
    urls = {r["url"] for r in out}
    assert "https://g/search?q=ab+cd+c1s7&start=0" in urls
    assert "https://g/search?q=ab+c0s7&start=0" in urls
    for r in out:
        if "pnnext" in r["body"]:
            nxt = r["body"].split('href="')[1].split('"')[0].replace("&amp;", "&")
            assert nxt in urls and nxt.split("&")[0] == r["url"].split("&")[0]
    assert pq.read_table(str(tmp_path / "out.parquet")).num_rows == 6


def test_tracing_overhead_compares_medians_of_the_same_unit():
    from perfbench.summary import tracing_overhead

    assert tracing_overhead([11.0, 12.0, 13.0], [10.0, 10.0, 11.0]) == 12.0 / 10.0 - 1.0
    assert tracing_overhead([], [10.0]) is None


# --------------------------------------------------------- contract


def test_benchmark_json_lists_exactly_the_reported_metrics():
    from perfbench.run import E2E_METRICS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == E2E_METRICS
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == T.LAYER_METRICS
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


# ------------------------------------------------------------ processes

_ESCAPE = r"""
import os, subprocess, sys, time
sys.path.insert(0, sys.argv[1])
from perfbench.proc import become_subreaper, stop_descendants, tree_pids
become_subreaper()
# a child that starts a grandchild in a session of its own (as PySpark's
# daemon leaves the JVM's group), then exits: the grandchild is orphaned
child = subprocess.Popen([sys.executable, "-c",
    "import subprocess, sys; p = subprocess.Popen(['sleep', '60'], stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, start_new_session=True); print(p.pid)"],
    stdout=subprocess.PIPE, text=True)
grandchild = int(child.stdout.readline())
child.wait()
found = grandchild in tree_pids(os.getpid())
stopped = stop_descendants(5.0)
gone = not os.path.exists(f"/proc/{grandchild}")
if not gone:
    os.kill(grandchild, 9)
print(found, stopped, gone)
"""


def test_stop_descendants_finds_and_stops_processes_that_left_the_group():
    out = subprocess.run([sys.executable, "-c", _ESCAPE, ROOT], capture_output=True, text=True, timeout=30)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["True", "True", "True"]
