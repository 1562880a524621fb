"""Structured Streaming extension tests: each streaming twin, drained
through run_to_files (the drain the stream_*_run catalog queries ship
through), must produce exactly the batch result on the same input."""

import datetime
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from scrapeulous_spark.sources.corpus import SMOKE, ensure_corpus
from scrapeulous_spark.streaming.frontier_stream import run_to_files


def _drain(df, d):
    return run_to_files(df, os.path.join(d, "ck"), os.path.join(d, "out")).collect()


def test_stream_sessionize_matches_batch_sessions(spark):
    """Streaming gap-sessions (session_window + watermark) must equal
    the batch session set for every session the watermark finalizes:
    expected = batch session_window aggregation restricted to sessions
    ending at or before (max_ts - watermark delay)."""
    from scrapeulous_spark.streaming.frontier_stream import stream_sessionize

    src = "/root/testdata/sf0.001/events.parquet"
    batch = spark.read.parquet(src)
    schema = batch.schema
    with tempfile.TemporaryDirectory() as d, tempfile.TemporaryDirectory() as sink:
        # shard the events CHRONOLOGICALLY into stream files (a real
        # stream arrives roughly in event order): a random shard would
        # put the max timestamp in batch 1, advance the watermark to
        # the end, and drop everything after as late data
        tbl = pq.read_table(src)
        order = pa.compute.sort_indices(tbl, sort_keys=[("ts", "ascending")])
        tbl = tbl.take(order)
        n = tbl.num_rows
        for i in range(3):
            pq.write_table(
                tbl.slice(i * n // 3, (i + 1) * n // 3 - i * n // 3),
                os.path.join(d, f"batch_{i}.parquet"),
            )
            # distinct mtimes pin the file-source delivery order
            os.utime(os.path.join(d, f"batch_{i}.parquet"), (1000 + i, 1000 + i))
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
        )
        got = _drain(
            stream_sessionize(stream, gap="30 minutes", watermark="1 hour"), sink
        )

    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - datetime.timedelta(hours=1)
    want = (
        batch.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("s"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
        .filter(F.col("session_end") <= F.lit(cutoff))
        .collect()
    )
    key = lambda r: (r.user_id, r.session_start, r.session_end, r.n_events)
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) > 100  # the cutoff leaves the overwhelming majority

    # cross-check the batch lag-based operator: same per-user session
    # event-count multiset for the finalized sessions' users is implied
    # by the equality above; here just pin that sessions are gap-valid
    for r in got[:50]:
        assert (r.session_end - r.session_start) >= datetime.timedelta(minutes=30)


def test_stream_image_admission_matches_batch(spark):
    """The streaming admission gate (stateless projection twin of
    img_admission_gate) must emit exactly the batch flags for every
    image on the same corpus files, split across micro-batches
    (maxFilesPerTrigger=1 over several input files)."""
    from scrapeulous_spark.operators import load_all_catalogs
    from scrapeulous_spark.streaming.image_stream import (
        read_image_stream,
        stream_image_admission,
    )

    paths = ensure_corpus(SMOKE)
    reg = load_all_catalogs()
    with tempfile.TemporaryDirectory() as d:
        # several files => several micro-batches
        imgs = pq.read_table(paths["images"])
        n = imgs.num_rows
        src = os.path.join(d, "in")
        os.makedirs(src)
        for i, lo in enumerate(range(0, n, 25)):
            pq.write_table(imgs.slice(lo, 25), os.path.join(src, f"part{i}.parquet"))

        stream = read_image_stream(spark, src, max_files_per_trigger=1)
        got_gate = {r.image_id: r for r in _drain(stream_image_admission(stream), d)}
    want_gate = {
        r.image_id: r for r in reg["img_admission_gate"].spark(spark, "x").collect()
    }
    assert set(got_gate) == set(want_gate)
    for iid, w in want_gate.items():
        g = got_gate[iid]
        assert (g.size_ok, g.aspect_ok, g.fmt_ok, g.cap_ok, g.admitted) == (
            w.size_ok, w.aspect_ok, w.fmt_ok, w.cap_ok, w.admitted
        ), iid
    assert 0 < sum(w.admitted for w in want_gate.values()) < n


def test_stream_stream_attribution_interval_join(spark):
    """Stream-stream interval join: responses attribute to the request
    within [event_ts, event_ts + 15s] on the same url; out-of-window
    responses match nothing. Expected set recomputed in Python."""
    from scrapeulous_spark.streaming.frontier_stream import stream_fetch_attribution

    base = datetime.datetime(2024, 1, 1)
    reqs = [(i, f"http://h{i % 3}.example.com/p{i}", base + datetime.timedelta(seconds=i)) for i in range(12)]
    # even requests answered 2s later (inside the 15s window); odd ones
    # answered 40s later (outside); url p0 gets a SECOND response that
    # must also attribute (both inside the window)
    resps = [
        (u, 200, ts + datetime.timedelta(seconds=2))
        for (i, u, ts) in reqs
        if i % 2 == 0
    ] + [
        (u, 503, ts + datetime.timedelta(seconds=40))
        for (i, u, ts) in reqs
        if i % 2 == 1
    ] + [(reqs[0][1], 304, base + datetime.timedelta(seconds=9))]

    rdir, pdir = tempfile.mkdtemp(prefix="req_"), tempfile.mkdtemp(prefix="resp_")
    pq.write_table(
        pa.table(
            {
                "seed_id": pa.array([r[0] for r in reqs], pa.int64()),
                "url": pa.array([r[1] for r in reqs], pa.string()),
                "event_ts": pa.array([r[2] for r in reqs], pa.timestamp("us")),
            }
        ),
        os.path.join(rdir, "reqs.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "url": pa.array([r[0] for r in resps], pa.string()),
                "status": pa.array([r[1] for r in resps], pa.int32()),
                "resp_ts": pa.array([r[2] for r in resps], pa.timestamp("us")),
            }
        ),
        os.path.join(pdir, "resps.parquet"),
    )
    req_schema = "seed_id long, url string, event_ts timestamp"
    resp_schema = "url string, status int, resp_ts timestamp"
    req_stream = spark.readStream.schema(req_schema).parquet(rdir)
    resp_stream = spark.readStream.schema(resp_schema).parquet(pdir)
    joined = stream_fetch_attribution(req_stream, resp_stream)
    with tempfile.TemporaryDirectory() as d:
        got = {(r.seed_id, r.status, r.lag_ms) for r in _drain(joined, d)}
    want = {(i, 200, 2000) for (i, _u, _t) in reqs if i % 2 == 0}
    want.add((0, 304, 9000))  # second in-window response for p0
    assert got == want


def test_stream_stream_timeout_left_outer(spark):
    """Left-outer stream-stream join: requests with no response inside
    the 15s window surface as matched=false once the response
    watermark passes request_ts + max_lag. A far-future flush row on
    the response stream advances the watermark so availableNow drains
    every pending outer row deterministically."""
    from scrapeulous_spark.streaming.frontier_stream import stream_fetch_timeouts

    base = datetime.datetime(2024, 1, 1)
    reqs = [(i, f"http://h.example.com/p{i}", base + datetime.timedelta(seconds=i)) for i in range(8)]
    # only even requests get an in-window response. The GLOBAL watermark
    # is the min across all sources, so BOTH streams need a far-future
    # flush row — it advances the watermark past every deadline and
    # triggers the no-data batch that emits the pending outer rows. The
    # flush request itself stays pending (its own deadline is beyond the
    # watermark) and never surfaces.
    flush_ts = base + datetime.timedelta(hours=2)
    reqs_in = reqs + [(999, "http://flush.example.com/x", flush_ts)]
    resps = [
        (u, 200, ts + datetime.timedelta(seconds=1))
        for (i, u, ts) in reqs
        if i % 2 == 0
    ] + [("http://flush.example.com/y", 0, flush_ts)]

    rdir, pdir = tempfile.mkdtemp(prefix="treq_"), tempfile.mkdtemp(prefix="tresp_")
    pq.write_table(
        pa.table(
            {
                "seed_id": pa.array([r[0] for r in reqs_in], pa.int64()),
                "url": pa.array([r[1] for r in reqs_in], pa.string()),
                "event_ts": pa.array([r[2] for r in reqs_in], pa.timestamp("us")),
            }
        ),
        os.path.join(rdir, "reqs.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "url": pa.array([r[0] for r in resps], pa.string()),
                "status": pa.array([r[1] for r in resps], pa.int32()),
                "resp_ts": pa.array([r[2] for r in resps], pa.timestamp("us")),
            }
        ),
        os.path.join(pdir, "resps.parquet"),
    )
    req_stream = spark.readStream.schema(
        "seed_id long, url string, event_ts timestamp"
    ).parquet(rdir)
    resp_stream = spark.readStream.schema(
        "url string, status int, resp_ts timestamp"
    ).parquet(pdir)
    joined = stream_fetch_timeouts(req_stream, resp_stream)
    with tempfile.TemporaryDirectory() as d:
        got = {(r.seed_id, r.matched, r.status) for r in _drain(joined, d)}
    want = {(i, True, 200) for (i, _u, _t) in reqs if i % 2 == 0}
    want |= {(i, False, None) for (i, _u, _t) in reqs if i % 2 == 1}
    assert got == want


def test_run_to_files_matches_memory_drain_and_handles_empty(spark, tmp_path):
    """The file-sink drain (what the stream_* catalog queries ship
    through) must return exactly the drained rows in both sink modes,
    and tolerate a zero-row drain (no committed files: the explicit
    read schema is what makes the empty directory readable)."""
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3], pa.int64())}), str(src / "a.parquet")
    )
    stream = spark.readStream.schema("k long").parquet(str(src))
    agg = stream.groupBy("k").count()

    filed = {
        (r["k"], r["count"])
        for r in run_to_files(
            agg,
            str(tmp_path / "ck_file"),
            str(tmp_path / "out_complete"),
            output_mode="complete",
        ).collect()
    }
    assert filed == {(1, 1), (2, 1), (3, 1)}

    # append mode through the native parquet sink
    out = run_to_files(
        stream.filter("k > 1"),
        str(tmp_path / "ck_app"),
        str(tmp_path / "out_append"),
        output_mode="append",
    )
    assert {r["k"] for r in out.collect()} == {2, 3}

    # zero-row drain: filter matches nothing -> no data files committed
    empty = run_to_files(
        stream.filter("k > 99"),
        str(tmp_path / "ck_empty"),
        str(tmp_path / "out_empty"),
        output_mode="append",
    )
    assert empty.count() == 0
    assert empty.schema.fieldNames() == ["k"]


def test_run_to_files_rejects_update_mode(tmp_path):
    """update-mode batches carry only the keys CHANGED in that batch,
    so the overwrite-per-batch file materialization would silently drop
    keys updated in earlier micro-batches (round-4 ADVICE,
    frontier_stream.py:227) — run_to_files must refuse it up front."""
    with pytest.raises(ValueError, match="update"):
        run_to_files(
            None, str(tmp_path / "ck"), str(tmp_path / "out"),
            output_mode="update",
        )


def test_stream_sink_root_is_session_scoped():
    """Sink dirs parent under ONE process-lifetime root (registered
    for atexit cleanup) so repeated drains cannot accrete unbounded
    stream_sink_* tempdirs across a long session (round-4 ADVICE,
    catalog_stream.py:181)."""
    import os

    from scrapeulous_spark.operators.catalog_stream import _sink_root

    r1, r2 = _sink_root(), _sink_root()
    assert r1 == r2 and os.path.isdir(r1)
    assert os.path.basename(r1).startswith("stream_sinks_")
