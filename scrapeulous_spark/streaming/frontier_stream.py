"""Structured Streaming twins of batch catalog operators.

The reference is batch-iterative (SURVEY.md §2.8) — no watermarks or
event-time windows exist in it — so streaming is an ENGINE EXTENSION:
the natural deployment shape when fetch events arrive continuously
(the cloud-crawler's job queue, README.md:7-11 analog).

  * stream_sessionize: gap-based session windows per key, the twin of
    agg_event_sessionize.
  * stream_fetch_attribution / stream_fetch_timeouts: stream-stream
    interval joins of fetch requests and responses (inner and
    left-outer), sharing one pairing condition.
  * run_to_files: the availableNow drain into a file sink that the
    stream_*_run catalog queries (operators/catalog_stream.py) ship
    through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """Streaming twin of the batch agg_event_sessionize operator
    (operators/pipeline.py): gap-based session windows per key via
    ``session_window`` + watermark. Sessions merge across micro-batches
    in state; a session is FINALIZED (emitted, in append mode) once the
    watermark passes its end (= last event + gap), which bounds state
    to the still-open sessions — the property that lets this run
    indefinitely at 10^10 events where the batch window would need the
    full history. Late events inside the watermark re-open/merge their
    session; later ones are dropped, exactly the documented trade."""
    # watermarks require TIMESTAMP (parquet without isAdjustedToUTC
    # reads as TIMESTAMP_NTZ, which EventTimeWatermark rejects)
    events = events.withColumn(ts, F.col(ts).cast("timestamp"))
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts), gap).alias("s"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def _paired_streams(
    requests: DataFrame, responses: DataFrame, max_lag: str, watermark: str
):
    """Shared stream-stream prep: watermarked sides + the interval
    join condition — ONE source of truth so attribution and timeout
    detection can never disagree about what 'paired' means."""
    req = requests.withColumn(
        "event_ts", F.col("event_ts").cast("timestamp")
    ).withWatermark("event_ts", watermark)
    resp = (
        responses.withColumnRenamed("url", "resp_url")
        .withColumn("resp_ts", F.col("resp_ts").cast("timestamp"))
        .withWatermark("resp_ts", watermark)
    )
    cond = F.expr(
        f"""url = resp_url
            AND resp_ts >= event_ts
            AND resp_ts <= event_ts + interval {max_lag}"""
    )
    return req, resp, cond


def stream_fetch_attribution(
    requests: DataFrame,
    responses: DataFrame,
    max_lag: str = "15 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """STREAM-STREAM interval join: attribute each fetch response to
    the request that scheduled it — response within [request_ts,
    request_ts + max_lag] on the same url. The canonical Structured
    Streaming two-stream shape: watermarks on BOTH sides plus the
    time-interval join condition are what let the state store expire
    buffered rows (url-keyed state bounded by watermark + max_lag —
    never unbounded); the url equality key is the shuffle partition
    key, so both streams co-partition and each task joins one url
    range. requests: (seed_id, url, event_ts); responses:
    (url, status, resp_ts)."""
    req, resp, cond = _paired_streams(requests, responses, max_lag, watermark)
    return req.join(resp, cond, "inner").select(
        "seed_id",
        "url",
        "status",
        "event_ts",
        "resp_ts",
        (
            F.unix_millis(F.col("resp_ts")) - F.unix_millis(F.col("event_ts"))
        ).alias("lag_ms"),
    )


def stream_fetch_timeouts(
    requests: DataFrame,
    responses: DataFrame,
    max_lag: str = "15 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Timeout detection as a LEFT-OUTER stream-stream join: a request
    row with a NULL response side means no response arrived within
    max_lag — the streaming analog of the batch timeout_budget gate.
    The outer semantics are the operationally subtle part: a null-match
    can only be emitted once the RESPONSE watermark has passed
    request_ts + max_lag (before that, the match could still arrive),
    so timeout rows trail live traffic by watermark + max_lag — state
    stays bounded for exactly the same reason. Emits every request
    with matched=false for timeouts. Pairing condition shared with
    stream_fetch_attribution via _paired_streams."""
    req, resp, cond = _paired_streams(requests, responses, max_lag, watermark)
    return req.join(resp, cond, "left_outer").select(
        "seed_id",
        "url",
        "event_ts",
        F.col("resp_ts").isNotNull().alias("matched"),
        "status",
    )


def run_to_files(
    stream_df: DataFrame,
    checkpoint: str,
    out_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """Drain all available input with availableNow into a FILE sink and
    return a DataFrame reading the sink directory back — rows never
    round-trip through the driver (executors write parquet; the
    returned plan is an ordinary pruned/pushed-down scan), so the same
    drain shape works at any scale.

    append mode uses the native parquet sink (its _spark_metadata
    commit log makes the read-back exactly the committed files);
    complete mode — which the file sink does not support — uses
    foreachBatch with a full overwrite per micro-batch: each complete
    batch carries the ENTIRE result state, so after the availableNow
    drain the directory holds exactly the final state.

    update mode is rejected: an update batch carries only the keys
    CHANGED in that micro-batch, so overwrite-per-batch would silently
    drop keys updated earlier and absent from the last batch.  A
    correct file materialization would need append-with-batch_id plus
    last-per-key on read-back; no caller needs it, so refuse rather
    than ship the trap."""
    if output_mode == "update":
        raise ValueError(
            "run_to_files does not support output_mode='update': "
            "overwrite-per-batch loses keys not present in the final "
            "micro-batch (use append or complete)"
        )
    if output_mode == "append":
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    else:
        def _overwrite(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(out_dir)

        q = (
            stream_df.writeStream.foreachBatch(_overwrite)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    # explicit schema: a zero-row drain leaves nothing to infer from
    return stream_df.sparkSession.read.schema(stream_df.schema).parquet(out_dir)
