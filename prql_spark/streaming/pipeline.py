"""Structured Streaming pipelines over the events stream.

SURVEY §2 #38/#39. Each pipeline is the streaming twin of a batch
query exposed in __spark_entry__ (the driver's oracle checks the
batch twin; tests here run the stream itself and assert the stream
result equals the batch result — the strongest check a bounded
replay allows).

Scale posture: file-source streaming with maxFilesPerTrigger gives
bounded micro-batches; watermarks bound state; the windowed agg
shuffles once per trigger on (window, event_type) — exactly the
batch plan's exchange, reused incrementally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-source stream over parquet event files."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour window agg with late-data watermark.

    Batch twin: entries.operators.q_events_hourly (oracled via
    DuckDB time_bucket).
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    # group on the window STRUCT itself — extracting .start before
    # the aggregation severs watermark propagation (append mode then
    # rejects the plan); project bucket = window.start afterwards.
    return (
        src.groupBy(F.window("ts", "1 hour").alias("__w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.expr("coalesce(value, 0.0)")), 2).alias(
                "value_sum"
            ),
        )
        .select(
            F.col("__w.start").alias("bucket"), "event_type", "n", "value_sum"
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain a bounded stream into an in-memory table; returns the
    result as a batch DataFrame (test/debug helper)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    spark = stream_df.sparkSession
    return spark.table(name)


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
) -> DataFrame:
    """Sessionization: per-user session ids where a gap > gap_minutes
    starts a new session.

    Batch implementation is pure window functions (JVM-side). The
    streaming variant of this op needs applyInPandasWithState — see
    ``sessionize_streaming`` — but the session *semantics* are
    defined (and tested) here.
    """
    gap = gap_minutes * 60
    return (
        events.withColumn(
            "__prev_ts",
            F.expr(
                "lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
            ),
        )
        .withColumn(
            "__new_session",
            F.expr(
                f"CASE WHEN __prev_ts IS NULL OR "
                f"unix_timestamp(ts) - unix_timestamp(__prev_ts) > {gap} "
                f"THEN 1 ELSE 0 END"
            ),
        )
        .withColumn(
            "session_seq",
            F.expr(
                "sum(__new_session) OVER ("
                "PARTITION BY user_id ORDER BY ts, event_id "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            ),
        )
        .withColumn(
            "session_id",
            F.expr("concat(user_id, '#', session_seq)"),
        )
        .drop("__prev_ts", "__new_session")
    )


def sessionize_streaming(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization via applyInPandasWithState.

    State per user: (last_ts, session_seq). Emits one row per event
    with its session id. Timeout closes idle users' state.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("session_id", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", DoubleType()),
            StructField("session_seq", LongType()),
        ]
    )
    gap = gap_minutes * 60

    def fn(key, pdf_iter, state):
        (user_id,) = key
        if state.exists:
            last_ts, seq = state.get
        else:
            last_ts, seq = None, 0
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts")
            # vectorized gap detection (guide §4.2: batches through
            # numpy, not a Python loop per event): a row opens a new
            # session when its gap from the previous event exceeds
            # the threshold; the previous event of row 0 is the
            # carried state (+inf gap when no state yet). Session
            # numbers are the carried seq + cumsum of the new-session
            # flags — identical to the per-row fold.
            import numpy as np

            t = pdf["ts"].astype("int64").to_numpy() / 1e9
            if not len(t):
                yield pd.DataFrame(
                    {
                        "user_id": pdf["user_id"],
                        "event_id": pdf["event_id"],
                        "ts": pdf["ts"],
                        "session_id": pd.Series([], dtype=object),
                    }
                )
                continue
            prev = np.empty_like(t)
            prev[0] = last_ts if last_ts is not None else -np.inf
            prev[1:] = t[:-1]
            new_flags = (t - prev) > gap
            seqs = seq + np.cumsum(new_flags)
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"],
                    "event_id": pdf["event_id"],
                    "ts": pdf["ts"],
                    "session_id": [
                        f"{user_id}#{s}" for s in seqs
                    ],
                }
            )
            if len(t):
                last_ts, seq = float(t[-1]), int(seqs[-1])
        state.update((last_ts, seq))

    return events.withWatermark("ts", watermark).groupBy(
        "user_id"
    ).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_streaming(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose keys were already seen
    within the watermark horizon (``dropDuplicatesWithinWatermark``).

    State is bounded by the watermark — the 100 TB posture: a key's
    fingerprint is held only until event time passes ``watermark``,
    so state size tracks the duplicate-arrival window, not the
    stream's full history. On a batch frame this degrades to plain
    ``dropDuplicates`` (the batch twin the oracle checks).
    """
    keys = list(key_cols) if key_cols else ["event_id"]
    if events.isStreaming:
        return events.withWatermark(
            ts_col, watermark
        ).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    by: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within_seconds: int = 600,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream (or batch-twin) interval join: pair each RIGHT
    row with same-key LEFT rows whose timestamp precedes it by at
    most ``within_seconds`` — the attribution join (view -> purchase
    within 10 minutes).

    Columns come back prefixed ``l_`` / ``r_`` so the two sides never
    collide. When either input is streaming, both sides get
    watermarks and the time-range predicate is exactly what Spark's
    state-cleanup needs: each side's buffer holds only
    ``watermark + within`` of data, so state is bounded no matter how
    long the streams run — the canonical Structured Streaming
    stream-stream join shape.
    """
    lsel = left.select([F.col(c).alias(f"l_{c}") for c in left.columns])
    rsel = right.select([F.col(c).alias(f"r_{c}") for c in right.columns])
    if left.isStreaming:
        lsel = lsel.withWatermark(f"l_{left_ts}", watermark)
    if right.isStreaming:
        rsel = rsel.withWatermark(f"r_{right_ts}", watermark)
    cond = F.expr(
        f"l_{by} = r_{by} "
        f"AND r_{right_ts} >= l_{left_ts} "
        f"AND r_{right_ts} <= l_{left_ts} + INTERVAL {within_seconds} SECOND"
    )
    return lsel.join(rsel, on=cond, how="inner")


def _is_table(spark: SparkSession, path: str) -> bool:
    """True once a version of a manifest table has been committed at
    ``path`` (listed through Hadoop's FileSystem API, so hdfs:// and
    s3a:// paths behave like local ones)."""
    from prql_spark.sources.manifest import _fs, _versions

    fs, jvm = _fs(spark, path)
    return bool(_versions(fs, jvm, path.rstrip("/")))


def _drain(stream_df: DataFrame, commit, output_mode: str,
           checkpoint: str | None, timeout_s: int, name: str, path: str):
    """Run ``commit(batch_df, epoch_id)`` on every micro-batch with
    ``trigger(availableNow)`` and block until the backlog drains; a
    stream that does not drain within ``timeout_s`` is stopped and
    raises, so a partly committed table is never handed back
    silently."""
    w = (
        stream_df.writeStream.foreachBatch(commit)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"{name}: backfill not drained within {timeout_s}s at {path!r}"
        )
    return q


def stream_merge_snapshot(
    stream_df: DataFrame,
    path: str,
    on: tuple,
    checkpoint: str | None = None,
    timeout_s: int = 300,
    partition_by: tuple | None = None,
):
    """Keyed streaming ingest into a manifest-committed table
    (``sources/manifest.py``): each micro-batch is MERGED by ``on``
    (update-or-insert), so the table holds exactly one current row
    per key and every micro-batch is one atomic, time-travelable
    version.

    The first non-empty micro-batch creates the table
    (:func:`snapshot_write`, laid out by ``partition_by``, with stats
    on ``on`` so later merges prune files by key range); every
    later one runs :func:`merge_snapshot`, which rewrites only the
    files holding a matched key — a key whose partition value
    changes leaves no stale row behind. foreachBatch is
    at-least-once; a replayed batch merges the same rows by key
    again, so replays are idempotent. An update-mode aggregation
    (changed keys per trigger) is the canonical input.

    Runs with trigger(availableNow) and blocks until drained (test /
    bounded-backfill shape).
    """
    from prql_spark.sources.manifest import merge_snapshot, snapshot_write

    on = tuple(on)

    def _merge(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        if _is_table(sess, path):
            merge_snapshot(sess, path, batch_df, on=on)
        else:
            snapshot_write(batch_df, path, partition_by=partition_by,
                           stats_cols=on)

    return _drain(stream_df, _merge, "update", checkpoint, timeout_s,
                  "stream_merge_snapshot", path)


def stream_warc_to_corpus(
    spark: SparkSession,
    landing_dir: str,
    lake_path: str,
    glob: str | None = None,
    checkpoint: str | None = None,
    max_files_per_trigger: int = 4,
    timeout_s: int = 300,
):
    """The continuous crawl → corpus-lake loop: streaming WARC reader
    over a landing directory → :func:`warc_to_documents` (stateless
    column expressions — stream-safe) → keyed
    :func:`stream_merge_snapshot` into a manifest-committed documents
    table.

    Each trigger ingests at most ``max_files_per_trigger`` newly
    landed shards (bounded work at any backlog); the checkpoint makes
    the source restartable mid-backlog; and because doc_id =
    file#offset is a stable key, the merge makes at-least-once
    replays idempotent — the table converges to exactly the batch
    twin ``warc_to_documents(read_warc(...))`` (pinned live in
    tests/test_streaming.py; the batch twin itself is value-oracled
    by the sources_warc_read driver entry).

    Runs with trigger(availableNow) and blocks until the current
    backlog drains (bounded-backfill shape — call again as new shards
    land, or drive the returned query with a processingTime trigger
    for a resident deployment).
    """
    from prql_spark.sources.io import read_warc_stream, warc_to_documents

    docs = warc_to_documents(
        read_warc_stream(
            spark, landing_dir, glob=glob,
            max_files_per_trigger=max_files_per_trigger,
        )
    )
    return stream_merge_snapshot(
        docs, lake_path, on=("doc_id",),
        checkpoint=checkpoint, timeout_s=timeout_s,
    )


def stream_append_snapshot(
    stream_df: DataFrame,
    path: str,
    checkpoint: str | None = None,
    stream_id: str | None = None,
    timeout_s: int = 300,
    partition_by: tuple | None = None,
):
    """Exactly-once streaming appends into a manifest-committed
    table (``sources/manifest.py``): ``foreachBatch`` stages each
    micro-batch's files and publishes ONE manifest carrying the
    batch's ``(stream_id, epoch)``.

    foreachBatch alone is at-least-once; the manifest makes the
    effect exactly-once from BOTH failure sides:

    * batch died BEFORE the manifest rename → its staged files are
      unreferenced (readers never see them; vacuum reclaims), and
      the replay commits cleanly;
    * batch committed but died BEFORE the checkpoint advanced → the
      replayed epoch is at-or-below the stream's high-water mark
      (:func:`prql_spark.sources.manifest.stream_high_water` — every
      commit carries the per-stream high-water map forward, so the
      check survives vacuum trimming old manifests) and is skipped —
      no duplicate rows, ever. :func:`stream_merge_snapshot` gets
      idempotence from key-overwrite semantics; this one needs none
      of that, so it works for APPEND-shaped streams (immutable
      event logs) where upsert semantics would be wrong. The table
      probe and ledger read go through Hadoop's FileSystem API (NOT
      ``os.path``), so the exactly-once contract holds on hdfs://
      and s3a:// paths, not just local ones.

    The ledger is keyed by ``(stream_id, epoch)``, which is exact
    for same-checkpoint replays (the failure mode that actually
    occurs). A WIPED checkpoint restarts epoch numbering, so the
    ledger treats the rerun as already-committed — correct when the
    source set is unchanged, but a genuinely NEW backfill must use
    a new ``stream_id`` (epoch ids alone cannot distinguish "replay
    of batch 0" from "different batch 0").

    Readers time-travel mid-stream: every micro-batch is a queryable
    version. Runs with trigger(availableNow) and blocks until
    drained (test / bounded-backfill shape).

    ``partition_by`` lays every micro-batch out hive-style (the
    event-time date/hour is the canonical choice): the manifest
    records per-file partition values, so downstream range reads on
    the partition column prune at the driver — and the append
    schema/partitioning checks still apply (a batch cannot silently
    change the table's layout).
    """
    from prql_spark.sources.manifest import snapshot_write, stream_high_water

    sid = stream_id or checkpoint or "default"

    def _append(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        # epochs are monotonic per checkpoint and commit in order, so
        # at-or-below high water ⇔ already committed
        if _is_table(sess, path) and (
            epoch_id <= stream_high_water(sess, path, sid)
        ):
            return  # replayed batch: already committed
        if batch_df.isEmpty():
            return
        snapshot_write(
            batch_df, path, mode="append",
            extra={"stream_id": sid, "epoch": epoch_id},
            partition_by=partition_by,
        )

    return _drain(stream_df, _append, "append", checkpoint, timeout_s,
                  "stream_append_snapshot", path)
