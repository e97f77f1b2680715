"""Streaming jobs: watermarked windows, session windows, custom state,
and checkpointed incremental ingest.

Each ``run_*`` helper executes a streaming query to completion with
``Trigger.AvailableNow`` (drain everything currently available, then
stop) and returns the materialized result as a batch DataFrame — which
is how the driver harness and the oracle comparison consume them. In
production the same plan runs unbounded with a processing-time trigger.

Watermark choice: testdata events arrive in one file (one micro-batch),
so a 1-hour watermark is semantic documentation more than a correctness
lever here; on an unbounded stream it bounds state for the window and
session aggregations. Output mode is "complete" for the windowed aggs
(memory sink) so the drained result equals the batch answer exactly.
"""

from __future__ import annotations

import itertools
import os
import tempfile
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from .sources import stream_table

_SEQ = itertools.count()


# Final-micro-batch state-store row count of the most recent _drain,
# keyed by the `run_*` helper that invoked it (one entry per helper,
# overwritten on every run — bounded across a long-lived session).
# Observability only (tools/bench_streaming_scale.py reads it to verify
# the bounded-state claim at growing input sizes); no query logic
# depends on it.
LAST_STATE_ROWS: dict[str, int] = {}


# Target parquet input bytes per state-store partition (r11, guide §2).
# A stateful exchange is pinned to spark.sql.shuffle.partitions at the
# FIRST micro-batch (checkpointed forever, and AQE cannot coalesce it),
# and every micro-batch then pays n_partitions x n_stores fixed cost:
# provider load, delta-file write, commit fsync, coordinator RPC — a
# stream-stream join carries FOUR stores per partition, so at 32
# partitions one micro-batch commits 128 state files regardless of how
# few state rows exist (measured: 40k state rows, commitTimeMs summed
# to 62-124 s per batch, ~80% of streaming_stream_stream_join's wall).
# Deriving the partition count from the input volume is the stateful
# analogue of AQE partition coalescing; the conf below overrides for
# deployments whose steady-state per-trigger volume differs from the
# backlog being drained.
_STATE_PART_TARGET_BYTES = 32 << 20
_STATE_PARTS_CONF = "spark.makerdao.streaming.state.partitions"
# Set to "true" to run the trailing no-data micro-batch in _drain after
# all — the watermark then advances once more and EVICTS expired state
# before the query stops. Sink output is identical either way (see
# _drain); the knob exists for state-observability harnesses
# (tools/bench_streaming_scale.py measures post-eviction state rows to
# prove the bounded-state claim).
_FINAL_WM_BATCH_CONF = "spark.makerdao.streaming.drain.finalWatermarkBatch"


def _input_bytes(sf_dir: str, table: str) -> int:
    """Size of a testdata table (single parquet file or part-file dir)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
                if f.endswith(".parquet")
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def state_partitions(spark: SparkSession, sf_dir: str, *tables: str) -> int:
    """Scale-adaptive state-store partition count for a streaming drain:
    one partition per _STATE_PART_TARGET_BYTES of source input, at least
    4 (parallelism floor), capped at the session's shuffle-partition
    count (which the SPARK_GRAFT_SHUFFLE_PARTITIONS contract already
    scales with the cluster). Conf `spark.makerdao.streaming.state.partitions`
    pins an explicit count for production streams whose per-trigger
    volume is not the drained backlog size."""
    override = spark.conf.get(_STATE_PARTS_CONF, None)
    if override:
        n = int(override)
        if n <= 0:
            raise ValueError(f"{_STATE_PARTS_CONF} must be positive, got {n}")
        return n
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    total = sum(_input_bytes(sf_dir, t) for t in tables)
    return min(shuffle_parts, max(4, -(-total // _STATE_PART_TARGET_BYTES)))


def _drain(
    sdf: DataFrame,
    output_mode: str,
    timeout_s: int = 300,
    state_key: str = "",
    state_parts: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to a memory sink with AvailableNow and
    return the sink table. Unique query names allow repeated invocation
    in one session (the driver calls each query at least twice).

    `state_parts` (from `state_partitions()`) sets the shuffle-partition
    count the stateful exchange is pinned to, for the duration of the
    drain only (the session value is restored before returning; drains
    are synchronous and sequential in this engine).

    The trailing no-data micro-batch is disabled for the drain: every
    registered streaming query's sink output is emitted eagerly in DATA
    batches (complete/update modes recompute per batch; the append-mode
    operators used — inner stream-stream join, dropDuplicatesWithin-
    Watermark — emit rows on arrival), so the extra batch advances the
    watermark only to EVICT state, which a finite drain that is about to
    stop never benefits from. It cost a full per-partition state-store
    commit cycle (measured: half of streaming_stream_stream_join's
    drain). A future append-mode AGGREGATION (emission gated on the
    watermark) must re-enable it or its final windows never reach the
    sink.

    `state_key` names the LAST_STATE_ROWS entry explicitly (it was
    derived via sys._getframe in round 8 — fragile under decoration or
    refactor; observability only, no query logic depends on it)."""
    caller = state_key or "anonymous"
    name = f"stream_sink_{next(_SEQ)}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    spark = sdf.sparkSession
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    if state_parts is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
    final_wm = spark.conf.get(_FINAL_WM_BATCH_CONF, "false") == "true"
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if final_wm else "false",
    )
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"streaming drain {name!r} did not finish in {timeout_s}s — "
                "refusing to return a partially-filled sink table"
            )
        prog = q.lastProgress
        if prog and prog.get("stateOperators"):
            LAST_STATE_ROWS[caller] = sum(
                op.get("numRowsTotal", 0) for op in prog["stateOperators"]
            )
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", old_nodata
        )
    return sdf.sparkSession.table(name)


def run_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows with a 1-hour watermark:
    count + exact-decimal value sum per (day, event_type)."""
    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("total_value"),
        )
    )
    out = _drain(agg, "complete", state_key="run_windowed_counts",
                 state_parts=state_partitions(spark, sf_dir, "events"))
    return out.select(
        F.col("w.start").alias("day"), "event_type", "n", "total_value"
    ).orderBy("day", "event_type")


def run_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) 60-minute windows every 30 minutes on the event
    stream, 1-hour watermark: each event enters 2 windows (multi-assign
    generate, state keyed by (window, type))."""
    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "60 minutes", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("decimal(38,6)")
            .alias("total_value"),
        )
    )
    out = _drain(agg, "complete", state_key="run_hopping_counts",
                 state_parts=state_partitions(spark, sf_dir, "events"))
    return out.select(
        F.col("w.start").alias("w_start"),
        F.col("w.end").alias("w_end"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("w_start", "event_type")


def run_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (4h inactivity) per user via
    ``session_window`` — the built-in streaming sessionization operator.
    ``session_end`` is last-event-time + gap (Spark's window.end)."""
    ev = stream_table(spark, sf_dir, "events")
    sess = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "4 hours").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _drain(sess, "complete", state_key="run_sessionized",
                 state_parts=state_partitions(spark, sf_dir, "events"))
    return out.select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
    ).orderBy("user_id", "session_start")


_STATE_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("max_value", DoubleType()),
        StructField("min_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)
_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("mx", DoubleType()),
        StructField("mn", DoubleType()),
        StructField("last_us", LongType()),
    ]
)


def _update_user_stats(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Per-user running stats carried across micro-batches. Only
    order-independent aggregates (count/max/min/event-time max) so the
    result is deterministic under any batch split."""
    n, mx, mn, last_us = state.get if state.exists else (0, None, None, None)
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        bmx = float(pdf["value"].max())
        bmn = float(pdf["value"].min())
        # Timestamp.value is epoch-nanos regardless of the column's
        # datetime64 resolution (ns under Arrow defaults, us otherwise)
        bts = int(pd.Timestamp(pdf["ts"].max()).value) // 1000  # -> us
        mx = bmx if mx is None else max(mx, bmx)
        mn = bmn if mn is None else min(mn, bmn)
        last_us = bts if last_us is None else max(last_us, bts)
    state.update((n, mx, mn, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "max_value": [mx],
            "min_value": [mn],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
        }
    )


def run_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running stats that survive across micro-batches via the state store
    — the pattern for accumulating per-key aggregates the built-in
    operators can't express (arbitrary Python state transition).
    Untimestamped rows are excluded: 'latest ts' is undefined for
    them, and pandas would otherwise fold a NaT into the state as the
    int64-min sentinel (year 1677) — the watermarked jobs drop such
    rows implicitly, this one pins the same contract explicitly."""
    ev = stream_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    st = ev.groupBy("user_id").applyInPandasWithState(
        _update_user_stats, _STATE_OUT, _STATE, "update", GroupStateTimeout.NoTimeout
    )
    # NOT size-derived state partitions here (r11): this operator's cost
    # is the per-group pandas transition function — Python CPU that wants
    # core-count parallelism — and it carries ONE state store per
    # partition, so commit fan-out is already cheap. Measured: 4
    # partitions 4.1 s vs session parallelism 2.2 s at sf0.1/32 cores.
    out = _drain(st, "update", state_key="run_stateful_user_stats")
    # A key updated in several micro-batches emits once per batch in the
    # sink; the last emission per key is the final state.
    w = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    )
    return (
        out.withColumn("_rk", w).filter(F.col("_rk") == 1).drop("_rk").orderBy("user_id")
    )


def run_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against the static
    customer dimension (broadcast per micro-batch — no state store, the
    static side is re-planned each batch so slowly-changing dims pick up
    updates), then aggregated per nation."""
    from ..session import load_table

    ev = stream_table(spark, sf_dir, "events")
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    joined = ev.join(cust, ev["user_id"] == cust["c_custkey"])
    agg = joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("total_value"),
    )
    out = _drain(agg, "complete", state_key="run_stream_static_join",
                 state_parts=state_partitions(spark, sf_dir, "events"))
    return out.orderBy("c_nationkey")


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases joined to the same user's
    clicks from the preceding hour. Both sides carry watermarks and the
    join condition bounds event time on both sides — that pair is what
    lets the state store expire rows (without it, stream-stream join
    state grows forever)."""
    p = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    j = p.join(
        c,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
        ),
    )
    out = _drain(
        j.select("purchase_id", "click_id", "p_user"),
        "append",
        state_key="run_stream_stream_join",
        state_parts=state_partitions(spark, sf_dir, "events"),
    )
    return out.orderBy("purchase_id", "click_id")


def run_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup with BOUNDED state: the events
    stream unioned with itself (every row arrives twice) deduplicated
    on event_id by ``dropDuplicatesWithinWatermark`` — the
    at-least-once -> exactly-once repair stage of an ingestion DAG.

    Unlike plain ``dropDuplicates`` (which keeps one state row per
    distinct key FOREVER — measured 100k -> 1M state rows at 10x input
    in BENCH_streaming_sf1_r7.json, the only streaming query whose
    state grew with corpus size), the watermarked form expires a key's
    state once the watermark passes its event time + horizon: on an
    unbounded 100 TB stream, state is bounded by the duplicate-arrival
    horizon (here 1 hour), not by corpus cardinality.

    Semantics notes, both verified empirically (Spark 4.1):
    - NULL-event-time rows pass through un-dropped and are deduplicated
      against duplicates arriving in the SAME micro-batch (their keys
      are not persisted in state). The AvailableNow drain reads both
      union legs in one micro-batch, so the doubled corpus — including
      NULL-ts rows — dedups exactly and the batch oracle needs no ts
      filter.
    - Duplicates separated by more than the horizon would re-emit;
      that is the operator's contract (the horizon IS the dedup
      window), acceptable because ingestion duplicates are
      retry-clustered in time."""
    ev = stream_table(spark, sf_dir, "events")
    doubled = ev.unionByName(stream_table(spark, sf_dir, "events"))
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = _drain(deduped, "append", state_key="run_stream_dedup",
                 state_parts=state_partitions(spark, sf_dir, "events"))
    return out.orderBy("event_id")


def stream_ingest_logs(
    spark: SparkSession,
    landing_dir: str,
    specs,
    out_dir: str,
    schema_name: str,
    checkpoint_dir: str,
    partition_blocks: int = 1_000_000,
) -> None:
    """Checkpointed incremental ingest: watch a raw-log landing directory,
    decode + demultiplex each micro-batch into the per-table parquet
    layout. The checkpoint replaces the reference's max(block_number)
    resume probe (classes.py:32-50): a restart continues from the last
    committed batch, exactly-once per file.

    foreachBatch is the right tool: one decoded micro-batch fans out to
    N table sinks — multi-sink writes aren't expressible as a single
    streaming sink. Each batch goes through the batch ingest's one-pass
    decode and writer (`demux_and_write`), in append mode.
    """
    from ..ingest.pipeline import RAW_LOG_SCHEMA, demux_and_write
    from .sources import stream_dir

    raw = stream_dir(spark, landing_dir, RAW_LOG_SCHEMA)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        demux_and_write(batch_df, specs, out_dir, schema_name, partition_blocks, mode="append")

    q = (
        raw.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_ingest_logs drain exceeded 300s")
    q.stop()


def stream_serving_aggregates(
    spark: SparkSession,
    landing_dir: str,
    schema,
    out_path: str,
    checkpoint_dir: str,
    key: str = "user_id",
) -> None:
    """Maintain a key->running-aggregate SERVING TABLE from a stream,
    exactly-once under replays.

    The streaming aggregation runs in UPDATE output mode, so each
    micro-batch emits the NEW TOTAL for every key the batch touched —
    which makes the foreachBatch upsert **naturally idempotent**: a
    replayed batch rewrites the same totals it wrote the first time.
    That is the load-bearing design choice; an append-mode sink of
    per-batch increments would double-count on the replay every
    at-least-once foreachBatch contract allows.

    Parquet has no transaction log, so the upsert is MERGE-by-rewrite
    (io/merge.merge_dataframes) through a staging dir + atomic swap.
    At 100 TB the serving table is |keys|-sized (not |events|-sized)
    and the rewrite is scoped by partitioning on the key range; with a
    table format (Delta/Iceberg) the same foreachBatch body becomes a
    real MERGE INTO statement.
    """
    import glob
    import shutil
    import uuid

    from ..io.merge import merge_dataframes

    # landing batches arrive as subdirectories of parquet part-files
    # (the layout df.write.parquet produces), so glob one level down
    events = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(os.path.join(landing_dir, "*"))
    )
    totals = events.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_value"),
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # crash recovery BEFORE the existence check: a death between the
        # two swap renames leaves the table at a .old-* name (or only in
        # .staging-*); concluding "no table yet" there would replace the
        # whole serving state with this one batch's keys
        if not os.path.isdir(out_path):
            leftovers = sorted(glob.glob(f"{out_path}.old-*"), key=os.path.getmtime)
            if leftovers:
                os.replace(leftovers[-1], out_path)
        for stale in glob.glob(f"{out_path}.staging-*"):
            shutil.rmtree(stale, ignore_errors=True)
        # existence check, NOT try/except: a transient read failure must
        # fail the batch (foreachBatch retries it), never silently
        # replace the whole serving table with this batch's keys
        if os.path.isdir(out_path):
            target = batch_df.sparkSession.read.parquet(out_path)
            merged = merge_dataframes(target, batch_df, [key])
        else:
            merged = batch_df
        staging = f"{out_path}.staging-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(staging)
        # swap via rename-aside: at every instant either the old or the
        # new table is at most one rename from out_path (a plain
        # rmtree-then-rename leaves NO table for the whole delete)
        old = f"{out_path}.old-{uuid.uuid4().hex[:8]}"
        if os.path.isdir(out_path):
            os.replace(out_path, old)
        os.replace(staging, out_path)
        shutil.rmtree(old, ignore_errors=True)

    q = (
        totals.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_serving_aggregates drain exceeded 300s")
    q.stop()
