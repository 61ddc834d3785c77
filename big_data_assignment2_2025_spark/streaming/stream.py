"""Structured Streaming slice (SURVEY.md §7.5 north-star extension; the
reference is pure batch — SURVEY.md §2.9 "Streaming: none").

Design: the ``events`` parquet fixture is replayed as a *file stream*
(``readStream.parquet`` on the fixture directory), run through watermarked
event-time operators, and drained with ``trigger(availableNow=True)`` into a
memory sink. availableNow processes the full backlog then stops, so these
functions return a plain DataFrame of the final state — which makes the
streaming path oracle-checkable against the same SQL as its batch twin
(the watermark drops nothing when the whole input is replayed in order).

At scale the same code runs unchanged against a real source (Kafka, file
drops): swap ``readStream.parquet(dir)`` for the production source; the
aggregation, watermark, and sink contract stay identical.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..sources.readers import staged


#: state-store partition count for the replay drains. The number of state
#: partitions is a FIRST-CLASS Structured Streaming sizing decision: it is
#: fixed by ``spark.sql.shuffle.partitions`` at FIRST query start, persisted
#: in the checkpoint, and every micro-batch then opens/commits one state
#: store per partition per stateful operator — so oversizing it taxes every
#: batch with empty-partition task + store-commit overhead, while
#: undersizing it concentrates state (skew, memory). This harness replays a
#: bounded fixture, so it sizes DOWN (measured at sf0.1, best-of-2: 32 → 8
#: partitions halves every streaming drain — rolling_dau 2.86→1.50 s,
#: user_freq_cms 4.95→2.69 s, value_quantiles 2.70→1.37 s, pattern_match
#: 2.91→1.67 s; 4 partitions adds little — SCALING §2). A production
#: deployment sizes UP with expected state volume via the same knob before
#: the first start (it cannot be changed across restarts of one checkpoint).
STREAM_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
)


class _state_partitions:
    """Scoped ``spark.sql.shuffle.partitions`` override for a streaming
    drain; restored after the drained query terminates (the value is
    captured into the query's runtime conf at start)."""

    def __init__(self, spark: SparkSession, n: int = STREAM_STATE_PARTITIONS):
        self.spark, self.n = spark, n

    def __enter__(self) -> None:
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc) -> None:
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def _stage_dir(sf_dir: str) -> str:
    """File streams consume *directories*; the fixture dir mixes ten tables.
    Stage a per-fixture dir holding only the events data: the standard
    fixtures ship ONE parquet file (one symlink); derived fixtures
    (tools/build_sf10x.py) are Spark-written DIRECTORIES whose part files
    must be staged individually — a directory symlink is invisible to the
    non-recursive file-stream source (r11: every streaming query silently
    drained 0 rows at the 10x fixture)."""

    def build(staged_dir: str) -> None:
        src = os.path.join(sf_dir, "events.parquet")
        if not os.path.isdir(src):
            os.symlink(src, os.path.join(staged_dir, "events.parquet"))
            return
        # COPIES with strictly increasing mtimes, not symlinks: the
        # file-stream source orders files by MODIFICATION TIME, and one
        # write job stamps every part file identically — ties consume in
        # arbitrary order, which violates the watermark's bounded-disorder
        # contract for the ts-range-partitioned fixture (late-drop flakes
        # at 10x). Part index == ts range == mtime order makes consumption
        # deterministic.
        want = sorted(n for n in os.listdir(src) if n.endswith(".parquet"))
        base = time.time() - 2 * len(want)
        for i, n in enumerate(want):
            dst = os.path.join(staged_dir, f"part-{i:05d}.parquet")
            shutil.copyfile(os.path.join(src, n), dst)
            os.utime(dst, (base + i, base + i))

    # the recipe version (mtime-ordered copies) is part of the name: the
    # fixture fingerprint cannot see a change to this builder
    return staged(sf_dir, "events_stream_mtime2", build)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture.

    ``ts`` is normalized to a µs TimestampType whatever the fixture's
    physical parquet type (see ``sources.readers.normalize_event_ts``).
    ``maxFilesPerTrigger=1`` keeps micro-batches small if a processing-time
    trigger is used; availableNow batches the backlog on its own.

    The reader applies NO row filters — batch ``load_table`` doesn't
    either, and every streaming oracle aggregates the RAW events table, so
    a source-level filter would silently diverge the moment a regenerated
    fixture ships rows the filter drops. Queries with filter semantics
    (the event_id dedup streams) filter explicitly and mirror it in their
    oracles.
    """
    from big_data_assignment2_2025_spark.sources.readers import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_dir(sf_dir))
    )
    return normalize_event_ts(stream)


def _drain_to_memory(
    result: DataFrame, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Run the streaming query to completion (availableNow) into a memory
    sink; return the sink contents as a static DataFrame."""
    return _drain_many_to_memory([result], spark, output_mode)[0]


class _no_data_batches:
    """Scoped ``spark.sql.streaming.noDataMicroBatches.enabled`` override
    for a streaming drain; restored after the drained query terminates.

    Why it exists (r14, guide §1/§5 — the micro-batch floor): after the
    backlog, availableNow runs one extra ZERO-ROW batch whose only
    effects are watermark-driven state eviction and append-mode final
    emission. Measured at sf0.1 (lastProgress.durationMs): that batch
    costs ~0.5 s per drain — addBatch ~400 ms for 0 input rows — i.e.
    ~35-40%% of every drain's wall clock. For COMPLETE mode (every batch
    rewrites the full sink) and UPDATE mode (emits only CHANGED rows —
    a no-data batch changes no aggregate) the sink contents are
    identical with or without it, so the aggregation drains skip it.
    APPEND-mode drains (stream-stream outer joins) MUST keep it: the
    watermark advance after the last data batch is what flushes
    unmatched rows, and skipping it would change results. A long-running
    production deployment keeps the default (no-data batches drive
    continuous eviction); this knob only shapes the bounded availableNow
    replay the harness runs."""

    def __init__(self, spark: SparkSession, enabled: bool):
        self.spark, self.enabled = spark, enabled

    def __enter__(self) -> None:
        key = "spark.sql.streaming.noDataMicroBatches.enabled"
        self.key = key
        self.prev = self.spark.conf.get(key)
        self.spark.conf.set(key, "true" if self.enabled else "false")

    def __exit__(self, *exc) -> None:
        self.spark.conf.set(self.key, self.prev)


def _drain_many_to_memory(
    results: list[DataFrame], spark: SparkSession, output_mode: str = "complete"
) -> list[DataFrame]:
    """Start SEVERAL availableNow memory-sink queries, then await them all:
    independent streaming aggregations over the same source overlap their
    micro-batch scheduling and source scans instead of paying the harness
    latency serially (the multi-aggregation pattern a real deployment runs
    as concurrent jobs off one topic).

    The trailing no-data micro-batch is skipped for complete/update
    drains and kept for append drains (see ``_no_data_batches``)."""
    started = []
    try:
        with _state_partitions(spark), _no_data_batches(
            spark, enabled=(output_mode == "append")
        ):
            for result in results:
                name = f"sink_{uuid.uuid4().hex[:12]}"
                ckpt = tempfile.mkdtemp(prefix="ckpt_")
                q = (
                    result.writeStream.format("memory")
                    .queryName(name)
                    .outputMode(output_mode)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                started.append((name, ckpt, q))
            for _, _, q in started:
                q.awaitTermination()
    finally:
        for _, ckpt, _ in started:
            shutil.rmtree(ckpt, ignore_errors=True)
    return [spark.table(name) for name, _, _ in started]


def run_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation — the incremental twin of
    plans.events_queries.events_hourly_window (same oracle SQL)."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _drain_to_memory(agg, spark)


def run_streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars — the incremental twin of
    plans.round5_queries.events_ohlc_bars (same oracle SQL): min_by/max_by
    on the zero-padded composite key run as STATEFUL streaming aggregates
    (declarative aggregate functions, so the state per (event_type, day)
    group is one small struct per agg — never the group's rows). Complete
    output mode; final state must equal the batch aggregation bit for
    bit."""
    ev = read_events_stream(spark, sf_dir).where(F.col("value").isNotNull())
    from big_data_assignment2_2025_spark.plans.round5_queries import _ord_key

    key = _ord_key(F.unix_micros("ts"), F.col("event_id"))
    agg = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.round(F.min_by("value", key), 6).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(F.max_by("value", key), 6).alias("close"),
        F.count("*").alias("n_events"),
    )
    return _drain_to_memory(agg, spark)


def run_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful stream dedup via ``dropDuplicatesWithinWatermark`` on
    event_id, then a per-type count.

    ``dropDuplicates(["event_id"])`` would match the oracle too, but without
    the event-time column in the subset its state is NEVER evicted by the
    watermark — unbounded growth on a real stream.
    ``dropDuplicatesWithinWatermark`` keys state on event_id and drops each
    entry once the watermark passes its event time, so state is bounded by
    (arrival rate × watermark delay). Semantics: duplicates arriving within
    the 2h watermark delay are suppressed; a duplicate arriving later than
    that may survive — acceptable for at-least-once dedup at 100 TB scale,
    and identical to global dedup on the fixture streams (event_id is unique
    there, verified in tests).

    NULL event_ids are filtered explicitly (a NULL dedup key is meaningless;
    making the drop explicit keeps the oracle equivalence independent of how
    the stateful operator treats NULL keys)."""
    ev = read_events_stream(spark, sf_dir).where(F.col("event_id").isNotNull())
    deduped = ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return _drain_to_memory(agg, spark)


def run_streaming_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a per-user
    running profile (event count, value sum, max seen value) maintained in
    explicit GroupState across micro-batches — the escape hatch for stateful
    logic Spark's built-in aggregations can't express (here the logic *is*
    expressible, deliberately, so the DuckDB oracle can check the plumbing).

    State is one tiny tuple per user — bounded, watermark-evictable in a
    production timeout configuration (GroupStateTimeout.NoTimeout here since
    availableNow drains a finite replay).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("max_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
            StructField("mx", DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
        state.update((n, total, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 4)],
                "max_value": [mx],
            }
        )

    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    result = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # update-mode sinks emit one row per (batch, user); the final state per
    # user is the row from the last batch that touched it
    name = f"sink_{uuid.uuid4().hex[:12]}"
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt, _state_partitions(
        spark
    ):
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    snap = spark.table(name)
    w_latest = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    )
    return snap.withColumn("_r", w_latest).where(F.col("_r") == 1).drop("_r")


def run_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval self-join: clicks joined to same-user purchases
    that land within one hour of the click.

    Both sides carry a watermark AND the join condition bounds purchase_ts
    relative to click_ts — that pair is what lets Spark evict join state at
    scale (a click older than watermark+1h can never match again, so its
    buffered row is dropped). Without the time-range condition the state
    grows without bound; this is the canonical production shape.

    Timestamps are rebuilt as exact µs on the Spark side (read_events_stream)
    and the oracle rebuilds them identically via make_timestamp(epoch_ns//1000),
    so boundary comparisons agree bit-for-bit across engines.
    """
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """user_id = p_user_id
               AND purchase_ts >= click_ts
               AND purchase_ts <= click_ts + INTERVAL 1 HOUR"""
        ),
        "inner",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.round("purchase_value", 4).alias("purchase_value"),
    )
    return _drain_to_memory(joined, spark, output_mode="append")


def run_streaming_stream_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval LEFT OUTER self-join: every click, joined to
    same-user purchases within one hour — clicks with no such purchase
    emit NULL-padded, but only once the watermark proves no match can
    still arrive.

    The outer side is the semantics the inner join cannot give: "which
    clicks did NOT convert" is exactly the row the state store may only
    release after event time has moved past click_ts + 1h (otherwise a
    late purchase could still match). Consequence at the stream tail: a
    click whose match window the final watermark has not yet passed stays
    buffered and is NOT emitted by an availableNow drain — the honest
    at-scale behavior (state ∝ watermark delay + interval, eviction
    proves completeness). The oracle mirrors this exactly: matched pairs
    unconditionally, unmatched clicks gated on
    ``click_ts + 1h < global watermark`` with the watermark computed the
    way Spark does — per-source max event time FLOORED TO MILLISECONDS
    minus the 2h delay, min across the two sources."""
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """user_id = p_user_id
               AND purchase_ts >= click_ts
               AND purchase_ts <= click_ts + INTERVAL 1 HOUR"""
        ),
        "left_outer",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.round("purchase_value", 4).alias("purchase_value"),
    )
    return _drain_to_memory(joined, spark, output_mode="append")


def _make_running_counter():
    """StatefulProcessor factory for ``run_streaming_tws_counter``. The
    class is declared at module scope semantics-wise (importable by executor
    workers) via this module-level factory; the streaming-state imports stay
    inside so batch-only use of this module never touches them."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.count = handle.getValueState("count", "cnt long")

        def handleInputRows(self, key, rows, timerValues):
            cnt = self.count.get()[0] if self.count.exists() else 0
            for pdf in rows:
                cnt += len(pdf)
            self.count.update((cnt,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt]})

        def close(self) -> None:
            pass

    return RunningCounter()


def run_streaming_foreachbatch_upsert(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Streaming upsert into a keyed state table via ``foreachBatch`` — the
    standard pattern for maintaining a "latest row per key" serving table
    from a change stream when the sink has no native MERGE (plain parquet
    here; the same callback body works against Delta/Iceberg MERGE INTO).

    Each micro-batch unions the incoming rows with the previous table
    version and keeps the newest row per user (max event time, event_id
    tie-break), writing a NEW versioned directory — an atomic-swap
    overwrite that never reads and writes the same files in one job. State
    size is bounded by the key cardinality (one row per user), not the
    stream length.

    Scale: the per-batch merge is one shuffle on user_id (row_number
    window); at warehouse scale the same pattern shards by key range and
    merges only touched partitions (partition-pruned MERGE). The fixture
    replays as a single availableNow batch; multi-batch behavior is
    exercised in tests/test_streaming_merge.py by splitting the fixture
    into several files (``source`` injects that stream).
    """
    ev = source if source is not None else read_events_stream(spark, sf_dir)
    updates = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("last_ts_us"),
        F.col("event_type").alias("last_event_type"),
        F.round(F.col("value") * 100).cast("long").alias("last_value_cents"),
    )
    root = tempfile.mkdtemp(prefix="upsert_state_")
    state: dict[str, str | None] = {"cur": None}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        merged = batch_df
        if state["cur"] is not None:
            merged = batch_df.unionByName(sess.read.parquet(state["cur"]))
        w = W.partitionBy("user_id").orderBy(
            F.desc("last_ts_us"), F.desc("event_id")
        )
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        new_dir = os.path.join(root, f"v{batch_id}")
        latest.write.mode("overwrite").parquet(new_dir)
        state["cur"] = new_dir

    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt, _state_partitions(
        spark
    ):
        q = (
            updates.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert state["cur"] is not None
    return (
        spark.read.parquet(state["cur"])
        .select("user_id", "last_ts_us", "last_event_type", "last_value_cents")
        .orderBy("user_id")
    )


def run_streaming_snapshot_sink(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Streaming ingestion INTO the snapshot store (``sources/
    snapshots.py``) via ``foreachBatch`` with exactly-once writer
    transactions — the Delta streaming-sink pattern: each micro-batch
    commits as ONE store version carrying ``txn=(app_id, batch_id)`` in
    its manifest, and the store refuses (as a silent no-op) any batch id
    at or below the last committed one for that app. A restarted query
    that replays a batch after a crash-between-commit-and-checkpoint
    therefore lands its rows exactly once — idempotence lives in the
    SINK's transaction log, not in the source's delivery guarantees.

    The result re-reads the STORE (not the stream): per-event-type
    counts and cent sums, identical to the batch aggregate however the
    planner happened to batch the backlog — and every committed version
    remains time-travelable afterwards (the operational win over a plain
    parquet append sink: a bad deploy rolls back to last night's
    version, not to a backup).

    Scale: one store version per micro-batch is exactly how Delta/
    Iceberg streaming sinks behave; the manifest grows O(1) per batch
    and compaction folds the small batch members without breaking the
    txn map (carried on every publish). ``source`` injects a multi-file
    stream in tests to exercise several batches + a simulated replay."""
    from big_data_assignment2_2025_spark.sources.snapshots import SnapshotStore

    ev = source if source is not None else read_events_stream(spark, sf_dir)
    rows = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    store_dir = tempfile.mkdtemp(prefix="snapsink_")
    store = SnapshotStore(store_dir)
    app = "streaming_snapshot_sink"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        store.commit(batch_df, mode="append", txn=(app, batch_id))

    try:
        with tempfile.TemporaryDirectory(
            prefix="ckpt_"
        ) as ckpt, _state_partitions(spark):
            q = (
                rows.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        agg = (
            store.read(spark)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("value_cents").alias("sum_cents"),
            )
            .orderBy("event_type")
        )
        # materialize the (|event_type|-bounded) result so the throwaway
        # store can be deleted — bench/oracle runs otherwise accumulate a
        # full events copy in /tmp per invocation
        collected = agg.collect()
        return spark.createDataFrame(collected, agg.schema)
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)


def run_streaming_tws_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running event counter via ``transformWithStateInPandas`` —
    Spark 4's arbitrary-state API (typed state variables, timers, TTL),
    the successor of ``applyInPandasWithState`` used by
    ``run_streaming_stateful_counter``.

    Needs the RocksDB state store provider; set per-query here at runtime so
    a caller-built session works. Final state per user equals the batch
    groupBy count (asserted in tests/test_transform_with_state.py).

    Environment gate: the python<->JVM state channel is protobuf-based, so
    this requires the real ``google.protobuf`` package at runtime (the test
    skips where it's absent). ``streaming_stateful_counter`` provides the
    same semantics on the protobuf-free applyInPandasWithState API.
    """
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = read_events_stream(spark, sf_dir)
        counted = (
            ev.select("user_id", "event_id")
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=_make_running_counter(),
                outputStructType="user_id long, n_events long",
                outputMode="Update",
                timeMode="None",
            )
        )
        snap = _drain_to_memory(counted, spark, output_mode="update")
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
    # last update per user is the final running count
    return snap.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def run_streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (1 h window, 15 min slide) with a 2 h
    watermark — each event updates 4 open windows; the watermark bounds how
    long each window's state lives (closed windows evict). Final state after
    an availableNow full replay equals the batch sliding-window aggregation
    (events_queries.events_sliding_window / EVENTS_SLIDING_SQL)."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )
    return _drain_to_memory(agg, spark)


def run_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to the static
    customer dimension (user_id = c_custkey), aggregated per market segment.

    The static side is marked ``broadcast`` — a stream-static join with a
    broadcast dimension is stateless (no watermark, no join state at all):
    each micro-batch hash-joins against the in-memory dim table. This is THE
    production enrichment shape at scale; the dim is re-read per batch, so a
    slowly-changing dimension picks up updates between batches for free.
    """
    ev = read_events_stream(spark, sf_dir)
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    enriched = ev.join(F.broadcast(cust), "user_id", "inner")
    agg = (
        enriched.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    return _drain_to_memory(agg, spark)


def run_streaming_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction as a stream: the incremental twin of
    ``plans.events_queries.events_latest_state`` (same oracle SQL).

    An UNWINDOWED ``groupBy(user_id, event_type)`` keyed aggregation with
    ``min_by``/``max_by`` over the packed ``(second, event_id)`` ordering
    key: each micro-batch folds its rows into a handful of scalars per key
    (count, first/last value + ordinal, max second). State is O(distinct
    keys) with a CONSTANT per-key footprint — which is exactly the contract
    of a materialized current-state table: keys are never evicted because
    the "latest state per entity" answer needs every live entity. That is
    bounded by the entity universe, not by stream length, so it survives a
    long-running deployment (unlike per-window user SETS — see
    run_streaming_rolling_dau's eviction discussion).

    min_by/max_by are declarative aggregates (partial-mergeable), so each
    batch contributes map-side partials; nothing is replayed. The memory
    sink here drains in complete mode for the oracle check; the production
    shape is update mode into an upsert sink (see
    run_streaming_foreachbatch_upsert for the MERGE variant).
    """
    ev = read_events_stream(spark, sf_dir)
    return _drain_to_memory(latest_state_agg(ev), spark)


def latest_state_agg(ev: DataFrame) -> DataFrame:
    """The keyed min_by/max_by log-compaction aggregation over any events
    stream (or static frame) with (ts, event_id, user_id, event_type,
    value) — factored out so multi-batch tests can feed a file-split
    source through the same plan."""
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    ord_key = sec * F.lit(10_000_000).cast("long") + F.col("event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.round("value", 4).alias("value"),
            ord_key.alias("ord"),
            sec.alias("sec"),
        )
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.expr("min_by(value, ord)").alias("first_value"),
            F.expr("max_by(value, ord)").alias("last_value"),
            F.max("sec").alias("last_sec"),
        )
    )


def run_streaming_dedup_window_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 3.5+
    multi-stateful support): watermarked dedup feeding a windowed
    aggregation. The input is deliberately duplicated (self-union of the
    file stream — the at-least-once delivery a real broker exhibits), so
    the dedup stage is load-bearing: without it every count/sum doubles.
    Final state after an availableNow replay equals the batch hourly
    aggregation over one representative row per event_id (NULL ids filtered
    symmetrically on both sides) — the dedup-aware STREAM_DEDUP_CHAIN_SQL
    oracle, so the equivalence does not depend on the fixture happening to
    have unique non-null event_ids.

    State bounds at scale: dedup state is keyed on event_id and evicted
    once the watermark passes each event's time; window state closes 2 h
    behind the max event time. Two stateful stages share one shuffle on the
    (window, event_type) grouping after the dedup exchange."""
    ev = read_events_stream(spark, sf_dir).where(F.col("event_id").isNotNull())
    duplicated = ev.unionAll(ev)
    agg = (
        duplicated.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _drain_to_memory(agg, spark)


def rolling_dau_streams(
    spark: SparkSession, ev: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The two watermarked streaming aggregations behind
    ``run_streaming_rolling_dau``, exposed so tests can drive them through
    arbitrary micro-batch schedules / restarts and inspect state metrics.

    Returns ``(dau7_agg, dau1_agg)`` — both UNSTARTED streaming frames
    with schema ``(day date, dauN long)``.

    - ``dau7_agg``: ONE stateful op — a native sliding event-time window
      ``window(ts, 7 days, 1 day)`` holding ``collect_set(user_id)`` per
      open window. Because the grouping key is a real event-time window
      under the 7-day watermark, the state store EVICTS each window once
      the watermark passes its end — state is bounded by ~14 days of
      open windows x active users, never by stream history (the fix for
      the r6 verdict's complete-mode unbounded-state finding). The day a
      window reports is its last covered day (``window.end - 1``).
    - ``dau1_agg``: the 1-day tumbling companion — same eviction story.

    ``collect_set`` is duplicate-idempotent, so no dedup stage is needed
    ahead of either agg (one stateful operator per query keeps update
    output mode legal — chained stateful ops would force append, which
    can never emit the final 7 days of a bounded replay). Exact distinct
    does not decompose (SURVEY's rolling-DAU note), so the per-window
    state is the user SET — the honest cost of exactness; the
    bounded-state-per-key alternative at extreme scale is the HLL twin
    (``events_rolling_dau_approx``)."""
    dau7_agg = (
        ev.withWatermark("ts", "7 days")
        .groupBy(F.window("ts", "7 days", "1 day").alias("w"))
        .agg(F.size(F.collect_set("user_id")).cast("long").alias("dau7"))
        .select(F.date_sub(F.to_date("w.end"), 1).alias("day"), "dau7")
    )
    dau1_agg = (
        ev.withWatermark("ts", "7 days")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.size(F.collect_set("user_id")).cast("long").alias("dau1"))
        .select(F.to_date("w.start").alias("day"), "dau1")
    )
    return dau7_agg, dau1_agg


def reconcile_dau_updates(dau1_rows: DataFrame, dau7_rows: DataFrame) -> DataFrame:
    """Batch-side reconciliation of the two update-mode emission logs into
    the final ``(day, dau1, dau7)`` table (same shape as ROLLING_DAU_SQL).

    Update mode emits a row per (window, batch-that-touched-it); a
    window's distinct-user count is MONOTONE non-decreasing across its
    emissions (sets only grow; data later than the watermark never
    reaches an evicted window), so max-per-day is exactly the final
    value. The inner join keeps a day iff the 1-day tumbling agg saw at
    least one event row that day — observedness from row EXISTENCE, not
    from ``dau1 > 0``, so a day whose rows all carry NULL user_id still
    appears (with dau1 = 0, as in the oracle), and trailing phantom
    sliding windows (end-day past the last observed day) are trimmed."""
    dau1 = dau1_rows.groupBy("day").agg(F.max("dau1").alias("dau1"))
    dau7 = dau7_rows.groupBy("day").agg(F.max("dau7").alias("dau7"))
    return dau1.join(dau7, "day").select("day", "dau1", "dau7")


def run_streaming_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rolling 7-day distinct DAU — the streaming twin of
    plans.round5_queries.events_rolling_dau (same ROLLING_DAU_SQL oracle;
    SURVEY §9.9).

    Two single-stateful-op streams over native event-time windows (see
    ``rolling_dau_streams``: sliding 7d/1d for dau7, tumbling 1d for
    dau1), each drained in UPDATE output mode — closed windows are
    evicted from the state store as the watermark advances, so a
    long-running deployment holds only ~2 window-lengths of state —
    then reconciled batch-side (``reconcile_dau_updates``: max per day
    over the monotone update log, inner join for observedness)."""
    dau7_agg, dau1_agg = rolling_dau_streams(spark, read_events_stream(spark, sf_dir))
    dau7_rows, dau1_rows = _drain_many_to_memory(
        [dau7_agg, dau1_agg], spark, output_mode="update"
    )
    return reconcile_dau_updates(dau1_rows, dau7_rows)


def rolling_dau_hll_streams(
    spark: SparkSession, ev: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The two streams behind ``run_streaming_rolling_dau_hll``:
    ``(reg_agg, obs_agg)``, both unstarted.

    - ``reg_agg``: the stateless ``hll_bucket_rho`` projection feeding ONE
      stateful op — ``max(rho)`` per (TUMBLING 1-day event-time window,
      bucket) under a 7-day watermark. r14 (guide §2.2/§2.4, VERDICT r13
      item 3): the previous shape grouped by the SLIDING ``window(ts, 7d,
      1d)``, which assigns every hashed row to 7 window instances — 7x
      the rows into the stateful exchange and 7x the register state —
      before the per-window max collapsed them. Registers merge by
      ``max`` (associative/commutative), so the 7-day union is computed
      ONCE per day batch-side in ``reconcile_dau_hll_updates`` by fanning
      out the <= days x 512 per-day register rows (exactly the batch
      twin's day_reg -> fan -> win_reg shape, bit-identical values).
      State is now at most open-days x 512 integer registers —
      independent of user cardinality — where the exact twin's state is
      the per-window user SET. Closed windows evict as the watermark
      advances; ``max`` is duplicate-idempotent, so at-least-once replay
      needs no dedup stage.
    - ``obs_agg``: 1-day tumbling ``count(*)`` — observedness from row
      EXISTENCE (NULL-user days still emit), same convention as the exact
      twin and the batch oracle."""
    from ..operators.sketches import hll_bucket_rho

    bucket, rho = hll_bucket_rho("user_id")
    hashed = ev.where(F.col("user_id").isNotNull()).select("ts", bucket, rho)
    reg_agg = (
        hashed.withWatermark("ts", "7 days")
        .groupBy(F.window("ts", "1 day").alias("w"), "bucket")
        .agg(F.max("rho").alias("r"))
        .select(F.to_date("w.start").alias("day"), "bucket", "r")
    )
    obs_agg = (
        ev.withWatermark("ts", "7 days")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n_rows"))
        .select(F.to_date("w.start").alias("day"), "n_rows")
    )
    return reg_agg, obs_agg


def reconcile_dau_hll_updates(
    reg_rows: DataFrame, obs_rows: DataFrame
) -> DataFrame:
    """Batch-side reconciliation of the update-mode HLL emission logs into
    the final (day, v_empty, reg_sum, dau7_hll_micro) table — the same
    shape and BIT-IDENTICAL values as the batch
    ``events_rolling_dau_approx`` (HLL_ROLLING_DAU_SQL oracle), because
    the sketch is deterministic: a register only ever grows across a
    window's emissions (monotone max), so max-per-(day,bucket) over the
    log is the final register set, and the estimate is the same
    frozen-order IEEE chain.

    ``reg_rows`` carries TUMBLING per-day registers (r14); the 7-day
    union happens here, on the <= emissions x 512 register log, by the
    batch twin's exact fan-out shape: each (day, bucket, r) log row
    contributes to window-end days day..day+6, and ``hll_merge``'s
    per-bucket max over the fan-out IS the window union (max is
    associative/commutative/idempotent, so merging per-day maxima equals
    the old per-sliding-window max row for row). A day is emitted iff it
    is observed (row existence, from ``obs_rows``) AND some hashed row
    landed in its trailing 7 days — the identical emission rule as
    before: a sliding window existed iff some hashed row fell inside
    it."""
    from ..operators.sketches import hll_estimate, hll_merge

    obs = obs_rows.select("day").distinct()
    fan = reg_rows.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "bucket",
        "r",
    )
    win_reg = hll_merge(fan.join(obs, "day"), ["day"])
    return hll_estimate(win_reg, ["day"], out_col="dau7_hll_micro").select(
        "day", "v_empty", "reg_sum", "dau7_hll_micro"
    )


def run_streaming_rolling_dau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rolling 7-day DAU by deterministic HyperLogLog — the
    streaming twin of ``plans.round5_queries.events_rolling_dau_approx``
    (same HLL_ROLLING_DAU_SQL oracle) and the long-running deployment
    shape for rolling distinct at extreme scale: per-window state is 512
    integers, not a user set (see ``rolling_dau_hll_streams``). Both
    streams drain in update mode and reconcile batch-side."""
    reg_agg, obs_agg = rolling_dau_hll_streams(
        spark, read_events_stream(spark, sf_dir)
    )
    reg_rows, obs_rows = _drain_many_to_memory(
        [reg_agg, obs_agg], spark, output_mode="update"
    )
    return reconcile_dau_hll_updates(reg_rows, obs_rows)


def run_streaming_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the histogram quantile sketch: per-day
    p50/p90/p99 of ``value`` maintained incrementally
    (plans.round7_queries.DAILY_HIST_QUANTILES_SQL oracle).

    The stateless ``hist_bin_expr`` projection feeds ONE stateful op —
    ``count(*)`` per (1-day tumbling window, bin) — whose state is at
    most 256 counters per open window, evicted under the watermark:
    bounded whatever the event volume, which is the point of the sketch.
    A (window, bin) counter is MONOTONE non-decreasing across update-mode
    emissions, so the reconciliation is max per (day, bin) — the same
    update-log convention as the DAU twins — and the quantile inversion
    (``hist_quantiles_from_counts``) runs batch-side on the final counts,
    exactly as it would on summed shard partials."""
    from ..operators.sketches import hist_bin_expr, hist_quantiles_from_counts
    from ..plans.round7_queries import (
        VALUE_BINS,
        VALUE_HI_MICRO,
        VALUE_LO_MICRO,
        VALUE_PERCENTS,
    )

    width = (VALUE_HI_MICRO - VALUE_LO_MICRO) // VALUE_BINS
    ev = read_events_stream(spark, sf_dir)
    proj = ev.where(F.col("value").isNotNull()).select(
        "ts",
        hist_bin_expr("value", VALUE_LO_MICRO, VALUE_HI_MICRO, width).alias(
            "bin"
        ),
    )
    agg = (
        proj.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "bin")
        .agg(F.count("*").alias("cnt"))
        .select(F.to_date("w.start").alias("day"), "bin", "cnt")
    )
    rows = _drain_to_memory(agg, spark, output_mode="update")
    final = rows.groupBy("day", "bin").agg(F.max("cnt").alias("cnt"))
    return hist_quantiles_from_counts(
        final, ["day"], VALUE_LO_MICRO, width, VALUE_PERCENTS
    )


def run_streaming_user_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Count-Min watchlist monitor: per-day
    frequency estimates for a fixed user watchlist maintained
    incrementally (plans.round7_queries.DAILY_CMS_SQL oracle).

    Two bounded-state stateful ops, the live abuse/rate-monitoring shape:

    - the stateless md5 position fan-out (posexplode of the d=3 bucket
      positions) feeds ``count(*)`` per (1-day tumbling window, row,
      bucket) — at most 3 x 1024 counters of state per open window,
      whatever the event volume or user cardinality, evicted under the
      watermark. Counters are MONOTONE non-decreasing across update-mode
      emissions, so the reconciliation is max per (day, row, bucket) —
      additive merge algebra means the reconciled log equals the batch
      counters exactly, and the deterministic positions make every
      estimate bit-identical to the batch sketch (hash-gated).
    - the exact side, filtered to the 10-key watchlist BEFORE the
      stateful op, holds at most 10 counters per open window — the
      one-sided guarantee (est >= true, never an undercount) is then
      observable live, day by day, in the output.

    The estimate itself (min over d broadcast lookups against the
    <= days x 3 x 1024 counter table) runs batch-side on the reconciled
    counters via ``cms_estimate_for_keys(by=["day"])``."""
    from ..operators.sketches import _cms_positions, cms_estimate_for_keys
    from ..plans.round7_queries import CMS_WATCH_USERS

    ev = read_events_stream(spark, sf_dir)
    proj = ev.where(F.col("user_id").isNotNull()).select(
        "ts",
        F.posexplode(F.array(*_cms_positions(F.col("user_id")))).alias(
            "row", "bucket"
        ),
    )
    cnt_agg = (
        proj.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "row", "bucket")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.to_date("w.start").alias("day"),
            F.col("row").cast("long").alias("row"),
            "bucket",
            "cnt",
        )
    )
    true_agg = (
        ev.where(F.col("user_id").isin(CMS_WATCH_USERS))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(F.count("*").alias("true_cnt"))
        .select(F.to_date("w.start").alias("day"), "user_id", "true_cnt")
    )
    cnt_rows, true_rows = _drain_many_to_memory(
        [cnt_agg, true_agg], spark, output_mode="update"
    )
    counters = cnt_rows.groupBy("day", "row", "bucket").agg(
        F.max("cnt").alias("cnt")
    )
    true = true_rows.groupBy("day", "user_id").agg(
        F.max("true_cnt").alias("true_cnt")
    )
    watch = spark.createDataFrame(
        [(int(u),) for u in CMS_WATCH_USERS], "user_id long"
    )
    keys = counters.select("day").distinct().crossJoin(F.broadcast(watch))
    est = cms_estimate_for_keys(counters, keys, "user_id", by=["day"])
    return est.join(true, ["day", "user_id"], "left").select(
        "day",
        "user_id",
        "est_cnt",
        F.coalesce(F.col("true_cnt"), F.lit(0).cast("long")).alias("true_cnt"),
    )


def run_streaming_bitmap_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the chunked-bitmap exact distinct
    (plans.round7b_queries.events_bitmap_daily_users, same BITMAP_DAU_SQL
    oracle): exact per-day distinct users maintained incrementally.

    One stateful op: ``bit_or`` of ``1 << (user_id % 32)`` per (1-day
    tumbling event-time window, ``user_id DIV 32`` bucket) under the
    watermark. State per open window is at most ceil(id_universe/32)
    BIGINT words — bounded by the id space, independent of event volume —
    and closed windows evict. ``bit_or`` is duplicate-idempotent (a bit
    set twice is one bit), so at-least-once replay needs no dedup stage,
    and each window's emitted word is MONOTONE (bits only ever turn on)
    across update-mode emissions — the reconciliation is ``bit_or`` per
    (day, bucket) over the update log, after which the exact cardinality
    reads off ``bit_count`` exactly as in the batch plan."""
    ev = read_events_stream(spark, sf_dir)
    proj = ev.where(F.col("user_id").isNotNull() & (F.col("user_id") >= 0)).select(
        "ts",
        F.expr("user_id DIV 32").alias("bucket"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 32) AS INT))"
        ).alias("bit"),
    )
    word_agg = (
        proj.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "bucket")
        .agg(F.bit_or("bit").alias("word"))
        .select(F.to_date("w.start").alias("day"), "bucket", "word")
    )
    rows = _drain_to_memory(word_agg, spark, output_mode="update")
    words = rows.groupBy("day", "bucket").agg(F.bit_or("word").alias("word"))
    return (
        words.groupBy("day")
        .agg(
            F.sum(F.bit_count("word")).cast("long").alias("dau"),
            F.count("*").cast("long").alias("words_touched"),
        )
        .orderBy("day")
    )


def run_streaming_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_ewma_anomaly (same EWMA_ANOMALY_SQL
    oracle): the daily value sums are maintained incrementally by ONE
    stateful op — SUM + COUNT per 1-day tumbling event-time window under
    the 2-hour watermark — and the EWMA control-chart scoring runs
    batch-side on the reconciled daily frame through the EXACT code the
    batch query uses (``plans.round7g_queries.ewma_score_daily``), so
    the two paths cannot diverge.

    State is two numbers per open window — bounded whatever the event
    volume — and closed windows evict. The per-window row count is
    MONOTONE non-decreasing across update-mode emissions while the sum
    (values can be any sign) is not, so the reconciliation picks the sum
    carried by the HIGHEST count: ``max_by(v_us, nrows)`` per day — a
    count tie between two emissions implies identical sums (same rows
    seen), making the pick well-defined."""
    rows = _drain_to_memory(ewma_daily_agg(read_events_stream(spark, sf_dir)),
                            spark, output_mode="update")
    return ewma_finalize(rows)


def ewma_daily_agg(ev: DataFrame) -> DataFrame:
    """The windowed daily SUM/COUNT accumulator (update-mode rows: day,
    v_us, nrows) — factored out for multi-batch tests."""
    proj = ev.where(F.col("value").isNotNull()).select(
        "ts",
        F.expr("CAST(floor(round(value, 4) * 10000 + 0.5) AS BIGINT)").alias(
            "v_row"
        ),
    )
    return (
        proj.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.sum("v_row").alias("v_us"), F.count("*").alias("nrows"))
        .select(F.to_date("w.start").alias("day"), "v_us", "nrows")
    )


def ewma_finalize(rows: DataFrame) -> DataFrame:
    """Reconcile the update log (sum at the highest monotone row count
    per day) and run the shared batch EWMA scorer."""
    from ..plans.round7g_queries import ewma_score_daily

    daily = rows.groupBy("day").agg(F.expr("max_by(v_us, nrows)").alias("v_us"))
    return ewma_score_daily(daily)


def run_streaming_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_pattern_match (same oracle SQL): per
    (user, 1-day event-time window) symbol sequences accumulated as a
    ``collect_list`` of (ord, sym) structs — ONE stateful op whose state
    is bounded by an entity-day of events (the same bounding argument as
    the batch query's groupBy-day) and EVICTED by the 2-hour watermark
    once the day closes.

    Event order inside the list is arrival order, so the string is built
    AFTER the stateful op: sort the struct list by the packed (second,
    event_id) ordinal, project the symbols, regex-count. Update-mode
    emissions grow the list monotonically (n strictly increases per
    emission), so the reconciliation is max_by(pairs, n) per key — the
    same monotone update-log convention as the DAU twins."""
    ev = read_events_stream(spark, sf_dir).where(F.col("user_id").isNotNull())
    rows = _drain_to_memory(pattern_match_agg(ev), spark, output_mode="update")
    return pattern_match_finalize(rows)


def pattern_match_agg(ev: DataFrame) -> DataFrame:
    """The windowed collect_list sequence accumulator (update-mode rows:
    day, user_id, pairs, n) — factored out for multi-batch tests."""
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    ord_key = sec * F.lit(10_000_000).cast("long") + F.col("event_id")
    proj = ev.select(
        "ts",
        "user_id",
        ord_key.alias("ord"),
        F.substring("event_type", 1, 1).alias("sym"),
    )
    return (
        proj.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(F.collect_list(F.struct("ord", "sym")).alias("pairs"))
        .select(
            F.to_date("w.start").alias("day"),
            "user_id",
            "pairs",
            F.size("pairs").alias("n"),
        )
    )


def pattern_match_finalize(rows: DataFrame) -> DataFrame:
    """Reconcile the monotone update log (max_by on list size), sort each
    key's struct list into event order, and regex-count the pattern."""
    final = rows.groupBy("user_id", "day").agg(
        F.expr("max_by(pairs, n)").alias("pairs")
    )
    seq = F.array_join(
        F.transform(F.array_sort(F.col("pairs")), lambda x: x["sym"]), ""
    )
    return (
        final.withColumn("seq", seq)
        .select(
            "user_id",
            "day",
            F.length("seq").cast("long").alias("seq_len"),
            F.regexp_count(F.col("seq"), F.lit("vc+p"))
            .cast("long")
            .alias("n_matches"),
        )
        .where(F.col("n_matches") >= 1)
        .orderBy("user_id", "day")
    )


def run_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time session windows (30-min gap) per user via Spark's native
    ``session_window`` — the streaming counterpart of the batch lag/cumsum
    sessionization (plans.events_queries.events_sessionize)."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return _drain_to_memory(agg, spark)
