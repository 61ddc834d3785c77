"""Declared queries for the Structured Streaming slice (streaming/stream.py).

Each runs a real streaming query (file-source replay → watermarked event-time
operator → availableNow drain into a memory sink) and returns the final
state, so the driver can oracle-check streaming results against batch SQL —
the batch-equivalence property SURVEY.md §5.5 calls for.

The session-window oracle replays Spark's merge rule exactly: an event joins
the open session iff its event time is strictly inside [start, last+gap), so
a new session begins when the µs gap is >= 30 minutes. All comparisons use
integer microseconds (Spark's timestamp precision) to keep both engines
bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import (
    run_streaming_bitmap_dau,
    run_streaming_dedup,
    run_streaming_dedup_window_chain,
    run_streaming_ewma_anomaly,
    run_streaming_foreachbatch_upsert,
    run_streaming_hourly,
    run_streaming_latest_state,
    run_streaming_ohlc,
    run_streaming_pattern_match,
    run_streaming_rolling_dau,
    run_streaming_rolling_dau_hll,
    run_streaming_sessions,
    run_streaming_sliding_window,
    run_streaming_stateful_counter,
    run_streaming_static_join,
    run_streaming_stream_join,
    run_streaming_stream_join_left,
    run_streaming_user_freq_cms,
    run_streaming_value_quantiles,
)
from .events_queries import (
    EVENTS_HOURLY_SQL,
    EVENTS_LATEST_STATE_SQL,
    EVENTS_PATTERN_MATCH_SQL,
    EVENTS_SLIDING_SQL,
)
from .sketches_queries import BITMAP_DAU_SQL, HLL_ROLLING_DAU_SQL
from .timeseries_queries import EWMA_ANOMALY_SQL, OHLC_SQL, ROLLING_DAU_SQL


def streaming_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_hourly(spark, sf_dir)


def streaming_stream_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-gated LEFT OUTER stream-stream join: unconverted clicks
    emit NULL-padded only once provably unmatchable."""
    return run_streaming_stream_join_left(spark, sf_dir)


def streaming_bitmap_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked-bitmap exact daily distinct maintained incrementally:
    <= ceil(id_universe/32) BIGINT words of state per open window."""
    return run_streaming_bitmap_dau(spark, sf_dir)


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_dedup(spark, sf_dir)


def streaming_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_ohlc(spark, sf_dir)


def streaming_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful dedup -> exact sliding-distinct count (SURVEY §9.9)."""
    return run_streaming_rolling_dau(spark, sf_dir)


def streaming_rolling_dau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-HLL rolling DAU: per-window state is 512 integer
    registers, not a user set — the bounded-state long-running shape."""
    return run_streaming_rolling_dau_hll(spark, sf_dir)


def streaming_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day histogram-sketch quantiles maintained incrementally:
    <=256 counters of state per open window, whatever the volume."""
    return run_streaming_value_quantiles(spark, sf_dir)


def streaming_user_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Count-Min watchlist estimates maintained incrementally:
    <=3x1024 additive counters of state per open window (plus 10 exact
    watchlist counters), whatever the volume or user cardinality."""
    return run_streaming_user_freq_cms(spark, sf_dir)


def streaming_dedup_window_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful ops (watermarked dedup -> windowed agg) over an
    at-least-once (self-unioned) replay; equals the batch hourly answer."""
    return run_streaming_dedup_window_chain(spark, sf_dir)


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_sessions(spark, sf_dir)


def streaming_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: unwindowed keyed min_by/max_by aggregation —
    O(entity-universe) state with a constant per-key footprint; equals the
    batch events_latest_state answer (same oracle SQL)."""
    return run_streaming_latest_state(spark, sf_dir)


def streaming_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern detection as a stream: collect_list state bounded per
    entity-day, watermark-evicted; equals the batch events_pattern_match
    answer (same oracle SQL)."""
    return run_streaming_pattern_match(spark, sf_dir)


def streaming_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart maintained incrementally: SUM+COUNT per 1-day
    window (two numbers of state per open window, watermark-evicted),
    scored by the batch query's own code — equals the batch
    events_ewma_anomaly answer (same oracle SQL)."""
    return run_streaming_ewma_anomaly(spark, sf_dir)


def streaming_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_stateful_counter(spark, sf_dir)


def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_stream_join(spark, sf_dir)


def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_static_join(spark, sf_dir)


def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_sliding_window(spark, sf_dir)


# Batch twin: plain inner join + aggregate. The streaming side is stateless
# (broadcast dim), so the availableNow replay's final state equals the batch
# answer exactly.
STREAMING_STATIC_JOIN_SQL = """
SELECT c.c_mktsegment, COUNT(*) AS n_events,
       round(SUM(e.value), 4) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_id IS NOT NULL
GROUP BY c.c_mktsegment
"""


# Batch twin of the watermarked stream-stream interval join. Timestamps are
# rebuilt at exact µs on both engines (Spark: timestamp_micros(ns div 1000);
# DuckDB: make_timestamp(epoch_ns // 1000)) so >=/<= boundary comparisons
# never disagree on sub-µs residue.
# The left-outer twin mirrors Spark's emission contract exactly: matched
# pairs emit eagerly; an unmatched click emits NULL-padded only when the
# GLOBAL watermark (min over both sources of per-source max event time
# floored to Spark's millisecond watermark precision, minus the 2h delay)
# has passed the end of its match window — clicks still inside their
# window at drain end stay in state and are not emitted (the honest
# availableNow tail behavior; completeness is proven by eviction).
STREAMING_STREAM_JOIN_LEFT_SQL = """
WITH c AS (
  SELECT event_id AS click_id, user_id,
         make_timestamp(epoch_ns(ts) // 1000) AS ts
  FROM events WHERE event_type = 'click' AND event_id IS NOT NULL),
p AS (
  SELECT event_id AS purchase_id, user_id, value,
         make_timestamp(epoch_ns(ts) // 1000) AS ts
  FROM events WHERE event_type = 'purchase' AND event_id IS NOT NULL),
wm AS (
  SELECT least((SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM c),
               (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM p))
         - CAST(7200 AS BIGINT) * 1000000 AS w_us),
matched AS (
  SELECT c.user_id, c.click_id, p.purchase_id,
         round(p.value, 4) AS purchase_value
  FROM c JOIN p
    ON c.user_id = p.user_id
   AND p.ts >= c.ts
   AND p.ts <= c.ts + INTERVAL 1 HOUR)
SELECT user_id, click_id, purchase_id, purchase_value FROM matched
UNION ALL
SELECT c.user_id, c.click_id, NULL, NULL
FROM c, wm
WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.click_id)
  AND epoch_us(c.ts + INTERVAL 1 HOUR) < wm.w_us
"""


STREAMING_STREAM_JOIN_SQL = """
WITH c AS (
  SELECT event_id, user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts
  FROM events WHERE event_type = 'click' AND event_id IS NOT NULL),
p AS (
  SELECT event_id, user_id, value,
         make_timestamp(epoch_ns(ts) // 1000) AS ts
  FROM events WHERE event_type = 'purchase' AND event_id IS NOT NULL)
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       round(p.value, 4) AS purchase_value
FROM c JOIN p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


STREAMING_STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       round(SUM(value), 4) AS total_value,
       MAX(value) AS max_value
FROM events GROUP BY user_id
"""

STREAMING_DEDUP_SQL = """
WITH dedup AS (
  SELECT event_id, MIN(event_type) AS event_type
  FROM events WHERE event_id IS NOT NULL GROUP BY event_id)
SELECT event_type, COUNT(*) AS n_unique
FROM dedup GROUP BY event_type
"""

# Dedup-aware twin of EVENTS_HOURLY_SQL: one representative row per
# event_id (MIN of each field — exact-copy duplicates make MIN the value
# itself), NULL ids dropped like the stream does. On a fixture with unique
# non-null event_ids this is identical to the plain hourly aggregation, but
# it stays correct if a regenerated fixture ships broker-style duplicates.
STREAM_DEDUP_CHAIN_SQL = """
WITH dedup AS (
  SELECT event_id, MIN(ts) AS ts, MIN(event_type) AS event_type,
         MIN(value) AS value
  FROM events WHERE event_id IS NOT NULL GROUP BY event_id)
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
       event_type, COUNT(*) AS n_events,
       round(SUM(value), 4) AS sum_value
FROM dedup GROUP BY 1, 2
"""

STREAMING_SESSIONS_SQL = """
WITH e AS (
  SELECT user_id, value,
         CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us
  FROM events),
lagged AS (
  SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us FROM e),
flagged AS (
  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                 THEN 1 ELSE 0 END AS new_sess
  FROM lagged),
sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged)
SELECT user_id, MIN(us) // 1000000 AS session_start,
       COUNT(*) AS n_events, round(SUM(value), 4) AS sum_value
FROM sess
GROUP BY user_id, sid
"""


def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_foreachbatch_upsert(spark, sf_dir)


def streaming_snapshot_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_assignment2_2025_spark.streaming.stream import (
        run_streaming_snapshot_sink,
    )

    return run_streaming_snapshot_sink(spark, sf_dir)


# Batch twin of the snapshot-store streaming sink: the store must hold
# every event exactly once however the backlog was micro-batched, so the
# per-type aggregate over the store equals the same aggregate over the
# raw events table.
STREAMING_SNAPSHOT_SINK_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def streaming_snapshot_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot store as a STREAMING SOURCE (PySpark 4 Python
    DataSource API, ``sources/snapshot_source.py``): a per-fixture store
    holds the events table as three append commits; the stream tails the
    version log, receives each commit's added files as Arrow batches,
    and the drained per-type aggregate must equal the batch aggregate
    over raw events — micro-batch boundaries are version boundaries, so
    the result is batching-invariant by construction. Planning reads
    manifests only (O(new commits), never a table scan): at 100 TB the
    stream costs what the ingest added, not what the table holds."""
    from ..sources.readers import load_table, staged
    from ..sources.snapshot_source import SnapshotStreamDataSource
    from ..sources.snapshots import SnapshotStore
    from ..streaming.stream import _drain_to_memory

    def build(base: str) -> None:
        store = SnapshotStore(base)
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        for i in range(3):
            store.commit(ev.where(F.col("event_id") % 3 == i), mode="append")

    base = staged(sf_dir, "snapsrc", build)
    spark.dataSource.register(SnapshotStreamDataSource)
    stream = spark.readStream.format("snapshotstream").option(
        "path", base
    ).load()
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("value_cents").alias("sum_cents"),
    )
    return _drain_to_memory(agg, spark).orderBy("event_type")


# the source must deliver every committed row exactly once, so the
# drained aggregate equals the sink twin's oracle
STREAMING_SNAPSHOT_SOURCE_SQL = STREAMING_SNAPSHOT_SINK_SQL


# Batch twin of the foreachBatch latest-row-per-key upsert: last event per
# user by (event time, event_id) — exact integer µs and cents, so the
# streamed state table matches the batch window query bit-for-bit.
STREAMING_FOREACHBATCH_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS value_cents,
         -- integer division: epoch_ns/1000 through DOUBLE loses µs at 1e18
         CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us
  FROM events WHERE event_id IS NOT NULL),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY us DESC, event_id DESC) AS rn
  FROM e)
SELECT user_id, us AS last_ts_us, event_type AS last_event_type,
       value_cents AS last_value_cents
FROM r WHERE rn = 1
ORDER BY user_id
"""


# Per-day variant of the histogram-quantile mirror — the oracle for the
# STREAMING twin (streaming/stream.py run_streaming_value_quantiles): the
# update-log reconciliation (max per (day, bin)) recovers exactly these
# batch counts, so one SQL serves the incremental deployment.
DAILY_HIST_QUANTILES_SQL = """
WITH b AS (
  SELECT CAST(ts AS DATE) AS day,
         (least(greatest(CAST(round(value * 1e6) AS BIGINT), 0), 511999999)
          - 0) // 2000000 AS bin
  FROM events WHERE value IS NOT NULL
),
counts AS (
  SELECT day, bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM b GROUP BY day, bin
),
cum AS (
  SELECT day, bin, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY day ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM counts
),
tot AS (SELECT day, CAST(SUM(cnt) AS BIGINT) AS n FROM counts GROUP BY day),
cand AS (
  SELECT c.day, CAST(p.p_pct AS BIGINT) AS p_pct, t.n, c.bin
  FROM cum c
  JOIN tot t USING (day)
  CROSS JOIN (VALUES (50), (90), (99)) p(p_pct)
  WHERE c.cum >= (t.n * p.p_pct + 99) // 100
)
SELECT day, p_pct, n, MIN(bin) AS qbin,
       CAST(MIN(bin) * 2000000 + 0 AS BIGINT) AS q_lo_micro
FROM cand GROUP BY day, p_pct, n
"""


# Per-day variant of the Count-Min mirror — the oracle for the STREAMING
# twin (streaming/stream.py run_streaming_user_freq_cms): counters are
# additive integers, so the update-log reconciliation (max per
# (day, row, bucket)) recovers exactly these batch counters, and the
# deterministic md5 positions make the estimates bit-identical. A day
# exists iff it produced at least one counter row (non-NULL-user event) —
# observedness from counter existence, mirrored by the DISTINCT day scan.
DAILY_CMS_SQL = """
WITH h AS (
  SELECT CAST(ts AS DATE) AS day,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h1,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 14, 13))::BIGINT AS h2
  FROM events WHERE user_id IS NOT NULL
),
counters AS (
  SELECT day, CAST(t.k AS BIGINT) AS row,
         (h1 + CAST(t.k AS BIGINT) * h2) % 1024 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM h, range(3) t(k)
  GROUP BY day, CAST(t.k AS BIGINT), (h1 + CAST(t.k AS BIGINT) * h2) % 1024
),
watch AS (
  SELECT CAST(t.k + 1 AS BIGINT) AS user_id,
         ('0x' || substr(md5(CAST(t.k + 1 AS VARCHAR)), 1, 13))::BIGINT AS h1,
         ('0x' || substr(md5(CAST(t.k + 1 AS VARCHAR)), 14, 13))::BIGINT AS h2
  FROM range(10) t(k)
),
days AS (SELECT DISTINCT day FROM counters),
est AS (
  SELECT d.day, w.user_id,
         least(
           COALESCE(c0.cnt, 0),
           COALESCE(c1.cnt, 0),
           COALESCE(c2.cnt, 0)
         ) AS est_cnt
  FROM days d CROSS JOIN watch w
  LEFT JOIN counters c0
    ON c0.day = d.day AND c0.row = 0 AND c0.bucket = (w.h1 + 0 * w.h2) % 1024
  LEFT JOIN counters c1
    ON c1.day = d.day AND c1.row = 1 AND c1.bucket = (w.h1 + 1 * w.h2) % 1024
  LEFT JOIN counters c2
    ON c2.day = d.day AND c2.row = 2 AND c2.bucket = (w.h1 + 2 * w.h2) % 1024
),
tc AS (
  SELECT CAST(ts AS DATE) AS day, user_id,
         CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM events
  WHERE user_id IN (1, 2, 3, 4, 5, 6, 7, 8, 9, 10)
  GROUP BY CAST(ts AS DATE), user_id
)
SELECT e.day, e.user_id, CAST(e.est_cnt AS BIGINT) AS est_cnt,
       COALESCE(t.true_cnt, 0) AS true_cnt
FROM est e LEFT JOIN tc t USING (day, user_id)
"""


QUERIES = {
    "streaming_foreachbatch_upsert": streaming_foreachbatch_upsert,
    "streaming_snapshot_sink": streaming_snapshot_sink,
    "streaming_snapshot_source": streaming_snapshot_source,
    "streaming_hourly_window": streaming_hourly_window,
    "streaming_dedup_events": streaming_dedup_events,
    "streaming_dedup_window_chain": streaming_dedup_window_chain,
    "streaming_session_windows": streaming_session_windows,
    "streaming_stateful_counter": streaming_stateful_counter,
    "streaming_stream_join": streaming_stream_join,
    "streaming_static_join": streaming_static_join,
    "streaming_sliding_window": streaming_sliding_window,
    "streaming_ohlc_bars": streaming_ohlc_bars,
    "streaming_rolling_dau": streaming_rolling_dau,
    "streaming_rolling_dau_hll": streaming_rolling_dau_hll,
    "streaming_value_quantiles": streaming_value_quantiles,
    "streaming_user_freq_cms": streaming_user_freq_cms,
    "streaming_bitmap_dau": streaming_bitmap_dau,
    "streaming_stream_join_left": streaming_stream_join_left,
    "streaming_latest_state": streaming_latest_state,
    "streaming_pattern_match": streaming_pattern_match,
    "streaming_ewma_anomaly": streaming_ewma_anomaly,
}

ORACLES = {
    # identical final state to the batch log-compaction aggregation
    "streaming_latest_state": EVENTS_LATEST_STATE_SQL,
    # identical final state to the batch user-day pattern match
    "streaming_pattern_match": EVENTS_PATTERN_MATCH_SQL,
    "streaming_foreachbatch_upsert": STREAMING_FOREACHBATCH_SQL,
    # the store's content is batching-invariant: exactly-once txn commits
    "streaming_snapshot_sink": STREAMING_SNAPSHOT_SINK_SQL,
    # every committed row delivered exactly once, batching-invariant
    "streaming_snapshot_source": STREAMING_SNAPSHOT_SOURCE_SQL,
    "streaming_stream_join": STREAMING_STREAM_JOIN_SQL,
    "streaming_static_join": STREAMING_STATIC_JOIN_SQL,
    # identical final state to the batch sliding-window aggregation
    "streaming_sliding_window": EVENTS_SLIDING_SQL,
    # identical final state to the batch tumbling-window aggregation
    "streaming_hourly_window": EVENTS_HOURLY_SQL,
    # identical final state to the batch argmin/argmax OHLC aggregation
    "streaming_ohlc_bars": OHLC_SQL,
    "streaming_dedup_events": STREAMING_DEDUP_SQL,
    # dedup collapses the duplicated replay to one row per event_id, so the
    # final state equals the dedup-aware batch hourly aggregation
    "streaming_dedup_window_chain": STREAM_DEDUP_CHAIN_SQL,
    "streaming_session_windows": STREAMING_SESSIONS_SQL,
    "streaming_stateful_counter": STREAMING_STATEFUL_SQL,
    # chained dropDuplicates -> exact-distinct aggregation: final state
    # equals the batch rolling-DAU query (same oracle)
    "streaming_rolling_dau": ROLLING_DAU_SQL,
    # the sketch is deterministic, so the streaming drain's final state is
    # BIT-identical to the batch HLL query — one oracle serves both twins
    "streaming_rolling_dau_hll": HLL_ROLLING_DAU_SQL,
    # the histogram counts are deterministic integers, so the streaming
    # drain's reconciled state equals the per-day batch sketch exactly
    "streaming_value_quantiles": DAILY_HIST_QUANTILES_SQL,
    # additive counters + deterministic md5 positions: the streaming
    # drain's reconciled counters equal the batch per-day sketch, so the
    # estimates are bit-identical — one SQL serves both deployments
    "streaming_user_freq_cms": DAILY_CMS_SQL,
    # bit_or words are deterministic integers and monotone across
    # update-mode emissions, so the reconciled drain equals the batch
    # bitmap aggregate exactly — one SQL serves both deployments
    "streaming_bitmap_dau": BITMAP_DAU_SQL,
    "streaming_stream_join_left": STREAMING_STREAM_JOIN_LEFT_SQL,
    # daily sums reconcile exactly (monotone row count picks the final
    # emission) and the scoring IS the batch code — one SQL serves both
    "streaming_ewma_anomaly": EWMA_ANOMALY_SQL,
}
