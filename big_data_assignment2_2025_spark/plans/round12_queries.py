"""Round-12 queries: CHECK-constraint enforcement on the snapshot store.

``sources/snapshots.py`` gained Delta-style table constraints
(``add_constraint`` / ``drop_constraint`` + enforcement of every write
verb's NEW rows before publish — commit/merge/merge_on_read/
update_where; SQL NULL-passes semantics; refusals leave only
vacuum()-collectable orphans). The gate stages one store whose builder
ASSERTS the refusal paths (a violating append, a violating update and
an unsatisfiable add_constraint must all raise and leave the version
log untouched), then pins the surviving narrative cross-engine: the
constraint rides the manifest as table-level metadata, the valid verbs
land, and the final table equals the relational recomputation.

Scale: enforcement is O(new rows) — one column-pruned, limit-1-probed
read of just-written files, never a table scan (``add_constraint``
itself scans once, by design, like Delta's ADD CONSTRAINT).

No reference counterpart; lakehouse extensions per SURVEY.md §7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table, staged
from ..sources.snapshots import ConstraintViolationError, SnapshotStore

#: the narrative's splits (shared by the Spark and SQL sides)
_UPD_PRIO = "1-URGENT"   # v3 update: +10.00 on this priority
_APP_MOD = 1000          # v4 appends orders with k % 1000 == 0 (raw)


def _staged_constraint_store(
    spark: SparkSession, sf_dir: str
) -> SnapshotStore:
    """v1 overwrite -> v2 add_constraint(price_nonneg) -> v3
    update_where(+10 on 1-URGENT) -> v4 append(k % 1000 == 0). Between
    the landed versions the builder attempts THREE violating writes and
    asserts each refuses without publishing — the gate only ever sees a
    store whose refusal discipline held."""

    def build(base: str) -> None:
        store = SnapshotStore(base)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        store.commit(orders, mode="overwrite", stats_cols=["o_orderkey"])
        store.add_constraint(spark, "price_nonneg", "o_totalprice >= 0")
        # refusal 1: an unsatisfiable constraint must not be recorded
        try:
            store.add_constraint(spark, "impossible", "o_totalprice > 1e18")
            raise AssertionError("unsatisfiable constraint was recorded")
        except ConstraintViolationError:
            pass
        # refusal 2: a violating append must not publish
        try:
            store.commit(
                orders.limit(5).withColumn("o_totalprice", F.lit(-1.0)),
                mode="append",
            )
            raise AssertionError("violating append landed")
        except ConstraintViolationError:
            pass
        # refusal 3: a violating update post-image must not publish
        try:
            store.update_where(
                spark,
                F.col("o_orderpriority") == _UPD_PRIO,
                {"o_totalprice": F.lit(-9.0)},
            )
            raise AssertionError("violating update landed")
        except ConstraintViolationError:
            pass
        assert store.latest_version() == 2, "a refusal published a version"
        store.update_where(
            spark,
            F.col("o_orderpriority") == _UPD_PRIO,
            {"o_totalprice": F.col("o_totalprice") + F.lit(10.0)},
        )
        store.commit(
            orders.where(F.col("o_orderkey") % _APP_MOD == 0),
            mode="append",
        )

    return SnapshotStore(staged(sf_dir, "snapcons1", build))


def storage_check_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints as table-level manifest metadata: the
    per-priority aggregate of the final state (update applied to
    1-URGENT, the raw mod-key batch appended) must equal the relational
    recomputation, and the bookkeeping columns pin that exactly 4
    versions exist (every refusal left the log untouched), the
    constraint map survived update/append, and the update rode the
    deletion-vector path (mode 'update'). Money as exact integer
    cents."""
    store = _staged_constraint_store(spark, sf_dir)
    hist = store.history()
    return (
        store.read(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_rows"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0
            ).alias("sum_price"),
        )
        .select(
            F.lit(len(hist)).alias("n_versions"),
            F.lit(hist[-1]["mode"]).alias("last_mode"),
            F.lit(len(store.constraints())).alias("n_constraints"),
            F.lit(hist[2]["mode"]).alias("v3_mode"),
            F.col("o_orderpriority").alias("prio"),
            "n_rows",
            "sum_price",
        )
        .orderBy("prio")
    )


CHECK_CONSTRAINT_SQL = f"""
WITH updated AS (
  SELECT o_orderpriority AS prio,
         CASE WHEN o_orderpriority = '{_UPD_PRIO}'
              THEN o_totalprice + 10.0 ELSE o_totalprice END AS p
  FROM orders
  UNION ALL
  SELECT o_orderpriority, o_totalprice
  FROM orders WHERE o_orderkey % {_APP_MOD} = 0)
SELECT CAST(4 AS INTEGER) AS n_versions, 'append' AS last_mode,
       CAST(1 AS INTEGER) AS n_constraints, 'update' AS v3_mode,
       prio, COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(p * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_price
FROM updated
GROUP BY prio
ORDER BY prio
"""


#: the sprawl narrative's split count (shared by Spark and SQL sides)
_SPRAWL_N = 6
_SMALL_PRIO = "5-LOW"   # deleted before the compaction


def _staged_sprawl_store(spark: SparkSession, sf_dir: str) -> SnapshotStore:
    """The streaming-trickle shape: v1..v6 small appends (orders split
    by key mod), v7 ``delete_where`` (a DV over every member), v8
    ``compact_small`` — all six undersized members bin into one, the
    rewrite materializes their deletion vectors away."""

    def build(base: str) -> None:
        store = SnapshotStore(base)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        for i in range(_SPRAWL_N):
            store.commit(
                orders.where(F.col("o_orderkey") % _SPRAWL_N == i),
                mode="append" if i else "overwrite",
                stats_cols=["o_orderkey"],
            )
        store.delete_where(
            spark, F.col("o_orderpriority") == _SMALL_PRIO
        )
        store.compact_small(spark, target_bytes=1 << 31)

    return SnapshotStore(staged(sf_dir, "snapsprawl2", build))


def storage_compact_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (Delta OPTIMIZE shape): six trickle
    members + their shared deletion vector collapse into ONE member
    whose rows equal the DV-masked logical state — the bookkeeping
    columns pin the bin shape (6 rewrote, 1 added, DV map cleared,
    member count 6 -> 1) and the per-priority aggregate pins the row
    content cross-engine. Scale: the bins come from stat calls alone;
    only small members' bytes are rewritten."""
    store = _staged_sprawl_store(spark, sf_dir)
    v8 = store.latest_version()
    doc8 = store.manifest(v8)
    doc7 = store.manifest(v8 - 1)
    return (
        store.read(spark)
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count("*").alias("n_rows"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0
            ).alias("sum_price"),
        )
        .select(
            F.lit(doc8["mode"]).alias("mode"),
            F.lit(len(doc7["members"])).alias("n_members_before"),
            F.lit(len(doc8["members"])).alias("n_members_after"),
            F.lit(len(doc8["rewrote"])).alias("n_rewrote"),
            F.lit(len(doc8["added"])).alias("n_added"),
            F.lit(int(not doc8.get("deletes"))).alias("dv_cleared"),
            "prio",
            "n_rows",
            "sum_price",
        )
        .orderBy("prio")
    )


COMPACT_SMALL_SQL = f"""
SELECT 'compact_small' AS mode, CAST({_SPRAWL_N} AS INTEGER)
         AS n_members_before,
       CAST(1 AS INTEGER) AS n_members_after,
       CAST({_SPRAWL_N} AS INTEGER) AS n_rewrote,
       CAST(1 AS INTEGER) AS n_added, CAST(1 AS INTEGER) AS dv_cleared,
       o_orderpriority AS prio, COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS sum_price
FROM orders WHERE o_orderpriority <> '{_SMALL_PRIO}'
GROUP BY o_orderpriority
ORDER BY prio
"""


#: the default-column narrative's splits (shared by Spark and SQL)
_DEF_MOD = 4       # v1 = k % 4 != 0; v3 appends k % 4 == 0 WITH the column
_SUBSET_MOD = 8    # v4 re-appends k % 8 == 1 OMITTING the column (-> NULL)
_DEF_VAL = 7       # the initial default backfilled onto v1's member


def _staged_default_store(spark: SparkSession, sf_dir: str) -> SnapshotStore:
    """v1 overwrite (no region_code) -> v2 add_column(region_code,
    default=7) -> v3 append WITH explicit values (k % 3) -> v4 subset
    append OMITTING the column (reads NULL: initial default only, write
    defaults deliberately not implied) -> v5 compact (materializes the
    backfill, defaults map empties)."""

    def build(base: str) -> None:
        store = SnapshotStore(base)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        store.commit(
            orders.where(F.col("o_orderkey") % _DEF_MOD != 0),
            mode="overwrite",
            stats_cols=["o_orderkey"],
        )
        store.add_column("region_code", "int", default=_DEF_VAL)
        store.commit(
            orders.where(F.col("o_orderkey") % _DEF_MOD == 0).withColumn(
                "region_code",
                (F.col("o_orderkey") % 3).cast("int"),
            ),
            mode="append",
        )
        store.commit(
            orders.where(F.col("o_orderkey") % _SUBSET_MOD == 1),
            mode="append",
        )
        store.compact(spark)

    return SnapshotStore(staged(sf_dir, "snapdef1", build))


def storage_default_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial DEFAULT for an added column (Iceberg v3 initial-default
    semantics): pre-evolution rows read 7, post-evolution explicit
    values and explicit NULL-by-omission survive untouched, and the v5
    compaction MATERIALIZES the backfill (defaults map empty) without
    changing a single value — the same aggregate is pinned at v4
    (backfill active) and v5 (physical), one oracle for both read
    paths. Metadata-only evolution: no data file was touched at v2."""
    store = _staged_default_store(spark, sf_dir)
    d4, d5 = store.manifest(4), store.manifest(5)
    out = None
    for v, doc in ((4, d4), (5, d5)):
        part = (
            store.read(spark, v)
            .groupBy(
                F.coalesce(F.col("region_code"), F.lit(-1)).alias("rc")
            )
            .agg(
                F.count("*").alias("n_rows"),
                (
                    F.sum(
                        F.round(F.col("o_totalprice") * 100).cast("long")
                    )
                    / 100.0
                ).alias("sum_price"),
            )
            .select(
                F.lit(v).alias("version"),
                F.lit(int(bool(doc.get("defaults")))).alias(
                    "defaults_active"
                ),
                "rc",
                "n_rows",
                "sum_price",
            )
        )
        out = part if out is None else out.unionAll(part)
    return out.orderBy("version", "rc")


DEFAULT_COLUMN_SQL = f"""
WITH final AS (
  SELECT {_DEF_VAL} AS rc, o_totalprice AS p
  FROM orders WHERE o_orderkey % {_DEF_MOD} <> 0
  UNION ALL
  SELECT CAST(o_orderkey % 3 AS INTEGER), o_totalprice
  FROM orders WHERE o_orderkey % {_DEF_MOD} = 0
  UNION ALL
  SELECT -1, o_totalprice
  FROM orders WHERE o_orderkey % {_SUBSET_MOD} = 1),
agg AS (
  SELECT rc, COUNT(*) AS n_rows,
         CAST(SUM(CAST(round(p * 100) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_price
  FROM final GROUP BY rc)
SELECT CAST(v.version AS INTEGER) AS version,
       CAST(v.active AS INTEGER) AS defaults_active,
       agg.rc, agg.n_rows, agg.sum_price
FROM agg CROSS JOIN (
  SELECT 4 AS version, 1 AS active
  UNION ALL SELECT 5, 0) v
ORDER BY version, rc
"""


QUERIES = {
    "storage_check_constraint": storage_check_constraint,
    "storage_compact_small": storage_compact_small,
    "storage_default_column": storage_default_column,
}

ORACLES = {
    "storage_check_constraint": CHECK_CONSTRAINT_SQL,
    "storage_compact_small": COMPACT_SMALL_SQL,
    "storage_default_column": DEFAULT_COLUMN_SQL,
}
