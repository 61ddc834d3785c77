"""Bucketed-table storage layout: pre-paying the join/agg shuffle at write
time.

At 100 TB the dominant recurring cost of a fact table is re-shuffling it on
the same join key for every query. ``bucketBy(N, key)`` hash-partitions the
data into N stable buckets AT WRITE TIME and records the layout in the
catalog; every later equi-join or aggregation on that key reads co-located
buckets and skips the Exchange entirely (SortMergeJoin with zero shuffle
when both sides share the bucket spec, partial+final HashAggregate with no
Exchange for a bucket-key groupBy). One shuffle at ingest amortized over
every downstream query — the single highest-leverage layout decision for a
repeatedly-joined fact table.

No counterpart in the reference (its "storage layout" is Cassandra tables,
``app/cassandra/schema.cql``); this is the Spark-first extension surface
per SURVEY.md §7.6. Results are hash-gated against DuckDB oracles; the
shuffle-free plan shapes are asserted in ``tests/test_storage.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table, staged

_N_BUCKETS = 8


def bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    n_buckets: int = _N_BUCKETS,
) -> DataFrame:
    """Materialize one fixture table as a bucketed+sorted catalog table
    (idempotent per session: re-registers only if absent).

    ``bucketBy`` requires ``saveAsTable`` (the layout lives in the catalog,
    not the files); an explicit ``path`` keeps the data under tmp instead of
    the session's warehouse dir, so this works under any caller-built
    SparkSession including the grading driver's. ``sortBy(key)`` adds
    within-bucket order, so bucket-key sort-merge joins skip the per-task
    sort too and row-group min/max stats stay tight on the key.

    The staged data directory is the cache; the catalog entry, named
    after it, is only a view of it. The name encodes the FULL bucket
    spec: registering a path under a different spec would let Spark skip
    shuffles against mismatched files (silent wrong join results). A
    rebuild drops and rewrites the entry. A session whose catalog
    lacks the entry while the data is current registers it with a
    metadata-only DDL and never rewrites the files: they are shared
    under /tmp, and a rewrite renames every part file under a
    concurrent reader that has the old listing cached.
    """

    def build(path: str) -> None:
        name = os.path.basename(path)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            load_table(spark, sf_dir, table)
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", path)
            .saveAsTable(name)
        )

    path = staged(sf_dir, f"bkt_{table}_{key}_{n_buckets}", build)
    name = os.path.basename(path)
    if not spark.catalog.tableExists(name):
        schema = spark.read.parquet(path).schema
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING parquet "
            f"CLUSTERED BY (`{key}`) SORTED BY (`{key}`) "
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
        )
    return spark.table(name)


def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders ⋈ customer on ``custkey`` where BOTH sides are bucketed on the
    join key with the same bucket count: the physical plan is a
    SortMergeJoin with no Exchange on either side (asserted in
    ``tests/test_storage.py`` with broadcast disabled) — the join runs
    entirely on co-located buckets. A within-partition Sort node remains
    (Spark elides it only for single-file buckets), but ``sortBy`` at
    write time makes it a near-no-op pass over already-ordered rows.

    The per-segment rollup after the join is the only shuffle in the query
    — 5 groups, negligible at any scale."""
    orders = bucketed_table(spark, sf_dir, "orders", "o_custkey")
    customer = bucketed_table(spark, sf_dir, "customer", "c_custkey")
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey, "inner"
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
        )
        .orderBy("c_mktsegment")
    )


BUCKETED_JOIN_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def bucketed_agg_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order profile computed on the bucketed orders table:
    the groupBy key equals the bucket key, so the scan's hash distribution
    already satisfies the aggregation — the plan contains NO Exchange at
    all (asserted in ``tests/test_storage.py``). On an unbucketed table the
    identical query shuffles the full fact table."""
    orders = bucketed_table(spark, sf_dir, "orders", "o_custkey")
    return orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "spend_cents"
        ),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


BUCKETED_AGG_SQL = """
SELECT o_custkey,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS spend_cents,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM orders
GROUP BY o_custkey
"""


def partitioned_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning as a first-class gated query: documents
    are rewritten ``partitionBy("lang")`` (low-cardinality layout column),
    then a single-language readout filters on the partition column — the
    filter resolves at PLANNING time against directory names
    (``PartitionFilters`` in the scan, asserted in ``tests/test_storage.py``),
    so excluded languages cost zero I/O. At 100 TB, date/lang/source
    partitioning is the first line of scan reduction; the failure mode to
    avoid is high-cardinality partition columns (small-file storm), which is
    why doc_id-like keys get bucketing (above) instead."""
    from ..sources.sinks import write_partitioned

    path = staged(
        sf_dir,
        "docs_bylang",
        lambda p: write_partitioned(
            load_table(spark, sf_dir, "documents"), p, ["lang"]
        ),
    )
    back = spark.read.parquet(path)
    return (
        back.where(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


PARTITION_PRUNED_SQL = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE lang = 'en'
GROUP BY source ORDER BY source
"""


def _staged_evolving_orders(spark: SparkSession, sf_dir: str) -> str:
    """Two parquet 'writer vintages' of orders under one root — v1 files
    (pre-1998) were written WITHOUT o_orderpriority and before o_channel
    existed; v2 files carry the full schema plus the new column. The
    schema-drift reality of any long-lived 100 TB table."""

    def build(root: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        cut = F.lit("1998-01-01").cast("timestamp")
        (
            orders.where(F.col("o_orderdate") < cut)
            .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
            .write.mode("overwrite")
            .parquet(os.path.join(root, "v1"))
        )
        (
            orders.where(F.col("o_orderdate") >= cut)
            .withColumn(
                "o_channel",
                F.element_at(
                    F.array(F.lit("web"), F.lit("store"), F.lit("phone")),
                    (F.pmod(F.col("o_orderkey"), F.lit(3)) + 1).cast("int"),
                ),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(root, "v2"))
        )

    return staged(sf_dir, "evolving_orders", build)


def orders_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift audit over a mixed-vintage parquet table: read both
    writer generations in ONE scan with ``mergeSchema=true`` (old files
    surface NULL for columns they predate) and profile per-year presence
    of the drifted columns.

    mergeSchema reconciles footers at planning time (one footer read per
    file — at 100 TB a table format's schema registry replaces this);
    rows never rewrite. The audit output is the migration readout: which
    partitions still need backfill, which carry the new column. The
    oracle reconstructs the same union semantics from the original
    table."""
    root = _staged_evolving_orders(spark, sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "v1"), os.path.join(root, "v2")
    )
    return (
        df.groupBy(F.year("o_orderdate").alias("year"))
        .agg(
            F.count("*").alias("n_orders"),
            F.count("o_orderpriority").alias("n_with_priority"),
            F.count("o_channel").alias("n_with_channel"),
            # exact integer-cents sum, one frozen division (the raw
            # double SUM's rounded tail is partial-order-dependent at
            # 10x magnitudes — r11 oracle-sweep find)
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0
            ).alias("revenue"),
        )
        .orderBy("year")
    )


SCHEMA_EVOLUTION_SQL = """
WITH unified AS (
  SELECT o_orderkey, o_orderdate, o_totalprice,
         CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
              THEN o_orderpriority END AS o_orderpriority,
         CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
              THEN ['web', 'store', 'phone'][CAST(o_orderkey % 3 AS INTEGER) + 1]
         END AS o_channel
  FROM orders
)
SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
       count(*) AS n_orders,
       count(o_orderpriority) AS n_with_priority,
       count(o_channel) AS n_with_channel,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS revenue
FROM unified
GROUP BY 1
ORDER BY year
"""


QUERIES = {
    "bucketed_join_colocated": bucketed_join_colocated,
    "bucketed_agg_no_shuffle": bucketed_agg_no_shuffle,
    "partitioned_scan_pruned": partitioned_scan_pruned,
    "orders_schema_evolution_scan": orders_schema_evolution_scan,
}

ORACLES = {
    "bucketed_join_colocated": BUCKETED_JOIN_SQL,
    "bucketed_agg_no_shuffle": BUCKETED_AGG_SQL,
    "partitioned_scan_pruned": PARTITION_PRUNED_SQL,
    "orders_schema_evolution_scan": SCHEMA_EVOLUTION_SQL,
}
