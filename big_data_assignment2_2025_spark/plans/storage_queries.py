"""Physical storage layout and file formats: bucketing, partition pruning,
Z-order clustering, manifest-stats file skipping, schema-evolving scans
and JSONL/ORC/TSV round-trips.

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

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.materialize import materialized
from ..sources.readers import (
    load_table,
    read_corpus_tsv,
    read_documents,
    scratch_dir,
    staged,
)
from ..sources.sinks import write_jsonl, write_orc, write_tsv


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


# S4/S3  TSV sink + schema'd TSV source round-trip (reference
# prepare_data.py:29 write, mapper1.py:11-15 read)
def tsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the corpus through the TSV sink (S4) and read it back through
    the schema'd TSV source (S3); values must survive the round-trip."""
    corpus = read_documents(spark, sf_dir)
    out = scratch_dir(sf_dir, "tsv_rt")
    write_tsv(corpus, out)
    back = read_corpus_tsv(spark, out)
    return back.select(
        "doc_id", "doc_title", F.length("text").alias("n_chars")
    )


TSV_ROUNDTRIP_SQL = """
SELECT doc_id, 'doc_' || doc_id AS doc_title, length(text) AS n_chars
FROM documents WHERE text IS NOT NULL
"""


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the documents table through the ORC sink and read it back via
    Spark's built-in columnar ORC reader; values must survive losslessly.
    ORC is the second first-class columnar format after parquet — same
    vectorized scan, predicate pushdown and column pruning apply."""
    docs = load_table(spark, sf_dir, "documents")
    out = scratch_dir(sf_dir, "orc_rt")
    write_orc(docs, out)
    back = spark.read.orc(out)
    return back.select("doc_id", "lang", "source", "n_chars")


ORC_ROUNDTRIP_SQL = """
SELECT doc_id, lang, source, n_chars FROM documents
"""


def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the documents table as JSON-lines and read it back with the
    ORIGINAL schema applied (inference would widen/narrow types and drop
    null-only columns — schema'd reads are the production contract for
    line-JSON interchange)."""
    docs = load_table(spark, sf_dir, "documents")
    out = scratch_dir(sf_dir, "jsonl_rt")
    write_jsonl(docs, out)
    back = spark.read.schema(docs.schema).json(out)
    return back.select("doc_id", "lang", "source", "n_chars")


JSONL_ROUNDTRIP_SQL = """
SELECT doc_id, lang, source, n_chars FROM documents
"""


# --------------------------------------------------------------------------
# File-manifest data skipping
# --------------------------------------------------------------------------

#: files the staged copy is range-split into (≥ this many distinct ranges)
_N_RANGE_FILES = 8

#: the skipping predicate: calendar-year 1997
_LO, _HI = "1997-01-01", "1998-01-01"


def _staged_range_orders(spark: SparkSession, sf_dir: str) -> str:
    """Orders re-written ``repartitionByRange(o_orderdate)`` into a staged
    per-fixture dir — the "range-clustered table" a lakehouse would
    maintain."""
    return staged(
        sf_dir,
        "rangeparts_orders",
        lambda path: load_table(spark, sf_dir, "orders")
        .repartitionByRange(_N_RANGE_FILES, "o_orderdate")
        .write.mode("overwrite")
        .parquet(path),
    )


def manifest_for(spark: SparkSession, path: str) -> list[dict]:
    """Per-file min/max manifest for a range-written parquet dir: one
    small aggregate keyed on ``input_file_name()`` (n_files rows — the
    collect is bounded by file count, never row count). A real table
    format serves these stats from its metadata layer for free; building
    them here costs one column-pruned scan, amortized across every query
    that skips with them."""
    rows = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min("o_orderdate").alias("lo"),
            F.max("o_orderdate").alias("hi"),
            F.count("*").alias("n_rows"),
        )
        .collect()
    )
    return [r.asDict() for r in rows]


# file-manifest data skipping (``orders_manifest_skipping``): the
# Iceberg/Delta scan-planning pattern — per-FILE min/max statistics kept in
# a manifest let the planner drop whole files before the scan starts.
# Distinct from the two layout queries already gated: Hive partition
# pruning (``partitioned_scan_pruned``) needs the key baked into the
# directory scheme, and Z-order (``write_zorder``) tightens ROW-GROUP stats
# inside files; the manifest prunes at FILE granularity with no layout
# contract beyond "files were range-written". The staged orders copy is
# ``repartitionByRange(o_orderdate)`` so date ranges per file are tight;
# the manifest is one small aggregate (n_files rows — KBs at 100 TB where
# a real table format would serve it from metadata, no data scan at all),
# and the pruned read lists only the files whose [min,max] overlaps the
# predicate. The oracle filters the original table, so the gate proves
# skipping loses no rows.
def orders_manifest_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order count + revenue for 1997, scanning ONLY the files
    whose manifest [min,max] overlaps the year.

    Planner-side step: filter the (tiny) manifest for range overlap and
    hand the surviving file list to the reader — whole files outside the
    predicate are never opened (file-level skipping, above and beyond the
    row-group skipping parquet footers already give within each file).
    The exact predicate is still applied after the read: manifest pruning
    is a superset filter, correctness never depends on it."""
    path = _staged_range_orders(spark, sf_dir)
    manifest = manifest_for(spark, path)
    lo, hi = F.lit(_LO).cast("timestamp"), F.lit(_HI).cast("timestamp")

    def _as_dt(v):  # DATE-typed fixture vintages collect as date, not datetime
        if isinstance(v, _dt.datetime):
            return v
        if isinstance(v, _dt.date):
            return _dt.datetime(v.year, v.month, v.day)
        return v

    keep = [
        m["file"]
        for m in manifest
        if _as_dt(m["hi"]) >= _dt.datetime(1997, 1, 1)
        and _as_dt(m["lo"]) < _dt.datetime(1998, 1, 1)
    ]
    if not keep:  # degenerate fixture: nothing in range — empty, stable schema
        keep = [m["file"] for m in manifest[:1]]
    pruned = spark.read.parquet(*keep).where(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    return (
        pruned.groupBy(
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .orderBy("month")
    )


MANIFEST_SKIPPING_SQL = f"""
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_LO}' AND o_orderdate < TIMESTAMP '{_HI}'
GROUP BY 1
ORDER BY month
"""


# --------------------------------------------------------------------------
# Z-order clustering + manifest-stats file skipping (functions/zorder.py)
# --------------------------------------------------------------------------

_Z_BITS = 16
_Z_COMMITS = 8


def _scale16_expr(col: str, vmax: int):
    """Monotone exact-integer fixed-point map of ``col`` into
    [0, 2^_Z_BITS): ``v * (2^b - 1) DIV (vmax + 1)`` — integer DIV, so
    no float-boundary flips; ``v * 65535`` stays far under 2^63 for any
    real key domain."""
    return F.expr(
        f"CAST(({col} * {(1 << _Z_BITS) - 1}) DIV {vmax + 1} AS BIGINT)"
    )


def _scale16_py(v: int, vmax: int) -> int:
    return v * ((1 << _Z_BITS) - 1) // (vmax + 1)


def _staged_zorder_store(spark: SparkSession, sf_dir: str) -> str:
    """Lineitem re-clustered BY MORTON KEY into a SnapshotStore of
    ``_Z_COMMITS`` zkey-range members with zkey stats — the layout
    ``OPTIMIZE ZORDER BY (l_partkey, l_suppkey)`` produces: every file's
    [min, max] zkey envelope is tight, so a 2-D box query prunes files
    through ONE column's stats. Fingerprint-gated like all derived
    copies."""
    from ..functions.zorder import zorder_key2
    from ..sources.snapshots import SnapshotStore

    def build(base: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
        )
        # coordinates are NORMALIZED into the _Z_BITS budget by a
        # monotone exact-integer fixed-point map v*(2^b-1) DIV (max+1)
        # (Delta's OPTIMIZE ZORDER range-ids, closed-form): ANY key
        # domain fits — the r11 10x fixture's 9e8 keys used to trip a
        # hard budget guard here. Monotone per-dimension maps preserve
        # the box -> z-range SUPERSET guarantee; coordinate collisions
        # only loosen pruning, never correctness (the exact predicate
        # re-applies after the prune).
        mx = li.agg(
            F.max("l_partkey").alias("p"), F.max("l_suppkey").alias("s")
        ).collect()[0]
        pc = _scale16_expr("l_partkey", int(mx["p"]))
        sc = _scale16_expr("l_suppkey", int(mx["s"]))
        # one materialization of the 32-term bit fold serves the zmax
        # probe and all 8 bucket writes (staging would otherwise rescan
        # lineitem and re-evaluate the fold once per bucket); bound: the
        # four-column lineitem projection plus its key
        with materialized(
            li.withColumn("zkey", zorder_key2(pc, sc, bits=_Z_BITS))
        ) as z:
            zmax = z.agg(F.max("zkey")).collect()[0][0]
            store = SnapshotStore(base)
            for b in range(_Z_COMMITS):
                chunk = z.where(
                    F.col("zkey") * _Z_COMMITS / (zmax + 1) >= b
                ).where(F.col("zkey") * _Z_COMMITS / (zmax + 1) < b + 1)
                store.commit(
                    chunk,
                    mode="overwrite" if b == 0 else "append",
                    stats_cols=["zkey"],
                )

    return staged(sf_dir, "zorderstore", build)


def _zkey_py(x: int, y: int, bits: int = _Z_BITS) -> int:
    key = 0
    for i in range(bits):
        key += ((x >> i) & 1) << (2 * i)
        key += ((y >> i) & 1) << (2 * i + 1)
    return key


def storage_zorder_box_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Axis-aligned box aggregate (l_partkey x l_suppkey) served from the
    Z-ORDERED store through manifest-stats pruning: the box maps to the
    zkey range [zkey(p1, s1), zkey(p2, s2)] (valid superset by the Morton
    key's per-coordinate monotonicity), ``read_where`` opens only members
    whose zkey envelope overlaps it, and the exact box predicate
    re-applies after the prune. The oracle is a PLAIN box filter over the
    source table — pruning must be semantically invisible, which is
    precisely what the hash gate checks. tests/test_zorder.py pins that
    members really are skipped (inputFiles) and that a corner box prunes
    most of the store."""
    from ..sources.snapshots import SnapshotStore

    store = SnapshotStore(_staged_zorder_store(spark, sf_dir))
    li = load_table(spark, sf_dir, "lineitem")
    mx = li.agg(
        F.max("l_partkey").alias("p"), F.max("l_suppkey").alias("s")
    ).collect()[0]
    pmax, smax = int(mx["p"]), int(mx["s"])
    p1, p2 = 0, pmax // 4
    s1, s2 = 0, smax // 4
    # box bounds map through the SAME monotone normalization the writer
    # used, so [zkey(f(p1),f(s1)), zkey(f(p2),f(s2))] stays a superset
    lo = _zkey_py(_scale16_py(p1, pmax), _scale16_py(s1, smax))
    hi = _zkey_py(_scale16_py(p2, pmax), _scale16_py(s2, smax))
    pruned = store.read_where(spark, "zkey", lo, hi + 1)
    return (
        pruned.where(
            F.col("l_partkey").between(p1, p2)
            & F.col("l_suppkey").between(s1, s2)
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


STORAGE_ZORDER_BOX_SQL = """
WITH b AS (
  SELECT CAST(MAX(l_partkey) // 4 AS BIGINT) AS p2,
         CAST(MAX(l_suppkey) // 4 AS BIGINT) AS s2
  FROM lineitem)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem, b
WHERE l_partkey BETWEEN 0 AND b.p2 AND l_suppkey BETWEEN 0 AND b.s2
"""


def zorder_key_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine gate for the Morton-key bit math itself: the 20
    largest zkeys over distinct (l_partkey, l_suppkey) pairs, engine vs
    the oracle's identical integer fold."""
    from ..functions.zorder import zorder_key2

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    return (
        li.withColumn(
            "zkey", zorder_key2("l_partkey", "l_suppkey", bits=_Z_BITS)
        )
        # Tiebreak on the raw coordinates: zkey is injective only while
        # both coordinates fit the bit budget (sf0.1 does; sf1's
        # l_partkey does not), so the LIMIT cut must not depend on it.
        .orderBy(F.desc("zkey"), F.asc("l_partkey"), F.asc("l_suppkey"))
        .limit(20)
        .select("l_partkey", "l_suppkey", "zkey")
    )


def _zorder_topk_sql() -> str:
    from ..functions.zorder import zorder_key2_sql

    z = zorder_key2_sql("l_partkey", "l_suppkey", bits=_Z_BITS)
    return f"""
WITH d AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT l_partkey, l_suppkey, CAST({z} AS BIGINT) AS zkey
FROM d ORDER BY zkey DESC, l_partkey ASC, l_suppkey ASC LIMIT 20
"""


QUERIES = {
    "bucketed_join_colocated": bucketed_join_colocated,
    "bucketed_agg_no_shuffle": bucketed_agg_no_shuffle,
    "partitioned_scan_pruned": partitioned_scan_pruned,
    "orders_schema_evolution_scan": orders_schema_evolution_scan,
    "tsv_roundtrip": tsv_roundtrip,
    "orc_roundtrip": orc_roundtrip,
    "jsonl_roundtrip": jsonl_roundtrip,
    "orders_manifest_skipping": orders_manifest_skipping,
    "storage_zorder_box_read": storage_zorder_box_read,
    "zorder_key_topk": zorder_key_topk,
}

ORACLES = {
    "bucketed_join_colocated": BUCKETED_JOIN_SQL,
    "bucketed_agg_no_shuffle": BUCKETED_AGG_SQL,
    "partitioned_scan_pruned": PARTITION_PRUNED_SQL,
    "orders_schema_evolution_scan": SCHEMA_EVOLUTION_SQL,
    "tsv_roundtrip": TSV_ROUNDTRIP_SQL,
    "orc_roundtrip": ORC_ROUNDTRIP_SQL,
    "jsonl_roundtrip": JSONL_ROUNDTRIP_SQL,
    "orders_manifest_skipping": MANIFEST_SKIPPING_SQL,
    "storage_zorder_box_read": STORAGE_ZORDER_BOX_SQL,
    "zorder_key_topk": _zorder_topk_sql(),
}
