"""Sinks.

Reference parity (SURVEY.md S4, S5, S8):
- TSV sink ``df.write.csv(path, sep="\\t")`` (reference ``app/query.py:144``,
  ``app/prepare_data.py:29``)
- per-document ``.txt`` dump via ``df.foreach`` (reference
  ``app/prepare_data.py:20-26``) — kept for corpus-dump parity only
- delete-before-write (reference ``app/search.sh:5``) -> ``mode="overwrite"``
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_tsv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """TSV sink, overwrite semantics replacing the reference's manual
    ``hdfs dfs -rm -r`` before write (``app/search.sh:5``)."""
    df.write.mode(mode).csv(path, sep="\t")


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — the interchange format most LLM-data tooling speaks.
    One JSON object per line, written in parallel (one file per partition)."""
    df.write.mode(mode).json(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet layout (``path/col=value/...``).

    At 100 TB this is THE layout decision: a filter on a partition column
    prunes whole directories at planning time (zero I/O for excluded
    partitions) — the test asserts the scan's plan carries the pruned
    partition filter. Choose low-cardinality columns (date, lang,
    event_type); high-cardinality partitioning creates a small-file storm.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, within-partition-sorted parquet layout.

    ``repartitionByRange`` gives files DISJOINT value ranges on the sort
    key and ``sortWithinPartitions`` orders rows inside each file, so every
    row group's min/max statistics become tight: a reader filtering on the
    sort column skips whole files/row groups at the footer level. This is
    the poor-man's clustering key — at 100 TB, sorting event data by
    (event_type, ts) at write time is routinely a 10-100x scan reduction
    for time-ranged queries, for one extra shuffle at ingest."""
    parts = df.repartitionByRange(num_partitions, *sort_cols) if num_partitions \
        else df.repartitionByRange(*sort_cols)
    parts.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def morton_code(a_n, b_n, bits: int = 16):
    """Bit-interleave two ``bits``-bit normalized integer Columns into one
    Morton code (a in even positions, b in odd) — pure JVM integer
    expressions, property-tested against a Python reference in
    ``tests/test_sources.py``."""
    code = F.lit(0).cast("long")
    for i in range(bits):
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(a_n, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b_n, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return code


def write_zorder(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_partitions: int = 16,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-interleaved) clustering on TWO numeric columns.

    ``write_range_sorted`` gives perfect skipping on ONE column and none on
    the others; Z-ordering trades a little per-column tightness for
    simultaneous locality on both: each column is min/max-normalized to a
    ``bits``-bit integer, the two are bit-interleaved into one Morton code,
    and files are range-partitioned + sorted by the code. Nearby codes are
    nearby in BOTH dimensions, so every file covers a small rectangle of
    (a, b) space and parquet footer min/max stats prune files for
    predicates on EITHER column (`tests/test_sources.py` measures the
    two-dimensional skipping vs a linear sort).

    Scale notes: the only driver-side step is one 1-row min/max aggregate
    (a full scan, same cost class as any stats collection at ingest);
    the interleave itself is a pure JVM-side integer expression chain (no
    Python boundary). Min/max normalization is the Delta-OSS-style simple
    variant — a heavily skewed column concentrates codes and weakens
    skipping; the production upgrade is rank-based normalization via
    `operators/ranking.py`'s range-bucket boundaries, same interleave.
    """
    row = df.agg(
        F.min(col_a).alias("amn"),
        F.max(col_a).alias("amx"),
        F.min(col_b).alias("bmn"),
        F.max(col_b).alias("bmx"),
    ).first()
    amn, amx = float(row["amn"]), float(row["amx"])
    bmn, bmx = float(row["bmn"]), float(row["bmx"])
    top = (1 << bits) - 1

    def norm(c: str, mn: float, mx: float):
        if mx <= mn:
            return F.lit(0).cast("long")
        return F.least(
            F.lit(top).cast("long"),
            ((F.col(c).cast("double") - mn) * top / (mx - mn)).cast("long"),
        )

    a_n, b_n = norm(col_a, amn, amx), norm(col_b, bmn, bmx)
    code = morton_code(a_n, b_n, bits)
    (
        df.withColumn("_zcode", code)
        .repartitionByRange(num_partitions, "_zcode")
        .sortWithinPartitions("_zcode")
        .drop("_zcode")
        .write.mode(mode)
        .parquet(path)
    )


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the other columnar interchange format Spark ships a
    native vectorized reader/writer for. Same predicate-pushdown and
    column-pruning contract as parquet (ORC keeps min/max stream stats per
    stripe), so interchange with Hive-era warehouses costs no plan quality."""
    df.write.mode(mode).orc(path)


def write_csv_with_header(
    df: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """CSV sink with header — lossy (stringly) interchange; kept for the
    export surface only. Schema must be re-imposed on read (see
    readers.read_csv_with_schema) — inferSchema is a full extra pass at
    100 TB and type-guesses, so it is never used."""
    df.write.mode(mode).option("header", "true").csv(path)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction — the maintenance pass every streaming or
    micro-batch ingest needs: thousands of kilobyte files per partition
    turn scans into metadata storms (one task + one footer fetch each).
    Reads the directory, sizes the data from the files actually on disk,
    rewrites it as ``ceil(total_bytes / target_file_bytes)`` files, and
    returns the new file count.

    The rewrite goes through a temp dir + swap rather than overwriting in
    place, because ``mode("overwrite")`` on the path being read is a
    read-your-own-delete race. The swap order is crash-safe: the old data
    is renamed ASIDE (``<path>_old``), the new data renamed in, and only
    then is the old copy deleted — an interruption at any point leaves
    either the old or the new dataset at the canonical path (at worst plus
    a leftover ``_old``/``_compacting`` dir to sweep), never a missing
    path. Hive-partitioned roots are refused: compacting through
    ``read.parquet`` on a ``key=value`` tree would flatten the partition
    columns into plain data columns. At 100 TB run this per partition
    directory (e.g. per day), not on the table root, so each compaction is
    bounded and parallelizable across partitions."""
    import math
    import os
    import shutil

    for entry in os.listdir(path):
        if "=" in entry and os.path.isdir(os.path.join(path, entry)):
            raise ValueError(
                f"compact_parquet refuses the partitioned table root {path!r}"
                f" (found {entry!r}): compact each partition directory"
                " instead, or the partition columns would be flattened"
            )
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + "_compacting"
    old = path.rstrip("/") + "_old"
    df = spark.read.parquet(path)
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files
