"""Initial DEFAULT values for added columns (Iceberg v3 initial
defaults re-expressed): ``add_column(name, dtype, default=v)`` records
which members predate the column; reads backfill exactly those with the
value — genuine NULLs written later stay NULL — and rewrites
materialize the value and drop the entry. Cross-engine gate:
``storage_default_column`` in plans/snapshot_queries.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.sources.snapshots import SnapshotStore


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_totalprice"
    )


def test_default_backfills_only_pre_evolution_members(
    spark, sf_dir, tmp_path
):
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(50), mode="overwrite")
    st.add_column("region_code", "int", default=7)
    # a post-evolution batch with explicit values
    st.commit(
        orders.limit(20).withColumn("region_code", F.lit(1)),
        mode="append",
    )
    # a post-evolution batch with an explicit NULL — must STAY NULL
    st.commit(
        orders.limit(10).withColumn(
            "region_code", F.lit(None).cast("int")
        ),
        mode="append",
    )
    # a post-evolution SUBSET write omitting the column — reads NULL
    # (write defaults are not implied; only the initial default is)
    st.commit(orders.limit(5), mode="append")
    got = st.read(spark).groupBy("region_code").count()
    by = {r["region_code"]: r["count"] for r in got.collect()}
    assert by == {7: 50, 1: 20, None: 15}


def test_rewrites_materialize_defaults(spark, sf_dir, tmp_path):
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(30), mode="overwrite")
    st.add_column("src", "string", default="legacy")
    assert st.manifest(st.latest_version())["defaults"]
    v = st.compact(spark)
    doc = st.manifest(v)
    # the rewrite read the logical rows (default applied) and wrote them
    # physically: the backfill entry is gone, the value survives
    assert not doc.get("defaults")
    assert st.read(spark).where(F.col("src") == "legacy").count() == 30
    # the compacted member physically carries the column
    raw = spark.read.parquet(
        os.path.join(str(tmp_path), doc["members"][0])
    )
    assert "src" in raw.columns
    assert raw.where(F.col("src") == "legacy").count() == 30


def test_default_type_cast_and_overwrite_clears(spark, sf_dir, tmp_path):
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(10), mode="overwrite")
    st.add_column("weight", "double", default=2)  # int literal, double col
    row = st.read(spark).select("weight").first()
    assert isinstance(row["weight"], float) and row["weight"] == 2.0
    st.commit(
        orders.limit(5).withColumn("weight", F.lit(1.5)), mode="overwrite"
    )
    assert not st.manifest(st.latest_version()).get("defaults")
    # non-scalar defaults refuse
    with pytest.raises(ValueError, match="JSON scalar"):
        st.add_column("bad", "int", default=[1, 2])


def test_default_through_format_api_and_dv_masking(
    spark, sf_dir, tmp_path
):
    from big_data_assignment2_2025_spark.sources.snapshot_source import (
        SnapshotStreamDataSource,
    )

    spark.dataSource.register(SnapshotStreamDataSource)
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(40), mode="overwrite")
    st.add_column("region_code", "int", default=7)
    st.delete_where(spark, F.col("o_orderkey") % 2 == 0)
    native = {tuple(r) for r in st.read(spark).collect()}
    fmt = {
        tuple(r)
        for r in spark.read.format("snapshotstream")
        .option("path", str(tmp_path))
        .load()
        .collect()
    }
    assert fmt == native
    assert all(r[-1] == 7 for r in fmt)  # default visible through Arrow
    assert 0 < len(fmt) < 40  # and the DV masking composed with it


def test_default_survives_update_where_and_merge(spark, sf_dir, tmp_path):
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(30), mode="overwrite", stats_cols=["o_orderkey"])
    st.add_column("region_code", "int", default=7)
    # update post-images are derived from the LOGICAL read: the default
    # materializes into the post-image member
    st.update_where(
        spark,
        F.col("o_orderkey") % 3 == 0,
        {"o_totalprice": F.lit(1.0)},
    )
    got = st.read(spark)
    assert got.where(F.col("region_code") == 7).count() == got.count()
    # merge-on-read upserts carrying the column coexist with backfill
    ups = (
        orders.limit(4)
        .withColumn("region_code", F.lit(2))
        .withColumn("_op", F.lit("upsert"))
    )
    st.merge_on_read(spark, ups, keys=["o_orderkey"])
    by = {
        r["region_code"]: r["count"]
        for r in st.read(spark).groupBy("region_code").count().collect()
    }
    assert by[2] == 4 and by[7] == got.count() - 4


def test_default_cast_parity_native_vs_arrow(spark, sf_dir, tmp_path):
    """r13 ADVICE regression: a default whose Python type needs a CAST
    to the column type (string -> date here) must read identically via
    the native path (F.lit().cast) and the format-API Arrow path
    (pa.array().cast) — the typed-array construction used to raise
    ArrowInvalid only on the Arrow side."""
    from big_data_assignment2_2025_spark.sources.snapshot_source import (
        SnapshotStreamDataSource,
    )

    spark.dataSource.register(SnapshotStreamDataSource)
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(8), mode="overwrite")
    st.add_column("as_of", "date", default="2020-01-31")
    native = {tuple(r) for r in st.read(spark).collect()}
    fmt = {
        tuple(r)
        for r in spark.read.format("snapshotstream")
        .option("path", str(tmp_path))
        .load()
        .collect()
    }
    assert fmt == native
    assert all(str(r[-1]) == "2020-01-31" for r in fmt)
    # an uncastable default refuses at DECLARE time, on both paths
    with pytest.raises(ValueError, match="not castable"):
        st.add_column("bad_date", "date", default="not-a-date")
    with pytest.raises(ValueError, match="not castable"):
        st.add_column("bad_int", "int", default="abc")
