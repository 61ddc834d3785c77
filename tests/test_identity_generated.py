"""Identity and generated columns on the snapshot store (Delta
``GENERATED ALWAYS AS IDENTITY`` / ``GENERATED ALWAYS AS (expr)``
re-expressed): engine-owned values, assigned/computed at every write —
unique monotone-past-watermark ids with gaps allowed (no shuffle, no
global sort), expressions materialized on commit/update/merge
post-images. Cross-engine gate: ``storage_identity_column`` in
plans/snapshot_queries.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.sources.snapshots import (
    SnapshotConflictError,
    SnapshotStore,
)


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


def test_identity_assigns_unique_monotone_ids(spark, sf_dir, tmp_path):
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(40), mode="overwrite")
    st.add_identity_column(spark, "row_id", start=100, step=2)
    got = st.read(spark)
    n = got.count()
    assert n == 40
    # unique, >= start, even steps from start
    assert got.select("row_id").distinct().count() == n
    assert got.where(F.col("row_id") < 100).count() == 0
    assert got.where((F.col("row_id") - 100) % 2 != 0).count() == 0
    wm1 = st.identity_columns()["row_id"]["watermark"]
    assert wm1 >= 100
    # later batches OMIT the column; ids stay unique and past the mark
    st.commit(orders.limit(25), mode="append")
    got2 = st.read(spark)
    assert got2.count() == 65
    assert got2.select("row_id").distinct().count() == 65
    assert st.identity_columns()["row_id"]["watermark"] > wm1
    # explicit values refuse (GENERATED ALWAYS)
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        st.commit(
            orders.limit(1).withColumn("row_id", F.lit(1).cast("long")),
            mode="append",
        )


def test_identity_survives_rewrites_and_refuses_merge_inserts(
    spark, sf_dir, tmp_path
):
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(30), mode="overwrite", stats_cols=["o_orderkey"])
    st.add_identity_column(spark, "row_id")
    ids_before = sorted(
        r["row_id"] for r in st.read(spark).select("row_id").collect()
    )
    # compaction / delete / update preserve assigned ids
    st.delete_where(spark, F.col("o_orderkey") % 5 == 0)
    st.update_where(
        spark, F.col("o_orderkey") % 3 == 0, {"o_totalprice": F.lit(1.0)}
    )
    st.compact(spark)
    got = st.read(spark)
    ids_after = sorted(r["row_id"] for r in got.select("row_id").collect())
    assert set(ids_after) <= set(ids_before)
    assert got.select("row_id").distinct().count() == got.count()
    # update_where cannot assign the identity column
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        st.update_where(
            spark, F.lit(True), {"row_id": F.lit(0).cast("long")}
        )
    # merge UPDATES of existing keys keep the row's id ...
    some_key = got.select("o_orderkey").first()[0]
    upd = (
        got.where(F.col("o_orderkey") == some_key)
        .select("o_orderkey")
        .withColumn("o_totalprice", F.lit(42.0))
        .withColumn("_op", F.lit("upsert"))
    )
    st.merge(spark, upd, keys=["o_orderkey"])
    row = (
        st.read(spark).where(F.col("o_orderkey") == some_key).first()
    )
    assert row["o_totalprice"] == 42.0 and row["row_id"] is not None
    # ... but a merge INSERT (new key) refuses loudly
    ins = (
        spark.range(1)
        .select(F.lit(-999).alias("o_orderkey"))
        .withColumn("o_totalprice", F.lit(1.0))
        .withColumn("_op", F.lit("upsert"))
    )
    with pytest.raises(ValueError, match="identity"):
        st.merge(spark, ins, keys=["o_orderkey"])
    with pytest.raises(ValueError, match="identity"):
        st.merge_on_read(spark, ins, keys=["o_orderkey"])
    # a batch carrying the identity column refuses before any join
    with pytest.raises(ValueError, match="identity"):
        st.merge(
            spark,
            upd.withColumn("row_id", F.lit(7).cast("long")),
            keys=["o_orderkey"],
        )


def test_generated_column_materializes_and_recomputes(
    spark, sf_dir, tmp_path
):
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(30), mode="overwrite")
    st.add_generated_column(
        spark, "price_band", "int", "CAST(o_totalprice / 50000 AS INT)"
    )
    got = st.read(spark)
    assert got.where(
        F.col("price_band")
        != (F.col("o_totalprice") / 50000).cast("int")
    ).count() == 0
    # commits compute it; carrying it explicitly refuses
    st.commit(orders.limit(10), mode="append")
    assert st.read(spark).where(F.col("price_band").isNull()).count() == 0
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        st.commit(
            orders.limit(1).withColumn("price_band", F.lit(0)),
            mode="append",
        )
    # update of a SOURCE column recomputes the derived value
    k = st.read(spark).select("o_orderkey").first()[0]
    st.update_where(
        spark,
        F.col("o_orderkey") == k,
        {"o_totalprice": F.lit(150000.0)},
    )
    row = st.read(spark).where(F.col("o_orderkey") == k).first()
    assert row["price_band"] == 3
    # assigning the generated column itself refuses
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        st.update_where(spark, F.lit(True), {"price_band": F.lit(9)})
    # merge post-images recompute too (single literal change row — the
    # table may hold duplicate keys from the overlapping appends)
    upd = (
        spark.range(1)
        .select(F.lit(k).alias("o_orderkey"))
        .withColumn("o_totalprice", F.lit(250000.0))
        .withColumn("_op", F.lit("upsert"))
    )
    st.merge_on_read(spark, upd, keys=["o_orderkey"])
    row = st.read(spark).where(F.col("o_orderkey") == k).first()
    assert row["o_totalprice"] == 250000.0 and row["price_band"] == 5


def test_generated_source_ddl_refusals(spark, sf_dir, tmp_path):
    st = SnapshotStore(str(tmp_path))
    st.commit(_orders(spark, sf_dir).limit(10), mode="overwrite")
    st.add_generated_column(
        spark, "band", "int", "CAST(o_totalprice / 50000 AS INT)"
    )
    with pytest.raises(ValueError, match="references"):
        st.rename_column("o_totalprice", "p")
    with pytest.raises(ValueError, match="references"):
        st.drop_column("o_totalprice")
    # the generated column itself can be renamed and dropped
    st.rename_column("band", "price_band")
    assert "price_band" in st.generated_columns()
    st.drop_column("price_band")
    assert st.generated_columns() == {}
    # a batch omitting a generated SOURCE column refuses loudly
    st.add_generated_column(
        spark, "band2", "int", "CAST(o_totalprice / 50000 AS INT)"
    )
    with pytest.raises(ValueError, match="source columns"):
        st.commit(
            _orders(spark, sf_dir).select("o_orderkey").limit(2),
            mode="append",
        )
