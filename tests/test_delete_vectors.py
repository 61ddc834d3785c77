"""Deletion vectors / merge-on-read on the snapshot store
(sources/snapshots.py): row-level DELETE and MERGE that mask rows with
position-delete files instead of rewriting members — Delta DVs /
Iceberg position deletes re-expressed over parquet `_metadata`
row addresses.

Invariants pinned here (the cross-engine hash gates are
``storage_delete_vectors`` / ``storage_merge_on_read`` in
plans/snapshot_queries.py):
- a delete publishes an UNCHANGED member list (no data rewrite),
- reads mask exactly the deleted positions; time travel sees them,
- merge_on_read is row-for-row equivalent to the copy-on-write merge,
- DVs survive append/alter, die with overwrite/compact(affected rewrite),
- vacuum treats DV files as reachable data,
- the change feed reports deletes as events, never by rewriting history.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.sources.snapshots import SnapshotStore


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


def _store(spark, sf_dir, tmp_path, stats=True):
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    kw = {"stats_cols": ["o_orderkey"]} if stats else {}
    st.commit(orders.where(F.col("o_orderkey") % 2 == 0),
              mode="overwrite", **kw)
    st.commit(orders.where(F.col("o_orderkey") % 2 == 1),
              mode="append", **kw)
    return st, orders


def test_delete_masks_rows_without_rewriting(spark, sf_dir, tmp_path):
    st, orders = _store(spark, sf_dir, tmp_path)
    before = st.manifest(2)
    v = st.delete_where(spark, F.col("o_orderpriority") == "5-LOW")
    doc = st.manifest(v)
    assert doc["mode"] == "delete"
    assert doc["members"] == before["members"]  # zero rewrite
    assert doc["added"] == []
    assert doc["deletes"]  # the DV entries
    want = orders.where(F.col("o_orderpriority") != "5-LOW")
    got = st.read(spark)
    assert got.count() == want.count()
    assert (
        got.agg(F.sum("o_orderkey")).first()[0]
        == want.agg(F.sum("o_orderkey")).first()[0]
    )
    # time travel: the pre-delete version still sees every row
    assert st.read(spark, 2).count() == orders.count()
    # pruned reads apply the mask too
    assert (
        st.read_where(spark, "o_orderkey", 1, 10**9)
        .where(F.col("o_orderpriority") == "5-LOW")
        .count()
        == 0
    )


def test_delete_change_feed_and_no_op(spark, sf_dir, tmp_path):
    st, orders = _store(spark, sf_dir, tmp_path)
    v = st.delete_where(spark, F.col("o_orderpriority") == "5-LOW")
    feed = st.read_changes(spark, 2, v)
    n_del = orders.where(F.col("o_orderpriority") == "5-LOW").count()
    assert feed.where(F.col("_change_type") == "delete").count() == n_del
    assert feed.count() == n_del  # nothing else in a delete version
    # a predicate matching nothing publishes NO version
    assert st.delete_where(spark, F.col("o_orderpriority") == "9-NONE") == v
    assert st.latest_version() == v


def test_stacked_deletes_and_append_carries_dvs(spark, sf_dir, tmp_path):
    st, orders = _store(spark, sf_dir, tmp_path)
    st.delete_where(spark, F.col("o_orderpriority") == "5-LOW")
    st.delete_where(spark, F.col("o_orderpriority") == "1-URGENT")
    # an append must carry the DVs forward, not resurrect masked rows
    extra = orders.limit(7).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10**7
    )
    st.commit(extra, mode="append")
    want = (
        orders.where(
            ~F.col("o_orderpriority").isin("5-LOW", "1-URGENT")
        ).count()
        + 7
    )
    assert st.read(spark).count() == want
    # schema/spec alters carry DVs too (field-by-field republish)
    st.add_column("note", "string")
    assert st.read(spark).count() == want
    st.set_partition_spec([("o_orderpriority", "identity")])
    assert st.read(spark).count() == want
    # overwrite drops them with the member list
    st.commit(orders.limit(5), mode="overwrite")
    assert st.read(spark).count() == 5


def test_merge_on_read_equals_copy_on_write(spark, sf_dir, tmp_path):
    """The MoR merge must be row-for-row identical to merge() — same
    upsert/delete/partial-update semantics — while rewriting nothing."""
    st, orders = _store(spark, sf_dir, tmp_path)
    changes = (
        orders.where(F.col("o_orderkey").between(100, 160))
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 3 == 0, F.lit(None)).otherwise(
                F.lit(42.0)
            ),
        )
        .withColumn(
            "_op",
            F.when(F.col("o_orderkey") % 2 == 0, "upsert").otherwise(
                "delete"
            ),
        )
        .unionByName(
            spark.createDataFrame(
                [(10**6, "5-LOW", 1.5, "upsert")],
                "o_orderkey long, o_orderpriority string, "
                "o_totalprice double, _op string",
            )
        )
    )
    before = st.manifest(st.latest_version())
    v = st.merge_on_read(spark, changes, keys=["o_orderkey"])
    doc = st.manifest(v)
    assert doc.get("merge_on_read") is True
    assert "rewrote" not in doc
    assert doc["members"][: len(before["members"])] == before["members"]
    # twin store, copy-on-write merge
    twin = SnapshotStore(str(tmp_path) + "_twin")
    twin.commit(st.read(spark, 2), mode="overwrite",
                stats_cols=["o_orderkey"])
    twin.merge(spark, changes, keys=["o_orderkey"], prune=True)
    a = st.read(spark).orderBy("o_orderkey").collect()
    b = twin.read(spark).orderBy("o_orderkey").collect()
    assert a == b
    # and the CDF rows match the CoW merge's feed (same contract)
    fa = (
        st.read_changes(spark, 2, v)
        .orderBy("o_orderkey", "_change_type")
        .drop("_commit_version")
        .collect()
    )
    fb = (
        twin.read_changes(spark, 1, 2)
        .orderBy("o_orderkey", "_change_type")
        .drop("_commit_version")
        .collect()
    )
    assert fa == fb


def test_merge_on_read_noop_and_upsert_only(spark, sf_dir, tmp_path):
    st, orders = _store(spark, sf_dir, tmp_path)
    # deletes for absent keys + no upserts: publishes nothing
    ghost = (
        orders.limit(3)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10**8)
        .withColumn("_op", F.lit("delete"))
    )
    assert st.merge_on_read(spark, ghost, keys=["o_orderkey"]) == 2
    # insert-only batch appends one member, masks nothing
    fresh = (
        orders.limit(4)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10**8)
        .withColumn("_op", F.lit("upsert"))
    )
    v = st.merge_on_read(spark, fresh, keys=["o_orderkey"])
    doc = st.manifest(v)
    assert len(doc["added"]) >= 1
    assert not doc.get("deletes")
    assert st.read(spark).count() == orders.count() + 4


def test_compact_materializes_dvs(spark, sf_dir, tmp_path):
    st, orders = _store(spark, sf_dir, tmp_path)
    st.delete_where(spark, F.col("o_orderpriority") == "5-LOW")
    want = st.read(spark).count()
    v = st.compact(spark)
    doc = st.manifest(v)
    assert not doc.get("deletes")
    assert st.read(spark).count() == want
    # physical: the compacted member really excludes the rows
    raw = spark.read.parquet(
        *[os.path.join(str(tmp_path), m) for m in doc["members"]]
    )
    assert raw.where(F.col("o_orderpriority") == "5-LOW").count() == 0


def test_vacuum_retains_reachable_dvs(spark, sf_dir, tmp_path):
    st, orders = _store(spark, sf_dir, tmp_path)
    v3 = st.delete_where(spark, F.col("o_orderpriority") == "5-LOW")
    dv_dirs = {
        d for dvs in st.manifest(v3)["deletes"].values() for d in dvs
    }
    want = st.read(spark).count()
    # full retention: DV + CDF dirs are reachable, nothing removed
    assert st.vacuum() == []
    assert st.read(spark, v3).count() == want
    # compact, then drop history: the DV (reachable only from v3) goes
    v4 = st.compact(spark)
    removed = st.vacuum(keep_versions=[v4])
    assert dv_dirs & set(removed) == dv_dirs
    assert st.read(spark).count() == want


def test_vacuum_collects_dvs_orphaned_by_compact_masked(
    spark, sf_dir, tmp_path
):
    """r11 verdict #4: a DV whose member was rewritten away by
    ``compact_masked`` must die with its version's retention — and a DV
    still referenced by a RETAINED manifest must survive the same
    vacuum, physically on disk in both directions."""
    st, orders = _store(spark, sf_dir, tmp_path)
    v3 = st.delete_where(spark, F.col("o_orderpriority") == "5-LOW")
    dv_dirs = {
        d for dvs in st.manifest(v3)["deletes"].values() for d in dvs
    }
    assert dv_dirs
    want = st.read(spark).count()
    # targeted materialization rewrites every masked member here
    # (uniform priority split crosses the 10% threshold on both)
    v4 = st.compact_masked(spark, max_masked_fraction=0.1)
    assert v4 == v3 + 1 and not st.manifest(v4).get("deletes")
    # v3 still retained: its DVs are reachable, vacuum keeps them on disk
    st.vacuum(keep_versions=[v3, v4])
    for d in dv_dirs:
        assert os.path.isdir(os.path.join(str(tmp_path), d)), d
    assert st.read(spark, v3).count() == want  # time travel still masks
    # v3 leaves retention: the orphaned position-delete files must go
    removed = st.vacuum(keep_versions=[v4])
    assert dv_dirs <= set(removed)
    for d in dv_dirs:
        assert not os.path.exists(os.path.join(str(tmp_path), d)), d
    assert st.read(spark).count() == want


def test_history_reports_dv_telemetry(spark, sf_dir, tmp_path):
    """``SnapshotStore.history()`` (DESCRIBE HISTORY): the per-version
    DV columns must reconcile with masked_stats and drop to zero after
    materialization (the cross-engine gate is ``storage_dv_history``)."""
    st, orders = _store(spark, sf_dir, tmp_path)
    v3 = st.delete_where(spark, F.col("o_orderkey") % 5 == 0)
    v4 = st.compact_masked(spark, max_masked_fraction=0.1)
    hist = {h["version"]: h for h in st.history()}
    assert set(hist) == {1, 2, v3, v4}
    assert hist[1]["n_dv_members"] == 0 and hist[2]["masked_rows"] == 0
    ms3 = st.masked_stats(v3)
    assert hist[v3]["n_dv_members"] == len(ms3)
    assert hist[v3]["masked_rows"] == sum(
        e["masked_rows"] for e in ms3.values()
    )
    assert hist[v3]["masked_rows"] == orders.where(
        F.col("o_orderkey") % 5 == 0
    ).count()
    assert hist[v4]["n_dv_members"] == 0
    assert hist[v4]["masked_rows"] == 0
    assert hist[v4]["mode"] == "compact_masked"


def test_pruned_merge_keeps_untouched_dvs(spark, sf_dir, tmp_path):
    """A copy-on-write pruned merge over a store WITH deletion vectors:
    rewritten members lose their DVs (the rewrite applied them),
    untouched members keep theirs — masked rows stay masked."""
    st, orders = _store(spark, sf_dir, tmp_path)
    st.delete_where(spark, F.col("o_orderpriority") == "5-LOW")
    expect_before = st.read(spark)
    changes = (
        orders.where(
            (F.col("o_orderkey") % 2 == 0) & (F.col("o_orderkey") <= 50)
        )
        .withColumn("o_totalprice", F.lit(9.9))
        .withColumn("_op", F.lit("upsert"))
    )
    # member 1 holds even keys, member 2 odd keys: the change batch only
    # overlaps member 1, so member 2 stays untouched with its DV
    kept = expect_before.where(
        ~((F.col("o_orderkey") % 2 == 0) & (F.col("o_orderkey") <= 50))
    ).count()
    upserted = changes.where(
        F.col("o_orderpriority") != "5-LOW"
    ).count() + changes.where(F.col("o_orderpriority") == "5-LOW").count()
    v = st.merge(spark, changes, keys=["o_orderkey"], prune=True)
    doc = st.manifest(v)
    assert doc.get("rewrote")  # something was rewritten
    got = st.read(spark)
    assert got.count() == kept + upserted
    # masked 5-LOW rows in the UNTOUCHED member stay masked
    assert (
        got.where(
            (F.col("o_orderpriority") == "5-LOW")
            & (F.col("o_orderkey") % 2 == 1)
        ).count()
        == 0
    )


def test_delete_version_refuses_in_diff_and_stream(spark, sf_dir, tmp_path):
    st, orders = _store(spark, sf_dir, tmp_path)
    v = st.delete_where(spark, F.col("o_orderpriority") == "5-LOW")
    with pytest.raises(ValueError, match="non-append"):
        st.diff(spark, 1, v)
    # streaming source: a delete commit is not an appended-rows delta
    from big_data_assignment2_2025_spark.sources.snapshot_source import (
        SnapshotStreamReader,
    )

    rdr = SnapshotStreamReader(
        st.read(spark).schema, {"path": str(tmp_path)}
    )
    with pytest.raises(ValueError, match="delete"):
        rdr.partitions({"version": 2}, {"version": v})
    # CDC mode serves the delete feed instead
    cdc = SnapshotStreamReader(
        st.read(spark).schema,
        {"path": str(tmp_path), "readChangeFeed": "true"},
    )
    parts = cdc.partitions({"version": 2}, {"version": v})
    assert parts


def test_update_where_masks_and_appends(spark, sf_dir, tmp_path):
    """UPDATE ... SET over the DV path: matched rows masked, post-images
    appended (one member), nothing rewritten; CDF carries pre/post
    images; time travel sees the old values; no-op publishes nothing."""
    st, orders = _store(spark, sf_dir, tmp_path)
    before = st.manifest(2)
    v = st.update_where(
        spark,
        F.col("o_orderpriority") == "3-MEDIUM",
        {"o_totalprice": F.col("o_totalprice") * 2},
    )
    doc = st.manifest(v)
    assert doc["mode"] == "update"
    assert doc["members"][: len(before["members"])] == before["members"]
    assert len(doc["added"]) == 1 and doc["deletes"]
    want = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderpriority") == "3-MEDIUM",
            F.col("o_totalprice") * 2,
        ).otherwise(F.col("o_totalprice")),
    )
    got = st.read(spark)
    assert got.count() == want.count()
    assert (
        abs(
            got.agg(F.sum("o_totalprice")).first()[0]
            - want.agg(F.sum("o_totalprice")).first()[0]
        )
        < 1e-6
    )
    # CDF: one preimage + one postimage per matched row
    n_match = orders.where(F.col("o_orderpriority") == "3-MEDIUM").count()
    feed = st.read_changes(spark, 2, v)
    assert (
        feed.where(F.col("_change_type") == "update_preimage").count()
        == n_match
    )
    assert (
        feed.where(F.col("_change_type") == "update_postimage").count()
        == n_match
    )
    # time travel: pre-update version sees original prices
    assert (
        abs(
            st.read(spark, 2).agg(F.sum("o_totalprice")).first()[0]
            - orders.agg(F.sum("o_totalprice")).first()[0]
        )
        < 1e-6
    )
    # no-op + unknown-column guard
    assert (
        st.update_where(
            spark, F.col("o_orderpriority") == "9-X",
            {"o_totalprice": F.lit(0.0)},
        )
        == v
    )
    with pytest.raises(ValueError, match="not in the table schema"):
        st.update_where(spark, F.lit(True), {"nope": F.lit(1)})


def test_merge_conforms_batch_types_to_recorded_schema(
    spark, sf_dir, tmp_path
):
    """A MERGE batch whose column type differs from the recorded schema
    must never publish an unreadable member (r11 10x sweep find:
    int-recorded table + bigint batch wrote INT64 parquet under an int
    schema — corrupted on publish). Lossless widening (int batch into a
    bigint table) conforms silently; a WIDER batch type raises."""
    st = SnapshotStore(str(tmp_path))
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k int, v int"
    )
    st.commit(base, mode="overwrite", stats_cols=["k"])
    wide = spark.createDataFrame(
        [(2, 99, "upsert")], "k int, v long, _op string"
    )
    for fn in (
        lambda: st.merge(spark, wide, keys=["k"]),
        lambda: st.merge_on_read(spark, wide, keys=["k"]),
    ):
        with pytest.raises(ValueError, match="table records int"):
            fn()
    # the store is untouched and fully readable
    assert st.latest_version() == 1
    assert st.read(spark).count() == 3
    # narrow batch into a wider table: conforms, member readable
    st2 = SnapshotStore(str(tmp_path) + "_wide")
    st2.commit(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        mode="overwrite",
    )
    narrow = spark.createDataFrame(
        [(2, 99, "upsert"), (5, 50, "upsert")], "k int, v int, _op string"
    )
    st2.merge_on_read(spark, narrow, keys=["k"])
    got = {r["k"]: r["v"] for r in st2.read(spark).collect()}
    assert got == {1: 10, 2: 99, 5: 50}
    st2.merge(spark, narrow.where(F.col("k") == 5), keys=["k"])
    assert st2.read(spark).count() == 3


def test_masked_stats_and_compact_masked(spark, sf_dir, tmp_path):
    """DV maintenance (r11 extension): manifest-only masked-row
    telemetry, and targeted materialization of ONLY the members whose
    masked fraction crosses the threshold — clean and lightly-masked
    members are carried verbatim."""
    st, orders = _store(spark, sf_dir, tmp_path)
    # member 1 = even keys, member 2 = odd keys; delete ~half of member
    # 1's rows (even keys % 4 == 0) and a tiny slice of member 2's
    st.delete_where(spark, F.col("o_orderkey") % 4 == 0)
    st.delete_where(
        spark,
        (F.col("o_orderkey") % 2 == 1) & (F.col("o_orderkey") <= 9),
    )
    ms = st.masked_stats()
    assert len(ms) == 2
    heavy = max(ms, key=lambda m: ms[m]["masked_rows"])
    light = min(ms, key=lambda m: ms[m]["masked_rows"])
    n_even_del = orders.where(F.col("o_orderkey") % 4 == 0).count()
    assert ms[heavy]["masked_rows"] == n_even_del
    assert ms[light]["masked_rows"] <= 5 and ms[light]["dv_files"] == 1
    want = st.read(spark).count()
    # threshold 0.3: only the heavy member (~50% masked) rewrites
    before = st.manifest(st.latest_version())
    v = st.compact_masked(spark, max_masked_fraction=0.3)
    doc = st.manifest(v)
    assert doc["mode"] == "compact_masked"
    assert doc["rewrote"] == [heavy]
    assert light in doc["members"]  # untouched, still masked
    assert light in doc["deletes"] and heavy not in doc.get("deletes", {})
    assert st.read(spark).count() == want
    # physical: the rewritten member really excludes its masked rows
    raw = spark.read.parquet(
        *[os.path.join(str(tmp_path), m) for m in doc["added"]]
    )
    assert raw.where(F.col("o_orderkey") % 4 == 0).count() == 0
    # nothing crosses a 0.9 threshold now: no-op, no version published
    assert st.compact_masked(spark, max_masked_fraction=0.9) == v
    # time travel below the materialization still applies the old DVs
    assert st.read(spark, v - 1).count() == want
