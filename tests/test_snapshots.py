"""Snapshot-store contracts: atomic commit, time travel, compaction as a
logical no-op, incremental diff, crash-orphan invisibility, optimistic
concurrency, and vacuum safety."""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

import pytest

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.plans.snapshot_queries import (
    _N_RANGE_COMMITS,
    _staged_pruned_merge_store,
    storage_snapshot_diff,
    storage_time_travel,
)
from big_data_assignment2_2025_spark.sources.snapshots import SnapshotStore


@pytest.fixture()
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "snap"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "k")


def _keys(spark, store, version=None):
    return sorted(
        r.k for r in store.read(spark, version).select("k").collect()
    )


def test_commit_append_read_roundtrip(spark, store):
    v1 = store.commit(_df(spark, 0, 10), mode="overwrite")
    v2 = store.commit(_df(spark, 10, 15), mode="append")
    assert (v1, v2) == (1, 2)
    assert _keys(spark, store) == list(range(15))
    assert store.versions() == [1, 2]


def test_time_travel_survives_append_and_compact(spark, store):
    store.commit(_df(spark, 0, 10), mode="overwrite")
    store.commit(_df(spark, 10, 15), mode="append")
    store.compact(spark)
    # v1 is still exactly the pre-append rows; latest has everything
    assert _keys(spark, store, version=1) == list(range(10))
    assert _keys(spark, store) == list(range(15))


def test_compact_is_logical_noop_with_fewer_files(spark, store):
    store.commit(_df(spark, 0, 100).repartition(8), mode="overwrite")
    store.commit(_df(spark, 100, 120).repartition(4), mode="append")
    v3 = store.compact(spark, target_files=1)
    assert _keys(spark, store, v3) == _keys(spark, store, 2)

    def n_parquet_files(version):
        n = 0
        for m in store.manifest(version)["members"]:
            n += len(
                glob.glob(os.path.join(store.base_dir, m, "*.parquet"))
            )
        return n

    assert n_parquet_files(3) < n_parquet_files(2)
    assert n_parquet_files(3) == 1


def test_overwrite_starts_fresh_but_history_remains(spark, store):
    store.commit(_df(spark, 0, 10), mode="overwrite")
    store.commit(_df(spark, 50, 55), mode="overwrite")
    assert _keys(spark, store) == list(range(50, 55))
    assert _keys(spark, store, version=1) == list(range(10))


def test_diff_reads_only_added_commits(spark, store):
    store.commit(_df(spark, 0, 10), mode="overwrite")
    store.commit(_df(spark, 10, 15), mode="append")
    store.commit(_df(spark, 15, 18), mode="append")
    d = store.diff(spark, 1, 3)
    assert sorted(r.k for r in d.collect()) == list(range(10, 18))
    # the diff read must not open the v1 member directory
    v1_member = store.manifest(1)["members"][0]
    assert v1_member not in "\n".join(d.inputFiles())


def test_diff_refuses_non_append_ranges(spark, store):
    store.commit(_df(spark, 0, 10), mode="overwrite")
    store.commit(_df(spark, 10, 15), mode="append")
    store.compact(spark)
    with pytest.raises(ValueError, match="non-append"):
        store.diff(spark, 1, 3)
    with pytest.raises(ValueError, match="v_from < v_to"):
        store.diff(spark, 2, 2)


def test_crash_orphan_data_is_invisible(spark, store):
    """A writer that crashed after its data write but before publishing a
    manifest leaves a directory no reader opens and vacuum removes."""
    store.commit(_df(spark, 0, 10), mode="overwrite")
    orphan = os.path.join("data", f"c99999999-{uuid.uuid4().hex[:8]}")
    _df(spark, 1000, 1010).write.parquet(
        os.path.join(store.base_dir, orphan)
    )
    assert _keys(spark, store) == list(range(10))  # orphan invisible
    removed = store.vacuum()
    assert removed == [orphan]
    assert _keys(spark, store) == list(range(10))  # still intact


def test_interrupted_manifest_tmp_is_ignored(spark, store):
    store.commit(_df(spark, 0, 10), mode="overwrite")
    tmp = store._manifest_path(2) + ".tmp-deadbeef"
    with open(tmp, "w") as fh:
        fh.write('{"version": 2, "members"')  # truncated mid-write
    assert store.versions() == [1]
    assert store.latest_version() == 1


def test_concurrent_commit_same_version_loses(spark, store):
    store.commit(_df(spark, 0, 10), mode="overwrite")
    doc = {"version": 2, "mode": "append", "members": [], "added": []}
    store._publish(2, doc)
    with pytest.raises(FileExistsError):
        store._publish(2, doc)
    # the losing writer's temp file did not survive
    assert not glob.glob(store._manifest_path(2) + ".tmp-*")


def _inject_race(store, interloper):
    """Make ``interloper()`` run once, right before the store's next
    manifest publish — a deterministic writer-vs-writer race."""
    orig = store._publish
    state = {"fired": False}

    def racy(version, doc):
        if not state["fired"]:
            state["fired"] = True
            interloper()
        return orig(version, doc)

    store._publish = racy


def test_concurrent_append_rebases_and_both_land(spark, store):
    store.commit(_df(spark, 0, 10), mode="overwrite")
    _inject_race(
        store,
        lambda: SnapshotStore(store.base_dir).commit(
            _df(spark, 100, 110), mode="append"
        ),
    )
    v = store.commit(_df(spark, 10, 20), mode="append")
    # the loser rebased one version up; BOTH appends are in the table
    assert v == 3
    assert _keys(spark, store) == list(range(20)) + list(range(100, 110))


def test_merge_rebases_over_concurrent_commit(spark, store):
    base = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "k long, v string"
    )
    store.commit(base, mode="overwrite")
    interloper_rows = spark.createDataFrame([(100, "x")], "k long, v string")
    _inject_race(
        store,
        lambda: SnapshotStore(store.base_dir).commit(
            interloper_rows, mode="append"
        ),
    )
    store.merge(
        spark,
        _changes(spark, [(1, "B", "upsert"), (2, None, "delete")]),
        keys=["k"],
    )
    got = sorted((r.k, r.v) for r in store.read(spark).collect())
    # serializable outcome "their append, then our batch": the interleaved
    # key 100 row SURVIVES (a blind overwrite-rebase would have erased it)
    assert got == [(0, "a"), (1, "B"), (100, "x")]


def test_pruned_merge_rebases_over_concurrent_commit(spark, tmp_path):
    s = _range_committed(spark, str(tmp_path / "race"))
    _inject_race(
        s,
        lambda: SnapshotStore(s.base_dir).commit(
            _df(spark, 500, 510).withColumn(
                "v", F.col("k").cast("string")
            ),
            mode="append",
            stats_cols=["k"],
        ),
    )
    s.merge(
        spark,
        _changes(spark, [(150, "U", "upsert")]),
        keys=["k"],
        prune=True,
    )
    keys = sorted(r.k for r in s.read(spark).collect())
    assert keys == list(range(300)) + list(range(500, 510))
    assert [
        r.v for r in s.read(spark).where(F.col("k") == 150).collect()
    ] == ["U"]


def test_compact_race_refuses(spark, store):
    from big_data_assignment2_2025_spark.sources.snapshots import (
        SnapshotConflictError,
    )

    store.commit(_df(spark, 0, 10), mode="overwrite")
    _inject_race(
        store,
        lambda: SnapshotStore(store.base_dir).commit(
            _df(spark, 10, 15), mode="append"
        ),
    )
    with pytest.raises(SnapshotConflictError, match="lost the race"):
        store.compact(spark)
    # the interleaved append was NOT reverted and stays readable
    assert _keys(spark, store) == list(range(15))
    # the abandoned compaction output is an unreferenced orphan
    reachable = set()
    for v in store.versions():
        reachable.update(store.manifest(v)["members"])
    data_root = os.path.join(store.base_dir, "data")
    orphans = [
        n for n in os.listdir(data_root)
        if os.path.join("data", n) not in reachable
    ]
    assert len(orphans) == 1
    assert store.vacuum() == [os.path.join("data", orphans[0])]


def test_commit_retries_exhausted_raises(spark, store):
    from big_data_assignment2_2025_spark.sources.snapshots import (
        SnapshotConflictError,
    )

    store.commit(_df(spark, 0, 5), mode="overwrite")

    def always_loses(version, doc):
        raise FileExistsError(store._manifest_path(version))

    store._publish = always_loses
    with pytest.raises(SnapshotConflictError, match="rebases"):
        store.commit(_df(spark, 5, 10), mode="append")


def test_compact_preserves_tracked_stats(spark, store):
    store.commit(_df(spark, 0, 10), mode="overwrite", stats_cols=["k"])
    store.commit(_df(spark, 10, 15), mode="append", stats_cols=["k"])
    v3 = store.compact(spark)
    doc = store.manifest(v3)
    (member,) = doc["members"]
    # compaction re-stats the rewritten member on the tracked columns, so
    # read_where pruning and pruned merges stay alive after compaction
    assert doc["stats"][member]["k"] == [0, 14]
    assert store.read_where(spark, "k", 50, 60).inputFiles() == []


def test_vacuum_respects_retained_versions(spark, store):
    store.commit(_df(spark, 0, 10), mode="overwrite")
    store.commit(_df(spark, 10, 15), mode="append")
    store.compact(spark)
    # retain only v3: v1/v2's member dirs become unreachable
    removed = store.vacuum(keep_versions=[3])
    assert len(removed) == 2
    assert _keys(spark, store, version=3) == list(range(15))
    # the non-retained manifests went with their data: no dangling
    # versions for latest_version()/diff() to trip over, and the next
    # append starts from a fully readable member list
    assert store.versions() == [3]
    store.commit(_df(spark, 100, 102), mode="append")
    assert _keys(spark, store) == list(range(15)) + [100, 101]


def test_vacuum_refuses_to_drop_latest(spark, store):
    store.commit(_df(spark, 0, 10), mode="overwrite")
    store.commit(_df(spark, 10, 15), mode="append")
    with pytest.raises(ValueError, match="must be retained"):
        store.vacuum(keep_versions=[1])
    with pytest.raises(ValueError, match="unknown versions"):
        store.vacuum(keep_versions=[2, 9])


def test_merge_rejects_duplicate_change_keys(spark, store):
    store.commit(_df(spark, 0, 3), mode="overwrite")
    dup = _changes(spark, [(1, "A", "upsert"), (1, "B", "upsert")])
    with pytest.raises(ValueError, match="multiple rows for key"):
        store.merge(spark, dup, keys=["k"])
    assert store.versions() == [1]  # nothing was committed


def _range_committed(spark, base):
    """Three range-clustered commits with k stats: [0,100), [100,200),
    [200,300)."""
    s = SnapshotStore(base)
    for k in range(3):
        s.commit(
            _df(spark, 100 * k, 100 * (k + 1)).withColumn(
                "v", F.col("k").cast("string")
            ),
            mode="append" if k else "overwrite",
            stats_cols=["k"],
        )
    return s


def test_pruned_merge_equals_logical_merge(spark, tmp_path):
    ch_rows = [
        (150, "U", "upsert"),   # update inside member 2
        (160, None, "delete"),  # delete inside member 2
        (999, "I", "upsert"),   # insert outside every range
    ]
    results = []
    for mode, prune in (("log", False), ("pru", True)):
        s = _range_committed(spark, str(tmp_path / mode))
        s.merge(spark, _changes(spark, ch_rows), keys=["k"], prune=prune)
        results.append(
            sorted((r.k, r.v) for r in s.read(spark).collect())
        )
    assert results[0] == results[1]
    assert (150, "U") in results[1] and (999, "I") in results[1]
    assert all(k != 160 for k, _ in results[1])


def test_pruned_merge_rewrites_only_affected_members(spark, tmp_path):
    s = _range_committed(spark, str(tmp_path / "s"))
    old_members = s.manifest(3)["members"]
    s.merge(
        spark,
        _changes(spark, [(150, "U", "upsert")]),
        keys=["k"],
        prune=True,
    )
    m = s.manifest(4)
    assert m["mode"] == "merge"
    # members 1 and 3 carried over verbatim; only member 2 was rewritten
    assert old_members[0] in m["members"] and old_members[2] in m["members"]
    assert m["rewrote"] == [old_members[1]]
    assert old_members[1] not in m["members"]
    # their stats survived, the new member got fresh ones
    assert set(m["stats"]) == {
        old_members[0], old_members[2], m["added"][0]
    }
    # and the untouched rows are still all there
    assert sorted(r.k for r in s.read(spark).collect()) == sorted(
        set(range(300)) | {150}
    )


def test_pruned_merge_pure_insert_touches_nothing(spark, tmp_path):
    s = _range_committed(spark, str(tmp_path / "s"))
    old_members = s.manifest(3)["members"]
    s.merge(
        spark,
        _changes(spark, [(999, "I", "upsert")]),
        keys=["k"],
        prune=True,
    )
    m = s.manifest(4)
    assert m["rewrote"] == []
    assert m["members"][:3] == old_members
    assert sorted(r.k for r in s.read(spark).collect()) == (
        list(range(300)) + [999]
    )


def test_pruned_merge_falls_back_without_stats(spark, store):
    store.commit(
        _df(spark, 0, 10).withColumn("v", F.col("k").cast("string")),
        mode="overwrite",  # no stats recorded
    )
    store.merge(
        spark,
        _changes(spark, [(5, "X", "upsert")]),
        keys=["k"],
        prune=True,
    )
    assert store.manifest(2)["mode"] == "overwrite"  # logical path ran
    assert dict(
        (r.k, r.v) for r in store.read(spark).collect()
    )[5] == "X"


def test_logical_merge_preserves_tracked_stats(spark, tmp_path):
    """A non-pruned merge must not erase the manifest stats — otherwise
    one logical merge would permanently disable read_where pruning and
    every future pruned merge."""
    s = _range_committed(spark, str(tmp_path / "s"))
    v = s.merge(
        spark,
        _changes(spark, [(150, "U", "upsert")]),
        keys=["k"],
        prune=False,
    )
    m = s.manifest(v)
    assert m["mode"] == "overwrite"
    assert [mem in m["stats"] for mem in m["members"]] == [True]
    lo, hi = m["stats"][m["members"][0]]["k"]
    assert (lo, hi) == (0, 299)
    # and a pruned merge right after still has fuel to prune with
    v2 = s.merge(
        spark,
        _changes(spark, [(10, "W", "upsert")]),
        keys=["k"],
        prune=True,
    )
    assert s.manifest(v2)["mode"] == "merge"


def test_noop_pruned_merge_publishes_nothing(spark, tmp_path):
    """A delete-only batch whose keys miss every member range is a no-op:
    no new version, no empty member accumulation."""
    s = _range_committed(spark, str(tmp_path / "s"))
    v = s.merge(
        spark,
        _changes(spark, [(9999, None, "delete")]),
        keys=["k"],
        prune=True,
    )
    assert v == 3 and s.versions() == [1, 2, 3]
    # an insert-only miss batch still lands
    v2 = s.merge(
        spark,
        _changes(spark, [(9999, "I", "upsert")]),
        keys=["k"],
        prune=True,
    )
    assert v2 == 4 and s.manifest(4)["rewrote"] == []


def test_read_where_still_prunes_after_pruned_merge(spark, tmp_path):
    s = _range_committed(spark, str(tmp_path / "s"))
    s.merge(
        spark,
        _changes(spark, [(150, "U", "upsert")]),
        keys=["k"],
        prune=True,
    )
    df = s.read_where(spark, "k", 0, 100)
    assert sorted(r.k for r in df.collect()) == list(range(100))
    opened = "\n".join(df.inputFiles())
    assert s.manifest(4)["added"][0] not in opened


def test_read_where_null_stats_read_conservatively(spark, store):
    store.commit(_df(spark, 0, 10), mode="overwrite", stats_cols=["k"])
    # an empty append records [null, null] stats — no pruning info
    store.commit(
        _df(spark, 0, 10).where(F.lit(False)), mode="append",
        stats_cols=["k"],
    )
    assert store.manifest(2)["stats"][
        store.manifest(2)["members"][1]
    ]["k"] == [None, None]
    df = store.read_where(spark, "k", 3, 6)  # must not raise
    assert sorted(r.k for r in df.collect()) == [3, 4, 5]


def test_manifest_content_shape(spark, store):
    store.commit(_df(spark, 0, 5), mode="overwrite")
    store.commit(_df(spark, 5, 8), mode="append")
    m2 = store.manifest(2)
    assert m2["mode"] == "append"
    assert len(m2["members"]) == 2 and len(m2["added"]) == 1
    assert m2["added"][0] == m2["members"][-1]
    raw = json.load(open(store._manifest_path(2)))
    assert raw == m2


def _changes(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, _op string")


def test_merge_upsert_insert_delete(spark, store):
    base = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "k long, v string"
    )
    store.commit(base, mode="overwrite")
    v2 = store.merge(
        spark,
        _changes(
            spark,
            [(1, "B", "upsert"), (2, None, "delete"), (9, "z", "upsert")],
        ),
        keys=["k"],
    )
    got = {r.k: r.v for r in store.read(spark, v2).collect()}
    assert got == {0: "a", 1: "B", 9: "z"}
    # time travel: pre-merge version is untouched
    pre = {r.k: r.v for r in store.read(spark, 1).collect()}
    assert pre == {0: "a", 1: "b", 2: "c"}


def test_merge_null_column_inherits_current_value(spark, store):
    store.commit(
        spark.createDataFrame([(1, "keep", 10)], "k long, v string, n long"),
        mode="overwrite",
    )
    ch = spark.createDataFrame(
        [(1, None, 99, "upsert")], "k long, v string, n long, _op string"
    )
    store.merge(spark, ch, keys=["k"])
    row = store.read(spark).collect()[0]
    assert (row.v, row.n) == ("keep", 99)  # NULL v inherited, n replaced


def test_merge_rejects_unknown_op(spark, store):
    store.commit(
        spark.createDataFrame([(1, "a")], "k long, v string"),
        mode="overwrite",
    )
    with pytest.raises(ValueError, match="unknown _op"):
        store.merge(spark, _changes(spark, [(1, "b", "replace")]), keys=["k"])


def test_read_where_prunes_by_manifest_stats(spark, store):
    store.commit(_df(spark, 0, 100), mode="overwrite", stats_cols=["k"])
    store.commit(_df(spark, 100, 200), mode="append", stats_cols=["k"])
    store.commit(_df(spark, 200, 300), mode="append", stats_cols=["k"])
    df = store.read_where(spark, "k", 120, 180)
    assert sorted(r.k for r in df.collect()) == list(range(120, 180))
    opened = "\n".join(df.inputFiles())
    m1, m2, m3 = store.manifest(3)["members"]
    assert m2 in opened  # the overlapping member is read...
    assert m1 not in opened and m3 not in opened  # ...the others never open


def test_read_where_no_overlap_is_empty_with_schema(spark, store):
    store.commit(_df(spark, 0, 10), mode="overwrite", stats_cols=["k"])
    df = store.read_where(spark, "k", 1000, 2000)
    assert df.collect() == []
    assert df.columns == ["k"]


def test_read_where_without_stats_reads_conservatively(spark, store):
    store.commit(_df(spark, 0, 10), mode="overwrite")  # no stats recorded
    df = store.read_where(spark, "k", 5, 8)
    assert sorted(r.k for r in df.collect()) == [5, 6, 7]


def test_stats_survive_append_and_boundary_is_half_open(spark, store):
    store.commit(_df(spark, 0, 50), mode="overwrite", stats_cols=["k"])
    store.commit(_df(spark, 50, 60), mode="append", stats_cols=["k"])
    m = store.manifest(2)
    assert [m["stats"][mem]["k"] for mem in m["members"]] == [
        [0, 49], [50, 59]
    ]
    # hi is exclusive: range ending exactly at a member's min skips it
    df = store.read_where(spark, "k", 0, 50)
    assert m["members"][1] not in "\n".join(df.inputFiles())


def test_gated_queries_run_and_agree(spark, sf_dir):
    tt = storage_time_travel(spark, sf_dir).collect()
    assert [r.version for r in tt] == [1, 2, 3]
    v1, v2, v3 = tt
    # compaction is a logical no-op; append only adds
    assert (v2.n_rows, v2.n_docs, v2.sum_chars) == (
        v3.n_rows, v3.n_docs, v3.sum_chars
    )
    assert v1.n_rows < v2.n_rows
    diff = storage_snapshot_diff(spark, sf_dir).collect()
    assert sum(r.n_rows for r in diff) == v2.n_rows - v1.n_rows


def test_staged_pruned_merge_rewrote_exactly_one_member(spark, sf_dir):
    store = _staged_pruned_merge_store(spark, sf_dir)
    m = store.manifest(store.latest_version())
    assert m["mode"] == "merge"
    # change keys live in one doc_id quartile: of the four range commits,
    # one was rewritten and three carried over untouched
    assert len(m["rewrote"]) == 1
    assert len(m["members"]) == _N_RANGE_COMMITS
    assert len(m["stats"]) == _N_RANGE_COMMITS


# -- every verb carries the table-level keys it does not set ----------------

#: the table-level manifest keys a version inherits from the one before
_TABLE_KEYS = (
    "txns", "constraints", "partition_spec", "column_mapping", "identity",
    "generated", "defaults", "schema", "schema_version", "min_reader_version",
)


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [(k, f"v{k}") for k in range(lo, hi)], "k long, w string"
    )


def _upserts(spark, rows):
    return spark.createDataFrame(rows, "k long, w string, _op string")


@pytest.fixture(scope="module")
def ddl_store(spark, tmp_path_factory):
    """A store with every table-level key set: writer txns, a CHECK
    constraint, a partition spec, a column mapping (``w`` renamed from
    ``v``), identity and generated columns, a default backfill, an evolved
    schema, min_reader_version 4, plus a deletion vector and small
    partitioned members for the maintenance verbs to work on."""
    st = SnapshotStore(str(tmp_path_factory.mktemp("ddl") / "snap"))
    st.commit(
        _rows(spark, 0, 40).withColumnRenamed("w", "v"), mode="overwrite",
        stats_cols=["k"], txn=("app", 1),
    )
    st.add_identity_column(spark, "rid")
    st.add_generated_column(spark, "k2", "bigint", "k * 2")
    st.set_partition_spec([("k", "bucket[2]")])
    for lo in (40, 44):
        st.commit(
            _rows(spark, lo, lo + 4).withColumnRenamed("w", "v"),
            stats_cols=["k"],
        )
    st.add_constraint(spark, "pos", "k >= 0")
    st.rename_column("v", "w")
    st.add_column("d", "int", default=7)
    st.delete_where(spark, "k % 10 = 3")
    doc = st.manifest(st.latest_version())
    assert all(doc.get(k) for k in _TABLE_KEYS), [
        k for k in _TABLE_KEYS if not doc.get(k)
    ]
    assert doc["schema_version"] > 1 and doc["min_reader_version"] == 4
    return st


#: verb -> (how to run it, the table-level keys it may set)
_CARRY_VERBS = {
    "commit_append": (
        lambda spark, st: st.commit(_rows(spark, 100, 102), stats_cols=["k"]),
        {"identity"},
    ),
    "commit_txn": (
        lambda spark, st: st.commit(_rows(spark, 102, 104), txn=("app", 2)),
        {"identity", "txns"},
    ),
    "commit_overwrite": (
        lambda spark, st: st.commit(
            _rows(spark, 0, 4).withColumn("d", F.lit(1)), mode="overwrite"
        ),
        {"identity", "defaults", "schema", "schema_version"},
    ),
    "set_partition_spec": (
        lambda spark, st: st.set_partition_spec([("k", "bucket[4]")]),
        {"partition_spec"},
    ),
    "add_constraint": (
        lambda spark, st: st.add_constraint(spark, "small", "k < 10000"),
        {"constraints"},
    ),
    "drop_constraint": (
        lambda spark, st: st.drop_constraint("pos"), {"constraints"},
    ),
    "add_column": (
        lambda spark, st: st.add_column("e", "string"),
        {"schema", "schema_version"},
    ),
    "rename_column": (
        lambda spark, st: st.rename_column("w", "w2"),
        {"schema", "schema_version", "column_mapping"},
    ),
    "drop_column": (
        lambda spark, st: st.drop_column("d"),
        {"schema", "schema_version", "defaults"},
    ),
    "add_identity_column": (
        lambda spark, st: st.add_identity_column(spark, "rid2"),
        {"identity", "schema", "schema_version", "defaults"},
    ),
    "add_generated_column": (
        lambda spark, st: st.add_generated_column(
            spark, "k3", "bigint", "k + 1"
        ),
        {"generated", "schema", "schema_version", "defaults"},
    ),
    "delete_where": (
        lambda spark, st: st.delete_where(spark, "k = 5"), set(),
    ),
    "update_where": (
        lambda spark, st: st.update_where(spark, "k = 6", {"w": "'u'"}), set(),
    ),
    "merge_on_read": (
        lambda spark, st: st.merge_on_read(
            spark, _upserts(spark, [(7, "m", "upsert")]), keys=["k"]
        ),
        set(),
    ),
    "merge": (
        lambda spark, st: st.merge(
            spark, _upserts(spark, [(8, "m", "upsert")]), keys=["k"]
        ),
        {"defaults"},
    ),
    "merge_pruned": (
        lambda spark, st: st.merge(
            spark, _upserts(spark, [(9, None, "delete")]), keys=["k"],
            prune=True,
        ),
        {"defaults"},
    ),
    "compact_masked": (
        lambda spark, st: st.compact_masked(spark, max_masked_fraction=0.0),
        {"defaults"},
    ),
    "compact_small": (
        lambda spark, st: st.compact_small(spark, target_bytes=10**9),
        {"defaults"},
    ),
    "compact": (lambda spark, st: st.compact(spark), {"defaults"}),
}


def _copy(st, tmp_path):
    dst = str(tmp_path / "copy")
    shutil.copytree(st.base_dir, dst)
    return SnapshotStore(dst)


@pytest.mark.parametrize("verb", sorted(_CARRY_VERBS))
def test_every_verb_carries_the_keys_it_does_not_set(
    spark, ddl_store, tmp_path, verb
):
    st = _copy(ddl_store, tmp_path)
    prev = st.latest_version()
    run, sets = _CARRY_VERBS[verb]
    assert run(spark, st) == prev + 1  # the verb published a version
    before, after = st.manifest(prev), st.manifest(prev + 1)
    assert {
        k: after.get(k) for k in _TABLE_KEYS if k not in sets
    } == {k: before.get(k) for k in _TABLE_KEYS if k not in sets}


def test_restore_and_clone_carry_what_they_copy(spark, ddl_store, tmp_path):
    """restore takes every table-level key from the target version except
    the writer txns (and the monotone reader stamp); a clone takes them
    all from the source except txns, which start empty."""
    st = _copy(ddl_store, tmp_path)
    cur_v = st.latest_version()
    cur = st.manifest(cur_v)
    target_v = cur_v - 2  # before the default column was added
    target = st.manifest(target_v)
    new = st.manifest(st.restore(target_v))
    assert new["txns"] == cur["txns"]
    assert new["min_reader_version"] == cur["min_reader_version"]
    for k in ("constraints", "partition_spec", "column_mapping",
              "generated", "defaults", "schema"):
        assert new.get(k) == target.get(k), k

    src = st.manifest(st.latest_version())
    clone = st.clone_to(str(tmp_path / "clone"))
    doc = clone.manifest(1)
    assert doc["txns"] == {}
    absolute = {
        c: {"value": s["value"],
            "members": [os.path.join(st.base_dir, m) for m in s["members"]]}
        for c, s in src["defaults"].items()
    }
    assert doc["defaults"] == absolute
    for k in set(_TABLE_KEYS) - {"txns", "defaults"}:
        assert doc.get(k) == src.get(k), k
