"""Multi-batch state behavior of the deterministic-HLL rolling-DAU
streams (streaming_rolling_dau_hll) — the BOUNDED-state long-running
shape: per-window state is <= 512 integer registers, independent of user
cardinality, where the exact twin keeps the per-window user SET.

Properties pinned here beyond the availableNow oracle run:

1. **Register merge across micro-batches + duplicate idempotence** —
   ``max`` state absorbs repeats of a (day, user) observation from later
   batches without inflating anything, and the final (v_empty, reg_sum)
   equals an independent pure-Python replay of the sketch algebra.
2. **State EVICTION** — closed sliding windows drop out of the register
   state store as the watermark advances; the live-state row count is
   bounded by live-windows x touched-buckets.
3. **NULL-user observedness** — a day whose rows all carry NULL user_id
   stays observed through the 1-day count stream (row existence), while
   contributing no registers (mirrors the batch oracle exactly).
4. **Batch-twin bit-parity on the fixture** — the sketch is
   deterministic, so the streaming drain must reproduce
   ``events_rolling_dau_approx`` bit for bit, not approximately.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile

import pandas as pd

from big_data_assignment2_2025_spark.streaming.stream import (
    reconcile_dau_hll_updates,
    rolling_dau_hll_streams,
)
from tests.conftest import SF_SMALL


def _write_file(dir_: str, name: str, rows: list[tuple[str, int | None]]) -> None:
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime([r[0] for r in rows]),
            "user_id": pd.array([r[1] for r in rows], dtype="Int64"),
        }
    )
    pdf.to_parquet(os.path.join(dir_, name), coerce_timestamps="us")


def _streams(spark, src):
    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return rolling_dau_hll_streams(spark, stream)


def _drain(agg, ckpt, out):
    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _run_both(spark, src, root):
    qs = {}
    for key, agg in zip(("reg", "obs"), _streams(spark, src)):
        qs[key] = _drain(
            agg, os.path.join(root, f"ckpt_{key}"), os.path.join(root, f"out_{key}")
        )
    result = reconcile_dau_hll_updates(
        spark.read.parquet(os.path.join(root, "out_reg")),
        spark.read.parquet(os.path.join(root, "out_obs")),
    )
    rows = {str(r["day"]): (r["v_empty"], r["reg_sum"]) for r in result.collect()}
    return rows, qs


def _final_state_rows(q) -> int:
    rows = []
    for p in q.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        if d.get("stateOperators"):
            rows.append(d["stateOperators"][0]["numRowsTotal"])
    assert rows, "no stateOperators progress recorded"
    return rows[-1]


def _sim(day_users: dict) -> dict:
    """Pure-Python replay of hll_bucket_rho/hll_merge/hll_estimate state:
    day -> (v_empty, reg_sum) over each day's 7-day trailing user union."""
    days = sorted(day_users)

    def registers(users):
        regs = [0] * 512
        for u in users:
            h = int(hashlib.md5(str(u).encode()).hexdigest()[:13], 16)
            rho = 44 if (h >> 9) == 0 else 44 - (h >> 9).bit_length()
            regs[h % 512] = max(regs[h % 512], rho)
        return regs

    out = {}
    for d in days:
        win = set()
        for past in days:
            if 0 <= (d - past).days <= 6:
                win |= day_users[past]
        if not win:
            continue  # register-less window: emitted by neither engine
        regs = registers(win)
        out[str(d)] = (
            sum(1 for g in regs if g == 0),
            sum(1 << (44 - g) for g in regs),
        )
    return out


def test_registers_merge_across_batches_and_dups_are_idempotent(spark):
    import datetime as dt

    with tempfile.TemporaryDirectory() as root:
        src = os.path.join(root, "src")
        os.makedirs(src)
        _write_file(src, "a.parquet", [("2024-03-01 09:00:00", 1),
                                       ("2024-03-01 10:00:00", 2)])
        _write_file(src, "b.parquet", [("2024-03-01 11:00:00", 1),   # dup pair
                                       ("2024-03-02 09:00:00", 1)])
        _write_file(src, "c.parquet", [("2024-03-01 12:00:00", 1),   # dup pair
                                       ("2024-03-02 10:00:00", 3)])
        got, _ = _run_both(spark, src, root)
        expected = _sim({dt.date(2024, 3, 1): {1, 2},
                         dt.date(2024, 3, 2): {1, 3}})
        assert got == expected


def test_register_state_survives_checkpoint_restart(spark):
    """Users seen only BEFORE the restart must still shape windows
    extended by post-restart days — register state restored from the
    checkpoint, not rebuilt from incarnation 2's own input; a duplicate
    of a pre-restart observation must be absorbed (max idempotence)."""
    import datetime as dt

    with tempfile.TemporaryDirectory() as root:
        src = os.path.join(root, "src")
        os.makedirs(src)
        _write_file(src, "a.parquet", [("2024-03-01 09:00:00", 1),
                                       ("2024-03-01 10:00:00", 2)])
        got, _ = _run_both(spark, src, root)
        assert got == _sim({dt.date(2024, 3, 1): {1, 2}})

        _write_file(src, "b.parquet", [("2024-03-03 09:00:00", 3),
                                       ("2024-03-01 23:00:00", 1)])
        got, _ = _run_both(spark, src, root)
        expected = _sim({dt.date(2024, 3, 1): {1, 2},
                         dt.date(2024, 3, 3): {3}})
        # day 3's window must carry the RESTORED day-1 registers {1,2}
        # alongside the new user 3
        assert got == expected


def test_closed_windows_evict_from_register_state(spark):
    import datetime as dt

    with tempfile.TemporaryDirectory() as root:
        src = os.path.join(root, "src")
        os.makedirs(src)
        _write_file(src, "a.parquet", [("2024-03-01 09:00:00", 1),
                                       ("2024-03-01 10:00:00", 2),
                                       ("2024-03-02 09:00:00", 1)])
        # an 18-day jump; batch c pushes the watermark past every
        # March-1/2 window end, forcing their registers out of state
        _write_file(src, "b.parquet", [("2024-03-20 09:00:00", 3)])
        _write_file(src, "c.parquet", [("2024-03-21 09:00:00", 4)])
        got, qs = _run_both(spark, src, root)
        expected = _sim({dt.date(2024, 3, 1): {1, 2},
                         dt.date(2024, 3, 2): {1},
                         dt.date(2024, 3, 20): {3},
                         dt.date(2024, 3, 21): {4}})
        assert got == expected
        # live state: the 2 open tumbling day-windows (03-20/03-21), each
        # with 1 touched bucket -> <= 16 register rows comfortably (the
        # bound predates the r14 sliding->tumbling change, which only
        # shrank state further); without eviction the March-1/2 windows'
        # rows would remain
        state_rows = _final_state_rows(qs["reg"])
        assert state_rows <= 16, f"register state not evicted: {state_rows}"


def test_null_user_day_observed_but_contributes_no_registers(spark):
    import datetime as dt

    with tempfile.TemporaryDirectory() as root:
        src = os.path.join(root, "src")
        os.makedirs(src)
        _write_file(src, "a.parquet", [("2024-03-01 09:00:00", 1),
                                       ("2024-03-02 09:00:00", None)])
        got, _ = _run_both(spark, src, root)
        # 03-02 is observed (row exists) and its window still carries
        # day-1's registers; NULL contributes nothing
        expected = _sim({dt.date(2024, 3, 1): {1},
                         dt.date(2024, 3, 2): set()})
        assert got == expected
        assert "2024-03-02" in got


def test_streaming_twin_is_bit_identical_to_batch_twin(spark):
    from big_data_assignment2_2025_spark.plans.sketches_queries import (
        events_rolling_dau_approx,
    )
    from big_data_assignment2_2025_spark.streaming.stream import (
        run_streaming_rolling_dau_hll,
    )

    batch = {
        str(r["day"]): (r["v_empty"], r["reg_sum"], r["dau7_hll_micro"])
        for r in events_rolling_dau_approx(spark, SF_SMALL).collect()
    }
    stream = {
        str(r["day"]): (r["v_empty"], r["reg_sum"], r["dau7_hll_micro"])
        for r in run_streaming_rolling_dau_hll(spark, SF_SMALL).collect()
    }
    assert batch == stream
