"""Restart survival of argmin/argmax streaming state: min_by/max_by
aggregation state must persist across a checkpoint stop/restart — the
"open" of a bar seen before the restart must still win after it, and the
"close" must come from post-restart data. If the state were lost, both
would be recomputed from the second incarnation's input only."""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import functions as F


def _write_file(dir_: str, name: str, rows: list[tuple[str, int, float]]) -> None:
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime([r[0] for r in rows]),
            "event_id": [r[1] for r in rows],
            "value": [r[2] for r in rows],
        }
    )
    pdf.to_parquet(os.path.join(dir_, name), coerce_timestamps="us")


def _run_to_completion(spark, src, ckpt, out):
    schema = "ts timestamp, event_id long, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    from big_data_assignment2_2025_spark.plans.timeseries_queries import _ord_key

    key = _ord_key(F.unix_micros("ts"), F.col("event_id"))
    agg = stream.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
    )

    def sink(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(out)

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_argmin_state_survives_checkpoint_restart(spark):
    with tempfile.TemporaryDirectory() as root:
        src = os.path.join(root, "src")
        ckpt = os.path.join(root, "ckpt")
        out = os.path.join(root, "out")
        os.makedirs(src)

        # incarnation 1: the true OPEN (earliest ts) and the global HIGH
        _write_file(src, "a.parquet", [
            ("2024-03-01 09:00:00", 1, 42.0),   # open
            ("2024-03-01 11:00:00", 2, 99.0),   # high
        ])
        _run_to_completion(spark, src, ckpt, out)
        first = {r["day"]: r for r in spark.read.parquet(out).collect()}
        assert first["2024-03-01"]["open"] == 42.0
        assert first["2024-03-01"]["close"] == 99.0

        # incarnation 2: later events only — smaller values, later ts
        _write_file(src, "b.parquet", [
            ("2024-03-01 15:00:00", 3, 7.0),    # new low + close
        ])
        _run_to_completion(spark, src, ckpt, out)
        bar = {r["day"]: r for r in spark.read.parquet(out).collect()}["2024-03-01"]
        # open survived the restart (state, not recomputation from file b)
        assert bar["open"] == 42.0
        assert bar["high"] == 99.0
        assert bar["low"] == 7.0
        assert bar["close"] == 7.0
