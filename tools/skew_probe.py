"""Skew-stress probe for the dedup candidate joins.

`operators/dedup.py` (jaccard_pairs) claims: "AQE skew-join handles
moderate skew; extreme skew calls for dropping ultra-frequent shingles
(document frequency cap) before the join". The 10x scale probe measures
candidate GROWTH on a uniform fixture; this probe measures the skew claim
directly on a deliberately skewed one:

- fixture: the real sf0.1 shingle table PLUS one synthetic hot shingle
  (a boilerplate sentence) attached to a fraction of the documents —
  ``moderate`` = 10% of docs, ``extreme`` = 100% (every doc carries it,
  the template-navigation case).
- per fixture, the self-join candidate count runs four ways:
  (a) AQE off — the straggler baseline;
  (b) AQE on with the skew-join thresholds scaled DOWN ~1000x
      (threshold 16 KB, advisory 8 KB, factor 2, broadcast disabled so
      the join stays a shuffle join) so partition-byte ratios at this
      toy volume mimic what a 100 TB corpus presents at the default
      256 MB threshold;
  (c) AQE with detection FORCED (factor 1) — isolates the split
      mechanism from the detector, which measures compressed map-output
      bytes and cannot see a single identical-string hot key;
  (d) the df-cap mitigation (shingles with df > 4 dropped) — the fix
      the jaccard_pairs docstring prescribes for extreme skew.
- recorded per run: wall time, whether the AQE final plan actually
  split the partition (``skew=true`` in the SMJ node), and the
  max/median task-duration ratio of the heaviest stage (the straggler
  metric), read from the app status API.

Usage: python tools/skew_probe.py     (one JSON line on stdout)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.session import default_cpus

SRC = "/root/testdata/sf0.1"
HOT = "__hot_boilerplate_shingle__"


def _session() -> SparkSession:
    cpus = default_cpus()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("skew_probe")
        # high partition count so the hot key's partition stands out from
        # the median in BYTES, the quantity AQE's detector looks at
        .config("spark.sql.shuffle.partitions", "200")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4048")
        .getOrCreate()
    )


def _api(path: str):
    with urllib.request.urlopen(f"http://localhost:4048/api/v1{path}") as r:
        return json.load(r)


def _straggler_ratio(seen: set[int]) -> tuple[dict, set[int]]:
    """max/median task duration of the heaviest new stage — the straggler
    metric a skewed partition produces."""
    app_id = _api("/applications")[0]["id"]
    worst = {"stage": None, "max_task_sec": 0.0, "median_task_sec": 0.0, "ratio": 0.0}
    new_seen = set(seen)
    for st in _api("/applications/{}/stages?status=complete".format(app_id)):
        sid, att = st["stageId"], st["attemptId"]
        if sid in seen:
            continue
        new_seen.add(sid)
        if st["numCompleteTasks"] < 2:
            continue
        q = _api(
            f"/applications/{app_id}/stages/{sid}/{att}/taskSummary"
            "?quantiles=0.5,1.0"
        )
        med, mx = (v / 1000.0 for v in q["executorRunTime"])
        if mx > worst["max_task_sec"]:
            worst = {
                "stage": sid,
                "max_task_sec": round(mx, 2),
                "median_task_sec": round(med, 3),
                "ratio": round(mx / max(med, 1e-3), 1),
            }
    return worst, new_seen


def _candidates(sh):
    a = sh.select(F.col("doc_id").alias("doc1"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc2"), "shingle")
    return (
        a.join(b, "shingle")
        .where(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


def streaming_probe(spark) -> dict:
    """Streaming hot-key probe (r6 verdict task 7 — SKEWPROBE covered
    batch only): ONE user carries 10% of all events through a per-user
    stateful hourly aggregation. Two fixtures (uniform = the real sf0.1
    user distribution, hot10pct = 10% of rows re-keyed to user 0), each
    drained with availableNow; recorded per variant:

    - ``shuffle_records``/``bytes`` (app-wide delta): streaming aggs run
      PARTIAL aggregation before the state-store exchange, so the hot
      user's rows collapse to one partial row per map task per (hour,
      user) — routed volume must NOT scale with the hot user's row share.
    - ``state_rows`` (stateOperators numRowsTotal): hourly-window state
      is one row per (hour, user) KEY, so a hot user adds zero state
      skew — state size tracks key cardinality, not row counts.
    - ``straggler`` max/median task seconds over the run's stages.
    - analytic partition balance at shuffle_partitions=32: state KEYS
      and pre-partial INPUT ROWS per partition via the same
      murmur3-hash-mod the state store uses (max vs median) — shows the
      one remaining imbalance (row routing) is bounded by the map-side
      partial, not by 10% of the stream landing on one partition.
    """
    import shutil
    import tempfile
    import uuid

    from tools.shuffle_report import _total_shuffle

    n_parts = 32
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    out: dict = {"shuffle_partitions": n_parts, "variants": {}}
    seen: set[int] = set()
    _, seen = _straggler_ratio(seen)  # swallow pre-existing stages

    for variant in ("uniform", "hot10pct"):
        user = F.col("user_id")
        if variant == "hot10pct":
            user = F.when(
                F.pmod(F.abs(F.hash("event_id")), 10) == 0, F.lit(0)
            ).otherwise(F.col("user_id"))
        src = tempfile.mkdtemp(prefix=f"skew_stream_{variant}_")
        ckpt = tempfile.mkdtemp(prefix="skew_ckpt_")
        fixture = ev.select(
            F.col("ts").cast("timestamp").alias("ts"),
            user.alias("user_id"),
            "value",
        )
        fixture.repartition(4).write.mode("overwrite").parquet(src)

        static = spark.read.parquet(src)
        stream = (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
        )
        b0, r0 = _total_shuffle(spark)
        t0 = time.perf_counter()
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName(f"skew_{uuid.uuid4().hex[:8]}")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sec = round(time.perf_counter() - t0, 2)
        b1, r1 = _total_shuffle(spark)
        state_rows = 0
        for p in q.recentProgress:
            d = json.loads(p.json) if hasattr(p, "json") else p
            if d.get("stateOperators"):
                state_rows = d["stateOperators"][0]["numRowsTotal"]
        straggler, seen = _straggler_ratio(seen)

        # analytic partition balance: murmur3(group key) mod partitions,
        # the same routing HashPartitioning applies
        part = F.pmod(
            F.hash(F.window("ts", "1 hour"), F.col("user_id")), F.lit(n_parts)
        ).alias("p")
        rows_per_part = [
            r["n"]
            for r in static.select(part)
            .groupBy("p").agg(F.count("*").alias("n"))
            .collect()
        ]
        keys_per_part = [
            r["n"]
            for r in static.select(
                F.window("ts", "1 hour").alias("w"), "user_id"
            )
            .distinct()
            .select(F.pmod(F.hash("w", "user_id"), F.lit(n_parts)).alias("p"))
            .groupBy("p").agg(F.count("*").alias("n"))
            .collect()
        ]

        def _bal(v):
            s = sorted(v)
            med = s[len(s) // 2] if s else 0
            return {
                "max": max(s, default=0),
                "median": med,
                "ratio": round(max(s, default=0) / max(med, 1), 2),
            }

        out["variants"][variant] = {
            "sec": sec,
            "shuffle_records": r1 - r0,
            "shuffle_bytes": b1 - b0,
            "state_rows": state_rows,
            "straggler": straggler,
            "input_rows_per_partition": _bal(rows_per_part),
            "state_keys_per_partition": _bal(keys_per_part),
        }
        print(f"# streaming/{variant}: {out['variants'][variant]}",
              file=sys.stderr)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


def main() -> None:
    spark = _session()
    if "--streaming" in sys.argv:
        print(json.dumps({"streaming": streaming_probe(spark)}))
        return
    from big_data_assignment2_2025_spark.operators.dedup import shingles_df
    from big_data_assignment2_2025_spark.sources.readers import load_table

    docs = load_table(spark, SRC, "documents").where(F.col("text").isNotNull())
    base = shingles_df(docs)

    out: dict = {"shuffle_partitions": 200, "fixtures": {}}
    seen: set[int] = set()

    for label, frac in (("moderate_10pct", 0.10), ("extreme_100pct", 1.0)):
        hot = (
            docs.where(F.pmod(F.abs(F.hash("doc_id")), 100) < int(frac * 100))
            .select("doc_id", F.lit(HOT).alias("shingle"))
        )
        sh = base.unionAll(hot)
        runs = {}

        for mode in ("aqe_off", "aqe_skew_scaled", "aqe_skew_forced", "df_capped"):
            # reset the sweep confs so each mode starts from defaults
            for key in (
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.coalescePartitions.enabled",
            ):
                spark.conf.unset(key)
            spark.conf.set("spark.sql.adaptive.enabled", str(mode != "aqe_off").lower())
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
            if mode == "aqe_skew_scaled":
                spark.conf.set(
                    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                    "16384",
                )
                spark.conf.set(
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192"
                )
                spark.conf.set(
                    "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
                )
            if mode in ("aqe_skew_scaled", "aqe_skew_forced"):
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            if mode == "aqe_skew_forced":
                # the detector is byte-based on COMPRESSED map output; the
                # hot key's identical strings compress to under 2x the
                # median partition, so factor 2 never fires no matter the
                # threshold. factor 1 forces the detector to see it — this
                # mode measures whether the split MECHANISM helps once
                # detection is taken out of the equation.
                spark.conf.set(
                    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                    "4096",
                )
                spark.conf.set(
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes", "2048"
                )
                spark.conf.set(
                    "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1"
                )
                spark.conf.set(
                    "spark.sql.adaptive.coalescePartitions.enabled", "false"
                )
                # keep the candidate join a shuffle join: AQE would rather
                # BROADCAST the (small at sf0.1) build side, which removes
                # the skewed exchange altogether — a valid skew fix locally
                # but not the 100 TB shape, where both sides exceed any
                # broadcast budget and the skew-SPLIT path is what matters
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            inp = sh
            if mode == "df_capped":
                keep = (
                    sh.groupBy("shingle")
                    .agg(F.count("*").alias("df"))
                    .where(F.col("df") <= 4)
                    .select("shingle")
                )
                inp = sh.join(keep, "shingle", "left_semi")
            # execute via toPandas on the count aggregate so the plan we
            # inspect afterwards is the SAME QueryExecution that ran —
            # df.count() spawns a separate one whose AQE final plan (where
            # skew splits appear) would never materialize on `cand` itself
            cand = _candidates(inp).groupBy().count()
            t0 = time.perf_counter()
            n = int(cand.toPandas().iloc[0, 0])
            sec = round(time.perf_counter() - t0, 2)
            plan = cand._jdf.queryExecution().executedPlan().toString()
            if mode != "aqe_off":
                assert "isFinalPlan=true" in plan, "expected executed AQE plan"
            straggler, seen = _straggler_ratio(seen)
            runs[mode] = {
                "candidates": n,
                "sec": sec,
                "skew_splits": plan.count("skew=true") + plan.count("skewed"),
                "bhj": plan.count("BroadcastHashJoin"),
                "smj": plan.count("SortMergeJoin"),
                "straggler": straggler,
            }
            print(f"# {label}/{mode}: {runs[mode]}", file=sys.stderr)

        # restore sweep confs for the next fixture
        for key in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
        ):
            spark.conf.unset(key)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        out["fixtures"][label] = runs

    print(json.dumps(out))


if __name__ == "__main__":
    main()
