"""Memory-pressure probe: rerun the heaviest scale-probe cases with the
JVM heap deliberately squeezed, and record whether Spark SPILLS (the
designed behavior) or OOMs.

SURVEY §4 claims "Spark hash agg/sort spill instead of OOMing" as the
reason sf>=1 volumes are safe on bounded executors; until round 5 that
claim had no measured evidence. This probe runs the 10x /tmp dataset
(built by tools/scale_probe.py, reused if present) in a session whose
driver heap — which in local mode IS the executor heap — is capped at
$SPARK_GRAFT_MEM (default 2g, vs the 8g every other run uses), then reads the
per-stage memory/disk spill totals from the app status API.

A fresh process is required (driver memory must be set before the JVM
launches), so run this as its own command:

    SPARK_GRAFT_MEM=2g python tools/mem_probe.py [copies]

Prints one JSON line: per-query wall time, completion status, and summed
memoryBytesSpilled / diskBytesSpilled across that query's stages.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from big_data_assignment2_2025_spark.session import default_cpus

MEM = os.environ.get("SPARK_GRAFT_MEM", "2g")

#: the heaviest probe cases: the widest shuffle (inverted-index pair join),
#: its df-capped variant, the iterative graph path, and a plain both-sides
#: shuffled fact join
CASES = [
    "dedup_ngram_threshold",
    "dedup_ngram_capped",
    "graph_kcore_peel",
]


def _session() -> SparkSession:
    cpus = default_cpus()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("mem_probe")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", MEM)
        # status API on — the probe reads spill metrics from it
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
        .getOrCreate()
    )


def _api(path: str):
    with urllib.request.urlopen(f"http://localhost:4049/api/v1{path}") as r:
        return json.load(r)


def _spill_totals(seen_stages: set[int]) -> tuple[dict, set[int]]:
    """Sum spill bytes over stages not yet attributed to a prior query."""
    apps = _api("/applications")
    app_id = apps[0]["id"]
    mem_b = disk_b = 0
    new_seen = set(seen_stages)
    for st in _api(f"/applications/{app_id}/stages?status=complete"):
        sid = st["stageId"]
        if sid in seen_stages:
            continue
        new_seen.add(sid)
        mem_b += st.get("memoryBytesSpilled", 0)
        disk_b += st.get("diskBytesSpilled", 0)
    return {"memoryBytesSpilled": mem_b, "diskBytesSpilled": disk_b}, new_seen


#: skew-mode cases (r12): the zipfian fixture's straggler shapes — a hot
#: single-partition window, a hot-key groupBy tail, and the salted-join
#: family's own query — under the same heap squeeze, so the skew path
#: carries the same spill-not-OOM evidence as the uniform one
SKEW_CASES = [
    "window_running_sum",
    "q13_order_count_distribution",
    "skew_join_salted",
]


def main() -> None:
    skew = "--skew" in sys.argv
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    copies = int(args[0]) if args else 10
    spark = _session()
    if skew:
        dst = "/tmp/sfskew_oracle"
        if not os.path.exists(os.path.join(dst, "_DONE")):
            raise SystemExit("skew fixture missing — run tools/build_skew.py")
        global CASES
        CASES = SKEW_CASES
    else:
        from tools.scale_probe import build

        build(spark, copies)

    from big_data_assignment2_2025_spark.plans import QUERIES

    out = {"mem": MEM, "copies": copies, "cases": {},
           "fixture": "skew" if skew else "scale_probe"}
    seen: set[int] = set()
    # burn the build's stages out of the attribution window
    _, seen = _spill_totals(seen)

    if not skew:
        from tools.scale_probe import DST as dst  # noqa: N811

    for name in CASES:
        rec: dict = {}
        t0 = time.perf_counter()
        try:
            rec["rows"] = QUERIES[name](spark, dst).count()
            rec["sec"] = round(time.perf_counter() - t0, 2)
            rec["status"] = "completed"
        except Exception as e:  # OOM surfaces as a Py4J java error
            rec["sec"] = round(time.perf_counter() - t0, 2)
            rec["status"] = f"failed: {type(e).__name__}: {str(e)[:200]}"
        try:
            spill, seen = _spill_totals(seen)
            rec.update(spill)
        except Exception as e:
            rec["spill_err"] = str(e)[:120]
        out["cases"][name] = rec
        print(f"# {name}: {rec}", file=sys.stderr)

    # plain both-sides-shuffled fact join under the same squeeze
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.read.parquet(f"{dst}/orders.parquet")
        c = spark.read.parquet(f"{dst}/customer.parquet")
        t0 = time.perf_counter()
        n = o.join(c, o.o_custkey == c.c_custkey).count()
        rec = {"rows": n, "sec": round(time.perf_counter() - t0, 2), "status": "completed"}
        spill, seen = _spill_totals(seen)
        rec.update(spill)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    out["cases"]["plain_fact_join"] = rec
    print(f"# plain_fact_join: {rec}", file=sys.stderr)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
