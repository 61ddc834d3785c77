"""Spans around the benchmark's calls into the engine, with Spark counters.

Each span runs its Spark jobs under a job group of its own. Counters are
resolved once, at the end of the run, from the status tracker (job and
stage ids of each group) and the JVM status store (per-stage task, shuffle,
spill, input and GC totals), so the timed loop pays only for two
``setJobGroup`` calls per span. With tracing off a span only yields.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: per-stage StageData accessors summed into a span's counters
_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    "input_rows": "inputRecords",
    "gc_ms": "jvmGcTime",
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.request = None

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the body; yields the span's record (a dict
        the body may annotate), or a throwaway dict when tracing is off."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": self.request,
            **attrs,
        }
        self.spans.append(rec)
        rec["group"] = f"pb-{rec['id']}"
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def resolve(self) -> None:
        """Attach jobs/stages/tasks/shuffle/spill/input/GC counters to every
        span. Call once, after the last traced job has finished."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        stages = store.stageList(
            None, False, False,
            sc._gateway.new_array(sc._jvm.double, 0),
            sc._jvm.java.util.ArrayList(),
        )
        by_stage: dict[int, dict[str, int]] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            row = by_stage.setdefault(s.stageId(), dict.fromkeys(_STAGE_FIELDS, 0))
            # a stage whose shuffle output was reused is listed as SKIPPED
            row["ran"] = row.get("ran", 0) or int(s.status().toString() != "SKIPPED")
            for key, getter in _STAGE_FIELDS.items():
                for g in (getter,) if isinstance(getter, str) else getter:
                    row[key] += getattr(s, g)()
        for rec in self.spans:
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            rec["jobs"] = len(jobs)
            rec["stages"] = sum(by_stage.get(s, {}).get("ran", 0) for s in stage_ids)
            for key in _STAGE_FIELDS:
                rec[key] = sum(by_stage.get(s, {}).get(key, 0) for s in stage_ids)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def gc_seconds(spark) -> float:
    """Cumulative collection time of every JVM garbage collector, in s."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def phases_ms(df, *names: str) -> dict[str, float]:
    """Catalyst phase durations of the DataFrame's own QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for n in names:
        p = phases.get(n)
        out[n] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out
