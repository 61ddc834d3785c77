"""Bench-regression adjudication probe (round 9, VERDICT #1).

The r8 bench recorded 9 queries 1.3-2x slower than r7 on a shared, noisy
host, with no plan-lint violation — but "probably noise" is not evidence.
This probe produces the evidence: for a given REPO TREE (HEAD or a git
worktree of the r7 tag) it runs each named query N times at sf0.1 in a
bench-identical session and records every timing plus a NORMALIZED
physical-plan fingerprint, so two trees can be compared on
(a) plan identity — exprIds, plan ids, codegen ids, staged /tmp paths and
    file statistics stripped; identical fingerprints mean Catalyst chose
    the same physical strategy in both trees, and
(b) timing distribution — min/median/mean/stdev over N runs, which is
    what separates host noise (overlapping distributions, same plan) from
    a real regression (disjoint distributions or a changed plan).

Usage:
    python tools/regress_probe.py <repo_root> <out_json> <n_runs> <q...>

Run once per tree (separate processes — both trees define the same
package name); compare with tools/regress_compare.py.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics
import sys
import time


def _normalize_plan(plan: str) -> str:
    """Strip run-variant noise from a physical-plan string so equal
    strategies hash equal across processes and trees."""
    s = plan
    s = re.sub(r"#\d+", "#x", s)                      # expression ids
    s = re.sub(r"plan_id=\d+", "plan_id=x", s)
    s = re.sub(r"\(\d+\)", "(n)", s)                   # codegen stage ids
    s = re.sub(r"Statistics\([^)]*\)", "Statistics(x)", s)
    s = re.sub(r"file:[^\],\s]+", "file:x", s)         # local paths
    s = re.sub(r"/tmp/[^\],\s]+", "/tmp/x", s)         # staged fixtures
    s = re.sub(r"InMemoryFileIndex\[[^\]]*\]", "InMemoryFileIndex[x]", s)
    s = re.sub(r"Location: [^,\n]+", "Location: x", s)
    s = re.sub(r"isFinalPlan=\w+", "isFinalPlan=x", s)
    # AQE rewrites Exchange nodes into (Reused)ShuffleQueryStage/AQEShuffleRead
    # wrappers whose exact shape varies with runtime sizes; strategy identity
    # lives in the join/agg/sort/scan skeleton, so keep only those lines
    keep = []
    for line in s.split("\n"):
        t = line.strip("+- :*() ")
        if not t:
            continue
        head = t.split()[0] if t.split() else ""
        if any(
            k in head
            for k in (
                "Join", "HashAggregate", "ObjectHashAggregate", "Sort",
                "Window", "Expand", "Generate", "FileScan", "Scan",
                "Filter", "Project", "Exchange", "BroadcastExchange",
                "TakeOrderedAndProject", "GlobalLimit", "LocalLimit",
                "MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas",
                "Union", "Coalesce", "InMemoryTableScan",
            )
        ):
            # grouping-set/distinct-agg gid literals are assigned in
            # nondeterministic iteration order run to run — same plan,
            # swapped ids (seen on contamination_check)
            t = re.sub(r"gid#x = \d+", "gid#x = n", t)
            # PERMUTATION-INVARIANT line form: Catalyst's distinct-agg
            # rewrite (and other Set-driven rules) permute column lists
            # nondeterministically ACROSS SESSIONS (seen on
            # contamination_check: Expand columns swapped between two
            # probes of the identical tree), so each line becomes its
            # operator head + sorted token multiset — a strategy change
            # (different operator, different key set, different literal)
            # still differs; a column permutation hashes equal
            toks = [x for x in re.split(r"[^A-Za-z0-9_#.]+", t) if x]
            keep.append(toks[0] + " " + " ".join(sorted(toks[1:])))
    # UNIQUE sorted line set, not the tree print: AQE stage
    # materialization varies subtree print order AND reuse counts
    # between runs of the IDENTICAL tree (seen on dedup_minhash_lsh:
    # 586 vs 588 lines, same line set). Deliberately coarse — the
    # fingerprint adjudicates "did the physical strategy change", and
    # the per-query timing ratio flags anything it can't see.
    return "\n".join(sorted(set(keep)))


def main() -> None:
    repo_root, out_json, n_runs = sys.argv[1], sys.argv[2], int(sys.argv[3])
    queries = sys.argv[4:]
    sys.path.insert(0, repo_root)

    from big_data_assignment2_2025_spark.plans import QUERIES
    from big_data_assignment2_2025_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="regress_probe")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up

    out: dict[str, dict] = {"repo_root": repo_root, "n_runs": n_runs,
                            "sf_dir": sf_dir, "queries": {},
                            "missing": []}
    for name in queries:
        fn = QUERIES.get(name)
        if fn is None:
            # probing an OLDER tree: queries added since simply don't
            # exist there — record and move on (the caller reports a
            # null ratio, never a crash)
            out["missing"].append(name)
            print(f"# {name}: not in this tree's registry", file=sys.stderr)
            continue
        times, rows, df = [], -1, None
        for _ in range(n_runs):
            # an older tree's query may leave cached relations that would
            # serve its next run; HEAD's bench refuses such a query
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            rows = df.count()
            times.append(round(time.perf_counter() - t0, 4))
        plan = _normalize_plan(
            df._jdf.queryExecution().executedPlan().toString()
        )
        out["queries"][name] = {
            "times": times,
            "min": round(min(times), 4),
            # min over WARM runs: run 1 may stage fixtures cold (stores,
            # bucketed copies) — bench A/B ratios compare this side
            "min_warm": round(
                min(times[1:]) if len(times) > 1 else min(times), 4
            ),
            "median": round(statistics.median(times), 4),
            "mean": round(statistics.fmean(times), 4),
            "stdev": round(statistics.stdev(times), 4) if len(times) > 1 else 0.0,
            "rows": rows,
            "plan_sha": hashlib.sha256(plan.encode()).hexdigest()[:16],
            "plan": plan,
        }
        print(
            f"# {name}: min={min(times):.3f} median="
            f"{statistics.median(times):.3f} n={rows}",
            file=sys.stderr,
        )
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(out_json)


if __name__ == "__main__":
    main()
