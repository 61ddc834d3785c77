"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {<slowest queries that fit the line budget>}, "sf": 0.1,
     "n_queries": N, "queries_file": "BENCH_LOCAL_latest.json"}

The driver records only the last ~2000 chars of stdout, so the final line
is kept under 1800 chars (asserted); the FULL per-query map is written to
``BENCH_LOCAL_latest.json`` next to this script and echoed to stderr.

Each query is timed end-to-end from a cold DataFrame build to a full
materialization (count of the result — the driver collects separately in
correctness runs; here we only want execution cost, not row transfer).

The headline set spans the engine's surface: BM25 search (the reference's
flagship path), TPC-H-style aggregation/join/window queries, and the
LLM-pipeline extensions (MinHash-LSH dedup, ANN similarity).

SELECTION RULE: every operator family in the registry gets at least one
timed representative — the family's most expensive/most production-shaped
member (its "headliner") plus any member whose plan was individually
re-engineered for scale (those are the regression canaries). Families of
cheap scalar/SQL-surface queries (string/date/math funcs, set ops, join
variants, pivot/unpivot, source round-trips) get ONE representative each,
not the full enumeration — the un-benched members share their
representative's plan shape, and the full registry is still timed
indirectly by the per-round oracle sweeps. TPC-H is one family (q1/q3/q5
represent the agg/join/topk shapes).

A/B REGRESSION PROTOCOL (round 11, VERDICT #1): headline drift twice
cost a round of bespoke adjudication (REGRESS_r9/REGRESS_r10) because
the committed bench was a single same-host run. The adjudication method
is now the bench itself: the previous round's tagged tree (latest
``r<N>`` tag, or ``$SPARK_GRAFT_PREV_REF``) is pinned as a git worktree
and probed IN THE SAME BENCH INVOCATION via ``tools/regress_probe.py``
(same host, same minutes), bracketed by the HEAD passes —
HEAD(RUNS) -> tag(AB_RUNS, subprocess) -> HEAD(1 more run) — so a noisy
host shows up as drift WITHIN a tree, not as a phantom regression
between trees. Per benched query the full map records ``sec`` (HEAD min
over both passes), ``ratio_vs_prev`` (HEAD min / tag min; null for
queries the tag tree lacks), ``plan_sha`` (normalized physical-plan
fingerprint) and ``plan_same``; the stdout line carries the compact
``ab`` summary (median/p90/max ratio, plans changed, bracket drift).
Disable with ``SPARK_GRAFT_AB=0``; failures of the tag probe degrade to
a plain bench with the reason recorded, never a crash.

Reading ``plan_same=False``: a FLAG for adjudication, not proof of a
plan regression — AQE's runtime decisions can vary fingerprints on a
busy host (the bench saturates every core while the probes run). The
per-query min-time ratio is the primary signal; confirm a flagged
fingerprint with a quiet-host ``tools/regress_probe.py`` pair, which is
exactly one command per tree. (r11 spot-check: the flagged dedup/ANN
fingerprints all reconverge to identical cross-tree shas on a quiet
host; the three real plan changes that round were q1's integer-cents
rewrite, the z-order range-id normalization, and the schema-evolution
revenue fix.)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "bm25_search",
    "index_term_freq",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "window_topk_per_group",
    "grouping_sets",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "embedding_neardup",
    "text_fingerprints",
    "events_sessionize",
    "streaming_hourly_window",
    "multimodal_decode_features",
    "bm25_search_materialized",
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_sq8_topk",
    "asof_last_purchase",
    "percentile_stats",
    "pipeline_clean_corpus",
    "stats_corr",
    # round-3 composites — the newest, least-profiled tranche
    "skyline_parts",
    "graph_pagerank_topk",
    "events_session_window_native",
    "association_rules",
    "user_ltv_deciles",
    "rfm_segmentation",
    # round-4 additions: distributed ranking + scale-variant dedup
    "doc_quality_quartiles",
    "training_mix_sample",
    "dedup_ngram_capped",
    "dedup_simhash_idf",
    # round-4b: storage co-location, reproducible shuffle, SQL-surface adds
    "bucketed_join_colocated",
    "training_shuffle_shards",
    "sql_recursive_reachability",
    "udaf_trimmed_mean",
    "partitioned_scan_pruned",
    "null_semantics_parity",
    "sequence_packing_bins",
    # round-5: the heavyweights previously invisible to BENCH — the
    # iterative-graph path (most expensive registry query) and the
    # digest-keyed boilerplate scan
    "graph_kcore_peel",
    "doc_boilerplate_rate",
    # round-5: operational-pipeline adds — incremental dedup, sketch-backed
    # heavy hitters, reconciliation checksum, weighted sampling
    "dedup_incremental_batch",
    "heavy_hitter_terms",
    "table_checksum_xor",
    "sample_weighted_priority",
    "events_ohlc_bars",
    "corpus_divergence_kl",
    "events_rolling_dau",
    "fk_integrity_audit",
    "embedding_gram_matrix",
    "events_type_stats_arrow",
    "streaming_ohlc_bars",
    "embedding_ridge_label",
    "events_funnel_latency",
    # round-7: the evictable streaming rolling-DAU twin and the hash-gated
    # closed-form PCA entry
    "streaming_rolling_dau",
    "embedding_pca_project",
    # round-7b: deterministic sketches — HLL rolling-DAU (batch register
    # fan-out + bounded-state streaming twin) and histogram quantiles
    "events_rolling_dau_approx",
    "streaming_rolling_dau_hll",
    "events_value_quantiles_hist",
    "streaming_value_quantiles",
    "orders_bloom_prune",
    "events_rolling_quantiles_hist",
    "lineitem_distinct_profile_hll",
    "events_user_freq_cms",
    "streaming_user_freq_cms",
    "events_audience_diff_kmv",
    # round-7b tranche 2: exact-bitmap distinct (batch + streaming twin),
    # time-series gap fill, hybrid-retrieval fusion, positional phrase
    # search, CDC snapshot diff, int8 quantization
    "events_bitmap_daily_users",
    "streaming_bitmap_dau",
    "events_gap_fill_interpolate",
    "search_rrf_fusion",
    "search_phrase_match",
    "snapshot_diff_cdc",
    "embedding_int8_quantize",
    # round-7e/f: salted skew join, file-manifest skipping, BPE pair
    # counting, containment dedup, sequence pattern match, binary-signature
    # retrieval (plain + two-stage rerank), streaming log compaction
    "skew_join_salted",
    "orders_manifest_skipping",
    "text_bpe_merge_pairs",
    "dedup_containment",
    "events_pattern_match",
    "embedding_binary_hamming_topk",
    "ann_hamming_rerank",
    "streaming_latest_state",
    "events_attribution_linear",
    "graph_link_prediction",
    "events_seasonal_decompose",
    "events_ewma_anomaly",
    "streaming_pattern_match",
    "orders_schema_evolution_scan",
    "events_cumulative_users",
    "events_dau_rollup_hll",
    "orders_revenue_drawdown",
    "events_day_churn",
    "events_segment_pmi",
    "events_rolling_slope",
    # round-7i: community seeding, changepoint, forensic audit,
    # collocations, noisy release, streaming EWMA twin
    "graph_label_propagation",
    "events_changepoint_cusum",
    "orders_benford_audit",
    "text_collocations_llr",
    "customer_l_diversity",
    "streaming_ewma_anomaly",
    # round-7j: sequence model, robust stats, time-weighting, interval
    # algebra, warehouse history
    "events_markov_transitions",
    "events_twap_daily",
    "events_interval_merge",
    "orders_scd2_history",
    # round-7k: survival analysis + community quality
    "events_survival_km",
    "graph_modularity",
    # round-8: index lifecycle (delete + idempotent rebuild)
    "index_rebuild_idempotent",
    "index_delete_docs",
    # round-8b: published-method dedup closures — SemDeDup semantic dedup
    # and ExactSubstr content-defined anchor dedup
    "embedding_semdedup",
    "docs_exact_substring_dedup",
    "docs_winnowing_dedup",
    # round-8c: snapshot store — time travel, MERGE, stats-pruned read,
    # file-pruned MERGE
    "storage_time_travel",
    "storage_merge_upsert",
    "storage_snapshot_pruned_read",
    "storage_merge_pruned",
    # round-8c: SymSpell deletion-blocked "did you mean"
    "search_spell_suggest",
    # round-9: compression-ladder ANN rerank twin, deletes-2 spell
    # suggestion, z-order clustering (key math + manifest-pruned box read)
    "search_spell_suggest_d2",
    "zorder_key_topk",
    "storage_zorder_box_read",
    # round-9: the AllPairs/PPJoin prefix-filtered exact Jaccard re-plan —
    # the regression canary for the dedup family's scale path
    "dedup_ngram_threshold",
    # round-10: scale-aware SemDeDup (k derived from corpus count),
    # snapshot-store additive schema evolution, partition-spec evolution
    "embedding_semdedup_scaled",
    "storage_schema_evolution",
    "storage_partition_evolution",
    "storage_change_feed",
    # round-10: foreachBatch-sink family representative (exactly-once
    # txn-tracked micro-batch ingestion into the snapshot store) and its
    # read-side twin (store as a streaming source, Python DataSource API)
    "streaming_snapshot_sink",
    "streaming_snapshot_source",
    # round-10 coverage sweep: one representative per previously-unbenched
    # family (see SELECTION RULE above)
    "topk_orders",               # TakeOrderedAndProject family
    "join_semi",                 # join-variant family (semi/anti/outer)
    "set_union_all",             # set-op family
    "string_funcs",              # scalar-func family
    "pivot_status_by_segment",   # pivot/unpivot family
    "unpivot_part_attrs",
    "cube_agg",                  # cube/rollup family
    "tsv_roundtrip",             # source/sink round-trip family
    "jsonl_roundtrip",
    "orc_roundtrip",
    "python_datasource_calendar",  # custom python datasource
    "tfidf_search",              # TF-IDF ranking family
    "correlated_scalar_subquery",  # subquery-decorrelation family
    "sql_lateral_topk",          # LATERAL join family
    "udtf_top_terms",            # UDTF surface
    "pandas_udf_quantile_bucket",  # pandas-UDF surface
    "range_join_error_clicks",   # range/band join family
    "merge_upsert_orders",       # batch MERGE family
    "incremental_agg_refresh",   # incremental-view-maintenance family
    "text_language_id",          # language-ID family
    "knn_classify",              # kNN classification family
    "dedup_cluster_components",  # iterative connected-components family
    "split_train_test",          # train/test split family
    "contamination_check",       # eval-contamination family
    "islands_active_days",       # gaps-and-islands family
    "decimal_exact_agg",         # exact-decimal aggregation family
    # round-11/12 storage-verb representatives: deletion vectors /
    # merge-on-read, CHECK constraints, small-file compaction
    "storage_delete_vectors",
    "storage_check_constraint",
    "storage_compact_small",
    # round-13: column mapping (metadata-only rename/drop read path),
    # identity assignment, generated-column recompute
    "storage_column_mapping",
    "storage_identity_column",
    "storage_generated_column",
    # round-13b: bloom-index point skipping and CDF-fed incremental MV
    "storage_bloom_point_skip",
    "storage_incremental_mv",
]

#: timed runs per query; we report the fastest (steady-state throughput —
#: first runs are dominated by one-off Catalyst + whole-stage-codegen compile
#: and JVM JIT, which amortize to nothing in any long-running deployment)
RUNS = 3

#: timed runs per query in the previous-round tag probe (the A/B side)
AB_RUNS = int(os.environ.get("SPARK_GRAFT_AB_RUNS", "2"))

#: total wall-clock budget (sec) for the WHOLE bench including the A/B
#: passes. The driver's kill deadline is unknown; a bench that dies
#: before printing its stdout line records ``parsed: null`` (the r7
#: failure mode, time-domain edition). The A/B phases are skipped or
#: timeboxed so the summary line ALWAYS prints within this budget;
#: HEAD pass 1 alone overrunning it just means a plain bench.
AB_BUDGET = int(os.environ.get("SPARK_GRAFT_AB_BUDGET", "1500"))

#: hard cap for the final stdout line — the driver keeps only the last
#: ~2000 chars of stdout, and a line longer than that is truncated at the
#: FRONT, destroying the opening brace (r7's 93-query line hit this and the
#: official artifact recorded ``parsed: null``)
LINE_BUDGET = 1800

#: STABLE driver-visible query set (r14, VERDICT r13 item 3): the line's
#: per-query map previously filled greedily slowest-first, so membership in
#: the slowest-40 reshuffled with host speed and every cross-round PERF
#: comparison misreported "dropped"/"new" queries that merely got faster or
#: slower than the cut line. These names — the full r13 line set — are now
#: ALWAYS emitted (so round-over-round line diffs compare a fixed set);
#: remaining budget is still filled greedily slowest-first with the rest.
#: Line values are rounded to 2 decimals to fit the pinned set + the A/B
#: block in the budget; the full-precision map lives in
#: BENCH_LOCAL_latest.json as before. Append new names at round end when
#: the line gains entries; never remove.
LINE_PIN = [
    "streaming_rolling_dau_hll", "streaming_user_freq_cms",
    "graph_kcore_peel", "sql_recursive_reachability",
    "streaming_snapshot_source", "graph_modularity",
    "dedup_ngram_threshold", "streaming_pattern_match",
    "contamination_check", "doc_quality_quartiles",
    "dedup_cluster_components", "streaming_bitmap_dau", "udtf_top_terms",
    "streaming_value_quantiles", "rfm_segmentation",
    "graph_label_propagation", "streaming_ewma_anomaly",
    "streaming_rolling_dau", "bm25_search", "dedup_ngram_capped",
    "association_rules", "ann_ivf_topk", "dedup_containment",
    "graph_link_prediction", "search_rrf_fusion", "docs_winnowing_dedup",
    "storage_bloom_point_skip", "streaming_ohlc_bars", "ann_sq8_topk",
    "multimodal_decode_features", "dedup_minhash_lsh",
    "q3_shipping_priority", "dedup_simhash", "streaming_hourly_window",
    "orders_bloom_prune", "q5_region_revenue", "streaming_latest_state",
    "streaming_snapshot_sink", "docs_exact_substring_dedup",
    "bm25_search_materialized", "zorder_key_topk", "user_ltv_deciles",
    "sql_lateral_topk", "text_collocations_llr", "search_phrase_match",
    "embedding_neardup", "events_rolling_dau_approx",
    "embedding_semdedup_scaled", "pipeline_clean_corpus",
    "embedding_semdedup", "heavy_hitter_terms", "training_mix_sample",
    # NOTE: the pinned set is exactly the r13 stdout-line set (what
    # PERF_r14 will diff against); the budget does not fit more alongside
    # the A/B block. Queries outside the pin (e.g. the 7 r13
    # "dropped_from_bench" artifacts — queries that fell off the line
    # because they got FASTER) still ride the greedy slowest-first fill.
]


def _dumps(obj) -> str:
    """Compact JSON (no separator whitespace) — the line budget is hard."""
    return json.dumps(obj, separators=(",", ":"))


def _line_secs(t: float) -> float:
    """A per-query time as the line carries it: two decimals below 10 s,
    one below 100 s, whole seconds above (three significant digits; the
    full map keeps every timing)."""
    return round(t, 2) if t < 10 else round(t, 1) if t < 100 else float(round(t))


def summary_line(
    timings: dict[str, float], sf: float, ab: dict | None = None
) -> str:
    """Build the driver-facing stdout line, guaranteed ≤ LINE_BUDGET chars.

    Summary fields always present. The per-query map carries the PINNED
    set (``LINE_PIN`` — stable across rounds whatever the host speed)
    first, then fills greedily slowest-first until the serialized line
    would exceed the budget, at which point ``queries_truncated: true``
    marks the cut (the full map lives in BENCH_LOCAL_latest.json). ``ab``
    is the compact A/B summary vs the previous round's ref (bounded size —
    it rides the line, the per-query ratios live in the full map). If the
    pinned set itself ever overflows, the FASTEST pinned entries are
    dropped last-first — never reached at current sizes (asserted below).
    """
    summary = {
        "metric": "headline_queries_total_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries_file": "BENCH_LOCAL_latest.json",
        "queries": {},
        # reserved up front so deleting the overflowing entry can never
        # leave the line over budget
        "queries_truncated": True,
    }
    if ab is not None:
        summary["ab"] = ab
    pinned = [n for n in LINE_PIN if n in timings]
    rest = sorted(
        (n for n in timings if n not in set(LINE_PIN)),
        key=lambda k: timings[k],
        reverse=True,
    )
    for name in pinned:
        summary["queries"][name] = _line_secs(timings[name])
    # pinned overflow safety valve: drop fastest pinned entries until fit
    while len(_dumps(summary)) > LINE_BUDGET and summary["queries"]:
        drop = min(summary["queries"], key=lambda k: summary["queries"][k])
        del summary["queries"][drop]
    truncated = len(summary["queries"]) < len(pinned)
    for name in rest:
        summary["queries"][name] = _line_secs(timings[name])
        if len(_dumps(summary)) > LINE_BUDGET:
            del summary["queries"][name]
            truncated = True
            break
    if not truncated:
        del summary["queries_truncated"]
    line = _dumps(summary)
    assert len(line) <= LINE_BUDGET, f"bench line {len(line)} > {LINE_BUDGET}"
    return line


def _resolve_prev_ref(repo: str) -> str | None:
    """The previous round's git ref for the A/B side: explicit
    ``$SPARK_GRAFT_PREV_REF`` wins; then the committed ``PREV_REF`` file
    (plain SHA, updated at each round end — r14, VERDICT r13 item 1: git
    tags do NOT survive the driver's snapshot/clone cycle, so the r13
    round's A/B silently recorded "skipped" despite the tag protocol);
    then the highest ``r<N>`` tag that does NOT resolve to the current
    HEAD commit. The self-compare guard matters when the ref points at
    the current commit (r11's driver artifact compared HEAD to its own
    tag — a pure-noise null instead of the real round-over-round
    signal); the next-lower tag carries the comparison the A/B exists
    for."""
    import subprocess

    env = os.environ.get("SPARK_GRAFT_PREV_REF")
    if env:
        return env

    def _sha_of(ref: str) -> str | None:
        try:
            return subprocess.run(
                ["git", "-C", repo, "rev-parse", f"{ref}^{{commit}}"],
                capture_output=True, text=True, timeout=30, check=True,
            ).stdout.strip()
        except Exception:
            return None

    ref_file = os.path.join(repo, "PREV_REF")
    if os.path.isfile(ref_file):
        with open(ref_file) as fh:
            lines = [
                ln.strip() for ln in fh
                if ln.strip() and not ln.lstrip().startswith("#")
            ]
        # newest-first: first resolvable line that isn't HEAD itself
        head = _sha_of("HEAD")
        for ln in lines:
            sha = _sha_of(ln)
            if sha is not None and sha != head:
                return ln

    def _sha(ref: str) -> str | None:
        try:
            return subprocess.run(
                ["git", "-C", repo, "rev-parse", ref],
                capture_output=True, text=True, timeout=30, check=True,
            ).stdout.strip()
        except Exception:
            return None

    try:
        tags = subprocess.run(
            ["git", "-C", repo, "tag", "--list", "r[0-9]*"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout.split()
    except Exception:
        return None
    tags = sorted(
        (t for t in tags if re.fullmatch(r"r\d+", t)),
        key=lambda t: int(t[1:]),
    )
    head = _sha("HEAD")
    for t in reversed(tags):
        if head is None or _sha(f"{t}^{{commit}}") != head:
            return t
    return None


def _prev_worktree(repo: str, ref: str) -> str:
    """A detached git worktree of ``ref`` (cached per ref under /tmp)."""
    import subprocess
    import tempfile

    path = os.path.join(tempfile.gettempdir(), f"bench_prev_{ref}")
    if not os.path.isdir(os.path.join(path, "big_data_assignment2_2025_spark")):
        subprocess.run(
            ["git", "-C", repo, "worktree", "add", "--detach", path, ref],
            capture_output=True, text=True, timeout=120, check=True,
        )
    return path


def _probe_tree(
    repo_root: str,
    queries: list[str],
    n_runs: int,
    sf_dir: str,
    timeout: float = 2400,
    isolate_tmp: bool = True,
) -> dict:
    """Run ``tools/regress_probe.py`` (HEAD's copy — it skips queries the
    probed tree lacks) against ``repo_root`` in a SUBPROCESS (both trees
    define the same package name) and return its per-query map."""
    import subprocess
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    out_json = tempfile.mktemp(prefix="bench_prev_", suffix=".json")
    # the probed tree gets its OWN staged-cache tmp root: both trees
    # stage derived fixtures (bucketed tables, snapshot stores) under
    # tempfile.gettempdir(), and an older tree's cache-validity rules may
    # rewrite files the HEAD session has listings cached for (r11: the
    # r10 tree's bucketed_table rewrote on fresh-catalog, renaming every
    # part file under HEAD's bracket pass). Isolation costs a one-time
    # staging rebuild per ref, cached across bench runs.
    # isolation applies to FOREIGN trees only — probing HEAD itself
    # (plan fingerprints) shares the live session's caches: same code,
    # same cache rules, and writing .bench_tmp into the repo root would
    # pollute the working tree
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    if isolate_tmp:
        sub_tmp = os.path.join(repo_root, ".bench_tmp")
        os.makedirs(sub_tmp, exist_ok=True)
        env["TMPDIR"] = sub_tmp
    subprocess.run(
        [sys.executable, os.path.join(here, "tools", "regress_probe.py"),
         repo_root, out_json, str(n_runs), *queries],
        env=env, timeout=timeout, check=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    with open(out_json) as f:
        return json.load(f)


def _plan_sha(df) -> str:
    import hashlib

    from tools.regress_probe import _normalize_plan

    plan = _normalize_plan(df._jdf.queryExecution().executedPlan().toString())
    return hashlib.sha256(plan.encode()).hexdigest()[:16]


def _time_pass(spark, sf_dir, queries, runs, want_plans=False):
    """One HEAD timing pass: per query, min over ``runs`` end-to-end
    executions (+ the normalized plan fingerprint of the last one).

    The FIRST execution is timed separately (``firsts``): staged-store
    gates build their fixture (snapshot store, bucketed copy, Z-order
    layout) on a cold cache exactly once, and that cost belongs to
    ``stage_sec`` — not to the measured read path. ``min`` still spans
    every run (a first run is never meaningfully faster, so the
    reported query time is unchanged in definition), and the full map
    records ``stage_sec = max(0, first - min)`` per query so a
    read-path regression can never hide under staging noise
    (r12 VERDICT item 5). A query that leaves relations in the
    CacheManager raises, naming the query."""
    from big_data_assignment2_2025_spark.plans import QUERIES

    cache = spark._jsparkSession.sharedState().cacheManager()
    mins: dict[str, float] = {}
    rows: dict[str, int] = {}
    plans: dict[str, str] = {}
    firsts: dict[str, float] = {}
    for name in queries:
        fn = QUERIES[name]
        best, n, df = float("inf"), -1, None
        for i in range(runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = time.perf_counter() - t0
            if not cache.isEmpty():
                # the next run's identical plan would be served from it:
                # the min would time the cache, not the query
                raise RuntimeError(f"{name} left relations in the CacheManager")
            if i == 0:
                firsts[name] = dt
            best = min(best, dt)
        mins[name], rows[name] = best, n
        if want_plans:
            plans[name] = _plan_sha(df)
    return mins, rows, plans, firsts


def _quantile(sorted_vals: list[float], q: float) -> float | None:
    if not sorted_vals:
        return None  # never NaN: json.dumps(nan) is not valid JSON
    i = min(len(sorted_vals) - 1, int(q * (len(sorted_vals) - 1) + 0.5))
    return sorted_vals[i]


def _r3(x: float | None) -> float | None:
    return None if x is None else round(x, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    here = os.path.dirname(os.path.abspath(__file__))

    from big_data_assignment2_2025_spark.session import get_spark

    spark = get_spark(app_name="bench")
    # JVM/codegen warm-up so q1 doesn't absorb session start-up cost
    spark.range(1000).selectExpr("sum(id)").collect()
    t_start = time.monotonic()

    def remaining() -> float:
        return AB_BUDGET - (time.monotonic() - t_start)

    # -- HEAD pass 1 (RUNS runs per query, plan fingerprints) --
    mins1, rows, plans, firsts = _time_pass(
        spark, sf_dir, HEADLINE, RUNS, want_plans=True
    )
    pass1_wall = time.monotonic() - t_start
    for name in HEADLINE:
        print(
            f"# {name}: {mins1[name]:.3f}s ({rows[name]} rows)",
            file=sys.stderr,
        )

    # -- previous-round tag probe (subprocess; same host, same minutes).
    # Every phase is budget-gated: the stdout line must print inside
    # AB_BUDGET whatever the host throws at us -- a killed bench records
    # parsed:null, which costs more than a skipped A/B.
    ab_on = os.environ.get("SPARK_GRAFT_AB", "1") != "0"
    prev_ref = _resolve_prev_ref(here) if ab_on else None
    prev, ab, mins2 = None, None, {}
    # the tag probe needs roughly a pass-1 (fewer runs but a fresh
    # session + possible first-time staging); the bracket pass ~1/RUNS
    probe_est = pass1_wall * (AB_RUNS / RUNS) + 120
    if prev_ref is not None and remaining() < probe_est:
        ab = {
            "skipped": f"budget: {remaining():.0f}s left < "
            f"{probe_est:.0f}s probe estimate"
        }
        print(f"# A/B skipped: {ab['skipped']}", file=sys.stderr)
        prev_ref = None
    head_probe = None
    if prev_ref is not None:
        try:
            wt = _prev_worktree(here, prev_ref)
            prev = _probe_tree(
                wt, HEADLINE, AB_RUNS, sf_dir,
                timeout=max(120, remaining() - 60),
            )
        except Exception as e:  # noqa: BLE001 — bench must never die here
            ab = {"skipped": f"{type(e).__name__}: {e}"[:160]}
            print(f"# A/B probe failed: {e}", file=sys.stderr)
        if prev is not None and remaining() > 120:
            try:
                # HEAD's plan fingerprints via the SAME mechanism (fresh
                # subprocess session, same query order): a warm
                # in-process plan is not comparable to a cold probe plan
                # — cached staged structures change the printed
                # skeleton, which made every cross-tree comparison read
                # as "plan changed"
                head_probe = _probe_tree(
                    here, HEADLINE, 1, sf_dir,
                    timeout=max(120, remaining() - 60),
                    isolate_tmp=False,
                )
            except Exception as e:  # noqa: BLE001
                print(f"# HEAD plan probe failed: {e}", file=sys.stderr)
        if prev is not None and remaining() > pass1_wall / RUNS + 30:
            try:
                # -- HEAD pass 2 (1 run): brackets the tag probe, so host
                # drift during the window is measurable WITHIN one tree --
                mins2, _, _, _ = _time_pass(spark, sf_dir, HEADLINE, 1)
            except Exception as e:  # noqa: BLE001
                print(f"# HEAD bracket pass failed: {e}", file=sys.stderr)
    elif ab_on and ab is None:
        ab = {"skipped": "no r<N> tag and no SPARK_GRAFT_PREV_REF"}

    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}
    ratios: list[float] = []
    n_plan_changed = 0
    drifts: list[float] = []
    head_plans = (head_probe or {}).get("queries", {})
    for name in HEADLINE:
        head_min = min(mins1[name], mins2.get(name, float("inf")))
        timings[name] = round(head_min, 3)
        d: dict = {
            "sec": timings[name],
            # cold-cache fixture staging of run 1, split out so the
            # measured query path (min over warm runs) is what the A/B
            # compares — ~0 for unstaged queries
            "first_sec": round(firsts[name], 3),
            "stage_sec": round(max(0.0, firsts[name] - head_min), 3),
            # probe-captured sha when available (comparable to the tag
            # side); the warm in-process sha otherwise, marked as such
            "plan_sha": (
                head_plans[name]["plan_sha"]
                if name in head_plans
                else plans.get(name)
            ),
            "plan_sha_source": (
                "probe" if name in head_plans else "inprocess"
            ),
            "ratio_vs_prev": None,
            "prev_plan_sha": None,
            "plan_same": None,
        }
        if prev is not None and name in prev.get("queries", {}):
            p = prev["queries"][name]
            # warm min on the tag side too (its run 1 stages fixtures
            # into an isolated TMPDIR — a pure staging cost that is not
            # the read path under comparison); older probes without the
            # field degrade to the plain min
            d["ratio_vs_prev"] = round(
                head_min / max(p.get("min_warm", p["min"]), 1e-6), 3
            )
            d["prev_plan_sha"] = p["plan_sha"]
            # comparable only probe-to-probe; otherwise unknown, not
            # "changed" (the r11 warm-vs-cold lesson)
            d["plan_same"] = (
                p["plan_sha"] == d["plan_sha"]
                if name in head_plans
                else None
            )
            ratios.append(d["ratio_vs_prev"])
            n_plan_changed += int(d["plan_same"] is False)
        if name in mins2 and mins1[name] > 0:
            drifts.append(mins2[name] / max(mins1[name], 1e-6))
        detail[name] = d
    # fingerprint RECONFIRMATION pass: plans captured inside a 153-query
    # session depend on that session's accumulated cache state, and the
    # two trees' cache paths diverge — so a first-pass mismatch is re-
    # probed in SMALL clean sessions over just the flagged queries
    # (r11: every false flag reconverged this way; real changes do not)
    flagged = [n for n in HEADLINE if detail[n]["plan_same"] is False]
    if prev is not None and flagged and remaining() > 240:
        try:
            t_each = max(120, (remaining() - 60) / 2)
            qh = _probe_tree(
                here, flagged, 1, sf_dir, timeout=t_each,
                isolate_tmp=False,
            )
            qp = _probe_tree(wt, flagged, 1, sf_dir, timeout=t_each)
            for n in flagged:
                a = qh.get("queries", {}).get(n, {}).get("plan_sha")
                b = qp.get("queries", {}).get(n, {}).get("plan_sha")
                if a and b:
                    detail[n]["plan_sha"] = a
                    detail[n]["prev_plan_sha"] = b
                    detail[n]["plan_same"] = a == b
                    detail[n]["plan_reconfirmed"] = True
            n_plan_changed = sum(
                1 for n in HEADLINE if detail[n]["plan_same"] is False
            )
        except Exception as e:  # noqa: BLE001
            print(f"# fingerprint reconfirm failed: {e}", file=sys.stderr)
    if prev is not None:
        rs = sorted(ratios)
        ds = sorted(drifts)
        ab = {
            "prev": prev_ref,
            "n_common": len(ratios),
            "median_ratio": _r3(_quantile(rs, 0.5)),
            "p90_ratio": _r3(_quantile(rs, 0.9)),
            "max_ratio": round(max(rs), 3) if rs else None,
            "n_plan_changed": n_plan_changed,
            # min-of-pass2 / min-of-pass1 on HEAD itself: ~1.0 on a quiet
            # host; a hot host inflates this exactly like it inflates the
            # cross-tree ratios — the noise control the adjudications used
            "head_bracket_median": _r3(_quantile(ds, 0.5)),
        }

    total = round(sum(timings.values()), 3)

    # Full per-query map → file (committed per round as BENCH_LOCAL_r{N})
    # and stderr.  The driver captures only the last ~2000 chars of stdout;
    # the r7 headline (93 queries) overflowed that and truncated the JSON
    # line mid-record, so the official artifact recorded ``parsed: null``.
    # Keep stdout SHORT: summary fields plus the slowest queries, added
    # greedily while the serialized line stays under a hard budget.
    local_path = os.path.join(here, "BENCH_LOCAL_latest.json")
    full = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "ab": ab,
        # cold-cache fixture staging split out of the measured path:
        # per-query first_sec/stage_sec live in ab_queries
        "stage_sec_total": round(
            sum(max(0.0, firsts[n] - timings[n]) for n in HEADLINE), 3
        ),
        # per-query A/B record: HEAD sec (min over both passes),
        # first_sec/stage_sec, ratio_vs_prev, plan_sha both sides
        "ab_queries": detail,
    }
    with open(local_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(f"# full per-query map: {local_path}", file=sys.stderr)

    print(summary_line(timings, sf, ab))


if __name__ == "__main__":
    main()
