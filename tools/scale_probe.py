"""Scale probe: run flagship plans at ~sf1 (10x the largest shipped fixture)
to exercise the behaviors the small fixtures cannot — multi-file scans, AQE
partition coalescing on real volumes, broadcast-threshold sanity, shuffle
sizes (SURVEY.md §9's "needs the next SF up" item).

The probe derives a LOCAL THROWAWAY dataset under /tmp from sf0.1 (read-only
testdata is never touched): fact tables (lineitem, orders, events,
documents, embeddings) are unioned 10x with key shifts that preserve join
integrity (order keys shift identically in lineitem and orders; dimension
keys are left alone — dims grow slower than facts in any real warehouse, and
keeping them fixed preserves the broadcast-side sizes). Written as multiple
parquet files so scans split properly.

Experimental design for the dedup/ANN families: a naive 10x copy of
documents would make every row a 10-way exact duplicate — candidate pairs
would grow as copies^2 BY CONSTRUCTION and tell us nothing about the
algorithm. Instead each copy's tokens get a per-copy prefix (``c{i}_``) and
each embedding copy is cyclically rotated, so the scaled corpus has the SAME
near-dup density as the original and candidate growth measures the
ALGORITHM: LSH banding / chunk blocking / cell pruning should grow ~linearly
in corpus size. The ``pair_growth`` section reports candidates at 1x vs Nx
and the growth ratio normalized by copies (≈1.0 = linear).

Usage: python tools/scale_probe.py [copies]     (default 10)
Prints one JSON line with per-query timings, plan checks and pair growth.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf_probe"

#: key shift per copy — far above any real key range in the fixtures
SHIFT = 10**9

PROBES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "index_term_freq",
    "bm25_search",
    "dedup_exact",
    "events_sessionize",
    "window_topk_per_group",
    # pipeline families (salted corpus — constant dup density, see header)
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_threshold",
    "ann_lsh_bucketed",
    "ann_ivf_topk",
    # distributed-ranking + training-mix composites (round 4)
    "rfm_segmentation",
    "user_ltv_deciles",
    "doc_quality_quartiles",
    "training_mix_sample",
    # iterative fixed-point algorithm (round 4b): convergence rounds are
    # data-dependent — the 10x probe shows whether iteration count, not
    # per-round cost, is what grows
    "dedup_cluster_components",
    # round-5 operational surfaces: incremental dedup (anti-join stays
    # batch-sized), checksum (shuffle = group cardinality at any SF),
    # OHLC (partial agg), rolling distinct (7x dimension fan-out), and the
    # checkpointed k-core (per-round cost on the 10x edge list). The
    # salted corpus dilutes every term below the 1% support, so
    # heavy_hitter_terms legitimately returns 0 rows at 10x — the probe
    # checks its bounded plan, not its hit count.
    "dedup_incremental_batch",
    "heavy_hitter_terms",
    "table_checksum_xor",
    "events_ohlc_bars",
    "events_rolling_dau",
    "graph_kcore_peel",
    # round-7b/7c surfaces whose scale behavior the 10x probe should pin:
    # bitmap words (shuffle = id-universe bound, not event count), the
    # densified gap-fill window, the CDC full-outer diff, cohort
    # retention's co-partitioned joins, and the attribution window pass
    "events_bitmap_daily_users",
    "events_gap_fill_interpolate",
    "snapshot_diff_cdc",
    "events_cohort_retention",
    "events_attribution_last_touch",
    # round-8 index lifecycle: delete = anti-join + vocab-scale df
    # recompute (cost ∝ index size, never a corpus re-pair); idempotent
    # rebuild = delete + one fresh build (~2 single builds). On the salted
    # 10x corpus both should scale with the one token shuffle that
    # dominates build_index.
    "index_delete_docs",
    "index_rebuild_idempotent",
    # round-8b dedup closures: SemDeDup (fixed 8-cell quantizer — the probe
    # also measures the candidate blowup that mandates scaling n_cells with
    # the corpus, see _candidate_counts) and content-defined anchor pairs
    # (salted copies share no 40-char window, so pair growth is linear)
    "embedding_semdedup",
    # round-10: the scale-aware twin — n_cells derived from the corpus
    # count, the configuration whose candidate growth must stay ~linear
    "embedding_semdedup_scaled",
    "docs_exact_substring_dedup",
    "docs_winnowing_dedup",
]

#: bump when the derived-dataset recipe changes so stale /tmp copies rebuild
BUILD_TAG = "v2-salted"


def _salt_text(c, i: int):
    """Prefix every whitespace token with the copy index: within-copy
    shingle/term structure is identical to the original, cross-copy equality
    is impossible — the corpus grows, the dup density does not. Copy 0 keeps
    the ORIGINAL text so vocabulary-dependent probes (bm25_search) still hit
    their query terms in the scaled corpus."""
    if i == 0:
        return c
    return c.withColumn(
        "text",
        F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), " "),
                lambda t: F.concat(F.lit(f"c{i}_"), t),
            ),
        ),
    )


def _rotate_embedding(c, i: int):
    """Cyclic-rotate each copy's vector so copies are directionally distinct
    (identical copies would share every LSH bucket by construction)."""
    if i == 0:
        return c
    return c.withColumn(
        "embedding",
        F.expr(
            f"concat(slice(embedding, {i * 7} % size(embedding) + 1, size(embedding)),"
            f" slice(embedding, 1, {i * 7} % size(embedding)))"
        ),
    )


def _scale(df, copies: int, shifts: dict[str, bool], name: str):
    parts = []
    for i in range(copies):
        c = df
        for col, do in shifts.items():
            if do:
                c = c.withColumn(col, F.col(col) + F.lit(i * SHIFT))
        if name == "documents":
            c = _salt_text(c, i)
        if name == "embeddings":
            c = _rotate_embedding(c, i)
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def build(spark, copies: int) -> None:
    marker = os.path.join(DST, "_DONE")
    if os.path.exists(marker) and open(marker).read() == f"{BUILD_TAG}:{copies}":
        return
    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST, exist_ok=True)
    plans = {
        "lineitem": {"l_orderkey": True},
        "orders": {"o_orderkey": True},
        "events": {"event_id": True},
        "documents": {"doc_id": True},
        "embeddings": {"vec_id": True},
    }
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        if t in plans:
            scaled = _scale(src, copies, plans[t], t)
            # several files per table => a properly split scan downstream
            scaled.repartition(16).write.mode("overwrite").parquet(
                f"{DST}/{t}.parquet"
            )
        else:
            src.write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
    open(marker, "w").write(f"{BUILD_TAG}:{copies}")


def _candidate_counts(spark, sf_dir: str, shard_divisor: int = 1) -> dict[str, int]:
    """Candidate-pair counts BEFORE verification/re-rank for each bucketed
    family — the quantity whose growth decides 100 TB viability.

    ``shard_divisor``: the salted scaled corpus is ``copies`` independent
    token-disjoint shards, so FRACTIONAL thresholds (the idf 20% filter)
    must be evaluated against the per-shard doc count (n_docs / copies) —
    on a real 10x corpus boilerplate terms keep their document-frequency
    fraction, which is exactly what per-shard evaluation reproduces."""
    from big_data_assignment2_2025_spark.operators.dedup import (
        SIMHASH_BITS,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles_df,
        simhash_signatures,
    )
    from big_data_assignment2_2025_spark.operators.similarity import (
        hyperplane_signature,
    )
    from big_data_assignment2_2025_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = shingles_df(docs)
    out = {}
    out["minhash_lsh"] = lsh_candidate_pairs(minhash_signatures(sh)).count()
    # ngram inverted-index: pairs sharing >= 1 shingle (pre-Jaccard)
    a = sh.select(F.col("doc_id").alias("doc1"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc2"), "shingle")
    out["ngram_inverted"] = (
        a.join(b, "shingle")
        .where(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
        .count()
    )
    # df-capped variant (dedup_ngram_capped's universe): the hot-shingle
    # mitigation's measured effect on pair fan-out
    keep = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= 4)
        .select("shingle")
    )
    shc = sh.join(keep, "shingle", "left_semi")
    ac = shc.select(F.col("doc_id").alias("doc1"), "shingle")
    bc = shc.select(F.col("doc_id").alias("doc2"), "shingle")
    out["ngram_inverted_capped"] = (
        ac.join(bc, "shingle")
        .where(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
        .count()
    )
    # AllPairs prefix + PPJoin length/position filters at t=0.5 — the
    # round-9 exact path's candidate universe (dedup_ngram_threshold)
    from big_data_assignment2_2025_spark.operators.dedup import (
        prefix_filtered_candidates,
    )

    hashed = sh.select(
        "doc_id", F.xxhash64("shingle").alias("h")
    ).dropDuplicates(["doc_id", "h"])
    out["ngram_prefix_filtered"] = prefix_filtered_candidates(
        hashed, 0.5
    ).count()
    # simhash chunk blocking: collisions in any of the 4 chunks (pre-hamming)
    def _chunk_collisions(sigs):
        n_chunks, chunk_bits = 4, SIMHASH_BITS // 4
        mask = (1 << chunk_bits) - 1
        chunked = sigs.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {n_chunks - 1}),"
                    f" c -> struct(c AS chunk,"
                    f" (shiftright(simhash, c * {chunk_bits}) & {mask}) AS ckey))"
                )
            ).alias("ck"),
        ).select("doc_id", "ck.chunk", "ck.ckey")
        ca = chunked.select(F.col("doc_id").alias("doc1"), "chunk", "ckey")
        cb = chunked.select(F.col("doc_id").alias("doc2"), "chunk", "ckey")
        return (
            ca.join(cb, ["chunk", "ckey"])
            .where(F.col("doc1") < F.col("doc2"))
            .select("doc1", "doc2")
            .distinct()
            .count()
        )

    out["simhash_chunks"] = _chunk_collisions(simhash_signatures(docs))
    # idf-filtered variant (dedup_simhash_idf): terms in > 20% of docs
    # dropped before signing — the measured fix for template concentration
    from big_data_assignment2_2025_spark.functions.text import tokenize
    from big_data_assignment2_2025_spark.operators.dedup import simhash_from_tf
    from big_data_assignment2_2025_spark.sources.readers import fan_out

    live = docs.where(F.col("text").isNotNull())
    n_docs = live.count()
    tf = (
        fan_out(live)
        .select("doc_id", F.explode(tokenize("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("cnt"))
    )
    keep = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") * 5 <= F.lit(n_docs // shard_divisor))
        .select("term")
    )
    out["simhash_idf_chunks"] = _chunk_collisions(
        simhash_from_tf(tf.join(keep, "term", "left_semi"))
    )
    # ANN LSH buckets: corpus rows colliding with the 5 query buckets
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5)
    sig = lambda df, n: df.select(  # noqa: E731
        F.col("vec_id").alias(n),
        hyperplane_signature(F.col("embedding"), 8, 64).alias("bucket"),
    )
    out["ann_lsh_buckets"] = (
        sig(emb, "neighbor_id")
        .join(sig(qs, "query_id"), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .count()
    )
    # SemDeDup within-cell candidate pairs (pre-cosine). With a FIXED cell
    # count, cells hold copies x more vectors and pairs grow ~copies^2 —
    # the measured argument for scaling n_cells with the corpus (SemDeDup
    # itself uses ~sqrt(N)-ish k-means cells). ``semdedup_cell_pairs_scaled``
    # re-probes with n_cells x shard_divisor: the production configuration,
    # expected ~linear.
    from big_data_assignment2_2025_spark.operators.similarity import (
        argmax_cell_assignment,
    )

    def _cell_pairs(n_cells: int) -> int:
        # occupancy only (map-only assignment, no pair join): counting the
        # candidate blowup must not COST the candidate blowup; pair count
        # is n*(n-1)/2 over cell occupancy.
        assigned = argmax_cell_assignment(emb, n_cells=n_cells)
        sizes = assigned.groupBy("cell").agg(F.count("*").alias("n"))
        return int(
            sizes.agg(
                F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long")
            ).first()[0]
        )

    out["semdedup_cell_pairs"] = _cell_pairs(8)
    if shard_divisor > 1:
        out["semdedup_cell_pairs_scaled"] = _cell_pairs(8 * shard_divisor)
    # the round-10 default derivation (k = ceil(n / TARGET_CELL_ROWS)):
    # measured at BOTH scales so pair_growth reports its normalized growth
    # like every other family's
    from big_data_assignment2_2025_spark.operators.similarity import (
        derive_n_cells,
    )

    n_emb = emb.count()
    out["semdedup_cell_pairs_auto"] = _cell_pairs(derive_n_cells(n_emb))
    # Char-gram families: the token salting ("c3_" on every token) inflates
    # WITHIN-copy window duplication — it lengthens every repeated token run
    # by ~3 chars/token, pushing sub-40-char runs past the window width —
    # so raw pair counts at Nx sit well above N x base (measured ~7x level
    # shift per salted copy). The algorithmic claim is cross-copy
    # separation, so at Nx the probe also reports the cross-copy pair count
    # (expected: 0 — no two copies share any 40-char window).
    from big_data_assignment2_2025_spark.operators.dedup import (
        char_anchor_pairs,
        winnowing_pairs,
    )

    def _with_cross(name: str, pairs_df):
        # persist: the total and the cross-copy counts otherwise each
        # recompute the O(total chars) gram explode end-to-end
        pairs_df = pairs_df.persist()
        out[name] = pairs_df.count()
        if shard_divisor > 1:
            cross = pairs_df.where(
                F.floor(F.col("id1") / SHIFT) != F.floor(F.col("id2") / SHIFT)
            ).count()
            out[f"{name}_cross_copy"] = cross
        pairs_df.unpersist()

    _with_cross("anchor_pairs", char_anchor_pairs(docs))
    # winnowing fingerprints are denser (~2/(window+1) of positions vs the
    # gate's 1/stride) but equally copy-disjoint under salting
    _with_cross("winnowing_pairs", winnowing_pairs(docs))
    return out


def _bucketed_probe(spark) -> dict:
    """Quantify what bucketing buys at Nx: the same orders⋈customer count
    with (a) plain parquet inputs — SMJ, both sides shuffled — vs (b) both
    sides bucketed on the join key — SMJ over co-located buckets, zero
    Exchange. Broadcast is disabled so the comparison isolates the shuffle;
    the one-off bucket build cost (the pre-paid shuffle) is reported too.
    """
    from big_data_assignment2_2025_spark.plans.storage_queries import (
        bucketed_table,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = {}
        plain_o = spark.read.parquet(f"{DST}/orders.parquet")
        plain_c = spark.read.parquet(f"{DST}/customer.parquet")
        joined = plain_o.join(
            plain_c, plain_o.o_custkey == plain_c.c_custkey
        )
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            n = joined.count()
            best = min(best, time.perf_counter() - t0)
        out["plain_sec"] = round(best, 2)
        out["rows"] = n
        out["plain_exchanges"] = joined._jdf.queryExecution().executedPlan().toString().count("Exchange")

        t0 = time.perf_counter()
        bo = bucketed_table(spark, DST, "orders", "o_custkey", 16)
        bc = bucketed_table(spark, DST, "customer", "c_custkey", 16)
        out["bucket_build_sec"] = round(time.perf_counter() - t0, 2)
        bjoined = bo.join(bc, bo.o_custkey == bc.c_custkey)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            nb = bjoined.count()
            best = min(best, time.perf_counter() - t0)
        out["bucketed_sec"] = round(best, 2)
        out["bucketed_exchanges"] = bjoined._jdf.queryExecution().executedPlan().toString().count("Exchange")
        assert nb == n, (nb, n)
        return out
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def hh_crossover_probe(spark, sf_dir: str = SRC) -> dict:
    """Heavy-hitters strategy crossover: naive full-key GROUP BY..HAVING
    vs the bounded two-pass algorithm, measured in app-wide shuffle bytes
    across a distinct-key-cardinality sweep (r6 verdict task 4: the claim
    "only <=1/support keys shuffle" needs a measured crossover, not an
    assertion).

    The sweep derives keyed frames from the sf0.1 events fixture: two hot
    keys carry ~10% of rows each (always above the 1% support), the rest
    hash into ``m`` cold buckets — m sweeps the universe from far below
    1/support to ~0.8x row count. Both strategies must return identical
    hit sets at every cardinality (asserted)."""
    import time as _t

    from big_data_assignment2_2025_spark.operators.sketches import (
        heavy_hitters,
        heavy_hitters_naive,
    )
    from tools.shuffle_report import _total_shuffle

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    h = F.pmod(F.xxhash64(F.col("event_id").cast("string")), F.lit(10))
    out = {}
    for m in (29, 997, 16381, 10**9):
        cold = F.concat(
            F.lit("cold_"),
            F.pmod(F.xxhash64(F.col("event_id").cast("string"), F.lit(7)), F.lit(m))
            .cast("string"),
        )
        key = F.when(h < 2, F.concat(F.lit("hot_"), h.cast("string"))).otherwise(cold)
        df = ev.select(key.alias("k")).persist()
        distinct = df.distinct().count()
        row = {"distinct_keys": distinct}
        results = {}
        for label, fn in (
            ("two_pass", lambda: heavy_hitters(df, "k", 0.01)),
            ("naive", lambda: heavy_hitters_naive(df, "k", 0.01)),
        ):
            b0, r0 = _total_shuffle(spark)
            t0 = _t.perf_counter()
            rows = fn().collect()
            sec = _t.perf_counter() - t0
            b1, r1 = _total_shuffle(spark)
            results[label] = sorted(tuple(r) for r in rows)
            row[label] = {
                "shuffle_bytes": b1 - b0,
                "shuffle_records": r1 - r0,
                "sec": round(sec, 2),
                "hits": len(rows),
            }
        assert results["two_pass"] == results["naive"], (
            f"strategy results diverge at m={m}"
        )
        df.unpersist()
        out[f"m_{m}"] = row
        print(f"# hh_crossover distinct={distinct}: "
              f"two_pass {row['two_pass']['shuffle_bytes']} B "
              f"vs naive {row['naive']['shuffle_bytes']} B", file=sys.stderr)
    return out


def dau_sketch_probe(spark, sf_dir: str = SRC) -> dict:
    """Exact vs deterministic-HLL rolling DAU, measured in app-wide
    shuffle volume across a user-cardinality sweep (SCALING §13's scale
    claim, measured: the exact twin's shuffle grows with daily actives —
    distinct (day,user) rows plus the 7x fan-out — while the sketch's is
    pinned at O(days x 512) register rows whatever the user count).

    Each sweep point rewrites the sf0.1 events fixture (100k rows) with
    ``user_id = hash(event_id) % U`` into a throwaway /tmp dir, then runs
    BOTH registry queries against it unmodified."""
    import time as _t

    from big_data_assignment2_2025_spark.plans.timeseries_queries import (
        events_rolling_dau,
    )
    from big_data_assignment2_2025_spark.plans.sketches_queries import (
        events_rolling_dau_approx,
    )
    from tools.shuffle_report import _total_shuffle

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_id"
    )
    out = {}
    root = "/tmp/spark_graft_dau_probe"
    for u in (1_000, 10_000, 100_000):
        dst = f"{root}/u_{u}"
        shutil.rmtree(dst, ignore_errors=True)
        ev.select(
            "ts",
            F.pmod(
                F.xxhash64(F.col("event_id").cast("string")), F.lit(u)
            ).alias("user_id"),
        ).write.mode("overwrite").parquet(f"{dst}/events.parquet")
        actives = (
            spark.read.parquet(f"{dst}/events.parquet")
            .select(F.to_date("ts"), "user_id")
            .distinct()
            .count()
        )
        row = {"daily_active_rows": actives}
        for label, fn in (
            ("exact", events_rolling_dau),
            ("hll", events_rolling_dau_approx),
        ):
            b0, r0 = _total_shuffle(spark)
            t0 = _t.perf_counter()
            n = len(fn(spark, dst).collect())
            sec = _t.perf_counter() - t0
            b1, r1 = _total_shuffle(spark)
            row[label] = {
                "shuffle_bytes": b1 - b0,
                "shuffle_records": r1 - r0,
                "sec": round(sec, 2),
                "rows": n,
            }
        out[f"users_{u}"] = row
        print(
            f"# dau_sketch daily_actives={actives}: exact "
            f"{row['exact']['shuffle_records']} rec / "
            f"{row['exact']['shuffle_bytes']} B vs hll "
            f"{row['hll']['shuffle_records']} rec / "
            f"{row['hll']['shuffle_bytes']} B",
            file=sys.stderr,
        )
    shutil.rmtree(root, ignore_errors=True)
    return out


def cms_sketch_probe(spark, sf_dir: str = SRC) -> dict:
    """Exact per-key counts vs the deterministic Count-Min watchlist,
    measured in app-wide shuffle volume across a user-cardinality sweep
    (the CMS scale claim in SCALING §13, measured): the exact GROUP BY
    shuffles the full key universe every run, while the CMS counter
    build is pinned at <= tasks x 3 x 1024 partial counter rows whatever
    the cardinality — the watchlist estimate on top moves only the
    bounded counter table through broadcast lookups.

    Same harness as ``dau_sketch_probe``: each sweep point rewrites the
    sf0.1 events fixture (100k rows) with ``user_id = hash(event_id) %
    U`` into a throwaway /tmp dir, then runs the registry query
    unmodified next to the naive exact aggregate."""
    import time as _t

    from big_data_assignment2_2025_spark.plans.sketches_queries import (
        events_user_freq_cms,
    )
    from tools.shuffle_report import _total_shuffle

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_id"
    )
    out = {}
    root = "/tmp/spark_graft_cms_probe"
    for u in (1_000, 10_000, 100_000):
        dst = f"{root}/u_{u}"
        shutil.rmtree(dst, ignore_errors=True)
        ev.select(
            "ts",
            F.pmod(
                F.xxhash64(F.col("event_id").cast("string")), F.lit(u)
            ).alias("user_id"),
        ).write.mode("overwrite").parquet(f"{dst}/events.parquet")
        src = spark.read.parquet(f"{dst}/events.parquet")
        row = {}

        def _run(label, thunk):
            b0, r0 = _total_shuffle(spark)
            t0 = _t.perf_counter()
            n = thunk()
            sec = _t.perf_counter() - t0
            b1, r1 = _total_shuffle(spark)
            row[label] = {
                "shuffle_bytes": b1 - b0,
                "shuffle_records": r1 - r0,
                "sec": round(sec, 2),
                "rows": n,
            }

        _run(
            "exact_groupby",
            lambda: src.groupBy("user_id").agg(F.count("*").alias("c")).count(),
        )
        _run("cms", lambda: len(events_user_freq_cms(spark, dst).collect()))
        out[f"users_{u}"] = row
        print(
            f"# cms_sketch U={u}: exact "
            f"{row['exact_groupby']['shuffle_records']} rec / "
            f"{row['exact_groupby']['shuffle_bytes']} B vs cms "
            f"{row['cms']['shuffle_records']} rec / "
            f"{row['cms']['shuffle_bytes']} B",
            file=sys.stderr,
        )
    shutil.rmtree(root, ignore_errors=True)
    return out


def bitmap_sketch_probe(spark, sf_dir: str = SRC) -> dict:
    """Exact daily distinct three ways — naive countDistinct, chunked
    32-bit bitmap words, deterministic HLL — measured in app-wide shuffle
    volume across an id-universe sweep (the bitmap scale claim in
    SCALING §13, measured).

    The expected shape: the naive exact path shuffles one record per
    (day, user); the bitmap path shuffles one 8-byte word per (day,
    occupied ``user_id DIV 32`` bucket) — a 32x record compression that
    stays EXACT but grows with the id universe; the HLL path is pinned at
    days x 512 registers whatever the universe. Crossover: bitmaps beat
    HLL on both size and exactness while U/32 < 512 (dense ids below
    ~16k), HLL wins above it at 2% error.

    Same harness as ``dau_sketch_probe``: each sweep point rewrites the
    sf0.1 events fixture with ``user_id = hash(event_id) % U`` into a
    throwaway /tmp dir, then runs the registry queries unmodified."""
    import time as _t

    from big_data_assignment2_2025_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from big_data_assignment2_2025_spark.plans.sketches_queries import (
        events_bitmap_daily_users,
    )
    from tools.shuffle_report import _total_shuffle

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_id"
    )
    out = {}
    root = "/tmp/spark_graft_bitmap_probe"
    for u in (1_000, 10_000, 100_000, 1_000_000):
        dst = f"{root}/u_{u}"
        shutil.rmtree(dst, ignore_errors=True)
        ev.select(
            "ts",
            F.pmod(
                F.xxhash64(F.col("event_id").cast("string")), F.lit(u)
            ).alias("user_id"),
        ).write.mode("overwrite").parquet(f"{dst}/events.parquet")
        src = spark.read.parquet(f"{dst}/events.parquet")
        row = {}

        def _run(label, thunk):
            b0, r0 = _total_shuffle(spark)
            t0 = _t.perf_counter()
            n = thunk()
            sec = _t.perf_counter() - t0
            b1, r1 = _total_shuffle(spark)
            row[label] = {
                "shuffle_bytes": b1 - b0,
                "shuffle_records": r1 - r0,
                "sec": round(sec, 2),
                "rows": n,
            }

        def _hll_daily():
            regs = hll_registers(
                src.select(F.to_date("ts").alias("day"), "user_id"),
                ["day"],
                "user_id",
            )
            # collect(), not count(): count() lets Catalyst prune the
            # aggregate expressions and the shuffle measures nothing
            return len(hll_estimate(regs, ["day"]).collect())

        _run(
            "exact_count_distinct",
            lambda: len(
                src.groupBy(F.to_date("ts").alias("day"))
                .agg(F.countDistinct("user_id").alias("dau"))
                .collect()
            ),
        )
        _run(
            "bitmap",
            lambda: len(events_bitmap_daily_users(spark, dst).collect()),
        )
        _run("hll", _hll_daily)
        out[f"users_{u}"] = row
        print(
            f"# bitmap_sketch U={u}: exact "
            f"{row['exact_count_distinct']['shuffle_records']} rec / "
            f"{row['exact_count_distinct']['shuffle_bytes']} B vs bitmap "
            f"{row['bitmap']['shuffle_records']} rec / "
            f"{row['bitmap']['shuffle_bytes']} B vs hll "
            f"{row['hll']['shuffle_records']} rec / "
            f"{row['hll']['shuffle_bytes']} B",
            file=sys.stderr,
        )
    shutil.rmtree(root, ignore_errors=True)
    return out


GROWTH_DST = "/tmp/sf_growth"
GROWTH_TAG = "v1-salted-slim"

#: the r9 verdict's task 2: every linearity claim rested on ONE 10x point;
#: these are the second (and third) points, far enough out that a fitted
#: exponent separates linear from quadratic decisively (50x spans 1.7
#: decades — a family that is secretly n^1.5 shows 2.4x more growth than
#: a linear one over that span, unmissable)
GROWTH_POINTS = (10, 50)


def build_growth(spark, copies: int) -> str:
    """Slim derived corpus (documents + embeddings only — every growth
    family reads nothing else) at ``copies``x, same salting/rotation
    recipe as ``build`` so dup density stays constant (see module
    header). dim=64 embeddings keep all rotations i*7 mod 64 distinct
    for copies <= 64."""
    dst = f"{GROWTH_DST}/{copies}x"
    marker = os.path.join(dst, "_DONE")
    if os.path.exists(marker) and open(marker).read() == f"{GROWTH_TAG}:{copies}":
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst, exist_ok=True)
    for t, shifts in (
        ("documents", {"doc_id": True}),
        ("embeddings", {"vec_id": True}),
    ):
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        _scale(src, copies, shifts, t).repartition(32).write.mode(
            "overwrite"
        ).parquet(f"{dst}/{t}.parquet")
    open(marker, "w").write(f"{GROWTH_TAG}:{copies}")
    return dst


def _growth_counts(spark, sf_dir: str, shard_divisor: int = 1) -> dict:
    """Candidate work per family, measured as BUCKET-OCCUPANCY pairs
    (sum n*(n-1)/2 over each family's blocking buckets) wherever the
    family generates candidates through an equi-join on a bucket key.
    Occupancy == the rows that join EMITS before any dedup — the actual
    shuffle/compute cost — and it is computable in O(buckets), so the
    50x point stays measurable even for a family whose pair count
    explodes (materializing 10^9 distinct pairs to count them would
    cost the very blowup the probe exists to detect). Families whose
    candidate stream is already filtered (prefix-Jaccard, anchors,
    winnowing, ANN buckets) are counted directly.

    NOTE: occupancy counts are a different (>=) metric than the classic
    probe's post-distinct pair counts — growth exponents are fitted
    within THIS metric across scale points, never across metrics."""
    from big_data_assignment2_2025_spark.functions.text import tokenize
    from big_data_assignment2_2025_spark.operators.dedup import (
        SIMHASH_BITS,
        char_anchor_pairs,
        minhash_signatures,
        prefix_filtered_candidates,
        shingles_df,
        simhash_from_tf,
        simhash_signatures,
        winnowing_pairs,
    )
    from big_data_assignment2_2025_spark.operators.similarity import (
        argmax_cell_assignment,
        derive_n_cells,
        hyperplane_signature,
    )
    from big_data_assignment2_2025_spark.sources.readers import (
        fan_out,
        load_table,
    )

    def occ(df, *keys) -> int:
        n = (
            df.groupBy(*keys)
            .agg(F.count("*").alias("n"))
            .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long"))
            .first()[0]
        )
        return int(n or 0)

    docs = load_table(spark, sf_dir, "documents")
    sh = shingles_df(docs).dropDuplicates(["doc_id", "shingle"])
    out = {}
    # minhash-LSH band buckets (same banding as lsh_candidate_pairs)
    sigs = minhash_signatures(sh)
    bands, rows_per_band = 4, 4
    band_idx = F.array(*[F.lit(b) for b in range(bands)])
    banded = sigs.select(
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col("sig"), b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("key"),
                ),
            )
        ).alias("bk")
    ).select("bk.band", "bk.key")
    out["minhash_lsh_bucket_pairs"] = occ(banded, "band", "key")
    # inverted-index universes: every pair sharing a shingle (naive) and
    # the df<=4 capped variant
    out["ngram_inverted_pairs"] = occ(sh, "shingle")
    keep = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= 4)
        .select("shingle")
    )
    out["ngram_capped_pairs"] = occ(
        sh.join(keep, "shingle", "left_semi"), "shingle"
    )
    # AllPairs/PPJoin prefix-filtered candidates (direct: already the
    # post-filter stream, measured-linear at 10x in r9)
    hashed = sh.select("doc_id", F.xxhash64("shingle").alias("h"))
    out["ngram_prefix_filtered"] = prefix_filtered_candidates(
        hashed, 0.5
    ).count()

    # simhash chunk buckets, plain and idf-filtered
    n_chunks, chunk_bits = 4, SIMHASH_BITS // 4
    mask = (1 << chunk_bits) - 1

    def chunked(sigs_df):
        return sigs_df.select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, {n_chunks - 1}),"
                    f" c -> struct(c AS chunk,"
                    f" (shiftright(simhash, c * {chunk_bits}) & {mask}) AS ckey))"
                )
            ).alias("ck")
        ).select("ck.chunk", "ck.ckey")

    out["simhash_plain_chunk_pairs"] = occ(
        chunked(simhash_signatures(docs)), "chunk", "ckey"
    )
    live = docs.where(F.col("text").isNotNull())
    n_docs = live.count()
    tf = (
        fan_out(live)
        .select("doc_id", F.explode(tokenize("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("cnt"))
    )
    keep_t = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") * 5 <= F.lit(n_docs // shard_divisor))
        .select("term")
    )
    out["simhash_idf_chunk_pairs"] = occ(
        chunked(simhash_from_tf(tf.join(keep_t, "term", "left_semi"))),
        "chunk", "ckey",
    )

    # ANN LSH: corpus rows colliding with the 5 query buckets (direct)
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5)
    sig = lambda df, n: df.select(  # noqa: E731
        F.col("vec_id").alias(n),
        hyperplane_signature(F.col("embedding"), 8, 64).alias("bucket"),
    )
    out["ann_lsh_bucket_rows"] = (
        sig(emb, "neighbor_id")
        .join(sig(qs, "query_id"), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .count()
    )

    # SemDeDup cell occupancy: fixed k=8 (the baseline-tier shape) and
    # the production default k = ceil(n / TARGET_CELL_ROWS)
    def cell_pairs(n_cells: int) -> int:
        return occ(argmax_cell_assignment(emb, n_cells=n_cells), "cell")

    n_emb = emb.count()
    out["semdedup_fixed8_cell_pairs"] = cell_pairs(8)
    out["semdedup_auto_cell_pairs"] = cell_pairs(derive_n_cells(n_emb))

    # char-gram families (direct + cross-copy split, see classic probe's
    # salting caveat: within-copy window lengthening shifts the level,
    # cross-copy pairs are the algorithmic claim and must stay 0)
    def with_cross(name: str, pairs_df) -> None:
        pairs_df = pairs_df.persist()
        out[name] = pairs_df.count()
        if shard_divisor > 1:
            out[f"{name}_cross_copy"] = pairs_df.where(
                F.floor(F.col("id1") / SHIFT) != F.floor(F.col("id2") / SHIFT)
            ).count()
        pairs_df.unpersist()

    with_cross("anchor_pairs", char_anchor_pairs(docs))
    with_cross("winnowing_pairs", winnowing_pairs(docs))
    return out


def _pq_timings(spark, sf_dir: str) -> dict:
    """PQ encode + ADC top-k wall seconds (best of 2) — the ANN family
    whose cost is a full-corpus code scan by design (linear by
    construction; the timing point verifies the constant doesn't hide a
    superlinear stage like the global top-k cut)."""
    from big_data_assignment2_2025_spark.operators.pq import (
        pq_encode,
        pq_lowest_id_codebooks,
        pq_topk,
    )
    from big_data_assignment2_2025_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_lowest_id_codebooks(emb, m=8, k=16)
    # warm the pandas/Arrow + codegen paths once so the FIRST scale
    # point's timing isn't JIT/init noise (it polluted the fitted
    # exponent otherwise)
    pq_encode(emb.limit(64), cb).count()
    best_enc = best_adc = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        codes = pq_encode(emb, cb)
        codes.write.mode("overwrite").parquet("/tmp/sf_growth_pq_codes")
        best_enc = min(best_enc, time.perf_counter() - t0)
        codes_on_disk = spark.read.parquet("/tmp/sf_growth_pq_codes")
        queries = emb.where(F.col("vec_id") < 5)
        t0 = time.perf_counter()
        n = pq_topk(codes_on_disk, queries, cb, k=5).count()
        best_adc = min(best_adc, time.perf_counter() - t0)
    return {"encode_sec": round(best_enc, 2), "adc_sec": round(best_adc, 2),
            "topk_rows": n}


def _fit_exponent(points: list[int], counts: list[int]) -> float | None:
    """Least-squares slope of ln(count) vs ln(scale) — the growth
    exponent (1.0 = linear, 2.0 = quadratic). None if any count is 0
    (log-undefined; the raw counts speak for themselves there)."""
    import math

    if any(c <= 0 for c in counts) or len(points) < 2:
        return None
    xs = [math.log(p) for p in points]
    ys = [math.log(c) for c in counts]
    xbar = sum(xs) / len(xs)
    ybar = sum(ys) / len(ys)
    den = sum((x - xbar) ** 2 for x in xs)
    if den == 0:
        return None
    return round(sum(
        (x - xbar) * (y - ybar) for x, y in zip(xs, ys)
    ) / den, 2)


def growth_main(points: list[int]) -> None:
    spark = get_spark(app_name="growth_probe")
    scales = [1] + sorted(points)
    per_scale: dict[int, dict] = {}
    pq: dict[str, dict] = {}
    for s in scales:
        sf_dir = SRC if s == 1 else build_growth(spark, s)
        t0 = time.perf_counter()
        per_scale[s] = _growth_counts(spark, sf_dir, shard_divisor=s)
        sec = round(time.perf_counter() - t0, 1)
        pq[str(s)] = _pq_timings(spark, sf_dir)
        print(f"# scale {s}x counted in {sec}s: {per_scale[s]}",
              file=sys.stderr)
    families = {}
    for k in per_scale[1]:
        counts = {f"{s}x": per_scale[s].get(k) for s in scales}
        present = [s for s in scales if per_scale[s].get(k) is not None]
        exp = _fit_exponent(
            present, [per_scale[s][k] for s in present]
        )
        families[k] = {"counts": counts, "exponent": exp}
        # char-gram families: token salting lengthens within-copy window
        # runs (a one-time LEVEL shift between 1x and any salted corpus,
        # documented in the classic probe) — the algorithmic growth claim
        # lives BETWEEN salted points, so fit that too when we have >= 2
        salted = [s for s in present if s > 1]
        if k in ("anchor_pairs", "winnowing_pairs") and len(salted) >= 2:
            families[k]["exponent_between_salted"] = _fit_exponent(
                salted, [per_scale[s][k] for s in salted]
            )
    # cross-copy counts exist only at scaled points — report verbatim at
    # EVERY scaled point (they are the char-gram families' algorithmic
    # claim: salted copies share no window, so cross-copy must stay 0)
    for s in scales[1:]:
        for k, v in per_scale[s].items():
            if k.endswith("_cross_copy"):
                families.setdefault(k, {"counts": {}})
                families[k]["counts"][f"{s}x"] = v
    superlinear = sorted(
        k for k, v in families.items()
        if v.get("exponent") is not None and v["exponent"] > 1.2
    )
    print(json.dumps({
        "mode": "growth",
        "points": scales,
        "metric": "bucket-occupancy candidate pairs (join-emitted rows); "
                  "direct counts for pre-filtered streams",
        "families": families,
        "pq_timings": pq,
        "pq_encode_exponent": _fit_exponent(
            scales, [max(pq[str(s)]["encode_sec"], 0.01) for s in scales]
        ),
        "superlinear_over_1_2": superlinear,
    }))


def copy_split_main(copies: int) -> None:
    """Attribute the char-gram families' within-copy pair counts to the
    salt-prefix width (the level-shift hypothesis): per-copy pair counts
    on the salted corpus, averaged over the prefix-width classes (copy 0
    = unsalted, 1-9 = 3-char ``c{i}_``, 10+ = 4-char). If the averages
    step with prefix width and cross-copy pairs are 0, the growth-probe
    exponent for these families is a measurement artifact of the salted
    fixture, not algorithmic growth."""
    from big_data_assignment2_2025_spark.operators.dedup import (
        char_anchor_pairs,
        winnowing_pairs,
    )
    from big_data_assignment2_2025_spark.sources.readers import load_table

    spark = get_spark(app_name="copy_split_probe")
    sf_dir = build_growth(spark, copies)
    docs = load_table(spark, sf_dir, "documents")
    out = {"copies": copies}
    for name, fn in (
        ("winnowing", winnowing_pairs), ("anchor", char_anchor_pairs)
    ):
        p = fn(docs).withColumn("copy", F.floor(F.col("id1") / SHIFT))
        by = {
            int(r["copy"]): r["count"]
            for r in p.groupBy("copy").count().collect()
        }
        n_wide = max(copies - 10, 0)
        out[name] = {
            "copy0_unsalted": by.get(0, 0),
            "avg_copies_1_9_prefix3": round(
                sum(by.get(i, 0) for i in range(1, min(10, copies)))
                / max(min(10, copies) - 1, 1), 1
            ),
            "avg_copies_10plus_prefix4": round(
                sum(by.get(i, 0) for i in range(10, copies)) / n_wide, 1
            ) if n_wide else None,
        }
    print(json.dumps(out))


def main() -> None:
    if "--copy-split" in sys.argv:
        pts = [int(a) for a in sys.argv[1:] if a.isdigit()]
        copy_split_main(pts[0] if pts else 50)
        return
    if "--growth" in sys.argv:
        pts = [int(a) for a in sys.argv[1:] if a.isdigit()] or list(
            GROWTH_POINTS
        )
        growth_main(pts)
        return
    if "--bitmap-sketch" in sys.argv:
        spark = get_spark(
            app_name="bitmap_sketch_probe",
            extra_conf={"spark.ui.retainedStages": "100000"},
        )
        print(json.dumps({"bitmap_sketch": bitmap_sketch_probe(spark)}))
        return
    if "--cms-sketch" in sys.argv:
        spark = get_spark(
            app_name="cms_sketch_probe",
            extra_conf={"spark.ui.retainedStages": "100000"},
        )
        print(json.dumps({"cms_sketch": cms_sketch_probe(spark)}))
        return
    if "--dau-sketch" in sys.argv:
        spark = get_spark(
            app_name="dau_sketch_probe",
            extra_conf={"spark.ui.retainedStages": "100000"},
        )
        print(json.dumps({"dau_sketch": dau_sketch_probe(spark)}))
        return
    if "--hh-crossover" in sys.argv:
        spark = get_spark(
            app_name="hh_crossover",
            extra_conf={"spark.ui.retainedStages": "100000"},
        )
        print(json.dumps({"hh_crossover": hh_crossover_probe(spark)}))
        return
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark(app_name="scale_probe")
    t0 = time.perf_counter()
    build(spark, copies)
    build_s = round(time.perf_counter() - t0, 1)

    from big_data_assignment2_2025_spark.plans import QUERIES

    timings, checks = {}, {}
    for name in PROBES:
        fn = QUERIES[name]
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn(spark, DST)
            n = df.count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        checks[name] = {
            "rows": n,
            "bhj": plan.count("BroadcastHashJoin"),
            "smj": plan.count("SortMergeJoin"),
            "cartesian": "CartesianProduct" in plan,
        }
        print(f"# {name}: {timings[name]}s rows={n} {checks[name]}", file=sys.stderr)

    bucketed = _bucketed_probe(spark)
    print(f"# bucketed_join: {bucketed}", file=sys.stderr)

    base = _candidate_counts(spark, SRC)
    scaled = _candidate_counts(spark, DST, shard_divisor=copies)
    growth = {
        k: {
            "at_1x": base[k],
            f"at_{copies}x": scaled[k],
            # ratio / copies: ~1.0 means candidates grow linearly with the
            # corpus (the 100 TB-viable shape); >> 1 means superlinear blowup
            "normalized_growth": round(scaled[k] / max(base[k], 1) / copies, 2),
        }
        for k in base
    }
    for k, g in growth.items():
        print(f"# pair_growth {k}: {g}", file=sys.stderr)
    # keys only present at the scaled corpus (cross-copy decompositions,
    # the n_cells-scaled SemDeDup rerun) — report verbatim
    scaled_only = {k: scaled[k] for k in scaled if k not in base}
    for k, v in scaled_only.items():
        print(f"# scaled_only {k}: {v}", file=sys.stderr)

    print(
        json.dumps(
            {
                "copies": copies,
                "build_sec": build_s,
                "timings": timings,
                "checks": checks,
                "bucketed_join": bucketed,
                "pair_growth": growth,
                "scaled_only": scaled_only,
                "total_sec": round(sum(timings.values()), 2),
            }
        )
    )


if __name__ == "__main__":
    main()
