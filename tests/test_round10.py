"""Invariant tests for the round-10 tranche (plans/similarity_queries.py):
scale-aware SemDeDup.

The hash-gate against DuckDB lives in the driver/oracle_check; these
tests pin the k-derivation semantics and the linear-pair-work shape.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.operators.similarity import (
    TARGET_CELL_ROWS,
    semantic_dedup,
)
from big_data_assignment2_2025_spark.plans.similarity_queries import (
    embedding_semdedup_scaled,
)
from big_data_assignment2_2025_spark.sources.readers import load_table


def test_semdedup_scaled_k_matches_explicit(spark, sf_dir):
    """n_cells=None derives k = ceil(n / TARGET_CELL_ROWS): the derived
    run is row-for-row identical to an explicit run with that k, and the
    distinct cell ids confirm the derived k was actually used (cells are
    centroid vec_ids, i.e. the k lowest ids, all occupied by at least
    their own centroid)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = max(1, math.ceil(n / TARGET_CELL_ROWS))
    derived = {
        r["vec_id"]: (r["cell"], r["n_dup_lower"], r["kept"])
        for r in semantic_dedup(emb, n_cells=None, threshold=0.4).collect()
    }
    explicit = {
        r["vec_id"]: (r["cell"], r["n_dup_lower"], r["kept"])
        for r in semantic_dedup(emb, n_cells=k, threshold=0.4).collect()
    }
    assert derived == explicit
    cells = {c for c, _, _ in derived.values()}
    lowest_ids = sorted(derived)[:k]
    assert cells == set(lowest_ids)  # every centroid anchors its own cell


def test_semdedup_scaled_differs_from_fixed_baseline(spark, sf_dir):
    """The scaled gate is not vacuously the fixed-8 twin: at every shipped
    fixture the derived k exceeds 8, so the cell partitions differ."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    assert max(1, math.ceil(n / TARGET_CELL_ROWS)) > 8, n
    scaled_cells = {
        r["cell"] for r in embedding_semdedup_scaled(spark, sf_dir).collect()
    }
    assert len(scaled_cells) > 8


def test_semdedup_scaled_cell_occupancy_bounded_in_expectation(spark, sf_dir):
    """The point of k ∝ n: within-cell pair work stays ~linear. Mean cell
    occupancy is at most TARGET_CELL_ROWS by construction (n/k <= target);
    total within-cell pairs stay far below the all-pairs n*(n-1)/2."""
    df = embedding_semdedup_scaled(spark, sf_dir)
    sizes = [
        r["c"]
        for r in df.groupBy("cell").agg(F.count("*").alias("c")).collect()
    ]
    n = sum(sizes)
    assert n / len(sizes) <= TARGET_CELL_ROWS
    pairs = sum(s * (s - 1) // 2 for s in sizes)
    assert pairs < 0.2 * n * (n - 1) // 2, (pairs, n)


def test_baseline_tier_pairs_resolve():
    """Every fixture-scale baseline names a live registry query AND a live
    scale-path twin — the pairing the scale probe measures."""
    from big_data_assignment2_2025_spark.plans.registry import (
        BASELINE_TIER,
        QUERIES,
    )

    for baseline, twin in BASELINE_TIER.items():
        assert baseline in QUERIES, baseline
        assert twin in QUERIES, twin
        assert baseline != twin


def test_semdedup_scaled_singleton_corpus(spark):
    """Degenerate corpus: one vector derives k=1 and is kept."""
    emb = spark.createDataFrame([(7, [1.0, 0.0])], ["vec_id", "embedding"])
    rows = semantic_dedup(emb, n_cells=None, threshold=0.4).collect()
    assert len(rows) == 1
    assert rows[0]["kept"] == 1 and rows[0]["n_dup_lower"] == 0
    assert rows[0]["cell"] == 7
