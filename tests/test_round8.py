"""Invariant tests for the round-8 tranche (plans/similarity_queries.py,
plans/dedup_queries.py):
SemDeDup semantic dedup and content-defined exact-substring dedup.

The hash-gate against DuckDB lives in the driver/oracle_check; these
tests pin the semantic invariants that survive fixture regeneration.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.operators.dedup import char_anchor_pairs
from big_data_assignment2_2025_spark.operators.similarity import semantic_dedup
from big_data_assignment2_2025_spark.plans.dedup_queries import (
    docs_exact_substring_dedup,
)
from big_data_assignment2_2025_spark.plans.similarity_queries import embedding_semdedup
from big_data_assignment2_2025_spark.sources.readers import load_table


def _cos(u, v):
    dot = sum(a * b for a, b in zip(u, v))
    nu = math.sqrt(sum(a * a for a in u))
    nv = math.sqrt(sum(b * b for b in v))
    return round(dot / (nu * nv), 6)


def test_semdedup_verdicts_match_python_recompute(spark, sf_dir):
    """Every vector gets exactly one verdict row, and kept/dropped agrees
    with a brute-force python recompute of the cell-local rule."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    got = {r["vec_id"]: r for r in embedding_semdedup(spark, sf_dir).collect()}
    assert set(got) == set(vecs)  # full-corpus verdict, one row per vector

    # recompute cells: nearest of the 8 lowest-id centroids, rounded cosine,
    # ties to the lowest cell id (the _assign_cells contract)
    cents = {vid: vecs[vid] for vid in sorted(vecs)[:8]}
    cell_of = {}
    for vid, v in vecs.items():
        best = max(
            cents,
            key=lambda c: (_cos(cents[c], v), -c),
        )
        cell_of[vid] = best
    for vid, r in got.items():
        assert r["cell"] == cell_of[vid], vid

    # kept iff no lower-id cellmate with cosine >= 0.4
    for vid, r in got.items():
        mates = [
            u for u in vecs if u < vid and cell_of[u] == cell_of[vid]
        ]
        n_dup = sum(1 for u in mates if _cos(vecs[u], vecs[vid]) >= 0.4)
        assert r["n_dup_lower"] == n_dup, vid
        assert r["kept"] == (1 if n_dup == 0 else 0), vid


def test_semdedup_lowest_id_per_cell_always_kept(spark, sf_dir):
    """The lowest id in each cell has no lower cellmate: kept by
    construction — the canonical-keeper discipline."""
    rows = embedding_semdedup(spark, sf_dir).collect()
    first = {}
    for r in rows:
        if r["cell"] not in first or r["vec_id"] < first[r["cell"]]["vec_id"]:
            first[r["cell"]] = r
    assert all(r["kept"] == 1 and r["n_dup_lower"] == 0 for r in first.values())


def test_exact_substring_finds_shared_run_at_any_offset(spark):
    """Two documents sharing a long verbatim run at DIFFERENT offsets pair
    up (content-defined anchors are offset-independent), while documents
    with no shared 40-char run never do."""
    shared = (
        "All mimsy were the borogoves, and the mome raths outgrabe on the "
        "far side of the wabe; beware the Jubjub bird and shun the "
        "frumious Bandersnatch, my son, the jaws that bite the claws."
    )
    docs = spark.createDataFrame(
        [
            (1, "left padding one two three. " + shared + " trailer A"),
            (2, "a totally different and much longer prefix here: " + shared),
            (3, "no overlap with anything else at all " * 8),
            (4, "another loner document body with its own words " * 8),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id1"], r["id2"]): r["n_shared_anchors"]
        for r in char_anchor_pairs(docs, width=40, stride=20).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(p == (1, 2) for p in pairs)


def test_exact_substring_pairs_are_real_on_fixture(spark, sf_dir):
    """Every emitted fixture pair genuinely shares a verbatim 40-char run
    (anchor equality implies substring equality modulo md5 collisions,
    which a direct text check rules out)."""
    pairs = docs_exact_substring_dedup(spark, sf_dir).collect()
    assert pairs, "fixture contains long-run duplication; none detected"
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for r in pairs[:10]:
        t1, t2 = texts[r["id1"]], texts[r["id2"]]
        grams1 = {t1[i : i + 40] for i in range(len(t1) - 39)}
        assert any(t2[i : i + 40] in grams1 for i in range(len(t2) - 39)), (
            r["id1"],
            r["id2"],
        )


def test_exact_substring_ignores_short_docs(spark):
    """Documents under the window width produce no anchors and no pairs."""
    docs = spark.createDataFrame(
        [(1, "short text"), (2, "short text"), (3, "tiny")],
        ["doc_id", "text"],
    )
    assert char_anchor_pairs(docs, width=40, stride=20).count() == 0


def test_winnowing_guarantee_at_59_chars(spark):
    """The winnowing GUARANTEE: a shared verbatim run of exactly
    width + window - 1 = 59 chars is ALWAYS detected, wherever it sits
    in either document (no probabilistic gate to miss)."""
    shared = (
        "the five boxing wizards jump quickly over lazy dogs nearby!"
    )
    assert len(shared) == 59
    docs = spark.createDataFrame(
        [
            (1, "prefix alpha beta gamma delta epsilon zeta: " + shared),
            (2, shared + " :suffix omega psi chi phi upsilon tau sigma"),
            (3, "unrelated filler content with nothing shared " * 4),
        ],
        ["doc_id", "text"],
    )
    from big_data_assignment2_2025_spark.operators.dedup import (
        winnowing_pairs,
    )

    pairs = {
        (r["id1"], r["id2"]) for r in winnowing_pairs(docs, 40, 20).collect()
    }
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs)


def test_winnowing_identical_short_docs_pair(spark):
    """Docs shorter than width + window - 1 but >= width still fingerprint
    (one whole-array window) and identical ones pair up."""
    text45 = "identical forty-five character document !!???"
    assert len(text45) == 45  # pins the width <= len < width+window-1 regime
    docs = spark.createDataFrame(
        [(1, text45), (2, text45), (3, "a distinct forty-five character doc body ####")],
        ["doc_id", "text"],
    )
    from big_data_assignment2_2025_spark.operators.dedup import (
        winnowing_pairs,
    )

    pairs = {
        (r["id1"], r["id2"]) for r in winnowing_pairs(docs, 40, 20).collect()
    }
    assert pairs == {(1, 2)}


def test_winnowing_fixture_pairs_share_real_runs(spark, sf_dir):
    """Fixture pairs from the winnowing query genuinely share a verbatim
    40-char run (value-join soundness, md5 collisions aside)."""
    from big_data_assignment2_2025_spark.plans.dedup_queries import docs_winnowing_dedup

    pairs = docs_winnowing_dedup(spark, sf_dir).collect()
    assert pairs
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for r in pairs[:10]:
        t1, t2 = texts[r["id1"]], texts[r["id2"]]
        grams1 = {t1[i : i + 40] for i in range(len(t1) - 39)}
        assert any(t2[i : i + 40] in grams1 for i in range(len(t2) - 39))


def _long_docs(spark):
    """Deterministic ~1.5k-char documents with planted shared runs at
    different offsets, long enough to span several 200-char segments."""
    import hashlib

    def blob(seed: str, n_words: int) -> str:
        out = []
        for i in range(n_words):
            out.append(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:7])
        return " ".join(out)

    shared_a = "the shared licence paragraph that spans segments " * 4
    shared_b = blob("shared-b", 30)
    rows = [
        (1, blob("one", 120) + " " + shared_a + " " + blob("one-t", 100)),
        (2, shared_a + " " + blob("two", 200)),
        (3, blob("three", 80) + " " + shared_b),
        (4, blob("four-pre", 150) + " " + shared_b + " " + blob("four", 60)),
        (5, blob("five", 220)),
        (6, "short doc under segment size but over width ok?"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_segmented_anchor_pairs_identical(spark):
    """seg_chars bounds per-row memory without changing the anchor SET:
    pair results are identical with and without segmentation."""
    docs = _long_docs(spark)
    base = {
        (r["id1"], r["id2"]): r["n_shared_anchors"]
        for r in char_anchor_pairs(docs, 40, 20).collect()
    }
    seg = {
        (r["id1"], r["id2"]): r["n_shared_anchors"]
        for r in char_anchor_pairs(docs, 40, 20, seg_chars=200).collect()
    }
    assert base == seg and base  # non-trivial and identical


def test_segmented_winnowing_pairs_identical(spark):
    """Same invariant for winnowing: the overlap of width+window-2 chars
    preserves every sliding-min window, so fingerprint sets (and hence
    pairs) are identical; the short-doc clamp still applies only to
    single-segment documents."""
    from big_data_assignment2_2025_spark.operators.dedup import (
        winnowing_pairs,
    )

    docs = _long_docs(spark)
    base = {
        (r["id1"], r["id2"]): r["n_shared_fingerprints"]
        for r in winnowing_pairs(docs, 40, 20).collect()
    }
    seg = {
        (r["id1"], r["id2"]): r["n_shared_fingerprints"]
        for r in winnowing_pairs(docs, 40, 20, seg_chars=200).collect()
    }
    assert base == seg and base


def test_segmented_tail_chunk_edge(spark):
    """A document whose length is just past one chunk step leaves a tail
    chunk shorter than the window span: the tail starts no complete
    window and must be dropped, not fingerprinted with garbage windows —
    pair results stay identical to the unsegmented computation."""
    from big_data_assignment2_2025_spark.operators.dedup import (
        winnowing_pairs,
    )

    base_text = ("x" * 50).join(str(i) for i in range(40))  # ~2k chars
    # seg_chars=120, winnow span=59 -> step=62: many chunks, short tails
    docs = spark.createDataFrame(
        [(1, base_text + " tail"), (2, base_text), (3, base_text[-150:])],
        ["doc_id", "text"],
    )
    # below 2*span-2 the one-next-chunk stitch cannot complete a segment:
    # rejected loudly instead of silently shrinking coverage
    import pytest

    with pytest.raises(ValueError):
        winnowing_pairs(docs, 40, 20, seg_chars=100).collect()
    base = {
        (r["id1"], r["id2"]): r["n_shared_fingerprints"]
        for r in winnowing_pairs(docs, 40, 20, seg_chars=None).collect()
    }
    seg = {
        (r["id1"], r["id2"]): r["n_shared_fingerprints"]
        for r in winnowing_pairs(docs, 40, 20, seg_chars=120).collect()
    }
    assert base == seg and base
