"""Connected components over a DataFrame edge list — the clustering step a
real dedup pipeline runs AFTER pair generation (operators/dedup.py emits
near-dup *pairs*; deciding which documents to drop needs the transitive
closure: A~B and B~C put A,B,C in one cluster even when A~C was never
scored).

No counterpart in the reference (its pipeline has no graph step at all);
this is part of the training-data-pipeline extension surface (SURVEY.md §7.6).

Algorithm: iterative **min-label propagation** expressed as DataFrame joins —
each round every node adopts the smallest label among itself and its
neighbors; a fixpoint means every node carries the minimum doc_id reachable
from it, which is the canonical cluster id (and the natural "keeper" doc).

Scale story (100 TB corpus, ~billions of pair edges):
- Rounds needed = graph diameter. Near-dup clusters are shallow (near-clique
  bundles of re-crawls/boilerplate, diameter a handful), so a handful of
  rounds converges; ``max_iter`` guards the adversarial long-chain case. For
  truly chain-shaped graphs the two-phase large-star/small-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
  converges in O(log^2 n) rounds and drops into this same join shape.
- Each round is ONE shuffle join (labels onto edge endpoints) + ONE
  aggregation (min label per node), both on the node key — Catalyst/AQE can
  reuse the hash partitioning between them.
- ``localCheckpoint`` after every round truncates the lineage: without it
  the plan doubles per iteration and round 20 spends longer planning than
  executing. Checkpointing also materializes the round, which the
  convergence probe needs anyway.
- The convergence probe is a driver-side ``isEmpty()`` on the changed-label
  set — an intentional driver action (loop control, like GraphX/Pregel),
  NOT a data collect; it moves one boolean, never rows.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import materialize, materialized, release


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc1",
    dst_col: str = "doc2",
    max_iter: int = 25,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Components of the undirected graph given by ``pairs``.

    Returns ``(node, component)`` where ``component`` is the minimum node id
    in the node's component. Only nodes appearing in at least one edge are
    returned (isolated documents never entered the pair list to begin with).

    ``checkpoint_dir`` switches per-round lineage truncation from
    ``localCheckpoint`` to reliable FS checkpoints (see ``materialize``) —
    pass it on any multi-executor cluster.
    """
    e = pairs.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    # symmetrize once so "min over neighbors" sees both directions; every
    # round reads the edge list (bound: 2x the pair count)
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    with materialized(sym, checkpoint_dir) as edges:
        # labels, every round: one row per node. ``cur`` is the round's
        # checkpoint, freed once the next round is computed from it
        cur = labels = materialize(
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node")),
            checkpoint_dir,
        )

        for _ in range(max_iter):
            nbr_min = (
                edges.join(
                    labels.select(F.col("node").alias("dst"), "label"), "dst"
                )
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
                .select(F.col("src").alias("node"), "nbr_label")
            )
            # the convergence flag rides the checkpointed round itself:
            # new != old iff a neighbor label strictly undercuts ours, so
            # ``chg`` is decided inside the round's one join and the probe
            # below is an early-exit scan of the (already materialized)
            # checkpoint blocks — the r12 form re-JOINED new vs old labels
            # per round, a whole extra shuffle job whose answer was already
            # computable in the round (r13, guide §2.4)
            new_labels = materialize(
                labels.join(nbr_min, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", "label")
                    ).alias("label"),
                    (
                        F.col("nbr_label").isNotNull()
                        & (F.col("nbr_label") < F.col("label"))
                    ).alias("chg"),
                ),
                checkpoint_dir,
            )
            release(cur)
            cur, labels = new_labels, new_labels.select("node", "label")
            if new_labels.where(F.col("chg")).isEmpty():
                break

    return labels.select("node", F.col("label").alias("component"))
