"""Incrementally-maintained aggregate MATERIALIZED VIEW over a
``SnapshotStore``, fed by its row-level change feed.

The 100 TB shape: a dashboard aggregate over a mutable corpus must not
re-scan the corpus per refresh. Because ``count`` and ``sum`` are
ABELIAN-GROUP aggregates (every row's contribution is invertible), the
view can be maintained from the CHANGE rows alone: an ``insert`` /
``update_postimage`` contributes +1/+x, a ``delete`` /
``update_preimage`` contributes -1/-x, and folding the signed deltas
into the stored partials yields exactly the from-scratch aggregate —
the classic incremental view maintenance result (Griffin/Libkin-style
delta propagation, the same algebra Materialize and DBSP build on).
``min``/``max`` are deliberately NOT offered: they are not invertible
under deletes (retracting the current minimum needs a rescan), so
offering them here would be a silent correctness trap.

Refresh cost is O(change rows) + O(view groups), never O(source): the
change feed opens only the commits in ``(last_synced, latest]``
(``read_changes`` never touches prior members), and the view itself is
groups-sized. Versions the feed cannot replay row-level (overwrite,
compaction, restore) degrade to a REBUILD — one full groupBy, declared
in the refresh receipt, never silently wrong.

Exactly-once: each refresh lands as ONE ``commit`` on the view's own
store carrying ``txn=(app, source_version)`` — the store's writer-
idempotence makes a crashed-and-retried refresh a no-op instead of a
double-application of the deltas, and the synced watermark IS the txn
record (no second non-atomic marker file to tear).

The view store is a full ``SnapshotStore``: time travel over refresh
history, OCC against concurrent refreshers, vacuum — all inherited.

No reference counterpart (the reference recomputes its Cassandra
stats tables from scratch per index run — see SURVEY.md §2 A1-A4);
lakehouse extension per SURVEY.md §7.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.materialize import materialized
from .snapshots import SnapshotStore

#: txn app id under which refreshes record the synced source version
_APP = "_mv_refresh"

#: change-feed row polarity: post-states add, pre-states retract
_SIGN = {
    "insert": 1,
    "update_postimage": 1,
    "update_preimage": -1,
    "delete": -1,
}

_DEF_FILE = "_view.json"

#: source manifest modes the change feed replays row-level; anything
#: else (overwrite, compaction, restore, clone bootstrap) rebuilds
_ROW_LEVEL = ("append", "alter")


class IncrementalAggView:
    """``CREATE MATERIALIZED VIEW v AS SELECT keys, count(*), sum(e)...
    GROUP BY keys`` with incremental refresh off the source's CDF.

    ``sums`` maps output column -> SQL expression over source columns;
    expressions should be exact types (integer cents, not double) when
    cross-engine bit-equality matters — float addition is not
    associative, so a float partial folded in a different order than a
    full recompute may differ in ulps (documented, not hidden).
    """

    def __init__(
        self,
        base_dir: str,
        source: SnapshotStore,
        keys: list[str],
        sums: dict[str, str] | None = None,
        count_col: str = "n_rows",
    ) -> None:
        if not keys:
            raise ValueError("an aggregate view needs at least one key")
        self.source = source
        self.store = SnapshotStore(base_dir)
        self.keys = list(keys)
        self.sums = dict(sums or {})
        self.count_col = count_col
        bad = set(self.sums) | {count_col} | set(keys)
        if len(bad) != len(self.sums) + 1 + len(keys):
            raise ValueError(
                "keys, sums outputs and the count column must not collide"
            )
        # persist/validate the definition: reopening an existing view
        # with a DIFFERENT definition must refuse, not silently fold
        # deltas of one query into partials of another
        def_path = os.path.join(base_dir, _DEF_FILE)
        mine = {
            "keys": self.keys, "sums": self.sums,
            "count_col": count_col,
        }
        if os.path.exists(def_path):
            with open(def_path) as fh:
                theirs = json.load(fh)
            if theirs != mine:
                raise ValueError(
                    f"view at {base_dir!r} was defined as {theirs}; "
                    f"reopen with the same definition or use a new dir"
                )
        else:
            os.makedirs(base_dir, exist_ok=True)
            with open(def_path, "w") as fh:
                json.dump(mine, fh)

    # -- state ----------------------------------------------------------

    def last_synced(self) -> int:
        """Source version the view currently reflects (0 = never)."""
        return self.store.last_txn(_APP) or 0

    def read(self, spark: SparkSession) -> DataFrame:
        """The materialized aggregate (keys + count + sums)."""
        if self.store.latest_version() is None:
            raise ValueError("view never refreshed; call refresh() first")
        return self.store.read(spark)

    # -- refresh --------------------------------------------------------

    def _aggs(self, sign=None) -> list:
        sgn = F.lit(1) if sign is None else sign
        out = [F.sum(sgn).cast("long").alias(self.count_col)]
        for c, expr in self.sums.items():
            out.append(F.sum(sgn * F.expr(expr)).alias(c))
        return out

    def _range_is_row_level(self, v_from: int, v_to: int) -> bool:
        for v in range(v_from + 1, v_to + 1):
            doc = self.source.manifest(v)
            if doc["mode"] not in _ROW_LEVEL and not doc.get("changes"):
                return False
        return True

    def refresh(self, spark: SparkSession) -> dict:
        """Fold source changes since ``last_synced()`` into the view.

        Returns a receipt ``{"mode": "noop"|"incremental"|"rebuild",
        "v_from", "v_to", "change_rows"}``. The landing commit carries
        ``txn=(_APP, v_to)``: a replayed refresh (crash retry, racing
        twin) no-ops on the store's writer-idempotence instead of
        double-counting."""
        src_v = self.source.latest_version()
        last = self.last_synced()
        if src_v is None or src_v <= last:
            return {"mode": "noop", "v_from": last, "v_to": last,
                    "change_rows": 0}
        incremental = (
            last > 0
            and self.store.latest_version() is not None
            and self._range_is_row_level(last, src_v)
        )
        if not incremental:
            out = (
                self.source.read(spark, src_v)
                .groupBy(*self.keys)
                .agg(*self._aggs())
            )
            self.store.commit(
                out, mode="overwrite", stats_cols=[self.keys[0]],
                txn=(_APP, src_v),
            )
            return {"mode": "rebuild", "v_from": last, "v_to": src_v,
                    "change_rows": 0}
        ch = self.source.read_changes(spark, last, src_v)
        plus = [t for t, s in _SIGN.items() if s > 0]
        minus = [t for t, s in _SIGN.items() if s < 0]
        sign = (
            F.when(F.col("_change_type").isin(plus), F.lit(1))
            .when(F.col("_change_type").isin(minus), F.lit(-1))
            .otherwise(F.lit(0))
        )
        # the change count and the fold both read delta; bound: one row
        # per touched group
        with materialized(
            ch.groupBy(*self.keys).agg(
                *self._aggs(sign),
                F.count("*").alias("_n_change_rows"),
            )
        ) as delta:
            n_change = (
                delta.agg(F.sum("_n_change_rows")).collect()[0][0] or 0
            )
            cur = self.store.read(spark)
            # touched groups fold delta into current partials, groups
            # whose count hits zero leave the view, untouched groups
            # pass through with a null delta side — one full outer join
            # on the keys (Spark coalesces USING columns itself),
            # O(groups); the ONLY source-sized thing read was changes
            d = delta.drop("_n_change_rows")
            folded = (
                cur.alias("c")
                .join(d.alias("d"), on=self.keys, how="full")
                .select(
                    *self.keys,
                    *[
                        (
                            F.coalesce(F.col(f"c.{c}"), F.lit(0))
                            + F.coalesce(F.col(f"d.{c}"), F.lit(0))
                        ).alias(c)
                        for c in [self.count_col, *self.sums]
                    ],
                )
                .where(F.col(self.count_col) > 0)
            )
            self.store.commit(
                folded, mode="overwrite", stats_cols=[self.keys[0]],
                txn=(_APP, src_v),
            )
        return {"mode": "incremental", "v_from": last, "v_to": src_v,
                "change_rows": int(n_change)}
