"""Distributed exact ranking / NTILE without a single-partition sort.

The naive Spark spelling of a global NTILE — ``ntile(t).over(Window.orderBy(
...))`` — funnels every row through ONE task (WindowExec warns "No Partition
Defined"). That is the classic scale-killer for quantile segmentation
queries (RFM scores, LTV deciles): fine on a 1 500-customer test table,
a guaranteed straggler/OOM on a 1e9-customer dimension.

This module computes the SAME bit-exact positional buckets with no global
sort, using the textbook distributed-ranking shape (what Spark's own
``repartitionByRange``/``SortExec`` do internally, expressed declaratively):

1. **Range-bucket** every row by a small array of boundary values computed
   with ``percentile_approx`` and embedded as a *literal*. Approximation is
   harmless here: boundary quality only affects bucket *balance*; bucket
   assignment stays a pure deterministic function of the row, so ranks are
   exact for ANY boundary set. Embedding literals (driver collect of
   ``n_buckets`` longs) also makes the two passes below provably
   consistent — no reliance on exchange reuse or RNG-stable sampling.
2. **Count per bucket** once (one job, all metrics together), collect the
   ≤ ``n_metrics × (n_buckets+1)`` counts to the driver, and turn them into
   cumulative rank offsets — again embedded as literals.
3. **Rank within bucket** with ``row_number`` over a window PARTITIONED by
   the bucket id; global rank = bucket offset + local row number. Every
   window in the final plan is partitioned; the widest sort is one bucket
   (~n / n_buckets rows).
4. **NTILE from rank** with the SQL-standard positional rule (first
   ``n mod t`` tiles get one extra row), evaluated from literal total
   counts — so the output matches ``NTILE(t) OVER (ORDER BY ...)`` from any
   engine, bit for bit, provided the ORDER BY is a total order.

Tie handling: by default buckets are cut on the metric alone, so rows TIED
on the metric share a bucket — fine for near-unique metrics, degenerate for
low-cardinality ones (an order-count with 40 distinct values puts ~n/40
rows in one window partition). Setting ``NtileSpec.sub_key`` (the unique
tiebreak) switches that spec to composite ``(metric, tiebreak)`` boundaries
drawn from a deterministic hash sample: lexicographic pair comparison makes
bucketing a strict-total-order range partition, so even an ALL-TIED metric
splits evenly. Same exactness argument — boundaries only shape balance.

Driver-side state is bounded by ``n_buckets`` (default 32, scale to ~#cores
or #partitions on a cluster), the same bounded-collect discipline as
``operators/pq.py``. The scored input (a small *dimension* aggregate by the
operator's contract) is materialized once per call (``materialize``): the
boundary/count stats jobs and the returned consumer plan all read the
materialized blocks, so the scoring subtree —
often a fact-table aggregation — runs exactly once per invocation instead
of once per pass, and nothing is cached across invocations.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize


@dataclass
class NtileSpec:
    """One NTILE score to attach.

    ``asc_key``: a LONG-valued expression that sorts ASCENDING in the
    desired rank order (negate for DESC metrics, e.g. ``-cents`` for
    "largest spender first"); fed to ``percentile_approx`` for boundaries
    and compared against them for bucketing. Must be non-null.
    ``order_cols``: the within-bucket sort — MUST be a total order
    consistent with ``asc_key`` (i.e. start with the same direction on the
    same metric, then unique tiebreaks).
    ``sub_key``: OPTIONAL long-valued unique tiebreak that sorts ASCENDING
    in the same position as the final tiebreak of ``order_cols``. When set,
    bucket boundaries are full ``(asc_key, sub_key)`` pairs taken from a
    deterministic hash sample, so rows TIED on the metric split across
    buckets — use for low-cardinality metrics (order counts, dates) where
    metric-only boundaries would degenerate a bucket into the tie group.
    """

    out_col: str
    asc_key: Column
    order_cols: Sequence[Column] = field(default_factory=list)
    sub_key: Column | None = None


def _ceil_div(num: Column, den: int) -> Column:
    # integer ceil-division: avoids float rounding in the tile formula
    return (num + F.lit(den - 1)).cast("long") / F.lit(den)


def _tile_of_rank_col(rank: Column, n_rows: Column, n_tiles: int) -> Column:
    """``_tile_of_rank`` with the total count supplied as a COLUMN (a
    per-partition-value literal from a bounded map lookup), for NTILE over
    partitioned data where each partition value has its own row count.
    Same SQL-standard positional rule; the divisions are long/long -> double
    and floor exactly for any count below 2^53."""
    n = n_rows.cast("long")
    base = F.floor(n / n_tiles).cast("long")
    rem = (n % F.lit(n_tiles)).cast("long")
    cutoff = (base + 1) * rem
    big = F.floor((rank + base) / (base + 1))
    small = rem + F.floor((rank - cutoff + base - 1) / base)
    return (
        F.when(base == 0, rank)
        .when(rank <= cutoff, big)
        .otherwise(small)
        .cast("int")
    )


def _tile_of_rank(rank: Column, n_rows: int, n_tiles: int) -> Column:
    """SQL-standard NTILE bucket for a 1-based global rank, as a literal
    formula: with base = n div t and rem = n mod t, the first ``rem`` tiles
    hold ``base+1`` rows. Matches Spark's and DuckDB's NTILE exactly."""
    base, rem = divmod(n_rows, n_tiles)
    if base == 0:
        # fewer rows than tiles: tile i gets row i
        return rank.cast("int")
    cutoff = (base + 1) * rem
    big = F.floor(_ceil_div(rank, base + 1))
    small = F.lit(rem) + F.floor(_ceil_div(rank - F.lit(cutoff), base))
    return F.when(rank <= cutoff, big).otherwise(small).cast("int")


def _bucketize(
    df: DataFrame,
    specs: Sequence[NtileSpec],
    n_buckets: int,
    value_exprs: dict[str, Column] | None = None,
):
    """Shared core: attach a range-bucket id per spec and collect per-bucket
    stats with THREE bounded driver actions (metric boundaries + count,
    optional composite-pair sample, per-bucket count/sum). Returns
    ``(bucketed_df, counts, sums, n_rows)`` where ``bucketed_df`` carries
    ``__k_/__t_/__b_`` (and ``__v_`` when ``value_exprs``) temp columns and
    counts/sums map ``out_col -> {bucket: value}``. Bucket assignment is a
    pure literal-driven function of the row, so the stats jobs and the
    final (lazy) consumer plan are consistent by construction."""
    value_exprs = value_exprs or {}
    keyed = df
    for s in specs:
        keyed = keyed.withColumn(f"__k_{s.out_col}", s.asc_key.cast("long"))
        if s.sub_key is not None:
            keyed = keyed.withColumn(f"__t_{s.out_col}", s.sub_key.cast("long"))
        if s.out_col in value_exprs:
            keyed = keyed.withColumn(
                f"__v_{s.out_col}", value_exprs[s.out_col].cast("long")
            )

    # the scored input is computed ONCE: the two bounded driver actions
    # below AND the returned consumer plan all read it. Bound: the
    # dimension-sized scored input (the operator's documented contract).
    keyed = materialize(keyed)
    # 1. metric boundaries for all specs + total count in ONE job;
    # literals from here on
    probs = [i / n_buckets for i in range(1, n_buckets)]
    brow = keyed.agg(
        F.count("*").alias("__n"),
        *[
            F.percentile_approx(
                f"__k_{s.out_col}", F.array(*[F.lit(p) for p in probs])
            ).alias(s.out_col)
            for s in specs
        ],
    ).first()
    total = brow["__n"]

    # 1b. composite (key, tiebreak) boundaries for sub_key specs: a
    # deterministic hash sample (~8 pairs per bucket; bounded driver
    # state), sorted, K-1 evenly spaced pairs kept. Sampling quality
    # only affects bucket BALANCE — bucketing is a pure monotone
    # function of the row under lexicographic pair comparison, so
    # ranks stay exact for any boundary set.
    sub_specs = [s for s in specs if s.sub_key is not None]
    pair_bounds: dict[str, list] = {}
    if sub_specs and total:
        rate = max(1, total // (n_buckets * 8))
        sampled = (
            keyed.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(s.out_col).alias("m"),
                                F.col(f"__k_{s.out_col}").alias("k"),
                                F.col(f"__t_{s.out_col}").alias("t"),
                            )
                            for s in sub_specs
                        ]
                    )
                ).alias("x")
            )
            .where(F.pmod(F.abs(F.hash("x.m", "x.k", "x.t")), F.lit(rate)) == 0)
            .select("x.m", "x.k", "x.t")
            .collect()
        )
        for s in sub_specs:
            pool = sorted(
                {(r["k"], r["t"]) for r in sampled if r["m"] == s.out_col}
            )
            if len(pool) > n_buckets - 1:
                step = len(pool) / n_buckets
                pool = [pool[int((i + 1) * step)] for i in range(n_buckets - 1)]
            pair_bounds[s.out_col] = pool

    def _bucket_of(key):
        return lambda acc, b: acc + F.when(key > b, 1).otherwise(0)

    def _pair_bucket_of(key, sub):
        return lambda acc, b: acc + F.when(
            (b["k"] < key) | ((b["k"] == key) & (b["t"] <= sub)), 1
        ).otherwise(0)

    bucket_exprs = {}
    for s in specs:
        if s.sub_key is not None:
            bp = pair_bounds.get(s.out_col, [])
            bnds = F.array(
                *[
                    F.struct(
                        F.lit(int(bk)).alias("k"), F.lit(int(bt)).alias("t")
                    )
                    for bk, bt in bp
                ]
            )
            bucket_exprs[s.out_col] = (
                F.aggregate(
                    bnds,
                    F.lit(0),
                    _pair_bucket_of(
                        F.col(f"__k_{s.out_col}"), F.col(f"__t_{s.out_col}")
                    ),
                )
                if bp
                else F.lit(0)
            )
        else:
            bnds = F.array(*[F.lit(int(b)) for b in (brow[s.out_col] or [])])
            bucket_exprs[s.out_col] = F.aggregate(
                bnds, F.lit(0), _bucket_of(F.col(f"__k_{s.out_col}"))
            )
    bucketed = keyed
    for s in specs:
        bucketed = bucketed.withColumn(
            f"__b_{s.out_col}", bucket_exprs[s.out_col]
        )

    # 2. per-bucket count (and value sum) for all specs in ONE job
    rows = (
        bucketed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s.out_col).alias("m"),
                            F.col(f"__b_{s.out_col}").alias("b"),
                            (
                                F.col(f"__v_{s.out_col}")
                                if s.out_col in value_exprs
                                else F.lit(0).cast("long")
                            ).alias("v"),
                        )
                        for s in specs
                    ]
                )
            ).alias("x")
        )
        .groupBy("x.m", "x.b")
        .agg(F.count("*").alias("c"), F.sum("x.v").alias("s"))
        .collect()
    )
    counts = {s.out_col: {} for s in specs}
    sums = {s.out_col: {} for s in specs}
    for r in rows:
        counts[r["m"]][r["b"]] = r["c"]
        sums[r["m"]][r["b"]] = r["s"]
    n_rows = sum(counts[specs[0].out_col].values())
    return bucketed, counts, sums, n_rows


def _offsets_array(per_bucket: dict, n_buckets: int) -> Column:
    offs, acc = [], 0
    for b in range(n_buckets):
        offs.append(acc)
        acc += per_bucket.get(b, 0)
    return F.array(*[F.lit(int(o)) for o in offs])


def _temp_cols(specs: Sequence[NtileSpec], with_values: bool) -> list[str]:
    cols = [f"__k_{s.out_col}" for s in specs]
    cols += [f"__b_{s.out_col}" for s in specs]
    cols += [f"__t_{s.out_col}" for s in specs if s.sub_key is not None]
    if with_values:
        cols += [f"__v_{s.out_col}" for s in specs]
    return cols


def with_global_ntiles(
    df: DataFrame,
    specs: Sequence[NtileSpec],
    n_tiles: int,
    n_buckets: int = 32,
) -> DataFrame:
    """Attach one exact global-NTILE column per spec, scalably.

    Output rows/columns = input plus each ``spec.out_col`` (int, 1-based),
    identical to ``ntile(n_tiles).over(Window.orderBy(spec.order_cols))``
    but with every window partitioned by a range bucket.
    """
    bucketed, counts, _, n_rows = _bucketize(df, specs, n_buckets)
    out = bucketed
    for s in specs:
        off_arr = _offsets_array(counts[s.out_col], n_buckets)
        w = Window.partitionBy(f"__b_{s.out_col}").orderBy(*s.order_cols)
        rank = (
            F.element_at(off_arr, F.col(f"__b_{s.out_col}") + 1)
            + F.row_number().over(w)
        )
        out = out.withColumn(s.out_col, _tile_of_rank(rank, n_rows, n_tiles))
    return out.drop(*_temp_cols(specs, with_values=False))


def with_partitioned_ranks(
    df: DataFrame,
    partition_col: str,
    spec: NtileSpec,
    n_buckets: int = 32,
    rank_col: str = "rn",
    count_col: str = "n_part",
) -> DataFrame:
    """Exact per-partition-value ``row_number`` AND partition size over the
    spec's total order — the scale-out form of ``row_number().over(
    Window.partitionBy(partition_col).orderBy(...))`` for the case where
    each partition value's row count GROWS with the data (a market segment
    holds ~20% of the customer dimension at any SF, so the naive window is
    a straggler at 1e9 rows even though it is "partitioned").

    Every window in the produced plan is partitioned by ``(partition value,
    range bucket)`` — the widest sort is one bucket of one value, ~n /
    (n_values * n_buckets) rows. ``partition_col`` must be BOUNDED
    cardinality and non-null: driver state is n_values * n_buckets counts
    (the same bounded-collect discipline as ``_bucketize``; the offsets are
    re-embedded as a literal map). Bucket boundaries are GLOBAL metric
    percentiles — boundary quality only shapes bucket balance; within a
    partition value the bucket id is a monotone function of ``asc_key``, so
    literal offset + within-bucket ``row_number`` is the exact partition
    rank for ANY boundary set (ties on the metric share a bucket, and
    ``order_cols`` totally orders them inside it).

    Output = input plus ``rank_col`` (1-based exact per-value rank under
    the total order — equal to RANK and ROW_NUMBER alike, since the order
    is total) and ``count_col`` (that value's total row count), from which
    ntile (``_tile_of_rank_col``), percent_rank ``(rank-1)/(n-1)`` and
    cume_dist ``rank/n`` all follow as exact scalar expressions.
    """
    k = f"__k_{spec.out_col}"
    b = f"__b_{spec.out_col}"
    p = f"__p_{spec.out_col}"
    keyed = df.withColumn(k, spec.asc_key.cast("long")).withColumn(
        p, F.col(partition_col).cast("string")
    )
    # the scored input is computed ONCE (as in _bucketize): the two bounded
    # driver actions and the returned consumer plan read it. Bound: the
    # dimension-sized scored input.
    keyed = materialize(keyed)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bnds = (
        keyed.agg(
            F.percentile_approx(k, F.array(*[F.lit(pr) for pr in probs]))
        ).first()[0]
        or []
    )
    bucket = F.aggregate(
        F.array(*[F.lit(int(x)) for x in bnds]),
        F.lit(0),
        lambda acc, bd: acc + F.when(F.col(k) > bd, 1).otherwise(0),
    )
    bucketed = keyed.withColumn(b, bucket)
    rows = bucketed.groupBy(p, b).agg(F.count("*").alias("c")).collect()

    per_val: dict = {}
    for r in rows:
        per_val.setdefault(r[p], {})[r[b]] = r["c"]
    off_entries: list = []
    tot_entries: list = []
    for val, cnts in sorted(per_val.items()):
        offs, acc = [], 0
        for i in range(n_buckets):
            offs.append(acc)
            acc += cnts.get(i, 0)
        off_entries += [F.lit(val), F.array(*[F.lit(int(o)) for o in offs])]
        tot_entries += [F.lit(val), F.lit(int(acc))]
    off_map = F.create_map(*off_entries)
    tot_map = F.create_map(*tot_entries)

    w = Window.partitionBy(p, b).orderBy(*spec.order_cols)
    return (
        bucketed.withColumn(
            rank_col,
            F.element_at(F.element_at(off_map, F.col(p)), F.col(b) + 1)
            + F.row_number().over(w),
        )
        .withColumn(count_col, F.element_at(tot_map, F.col(p)))
        .drop(k, b, p)
    )


def with_global_rank_cumsum(
    df: DataFrame,
    spec: NtileSpec,
    value: Column,
    rank_col: str = "rn",
    cumsum_col: str = "cum_value",
    n_buckets: int = 32,
) -> DataFrame:
    """Exact global ``row_number`` AND running sum of ``value`` over the
    spec's total order — the Pareto/ABC-analysis shape — with no
    single-partition sort: the per-bucket stats job also sums ``value``, so
    the running sum is the literal sum-of-previous-buckets offset plus a
    window cumsum PARTITIONED by bucket. ``value`` must be integer-typed
    (exact, ordering-independent addition — the same float policy as every
    gated aggregate)."""
    bucketed, counts, sums, _ = _bucketize(
        df, [spec], n_buckets, {spec.out_col: value}
    )
    b_col = F.col(f"__b_{spec.out_col}")
    w = Window.partitionBy(f"__b_{spec.out_col}").orderBy(*spec.order_cols)
    rank = F.element_at(_offsets_array(counts[spec.out_col], n_buckets), b_col + 1) + F.row_number().over(w)
    cum = F.element_at(_offsets_array(sums[spec.out_col], n_buckets), b_col + 1) + F.sum(
        f"__v_{spec.out_col}"
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        bucketed.withColumn(rank_col, rank)
        .withColumn(cumsum_col, cum)
        .drop(*_temp_cols([spec], with_values=True))
    )
