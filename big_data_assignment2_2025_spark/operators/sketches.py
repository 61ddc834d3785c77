"""Sketch-backed operators: heavy hitters without a full-key shuffle, and
deterministic weighted-priority sampling.

No reference counterpart (the reference aggregates every term through the
MapReduce shuffle unconditionally, ``app/mapreduce/reducer2.py``); these
are the scale paths a 100 TB corpus needs when the *distinct-key* universe
(term vocabulary, URL set) is itself too large to shuffle comfortably but
the question only concerns the very frequent keys.

``heavy_hitters`` is the textbook TWO-PASS exact algorithm:

1. **Candidate pass** — ``df.stat.freqItems`` (Spark's built-in
   Karp/Misra-Gries variant: single JVM-side pass, per-partition summaries
   merged associatively; ≤ ``1/support`` candidates, possible false
   positives, provably NO false negatives for items with frequency
   > support·n).
2. **Verification pass** — ONE exact aggregation where every
   non-candidate key folds into a single NULL bucket: per-candidate
   exact counts AND the grand total come out of the same scan, and the
   aggregate stays map-side partial (each task emits ≤ candidates+1
   partial rows).

The exact groupBy therefore shuffles ≤ 1/support + 1 distinct keys —
at phi = 1% that is ≤ 101 keys instead of the full vocabulary, and the
whole operator reads the fact data exactly twice. Driver state is the
candidate array (bounded by 1/support), same bounded-collect discipline
as ``operators/ranking.py``.

MEASURED crossover vs the naive full-key ``GROUP BY .. HAVING``
(tools/scale_probe.py --hh-crossover, sf0.1 events = 100k rows,
support=1%, app-wide shuffle bytes, HHCROSSOVER_r7.json): two-pass
total shuffle is FLAT (~2.7-3.5 KB = candidates+1 partials per task
plus the freqItems job) while naive grows with the distinct-key
universe (~25 B/key):

    distinct keys   two-pass      naive
    31              3,537 B       3,089 B   <- naive wins
    999             2,691 B      26,845 B   (10x)
    16,265          2,851 B     400,787 B   (141x)
    79,910          2,816 B   1,859,845 B   (660x)

Shuffle-byte break-even is ~1-3x of 1/support distinct keys, but the
two-pass form also SCANS the fact data twice (its local wall time only
catches up once shuffles spill/cross machines), so
``heavy_hitters_auto`` switches to two-pass only past a 32x margin
(distinct > 32/support) — where the measured shuffle saving is >100x
and comfortably buys back the second scan even on a scan-bound
cluster.

Round 7 adds five DETERMINISTIC sketch families (SCALING §13) — each
rebuilt from public integer primitives (md5 bit-slices, bit algebra,
frozen-order IEEE tails) so the sketch state is engine-reproducible and
the queries on top hash-gate where Spark's opaque built-ins never could:
``hll_registers``/``hll_merge``/``hll_estimate`` (HyperLogLog: 512
integer registers, merge = per-bucket max), ``hist_quantile_sketch`` /
``hist_quantiles_from_counts`` (fixed-range histogram: additive bin
counts, integer cumulative inversion), ``bloom_bitmap`` /
``bloom_probe_flag`` (Bloom semi-join pruning: 4 KB bit_or bitmap,
literal-map codegen probe), ``cms_counters`` /
``cms_estimate_for_keys`` (Count-Min: 3 x 1024 additive counters,
sum-merge, never-undercount point estimates), and ``kmv_sketch`` /
``kmv_merge`` / ``kmv_theta`` (K-minimum-values / theta-style distinct
sketch: the 256 smallest distinct 52-bit hashes, merge = k-smallest of
the union — the one family whose sample supports set DIFFERENCE and
intersection with union-scaled error, where HLL stops at
inclusion-exclusion). Merge operators: max (HLL), + (histogram/CMS),
bit_or (Bloom), k-smallest (KMV) — all associative, commutative, and
(except the KMV re-rank) partial-aggregation-friendly, which is the
entire scale story.

``weighted_priority_sample`` draws a deterministic weight-biased sample:
priority = h/w where ``h`` is a 52-bit integer carved from md5(key) and
``w`` the row weight; keep the k smallest priorities. Heavier rows get
proportionally smaller priorities, i.e. proportionally higher inclusion
odds. The classic A-ES key ``u^(1/w)`` needs ``pow``/``ln``, whose last-ulp
behavior differs across libm implementations and could flip near-ties
between engines; ``h/w`` is one IEEE division — exact-rounded and
bit-identical everywhere — so the selected set is reproducible on any
engine from the data alone (no RNG, no seed plumbing). Selection is a
global top-k = ``TakeOrderedAndProject``: per-partition heaps, k rows to
the driver, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def heavy_hitters(
    df: DataFrame, key_col: str, support: float = 0.01
) -> DataFrame:
    """All values of ``key_col`` with frequency strictly greater than
    ``support`` × n, with EXACT counts — (key, cnt, n_total) rows.

    Exactness: pass 1 can only over-select (false positives); pass 2's
    exact counts discard them against the true threshold. An item above
    the threshold is guaranteed into the candidate set by the freqItems
    no-false-negative property, so the result equals the full-shuffle
    ``GROUP BY ... HAVING`` bit for bit."""
    # pass 1: bounded candidate set (<= 1/support values) via the merged
    # per-partition Misra-Gries summaries; one JVM job, one driver array
    cand_row = df.stat.freqItems([key_col], support=support).first()
    candidates = [c for c in cand_row[f"{key_col}_freqItems"] if c is not None]
    if not candidates:
        empty = df.select(
            F.col(key_col),
            F.lit(0).cast("long").alias("cnt"),
            F.lit(0).cast("long").alias("n_total"),
        )
        return empty.where(F.lit(False))
    # pass 2: exact verification AND the grand total in ONE scan — every
    # non-candidate key folds into a single NULL bucket, so the aggregate
    # stays partial (each map task emits <= candidates+1 rows) and
    # n_total = sum over all buckets. No third pass over the fact data.
    bucket = F.when(F.col(key_col).isin(candidates), F.col(key_col))
    counts = (
        df.groupBy(bucket.alias(key_col))
        .agg(F.count("*").alias("cnt"))
    )
    totals = counts.agg(F.sum("cnt").alias("n_total"))
    return (
        counts.where(F.col(key_col).isNotNull())
        .join(F.broadcast(totals))
        .where(F.col("cnt") > F.lit(support) * F.col("n_total"))
        .select(key_col, "cnt", "n_total")
    )


def heavy_hitters_naive(
    df: DataFrame, key_col: str, support: float = 0.01
) -> DataFrame:
    """Single-pass full-key ``GROUP BY .. HAVING cnt > support*n`` — the
    right spelling when the distinct-key universe is SMALL (one scan, one
    shuffle of every distinct key). Same (key, cnt, n_total) contract and
    bit-identical output to ``heavy_hitters``."""
    counts = df.groupBy(F.col(key_col)).agg(F.count("*").alias("cnt"))
    totals = counts.agg(F.sum("cnt").alias("n_total"))
    return (
        counts.where(F.col(key_col).isNotNull())
        .join(F.broadcast(totals))
        .where(F.col("cnt") > F.lit(support) * F.col("n_total"))
        .select(key_col, "cnt", "n_total")
    )


#: heavy_hitters_auto switches to the two-pass form when the estimated
#: distinct-key universe exceeds this multiple of 1/support — set from the
#: measured crossover (module docstring): shuffle break-even is ~2.3x, the
#: 32x margin guarantees a >100x shuffle saving before paying the second
#: scan the two-pass form costs.
AUTO_CARDINALITY_FACTOR = 32.0


def heavy_hitters_auto(
    df: DataFrame, key_col: str, support: float = 0.01
) -> DataFrame:
    """Cardinality-adaptive exact heavy hitters: estimate the distinct-key
    universe with one ``approx_count_distinct`` pass, then run the naive
    full-key aggregation when the universe is small (it shuffles less AND
    scans once) or the bounded two-pass algorithm when the universe is
    large (measured 352x shuffle saving at 80k keys — module docstring).
    Both branches produce bit-identical (key, cnt, n_total) results; the
    estimate only picks the cheaper physical strategy, never the answer.

    Cost note: the estimator itself is one extra scan with a constant-size
    (HLL sketch) shuffle — callers that already know their key universe
    should call ``heavy_hitters``/``heavy_hitters_naive`` directly."""
    est = df.agg(F.approx_count_distinct(key_col).alias("d")).first()["d"]
    if est <= AUTO_CARDINALITY_FACTOR / support:
        return heavy_hitters_naive(df, key_col, support)
    return heavy_hitters(df, key_col, support)


#: 52 bits of md5 as a non-negative long — the uniform-hash numerator of
#: the sampling priority (52 so the EXACT double h/w stays inside the
#: 2^53 integer-exact range before the division).
def _hash52(col) -> F.Column:
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 13), 16, 10).cast(
        "long"
    )


#: Deterministic HyperLogLog defaults: p=9 -> 512 registers (rsd
#: 1.04/sqrt(512) ~ 4.6%), value word = the remaining 43 hash bits, so
#: rho ranges 1..44 and the scaled register sum
#: S = sum_j 2^(44 - M_j) <= 512 * 2^44 = 2^53 stays integer-exact in a
#: BIGINT on every engine.
HLL_P = 9
HLL_M = 1 << HLL_P
HLL_W = 52 - HLL_P
HLL_RHO_MAX = HLL_W + 1
HLL_SCALE = 1 << HLL_RHO_MAX
#: Standard HLL bias constant for m >= 128, computed with the exact
#: literal expression the oracle SQL spells: one IEEE division chain.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / float(HLL_M))


def hll_registers(df: DataFrame, group_cols: list, value_col: str) -> DataFrame:
    """Deterministic HLL register rows per group: (group_cols..., bucket, r).

    Spark's built-in ``approx_count_distinct`` is the same HyperLogLog++
    family but its sketch is engine-opaque — the estimate cannot be
    reproduced outside the JVM, so a query built on it can never be
    value-verified cross-engine. This operator re-expresses the sketch
    from public primitives only: ``bucket`` = low ``HLL_P`` bits of a
    52-bit integer carved from ``md5(value)`` (the same hash convention
    as ``weighted_priority_sample``), ``r`` = max over the group's values
    of ``rho(w)`` = position of the leftmost 1-bit in the remaining
    ``HLL_W``-bit word ``w`` (``rho = HLL_RHO_MAX - length(bin(w))``,
    ``HLL_RHO_MAX`` when ``w = 0``). Every step is integer arithmetic on
    a cross-engine-stable hash, so the registers — and everything derived
    from them — are bit-identical on any engine, RNG-free, and
    independent of partitioning or evaluation order.

    Scale shape: ``max`` is a decomposable aggregate, so the groupBy is
    map-side partial — each task emits at most groups x 512 register
    rows regardless of input volume, and duplicates need no pre-distinct
    (``max`` is idempotent over repeats). NULL values hash to NULL and
    are dropped, matching COUNT(DISTINCT) semantics."""
    bucket, rho = hll_bucket_rho(value_col)
    proj = df.where(F.col(value_col).isNotNull()).select(
        *group_cols, bucket, rho
    )
    return proj.groupBy(*group_cols, "bucket").agg(F.max("rho").alias("r"))


def hll_bucket_rho(value_col: str) -> tuple:
    """The stateless per-row sketch projection shared by the batch and
    streaming register builders: (``bucket``, ``rho``) columns from the
    52-bit md5 hash of ``value_col`` — low ``HLL_P`` bits index the
    register, ``rho`` = leftmost-1-bit position of the remaining word
    (``HLL_RHO_MAX`` for the all-zero word)."""
    h = _hash52(F.col(value_col))
    w = F.shiftright(h, HLL_P)
    rho = F.when(w == 0, F.lit(HLL_RHO_MAX)).otherwise(
        F.lit(HLL_RHO_MAX) - F.length(F.bin(w))
    )
    return (h % F.lit(HLL_M)).alias("bucket"), rho.alias("rho")


def hll_merge(reg_df: DataFrame, group_cols: list) -> DataFrame:
    """Merge register sets across a re-grouping (window fan-out, shard
    union, incremental append): per-bucket ``max`` IS the HLL merge
    operator — associative, commutative, idempotent — which is exactly
    why the sketch decomposes across any partitioning where exact
    distinct cannot."""
    return reg_df.groupBy(*group_cols, "bucket").agg(F.max("r").alias("r"))


def hll_estimate(
    reg_df: DataFrame, group_cols: list, out_col: str = "est_micro"
) -> DataFrame:
    """Raw HLL estimate per group from merged registers:
    (group_cols..., v_empty, reg_sum, ``out_col``).

    ``reg_sum`` = sum over ALL m buckets of 2^(HLL_RHO_MAX - M_j) with
    absent buckets at M_j = 0 — an exact BIGINT (<= 2^53). The estimate
    alpha * m^2 * 2^HLL_RHO_MAX / reg_sum (the 2^HLL_RHO_MAX rescale
    cancels the scaling of reg_sum) is ONE frozen-order IEEE chain —
    multiply, divide, round — with no transcendentals, so the
    micro-rounded BIGINT output is bit-identical cross-engine (the
    frozen-order convention of ``operators/moments.py``).

    Deliberately RAW: the standard small-range linear-counting correction
    (E <= 2.5m and v_empty > 0 -> m * ln(m / v_empty)) needs ``ln``,
    whose last-ulp behavior differs across libm builds — so the operator
    emits ``v_empty`` and leaves the correction to the caller as a
    trivial post-step on already-final values (tests apply it
    driver-side when bounding accuracy against the exact aggregate)."""
    agg = reg_df.groupBy(*group_cols).agg(
        F.count("*").alias("_nb"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - r)")
        ).alias("_s"),
    )
    v_empty = (F.lit(HLL_M).cast("long") - F.col("_nb")).alias("v_empty")
    reg_sum = (
        F.col("_s") + (F.lit(HLL_M).cast("long") - F.col("_nb")) * F.lit(HLL_SCALE).cast("long")
    ).alias("reg_sum")
    est = (
        F.lit(HLL_ALPHA)
        * F.lit(float(HLL_M))
        * F.lit(float(HLL_M))
        * F.lit(float(HLL_SCALE))
        / F.col("reg_sum").cast("double")
        * F.lit(1e6)
    )
    return agg.select(*group_cols, v_empty, reg_sum).select(
        *group_cols,
        "v_empty",
        "reg_sum",
        F.round(est).cast("long").alias(out_col),
    )


def hist_quantile_sketch(
    df: DataFrame,
    group_cols: list,
    value_col: str,
    lo_micro: int,
    hi_micro: int,
    n_bins: int,
    percents: list,
) -> DataFrame:
    """Mergeable fixed-range histogram quantile sketch — the quantile
    counterpart of the deterministic HLL: approximate per-group
    percentiles from INTEGER-ONLY algebra, so the result is bit-identical
    on any engine and the sketch state (bin counts) merges by addition
    across any partitioning.

    Exact distributed quantiles (``operators/ranking.py``) need a
    rank-materializing pass per query; a 100 TB pipeline monitoring p50 /
    p90 / p99 per group every hour wants a sketch whose partials combine
    map-side. Bin counts are exactly that: the groupBy is
    partial-aggregating, each task emits <= groups x n_bins rows whatever
    the input volume, and incremental/streaming maintenance is count
    addition per (group, bin).

    Algebra (every step integer, no IEEE anything):
    values micro-round to BIGINT (``round(v * 1e6)`` — the repo's
    cross-engine micro convention), clamp into [lo_micro, hi_micro)
    (saturating end bins, standard fixed-range histogram semantics),
    ``bin = (vm - lo) div width`` with ``width = (hi - lo) / n_bins``
    (must divide evenly — asserted), per-group cumulative counts over the
    <= n_bins rows, and quantile p% = the first bin whose cumulative
    count reaches ``ceil(n * p / 100)`` computed as the integer
    ``(n * p + 99) div 100``. Output is the bin index and its lower edge
    in micros: error is bounded by one bin width by construction.

    Returns (group_cols..., p_pct, n, qbin, q_lo_micro)."""
    if (hi_micro - lo_micro) % n_bins != 0:
        raise ValueError(
            f"bin width must be integral: span {hi_micro - lo_micro} "
            f"not divisible by {n_bins} bins"
        )
    width = (hi_micro - lo_micro) // n_bins
    proj = df.where(F.col(value_col).isNotNull()).select(
        *group_cols,
        hist_bin_expr(value_col, lo_micro, hi_micro, width).alias("bin"),
    )
    counts = proj.groupBy(*group_cols, "bin").agg(F.count("*").alias("cnt"))
    return hist_quantiles_from_counts(
        counts, group_cols, lo_micro, width, percents
    )


def hist_bin_expr(
    value_col: str, lo_micro: int, hi_micro: int, width: int
) -> F.Column:
    """The stateless binning projection: micro-round, clamp into
    [lo_micro, hi_micro) (saturating end bins), integer-divide by the
    bin width. Shared by the batch sketch and the streaming twin."""
    return F.expr(
        f"CAST((least(greatest(CAST(round({value_col} * 1e6) AS BIGINT), "
        f"{lo_micro}), {hi_micro - 1}) - {lo_micro}) div {width} AS BIGINT)"
    )


def hist_quantiles_from_counts(
    counts: DataFrame,
    group_cols: list,
    lo_micro: int,
    width: int,
    percents: list,
) -> DataFrame:
    """Quantile recovery from (group_cols..., bin, cnt) sketch state —
    the merge-side half of the histogram sketch, reused wherever the
    counts come from (one batch pass, a streaming update log reconciled
    by max, or summed partials from many shards). Integer cumulative
    counts over the <= n_bins rows per group, quantile p = first bin
    reaching the integer ceil (n*p+99) div 100."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_full = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # n comes from a full-frame max over the SAME <=n_bins-row window
    # partition instead of a totals self-join — one shuffle serves both,
    # and no join means no lineage conflict when the counts arrive from a
    # streaming sink view (which cannot auto-dedup attribute ids)
    cum = counts.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.max(F.col("cum")).over(w_full)
    )
    # the percent list fans out via a Generate (explode of a literal
    # array), not a cross join — nothing for the plan lint to frown at
    cand = cum.select(
        *group_cols,
        "bin",
        "cum",
        "n",
        F.explode(
            F.array(*[F.lit(int(p)).cast("long") for p in percents])
        ).alias("p_pct"),
    ).where(F.col("cum") >= F.expr("(n * p_pct + 99) div 100"))
    return (
        cand.groupBy(*group_cols, "p_pct", "n")
        .agg(F.min("bin").alias("qbin"))
        .select(
            *group_cols,
            "p_pct",
            "n",
            "qbin",
            (F.col("qbin") * F.lit(width).cast("long")
             + F.lit(lo_micro).cast("long")).alias("q_lo_micro"),
        )
    )


#: Deterministic Bloom filter defaults: 512 words x 63 usable bits
#: (bit 63 stays clear — DuckDB raises on 1<<63 where the JVM wraps, so
#: the sign bit is the one position the two engines disagree on), k=2
#: hash probes by double hashing two INDEPENDENT 52-bit md5 slices
#: (hex chars 1-13 and 14-26 of the same digest).
BLOOM_WORDS = 512
BLOOM_WORD_BITS = 63
BLOOM_M = BLOOM_WORDS * BLOOM_WORD_BITS
BLOOM_K = 2


def _bloom_positions(col: F.Column) -> list:
    """The k bit positions of a key: pos_i = (h1 + i*h2) mod m (classic
    double hashing — Kirsch/Mitzenmacher: two independent hashes simulate
    k with no loss in the false-positive bound)."""
    s = col.cast("string")
    h1 = F.conv(F.substring(F.md5(s), 1, 13), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(s), 14, 13), 16, 10).cast("long")
    return [(h1 + F.lit(i) * h2) % F.lit(BLOOM_M) for i in range(BLOOM_K)]


def bloom_bitmap(df: DataFrame, key_col: str) -> DataFrame:
    """Build the Bloom bitmap over ``key_col``: (word, bits) rows,
    <= BLOOM_WORDS of them — small enough to BROADCAST however large the
    build side's row count is.

    This is the runtime-filter / semi-join-prune pattern at 100 TB: an
    exact semi-join moves (or at minimum hashes) every distinct build key
    to every probe task; the Bloom bitmap is a fixed 4 KB whatever the
    key count, probe-side membership is two broadcast-join lookups inside
    codegen, and the price is a DETERMINISTIC false-positive set (same
    hash → same fps on every engine, which is what lets Bloom-pruned
    queries hash-gate — see ``plans/sketches_queries.py``). ``bit_or`` is
    associative/commutative/idempotent, so bitmap construction is
    map-side partial and bitmaps from different shards/days merge by
    ``bit_or`` just like HLL registers merge by ``max``."""
    pos_rows = []
    for pos in _bloom_positions(F.col(key_col)):
        pos_rows.append(
            df.where(F.col(key_col).isNotNull()).select(pos.alias("pos"))
        )
    allpos = pos_rows[0]
    for extra in pos_rows[1:]:
        allpos = allpos.unionAll(extra)
    return (
        allpos.select(
            F.expr(f"pos div {BLOOM_WORD_BITS}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("val"),
        )
        .groupBy("word")
        .agg(F.bit_or("val").alias("bits"))
    )


def bloom_probe_flag(
    df: DataFrame, key_col: str, bitmap: DataFrame, flag_col: str = "bloom_pass"
) -> DataFrame:
    """Append boolean ``flag_col``: Bloom membership of ``key_col`` in
    ``bitmap``. NO false negatives (a true member always passes); false
    positives at the standard (1 - e^(-kn/m))^k rate — and because the
    hashes are deterministic, the false-positive SET is identical on
    every engine, so Bloom-pruned results hash-gate.

    Probe cost: the <= BLOOM_WORDS (word, bits) rows are collected ONCE
    (bounded driver state — same discipline as ``heavy_hitters``'
    candidate array) and embedded as a literal map, so membership is a
    pure codegen expression: k map lookups + bitwise tests. ZERO joins,
    ZERO exchanges, zero recomputation of the build side — the probe scan
    is never shuffled, exploded, or re-grouped (the whole point of
    pruning a 100 TB scan; this is how engine-native runtime filters ship
    their bitmaps too). NULL keys fail the probe (semi-join semantics)."""
    entries = bitmap.collect()
    if not entries:
        return df.withColumn(flag_col, F.lit(False))
    pairs = []
    for r in entries:
        pairs += [F.lit(int(r["word"])), F.lit(int(r["bits"]))]
    mp = F.create_map(*pairs)
    out = df
    hits = []
    for i, pos in enumerate(_bloom_positions(F.col(key_col))):
        p = f"_bp{i}"
        out = out.withColumn(p, pos)
        word = F.expr(f"{p} div {BLOOM_WORD_BITS}")
        val = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST({p} % {BLOOM_WORD_BITS} AS INT))"
        )
        # element_at on a map yields NULL for an absent word -> coalesce
        # to a probe miss
        hits.append(
            F.coalesce(F.element_at(mp, word).bitwiseAND(val) != 0, F.lit(False))
        )
    member = hits[0]
    for h in hits[1:]:
        member = member & h
    out = out.withColumn(flag_col, member)
    return out.drop(*[f"_bp{i}" for i in range(BLOOM_K)])


#: Deterministic Count-Min defaults: depth 3 x width 1024 counters.
#: Same double-hashing trick as the Bloom filter (two independent 52-bit
#: md5 slices); counters are ADDITIVE, so sketch construction is
#: map-side partial (<= d x w rows per task at any volume) and sketches
#: merge by element-wise sum.
CMS_DEPTH = 3
CMS_WIDTH = 1024


def _cms_positions(col: F.Column) -> list:
    s = col.cast("string")
    h1 = F.conv(F.substring(F.md5(s), 1, 13), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(s), 14, 13), 16, 10).cast("long")
    return [(h1 + F.lit(i) * h2) % F.lit(CMS_WIDTH) for i in range(CMS_DEPTH)]


def cms_counters(df: DataFrame, key_col: str) -> DataFrame:
    """Build the Count-Min counter table over ``key_col``: (row, bucket,
    cnt), <= CMS_DEPTH x CMS_WIDTH rows.

    The frequency-sketch sibling of the HLL registers: where exact
    per-key counts shuffle the full key universe, the CMS shuffles at
    most d x w counter rows — each map task emits its partial counters
    and they merge by sum. Point estimates (``cms_estimate``) carry the
    classic one-sided guarantee: NEVER an undercount, overcount bounded
    by collisions (~n/w per row, min over d rows). Deterministic md5
    double hashing makes every counter — and therefore every estimate —
    bit-identical across engines and partitionings."""
    proj = df.where(F.col(key_col).isNotNull()).select(
        F.posexplode(
            F.array(*_cms_positions(F.col(key_col)))
        ).alias("row", "bucket")
    )
    # ONE fact scan: the d positions fan out in the projection
    # (posexplode), then the partial aggregate folds them back to
    # <= d x w counter rows per task before anything shuffles
    return proj.groupBy(
        F.col("row").cast("long").alias("row"), "bucket"
    ).agg(F.count("*").alias("cnt"))


def cms_estimate_for_keys(
    counters: DataFrame, keys_df: DataFrame, key_col: str, by: list | None = None
) -> DataFrame:
    """Point-estimate the frequency of each key in ``keys_df`` from the
    counter table: est = min over the d rows of the key's counter
    (absent counter = 0). The counter table is <= d x w rows — literal
    broadcast-scale — so each lookup is a broadcast join; the keys frame
    is expected to be small (a watchlist), the sketch side is what
    scaled.

    ``by`` names extra grouping columns present in BOTH frames (e.g. a
    per-day counter table probed by a (day, key) watchlist): lookups then
    join on (group, bucket), so one call estimates every group's
    watchlist at once. The counter side stays broadcast-scale at
    groups x d x w rows.

    Plan shape (r13 rewrite): ONE broadcast join, not d. The original form
    joined the keys frame d times, each against a ``row == i`` slice of the
    counter table — d broadcast builds, each re-running the counter
    subplan (for the streaming twin that subplan is a groupBy over the
    drained update log, re-executed per build). Exploding the d probe
    positions on the KEYS side instead (a watchlist, tiny by contract)
    joins the whole counter table once and folds back with
    ``min(coalesce(cnt, 0))`` — `est = min over d of (counter or 0)`, the
    identical value row for row. Requires ``keys_df`` rows to be unique
    (both callers probe a distinct watchlist)."""
    by = list(by or [])
    key_cols = list(keys_df.columns)
    probes = keys_df.select(
        *key_cols,
        F.posexplode(
            F.array(*_cms_positions(F.col(key_col)))
        ).alias("_cms_row", "_cms_bucket"),
    )
    # counter-side columns are renamed (keys frames are often DERIVED from
    # the counter table — e.g. its distinct days — and a common lineage
    # makes a USING-column join ambiguous)
    ct = counters.select(
        *[F.col(c).alias(f"_cg_{c}") for c in by],
        F.col("row").cast("long").alias("_cg_row"),
        F.col("bucket").cast("long").alias("_cg_bucket"),
        F.col("cnt").alias("_cg_cnt"),
    )
    cond = (
        F.col("_cms_row").cast("long") == F.col("_cg_row")
    ) & (F.col("_cms_bucket").cast("long") == F.col("_cg_bucket"))
    for c in by:
        cond = cond & (F.col(c) == F.col(f"_cg_{c}"))
    joined = probes.join(F.broadcast(ct), cond, "left")
    return joined.groupBy(*key_cols).agg(
        F.min(
            F.coalesce(F.col("_cg_cnt"), F.lit(0).cast("long"))
        ).alias("est_cnt")
    )


#: Deterministic KMV defaults: keep the 256 smallest distinct hashes.
#: rsd ~ 1/sqrt(k-1) ~ 6.3%. KMV_DOMAIN = 2^52 (the hash range), an
#: exact double, so the estimator chain cnt * 2^52 / theta * 1e6 is one
#: frozen-order IEEE sequence reproducible on any engine.
KMV_K = 256
KMV_DOMAIN = 1 << 52


def _kmv_topk(df: DataFrame, group_cols: list) -> DataFrame:
    """The k-smallest-distinct-h reduction shared by build and merge:
    distinct (group, h), then ``row_number() <= k`` ordered by ``h``.
    Spark's WindowGroupLimit rewrite pushes the rank predicate below the
    window exchange (each task forwards at most k rows per group), so
    the re-rank never shuffles more than tasks x groups x k rows."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        df.select(*group_cols, "h")
        .distinct()
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= KMV_K)
        .select(*group_cols, "h")
    )


def kmv_sketch(df: DataFrame, group_cols: list, value_col: str) -> DataFrame:
    """K-minimum-values sample per group: the ``KMV_K`` smallest DISTINCT
    52-bit md5 hashes of ``value_col`` — (group_cols..., h), <= k rows
    per group.

    The theta-sketch family member: where HLL keeps 512 lossy registers,
    KMV keeps an actual uniform SAMPLE of the distinct-value universe
    (every distinct value whose hash lands below the group's k-th
    smallest), which is what buys the set operations HLL cannot express:
    a hash below both thetas is in A's sample iff it is in A AT ALL, so
    intersection and DIFFERENCE counts are exact sample lookups, scaled
    by the union estimator (``events_audience_diff_kmv``). When a group
    has fewer than k distinct values the sample is the complete distinct
    set and every derived estimate is EXACT.

    Scale shape: the build reduces to the distinct (group, hash)
    dimension once (map-side partial distinct — same shuffle class as
    the exact rolling-DAU reduce, NOT the raw fact volume), then the
    k-smallest re-rank is WindowGroupLimit-pruned. What you persist,
    merge, and ship afterwards is <= k BIGINTs per group
    (``kmv_merge``): incremental appends cost k-row merges, never a
    history re-scan. If only a union CARDINALITY is needed, prefer the
    HLL (register reduce, no distinct-dimension shuffle); KMV earns its
    build cost when difference/intersection membership matters.
    Deterministic md5 => the sample — and every estimate from it — is
    bit-identical on any engine and partitioning."""
    proj = df.where(F.col(value_col).isNotNull()).select(
        *group_cols, _hash52(F.col(value_col)).alias("h")
    )
    return _kmv_topk(proj, group_cols)


def kmv_merge(sketches: DataFrame, group_cols: list) -> DataFrame:
    """Merge KMV samples across a re-grouping (shard union, incremental
    append, segment union): the k smallest distinct hashes of the
    concatenation — associative, commutative, idempotent, and equal to
    the sketch built from the concatenated raw data (test-asserted),
    because min-k of min-k's is min-k."""
    return _kmv_topk(sketches, group_cols)


def kmv_theta(sketches: DataFrame, group_cols: list) -> DataFrame:
    """Per-group sample size and threshold: (group_cols..., n_sample,
    theta). ``theta`` = the k-th smallest hash when the sample is full
    (the group has >= k distinct values), else ``KMV_DOMAIN`` (the
    sample is the complete distinct set). The estimator convention is
    strict-below: est = count(h < theta) * KMV_DOMAIN / theta — which
    collapses to the textbook (k-1) * 2^52 / h_(k) when truncated and
    to the EXACT n_sample when complete."""
    return sketches.groupBy(*group_cols).agg(
        F.count("*").alias("n_sample"),
        F.when(F.count("*") < KMV_K, F.lit(KMV_DOMAIN).cast("long"))
        .otherwise(F.max("h"))
        .alias("theta"),
    )


def kmv_est_micro(cnt: F.Column, theta: F.Column) -> F.Column:
    """The frozen-order KMV estimator chain, micro-rounded to a BIGINT:
    round(cnt * 2^52 / theta * 1e6). cnt <= 2k and 2^52 are exact
    doubles; one multiply, one divide, one multiply, one round — the
    same cross-engine-stable IEEE discipline as ``hll_estimate``."""
    return F.round(
        cnt.cast("double")
        * F.lit(float(KMV_DOMAIN))
        / theta.cast("double")
        * F.lit(1e6)
    ).cast("long")


def weighted_priority_sample(
    df: DataFrame, key_col: str, weight_col: str, k: int
) -> DataFrame:
    """Deterministic weight-biased top-k sample: the ``k`` rows with the
    smallest ``hash52(key)/weight`` priority (heavier => likelier). Adds
    ``priority``; ordering ties broken by key for a total order."""
    # u = h/2^52 in [0,1), then u/w: two IEEE divisions, each exact-rounded,
    # so the double is bit-identical on any engine — no output rounding
    # needed (and none wanted: these magnitudes differ per-row)
    u = _hash52(F.col(key_col)) / F.lit(float(2**52))
    pr = (u / F.col(weight_col)).alias("priority")
    return (
        df.select(key_col, weight_col, pr)
        .where(F.col(weight_col) > 0)
        .orderBy(F.col("priority").asc(), F.col(key_col).asc())
        .limit(k)
    )
