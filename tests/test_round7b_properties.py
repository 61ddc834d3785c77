"""Property-based tests (hypothesis) for the round-7b/7c primitives:
bitmap exact distinct, int8 quantization, gap-fill interpolation.

Random inputs → invariants that must hold for ANY data, exercising the
actual JVM expressions (not Python re-implementations) against plain
Python ground truth.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.plans.sketches_queries import bitmap_distinct_agg

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)

_ids = st.lists(
    st.integers(min_value=0, max_value=5000), min_size=1, max_size=300
)


@given(ids=_ids)
@_SETTINGS
def test_bitmap_distinct_equals_set_cardinality(spark, ids):
    df = spark.createDataFrame([(i,) for i in ids], "id long").withColumn(
        "g", F.lit(1)
    )
    row = bitmap_distinct_agg(df, ["g"], "id").collect()[0]
    assert row["dau"] == len(set(ids))
    assert row["words_touched"] == len({i // 32 for i in ids})


_vec = st.lists(
    st.floats(
        min_value=-100.0,
        max_value=100.0,
        allow_nan=False,
        allow_infinity=False,
        width=32,
    ),
    min_size=1,
    max_size=16,
).filter(lambda xs: any(x != 0 for x in xs))


@given(vec=_vec)
@_SETTINGS
def test_int8_quantization_matches_python_and_reconstructs(spark, vec):
    """The JVM floor(x*127/m + 0.5) expression must agree with Python's
    on float32 inputs, codes must stay in [-127, 127], and dequantizing
    must land within half a quantization step of the input."""
    df = spark.createDataFrame([(vec,)], "embedding array<float>")
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    m = F.array_max(F.transform(x, lambda v: F.abs(v)))
    out = (
        df.withColumn("m", m)
        .withColumn(
            "codes",
            F.transform(
                x,
                lambda v: F.floor(
                    v * F.lit(127.0) / F.col("m") + F.lit(0.5)
                ).cast("long"),
            ),
        )
        .select("m", "codes")
        .collect()[0]
    )
    # float32 storage rounds the inputs; ground truth uses the stored values
    import numpy as np

    stored = [float(np.float32(v)) for v in vec]
    mm = max(abs(v) for v in stored)
    expect = [math.floor(v * 127.0 / mm + 0.5) for v in stored]
    assert out["codes"] == expect
    assert all(-127 <= c <= 127 for c in out["codes"])
    step = mm / 127.0
    for c, v in zip(out["codes"], stored):
        assert abs(c * step - v) <= step / 2 + 1e-9


_series = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=-1000, max_value=1000),
    ),
    min_size=1,
    max_size=20,
).map(lambda ps: dict(ps))  # day -> value, dedup days


@given(series=_series)
@_SETTINGS
def test_gap_fill_walls_bound_interpolated_values(spark, series):
    """Linear interpolation over any sparse integer series: filled gap
    values lie within the [prev, next] wall interval, observed points
    pass through unchanged."""
    import datetime

    base = datetime.date(2024, 1, 1)
    rows = [
        (1, base + datetime.timedelta(days=d), float(v))
        for d, v in sorted(series.items())
    ]
    df = spark.createDataFrame(rows, "user_id long, day date, m double")
    from pyspark.sql import Window

    w_back = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    cal = (
        df.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
        )
    )
    dense = cal.join(df, ["user_id", "day"], "left")
    obs_day = F.when(F.col("m").isNotNull(), F.col("day"))
    frac = F.datediff(F.col("day"), F.col("prev_day")).cast(
        "double"
    ) / F.datediff(F.col("next_day"), F.col("prev_day")).cast("double")
    out = (
        dense.withColumn("prev_m", F.last("m", ignorenulls=True).over(w_back))
        .withColumn("prev_day", F.last(obs_day, ignorenulls=True).over(w_back))
        .withColumn("next_m", F.first("m", ignorenulls=True).over(w_fwd))
        .withColumn("next_day", F.first(obs_day, ignorenulls=True).over(w_fwd))
        .withColumn(
            "filled",
            F.when(F.col("m").isNotNull(), F.col("m")).otherwise(
                F.col("prev_m")
                + (F.col("next_m") - F.col("prev_m")) * frac
            ),
        )
        .orderBy("day")
        .collect()
    )
    truth = {r["day"]: r["m"] for r in df.collect()}
    for r in out:
        assert r["filled"] is not None
        if r["day"] in truth:
            assert r["filled"] == truth[r["day"]]
        else:
            lo = min(r["prev_m"], r["next_m"])
            hi = max(r["prev_m"], r["next_m"])
            assert lo - 1e-9 <= r["filled"] <= hi + 1e-9
