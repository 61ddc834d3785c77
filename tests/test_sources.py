"""Source/sink round-trips beyond the reference's TSV surface: JSONL
interchange and Hive-partitioned parquet with planning-time pruning."""

import os
import time

from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.sources.readers import read_jsonl
from big_data_assignment2_2025_spark.sources.sinks import (
    write_jsonl,
    write_partitioned,
)


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, schema="doc_id long, lang string, n_chars long")
    a = {tuple(r) for r in docs.collect()}
    b = {tuple(r) for r in back.select("doc_id", "lang", "n_chars").collect()}
    assert a == b
    # overwrite semantics: second write replaces, not appends
    write_jsonl(docs.limit(10), path)
    assert read_jsonl(spark, path, schema="doc_id long").count() == 10


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, ["lang"])
    # hive layout on disk
    langs = sorted(d for d in os.listdir(path) if d.startswith("lang="))
    assert len(langs) >= 2

    back = spark.read.parquet(path)
    one_lang = langs[0].split("=", 1)[1]
    q = back.where(F.col("lang") == one_lang)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # partition filter present => directory-level pruning, not a data filter
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1][:200]
    expected = docs.where(F.col("lang") == one_lang).count()
    assert q.count() == expected


def test_range_sorted_write_has_disjoint_tight_stats(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    from big_data_assignment2_2025_spark.sources.sinks import write_range_sorted

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    path = str(tmp_path / "events_by_id")
    write_range_sorted(ev, path, ["event_id"], num_partitions=4)

    # collect per-file (min, max) of event_id from parquet footers
    ranges = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[
            "event_id"
        ]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2
    # disjoint file ranges => footer-level pruning works for id filters
    for (lo1, hi1), (lo2, hi2) in zip(sorted(ranges), sorted(ranges)[1:]):
        assert hi1 < lo2

    back = spark.read.parquet(path)
    assert back.count() == ev.count()


def test_orc_roundtrip_preserves_values_and_pushdown(spark, sf_dir, tmp_path):
    from big_data_assignment2_2025_spark.sources.readers import load_table, read_orc
    from big_data_assignment2_2025_spark.sources.sinks import write_orc

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_orc(spark, path)
    assert back.schema == orders.schema
    assert back.count() == orders.count()
    a = sorted(map(tuple, orders.select("o_orderkey", "o_totalprice").collect()))
    b = sorted(map(tuple, back.select("o_orderkey", "o_totalprice").collect()))
    assert a == b
    # predicate pushdown reaches the ORC scan like parquet
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = (
        back.where(F.col("o_orderkey") == 42)
        ._jdf.queryExecution()
        .explainString(mode)
    )
    assert "PushedFilters:" in plan and "EqualTo(o_orderkey,42)" in plan


def test_csv_roundtrip_with_explicit_schema(spark, sf_dir, tmp_path):
    from big_data_assignment2_2025_spark.sources.readers import (
        load_table,
        read_csv_with_schema,
    )
    from big_data_assignment2_2025_spark.sources.sinks import write_csv_with_header

    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    write_csv_with_header(nation, path)
    back = read_csv_with_schema(spark, path, nation.schema)
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_zorder_write_skips_on_both_dimensions(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    from big_data_assignment2_2025_spark.sources.sinks import (
        write_range_sorted,
        write_zorder,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def file_ranges(path, col):
        out = []
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }[col]
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            if mins:
                out.append((min(mins), max(maxs)))
        return out

    def covering(ranges, v):
        return sum(1 for lo, hi in ranges if lo <= v <= hi)

    zpath = str(tmp_path / "orders_z")
    lpath = str(tmp_path / "orders_linear")
    write_zorder(orders, zpath, "o_custkey", "o_totalprice", num_partitions=8)
    write_range_sorted(orders, lpath, ["o_custkey"], num_partitions=8)

    stats = orders.selectExpr(
        "avg(o_custkey) c", "avg(o_totalprice) p"
    ).first()
    mid_cust, mid_price = int(stats["c"]), float(stats["p"])

    z_cust = file_ranges(zpath, "o_custkey")
    z_price = file_ranges(zpath, "o_totalprice")
    l_price = file_ranges(lpath, "o_totalprice")
    n_files = len(z_cust)
    assert n_files >= 4

    # the linear layout (sorted by custkey alone) cannot skip on price:
    # every file spans ~the full price range
    assert covering(l_price, mid_price) == len(l_price)
    # the z-ordered layout skips files for point predicates on EITHER dim
    assert covering(z_cust, mid_cust) < n_files
    assert covering(z_price, mid_price) < n_files

    # lossless
    assert spark.read.parquet(zpath).count() == orders.count()


def test_python_streaming_datasource_ticks_exactly_once(spark, tmp_path):
    from big_data_assignment2_2025_spark.sources.pyds import (
        register_tick_stream,
    )

    register_tick_stream(spark)
    name = f"ticks_{os.getpid()}"
    stream = (
        spark.readStream.format("tickstream")
        .option("rowsPerBatch", "4")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # wait for at least 3 committed micro-batches
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= 12:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = sorted(r["tick"] for r in spark.table(name).collect())
    assert len(rows) >= 12
    # contiguous from 0, no gaps, no duplicates — the offset contract held
    assert rows == list(range(rows[-1] + 1))
    buckets = {r["tick"]: r["bucket"] for r in spark.table(name).collect()}
    assert all(b == t % 7 for t, b in buckets.items())


def test_morton_code_matches_python_reference(spark):
    import random

    from big_data_assignment2_2025_spark.sources.sinks import morton_code

    def ref(a, b, bits=16):
        c = 0
        for i in range(bits):
            c |= ((a >> i) & 1) << (2 * i)
            c |= ((b >> i) & 1) << (2 * i + 1)
        return c

    rng = random.Random(7)
    pts = [(rng.randrange(65536), rng.randrange(65536)) for _ in range(200)]
    pts += [(0, 0), (65535, 65535), (0, 65535), (65535, 0), (1, 2)]
    df = spark.createDataFrame(pts, "a long, b long").withColumn(
        "code", morton_code(F.col("a"), F.col("b"))
    )
    for r in df.collect():
        assert r["code"] == ref(r["a"], r["b"]), (r["a"], r["b"])


def test_hidden_file_metadata_columns(spark, sf_dir):
    # row provenance via the hidden _metadata struct — at 100 TB "which
    # file did this bad row come from" is an operational primitive
    df = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.file_size").alias("fs"),
    )
    r = df.first()
    assert "events.parquet" in r["fp"]
    assert r["fs"] > 0
    # provenance grouping: every row of this single-file fixture maps to
    # exactly one physical file
    assert df.select("fp").distinct().count() >= 1


def test_compact_parquet_collapses_small_files(spark, tmp_path):
    from big_data_assignment2_2025_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "fragmented")
    # simulate a micro-batch ingest: 40 tiny files
    spark.range(4000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("s")
    ).repartition(40).write.parquet(path)
    before = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(before) == 40
    total_before = spark.read.parquet(path).agg(F.sum("id")).first()[0]

    n = compact_parquet(spark, path, target_file_bytes=10 * 1024 * 1024)
    after = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(after) == n < len(before)
    # lossless
    back = spark.read.parquet(path)
    assert back.count() == 4000
    assert back.agg(F.sum("id")).first()[0] == total_before
    # the crash-safe swap leaves no leftover side dirs on success
    assert not os.path.exists(path + "_old")
    assert not os.path.exists(path + "_compacting")


def test_compact_parquet_refuses_partitioned_root(spark, tmp_path):
    import pytest

    from big_data_assignment2_2025_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "parted")
    spark.range(100).select(
        F.col("id"), (F.col("id") % 3).alias("k")
    ).write.partitionBy("k").parquet(path)
    with pytest.raises(ValueError, match="partitioned table root"):
        compact_parquet(spark, path)
    # refused untouched: still readable with partition column intact
    assert spark.read.parquet(path).select("k").distinct().count() == 3


def test_derived_cache_invalidation(tmp_path):
    """``staged`` builds once per fixture state: a second call reuses the
    committed copy, and it rebuilds after the fixture is regenerated in
    place, when the ``_SUCCESS`` commit marker is missing, and after a
    build that raised — never serving a stale or half-written copy."""
    import shutil

    import pytest

    from big_data_assignment2_2025_spark.sources.readers import (
        scratch_dir,
        staged,
    )

    fix = tmp_path / "fix"
    fix.mkdir()
    (fix / "customer.parquet").write_bytes(b"v1-bytes")
    calls = []

    def build(path):
        calls.append(path)
        with open(os.path.join(path, "part-0"), "w") as fh:
            fh.write(str(len(calls)))

    def failing(path):
        open(os.path.join(path, "partial"), "w").close()
        raise RuntimeError("build failed")

    path = scratch_dir(str(fix), "cachetest")
    try:
        assert staged(str(fix), "cachetest", build) == path
        staged(str(fix), "cachetest", build)
        assert len(calls) == 1

        # regenerate the fixture in place -> new fingerprint -> rebuild
        os.utime(fix / "customer.parquet", ns=(1, 1))
        staged(str(fix), "cachetest", build)
        staged(str(fix), "cachetest", build)
        assert len(calls) == 2

        # uncommitted copy (no _SUCCESS) is rebuilt
        os.remove(os.path.join(path, "_SUCCESS"))
        staged(str(fix), "cachetest", build)
        assert len(calls) == 3

        # a build that raises leaves no valid cache: the next call
        # rebuilds into an emptied directory
        os.utime(fix / "customer.parquet", ns=(2, 2))
        with pytest.raises(RuntimeError):
            staged(str(fix), "cachetest", failing)
        staged(str(fix), "cachetest", build)
        assert len(calls) == 4
        assert sorted(os.listdir(path)) == [
            "_FIXTURE_TAG", "_SUCCESS", "part-0"
        ]
        with open(os.path.join(path, "part-0")) as fh:
            assert fh.read() == "4"
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _package_lines_matching(pat: str, home: str) -> list[str]:
    """``file:line: text`` of every package line outside ``home`` (a path
    relative to the package) that matches ``pat``."""
    import pathlib
    import re

    pkg = (
        pathlib.Path(__file__).resolve().parent.parent
        / "big_data_assignment2_2025_spark"
    )
    rx = re.compile(pat)
    return [
        f"{p.relative_to(pkg)}:{n}: {line.strip()}"
        for p in sorted(pkg.rglob("*.py"))
        if p.relative_to(pkg).as_posix() != home
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if rx.search(line)
    ]


def test_one_way_to_stage_derived_data():
    """Staging derived data has one home, ``sources/readers.staged``:
    elsewhere the package writes no cache marker or ``_SUCCESS`` by hand
    and builds no temp-dir path or fixture tag of its own."""
    pat = (
        r"derived_cache_ok|mark_derived_cache|tempfile\.gettempdir\(\)"
        r"|sf_dir\.strip\(|[\"']_SUCCESS[\"']"
    )
    assert _package_lines_matching(pat, "sources/readers.py") == []


def test_one_ranking_path():
    """Ranked results have one home, ``operators/search.py``: elsewhere the
    package neither orders by a raw score sum by hand nor calls the BM25
    weight expression itself."""
    pat = r"F\.col\(\"rank_raw\"\)\.desc\(\)|\bbm25_expr\("
    assert _package_lines_matching(pat, "operators/search.py") == []
