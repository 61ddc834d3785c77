"""Reference-parity queries that close the remaining SURVEY.md §2 inventory
lines not yet represented in the registry:

- A5  incremental index accumulation (reference reducer1.py:18-24,
      reducer2.py:32-39 read-modify-write upserts — including the
      double-count-on-reindex quirk, replayed faithfully by the oracle)
- S4/S3  TSV sink + schema'd TSV source round-trip (reference
      prepare_data.py:29 write, mapper1.py:11-15 read)
- O2/P1  corpus subsetting (reference prepare_data.py:16-17 sample+limit;
      expressed as a deterministic hash-sample so both engines agree —
      seeded Bernoulli sampling is partitioning-dependent in Spark and not
      reproducible in DuckDB, so the *operator* keeps reference semantics in
      prepare.py while the *gate query* pins a portable predicate)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators.dedup import hash64
from ..operators.index import (
    build_index,
    delete_documents,
    idempotent_reindex,
    incremental_reindex,
)
from ..sources.readers import (
    load_table,
    read_corpus_tsv,
    read_documents,
    scratch_dir,
)
from ..sources.sinks import write_jsonl, write_orc, write_tsv


def index_incremental_accumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index even-id docs, then accumulate odd-id docs as a delta; return
    the merged per-term doc_frequency table (reference A5 semantics)."""
    corpus = read_documents(spark, sf_dir)
    old = build_index(corpus.where(F.col("doc_id") % 2 == 0))
    merged = incremental_reindex(old, corpus.where(F.col("doc_id") % 2 == 1))
    return merged.term_doc_freq.select("term", "corpus_name", "doc_frequency")


INDEX_INCREMENTAL_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS toks
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0),
per_doc AS (
  SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
SELECT term, 'whole_corpus' AS corpus_name,
       CAST(COUNT(*) AS INTEGER) AS doc_frequency
FROM per_doc
GROUP BY term
"""


def index_rebuild_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-index the full corpus into an index that already contains it,
    via the IDEMPOTENT re-index path (``--rebuild``: the delta's documents
    replace their stored versions): the result must equal a fresh single
    build — no double-count quirk.  The oracle is therefore the plain fresh-build
    doc_frequency SQL; the reference store cannot express this at all
    (``reducer1.py:18-24`` only accumulates)."""
    corpus = read_documents(spark, sf_dir)
    old = build_index(corpus)
    merged = idempotent_reindex(old, corpus)
    return merged.term_doc_freq.select("term", "corpus_name", "doc_frequency")


INDEX_REBUILD_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS toks
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0),
per_doc AS (
  SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
SELECT term, 'whole_corpus' AS corpus_name,
       CAST(COUNT(*) AS INTEGER) AS doc_frequency
FROM per_doc
GROUP BY term
"""


def index_delete_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the full index, then DELETE every doc_id ≡ 0 (mod 3); the
    surviving doc_frequency table must equal an index built over only the
    retained documents (the lifecycle capability the reference lacks)."""
    corpus = read_documents(spark, sf_dir)
    full = build_index(corpus)
    victims = corpus.where(F.col("doc_id") % 3 == 0).select("doc_id")
    pruned = delete_documents(full, victims)
    return pruned.term_doc_freq.select("term", "corpus_name", "doc_frequency")


INDEX_DELETE_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS toks
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
    AND doc_id % 3 <> 0),
per_doc AS (
  SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
SELECT term, 'whole_corpus' AS corpus_name,
       CAST(COUNT(*) AS INTEGER) AS doc_frequency
FROM per_doc
GROUP BY term
"""


def tsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the corpus through the TSV sink (S4) and read it back through
    the schema'd TSV source (S3); values must survive the round-trip."""
    corpus = read_documents(spark, sf_dir)
    out = scratch_dir(sf_dir, "tsv_rt")
    write_tsv(corpus, out)
    back = read_corpus_tsv(spark, out)
    return back.select(
        "doc_id", "doc_title", F.length("text").alias("n_chars")
    )


TSV_ROUNDTRIP_SQL = """
SELECT doc_id, 'doc_' || doc_id AS doc_title, length(text) AS n_chars
FROM documents WHERE text IS NOT NULL
"""


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the documents table through the ORC sink and read it back via
    Spark's built-in columnar ORC reader; values must survive losslessly.
    ORC is the second first-class columnar format after parquet — same
    vectorized scan, predicate pushdown and column pruning apply."""
    docs = load_table(spark, sf_dir, "documents")
    out = scratch_dir(sf_dir, "orc_rt")
    write_orc(docs, out)
    back = spark.read.orc(out)
    return back.select("doc_id", "lang", "source", "n_chars")


ORC_ROUNDTRIP_SQL = """
SELECT doc_id, lang, source, n_chars FROM documents
"""


def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the documents table as JSON-lines and read it back with the
    ORIGINAL schema applied (inference would widen/narrow types and drop
    null-only columns — schema'd reads are the production contract for
    line-JSON interchange)."""
    docs = load_table(spark, sf_dir, "documents")
    out = scratch_dir(sf_dir, "jsonl_rt")
    write_jsonl(docs, out)
    back = spark.read.schema(docs.schema).json(out)
    return back.select("doc_id", "lang", "source", "n_chars")


JSONL_ROUNDTRIP_SQL = """
SELECT doc_id, lang, source, n_chars FROM documents
"""


def corpus_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus subset via a portable hash predicate (the
    gate-checkable stand-in for the reference's seeded sample+limit)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(
        hash64(F.col("doc_id").cast("string")) % 10 == 0
    ).select("doc_id", "lang", "source", "n_chars")


CORPUS_SAMPLE_SQL = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 = 0
"""


def bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise / integer scalar-function parity: and/or/xor, shifts,
    popcount, factorial, and hex formatting — all native JVM expressions
    inside one WholeStageCodegen projection (no shuffle, no UDF)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.expr("p_partkey & 255").alias("and_255"),
        F.expr("p_partkey | 4096").alias("or_4096"),
        F.expr("p_partkey ^ 1023").alias("xor_1023"),
        F.shiftleft(F.col("p_size"), 3).alias("size_shl3"),
        F.shiftright(F.col("p_partkey"), 4).alias("key_shr4"),
        F.bit_count(F.col("p_partkey")).alias("key_popcount"),
        F.factorial(F.col("p_size") % 10).alias("size_fact"),
        F.lower(F.conv(F.col("p_partkey").cast("string"), 10, 16)).alias(
            "key_hex"
        ),
    )


BITWISE_SQL = """
SELECT p_partkey,
       p_partkey & 255 AS and_255,
       p_partkey | 4096 AS or_4096,
       xor(p_partkey, 1023) AS xor_1023,
       p_size << 3 AS size_shl3,
       p_partkey >> 4 AS key_shr4,
       bit_count(p_partkey) AS key_popcount,
       CAST(factorial(CAST(p_size % 10 AS INTEGER)) AS BIGINT) AS size_fact,
       printf('%x', p_partkey) AS key_hex
FROM part
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-RANGE window frame (vs the ROWS frames elsewhere): for every
    event, how many events of the same type fall within the 1000-cent value
    band below it, and their cent sum. RANGE frames include peers by VALUE,
    so ties contribute identically on both engines regardless of physical
    row order — the frame is a pure function of the cents column."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("cents")
        .rangeBetween(-1000, W.currentRow)
    )
    return ev.select(
        "event_id",
        "event_type",
        "cents",
        F.count("*").over(w).alias("n_in_band"),
        F.sum("cents").over(w).alias("band_cents"),
    )


WINDOW_RANGE_SQL = """
SELECT event_id, event_type,
       CAST(round(value * 100) AS BIGINT) AS cents,
       COUNT(*) OVER w AS n_in_band,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
         AS band_cents
FROM events
WINDOW w AS (PARTITION BY event_type
             ORDER BY CAST(round(value * 100) AS BIGINT)
             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
"""


def revenue_share_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total via FULL-PARTITION window frames (no ORDER BY): each
    nation's share of its region's revenue and of global revenue, computed
    from ONE aggregate + two unordered window sums — the ratio-to-report
    pattern. Sums are exact integer cents so the division is deterministic;
    the windows ride the tiny per-nation aggregate, never the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    per_nation = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    by_region = W.partitionBy("r_name")
    overall = W.partitionBy()
    return per_nation.select(
        "r_name",
        "n_name",
        "rev_cents",
        F.round(
            F.col("rev_cents") / F.sum("rev_cents").over(by_region), 6
        ).alias("region_share"),
        F.round(
            F.col("rev_cents") / F.sum("rev_cents").over(overall), 6
        ).alias("global_share"),
    ).orderBy("r_name", "n_name")


REVENUE_SHARE_SQL = """
WITH per_nation AS (
  SELECT r_name, n_name,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name)
SELECT r_name, n_name, rev_cents,
       round(rev_cents / CAST(SUM(rev_cents) OVER (PARTITION BY r_name)
                              AS BIGINT), 6) AS region_share,
       round(rev_cents / CAST(SUM(rev_cents) OVER () AS BIGINT), 6)
         AS global_share
FROM per_nation
ORDER BY r_name, n_name
"""


QUERIES = {
    "index_incremental_accumulate": index_incremental_accumulate,
    "index_rebuild_idempotent": index_rebuild_idempotent,
    "index_delete_docs": index_delete_docs,
    "tsv_roundtrip": tsv_roundtrip,
    "orc_roundtrip": orc_roundtrip,
    "jsonl_roundtrip": jsonl_roundtrip,
    "corpus_hash_sample": corpus_hash_sample,
    "bitwise_funcs": bitwise_funcs,
    "window_range_frame": window_range_frame,
    "revenue_share_window": revenue_share_window,
}

ORACLES = {
    "index_incremental_accumulate": INDEX_INCREMENTAL_SQL,
    "index_rebuild_idempotent": INDEX_REBUILD_SQL,
    "index_delete_docs": INDEX_DELETE_SQL,
    "tsv_roundtrip": TSV_ROUNDTRIP_SQL,
    "orc_roundtrip": ORC_ROUNDTRIP_SQL,
    "jsonl_roundtrip": JSONL_ROUNDTRIP_SQL,
    "corpus_hash_sample": CORPUS_SAMPLE_SQL,
    "bitwise_funcs": BITWISE_SQL,
    "window_range_frame": WINDOW_RANGE_SQL,
    "revenue_share_window": REVENUE_SHARE_SQL,
}
