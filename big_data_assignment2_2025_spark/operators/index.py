"""Inverted-index builder — the reference's two MapReduce jobs as ONE Spark job.

Reference semantics being replicated (SURVEY.md §2.4, §3.2):
- document frequency per term   (``app/mapreduce/reducer1.py:33-43``)
- term frequency per (doc,term) (``app/mapreduce/reducer2.py:49-64``)
- document length               (``app/mapreduce/reducer2.py:52,66-70``)
- corpus stats doc_n/total_len  (``app/mapreduce/reducer2.py:80-92``)
- blank/malformed rows skipped  (``app/mapreduce/mapper1.py:7-13``)
- incremental upsert accumulation across runs (``reducer1.py:18-24``,
  ``reducer2.py:32-39``) — including its double-count-on-reindex quirk.

Scale design (100 TB corpus, 1000 executors):
- ONE wide transformation chain with ONE shuffle on the token stream:
  ``tokens -> groupBy(term, doc_id, doc_title)``. Spark's partial
  HashAggregate does the map-side combine the reference approximated with
  per-doc dedup + reducer dicts — but spills instead of OOMing.
- ``doc_frequency``, ``doc_info`` and ``corpus_info`` are derived from the
  already-aggregated (and far smaller) ``term_freq`` relation instead of
  re-reading the corpus like the reference's second MapReduce pass
  (``app/index.sh:53-73`` reads the corpus twice).
- Output tables are plain parquet; `(corpus_name, term)` point lookups
  (the Cassandra partition key, ``app/cassandra/schema.cql:9,18``) become
  parquet predicate pushdown / row-group skipping. Callers writing huge
  indexes should ``write_index_table`` with ``partitionBy("corpus_name")``
  and sort within partitions by ``term`` to maximize skipping.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens_of
from ..sources.readers import fan_out

WHOLE_CORPUS = "whole_corpus"  # hardcoded corpus name, reference app/query.py:23


@dataclass
class InvertedIndex:
    """The four index tables (logical schemas from ``app/cassandra/schema.cql``)."""

    term_freq: DataFrame      # term, corpus_name, doc_id, doc_title, term_frequency
    term_doc_freq: DataFrame  # term, corpus_name, doc_frequency
    doc_info: DataFrame       # doc_id, doc_title, doc_length
    corpus_info: DataFrame    # corpus_name, doc_n, total_doc_length

    def cache(self) -> "InvertedIndex":
        self.term_freq.cache()
        self.term_doc_freq.cache()
        self.doc_info.cache()
        self.corpus_info.cache()
        return self

    def unpersist(self) -> "InvertedIndex":
        for df in (self.term_freq, self.term_doc_freq, self.doc_info, self.corpus_info):
            df.unpersist()
        return self


def _valid_docs(corpus: DataFrame) -> DataFrame:
    # blank-text / malformed guard, reference mapper1.py:7-13
    return corpus.where(
        F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
        & (F.length(F.trim(F.col("text"))) > 0)
    )


def build_index(
    corpus: DataFrame,
    corpus_name: str = WHOLE_CORPUS,
    share_term_freq: bool = True,
) -> InvertedIndex:
    """corpus(doc_id, doc_title, text) -> the four index tables.

    One shuffle (the term_freq groupBy); everything else derives from
    term_freq without touching the raw text again.

    ``share_term_freq`` persists the term_freq relation (MEMORY_AND_DISK):
    a consumer that references several index tables in ONE plan (e.g. the
    ad-hoc BM25 search joins tf + vocab + doc_info + corpus stats) would
    otherwise re-run the tokenize+shuffle subtree once PER TABLE — the
    per-branch pushed filters make the four exchanges non-identical, so
    Catalyst's ReuseExchange cannot dedup them (verified: 4x ``Generate
    explode`` in the unshared physical plan). With the persist, the corpus
    is tokenized exactly once. Spark's CacheManager keys on the
    canonicalized plan, so repeated ``build_index`` calls over the same
    source share one cache entry instead of accumulating copies; callers
    that are done with an ad-hoc index can release it via
    ``index.unpersist()``. At 100 TB the cached relation is the aggregated
    index (far smaller than the corpus) and spills to disk — still
    strictly cheaper than four corpus-scale tokenize passes.
    """
    # fan_out: the tokenize+explode projection is the CPU-heavy stage; make
    # sure it isn't pinned to an under-split scan (no-op on well-split input)
    tokens = tokens_of(fan_out(_valid_docs(corpus)))

    term_freq = (
        tokens.groupBy("term", "doc_id", "doc_title")
        .agg(F.count("*").cast("int").alias("term_frequency"))
        .withColumn("corpus_name", F.lit(corpus_name))
        .select("term", "corpus_name", "doc_id", "doc_title", "term_frequency")
    )
    if share_term_freq:
        from pyspark import StorageLevel

        term_freq = term_freq.persist(StorageLevel.MEMORY_AND_DISK)

    # term_freq is unique per (term, doc) => row count per term == #docs
    # containing the term (the mapper1.py:20 per-doc dedup, for free).
    term_doc_freq = (
        term_freq.groupBy("term")
        .agg(F.count("*").cast("int").alias("doc_frequency"))
        .withColumn("corpus_name", F.lit(corpus_name))
        .select("term", "corpus_name", "doc_frequency")
    )

    # sum(term_frequency) per doc == doc_length (duplicates included),
    # reference reducer2.py:52,66-70.
    doc_info = term_freq.groupBy("doc_id", "doc_title").agg(
        F.sum("term_frequency").cast("int").alias("doc_length")
    )
    if share_term_freq:
        # doc_info (and the scalar corpus stats derived from it) are read by
        # EVERY search over an ad-hoc index; without their own persist each
        # query re-aggregates the full cached term_freq relation per run
        # (one corpus-wide shuffle per search). doc_info is one row per
        # document — at any scale it is the small side.
        doc_info = doc_info.persist(StorageLevel.MEMORY_AND_DISK)

    corpus_info = doc_info.agg(
        F.count("*").cast("int").alias("doc_n"),
        F.sum("doc_length").cast("int").alias("total_doc_length"),
    ).select(
        F.lit(corpus_name).alias("corpus_name"), "doc_n", "total_doc_length"
    )
    if share_term_freq:
        # one cached row instead of a full doc_info pass per search
        corpus_info = corpus_info.persist(StorageLevel.MEMORY_AND_DISK)

    return InvertedIndex(term_freq, term_doc_freq, doc_info, corpus_info)


def materialize_index(index: InvertedIndex, out_dir: str) -> None:
    """Persist the four index tables as parquet (the offline half of the
    reference's index/search split — replaces the Cassandra store, S6).

    ``term_freq`` is partitioned by ``corpus_name`` and written sorted by
    term within files: the ``(corpus_name, term)`` Cassandra partition key
    becomes directory-level partition pruning + parquet min/max row-group
    skipping on term point-lookups.
    """
    import os

    (
        index.term_freq.sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("corpus_name")
        .parquet(os.path.join(out_dir, "term_freq"))
    )
    for name, df in [
        ("term_doc_freq", index.term_doc_freq),
        ("doc_info", index.doc_info),
        ("corpus_info", index.corpus_info),
    ]:
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))


def load_materialized_index(spark, out_dir: str) -> InvertedIndex:
    """The online half: reopen a materialized index. Term predicates push
    down to the parquet scans (the reference's CQL point lookup, S2)."""
    import os

    return InvertedIndex(
        term_freq=spark.read.parquet(os.path.join(out_dir, "term_freq")),
        term_doc_freq=spark.read.parquet(os.path.join(out_dir, "term_doc_freq")),
        doc_info=spark.read.parquet(os.path.join(out_dir, "doc_info")),
        corpus_info=spark.read.parquet(os.path.join(out_dir, "corpus_info")),
    )


def incremental_reindex(
    old: InvertedIndex, delta_corpus: DataFrame, corpus_name: str = WHOLE_CORPUS
) -> InvertedIndex:
    """Accumulate a delta corpus into an existing index.

    Faithfully replicates the reference's read-modify-write upserts —
    ``new = old + delta`` for doc_frequency (``reducer1.py:18-24``) and
    corpus stats (``reducer2.py:32-39``) — *including* the quirk that
    re-indexing the same document double-counts it. Implemented as
    union + re-aggregate + overwrite (SURVEY.md A5), the scalable
    equivalent of per-row CQL upserts.
    """
    delta = build_index(delta_corpus, corpus_name)

    term_freq = (
        old.term_freq.unionByName(delta.term_freq)
        .groupBy("term", "corpus_name", "doc_id", "doc_title")
        .agg(F.sum("term_frequency").cast("int").alias("term_frequency"))
        .select("term", "corpus_name", "doc_id", "doc_title", "term_frequency")
    )
    term_doc_freq = (
        old.term_doc_freq.unionByName(delta.term_doc_freq)
        .groupBy("term", "corpus_name")
        .agg(F.sum("doc_frequency").cast("int").alias("doc_frequency"))
        .select("term", "corpus_name", "doc_frequency")
    )
    doc_info = (
        old.doc_info.unionByName(delta.doc_info)
        .groupBy("doc_id", "doc_title")
        .agg(F.sum("doc_length").cast("int").alias("doc_length"))
    )
    corpus_info = (
        old.corpus_info.unionByName(delta.corpus_info)
        .groupBy("corpus_name")
        .agg(
            F.sum("doc_n").cast("int").alias("doc_n"),
            F.sum("total_doc_length").cast("int").alias("total_doc_length"),
        )
    )
    return InvertedIndex(term_freq, term_doc_freq, doc_info, corpus_info)


def delete_documents(old: InvertedIndex, doc_ids: DataFrame) -> InvertedIndex:
    """Remove a set of documents from an existing index.

    The reference store can only ACCUMULATE (``reducer1.py:18-24`` has no
    delete path — re-indexing double-counts); deletion is the lifecycle
    capability a real operator needs, so its semantics are defined fresh
    here rather than copied:

    - ``term_freq`` / ``doc_info``: anti-join on ``doc_id`` — the deleted
      documents' postings and length rows vanish, everything else is
      untouched (no re-aggregation of retained rows).
    - ``term_doc_freq`` / ``corpus_info``: RECOMPUTED from the retained
      relations (one vocab-scale aggregation + one row). This pins
      ``doc_frequency`` to the number of retained ``(term, doc)`` postings,
      i.e. distinct retained docs per term — on a store that was
      double-ACCUMULATED, deletion therefore also normalizes the inflated
      frequencies back to posting counts (terms whose every posting is
      deleted disappear entirely, no ghost df); per-posting
      ``term_frequency`` / ``doc_length`` values of untouched documents are
      preserved as stored (their source text is not available to re-read).

    Scale: the anti-joins broadcast ``doc_ids`` when small (the common
    delete batch) or shuffle-hash on ``doc_id`` otherwise; the df
    recomputation is the same single groupBy that ``build_index`` already
    performs — no corpus re-scan, everything derives from the stored
    aggregates. That recomputation is index-sized, so DELETES SHOULD BE
    BATCHED at large scale (amortize one vocab-scale aggregation over many
    victims, as the CLI's multi-id ``delete`` does); a point-delete path
    that only DECREMENTS df for the victims' terms (shuffling just the
    deleted postings) is possible but would preserve an accumulated
    store's inflated doc_frequency instead of normalizing it — rejected
    so that delete semantics stay "index over the remaining docs".
    """
    ids = doc_ids.select("doc_id").distinct()
    term_freq = old.term_freq.join(ids, "doc_id", "left_anti").select(
        "term", "corpus_name", "doc_id", "doc_title", "term_frequency"
    )
    doc_info = old.doc_info.join(ids, "doc_id", "left_anti").select(
        "doc_id", "doc_title", "doc_length"
    )
    term_doc_freq = (
        term_freq.groupBy("term", "corpus_name")
        .agg(F.count("*").cast("int").alias("doc_frequency"))
        .select("term", "corpus_name", "doc_frequency")
    )
    # The store is single-corpus by construction (the reference hardcodes
    # 'whole_corpus', app/query.py:23, and doc_info carries no corpus
    # column, so per-corpus doc accounting is unrepresentable in this
    # schema); distinct() is deterministic and yields that one name.
    corpus_name = old.corpus_info.select("corpus_name").distinct()
    corpus_info = corpus_name.crossJoin(
        doc_info.agg(
            F.count("*").cast("int").alias("doc_n"),
            F.coalesce(F.sum("doc_length"), F.lit(0))
            .cast("int")
            .alias("total_doc_length"),
        )
    ).select("corpus_name", "doc_n", "total_doc_length")
    return InvertedIndex(term_freq, term_doc_freq, doc_info, corpus_info)


def idempotent_reindex(
    old: InvertedIndex, delta_corpus: DataFrame, corpus_name: str = WHOLE_CORPUS
) -> InvertedIndex:
    """Re-index a delta WITHOUT the reference's double-count quirk:
    delete the delta's documents from the store first, then accumulate the
    freshly built delta — so re-indexing the same corpus N times converges
    to exactly the fresh-build index (proven by the gated
    ``index_rebuild_idempotent`` query and ``tests/test_index.py``).

    This is the ``--rebuild`` CLI path; the default ``index`` path keeps
    the reference's faithful accumulate semantics (``incremental_reindex``).

    Deletion keys on EVERY non-null doc_id in the delta — including docs
    whose text is now blank/whitespace: a re-shipped empty document is
    deleted and (being invalid to index, ``mapper1.py:7-13``) not re-added,
    so "document became empty" removes it from the store, exactly what a
    fresh build over the updated corpus would produce.
    """
    ids = (
        delta_corpus.where(F.col("doc_id").isNotNull())
        .select("doc_id")
        .distinct()
    )
    return incremental_reindex(
        delete_documents(old, ids), delta_corpus, corpus_name
    )
