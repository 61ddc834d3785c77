"""Inverted-index builder — the reference's two MapReduce jobs as ONE Spark job.

Reference semantics being replicated (SURVEY.md §2.4, §3.2):
- document frequency per term   (``app/mapreduce/reducer1.py:33-43``)
- term frequency per (doc,term) (``app/mapreduce/reducer2.py:49-64``)
- document length               (``app/mapreduce/reducer2.py:52,66-70``)
- corpus stats doc_n/total_len  (``app/mapreduce/reducer2.py:80-92``)
- blank/malformed rows skipped  (``app/mapreduce/mapper1.py:7-13``)
- incremental upsert accumulation across runs (``reducer1.py:18-24``,
  ``reducer2.py:32-39``) — including its double-count-on-reindex quirk.

Beyond the reference: ``delete_documents``, and ``idempotent_reindex``
(``--rebuild``), whose delta REPLACES its stored documents. All three
derive ``doc_frequency`` and the corpus stats from ``(term_freq,
doc_info)`` in ONE place, ``_statistics``; only ``incremental_reindex``
sums old and delta stats, since the reference's quirk is that sum.

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
  parquet predicate pushdown / row-group skipping: ``materialize_index``
  partitions ``term_freq`` by ``corpus_name`` and sorts it by ``term``
  within partitions.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens_of
from ..sources.readers import fan_out
from .materialize import materialize, release

WHOLE_CORPUS = "whole_corpus"  # hardcoded corpus name, reference app/query.py:23


@dataclass
class InvertedIndex:
    """The four index tables (logical schemas from ``app/cassandra/schema.cql``)."""

    term_freq: DataFrame      # term, corpus_name, doc_id, doc_title, term_frequency
    term_doc_freq: DataFrame  # term, corpus_name, doc_frequency
    doc_info: DataFrame       # doc_id, doc_title, doc_length
    corpus_info: DataFrame    # corpus_name, doc_n, total_doc_length
    _stats: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    def corpus_stats(self, corpus_name: str = WHOLE_CORPUS) -> tuple[int, int] | None:
        """``(doc_n, total_doc_length)`` of ``corpus_name``, or None when
        ``corpus_info`` has no row for it. One tiny job reads them the first
        time and the result is memoized on this index (for as long as
        ``corpus_info`` is the same relation), so searches fold them into
        their plans as literals, like the reference's collected
        ``lit(N)`` / ``lit(avgdl)`` (``app/query.py:112-135``). More than
        one row for the name raises ValueError: a join on it would
        multiply every score."""
        hit = self._stats.get(corpus_name)
        if hit is None or hit[0] is not self.corpus_info:
            rows = (
                self.corpus_info.where(F.col("corpus_name") == corpus_name)
                .select("doc_n", "total_doc_length")
                .collect()
            )
            if len(rows) > 1:
                raise ValueError(
                    f"corpus_info holds {len(rows)} rows for corpus {corpus_name!r}; expected one"
                )
            hit = self._stats[corpus_name] = (self.corpus_info, tuple(rows[0]) if rows else None)
        return hit[1]

    def unpersist(self) -> "InvertedIndex":
        """Free what ``build_index`` materialized now, not at garbage
        collection; a loaded or derived index holds nothing to free."""
        release(self.term_freq, self.term_doc_freq, self.doc_info, self.corpus_info)
        return self


def _valid_docs(corpus: DataFrame) -> DataFrame:
    # blank-text / malformed guard, reference mapper1.py:7-13
    return corpus.where(
        F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
        & (F.length(F.trim(F.col("text"))) > 0)
    )


def _statistics(
    term_freq: DataFrame, doc_info: DataFrame, corpus_name: str | DataFrame
) -> InvertedIndex:
    """``term_doc_freq`` and ``corpus_info`` from the postings and doc
    lengths (``reducer1.py:33-43``, ``reducer2.py:80-92``). term_freq is
    unique per (term, doc), so rows per term == #docs containing it (the
    ``mapper1.py:20`` dedup, for free). ``corpus_info`` carries
    ``corpus_name`` (a name, or a relation holding the store's one name);
    no documents give ``doc_n = total_doc_length = 0``."""
    term_doc_freq = (
        term_freq.groupBy("term", "corpus_name")
        .agg(F.count("*").cast("int").alias("doc_frequency"))
        .select("term", "corpus_name", "doc_frequency")
    )
    totals = doc_info.agg(
        F.count("*").cast("int").alias("doc_n"),
        F.coalesce(F.sum("doc_length"), F.lit(0)).cast("int").alias("total_doc_length"),
    )
    if isinstance(corpus_name, str):
        corpus_info = totals.withColumn("corpus_name", F.lit(corpus_name))
    else:
        corpus_info = corpus_name.crossJoin(totals)
    corpus_info = corpus_info.select("corpus_name", "doc_n", "total_doc_length")
    return InvertedIndex(term_freq, term_doc_freq, doc_info, corpus_info)


def _without(old: InvertedIndex, docs: DataFrame) -> list[DataFrame]:
    """``old``'s term_freq and doc_info minus ``docs``' doc ids (anti-joins;
    retained rows pass through, not re-aggregated)."""
    ids = docs.select("doc_id")
    return [
        t.join(ids, "doc_id", "left_anti").select(*t.columns) for t in (old.term_freq, old.doc_info)
    ]


def build_index(corpus: DataFrame, corpus_name: str = WHOLE_CORPUS) -> InvertedIndex:
    """corpus(doc_id, doc_title, text) -> the four index tables.

    One shuffle (the term_freq groupBy); everything else derives from
    term_freq without touching the raw text again. ``corpus_info`` carries
    ``corpus_name``.

    ``term_freq`` and ``doc_info`` are computed here, eagerly, each once
    (``materialize``): a consumer that references several index tables in
    ONE plan (the ad-hoc BM25 search reads tf + vocab + doc_info) would
    otherwise re-run the tokenize+shuffle subtree once PER TABLE — the
    per-branch pushed filters make the exchanges non-identical, so
    Catalyst's ReuseExchange cannot dedup them. A checkpoint, not a
    persisted plan: a later ``build_index`` over the same source, after
    its files were rewritten in place, computes from the new text instead
    of being served this one's cached relation. The blocks die with the
    index, or at once through ``index.unpersist()``. Bounds: ``term_freq``
    is one row per distinct (term, doc) — the aggregated index, far
    smaller than the corpus, and it spills to disk; ``doc_info`` is one
    row per document. ``term_doc_freq`` and ``corpus_info`` stay lazy
    aggregates over them (``corpus_info`` is read once per index,
    ``corpus_stats``).
    """
    # fan_out: the tokenize+explode projection is the CPU-heavy stage; make
    # sure it isn't pinned to an under-split scan (no-op on well-split input)
    tokens = tokens_of(fan_out(_valid_docs(corpus)))

    term_freq = materialize(
        tokens.groupBy("term", "doc_id", "doc_title")
        .agg(F.count("*").cast("int").alias("term_frequency"))
        .withColumn("corpus_name", F.lit(corpus_name))
        .select("term", "corpus_name", "doc_id", "doc_title", "term_frequency")
    )
    # sum(term_frequency) per doc == doc_length (duplicates included),
    # reference reducer2.py:52,66-70. Every search over an ad-hoc index
    # reads doc_info; unmaterialized, each would re-aggregate term_freq.
    doc_info = materialize(
        term_freq.groupBy("doc_id", "doc_title").agg(
            F.sum("term_frequency").cast("int").alias("doc_length")
        )
    )
    return _statistics(term_freq, doc_info, corpus_name)


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
    equivalent of per-row CQL upserts; the stats are summed, not
    re-derived, because the quirk is ``doc_n``/``doc_frequency`` adding up.
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
    - ``term_doc_freq`` / ``corpus_info``: derived from the retained
      relations (``_statistics``, as in ``build_index``). This pins
      ``doc_frequency`` to the number of retained ``(term, doc)``
      postings, i.e. distinct retained docs per term — on a store that was
      double-ACCUMULATED, deletion therefore also normalizes the inflated
      frequencies back to posting counts (terms whose every posting is
      deleted disappear entirely, no ghost df); per-posting
      ``term_frequency`` / ``doc_length`` values of untouched documents are
      preserved as stored (their source text is not available to re-read).
    - ``corpus_info`` carries the old store's name, read lazily. The store
      is single-corpus by construction (the reference hardcodes
      'whole_corpus', ``app/query.py:23``; doc_info has no corpus column).

    Scale: the derivation is index-sized (no corpus re-scan), so DELETES
    SHOULD BE BATCHED (one vocab-scale aggregation over many victims, as
    the CLI's multi-id ``delete`` does); a point-delete that DECREMENTS df
    for the victims' terms would keep an accumulated store's inflated
    doc_frequency instead of normalizing it — rejected so that delete
    semantics stay "index over the remaining docs".
    """
    term_freq, doc_info = _without(old, doc_ids)
    name = old.corpus_info.select("corpus_name").distinct()
    return _statistics(term_freq, doc_info, name)


def idempotent_reindex(
    old: InvertedIndex, delta_corpus: DataFrame, corpus_name: str = WHOLE_CORPUS
) -> InvertedIndex:
    """Re-index a delta WITHOUT the reference's double-count quirk: the
    delta's documents REPLACE their stored versions, so re-indexing the
    same corpus N times converges to exactly the fresh-build index (proven
    by the gated ``index_rebuild_idempotent`` query and
    ``tests/test_index.py``). The store's postings and doc lengths lose the
    delta's doc ids, so they are disjoint from the delta's and union with
    them as they are — the store is never re-aggregated — and
    ``_statistics`` derives the rest; ``corpus_info`` carries
    ``corpus_name``.

    This is the ``--rebuild`` CLI path; the default ``index`` path keeps
    the reference's faithful accumulate semantics (``incremental_reindex``).

    Deletion keys on EVERY doc_id in the delta — including docs whose text
    is now blank/whitespace: a re-shipped empty document is removed and
    (being invalid to index, ``mapper1.py:7-13``) not re-added, so
    "document became empty" removes it from the store, exactly what a
    fresh build over the updated corpus would produce.
    """
    delta = build_index(delta_corpus, corpus_name)
    term_freq, doc_info = _without(old, delta_corpus)
    return _statistics(
        term_freq.unionByName(delta.term_freq),
        doc_info.unionByName(delta.doc_info),
        corpus_name,
    )
