"""Declared queries for the dedup operator family (operators/dedup.py),
each with a DuckDB oracle that replays the SAME algorithm in SQL — the
hashes are md5-derived specifically so both engines compute identical
signatures (murmur3/xxhash are engine-specific; md5 is not).

The synthetic documents table contains planted near-duplicates (pairs with
3-gram Jaccard up to ~0.99), so thresholded results are non-trivial.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    char_anchor_pairs,
    exact_dedup_groups,
    jaccard_pairs,
    jaccard_pairs_prefix,
    minhash_dedup,
    shingles_df,
    simhash_pairs,
    simhash_signatures,
    winnowing_pairs,
)
from ..sources.readers import fixture_fingerprint, load_table
from .search_queries import _oracle_tokens


#: per-fixture cache of the shingle-fingerprint injectivity probe
#: (see dedup_ngram_threshold)
_INJECTIVE_CACHE: dict[str, bool] = {}

# Shared oracle CTEs: tokens with position, distinct 3-gram shingles.
_SHINGLES_CTE = f"""
t AS (SELECT doc_id, {_oracle_tokens()} AS toks
      FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM t),
sh0 AS (SELECT doc_id,
               term || ' ' || LEAD(term, 1) OVER w || ' ' || LEAD(term, 2) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
jac AS (SELECT doc1, doc2, inter,
               inter / (s1.n + s2.n - inter) AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = doc1
        JOIN sizes s2 ON s2.doc_id = doc2)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs)


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def dedup_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 most similar pairs by exact 3-gram Jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles_df(docs, n=3)
    # rank on the ROUNDED jaccard (both engines) so the top-25 cut is stable
    return (
        jaccard_pairs(sh)
        .withColumn("jaccard", F.round("jaccard", 6))
        .orderBy(F.col("jaccard").desc(), F.col("doc1").asc(), F.col("doc2").asc())
        .limit(25)
        .select("doc1", "doc2", "inter", "jaccard")
    )


DEDUP_NGRAM_SQL = f"""
WITH {_SHINGLES_CTE}
SELECT doc1, doc2, inter, round(jaccard, 6) AS jaccard
FROM jac
ORDER BY jaccard DESC, doc1 ASC, doc2 ASC
LIMIT 25
"""


def dedup_ngram_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with 3-gram Jaccard >= 0.5 (the near-dup removal set).

    Since round 9 the plan is the prefix-filtered exact form
    (``jaccard_pairs_prefix``): identical output to the naive inverted-index
    join (the oracle below is unchanged), but candidates come from the
    rarest-first document prefixes only, so hot boilerplate shingles no
    longer drive quadratic pair fan-out (the r8 memprobe measured 2.2 GB
    of spill on the unfiltered plan at the 10x fixture)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles_df(docs, n=3)
    # the operator's injectivity probe is an eager job; run it once per
    # fixture and reuse (fingerprint-keyed, same discipline as staged
    # derived data) so repeated plan builds stay cheap
    key = fixture_fingerprint(sf_dir)
    if key not in _INJECTIVE_CACHE:
        _INJECTIVE_CACHE[key] = bool(
            sh.agg(
                (
                    F.countDistinct("shingle")
                    == F.countDistinct(F.xxhash64("shingle"))
                ).alias("ok")
            ).collect()[0]["ok"]
        )
    return jaccard_pairs_prefix(
        sh, threshold=0.5, assume_injective=_INJECTIVE_CACHE[key]
    ).select("doc1", "doc2", F.round("jaccard", 6).alias("jaccard"))


DEDUP_NGRAM_THRESHOLD_SQL = f"""
WITH {_SHINGLES_CTE}
SELECT doc1, doc2, round(jaccard, 6) AS jaccard
FROM jac WHERE jaccard >= 0.5
"""


def dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram Jaccard over the DF-CAPPED shingle universe:
    shingles appearing in more than 4 documents are dropped BEFORE the
    inverted-index join, and Jaccard (intersection AND sizes) is computed
    on the surviving shingle set.

    This is the standard hot-shingle mitigation at corpus scale: the
    inverted index's pair fan-out is quadratic in per-shingle document
    frequency, so one stopword run shared by 1e6 documents would emit 5e11
    candidate pairs. Capping df bounds fan-out at cap²/2 per shingle while
    leaving discriminative shingles untouched. The cap deliberately BITES
    on the fixture (template shingles exceed df 4), and the oracle mirrors
    the capped universe exactly, so the gate checks the approximation's
    semantics, not just the happy path."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles_df(docs, n=3)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= 4)
        .select("shingle")
    )
    capped = sh.join(hot, "shingle", "left_semi")
    return (
        jaccard_pairs(capped)
        .where(F.col("jaccard") >= 0.5)
        .select("doc1", "doc2", "inter", F.round("jaccard", 6).alias("jaccard"))
    )


DEDUP_NGRAM_CAPPED_SQL = f"""
WITH t AS (SELECT doc_id, {_oracle_tokens()} AS toks
      FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM t),
sh0 AS (SELECT doc_id,
               term || ' ' || LEAD(term, 1) OVER w || ' ' || LEAD(term, 2) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
sh_all AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL),
keep AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) <= 4),
sh AS (SELECT sh_all.* FROM sh_all JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
jac AS (SELECT doc1, doc2, inter,
               inter / (s1.n + s2.n - inter) AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = doc1
        JOIN sizes s2 ON s2.doc_id = doc2)
SELECT doc1, doc2, inter, round(jaccard, 6) AS jaccard
FROM jac WHERE jaccard >= 0.5
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 hashes)+LSH(4 bands x 4 rows) candidates, exact-Jaccard
    verified at >= 0.5."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup(docs, threshold=0.5, n=3, num_hashes=16, bands=4)


DEDUP_MINHASH_SQL = f"""
WITH {_SHINGLES_CTE},
seeds AS (SELECT unnest(range(16)) AS seed),
mh AS (
  SELECT doc_id, seed,
         MIN(CAST('0x' || substring(md5(seed || ':' || shingle), 1, 15) AS BIGINT)) AS mh
  FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
),
sig AS (SELECT doc_id, list(mh ORDER BY seed ASC) AS sig FROM mh GROUP BY doc_id),
bandidx AS (SELECT unnest(range(4)) AS band),
bands AS (
  SELECT doc_id, band,
         md5(array_to_string(sig[CAST(band*4+1 AS INTEGER):CAST(band*4+4 AS INTEGER)], ',')) AS key
  FROM sig CROSS JOIN bandidx
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT c.doc1, c.doc2, round(j.jaccard, 6) AS jaccard
FROM cand c JOIN jac j ON j.doc1 = c.doc1 AND j.doc2 = c.doc2
WHERE j.jaccard >= 0.5
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dup pairs at Hamming distance <= 3 (found via
    exact 4-chunk blocking, verified by bit_count)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash_signatures(docs)
    return simhash_pairs(sigs, max_hamming=3)


def dedup_simhash_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over an idf-FILTERED vocabulary: terms
    appearing in more than 20% of documents are dropped before signing.

    Why: the 10x scale probe measured chunk-block candidate growth of ~2.3x
    per corpus doubling for plain SimHash on this template-heavy corpus —
    documents sharing a boilerplate skeleton get correlated signatures from
    exactly the terms that carry no identity. Removing corpus-wide hot
    terms (the deterministic equivalent of idf-weighting the signature)
    decorrelates templates while leaving true near-dup pairs intact; the
    probe measures this variant's candidate growth alongside the plain one.
    The 20% threshold is computed from the corpus itself, so the query is
    scale-invariant; the oracle replays the same filter exactly."""
    from ..operators.dedup import simhash_from_tf

    docs = load_table(spark, sf_dir, "documents")
    from ..functions.text import tokenize
    from ..sources.readers import fan_out

    n_docs = docs.where(F.col("text").isNotNull()).count()
    toks = fan_out(docs).select(
        "doc_id", F.explode(tokenize("text")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("cnt"))
    df_per_term = tf.groupBy("term").agg(F.count("*").alias("df"))
    keep = df_per_term.where(F.col("df") * 5 <= F.lit(n_docs)).select("term")
    sigs = simhash_from_tf(tf.join(keep, "term", "left_semi"))
    return simhash_pairs(sigs, max_hamming=3)


DEDUP_SIMHASH_IDF_SQL = f"""
WITH t AS (SELECT doc_id, {_oracle_tokens()} AS toks
           FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf0 AS (SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
nd AS (SELECT COUNT(*) AS n FROM t),
keep AS (SELECT term FROM tf0 GROUP BY term
         HAVING COUNT(*) * 5 <= (SELECT n FROM nd)),
tf AS (SELECT tf0.* FROM tf0 JOIN keep USING (term)),
th AS (SELECT doc_id, cnt, CAST('0x' || substring(md5(term), 1, 15) AS BIGINT) AS h FROM tf),
bitidx AS (SELECT unnest(range(60)) AS bitpos),
bits AS (
  SELECT doc_id, bitpos,
         SUM(CASE WHEN (h >> CAST(bitpos AS INTEGER)) & 1 = 1 THEN cnt ELSE -cnt END) AS w
  FROM th CROSS JOIN bitidx GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << CAST(bitpos AS INTEGER)) ELSE 0 END) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


DEDUP_SIMHASH_SQL = f"""
WITH t AS (SELECT doc_id, {_oracle_tokens()} AS toks
           FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
th AS (SELECT doc_id, cnt, CAST('0x' || substring(md5(term), 1, 15) AS BIGINT) AS h FROM tf),
bitidx AS (SELECT unnest(range(60)) AS bitpos),
bits AS (
  SELECT doc_id, bitpos,
         SUM(CASE WHEN (h >> CAST(bitpos AS INTEGER)) & 1 = 1 THEN cnt ELSE -cnt END) AS w
  FROM th CROSS JOIN bitidx GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << CAST(bitpos AS INTEGER)) ELSE 0 END) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: transitive closure of the Jaccard>=0.5 pair graph
    via iterative min-label propagation (operators/graph.py). Output is one
    row per clustered doc: its component id (= min doc_id in the cluster,
    the canonical keeper) and the cluster size."""
    from pyspark.sql import Window

    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(shingles_df(docs, n=3)).where(F.col("jaccard") >= 0.5)
    comp = connected_components(pairs)
    size_w = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        F.count("*").over(size_w).alias("cluster_size"),
    )


# The oracle computes the same transitive closure with a recursive CTE:
# reach(node,label) enumerates every (node, reachable id) pair, and
# min(label) per node is exactly the fixpoint min-label propagation reaches.
DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE {_SHINGLES_CTE},
e0 AS (SELECT doc1 AS src, doc2 AS dst FROM jac WHERE jaccard >= 0.5),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
),
comp AS (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node)
SELECT doc_id, component,
       count(*) OVER (PARTITION BY component) AS cluster_size
FROM comp
"""


# ---------------------------------------------------------------------------
# Canonical-document dedup materialization
# ---------------------------------------------------------------------------

def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup END PRODUCT: per language, how many documents survive after
    collapsing every near-duplicate cluster (3-gram Jaccard >= 0.5,
    transitive closure) to its canonical member (min doc_id). Composition:
    connected components (operators/graph.py) → anti-join the non-canonical
    members out of the corpus → per-language census. This is the exact
    materialization step an LLM-corpus dedup pipeline ships."""
    from ..operators.dedup import jaccard_pairs
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(shingles_df(docs, n=3)).where(F.col("jaccard") >= 0.5)
    comp = connected_components(pairs)
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return (
        docs.join(losers, "doc_id", "left_anti")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("lang")
    )


DEDUP_CANONICAL_SQL = f"""
WITH RECURSIVE
t AS (SELECT doc_id, {_oracle_tokens()} AS toks
      FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM t),
sh0 AS (SELECT doc_id,
               term || ' ' || LEAD(term, 1) OVER w || ' ' || LEAD(term, 2) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
jac AS (SELECT doc1, doc2, inter / (s1.n + s2.n - inter) AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = doc1
        JOIN sizes s2 ON s2.doc_id = doc2),
e0 AS (SELECT doc1 AS src, doc2 AS dst FROM jac WHERE jaccard >= 0.5),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
losers AS (SELECT node AS doc_id FROM comp WHERE node <> component)
SELECT lang, COUNT(*) AS n_docs_kept,
       CAST(SUM(n_chars) AS BIGINT) AS chars_kept
FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM losers)
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Normalized-prefix dedup (cheap first-pass near-dup filter)
# ---------------------------------------------------------------------------

def dedup_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs sharing the same normalized 24-char prefix (lowercase,
    alphanumerics only) — the O(n) first-pass dedup real pipelines run
    before the expensive MinHash stage (operators/dedup.py). One groupBy on
    the md5 of the prefix; canonical doc = min doc_id per group; only
    multi-doc groups survive."""
    docs = load_table(spark, sf_dir, "documents")
    pfx = F.md5(
        F.substring(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), 1, 24
        )
    )
    return (
        docs.select(pfx.alias("prefix_hash"), "doc_id")
        .groupBy("prefix_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_id"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), "canonical_id")
    )


DEDUP_PREFIX_SQL = """
SELECT md5(substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24))
         AS prefix_hash,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_id
FROM documents
GROUP BY prefix_hash
HAVING COUNT(*) > 1
ORDER BY n_docs DESC, canonical_id
"""


# incremental dedup (``dedup_incremental_batch``): the daily-drop shape.
# A new batch arrives; dedupe it against the already-ingested corpus
# WITHOUT rescanning/re-pairing history: distinct digests of history,
# left-anti join the batch, then keeper-per-digest inside the batch. At
# scale the history side is a digest-only projection (~40 B/row) and the
# join is a shuffle hash join on the digest — never a pair join.
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedupe a new document batch (``doc_id % 10 >= 8``) against the
    historical corpus (``doc_id % 10 < 8``) by exact content digest.

    History contributes ONLY ``SELECT DISTINCT md5(text)`` — a digest
    projection that prunes every other column at the scan. The batch is
    left-anti joined on the digest (shuffle hash join; the batch side is
    small, history large — at 100 TB this is the shape where the batch
    could even be broadcast if it fits), then the surviving batch rows are
    reduced to one keeper per digest with the duplicate count."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    hist_digests = (
        docs.where(F.col("doc_id") % 10 < 8)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    batch = docs.where(F.col("doc_id") % 10 >= 8).select(
        "doc_id", F.md5("text").alias("digest")
    )
    fresh = batch.join(hist_digests, "digest", "left_anti")
    return fresh.groupBy("digest").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        (F.count("*") - F.lit(1)).alias("n_batch_dups"),
    )


DEDUP_INCREMENTAL_SQL = """
WITH hist AS (
  SELECT DISTINCT md5(text) AS digest
  FROM documents WHERE text IS NOT NULL AND doc_id % 10 < 8
),
batch AS (
  SELECT doc_id, md5(text) AS digest
  FROM documents WHERE text IS NOT NULL AND doc_id % 10 >= 8
)
SELECT b.digest,
       MIN(b.doc_id) AS keeper_doc_id,
       COUNT(*) - 1 AS n_batch_dups
FROM batch b
ANTI JOIN hist h ON b.digest = h.digest
GROUP BY b.digest
"""


# --------------------------------------------------------------------------
# Containment dedup (asymmetric near-dup)
# --------------------------------------------------------------------------

#: report pairs where either direction's containment reaches this
_C_THRESHOLD = 0.8

#: hot-shingle document-frequency cap (same bound as dedup_ngram_capped)
_DF_CAP = 4


# containment dedup (``dedup_containment``): asymmetric near-dup —
# containment c(A in B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|
# catches a short document EMBEDDED in a longer one (quotes, excerpts,
# page-wrappers), which symmetric Jaccard misses because the union is
# dominated by the longer side. Same df-capped inverted-index join as
# ``dedup_ngram_capped`` (the fan-out bound); one extra projection derives
# both directions' scores from the one intersection count.
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered pairs with max-direction shingle containment >= 0.8 over
    the df-capped 3-gram universe.

    One inverted-index join produces the intersection count; both
    directions' scores (inter/n1, inter/n2) are derived from it by
    projection — no second join. The df cap bounds the quadratic
    per-shingle fan-out exactly as in dedup_ngram_capped (cap²/2 pairs per
    shingle, worst case)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles_df(docs, n=3)
    keep = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= _DF_CAP)
        .select("shingle")
    )
    capped = sh.join(keep, "shingle", "left_semi")
    a = capped.select(F.col("doc_id").alias("doc1"), "shingle")
    b = capped.select(F.col("doc_id").alias("doc2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("inter"))
    )
    sizes = capped.groupBy("doc_id").agg(F.count("*").alias("n"))
    c1 = F.col("inter") / F.col("n1")
    c2 = F.col("inter") / F.col("n2")
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1")), "doc1")
        .join(sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2")), "doc2")
        .where(F.greatest(c1, c2) >= _C_THRESHOLD)
        .select(
            "doc1",
            "doc2",
            "inter",
            "n1",
            "n2",
            F.round(c1, 6).alias("contain_1_in_2"),
            F.round(c2, 6).alias("contain_2_in_1"),
        )
        .orderBy("doc1", "doc2")
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH t AS (SELECT doc_id, {_oracle_tokens()} AS toks
      FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM t),
sh0 AS (SELECT doc_id,
               term || ' ' || LEAD(term, 1) OVER w || ' ' || LEAD(term, 2) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
sh_all AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL),
keep AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) <= {_DF_CAP}),
sh AS (SELECT sh_all.* FROM sh_all JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc1, doc2, inter, s1.n AS n1, s2.n AS n2,
       round(inter / s1.n, 6) AS contain_1_in_2,
       round(inter / s2.n, 6) AS contain_2_in_1
FROM inter
JOIN sizes s1 ON s1.doc_id = doc1
JOIN sizes s2 ON s2.doc_id = doc2
WHERE greatest(inter / s1.n, inter / s2.n) >= {_C_THRESHOLD}
ORDER BY doc1, doc2
"""


# exact-substring dedup (``docs_exact_substring_dedup``): the
# ExactSubstr signal of Lee et al. 2022 via content-defined anchor
# sampling — hash every 40-char window, keep windows whose hash is
# 0 mod 20 (selection depends only on bytes, so shared substrings pick
# identical anchors at any offset), join on anchor equality.
# Complements the token-Jaccard family: a licence block shared by two
# long, otherwise-distinct documents is invisible to a 0.5-Jaccard
# gate but lights up here.
#
# Both hash-gated: cosine rounded to 6 decimals pre-threshold (the
# similarity-family discipline), anchors are md5-derived integers both
# engines compute bit-for-bit.
def docs_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing verbatim >=40-char runs, detected through
    content-defined anchor windows (width 40, content gate 1/20)."""
    docs = load_table(spark, sf_dir, "documents")
    return char_anchor_pairs(docs, width=40, stride=20)


EXACT_SUBSTRING_SQL = """
WITH grams AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substring(md5(substring(text, CAST(p AS INTEGER), 40)), 1, 15) AS BIGINT) AS gh
  FROM documents, unnest(range(1, length(text) - 38)) AS t(p)
  WHERE length(text) >= 40
),
anchors AS (SELECT doc_id, gh FROM grams WHERE gh % 20 = 0)
SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared_anchors
FROM anchors a JOIN anchors b ON a.gh = b.gh AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def docs_winnowing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint pairs: min-hash of every 20 consecutive
    40-char window hashes — GUARANTEED detection of shared runs >= 59
    chars, the certainty counterpart of the 1/20 content gate."""
    docs = load_table(spark, sf_dir, "documents")
    return winnowing_pairs(docs, width=40, window=20)


WINNOWING_SQL = """
WITH gh AS (
  SELECT doc_id,
         list_transform(range(1, length(text) - 38),
           p -> CAST('0x' || substring(md5(substring(text, CAST(p AS INTEGER), 40)), 1, 15) AS BIGINT)) AS hs
  FROM documents WHERE length(text) >= 40
),
fps AS (
  SELECT DISTINCT doc_id, fp
  FROM gh, unnest(list_distinct(list_transform(
         range(1, GREATEST(len(hs) - 19, 1) + 1),
         j -> list_min(hs[CAST(j AS INTEGER):CAST(j + 19 AS INTEGER)])))) AS t(fp)
)
SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared_fingerprints
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_cluster_components": dedup_cluster_components,
    "dedup_ngram_topk": dedup_ngram_topk,
    "dedup_ngram_threshold": dedup_ngram_threshold,
    "dedup_ngram_capped": dedup_ngram_capped,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_idf": dedup_simhash_idf,
    "dedup_keep_canonical": dedup_keep_canonical,
    "dedup_prefix_groups": dedup_prefix_groups,
    "dedup_incremental_batch": dedup_incremental_batch,
    "dedup_containment": dedup_containment,
    "docs_exact_substring_dedup": docs_exact_substring_dedup,
    "docs_winnowing_dedup": docs_winnowing_dedup,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_cluster_components": DEDUP_COMPONENTS_SQL,
    "dedup_ngram_topk": DEDUP_NGRAM_SQL,
    "dedup_ngram_threshold": DEDUP_NGRAM_THRESHOLD_SQL,
    "dedup_ngram_capped": DEDUP_NGRAM_CAPPED_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_simhash_idf": DEDUP_SIMHASH_IDF_SQL,
    "dedup_keep_canonical": DEDUP_CANONICAL_SQL,
    "dedup_prefix_groups": DEDUP_PREFIX_SQL,
    "dedup_incremental_batch": DEDUP_INCREMENTAL_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
    "docs_exact_substring_dedup": EXACT_SUBSTRING_SQL,
    "docs_winnowing_dedup": WINNOWING_SQL,
}
