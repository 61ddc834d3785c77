"""Declared queries for the text-analysis operator family (functions/text.py)
and the training-data preparation built on it: language ID, quality
scoring, token counting, document fingerprinting, corpus roll-ups,
chunking, mix balancing, contamination checks, sampling and packing — the
text half of the LLM-data-pipeline extensions (SURVEY.md §7.6; no
reference counterpart).

Oracle notes: the synthetic documents are ASCII, so the DuckDB oracles use
the ASCII token pattern ``[a-z0-9_']+`` — semantically identical here to the
Spark side's Unicode pattern (golden-tested separately for Unicode parity in
tests/test_tokenizer.py). Double arithmetic keeps a fixed operation order on
both sides and rounds to 6 decimals before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import (
    bpe_ish_token_count,
    doc_fingerprint,
    language_id,
    quality_score,
    tokenize,
    whitespace_token_count,
)
from ..operators.chunking import chunk_documents
from ..operators.dedup import hash64, shingles_df
from ..operators.materialize import materialize
from ..operators.ranking import NtileSpec, with_global_ntiles
from ..sources.readers import load_table
from .search_queries import _oracle_tokens


_TOKS_CTE = f"""
t AS (SELECT doc_id, lang, source, n_chars,
             {_oracle_tokens()} AS toks, text
      FROM documents WHERE text IS NOT NULL)
"""


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword-argmax language guess per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id("text").alias("lang_guess"))


TEXT_LANGUAGE_ID_SQL = f"""
WITH {_TOKS_CTE},
h AS (
  SELECT doc_id,
         len(list_filter(toks, t -> t IN ('the','and','of','to','is'))) AS en,
         len(list_filter(toks, t -> t IN ('el','la','de','que','los'))) AS es,
         len(list_filter(toks, t -> t IN ('der','die','und','das','ist'))) AS de,
         len(list_filter(toks, t -> t IN ('le','la','et','les','des'))) AS fr
  FROM t)
SELECT doc_id,
       CASE WHEN GREATEST(en, es, de, fr) = 0 THEN 'und'
            WHEN en = GREATEST(en, es, de, fr) THEN 'en'
            WHEN es = GREATEST(en, es, de, fr) THEN 'es'
            WHEN de = GREATEST(en, es, de, fr) THEN 'de'
            ELSE 'fr' END AS lang_guess
FROM h
"""


def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score in [0,1] per document (length band + alpha
    ratio + stopword presence), rounded to 6 decimals."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(quality_score("text"), 6).alias("quality")
    )


TEXT_QUALITY_SQL = f"""
WITH {_TOKS_CTE},
m AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
         CAST(len(list_filter(toks,
              t -> t IN ('the','and','of','to','is','a','in'))) AS DOUBLE) AS stop_hits
  FROM t)
SELECT doc_id,
       round(
         (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
               WHEN n > 0 THEN 0.5 ELSE 0.0 END) * 0.4
         + (CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END) * 0.3
         + (CASE WHEN n_tok > 0 THEN LEAST(1.0, stop_hits * 10.0 / n_tok)
                 ELSE 0.0 END) * 0.3,
         6) AS quality
FROM m
"""


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish piece count per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        whitespace_token_count("text").alias("ws_tokens"),
        bpe_ish_token_count("text").alias("bpe_tokens"),
    )


TEXT_TOKEN_COUNTS_SQL = """
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_tokens
FROM documents
"""


def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rolling-hash fingerprint of each document's token
    stream (portable: pure integer fold, identical in any engine)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))


TEXT_FINGERPRINT_SQL = f"""
WITH {_TOKS_CTE}
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(toks,
             t -> CAST(length(t) AS BIGINT) * 131 + CAST(ascii(t) AS BIGINT))),
         (a, x) -> (a * 31 + x) % 2147483647) AS fingerprint
FROM t
"""


def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus roll-up by (lang, source): doc count, char stats, token sum —
    the profiling pass a training-data pipeline runs before filtering."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
            F.sum(F.size(F.split(F.lower("text"), r"[^a-z0-9_']+"))).alias(
                "approx_tokens"
            ),
        )
        .orderBy("lang", "source")
    )


TEXT_CORPUS_STATS_SQL = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       round(AVG(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
       CAST(SUM(len(string_split_regex(lower(text), '[^a-z0-9_'']+'))) AS BIGINT) AS approx_tokens
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""


def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test split — the assignment every training-data
    pipeline needs to be reproducible across engines, runs, and re-shards.

    Assignment hashes the *stable document id*, never the row order or
    partition id (``rand()``/``randomSplit`` would re-deal on every re-read
    of a 100 TB corpus). The portable hash is the first two hex chars of
    md5(doc_id): < 'cd' (205/256) -> train, else test — a fixed ~80/20 cut
    that DuckDB reproduces byte-for-byte. Pure per-row projection: no
    shuffle, fully pushdown-friendly, scales linearly.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.select(
        "doc_id",
        F.when(bucket < "cd", "train").otherwise("test").alias("split"),
        "n_chars",
    )


SPLIT_TRAIN_TEST_SQL = """
SELECT doc_id,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
            THEN 'train' ELSE 'test' END AS split,
       n_chars
FROM documents
"""


def token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum/budget selection: per language, take the highest-quality
    documents until a 10k-token budget is filled — the "fill the training mix
    by quality under a token budget" step of a data pipeline.

    Shape: one window (partition lang, order quality desc / doc_id asc for a
    TOTAL order — ties would otherwise make the cumulative range-frame
    nondeterministic) computing a running token sum; filter cum <= budget.
    One shuffle on lang; at 100 TB partition-by-language parallelizes per
    language, and a skewed mega-language would move to a two-pass
    (per-bucket presum + offset) variant of the same plan.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        F.round(quality_score("text"), 6).alias("quality"),
        bpe_ish_token_count("text").alias("bpe_tokens"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return scored.withColumn(
        "cum_tokens", F.sum("bpe_tokens").over(w)
    ).where(F.col("cum_tokens") <= 10000)


TOKEN_BUDGET_PACK_SQL = f"""
WITH {_TOKS_CTE},
m AS (
  SELECT doc_id, lang,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
         CAST(len(list_filter(toks,
              t -> t IN ('the','and','of','to','is','a','in'))) AS DOUBLE) AS stop_hits,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_tokens
  FROM t),
s AS (
  SELECT doc_id, lang,
         round(
           (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                 WHEN n > 0 THEN 0.5 ELSE 0.0 END) * 0.4
           + (CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END) * 0.3
           + (CASE WHEN n_tok > 0 THEN LEAST(1.0, stop_hits * 10.0 / n_tok)
                   ELSE 0.0 END) * 0.3,
           6) AS quality,
         bpe_tokens
  FROM m),
c AS (
  SELECT doc_id, lang, quality, bpe_tokens,
         CAST(SUM(bpe_tokens) OVER (PARTITION BY lang
                               ORDER BY quality DESC, doc_id ASC)
              AS BIGINT) AS cum_tokens
  FROM s)
SELECT doc_id, lang, quality, bpe_tokens, cum_tokens
FROM c WHERE cum_tokens <= 10000
"""


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data preparation flow as ONE declarative plan:
    quality-filter -> exact-dedup (keep lowest doc_id per text digest) ->
    deterministic train/test split -> per-(lang, split) rollup.

    Composes the individually-gated pieces (quality_score, md5 digest dedup,
    portable hash split) so the gate also proves they compose. Plan shape:
    scan -> project (quality, digest, split all computed in one pass) ->
    window on digest (dedup) -> final aggregation. Two shuffles total; no
    intermediate materialization — Catalyst pipelines the whole flow, which
    is the point of expressing a pipeline as a plan instead of stages with
    writes in between.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        F.round(quality_score("text"), 6).alias("quality"),
        whitespace_token_count("text").alias("ws_tokens"),
        F.md5("text").alias("digest"),
    ).where(F.col("quality") >= 0.4)
    w = Window.partitionBy("digest").orderBy(F.col("doc_id").asc())
    deduped = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd", "train"
    ).otherwise("test")
    return (
        deduped.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws_tokens").alias("total_tokens"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
        .orderBy("lang", "split")
    )


PIPELINE_CLEAN_SQL = f"""
WITH {_TOKS_CTE},
m AS (
  SELECT doc_id, lang,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
         CAST(len(list_filter(toks,
              t -> t IN ('the','and','of','to','is','a','in'))) AS DOUBLE) AS stop_hits,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ws_tokens,
         md5(text) AS digest
  FROM t),
s AS (
  SELECT doc_id, lang, ws_tokens, digest,
         round(
           (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                 WHEN n > 0 THEN 0.5 ELSE 0.0 END) * 0.4
           + (CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END) * 0.3
           + (CASE WHEN n_tok > 0 THEN LEAST(1.0, stop_hits * 10.0 / n_tok)
                   ELSE 0.0 END) * 0.3,
           6) AS quality
  FROM m),
f AS (SELECT * FROM s WHERE quality >= 0.4),
d AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id ASC) AS rn
  FROM f),
k AS (
  SELECT doc_id, lang, ws_tokens, quality,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
              THEN 'train' ELSE 'test' END AS split
  FROM d WHERE rn = 1)
SELECT lang, split, COUNT(*) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_tokens,
       round(AVG(quality), 6) AS avg_quality
FROM k
GROUP BY lang, split
ORDER BY lang, split
"""


def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams by document frequency — corpus phrase profiling (the
    n-gram census a data-quality pass runs to spot boilerplate). Reuses the
    dedup shingler at n=2 (distinct per doc -> counting gives document
    frequency, robust against one spammy doc); one aggregation + top-k."""
    from ..operators.dedup import shingles_df

    docs = load_table(spark, sf_dir, "documents")
    return (
        shingles_df(docs, n=2)
        .groupBy("shingle")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("shingle").asc())
        .limit(20)
    )


TEXT_BIGRAM_SQL = f"""
WITH t AS (SELECT doc_id, {_oracle_tokens()} AS toks
           FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM t),
sh0 AS (SELECT doc_id, term || ' ' || LEAD(term, 1) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL)
SELECT shingle, COUNT(*) AS doc_freq
FROM sh GROUP BY shingle
ORDER BY doc_freq DESC, shingle ASC
LIMIT 20
"""


def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM plausibility scoring — the shape of perplexity-based
    quality filtering: train bigram statistics ON the corpus, score every
    document by its bigrams' conditional probabilities P(w2|w1) =
    count(w1 w2) / count(w1), summed per document.

    Determinism: probabilities are ratios of exact BIGINT counts; IEEE
    division and multiplication are correctly rounded (identical on both
    engines, unlike transcendental log whose libm vs JVM last-ulp can
    differ), so each bigram's micro-probability rounds identically and the
    per-doc BIGINT sum commutes. Scale: bigram stats shuffle once on the
    bigram key; the scoring join keys on the same bigram — at 100 TB the
    stats table is Zipf-small relative to the corpus and the join sides
    co-partition."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # toks feeds both uni and the bigrams; big feeds both the stats
    # aggregation and the scoring join. Bound: one row per token each.
    toks = materialize(
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
        ).where(F.col("tok") != "")
    )
    by_doc = W.partitionBy("doc_id").orderBy("pos")
    big = materialize(
        toks.withColumn("w2", F.lead("tok").over(by_doc))
        .where(F.col("w2").isNotNull())
        .select("doc_id", F.col("tok").alias("w1"), "w2")
    )
    bg_counts = big.groupBy("w1", "w2").agg(F.count("*").alias("n_bg"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("n_uni"))
    prob_micros = F.round(
        F.lit(1e6)
        * (F.col("n_bg").cast("double") / F.col("n_uni").cast("double"))
    ).cast("long")
    scored = (
        big.join(bg_counts, ["w1", "w2"])
        .join(uni.withColumnRenamed("tok", "w1"), "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(prob_micros).alias("score_micros"),
        )
    )
    return scored.orderBy("doc_id")


TEXT_BIGRAM_LM_SQL = """
WITH raw AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents),
toks AS (SELECT doc_id, tok, pos FROM raw WHERE tok <> ''),
big AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id, tok AS w1,
           LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM toks) t
  WHERE w2 IS NOT NULL),
bg AS (SELECT w1, w2, COUNT(*) AS n_bg FROM big GROUP BY w1, w2),
uni AS (SELECT tok AS w1, COUNT(*) AS n_uni FROM toks GROUP BY tok)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(CAST(round(1e6 * (CAST(n_bg AS DOUBLE)
                                  / CAST(n_uni AS DOUBLE))) AS BIGINT))
            AS BIGINT) AS score_micros
FROM big JOIN bg USING (w1, w2) JOIN uni USING (w1)
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Corpus mix balancing
# ---------------------------------------------------------------------------

def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling weights that would rebalance the corpus to a uniform
    language mix: weight(lang) = target_frac / actual_frac =
    total / (n_langs * n_docs_lang). All inputs are exact integers; the
    single float division runs identically on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = W.partitionBy()
    return per_lang.select(
        "lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(tot).cast("double"),
            6,
        ).alias("actual_frac"),
        F.round(
            F.sum("n_docs").over(tot).cast("double")
            / (F.count("*").over(tot) * F.col("n_docs")).cast("double"),
            6,
        ).alias("mix_weight"),
    ).orderBy("lang")


DOMAIN_MIX_SQL = """
WITH per_lang AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang)
SELECT lang, n_docs,
       round(CAST(n_docs AS DOUBLE)
             / CAST(CAST(SUM(n_docs) OVER () AS BIGINT) AS DOUBLE), 6)
         AS actual_frac,
       round(CAST(CAST(SUM(n_docs) OVER () AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) OVER () * n_docs AS DOUBLE), 6)
         AS mix_weight
FROM per_lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction pass: strip digit runs from every document (the stand-in
    for PII patterns — the plumbing is the point: JVM-side regexp_replace
    inside the scan projection, no UDF), reporting per-language how many
    characters were removed. Counting via length-difference keeps the
    check integer-exact."""
    docs = load_table(spark, sf_dir, "documents")
    scrubbed_len = F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text") - scrubbed_len).alias("chars_removed"),
            F.sum(
                F.when(F.length("text") - scrubbed_len > 0, 1).otherwise(0)
            ).alias("docs_touched"),
        )
        .orderBy("lang")
    )


PII_SCRUB_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
            AS BIGINT) AS chars_removed,
       CAST(SUM(CASE WHEN length(text)
                          - length(regexp_replace(text, '[0-9]', '', 'g')) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched
FROM documents
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Train/test contamination detection
# ---------------------------------------------------------------------------

def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination scan: split the corpus train/test with the
    portable md5 rule (same as split_train_test), shingle both halves into
    5-grams, and report the test docs sharing the most 5-grams with any
    train doc. The shingle equi-join is the scalable core — the same
    bounded-fanout discipline as the LSH band join; at 100 TB one would
    additionally drop shingles above a document-frequency cap to curb
    stop-phrase skew (cf. tfidf_doc_similarity's df<=20 cap)."""
    docs = load_table(spark, sf_dir, "documents")
    is_train = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd"
    sh = shingles_df(docs, n=5)
    split = docs.select("doc_id", is_train.alias("is_train"))
    # Tokenize ONCE, shuffle ONCE (r14, guide §2.4): filtering train/test
    # BEFORE the self-join gave each branch its own tokenize+shingle
    # subtree and its own exchange — the corpus was tokenized twice per
    # run (filter pushdown re-splits the branches even under a shared
    # repartition, so exchange reuse alone cannot fix it). The labeled
    # shingle frame is therefore computed once straight off the
    # (shuffle-free) broadcast split join: both branch filters then read
    # it, so the heavy projection runs once and the only data-sized
    # exchanges left are the join's two branch shuffles (which existed
    # before). Bound: one row per (doc, shingle).
    lab = materialize(sh.join(split, "doc_id"))
    train = lab.where(F.col("is_train")).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    test = lab.where(~F.col("is_train")).select(
        F.col("doc_id").alias("test_doc"), "shingle"
    )
    return (
        test.join(train, "shingle")
        .groupBy("test_doc")
        .agg(
            F.countDistinct("train_doc").alias("n_train_docs"),
            F.countDistinct("shingle").alias("n_shared_shingles"),
        )
        .orderBy(F.desc("n_shared_shingles"), F.asc("test_doc"))
        .limit(50)
    )


CONTAMINATION_SQL = f"""
WITH t AS (SELECT doc_id, {_oracle_tokens()} AS toks
           FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, unnest(toks) AS term,
               generate_subscripts(toks, 1) AS pos FROM t),
sh0 AS (SELECT doc_id,
               term || ' ' || LEAD(term, 1) OVER w || ' ' || LEAD(term, 2) OVER w
                    || ' ' || LEAD(term, 3) OVER w || ' ' || LEAD(term, 4) OVER w
                 AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL),
lab AS (SELECT sh.doc_id, shingle,
               substring(md5(CAST(sh.doc_id AS VARCHAR)), 1, 2) < 'cd' AS is_train
        FROM sh)
SELECT te.doc_id AS test_doc,
       COUNT(DISTINCT tr.doc_id) AS n_train_docs,
       COUNT(DISTINCT te.shingle) AS n_shared_shingles
FROM lab te JOIN lab tr ON te.shingle = tr.shingle
WHERE NOT te.is_train AND tr.is_train
GROUP BY te.doc_id
ORDER BY n_shared_shingles DESC, test_doc ASC
LIMIT 50
"""


# ---------------------------------------------------------------------------
# Document chunking (fixed window, overlapping stride)
# ---------------------------------------------------------------------------

def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-token chunks every 24 tokens (8-token overlap) over the corpus.
    The explode fans out partition-locally — no shuffle at all in this plan;
    the md5 chunk hash is the portable unit for downstream chunk dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, window=32, stride=24).orderBy(
        "doc_id", "chunk_id"
    )


DOC_CHUNK_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(range(1, len(toks) + 1, 24)) AS start
  FROM t)
SELECT doc_id,
       CAST((start - 1) / 24 AS BIGINT) AS chunk_id,
       CAST(least(32, n - start + 1) AS BIGINT) AS chunk_len,
       md5(array_to_string(toks[start:start+31], ' ')) AS chunk_hash
FROM s
ORDER BY doc_id, chunk_id
"""


# ---------------------------------------------------------------------------
# Repetition / diversity quality stats (Gopher-style filters)
# ---------------------------------------------------------------------------

def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals used by quality filters: total
    tokens, distinct-token ratio, most-frequent-token fraction, and the
    resulting keep/drop flag. Two hash aggregations, both partial+final;
    the ratios divide exact BIGINT counts so the doubles are identical on
    both engines."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    per = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("max_c"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias(
                "distinct_ratio"
            ),
            F.round(F.col("max_c") / F.col("n_tokens"), 6).alias(
                "top_token_frac"
            ),
            (F.col("max_c") / F.col("n_tokens") > 0.1).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


TEXT_REPETITION_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
per AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM tok WHERE tok <> ''
  GROUP BY doc_id, tok),
s AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct, MAX(c) AS max_c
  FROM per GROUP BY doc_id)
SELECT doc_id, n_tokens,
       round(n_distinct / n_tokens, 6) AS distinct_ratio,
       round(max_c / n_tokens, 6) AS top_token_frac,
       (max_c / n_tokens > 0.1) AS is_repetitive
FROM s
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Class rebalancing (deterministic per-label downsampling)
# ---------------------------------------------------------------------------

def class_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample every embedding label to the minority-class count using a
    deterministic hash order (md5 of vec_id) — the class-balancing step
    before training a probe/classifier. The min count is a single-row
    aggregate over the tiny per-label counts, broadcast back; the
    row_number window shuffles once on label. At scale, labels are few and
    rows per label are large — the window is the right tool because each
    partition is processed streamingly, no per-label collect."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    counts = emb.groupBy("label").agg(F.count("*").alias("n"))
    min_n = counts.agg(F.min("n").alias("min_n"))
    rk = W.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        emb.withColumn("rk", F.row_number().over(rk))
        .crossJoin(F.broadcast(min_n))
        .where(F.col("rk") <= F.col("min_n"))
        .select("label", "vec_id")
        .orderBy("label", "vec_id")
    )


CLASS_REBALANCE_SQL = """
WITH counts AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
ranked AS (
  SELECT label, vec_id,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           AS rk
  FROM embeddings)
SELECT label, vec_id FROM ranked
WHERE rk <= (SELECT MIN(n) FROM counts)
ORDER BY label, vec_id
"""


# O2/P1  corpus subsetting (reference prepare_data.py:16-17 sample+limit;
# expressed as a deterministic hash-sample so both engines agree —
# seeded Bernoulli sampling is partitioning-dependent in Spark and not
# reproducible in DuckDB, so the *operator* keeps reference semantics in
# prepare.py while the *gate query* pins a portable predicate)
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


def top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms by document frequency per language (ties broken
    alphabetically) — the vocabulary census a corpus pipeline runs per
    stratum. Tokenize → per-(lang, term) distinct-doc counts → rank window
    over the aggregated (small) relation. The window rides the aggregate,
    never the token stream."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "doc_id", F.explode(tokenize("text")).alias("term")
    ).distinct()
    df_by_lang = toks.groupBy("lang", "term").agg(
        F.count("*").alias("n_docs")
    )
    w = W.partitionBy("lang").orderBy(F.desc("n_docs"), "term")
    return (
        df_by_lang.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("lang", "rnk", "term", "n_docs")
    )


TOP_TERMS_SQL = f"""
WITH toks AS (
  SELECT DISTINCT lang, doc_id,
         unnest({_oracle_tokens()}) AS term
  FROM documents),
df AS (
  SELECT lang, term, COUNT(*) AS n_docs FROM toks GROUP BY lang, term),
ranked AS (
  SELECT lang, term, n_docs,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_docs DESC, term) AS rnk
  FROM df)
SELECT lang, CAST(rnk AS BIGINT) AS rnk, term, CAST(n_docs AS BIGINT) AS n_docs
FROM ranked WHERE rnk <= 5
"""


# per-document quality in [0,1], identical to TEXT_QUALITY_SQL's formula
# (text_queries.py) — fixed operation order keeps it bit-equal cross-engine
_QUALITY_CTE = f"""
t AS (SELECT doc_id, lang, source,
             {_oracle_tokens()} AS toks, text
      FROM documents WHERE text IS NOT NULL),
m AS (
  SELECT doc_id, lang, source, text,
         round(
           (CASE WHEN CAST(length(text) AS DOUBLE) >= 100
                  AND CAST(length(text) AS DOUBLE) <= 20000 THEN 1.0
                 WHEN length(text) > 0 THEN 0.5 ELSE 0.0 END) * 0.4
           + (CASE WHEN length(text) > 0
                   THEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                        / CAST(length(text) AS DOUBLE)
                   ELSE 0.0 END) * 0.3
           + (CASE WHEN len(toks) > 0
                   THEN LEAST(1.0, CAST(len(list_filter(toks,
                        x -> x IN ('the','and','of','to','is','a','in'))) AS DOUBLE)
                        * 10.0 / CAST(len(toks) AS DOUBLE))
                   ELSE 0.0 END) * 0.3,
           6) AS quality
  FROM t)
"""


def doc_quality_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-quartile corpus quality profile: documents cut into 4 positional
    quality quartiles (best = 1), then per-quartile doc counts and quality
    bounds — the readout that decides curriculum/sampling weights.

    Exercises ``operators.ranking.with_global_ntiles`` on a DOUBLE metric:
    the ascending long key is the negated micro-unit quality (quality is
    rounded to 6 decimals, so ``round(q*1e6)`` is an exact integer and the
    key is strictly monotone with the quality order). No unpartitioned
    window; the oracle uses plain NTILE."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    scored = docs.select(
        "doc_id", F.round(quality_score("text"), 6).alias("quality")
    )
    tiled = with_global_ntiles(
        scored,
        [
            # quality clusters on the formula's band steps -> composite
            # boundaries keep buckets balanced under heavy ties
            NtileSpec(
                "quartile",
                -F.round(F.col("quality") * 1e6),
                [F.col("quality").desc(), F.col("doc_id").asc()],
                sub_key=F.col("doc_id"),
            )
        ],
        n_tiles=4,
    )
    return (
        tiled.groupBy("quartile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
        .orderBy("quartile")
    )


DOC_QUALITY_QUARTILES_SQL = f"""
WITH {_QUALITY_CTE},
d AS (
  SELECT doc_id, quality,
         NTILE(4) OVER (ORDER BY quality DESC, doc_id ASC) AS quartile
  FROM m)
SELECT CAST(quartile AS INTEGER) AS quartile,
       COUNT(*) AS n_docs,
       MIN(quality) AS min_quality,
       MAX(quality) AS max_quality
FROM d GROUP BY quartile ORDER BY quartile
"""


def training_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-mix construction, the composite every pretraining
    corpus build runs: (1) quality gate (score >= 0.5), (2) exact-dedup
    keeper (min doc_id per text digest — ONE row_number window partitioned
    by the digest, no join back), (3) deterministic stratified sampling by
    language (en 80%, es/de/fr 50%, otherwise 25%) via a portable md5-hash
    predicate — reproducible on any engine, unlike seeded RNG sampling.
    Output: per (lang, source) sampled doc counts and whitespace-token
    budget, the numbers a mix planner feeds back into sampling weights.

    Scale shape: one digest-partitioned window (high-cardinality key, no
    skew), every filter is a scan-level projection/predicate, final rollup
    is one small aggregation — three narrow shuffles of the doc DIMENSION
    (digest window, groupBy, output sort), never the text payload twice."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.round(quality_score("text"), 6).alias("quality"),
    ).where(F.col("quality") >= 0.5)
    w = Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    keepers = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    rate = (
        F.when(F.col("lang") == "en", F.lit(80))
        .when(F.col("lang").isin("es", "de", "fr"), F.lit(50))
        .otherwise(F.lit(25))
    )
    sampled = keepers.where(
        hash64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 100
        < rate
    )
    return (
        sampled.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(whitespace_token_count("text").cast("long")).alias(
                "sum_ws_tokens"
            ),
        )
        .orderBy("lang", "source")
    )


TRAINING_MIX_SQL = f"""
WITH {_QUALITY_CTE},
gated AS (SELECT * FROM m WHERE quality >= 0.5),
keeper AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                               ORDER BY doc_id ASC) AS rn
  FROM gated),
samp AS (
  SELECT lang, source, text FROM keeper
  WHERE rn = 1
    AND CAST('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
        < (CASE WHEN lang = 'en' THEN 80
                WHEN lang IN ('es','de','fr') THEN 50
                ELSE 25 END))
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT)
         AS sum_ws_tokens
FROM samp GROUP BY lang, source ORDER BY lang, source
"""


def doc_boilerplate_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document LINE duplication per document — the boilerplate
    contamination metric corpus prep pipelines filter on (a page whose
    sentences mostly appear verbatim elsewhere is navigation/template, not
    content). Sentences = '. '-separated segments longer than 20 chars;
    a sentence is boilerplate if its exact text occurs in more than one
    DOCUMENT.

    Shape: explode to (doc, sentence) -> md5 the sentence AT EXPLODE TIME
    (inside the same scan-side projection, before any exchange) ->
    distinct -> document-frequency agg -> join back, ALL keyed on the
    32-hex digest. The raw sentence string never crosses a shuffle: every
    exchange row is (doc_id, 32-char digest), fixed-width regardless of
    sentence length — the same digest-key discipline as exact dedup
    (operators/dedup.py). Collisions are a non-issue at any corpus size
    (2^64 birthday bound on 128-bit md5). Output: per-doc sentence counts,
    duplicated-sentence count, and the boilerplate rate (exact integer
    division, rounded once)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sent = (
        docs.select(
            "doc_id", F.explode(F.split("text", r"\. ")).alias("sentence")
        )
        .where(F.length("sentence") > 20)
        .select("doc_id", F.md5("sentence").alias("sent_digest"))
        .distinct()
    )
    freq = sent.groupBy("sent_digest").agg(F.count("*").alias("n_docs_with"))
    per_doc = (
        sent.join(freq, "sent_digest")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sentences"),
            F.sum(F.when(F.col("n_docs_with") > 1, 1).otherwise(0)).alias(
                "n_boilerplate"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_sentences",
        "n_boilerplate",
        F.round(
            F.col("n_boilerplate").cast("double") / F.col("n_sentences"), 6
        ).alias("boilerplate_rate"),
    )


DOC_BOILERPLATE_SQL = """
WITH sent AS (
  SELECT DISTINCT doc_id, s AS sentence
  FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS s
        FROM documents WHERE text IS NOT NULL)
  WHERE length(s) > 20),
freq AS (SELECT sentence, COUNT(*) AS n_docs_with FROM sent GROUP BY sentence)
SELECT doc_id,
       COUNT(*) AS n_sentences,
       CAST(SUM(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boilerplate,
       round(CAST(SUM(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS boilerplate_rate
FROM sent JOIN freq USING (sentence)
GROUP BY doc_id
"""


def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle into training shards — the
    primitive that turns a curated corpus into a reproducible training
    order. Each document gets a portable pseudo-random key
    (md5 of seed||doc_id — NOT ``rand()``, which re-deals on every re-read)
    and a shard = first key byte mod 64; within a shard the read order is
    the key order. Result: any engine, any partitioning, any re-run
    produces the identical (shard, position) assignment.

    Scale shape: the shard count is the parallelism knob (64 here; at
    100 TB use thousands), the only window is partitioned BY SHARD —
    per-shard sorts of corpus_size/n_shards rows, no global sort, no
    driver state. The rollup readout keeps the gate result small while the
    per-doc assignment is the real product (write `shards` partitioned by
    shard for the trainer)."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")))
    # first md5 byte -> 0..255 via hex-digit position (instr/strpos is the
    # portable cross-engine idiom; conv()/from_hex() differ between engines)
    hexdig = "0123456789abcdef"
    shards = docs.select(
        "doc_id",
        "n_chars",
        key.alias("k"),
    ).withColumn(
        "shard",
        (
            (F.expr(f"instr('{hexdig}', substring(k, 1, 1)) - 1") * 16
             + F.expr(f"instr('{hexdig}', substring(k, 2, 1)) - 1"))
            % 64
        ).cast("long"),
    )
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    assigned = shards.withColumn("pos", F.row_number().over(w))
    return (
        assigned.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("pos").alias("max_pos"),
            F.min("k").alias("first_key"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("shard")
    )


TRAINING_SHUFFLE_SQL = """
WITH s AS (
  SELECT doc_id, n_chars,
         md5('seed42:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents),
a AS (
  SELECT doc_id, n_chars, k,
         CAST(((strpos('0123456789abcdef', substring(k, 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substring(k, 2, 1)) - 1)) % 64
              AS BIGINT) AS shard
  FROM s),
p AS (
  SELECT shard, n_chars, k,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
  FROM a)
SELECT shard, COUNT(*) AS n_docs, CAST(MAX(pos) AS BIGINT) AS max_pos,
       MIN(k) AS first_key, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM p GROUP BY shard ORDER BY shard
"""


def sequence_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the concat-and-chunk step that turns a document
    stream into fixed-budget training sequences (budget 2048 whitespace
    tokens here): documents are laid out in the deterministic shard/key
    order of [[training_shuffle_shards]] (md5 keys, 32 shards), token
    counts are prefix-summed per shard, and a document's bin is
    ``floor((cumsum - tok) / budget)`` — i.e. bins are cut wherever the
    running concatenation crosses a budget boundary (a document may
    straddle two bins; its bin is where it STARTS, the convention of
    packed-dataset builders that split on the fly).

    Scale shape: one projection (keys + token counts), one per-shard
    cumsum window (shard = the parallelism unit, corpus/32 rows each; use
    thousands of shards at 100 TB), one rollup. The readout is per-shard
    packing efficiency — bins produced, tokens packed, mean fill — the
    number that tells you how much compute a sloppy packer wastes."""
    budget = 2048
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    key = F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")))
    hexdig = "0123456789abcdef"
    t = docs.select(
        "doc_id",
        key.alias("k"),
        whitespace_token_count("text").cast("long").alias("tok"),
    ).withColumn(
        "shard",
        (
            (F.expr(f"instr('{hexdig}', substring(k, 1, 1)) - 1") * 16
             + F.expr(f"instr('{hexdig}', substring(k, 2, 1)) - 1"))
            % 32
        ).cast("long"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = t.withColumn("cum", F.sum("tok").over(w)).withColumn(
        "bin", F.floor((F.col("cum") - F.col("tok")) / budget)
    )
    return (
        binned.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            (F.max("bin") + 1).alias("n_bins"),
            F.sum("tok").alias("sum_tokens"),
            F.round(
                F.sum("tok").cast("double") / ((F.max("bin") + 1) * budget), 6
            ).alias("fill_ratio"),
        )
        .orderBy("shard")
    )


SEQUENCE_PACKING_SQL = """
WITH t AS (
  SELECT doc_id,
         md5('seed42:' || CAST(doc_id AS VARCHAR)) AS k,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
           AS tok
  FROM documents WHERE text IS NOT NULL),
s AS (
  SELECT doc_id, k, tok,
         CAST(((strpos('0123456789abcdef', substring(k, 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substring(k, 2, 1)) - 1)) % 32
              AS BIGINT) AS shard
  FROM t),
c AS (
  SELECT shard, tok,
         SUM(tok) OVER (PARTITION BY shard ORDER BY k, doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM s),
b AS (
  SELECT shard, tok, CAST(floor((cum - tok) / 2048.0) AS BIGINT) AS bin
  FROM c)
SELECT shard, COUNT(*) AS n_docs,
       CAST(MAX(bin) + 1 AS BIGINT) AS n_bins,
       CAST(SUM(tok) AS BIGINT) AS sum_tokens,
       round(CAST(SUM(tok) AS DOUBLE) / ((MAX(bin) + 1) * 2048), 6)
         AS fill_ratio
FROM b GROUP BY shard ORDER BY shard
"""


# corpus divergence (``corpus_divergence_kl``): per-language add-one
# smoothed KL(A||B) contributions between two hash-split halves of the
# corpus — the drift monitor run between a new training-mix snapshot and
# the previous one.
def corpus_divergence_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-distribution drift between two hash-split halves of the
    corpus: per-language add-one smoothed probabilities and the KL(A||B)
    contribution term. All heavy work is one groupBy over (lang); the
    totals + vocabulary size are a 1-row broadcast scalar. Probabilities
    are rounded to 6 decimals BEFORE the log term so both engines compute
    the ratio from identical inputs."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    split = (F.col("doc_id") % 2 == 0).cast("long")
    by_lang = docs.groupBy("lang").agg(
        F.sum(split).alias("n_a"),
        F.sum(1 - split).alias("n_b"),
    )
    totals = by_lang.agg(
        F.sum("n_a").alias("tot_a"),
        F.sum("n_b").alias("tot_b"),
        F.count("*").alias("n_langs"),
    )
    j = by_lang.join(F.broadcast(totals))
    p_a = F.round((F.col("n_a") + 1) / (F.col("tot_a") + F.col("n_langs")), 6)
    p_b = F.round((F.col("n_b") + 1) / (F.col("tot_b") + F.col("n_langs")), 6)
    return j.select(
        "lang",
        "n_a",
        "n_b",
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        F.round(p_a * F.log(p_a / p_b), 6).alias("kl_term"),
    )


DIVERGENCE_SQL = """
WITH by_lang AS (
  SELECT lang,
         SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS n_b
  FROM documents WHERE text IS NOT NULL
  GROUP BY lang
),
tot AS (
  SELECT SUM(n_a) AS tot_a, SUM(n_b) AS tot_b, COUNT(*) AS n_langs
  FROM by_lang
)
SELECT lang,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       round((n_a + 1) / CAST(tot_a + n_langs AS DOUBLE), 6) AS p_a,
       round((n_b + 1) / CAST(tot_b + n_langs AS DOUBLE), 6) AS p_b,
       round(round((n_a + 1) / CAST(tot_a + n_langs AS DOUBLE), 6)
             * ln(round((n_a + 1) / CAST(tot_a + n_langs AS DOUBLE), 6)
                  / round((n_b + 1) / CAST(tot_b + n_langs AS DOUBLE), 6)), 6)
         AS kl_term
FROM by_lang, tot
"""


# --------------------------------------------------------------------------
# BPE pair counting (tokenizer-training merge round)
# --------------------------------------------------------------------------

# BPE pair counting (``text_bpe_merge_pairs``): the inner loop of
# byte-pair-encoding tokenizer training — count adjacent symbol pairs over
# the WORD-FREQUENCY table (not the raw corpus: BPE's classic optimization,
# the pair scan is over distinct words weighted by their corpus frequency,
# shrinking the explode by the corpus/vocabulary ratio). This is merge
# round 1 over character symbols; iterating = re-running with the winning
# pair fused, each round the same bounded shape. Top-20 pairs with a total
# (freq DESC, pair ASC) order keeps both engines deterministic at the
# cut.
def text_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs over the corpus word-frequency
    table — BPE merge round 1.

    Pipeline: tokenize (the index's own tokenizer) → word-frequency
    aggregate (the ONLY corpus-sized shuffle; its output is the distinct
    vocabulary, orders of magnitude smaller) → per-word adjacent-pair
    explode (bounded ×(len-1) fan-out of the vocabulary, a projection) →
    weighted pair counts. Iterating BPE re-runs the pair scan with the
    winning pair fused into one symbol; every round keeps this shape, so
    the 100 TB cost is one corpus tokenize + per-round vocabulary-sized
    work."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("w"))
    wf = (
        toks.groupBy("w")
        .agg(F.count("*").alias("f"))
        .where(F.length("w") >= 2)
    )
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("pair").asc())
        .limit(20)
    )


BPE_MERGE_PAIRS_SQL = f"""
WITH toks AS (
  SELECT unnest({_oracle_tokens()}) AS w
  FROM documents WHERE text IS NOT NULL
),
wf AS (
  SELECT w, count(*) AS f FROM toks GROUP BY w
),
pairs AS (
  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, f
  FROM wf, UNNEST(range(1, length(w))) AS t(i)
  WHERE length(w) >= 2
)
SELECT pair, CAST(sum(f) AS BIGINT) AS freq
FROM pairs GROUP BY pair
ORDER BY freq DESC, pair ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# Language-ID confusion matrix (declared vs detected)
# --------------------------------------------------------------------------

def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the fixture's DECLARED language column against
    the stopword-argmax detector — the calibration readout that tells a
    corpus pipeline whether its cheap language filter can be trusted per
    language. One projection + one small groupBy; share is computed
    against the declared-language total via a broadcast join of the
    (≤ languages)-row totals frame."""
    from ..functions.text import language_id

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    guessed = docs.select("lang", language_id("text").alias("lang_guess"))
    cells = guessed.groupBy("lang", "lang_guess").agg(
        F.count("*").alias("n_docs")
    )
    totals = guessed.groupBy("lang").agg(F.count("*").alias("n_total"))
    return (
        cells.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "lang_guess",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n_total"), 6).alias("share"),
        )
        .orderBy("lang", "lang_guess")
    )


LANGID_CONFUSION_SQL = f"""
WITH t AS (
  SELECT lang,
         {_oracle_tokens()} AS toks
  FROM documents WHERE text IS NOT NULL
),
h AS (
  SELECT lang,
         len(list_filter(toks, x -> x IN ('the','and','of','to','is'))) AS en,
         len(list_filter(toks, x -> x IN ('el','la','de','que','los'))) AS es,
         len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS de,
         len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS fr
  FROM t
),
g AS (
  SELECT lang,
         CASE WHEN GREATEST(en, es, de, fr) = 0 THEN 'und'
              WHEN en = GREATEST(en, es, de, fr) THEN 'en'
              WHEN es = GREATEST(en, es, de, fr) THEN 'es'
              WHEN de = GREATEST(en, es, de, fr) THEN 'de'
              ELSE 'fr' END AS lang_guess
  FROM h
),
cells AS (
  SELECT lang, lang_guess, count(*) AS n_docs FROM g GROUP BY 1, 2
),
totals AS (
  SELECT lang, count(*) AS n_total FROM g GROUP BY 1
)
SELECT c.lang, c.lang_guess, c.n_docs,
       round(c.n_docs / t.n_total, 6) AS share
FROM cells c JOIN totals t USING (lang)
ORDER BY c.lang, c.lang_guess
"""


# --------------------------------------------------------------------------
# Collocations by log-likelihood ratio
# --------------------------------------------------------------------------

#: minimum bigram occurrences to be scored, and the bounded candidate count
_LLR_MIN_COUNT = 5
_LLR_TOP = 100


def _llr_expr() -> str:
    """Dunning LLR over the 2x2 contingency table, as ONE expression text
    shared by both engines. Operands are the double columns k11 (bigram
    count), n_l (bigrams starting with w1), n_r (bigrams ending with w2),
    n_tot (all bigrams); each cell contributes k·ln(k/e) when k>0 with
    e the independence expectation row·col/N."""

    def term(k: str, row: str, col: str) -> str:
        e = f"(({row}) * ({col}) / n_tot)"
        return f"(CASE WHEN {k} > 0 THEN {k} * ln({k} / {e}) ELSE 0.0 END)"

    k11 = "k11"
    k12 = "(n_l - k11)"
    k21 = "(n_r - k11)"
    k22 = "(n_tot - n_l - n_r + k11)"
    row1, row2 = "n_l", "(n_tot - n_l)"
    col1, col2 = "n_r", "(n_tot - n_r)"
    return (
        "2.0 * ("
        + " + ".join(
            [
                term(k11, row1, col1),
                term(k12, row1, col2),
                term(k21, row2, col1),
                term(k22, row2, col2),
            ]
        )
        + ")"
    )


# collocation mining (``text_collocations_llr``): Dunning
# log-likelihood-ratio scoring of the corpus's most frequent bigrams —
# the statistically-sound phrase detector (raw counts over-rank "of the";
# LLR ranks by association strength). Candidates are the bounded top-100
# bigrams by count, so the 4-ln scoring chain runs on a fixed cell set
# (the segment-PMI discipline), micro-rounded on both engines.
def text_collocations_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 most frequent corpus bigrams rescored by Dunning
    log-likelihood ratio — the association-strength ranking that
    separates real collocations from merely-frequent function-word
    pairs.

    Scale: bigram/margin statistics are three hash aggregations over the
    token stream (shuffle keys: bigram, first word, second word — all
    Zipf-concentrated but exact); the 4-ln float chain runs only on the
    bounded 100-candidate frame after a TakeOrderedAndProject, so the
    frozen-IEEE surface is fixed-size however large the corpus grows
    (the segment-PMI discipline)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).where(F.col("tok") != "")
    by_doc = W.partitionBy("doc_id").orderBy("pos")
    # feeds the pair counts and both margins; bound: one row per token
    big = materialize(
        toks.withColumn("w2", F.lead("tok").over(by_doc))
        .where(F.col("w2").isNotNull())
        .select(F.col("tok").alias("w1"), "w2")
    )
    bg = big.groupBy("w1", "w2").agg(F.count("*").alias("n_bg"))
    left = big.groupBy("w1").agg(F.count("*").alias("n_left"))
    right = big.groupBy("w2").agg(F.count("*").alias("n_right"))
    total = big.agg(F.count("*").alias("n_total"))  # 1-row scalar
    cand = (
        bg.where(F.col("n_bg") >= _LLR_MIN_COUNT)
        .orderBy(F.col("n_bg").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(_LLR_TOP)
    )
    scored = (
        cand.join(F.broadcast(left), "w1")
        .join(F.broadcast(right), "w2")
        .crossJoin(F.broadcast(total))
        .withColumn("k11", F.col("n_bg").cast("double"))
        .withColumn("n_l", F.col("n_left").cast("double"))
        .withColumn("n_r", F.col("n_right").cast("double"))
        .withColumn("n_tot", F.col("n_total").cast("double"))
        .select(
            "w1",
            "w2",
            F.col("n_bg").cast("long").alias("n_bg"),
            F.expr(
                f"CAST(floor(({_llr_expr()}) * 1000000 + 0.5) AS BIGINT)"
            ).alias("llr_micros"),
        )
    )
    return scored.orderBy(
        F.col("llr_micros").desc(), F.col("w1").asc(), F.col("w2").asc()
    )


COLLOCATIONS_SQL = f"""
WITH raw AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents),
toks AS (SELECT doc_id, tok, pos FROM raw WHERE tok <> ''),
big AS (
  SELECT w1, w2 FROM (
    SELECT tok AS w1,
           LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM toks) t
  WHERE w2 IS NOT NULL),
bg AS (SELECT w1, w2, COUNT(*) AS n_bg FROM big GROUP BY w1, w2),
lft AS (SELECT w1, COUNT(*) AS n_left FROM big GROUP BY w1),
rgt AS (SELECT w2, COUNT(*) AS n_right FROM big GROUP BY w2),
total AS (SELECT COUNT(*) AS n_total FROM big),
cand AS (
  SELECT w1, w2, n_bg FROM bg WHERE n_bg >= {_LLR_MIN_COUNT}
  ORDER BY n_bg DESC, w1 ASC, w2 ASC LIMIT {_LLR_TOP}),
scored AS (
  SELECT cand.w1, cand.w2, CAST(cand.n_bg AS BIGINT) AS n_bg,
         CAST(cand.n_bg AS DOUBLE) AS k11,
         CAST(lft.n_left AS DOUBLE) AS n_l,
         CAST(rgt.n_right AS DOUBLE) AS n_r,
         CAST(total.n_total AS DOUBLE) AS n_tot
  FROM cand
  JOIN lft USING (w1)
  JOIN rgt USING (w2)
  CROSS JOIN total)
SELECT w1, w2, n_bg,
       CAST(floor(({_llr_expr()}) * 1000000 + 0.5) AS BIGINT) AS llr_micros
FROM scored
ORDER BY llr_micros DESC, w1 ASC, w2 ASC
"""


QUERIES = {
    "text_bigram_lm_score": text_bigram_lm_score,
    "split_train_test": split_train_test,
    "pipeline_clean_corpus": pipeline_clean_corpus,
    "text_bigram_topk": text_bigram_topk,
    "token_budget_pack": token_budget_pack,
    "text_language_id": text_language_id,
    "text_quality_scores": text_quality_scores,
    "text_token_counts": text_token_counts,
    "text_fingerprints": text_fingerprints,
    "text_corpus_stats": text_corpus_stats,
    "domain_mix_weights": domain_mix_weights,
    "pii_scrub_stats": pii_scrub_stats,
    "contamination_check": contamination_check,
    "doc_chunk_overlap": doc_chunk_overlap,
    "text_repetition_stats": text_repetition_stats,
    "class_rebalance": class_rebalance,
    "corpus_hash_sample": corpus_hash_sample,
    "top_terms_per_lang": top_terms_per_lang,
    "doc_quality_quartiles": doc_quality_quartiles,
    "training_mix_sample": training_mix_sample,
    "doc_boilerplate_rate": doc_boilerplate_rate,
    "training_shuffle_shards": training_shuffle_shards,
    "sequence_packing_bins": sequence_packing_bins,
    "corpus_divergence_kl": corpus_divergence_kl,
    "text_bpe_merge_pairs": text_bpe_merge_pairs,
    "docs_langid_confusion": docs_langid_confusion,
    "text_collocations_llr": text_collocations_llr,
}

ORACLES = {
    "text_bigram_lm_score": TEXT_BIGRAM_LM_SQL,
    "split_train_test": SPLIT_TRAIN_TEST_SQL,
    "pipeline_clean_corpus": PIPELINE_CLEAN_SQL,
    "text_bigram_topk": TEXT_BIGRAM_SQL,
    "token_budget_pack": TOKEN_BUDGET_PACK_SQL,
    "text_language_id": TEXT_LANGUAGE_ID_SQL,
    "text_quality_scores": TEXT_QUALITY_SQL,
    "text_token_counts": TEXT_TOKEN_COUNTS_SQL,
    "text_fingerprints": TEXT_FINGERPRINT_SQL,
    "text_corpus_stats": TEXT_CORPUS_STATS_SQL,
    "domain_mix_weights": DOMAIN_MIX_SQL,
    "pii_scrub_stats": PII_SCRUB_SQL,
    "contamination_check": CONTAMINATION_SQL,
    "doc_chunk_overlap": DOC_CHUNK_SQL,
    "text_repetition_stats": TEXT_REPETITION_SQL,
    "class_rebalance": CLASS_REBALANCE_SQL,
    "corpus_hash_sample": CORPUS_SAMPLE_SQL,
    "top_terms_per_lang": TOP_TERMS_SQL,
    "doc_quality_quartiles": DOC_QUALITY_QUARTILES_SQL,
    "training_mix_sample": TRAINING_MIX_SQL,
    "doc_boilerplate_rate": DOC_BOILERPLATE_SQL,
    "training_shuffle_shards": TRAINING_SHUFFLE_SQL,
    "sequence_packing_bins": SEQUENCE_PACKING_SQL,
    "corpus_divergence_kl": DIVERGENCE_SQL,
    "text_bpe_merge_pairs": BPE_MERGE_PAIRS_SQL,
    "docs_langid_confusion": LANGID_CONFUSION_SQL,
    "text_collocations_llr": COLLOCATIONS_SQL,
}
