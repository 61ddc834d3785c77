"""Declared queries for the text-analysis operator family (functions/text.py):
language ID, quality scoring, token counting, document fingerprinting, and
corpus roll-ups — the text half of the LLM-data-pipeline extensions
(SURVEY.md §7.6; no reference counterpart).

Oracle notes: the synthetic documents are ASCII, so the DuckDB oracles use
the ASCII token pattern ``[a-z0-9_']+`` — semantically identical here to the
Spark side's Unicode pattern (golden-tested separately for Unicode parity in
tests/test_tokenizer.py). Double arithmetic keeps a fixed operation order on
both sides and rounds to 6 decimals before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    bpe_ish_token_count,
    doc_fingerprint,
    language_id,
    quality_score,
    whitespace_token_count,
)
from ..operators.materialize import materialize
from ..sources.readers import load_table

_TOKS_CTE = """
t AS (SELECT doc_id, lang, source, n_chars,
             regexp_extract_all(lower(text), '[a-z0-9_'']+') AS toks, text
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


TEXT_BIGRAM_SQL = """
WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS toks
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
}
