"""Deduplication operators for large-scale training-data pipelines.

No counterpart in the reference (its only dedup is the per-doc term dedup at
``mapper1.py:20`` and query-term dedup at ``query.py:21``); these are the
LLM-data-pipeline extensions mandated by the build plan (SURVEY.md §7.6).

Every operator is built from native column expressions + at most one or two
shuffles, and each has a documented scale story:

- **exact**: hash-groupBy on a text digest. One shuffle; digest instead of
  raw text keeps shuffle rows small at 100 TB.
- **n-gram Jaccard**: shingle -> inverted (shingle, doc) list -> same-shingle
  pair generation -> exact Jaccard. The pair join only materializes pairs
  that share >= 1 shingle (never the full N^2).
- **MinHash + LSH**: k portable hash functions (md5-derived, reproducible in
  any engine) -> per-doc signature -> banded bucket keys -> candidate pairs
  from bucket collisions only -> exact-Jaccard verification. At 100 TB the
  candidate set is ~linear in data size for reasonable band geometry.
- **SimHash**: 60-bit signatures; pairs via 4-chunk blocking (pigeonhole:
  hamming distance <= 3 guarantees one identical 15-bit chunk), so the join
  is an equi-join on chunk value, never a cross product. 60 bits (not 48):
  the 10x scale probe measured 12-bit chunk keyspaces (4096 values)
  saturating by birthday collisions — superlinear candidate growth; 15-bit
  chunks (32768 values) divide accidental collisions by ~8x while staying
  inside a signed long and DuckDB-replayable (15 md5 hex chars).
- **embedding cosine**: exact cosine >= tau within blocking keys (label);
  the ANN path for unblocked data lives in operators/similarity.py.

Portable hash: ``hash64(s) = bigint(hex(md5(s)[:15]))`` — 60 bits, identical
in Spark (conv) and DuckDB (hex cast), unlike murmur3/xxhash which differ
across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokenize
from ..sources.readers import fan_out
from .materialize import materialize, materialized


def hash64(col: Column, bits: int = 60) -> Column:
    """Portable 4*h-bit integer hash of a string (md5 prefix)."""
    hex_digits = bits // 4
    return F.conv(F.substring(F.md5(col), 1, hex_digits), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts by digest; emit keeper id + copy count.

    Scale: the groupBy key is a 32-hex digest, not the document body, so the
    shuffle moves ~40 bytes/row regardless of document size.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_digest"), F.col(id_col))
        .groupBy("text_digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------

def shingles_df(df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) rows: distinct word n-grams per document.

    Built from the token array with transform/slice — no UDF, no shuffle;
    shingling happens inside the scan's projection.
    """
    toks = fan_out(df).select(F.col(id_col), tokenize(text_col).alias("toks"))
    return (
        toks.select(
            id_col,
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, greatest(size(toks) - {n - 1}, 0)),"
                        f" i -> concat_ws(' ', slice(toks, i, {n})))"
                    )
                )
            ).alias("shingle"),
        )
    )


def jaccard_pairs(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard for every pair sharing >= 1 shingle.

    Returns (doc1, doc2, inter, n1, n2, jaccard). The same-shingle join is
    the inverted-index trick: pairs that share nothing never materialize.
    Hot shingles (stopword runs, boilerplate) are the skew risk at scale.
    Measured (tools/skew_probe.py, round 5): moderate hot keys (df ~10% of
    docs) produce NO straggler — the fan-out spreads across the hot key's
    many partners. A single extreme hot key defeats AQE skew-join twice
    over: detection is on COMPRESSED map-output bytes, which an
    identical-string key shrinks below the skew factor; and even a forced
    split doesn't help, because the cost is the key's QUADRATIC JOIN
    OUTPUT, invisible to input-byte chunking. The document-frequency cap
    (drop ultra-frequent shingles before the join — `dedup_ngram_capped`)
    is the mitigation that works: it removes exactly the keys whose
    pair fan-out is quadratic and whose discriminative value is nil.
    """
    a = sh.select(F.col(id_col).alias("doc1"), "shingle")
    b = sh.select(F.col(id_col).alias("doc2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("inter"))
    )
    # One row per document: NEVER force-broadcast this frame (at corpus
    # scale it is the whole doc set -> guaranteed OOM). AQE sizes the join:
    # broadcast when genuinely small, shuffle hash/SMJ on doc id otherwise.
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("doc1"), F.col("n_shingles").alias("n1")),
            "doc1",
        )
        .join(
            sizes.select(F.col(id_col).alias("doc2"), F.col("n_shingles").alias("n2")),
            "doc2",
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")),
        )
    )


def jaccard_for_pairs(sh: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard computed ONLY for the given (doc1, doc2) candidate pairs.

    This is the verification step after LSH: instead of enumerating every
    pair that shares a shingle (``jaccard_pairs`` — quadratic in hot-shingle
    document frequency), the shingle join is restricted to the candidate
    set. Shape: prune the shingle table to candidate docs (semi-join on the
    small distinct-doc sets), expand candidates by doc1's shingles, then
    equi-join on (doc2, shingle) to count the intersection. Work is
    O(|candidates| * shingles/doc), independent of how many unrelated pairs
    co-occur in hot shingles — the property that keeps exact verification
    feasible at 100 TB.

    Sizes join is left to AQE (it will broadcast when small); the candidate
    doc set is bounded by the near-dup population, not the corpus.
    """
    # Candidate doc sets are bounded by the near-dup population, not the
    # corpus — usually small, but not guaranteed, so no forced broadcast:
    # AQE promotes the semi-joins to broadcast when the sets really are small.
    d1 = pairs.select("doc1").distinct()
    d2 = pairs.select("doc2").distinct()
    sh1 = sh.select(F.col(id_col).alias("doc1"), "shingle").join(
        d1, "doc1", "left_semi"
    )
    sh2 = sh.select(F.col(id_col).alias("doc2"), "shingle").join(
        d2, "doc2", "left_semi"
    )
    inter = (
        pairs.join(sh1, "doc1")
        .join(sh2, ["doc2", "shingle"])
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("inter"))
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("doc1"), F.col("n_shingles").alias("n1")),
            "doc1",
        )
        .join(
            sizes.select(F.col(id_col).alias("doc2"), F.col("n_shingles").alias("n2")),
            "doc2",
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")),
        )
    )


def prefix_filtered_candidates(
    hashed: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """(doc1, doc2) candidate pairs from the AllPairs prefix inverted
    index over ``hashed`` (distinct (id, h) fingerprint rows), pruned by
    PPJoin's length and position filters — the candidate generator behind
    ``jaccard_pairs_prefix``, exposed separately so tools/scale_probe.py
    can measure its growth like every other bucketed family's."""
    from pyspark.sql import Window as W

    t = float(threshold)
    df_counts = hashed.groupBy("h").agg(F.count("*").alias("df"))
    ranked = hashed.join(df_counts, "h")
    part = W.partitionBy(id_col)
    order = part.orderBy(F.asc("df"), F.asc("h"))
    prefix_len = F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
    prefix = (
        ranked.withColumn("r", F.row_number().over(order))
        .withColumn("n", F.count("*").over(part))
        .where(F.col("r") <= prefix_len)
        .select(id_col, "h", "r", "n")
    )
    a = prefix.select(
        F.col(id_col).alias("doc1"), "h",
        F.col("r").alias("r1"), F.col("n").alias("n1"),
    )
    b = prefix.select(
        F.col(id_col).alias("doc2"), "h",
        F.col("r").alias("r2"), F.col("n").alias("n2"),
    )
    overlap_needed = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("n1") + F.col("n2"))
    )
    return (
        a.join(b, "h")
        .where(F.col("doc1") < F.col("doc2"))
        .where(
            F.least("n1", "n2") >= F.lit(t) * F.greatest("n1", "n2")
        )
        .groupBy("doc1", "doc2")
        .agg(
            F.min("r1").alias("r1m"), F.min("r2").alias("r2m"),
            F.min("n1").alias("n1"), F.min("n2").alias("n2"),
        )
        .where(
            1
            + F.least(
                F.col("n1") - F.col("r1m"), F.col("n2") - F.col("r2m")
            )
            >= overlap_needed
        )
        .select("doc1", "doc2")
    )


def jaccard_pairs_prefix(
    sh: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    assume_injective: bool | None = None,
) -> DataFrame:
    """EXACT thresholded Jaccard via prefix filtering (AllPairs, Bayardo et
    al. WWW'07; PPJoin, Xiao et al. WWW'08) — same result set as
    ``jaccard_pairs(...).where(jaccard >= threshold)``, but the candidate
    fan-out is bounded by prefix co-occurrence instead of exploding
    quadratically in hot-shingle document frequency.

    Principle: order every document's shingles by a single GLOBAL total
    order — rarest first, ``(df asc, shingle asc)`` — and keep only each
    document's first ``n - ceil(t*n) + 1`` shingles (its *prefix*). If two
    documents have Jaccard >= t they must overlap in at least
    ``ceil(t * max(n1, n2))`` shingles, and by the prefix-filtering lemma
    their prefixes under the shared order must intersect, so generating
    candidates from the prefix inverted index alone is COMPLETE.
    Verification then computes exact Jaccard only for candidates
    (``jaccard_for_pairs``), so the output is exact, not approximate.

    Why this is the 100 TB form: the boilerplate shingles that make
    ``jaccard_pairs`` quadratic are exactly the highest-df shingles, which
    the global rarest-first order pushes OUT of every prefix whenever a
    document has enough discriminative content. Cost profile: one df
    aggregation (shuffle on shingle), one per-doc window (shuffle on doc
    id), a prefix-only inverted-index join, and candidate-bounded
    verification — measured in tools/mem_probe.py as the replacement for
    the 2.2 GB spill the unfiltered join produced at the 10x probe.

    Candidate generation runs over xxhash64 FINGERPRINTS of the shingles,
    not the strings: the global order is ``(df-of-hash asc, hash asc)``
    and the prefix inverted index joins on the 8-byte hash, so the per-doc
    rank sort moves fixed 24-byte rows instead of n-gram strings. A hash
    collision MERGES two shingles into one item, which can move a pair's
    hash-set Jaccard in EITHER direction (two intersection shingles
    colliding lowers it: A={a,b,x}, B={a,b,y}, h(a)=h(b) gives string
    J=1/2 but hash J=1/3), so hash-space prefixes are only guaranteed
    complete when the fingerprints are injective on this corpus. That is
    exactly what the eager probe below checks; when it fails, BOTH
    candidate generation and verification rerun on the raw shingle
    strings, where the prefix-filtering lemma holds unconditionally.

    Candidates additionally pass PPJoin's two prefix-join filters, both
    provably lossless for Jaccard >= t (measured on the 10x fixture:
    4.09M raw prefix collisions -> 1.25M candidates):

    - LENGTH: ``min(n1, n2) >= t * max(n1, n2)`` — a smaller set cannot
      cover t of a much larger union.
    - POSITION: for the pair's globally-SMALLEST shared token (rank
      ``min(r)`` on each side — minimal on both sides simultaneously
      because both sides are sorted by the same global order, and no
      earlier common token can exist below the minimum), overlap is at
      most ``1 + min(n1 - r1m, n2 - r2m)``, which must reach the
      equivalent-overlap bound ``ceil(t/(1+t) * (n1+n2))``.
    """
    hashed = sh.select(
        F.col(id_col), F.xxhash64("shingle").alias("h")
    ).dropDuplicates([id_col, "h"])
    cand = prefix_filtered_candidates(hashed, threshold, id_col=id_col)
    # Verification: exact Jaccard per candidate. The row-expansion form
    # (jaccard_for_pairs: candidates x doc1's shingles, then an 80M-row
    # count at the 10x fixture) is the generic fallback; when the 64-bit
    # fingerprints are INJECTIVE on this corpus — one bounded aggregate
    # proves it: count(distinct shingle) == count(distinct hash) — the
    # same intersections are computed exactly on compact per-doc hash
    # ARRAYS: two narrow joins of the candidate list against the doc-array
    # table and a codegen array_intersect per pair, no fan-out rows at
    # all. A corpus that defeats injectivity (probability ~n^2/2^64)
    # simply takes the string path; correctness never rests on the hash.
    # The probe is an EAGER job at plan-construction time; callers that
    # build the plan repeatedly over one corpus should run it once and
    # pass ``assume_injective`` (plans/dedup_queries.py caches it per
    # fixture fingerprint).
    injective = (
        assume_injective
        if assume_injective is not None
        else sh.agg(
            (
                F.countDistinct("shingle")
                == F.countDistinct(F.xxhash64("shingle"))
            ).alias("ok")
        ).collect()[0]["ok"]
    )
    if not injective:  # pragma: no cover - 2^-64-scale corpus property
        # Hash-space candidates are NOT provably complete under collision
        # (see docstring) — regenerate the candidates from the raw shingle
        # strings, where the prefix lemma holds unconditionally, then
        # verify exactly on strings too.
        str_cand = prefix_filtered_candidates(
            sh.select(
                F.col(id_col), F.col("shingle").alias("h")
            ).dropDuplicates([id_col, "h"]),
            threshold,
            id_col=id_col,
        )
        return jaccard_for_pairs(sh, str_cand, id_col=id_col).where(
            F.col("jaccard") >= threshold
        )
    doc_arrays = hashed.groupBy(id_col).agg(
        F.sort_array(F.collect_list("h")).alias("hs"),
        F.count("*").alias("n_shingles"),
    )
    inter = F.size(F.array_intersect("hs1", "hs2"))
    return (
        cand.join(
            doc_arrays.select(
                F.col(id_col).alias("doc1"),
                F.col("hs").alias("hs1"),
                F.col("n_shingles").alias("n1"),
            ),
            "doc1",
        )
        .join(
            doc_arrays.select(
                F.col(id_col).alias("doc2"),
                F.col("hs").alias("hs2"),
                F.col("n_shingles").alias("n2"),
            ),
            "doc2",
        )
        .withColumn("inter", inter.cast("long"))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "inter", "n1", "n2", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    sh: DataFrame, num_hashes: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig array<long>) — sig[s] = min over shingles of hash64(s:shingle).

    One shuffle (groupBy id, seed). The seed fan-out multiplies shingle rows
    by num_hashes; at very large scale prefer computing all seeds per row
    with a transform() over a seed array before the aggregate, which is what
    we do here — the explode is on the *seed array per shingle row*, kept
    narrow (id, seed, hash).
    """
    seeds = F.array(*[F.lit(s) for s in range(num_hashes)])
    hashed = sh.select(
        F.col(id_col),
        F.explode(
            F.transform(
                seeds,
                lambda s: F.struct(
                    s.alias("seed"),
                    hash64(
                        F.concat(s.cast("string"), F.lit(":"), F.col("shingle"))
                    ).alias("h"),
                ),
            )
        ).alias("sh"),
    ).select(id_col, F.col("sh.seed").alias("seed"), F.col("sh.h").alias("h"))
    per_seed = hashed.groupBy(id_col, "seed").agg(F.min("h").alias("mh"))
    return (
        per_seed.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("seed", "mh"))).alias("pairs")
        )
        .select(
            id_col,
            F.transform(F.col("pairs"), lambda p: p["mh"]).alias("sig"),
        )
    )


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Distinct (doc1, doc2) whose signatures collide in >= 1 band.

    Band key = md5 of the band's signature slice — the equi-join key. The
    join is per-(band, key) so only bucket collisions materialize.
    """
    band_idx = F.array(*[F.lit(b) for b in range(bands)])
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.select(F.col(id_col).alias("doc1"), "band", "key")
    b = banded.select(F.col(id_col).alias("doc2"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH near-dup: candidates from banded signatures, then exact
    Jaccard verification >= threshold. Returns (doc1, doc2, jaccard)."""
    # shingles feed BOTH the signature path and the exact-verification path
    # (bound: one row per distinct (doc, shingle)); the candidate set feeds
    # three consumers in jaccard_for_pairs (two distinct-doc prunes + the
    # intersection join; bound: the LSH candidate pairs). Both are computed
    # once and freed before returning — a long-lived session must not hold
    # one shingle set per call; the caller holds only the near-dup pairs.
    with materialized(shingles_df(df, n=n, text_col=text_col, id_col=id_col)) as sh:
        sigs = minhash_signatures(sh, num_hashes=num_hashes, id_col=id_col)
        cands = lsh_candidate_pairs(
            sigs, bands=bands, rows_per_band=num_hashes // bands, id_col=id_col
        )
        with materialized(cands) as cands:
            # verify ONLY the LSH candidates (a pair sharing zero shingles
            # yields no intersection row and cannot pass the threshold, so
            # restricting the exact-Jaccard computation to candidates
            # changes nothing semantically)
            exact = jaccard_for_pairs(sh, cands, id_col=id_col)
            return materialize(
                exact.where(F.col("jaccard") >= threshold)
                .select("doc1", "doc2", F.round("jaccard", 6).alias("jaccard"))
            )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per document from term-frequency-weighted token hashes.

    Shape: tokens -> groupBy(doc, term) -> per-row 60-wide ±cnt array ->
    ONE groupBy(doc) folding the arrays element-wise (collect_list +
    ``aggregate``/``zip_with``) -> sign bits packed in a final projection.
    Compared with the textbook explode-60-rows-per-term formulation this
    removes a 60× row blow-up and two extra shuffles — the per-bit
    "columns instead of rows" trick is what keeps SimHash viable on a
    100 TB corpus.

    Two measured alternatives, kept out deliberately:
    - 60 separate conditional-sum aggregates (one column per bit): ~3×
      slower — independent agg buffers defeat the hash-agg fast path.
      Its one advantage is O(1) state per group, so it is the fallback if
      a corpus has pathological per-doc vocabularies (collect_list state
      here is |distinct terms per doc| × 60 longs, bounded for real docs).
    - hashing every occurrence (skip the tf stage; integer-identical since
      the weighted sum is linear in cnt): slower — md5 runs per occurrence
      instead of per distinct (doc, term), and tf's shuffle is small after
      map-side combine. Keep the tf stage.

    SCALE TIER — fixture-scale baseline. On a template-heavy corpus the
    PLAIN signature's chunk-block candidate growth is measurably
    superlinear (2.27x normalized at a 10x corpus, tools/scale_probe.py:
    documents sharing a boilerplate skeleton collide in chunks at any
    signature width). The production default for the family is the
    idf-filtered path — build tf, drop terms with df > 20% of docs, sign
    with ``simhash_from_tf`` (the ``dedup_simhash_idf`` query) — whose
    growth measures exactly linear (registry ``BASELINE_TIER`` records
    the pairing).
    """
    toks = fan_out(df).select(F.col(id_col), F.explode(tokenize(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("cnt"))
    return simhash_from_tf(tf, id_col=id_col)


def simhash_from_tf(tf: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """SimHash signatures from a pre-built (id, term, cnt) term-frequency
    frame — the composition point for variants that filter the vocabulary
    first (e.g. dropping corpus-wide hot terms so template-heavy corpora
    don't concentrate signatures; see ``dedup_simhash_idf``)."""
    th = tf.withColumn("h", hash64(F.col("term"), bits=SIMHASH_BITS))
    per_term = F.expr(
        f"transform(sequence(0, {SIMHASH_BITS - 1}),"
        " b -> CASE WHEN (shiftright(h, b) & 1) = 1 THEN cnt ELSE -cnt END)"
    )
    weights = (
        th.select(F.col(id_col), per_term.alias("wa"))
        .groupBy(id_col)
        .agg(
            F.expr(
                "aggregate(collect_list(wa),"
                f" cast(array_repeat(0L, {SIMHASH_BITS}) as array<bigint>),"
                " (acc, x) -> zip_with(acc, x, (a, b) -> a + b))"
            ).alias("ws")
        )
    )
    sig = F.expr(
        f"aggregate(transform(sequence(0, {SIMHASH_BITS - 1}),"
        " b -> CASE WHEN ws[b] > 0 THEN shiftleft(1L, b) ELSE 0L END),"
        " 0L, (a, x) -> a + x)"
    )
    return weights.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    sigs: DataFrame, max_hamming: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs by Hamming distance, via exact chunk blocking.

    With ``chunks = max_hamming + 1``, hamming(a,b) <= max_hamming implies
    some chunk is identical (pigeonhole), so the chunk equi-join loses
    nothing vs brute force while scaling as an inverted index on chunk
    values.

    ``sigs`` is computed once here: both sides of the self-join reference
    it, and otherwise each side re-runs the whole tokenize+aggregate
    signature subtree (the per-branch chunk projections differ, so
    ReuseExchange cannot dedup them). Bound: one (id, long) row per
    document. It is freed before returning; the result (the near-dup pair
    set) is computed first.
    """
    with materialized(sigs) as sigs:
        n_chunks = max_hamming + 1
        chunk_bits = SIMHASH_BITS // n_chunks
        mask = (1 << chunk_bits) - 1
        chunked = sigs.select(
            F.col(id_col),
            "simhash",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {n_chunks - 1}),"
                    f" c -> struct(c AS chunk,"
                    f" (shiftright(simhash, c * {chunk_bits}) & {mask}) AS ckey))"
                )
            ).alias("ck"),
        ).select(id_col, "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.ckey").alias("ckey"))
        a = chunked.select(F.col(id_col).alias("doc1"), F.col("simhash").alias("h1"), "chunk", "ckey")
        b = chunked.select(F.col(id_col).alias("doc2"), F.col("simhash").alias("h2"), "chunk", "ckey")
        # hamming filter BEFORE the distinct: bit_count is a per-row codegen op,
        # so filtering first shrinks the dedup shuffle from every chunk-collision
        # candidate down to actual near-dup pairs (orders of magnitude at scale)
        result = (
            a.join(b, ["chunk", "ckey"])
            .where(F.col("doc1") < F.col("doc2"))
            .withColumn("hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))))
            .where(F.col("hamming") <= max_hamming)
            .select("doc1", "doc2", "hamming")
            .distinct()
        )
        return materialize(result)


# ---------------------------------------------------------------------------
# Exact-substring dedup (content-defined character anchors)
# ---------------------------------------------------------------------------

def _segmented(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_chars: int,
    span: int,
) -> DataFrame:
    """Explode documents into overlapping ``seg_chars``-char segments that
    preserve every ``span``-char window: consecutive segments overlap by
    span - 1 chars, so any window lies fully inside at least one segment
    (start p falls in segment k = floor((p-1)/step); p + span - 1 <=
    k*step + seg_chars because overlap >= span - 1), and with
    K = ceil((n - overlap)/step) segments the last one reaches the end of
    the document and is itself >= span chars long. Selections made from
    two overlapping segments are identical values — the caller's distinct
    collapses them — so the selected-gram SET equals the unsegmented
    computation's exactly.

    This is the document-length memory bound — the per-row gram array
    becomes O(seg_chars), not O(document) — and, more importantly, the
    document-length TIME bound: Spark's char-indexed ``substring`` on a
    long string costs O(offset) (UTF8String scans bytes to find the char
    position), so the unsegmented gram pass is O(n^2) in document length.
    Measured on 8 x 256 KB docs: unsegmented 151.5 s, seg_chars=65536
    38.8 s, 16384 12.2 s, 4096 3.5 s (the md5 floor) — hence the 4096
    default; overlap overhead at 4096 is <= 1.5%. ``seg_chars=None``
    disables segmentation (exact original single-pass expression).

    Returns (id, seg, n_segs); n_segs lets the caller keep whole-document
    clamp semantics for single-segment (short) documents.
    """
    overlap = span - 1
    step = seg_chars - overlap
    if step < overlap:
        # each segment is stitched from a chunk plus the FIRST `overlap`
        # chars of the NEXT chunk only; chunks are `step` chars, so the
        # stitch is complete only when step >= overlap
        raise ValueError(
            f"seg_chars={seg_chars} must be >= 2*span-2={2 * overlap}"
        )
    # ONE regex pass cuts the document into step-sized chunks (O(n) — an
    # offset-substring loop would pay Spark's O(p) char-indexed substring
    # per segment, O(n^2/step) per document, measured 3x slower already at
    # 1 MB docs); each segment is its chunk plus the first `overlap` chars
    # of the next (O(overlap) substring at offset 1). A final chunk
    # shorter than `span` starts no complete window — every window
    # touching it begins in the previous chunk and is covered by that
    # segment's overlap — so it is dropped, EXCEPT for single-chunk
    # documents where the caller's short-document clamp applies.
    chunks = F.expr(f"regexp_extract_all({text_col}, '(?s).{{1,{step}}}', 0)")
    seg_struct = (
        f"transform(_ch, (c, i) -> struct("
        f"concat(c, coalesce(substring(try_element_at(_ch, i + 2), 1, {overlap}), '')) AS seg,"
        f" size(_ch) AS n_segs))"
    )
    return (
        df.select(F.col(id_col), chunks.alias("_ch"))
        .select(id_col, F.explode(F.expr(seg_struct)).alias("sg"))
        .select(
            id_col,
            F.col("sg.seg").alias("seg"),
            F.col("sg.n_segs").alias("n_segs"),
        )
        .where((F.col("n_segs") == 1) | (F.length("seg") >= span))
    )


def char_anchor_pairs(
    df: DataFrame,
    width: int = 40,
    stride: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_holders: int | None = None,
    seg_chars: int | None = 4096,
) -> DataFrame:
    """ExactSubstr-style duplication detection (Lee et al. 2022,
    arXiv:2107.06499 'Deduplicating Training Data Makes Language Models
    Better'): find document pairs that share long VERBATIM character
    runs — licence blocks, boilerplate, quoted passages — which
    token-level Jaccard (``jaccard_pairs``) under-weights because a
    shared paragraph inside two long distinct documents barely moves
    the shingle-set ratio.

    The paper builds a corpus-wide suffix array; that is a different
    machine. The distributed re-expression is CONTENT-DEFINED anchor
    sampling: hash every ``width``-char window, keep the windows whose
    md5-derived hash is ``0 mod stride`` (selection depends only on the
    bytes, so two documents sharing a substring select the SAME anchors
    regardless of offset — positional stride sampling cannot do this),
    then an exact hash-equality self-join. A shared run of length L
    contains L - width + 1 windows and is detected unless every one of
    them misses the 1/stride content gate: miss probability
    (1 - 1/stride)^(L - width + 1), < 5% at L ≈ width + 3·stride (100
    chars here). Detection is deterministic per corpus (md5), so the
    DuckDB oracle replays it bit-for-bit.

    Emits (id1, id2, n_shared_anchors) per pair, id1 < id2. Scale shape:
    the window explode is O(total chars) inside the scan projection with
    NO shuffle; only the 1/stride-sampled 8-byte anchor hashes shuffle
    for the join, and hot anchors (a licence shared by thousands of
    docs) fan out quadratically — cap them upstream with the same
    df-cap discipline as ``jaccard_pairs`` when pairs per anchor exceed
    the budget (at 100 TB, GROUP BY anchor first and drop anchors with
    more than ~1k holders: they are boilerplate classes, not pairs).
    """
    n = F.length(F.col(text_col))
    live = fan_out(df).where(n >= width)
    if seg_chars is not None:
        # document-length memory bound: O(seg_chars) gram arrays; anchor
        # selection is per-window content, so the anchor SET is unchanged
        # (see _segmented) — set this at 100 TB where documents can be MBs
        live = _segmented(live, text_col, id_col, seg_chars, span=width)
        text_col = "seg"
    # Hash inside an array transform BEFORE exploding, so the generator
    # emits 8-byte longs, not rows that still carry the document body.
    gh_array = _gram_hash_array(text_col, width)
    grams = (
        live.select(F.col(id_col), F.explode(gh_array).alias("gh"))
        .where(F.col("gh") % stride == 0)
        .distinct()
    )
    return _pairs_from_grams(grams, id_col, "n_shared_anchors", max_holders)


def _gram_hash_array(text_col: str, width: int) -> Column:
    """Array of md5-derived 60-bit hashes of every ``width``-char window —
    computed inside the projection so downstream generators emit longs,
    never rows still carrying the document body."""
    return F.expr(
        f"transform(sequence(1, length({text_col}) - {width - 1}),"
        f" p -> CAST(conv(substring(md5(substring({text_col}, p, {width})),"
        f" 1, 15), 16, 10) AS BIGINT))"
    )


def _pairs_from_grams(
    grams: DataFrame,
    id_col: str,
    count_col: str,
    max_holders: int | None,
) -> DataFrame:
    """(id1, id2, count) pairs from a distinct (id, gh) gram table.

    One gram pass, not a self-join: a self-join would recompute the
    O(total chars) window explode on both branches — the heaviest stage,
    doubled. Group holders per gram instead and expand id pairs inside
    the projection; the sorted holder array makes id1 < id2 by position.
    """
    holders = (
        grams.groupBy("gh")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    if max_holders is not None:
        # the df-cap: a gram held by thousands of documents is a
        # boilerplate CLASS, not useful pairs — size(ids)^2 fan-out capped
        holders = holders.where(F.size("ids") <= max_holders)
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids)), y ->"
        " struct(x AS id1, y AS id2))))"
    )
    return (
        holders.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.id1").alias("id1"), F.col("p.id2").alias("id2"))
        .agg(F.count("*").alias(count_col))
    )


def winnowing_pairs(
    df: DataFrame,
    width: int = 40,
    window: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_holders: int | None = None,
    seg_chars: int | None = 4096,
) -> DataFrame:
    """Winnowing fingerprint pairs (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS algorithm): per document, hash every ``width``-char window,
    then select the MINIMUM hash in each run of ``window`` consecutive
    positions; documents sharing any selected fingerprint pair up.

    This is the GUARANTEED counterpart of ``char_anchor_pairs``' 1/stride
    content gate: any verbatim shared run of length >= width + window - 1
    (59 chars at the defaults) contains a full window of ``window`` grams
    common to both documents, and that window's minimum hash is selected
    in BOTH — detection is certain, not (1 - (1-1/s)^k)-probable. The
    price is density: winnowing keeps ~2/(window+1) of positions versus
    the gate's 1/stride, and selection needs the neighboring hashes
    (a shuffle-free array fold here), not just the hash itself.

    Scale shape: gram hashing, the sliding-window min, and the distinct
    all fold into the scan projection as array expressions — ZERO shuffle
    until the fingerprint pair join, which reuses the groupBy-holder
    expansion (and its ``max_holders`` boilerplate cap). Ties between
    equal minimum hashes are harmless: selection is by VALUE, and the
    join key is the value, so both documents select the shared gram.

    Emits (id1, id2, n_shared_fingerprints), id1 < id2.
    """
    n = F.length(F.col(text_col))
    live = fan_out(df).where(n >= width)
    if seg_chars is not None:
        # document-length memory bound (see _segmented): overlap of
        # width + window - 2 chars keeps every SLIDING-MIN window (span
        # width + window - 1 chars) inside one segment, so the selected
        # fingerprint SET is unchanged. Multi-segment documents never need
        # the short-document clamp (every segment is >= span chars —
        # guaranteed by the K = ceil((n - overlap)/step) construction), so
        # the clamp applies only when n_segs = 1, i.e. exactly when the
        # unsegmented computation would clamp too.
        live = _segmented(
            live, text_col, id_col, seg_chars, span=width + window - 1
        )
        clamp = f"CASE WHEN n_segs = 1 THEN 1 ELSE size(gh) - {window - 1} END"
        gh_src = "seg"
    else:
        clamp = "1"
        gh_src = text_col
    # windows of `window` consecutive gram hashes; array_min of each is the
    # selected fingerprint. size(gh) - window + 1 window starts; documents
    # shorter than width + window - 1 chars still yield >= 1 window via the
    # greatest(..., clamp) floor (their whole gram array is one short
    # window).
    fp_array = F.expr(
        f"array_distinct(transform("
        f"  sequence(1, greatest(size(gh) - {window - 1}, {clamp})),"
        f"  j -> array_min(slice(gh, j, {window}))))"
    )
    sel = [F.col(id_col), _gram_hash_array(gh_src, width).alias("gh")]
    if seg_chars is not None:
        sel.append(F.col("n_segs"))  # the clamp predicate needs it in scope
    grams = (
        live.select(*sel)
        .select(F.col(id_col), F.explode(fp_array).alias("gh"))
        .distinct()
    )
    return _pairs_from_grams(grams, id_col, "n_shared_fingerprints", max_holders)
