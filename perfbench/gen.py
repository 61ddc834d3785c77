"""Seeded input generators for the benchmark.

Everything the engine sees is made here from one integer seed: the same
seed gives byte-identical inputs. Words are lowercase ASCII letters only,
so the reference tokenizer ``[\\w']+`` and the engine's Unicode tokenizer
split them identically.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

_CONS = "bcdfghjklmnprstvz"
_VOWS = "aeiou"
#: query classes by vocabulary rank band; oov terms are never in the corpus
CLASSES = ("head", "mid", "tail", "oov")
#: Zipf exponent of the corpus vocabulary
ZIPF_S = 1.07


def word(rank: int) -> str:
    """Distinct pronounceable word for a vocabulary rank (bijective)."""
    syl = []
    n = rank
    while True:
        n, r = divmod(n, len(_CONS) * len(_VOWS))
        syl.append(_CONS[r // len(_VOWS)] + _VOWS[r % len(_VOWS)])
        if n == 0:
            break
        n -= 1
    return "".join(reversed(syl))


def oov_word(i: int) -> str:
    # 'q' and 'x' never appear in vocabulary words, so these cannot collide
    return "qx" + word(i)


@dataclass
class Corpus:
    doc_ids: list[int]
    titles: list[str]
    texts: list[str]
    vocab_size: int
    tokens: int

    def rows(self) -> list[tuple[int, str, str]]:
        return list(zip(self.doc_ids, self.titles, self.texts))

    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts)


def zipf_corpus(
    seed: int,
    n_docs: int,
    vocab: int,
    mean_len: int,
    first_id: int = 0,
) -> Corpus:
    """Documents whose words follow a Zipf(``ZIPF_S``) law over ``vocab`` ranks.

    Document lengths are uniform in [mean_len/2, 3*mean_len/2].
    """
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** ZIPF_S
    p /= p.sum()
    lens = rng.integers(mean_len // 2, 3 * mean_len // 2 + 1, size=n_docs)
    draws = rng.choice(vocab, size=int(lens.sum()), p=p)
    words = [word(r) for r in range(vocab)]
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(words[r] for r in draws[pos : pos + n]))
        pos += n
    ids = list(range(first_id, first_id + n_docs))
    return Corpus(ids, [f"doc_{i}" for i in ids], texts, vocab, int(lens.sum()))


#: class of the i-th query, cycled: 30% head, 30% mid, 30% tail, 10% oov.
#: A fixed pattern keeps the class shares of any run-length prefix equal
#: across seeds, so a run that stops early still measures the same mix.
PATTERN = ("head", "mid", "tail") * 3 + ("oov",)


@dataclass
class QueryMix:
    queries: list[str]
    classes: list[str]

    def shares(self, n: int | None = None) -> dict[str, float]:
        used = self.classes[: n or len(self.classes)]
        return {c: round(used.count(c) / len(used), 4) for c in CLASSES}


def class_bands(df: dict[str, int], vocab: int) -> dict[str, list[str]]:
    """Split the words that occur in the corpus into head/mid/tail bands by
    vocabulary rank (rank order is expected-frequency order): head is the
    top 50 ranks, mid the rest of the top tenth, tail everything below."""
    present = [w for w in map(word, range(vocab)) if w in df]
    n = len(present)
    head_end = min(50, max(1, n // 100))
    mid_end = max(head_end + 1, n // 10)
    return {
        "head": present[:head_end],
        "mid": present[head_end:mid_end],
        "tail": present[mid_end:],
    }


def query_mix(seed: int, bands: dict[str, list[str]], n: int) -> QueryMix:
    """``n`` queries of 1-4 terms, each drawing all its terms from the class
    that ``PATTERN`` assigns to its position."""
    rng = random.Random(seed)
    queries, classes = [], []
    for i in range(n):
        cls = PATTERN[i % len(PATTERN)]
        k = rng.randint(1, 4)
        if cls == "oov":
            terms = [oov_word(rng.randrange(10**6)) for _ in range(k)]
        else:
            pool = bands[cls]
            terms = rng.sample(pool, min(k, len(pool)))
        # a repeated, upper-cased term exercises the engine's lower+dedup
        if rng.random() < 0.2:
            terms = [terms[0].upper()] + terms
        queries.append(" ".join(terms))
        classes.append(cls)
    return QueryMix(queries, classes)


@dataclass
class UpdateBatch:
    upserts: list[tuple[int, str, str]]  # new docs and edited existing docs
    deletes: list[int]


def delta(seed: int, base: Corpus, n_new: int, n_edit: int, n_delete: int) -> UpdateBatch:
    """An update batch for ``base``: ``n_new`` new docs, ``n_edit`` rewritten
    docs of ``base``, and ``n_delete`` other docs of ``base`` deleted."""
    rng = random.Random(seed)
    next_id = max(base.doc_ids) + 1
    mean_len = max(2, base.tokens // max(1, len(base.doc_ids)))
    fresh = zipf_corpus(seed * 1000, n_new + n_edit, base.vocab_size, mean_len, first_id=next_id)
    touched = rng.sample(base.doc_ids, n_edit + n_delete)
    edited, deleted = touched[:n_edit], touched[n_edit:]
    ids = list(range(next_id, next_id + n_new)) + edited
    return UpdateBatch([(d, f"doc_{d}", t) for d, t in zip(ids, fresh.texts)], deleted)


# ---------------------------------------------------------------------------
# registry fixture: the star schema, event stream, documents and embeddings
# that the engine's query registry reads (FIXTURES.md group B), at about the
# smallest scale factor's row counts
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]


def registry_tables(seed: int) -> dict:
    """Seeded tables keyed by name, as pyarrow tables: 150 customers, 1500
    orders, 6000 line items, 1000 events, 500 documents and 500 vectors."""
    import datetime as dt

    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: dt.datetime, span: int, n):
        return [start + dt.timedelta(days=int(d)) for d in rng.integers(0, span, n)]

    def pick(values, n):
        return [values[i] for i in rng.integers(0, len(values), n)]

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(pick(_PART_ADJ, n_part), pick(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [round(900.0 + (i % 1000) / 10.0, 2) for i in range(n_part)],
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(days(dt.datetime(1995, 1, 1), 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": pick(_PRIORITIES, n_ord),
    })
    n_li = 4 * n_ord
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array(days(dt.datetime(1995, 1, 2), 2499, n_li), pa.timestamp("us")),
    })
    n_ev = 1000
    start = dt.datetime(2024, 1, 1)
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([start + dt.timedelta(microseconds=int(o)) for o in offsets], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(pick(_DOC_WORDS, int(n))) for n in rng.integers(8, 90, 500)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(500), pa.int64()),
        "text": texts,
        "lang": pick(_LANGS, 500),
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, 500)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.7, (500, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(500), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t
