"""The benchmark's workloads.

Each workload takes a ``Run`` (session, tracer, seed, scratch directory,
failure book-keeping) and returns its end-to-end metrics plus the inputs'
recorded properties. Every engine call is wrapped in a tracer span named
after the engine function; answers are checked outside the timed regions.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen
from reference import ReferenceIndex
from stats import tail
from spans import Tracer, gc_seconds, phases_ms

from big_data_assignment2_2025_spark.operators.index import (
    InvertedIndex,
    build_index,
    delete_documents,
    idempotent_reindex,
    load_materialized_index,
    materialize_index,
)
from big_data_assignment2_2025_spark.operators.search import bm25_search

#: corpus shape shared by both index workloads (Zipf s=1.07 over 20k words)
N_DOCS, VOCAB, MEAN_LEN = 4_000, 20_000, 100
#: update batch shape: new docs, rewritten docs, deleted docs
N_NEW, N_EDIT, N_DELETE = 150, 150, 100
#: registry queries of a traced run's registry pass: the plans/,
#: operators/, streaming/ and sources/snapshots code that the index
#: workloads do not reach
REGISTRY = (
    "q1_pricing_summary q3_shipping_priority q5_region_revenue "
    "graph_kcore_peel graph_modularity graph_label_propagation "
    "association_rules contamination_check rfm_segmentation user_ltv_deciles "
    "dedup_minhash_lsh dedup_ngram_threshold ann_ivf_topk ann_pq_topk "
    "streaming_hourly_window streaming_rolling_dau_hll "
    "storage_merge_upsert bm25_search_materialized search_rrf_fusion"
).split()
#: queries in search_zipf's timed mix, a multiple of ``len(gen.PATTERN)``;
#: the closed loop cycles through them
ZIPF_QUERIES = 2000
#: untimed searches at the end of set-up, from a mix of their own; the JIT
#: is still compiling the search path for about the first 60 searches of a
#: process
WARMUP = 10
#: timed write rounds: each one rebuilds the store from the corpus and
#: applies the same update batch to it. A run reports the fastest
#: pipeline and the fastest update batch, so a burst of load from outside
#: that slows one of them does not show; the first update batch of a
#: process is also still warming up.
ROUNDS = 2
#: checked searches index_lifecycle runs on each store
PER_STORE = 8


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str  # scratch directory owned by this run
    t_start: float  # perf_counter at process start; set-up counts from it
    attempted: int = 0
    failed: int = 0
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced run)
    timed_searches: set = field(default_factory=set)  # span ids of timed searches

    def fail(self, what: str, reason: str) -> None:
        self.failed += 1
        print(f"FAILED {what}: {reason}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def _write_docs(path: str, rows) -> None:
    ids, titles, texts = zip(*rows)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "doc_title": pa.array(titles, pa.string()),
            "text": pa.array(texts, pa.string()),
        }),
        path,
    )


def _write_ids(path: str, ids) -> None:
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), path)


@dataclass
class Inputs:
    corpus: gen.Corpus
    mix: gen.QueryMix
    batch: gen.UpdateBatch  # the update every write round applies
    corpus_path: str
    batch_paths: tuple[str, str]  # (upserts, deletes) parquet files
    warmup: gen.QueryMix  # untimed searches, disjoint from ``mix``


def stage_inputs(run: Run, n_queries: int) -> Inputs:
    """Generate the seeded inputs and write them as parquet files under
    ``work/inputs``; the engine only ever reads these files."""
    d = run.path("inputs")
    os.makedirs(d)
    corpus = gen.zipf_corpus(run.seed, N_DOCS, VOCAB, MEAN_LEN)
    df: dict[str, int] = {}
    for text in corpus.texts:
        for w in set(text.split()):
            df[w] = df.get(w, 0) + 1
    bands = gen.class_bands(df, VOCAB)
    mix = gen.query_mix(run.seed + 1, bands, n_queries)
    warmup = gen.query_mix(run.seed + 3, bands, WARMUP)
    batch = gen.delta(run.seed + 2, corpus, N_NEW, N_EDIT, N_DELETE)
    corpus_path = os.path.join(d, "corpus.parquet")
    _write_docs(corpus_path, corpus.rows())
    batch_paths = os.path.join(d, "upserts.parquet"), os.path.join(d, "deletes.parquet")
    _write_docs(batch_paths[0], batch.upserts)
    _write_ids(batch_paths[1], batch.deletes)
    return Inputs(corpus, mix, batch, corpus_path, batch_paths, warmup)


def describe(inputs: Inputs, n_queries_used: int) -> dict:
    c = inputs.corpus
    return {
        "docs": len(c.doc_ids),
        "tokens": c.tokens,
        "vocabulary": len({w for t in c.texts for w in t.split()}),
        "text_bytes": c.text_bytes(),
        "query_class_shares": inputs.mix.shares(n_queries_used),
    }


# ---------------------------------------------------------------------------
# engine calls, each under a span
# ---------------------------------------------------------------------------

def store_stats(path: str) -> tuple[int, int]:
    """(bytes of every file, number of parquet data files) under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total, files


def search(run: Run, index: InvertedIndex, query: str, cls: str) -> tuple[list, float, int | None]:
    """One search: ``bm25_search`` plus ``collect``; returns the rows, the
    latency in ms and the search span's id (None untraced)."""
    tr = run.tracer
    t0 = time.perf_counter()
    with tr.span("search", cls=cls) as outer:
        with tr.span("search.bm25_search"):
            df = bm25_search(index, query)
        with tr.span("search.collect") as rec:
            rows = [tuple(r) for r in df.collect()]
    ms = (time.perf_counter() - t0) * 1000.0
    if tr.enabled:
        rec.update(phases_ms(df, "optimization", "planning"), rows=len(rows))
    return rows, ms, outer.get("id")


def search_loop(run: Run, index: InvertedIndex, mix: gen.QueryMix, start: int,
                lat: list, done: list, count: int | None = None,
                until: float | None = None) -> int:
    """Closed loop, one client: search ``mix`` from query ``start`` on,
    cycling through it, for ``count`` queries or until the ``until``
    deadline. Latencies go to ``lat`` and (query, rows) to ``done``;
    returns the next query index."""
    i = start
    while (count is None or i < start + count) and (until is None or time.perf_counter() < until):
        q, cls = mix.queries[i % len(mix.queries)], mix.classes[i % len(mix.queries)]
        run.tracer.request = f"search-{i}"
        got = guarded(run, f"search {q!r}", search, run, index, q, cls)
        if got is not None:
            rows, ms, span_id = got
            lat.append(ms)
            done.append((q, rows))
            if span_id is not None:
                run.timed_searches.add(span_id)
        i += 1
    return i


def pipeline(run: Run, corpus_path: str, out: str, first_query: str, role: str) -> tuple[InvertedIndex, list, float]:
    """The paper's workflow: corpus -> build_index -> materialize_index ->
    load_materialized_index -> first answered search. ``role`` tags the
    spans: "cold" for the set-up build, "pipeline" for the timed one."""
    tr = run.tracer
    spark = run.spark
    t0 = time.perf_counter()
    with tr.span("pipeline", role=role):
        corpus = spark.read.parquet(corpus_path)
        with tr.span("index.build_index", role=role):
            index = build_index(corpus)
        with tr.span("index.materialize_index", role=role):
            materialize_index(index, out)
        index.unpersist()
        with tr.span("index.load_materialized_index", role=role):
            loaded = load_materialized_index(spark, out)
        rows = search(run, loaded, first_query, "first")[0]
    return loaded, rows, time.perf_counter() - t0


def update_batch(run: Run, index: InvertedIndex, paths: tuple[str, str], out: str,
                 role: str) -> tuple[InvertedIndex, float]:
    """idempotent_reindex of the upserts, delete_documents of the deletes,
    materialize_index to a fresh directory, then reload it. ``role`` tags
    the spans: "cold" for the set-up update, "update" for the timed ones."""
    tr = run.tracer
    spark = run.spark
    t0 = time.perf_counter()
    with tr.span("update_batch", role=role):
        upserts = spark.read.parquet(paths[0])
        deletes = spark.read.parquet(paths[1])
        with tr.span("index.idempotent_reindex", role=role):
            updated = idempotent_reindex(index, upserts)
        with tr.span("index.delete_documents", role=role):
            updated = delete_documents(updated, deletes)
        with tr.span("index.materialize_index", role=role):
            materialize_index(updated, out)
        with tr.span("index.load_materialized_index", role=role):
            loaded = load_materialized_index(spark, out)
    return loaded, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# checks (never inside a timed region)
# ---------------------------------------------------------------------------

def _store_table(store: str, name: str) -> pa.Table:
    return pads.dataset(os.path.join(store, name), format="parquet", partitioning="hive").to_table()


def check_invariants(store: str, ref: ReferenceIndex) -> str | None:
    """Read the store's parquet files directly, not through the engine, and
    check that doc_n and total_doc_length match the reference corpus state,
    sum(term_frequency) == doc_length for every doc, 0 < df <= doc_n, and
    the vocabulary size matches."""
    (ci,) = _store_table(store, "corpus_info").to_pylist()
    if (ci["doc_n"], ci["total_doc_length"]) != (ref.doc_n, ref.total_len):
        return f"corpus_info {(ci['doc_n'], ci['total_doc_length'])} != {(ref.doc_n, ref.total_len)}"
    sums = _store_table(store, "term_freq").group_by("doc_id").aggregate([("term_frequency", "sum")])
    tf = dict(zip(sums["doc_id"].to_pylist(), sums["term_frequency_sum"].to_pylist()))
    docs = _store_table(store, "doc_info")
    lengths = dict(zip(docs["doc_id"].to_pylist(), docs["doc_length"].to_pylist()))
    ok = sum(tf.get(d) == n for d, n in lengths.items())
    if len(docs) != ref.doc_n or ok != ref.doc_n or len(tf) != ref.doc_n:
        return (f"sum(tf) == doc_length for {ok} of {len(docs)} docs ({len(tf)} with terms), "
                f"expected {ref.doc_n}")
    dfs = _store_table(store, "term_doc_freq")["doc_frequency"].to_pylist()
    ok = sum(0 < v <= ci["doc_n"] for v in dfs)
    if len(dfs) != len(ref.postings) or ok != len(dfs):
        return f"df in (0, doc_n] for {ok} of {len(dfs)} terms, expected {len(ref.postings)}"
    return None


def check_searches(run: Run, ref: ReferenceIndex, done: list[tuple[str, list]]) -> None:
    for query, rows in done:
        reason = ref.check_topk(query, rows)
        if reason is not None:
            run.fail(f"search {query!r}", reason)


def guarded(run: Run, what: str, fn, *args):
    """Run one operation; an exception counts as a failed operation."""
    run.attempted += 1
    try:
        return fn(*args)
    except Exception:  # a failing operation is a result, not a crash
        run.fail(what, traceback.format_exc(limit=3))
        return None


# ---------------------------------------------------------------------------
# traced-run layer metrics
# ---------------------------------------------------------------------------

def _med(spans: list[dict], key) -> float:
    return float(statistics.median(key(s) for s in spans))


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _children(tr: Tracer, parent: dict, name: str) -> list[dict]:
    return [s for s in tr.spans if s["parent"] == parent["id"] and s["name"] == name]


def index_layers(tr: Tracer) -> dict:
    """Index build, load and update layers, as medians over the spans of
    the timed pipeline and update batches."""
    def timed(name, role=("pipeline", "update")):
        return [s for s in tr.named(name) if s["role"] in role]

    builds = timed("index.build_index")
    pmat = timed("index.materialize_index", ("pipeline",))
    umat = timed("index.materialize_index", ("update",))
    batches = timed("update_batch", ("update",))

    def batch_sum(key):  # the batch's own jobs plus its children's
        return lambda b: b[key] + sum(s[key] for s in tr.spans if s["parent"] == b["id"])

    def update_call(b):
        calls = _children(tr, b, "index.idempotent_reindex") + _children(tr, b, "index.delete_documents")
        return sum(_dur(s) for s in calls) * 1000.0

    m = "operators.index.materialize"
    return {
        "operators.index.build_call_ms": (_med(builds, _dur) * 1000.0, "ms"),
        f"{m}_s": (_med(pmat, _dur), "s"),
        f"{m}_jobs": (_med(pmat, lambda s: s["jobs"]), "count"),
        f"{m}_stages": (_med(pmat, lambda s: s["stages"]), "count"),
        f"{m}_tasks": (_med(pmat, lambda s: s["tasks"]), "count"),
        f"{m}_shuffle_write_bytes": (_med(pmat, lambda s: s["shuffle_write_bytes"]), "bytes"),
        f"{m}_spill_bytes": (_med(pmat, lambda s: s["spill_bytes"]), "bytes"),
        f"{m}_gc_s": (_med(pmat, lambda s: s["gc_ms"]) / 1000.0, "s"),
        "operators.index.load_s": (_med(timed("index.load_materialized_index"), _dur), "s"),
        "operators.index.update_call_ms": (_med(batches, update_call), "ms"),
        "operators.index.update_materialize_s": (_med(umat, _dur), "s"),
        "operators.index.update_jobs": (_med(batches, batch_sum("jobs")), "count"),
        "operators.index.update_shuffle_write_bytes": (
            _med(batches, batch_sum("shuffle_write_bytes")), "bytes"),
    }


def search_layers(tr: Tracer, timed_ids: set) -> dict:
    """Per-call search layers over the timed searches, overall and by class."""
    call = {s["parent"]: s for s in tr.named("search.bm25_search")}
    coll = {s["parent"]: s for s in tr.named("search.collect")}
    searches = [s for s in tr.named("search") if s["id"] in timed_ids]
    calls = [call[s["id"]] for s in searches]
    collects = [coll[s["id"]] for s in searches]
    out = {
        "operators.search.call_ms": (_med(calls, _dur) * 1000.0, "ms"),
        "operators.search.optimization_ms": (_med(collects, lambda s: s["optimization"]), "ms"),
        "operators.search.planning_ms": (_med(collects, lambda s: s["planning"]), "ms"),
        "operators.search.collect_ms": (_med(collects, _dur) * 1000.0, "ms"),
    }
    for key in ("jobs", "stages", "tasks"):
        out[f"operators.search.{key}"] = (_med(collects, lambda s: s[key]), "count")
    out["operators.search.shuffle_write_bytes"] = (
        _med(collects, lambda s: s["shuffle_write_bytes"]), "bytes")
    for cls in gen.CLASSES:
        ks = [coll[s["id"]] for s in searches if s["cls"] == cls]
        out[f"operators.search.input_rows.{cls}"] = (_med(ks, lambda s: s["input_rows"]), "rows")
        out[f"operators.search.rows_read_per_result.{cls}"] = (
            _med(ks, lambda s: s["input_rows"] / max(1, s["rows"])), "rows/result")
        out[f"operators.search.collect_ms.{cls}"] = (_med(ks, _dur) * 1000.0, "ms")
    return out


def registry_layers(tr: Tracer) -> dict:
    """Time and counters of each query of the registry pass, and the pass."""
    out = {"plans.pass_s": (_dur(tr.named("plans")[0]), "s")}
    for q in REGISTRY:
        (s,) = tr.named(f"plans.{q}")
        out[f"plans.{q}.s"] = (_dur(s), "s")
        out[f"plans.{q}.jobs"] = (s["jobs"], "count")
        out[f"plans.{q}.tasks"] = (s["tasks"], "count")
        out[f"plans.{q}.shuffle_write_bytes"] = (s["shuffle_write_bytes"], "bytes")
    return out


def traced_layers(run: Run) -> dict:
    """Every per-layer metric of a traced run as ``name: (value, unit)``;
    call after ``tracer.resolve``."""
    tr = run.tracer
    return {**run.layers, **index_layers(tr), **search_layers(tr, run.timed_searches),
            **registry_layers(tr)}


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def required(run: Run, what: str, fn, *args):
    """``guarded`` for an operation the rest of the run depends on."""
    got = guarded(run, what, fn, *args)
    if got is None:
        raise RuntimeError(f"{what} failed")
    return got


def check_store(run: Run, what: str, store: str, ref: ReferenceIndex, answered=()) -> None:
    """Fail ``what`` once if the store at ``store`` breaks an invariant or
    one of its ``answered`` (query, rows) searches is wrong."""
    reason = check_invariants(store, ref)
    for q, rows in answered:
        reason = reason or ref.check_topk(q, rows)
    if reason:
        run.fail(what, reason)


@dataclass
class Writes:
    """The timed write rounds of a run: the seconds of each pipeline and
    update batch, and the references their stores are checked against."""
    inputs: Inputs
    built: ReferenceIndex  # the corpus
    updated: ReferenceIndex  # the corpus after the update batch
    pipelines: list[float] = field(default_factory=list)
    updates: list[float] = field(default_factory=list)
    store: tuple[int, int] = (0, 0)  # bytes and parquet files of the first store


def prepared(run: Run, n_queries: int) -> tuple[Writes, InvertedIndex, float]:
    """Set-up shared by the index workloads: stage the inputs and their
    references, build a first store, cold, on which the JVM compiles the
    index and search paths, then run the warm-up searches on it. Returns
    the write rounds' book-keeping, that store and the set-up seconds."""
    inputs = stage_inputs(run, n_queries)
    built = ReferenceIndex(inputs.corpus.rows())
    updated = ReferenceIndex(inputs.corpus.rows())
    updated.upsert(inputs.batch.upserts)
    updated.delete(inputs.batch.deletes)
    q = inputs.mix.queries[-1]
    run.tracer.request = "cold-pipeline"
    index, rows, _ = required(run, "cold pipeline", pipeline, run, inputs.corpus_path,
                              run.path("store-cold"), q, "cold")
    check_store(run, "cold pipeline", run.path("store-cold"), built, [(q, rows)])
    for q, cls in zip(inputs.warmup.queries, inputs.warmup.classes):
        search(run, index, q, cls)
    return Writes(inputs, built, updated), index, time.perf_counter() - run.t_start


def timed_pipeline(run: Run, w: Writes, r: int) -> InvertedIndex:
    """Round ``r``'s pipeline into a fresh store, checked."""
    store = run.path(f"store-{r}")
    q = w.inputs.mix.queries[-2]
    run.tracer.request = f"pipeline-{r}"
    index, rows, seconds = required(run, f"pipeline {r}", pipeline, run, w.inputs.corpus_path,
                                    store, q, "pipeline")
    check_store(run, f"pipeline {r}", store, w.built, [(q, rows)])
    w.pipelines.append(seconds)
    if r == 0:
        w.store = store_stats(store)
    return index


def timed_update(run: Run, w: Writes, index: InvertedIndex, r: int) -> InvertedIndex:
    """The update batch applied to round ``r``'s store, checked."""
    store = run.path(f"store-{r}u")
    run.tracer.request = f"update-{r}"
    index, seconds = required(run, f"update batch {r}", update_batch, run, index,
                              w.inputs.batch_paths, store, "update")
    check_store(run, f"update batch {r}", store, w.updated)
    w.updates.append(seconds)
    return index


def search_zipf(run: Run) -> dict:
    """Read-heavy: a long-lived searcher over the set-up store answers a
    closed loop of searches, one client, for ``--seconds`` in parts. The
    same process runs ``ROUNDS`` write rounds on other stores, and each
    pipeline and update batch is followed by one part of the loop."""
    w, index, setup_s = prepared(run, n_queries=ZIPF_QUERIES)
    part = run.seconds / (2 * ROUNDS)
    gc0 = gc_seconds(run.spark)
    lat: list[float] = []
    done: list = []
    qi = 0

    def searches() -> None:
        nonlocal qi
        qi = search_loop(run, index, w.inputs.mix, qi, lat, done, until=time.perf_counter() + part)

    for r in range(ROUNDS):
        built = timed_pipeline(run, w, r)
        searches()
        timed_update(run, w, built, r)
        searches()
    run.layers["spark.gc_s"] = (gc_seconds(run.spark) - gc0, "s")
    check_searches(run, w.built, done)  # the searched store never changes
    return _e2e(run, w, setup_s, lat, qi)


def index_lifecycle(run: Run) -> dict:
    """Write-heavy: write rounds until the timed work reaches ``--seconds``
    (at least ``ROUNDS``). Each round runs the pipeline into a fresh store,
    ``PER_STORE`` checked searches on it, the update batch, and
    ``PER_STORE`` checked searches on the updated store."""
    w, _, setup_s = prepared(run, n_queries=2 * PER_STORE * ROUNDS)
    lat: list[float] = []

    def searches(index, qi: int, ref: ReferenceIndex) -> int:
        done: list = []
        qi = search_loop(run, index, w.inputs.mix, qi, lat, done, count=PER_STORE)
        check_searches(run, ref, done)
        return qi

    gc0 = gc_seconds(run.spark)
    qi = r = 0
    while r < ROUNDS or sum(w.pipelines) + sum(w.updates) + sum(lat) / 1000.0 < run.seconds:
        index = timed_pipeline(run, w, r)
        qi = searches(index, qi, w.built)
        qi = searches(timed_update(run, w, index, r), qi, w.updated)
        r += 1
    run.layers["spark.gc_s"] = (gc_seconds(run.spark) - gc0, "s")
    return _e2e(run, w, setup_s, lat, qi)


def _e2e(run: Run, w: Writes, setup_s: float, lat: list[float], n_used: int) -> dict:
    p50 = statistics.median(lat)
    tail_ms, pct, n = tail(lat)
    store_bytes, store_files = w.store
    run.layers.update({
        "sources.store_bytes": (store_bytes, "bytes"),
        "sources.store_files": (store_files, "count"),
    })
    return {
        "metrics": {
            "setup_s": (setup_s, "s"),
            "search_p50_ms": (p50, "ms"),
            "search_tail_ms": (tail_ms, "ms"),
            "pipeline_s": (min(w.pipelines), "s"),
            "update_batch_s": (min(w.updates), "s"),
            "store_bytes_per_input_byte": (store_bytes / w.inputs.corpus.text_bytes(), "ratio"),
        },
        "info": {
            "search_tail_percentile": pct,
            "search_samples": n,
            "pipeline_samples_s": w.pipelines,
            "update_batch_samples_s": w.updates,
            "inputs": describe(w.inputs, n_used),
        },
    }


def registry_pass(run: Run) -> None:
    """One pass over the fixed registry list, in a seeded order, on a
    generated fixture; every result is hashed against its DuckDB oracle.
    A traced run makes it after its workload, for the ``plans.*`` layers."""
    import random

    import duckdb
    from tools.oracle_check import _hash_rows

    from big_data_assignment2_2025_spark.plans import ORACLES, QUERIES

    fixture = run.path("fixture")
    os.makedirs(fixture)
    for name, table in gen.registry_tables(run.seed).items():
        pq.write_table(table, os.path.join(fixture, f"{name}.parquet"))
    order = list(REGISTRY)
    random.Random(run.seed).shuffle(order)

    def run_query(q: str) -> tuple[list, list]:
        run.tracer.request = q
        with run.tracer.span(f"plans.{q}"):
            df = QUERIES[q](run.spark, fixture)
            return df.columns, [tuple(r) for r in df.collect()]

    answers: list[tuple[str, tuple]] = []
    with run.tracer.span("plans"):
        for q in order:
            got = guarded(run, f"registry {q}", run_query, q)
            if got is not None:
                answers.append((q, got))

    con = duckdb.connect()
    for f in os.listdir(fixture):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(fixture, f)}')")
    for q, (cols, rows) in answers:
        tbl = con.execute(ORACLES[q]).arrow()
        want_cols = tbl.schema.names
        want = _hash_rows(want_cols, [tuple(d[c] for c in want_cols) for d in tbl.to_pylist()])
        if (sorted(cols), _hash_rows(cols, rows)) != (sorted(want_cols), want):
            run.fail(f"registry {q}", f"{len(rows)} rows do not match the oracle")
    con.close()


WORKLOADS = {
    "search_zipf": search_zipf,
    "index_lifecycle": index_lifecycle,
}
