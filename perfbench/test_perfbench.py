"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from reference import ReferenceIndex  # noqa: E402
from stats import tail  # noqa: E402


def _bands(corpus):
    df = {}
    for text in corpus.texts:
        for w in set(text.split()):
            df[w] = df.get(w, 0) + 1
    return gen.class_bands(df, corpus.vocab_size)


def test_generator_is_deterministic_per_seed():
    a = gen.zipf_corpus(7, 200, 2000, 30)
    b = gen.zipf_corpus(7, 200, 2000, 30)
    c = gen.zipf_corpus(8, 200, 2000, 30)
    assert a.rows() == b.rows()
    assert a.rows() != c.rows()
    qa = gen.query_mix(3, _bands(a), 50)
    qb = gen.query_mix(3, _bands(b), 50)
    assert qa == qb
    assert gen.delta(5, a, 10, 10, 5) == gen.delta(5, b, 10, 10, 5)


def test_generated_words_tokenize_identically():
    corpus = gen.zipf_corpus(1, 50, 5000, 40)
    for text in corpus.texts:
        assert re.findall(r"[\w']+", text.lower()) == text.split()
    assert len({gen.word(r) for r in range(5000)}) == 5000


def test_query_classes_follow_the_pattern():
    corpus = gen.zipf_corpus(2, 300, 3000, 40)
    bands = _bands(corpus)
    mix = gen.query_mix(4, bands, 40)
    assert mix.shares() == {"head": 0.3, "mid": 0.3, "tail": 0.3, "oov": 0.1}
    ref = ReferenceIndex(corpus.rows())
    for q, cls in zip(mix.queries, mix.classes):
        terms = {t.lower() for t in q.split()}
        assert 1 <= len(terms) <= 4
        if cls == "oov":
            assert ref.scores(q) == {}
        else:
            assert terms <= set(bands[cls])


def test_delta_edits_and_deletes_only_live_docs():
    corpus = gen.zipf_corpus(3, 100, 1000, 20)
    live = set(corpus.doc_ids)
    b = gen.delta(9, corpus, 5, 6, 7)
    ids = [d for d, _, _ in b.upserts]
    assert len(ids) == len(set(ids)) == 11
    assert len([d for d in ids if d in live]) == 6
    assert len(set(b.deletes)) == 7
    assert set(b.deletes) <= live and not set(b.deletes) & set(ids)


@pytest.mark.parametrize(
    "n, value, pct",
    [
        (1, 1.0, 100.0),  # no percentile has ten samples beyond it: max
        (10, 10.0, 100.0),
        (11, 1.0, 100.0 / 11),  # only the smallest has ten above it
        (20, 10.0, 50.0),
        (100, 90.0, 90.0),
    ],
)
def test_tail_keeps_ten_samples_beyond(n, value, pct):
    xs = [float(i) for i in range(n, 0, -1)]  # order must not matter
    got = tail(xs)
    assert got == (value, pytest.approx(pct), n)
    if n > 10:
        assert sum(x > got[0] for x in xs) == 10


def _stub_rows(ref, query, k=10):
    scores = ref.scores(query)
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(d, ref.titles[d], s) for d, s in top]


def test_reference_accepts_a_correct_top10_and_ties():
    rows = [(1, "a", "x y"), (2, "b", "x y"), (3, "c", "x z"), (4, "d", "w")]
    ref = ReferenceIndex(rows)
    assert ref.check_topk("x", _stub_rows(ref, "x")) is None
    # docs 1 and 2 tie; with k=1 either is a correct answer
    assert ref.check_topk("y", _stub_rows(ref, "y", 1), k=1) is None
    assert ref.check_topk("y", [(2, "b", ref.scores("y")[2])], k=1) is None
    assert ref.check_topk("nope", []) is None


def test_wrong_top10_is_counted_as_a_failure():
    """A stub search that returns a wrong top-10 must be caught."""
    corpus = gen.zipf_corpus(4, 200, 2000, 30)
    ref = ReferenceIndex(corpus.rows())
    q = " ".join(_bands(corpus)["mid"][:2])
    good = _stub_rows(ref, q)
    wrong = [
        good[1:] + [good[0]],  # order
        good[:-1],  # a row short
        [(d, t, s * 1.001) for d, t, s in good],  # scores
        [(d, t + "x", s) for d, t, s in good],  # titles
        [good[0]] * len(good),  # duplicates
    ]
    assert ref.check_topk(q, good) is None
    assert all(ref.check_topk(q, rows) is not None for rows in wrong)


def test_failures_are_counted_per_operation():
    """A stub search returning a wrong top-10, and one that raises, each
    count as one failed operation; a correct one does not."""
    import workloads
    from spans import Tracer

    corpus = gen.zipf_corpus(6, 200, 2000, 30)
    ref = ReferenceIndex(corpus.rows())
    q = " ".join(_bands(corpus)["head"][:2])
    good = _stub_rows(ref, q)
    wrong = [(d, t, s + 1.0) for d, t, s in good]
    run = workloads.Run(spark=None, tracer=Tracer(None, enabled=False), seed=0,
                        seconds=0, work="", t_start=0)

    def stub_search(rows):
        if rows is None:
            raise RuntimeError("engine error")
        return rows

    done = []
    for rows in (good, wrong, None):
        got = workloads.guarded(run, "search", stub_search, rows)
        if got is not None:
            done.append((q, got))
    workloads.check_searches(run, ref, done)
    assert (run.attempted, run.failed) == (3, 2)


def test_reference_follows_updates_and_deletes():
    ref = ReferenceIndex([(1, "a", "x x y"), (2, "b", "y")])
    assert (ref.doc_n, ref.total_len, ref.df("y")) == (2, 4, 2)
    ref.upsert([(1, "a", "z"), (3, "c", "   ")])  # an edit and a blank doc
    assert (ref.doc_n, ref.total_len, ref.df("x"), ref.df("z")) == (2, 2, 0, 1)
    ref.delete([2, 99])
    assert (ref.doc_n, ref.total_len, ref.df("y")) == (1, 1, 0)


def test_search_loop_cycles_through_the_mix(monkeypatch):
    """A loop that outruns its query mix starts the mix again."""
    import workloads
    from spans import Tracer

    mix = gen.QueryMix([f"q{i}" for i in range(10)], list(gen.PATTERN))
    monkeypatch.setattr(workloads, "search", lambda run, index, q, cls: ([(q, cls)], 1.0, None))
    run = workloads.Run(spark=None, tracer=Tracer(None, enabled=False), seed=0,
                        seconds=0, work="", t_start=0)
    lat, done = [], []
    assert workloads.search_loop(run, None, mix, 5, lat, done, count=20) == 25
    assert [q for q, _ in done] == [f"q{i % 10}" for i in range(5, 25)]
    assert [rows[0][1] for _, rows in done] == [gen.PATTERN[i % 10] for i in range(5, 25)]
    assert (run.attempted, run.failed, len(lat)) == (20, 0, 20)


def test_write_metrics_are_the_fastest_round():
    """pipeline_s and update_batch_s report the fastest write round, so one
    round slowed by load from outside the run does not move them."""
    import workloads
    from spans import Tracer

    corpus = gen.zipf_corpus(7, 50, 500, 20)
    mix = gen.QueryMix([f"q{i}" for i in range(10)], list(gen.PATTERN))
    inputs = workloads.Inputs(corpus, mix, None, "", ("", ""), mix)
    w = workloads.Writes(inputs, None, None, pipelines=[2.5, 5.0], updates=[7.0, 3.5],
                         store=(1000, 4))
    run = workloads.Run(spark=None, tracer=Tracer(None, enabled=False), seed=0,
                        seconds=0, work="", t_start=0)
    m = workloads._e2e(run, w, 20.0, [1.0, 2.0, 3.0], 10)["metrics"]
    assert (m["pipeline_s"], m["update_batch_s"]) == ((2.5, "s"), (3.5, "s"))
    assert m["search_p50_ms"] == (2.0, "ms")


def test_invariant_check_reads_the_store(tmp_path):
    """A store that matches the reference passes; one whose doc_length
    disagrees with its term frequencies fails."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import workloads

    ref = ReferenceIndex([(1, "a", "x x y"), (2, "b", "y")])

    def store(lengths):
        tables = {
            "term_freq/corpus_name=all": pa.table({"term": ["x", "y", "y"], "doc_id": [1, 1, 2],
                                                   "term_frequency": [2, 1, 1]}),
            "term_doc_freq": pa.table({"term": ["x", "y"], "doc_frequency": [1, 2]}),
            "doc_info": pa.table({"doc_id": [1, 2], "doc_length": lengths}),
            "corpus_info": pa.table({"doc_n": [2], "total_doc_length": [4]}),
        }
        root = tmp_path / "-".join(map(str, lengths))
        for name, table in tables.items():
            (root / name).mkdir(parents=True)
            pq.write_table(table, root / name / "part-0.parquet")
        return str(root)

    assert workloads.check_invariants(store([3, 1]), ref) is None
    assert "sum(tf) == doc_length for 1 of 2" in workloads.check_invariants(store([3, 2]), ref)
