"""CLI surface: the reference's index.sh / search.sh workflow end-to-end
(reference app.sh:20-26), against a temp TSV corpus and parquet store."""

from __future__ import annotations

import os

import pytest

from big_data_assignment2_2025_spark.cli import main

_CORPUS = [
    (1, "football", "the football game was a great game of football"),
    (2, "cooking", "a recipe for bread and butter pudding"),
    (3, "sports", "game day brings football fans to the stadium"),
]


def _write_tsv(path: str) -> None:
    with open(path, "w") as fh:
        for doc_id, title, text in _CORPUS:
            fh.write(f"{doc_id}\t{title}\t{text}\n")


def test_index_then_search_roundtrip(spark, tmp_path, capsys):
    tsv = str(tmp_path / "corpus.tsv")
    store = str(tmp_path / "store")
    _write_tsv(tsv)

    assert main(["index", tsv, "--store", store]) == 0
    assert os.path.exists(os.path.join(store, "corpus_info"))

    capsys.readouterr()
    assert main(["search", "football game", "--store", store, "-k", "2"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 2
    top = out[0].split("\t")
    assert len(top) == 3  # doc_id \t doc_title \t doc_rank
    # docs 1 and 3 both contain 'football' and 'game'; doc 2 has neither
    assert {ln.split("\t")[0] for ln in out} == {"1", "3"}


def test_search_out_writes_the_printed_rows(spark, tmp_path, capsys):
    import glob

    tsv = str(tmp_path / "corpus.tsv")
    store = str(tmp_path / "store")
    out_dir = str(tmp_path / "out")
    _write_tsv(tsv)
    assert main(["index", tsv, "--store", store]) == 0
    capsys.readouterr()
    assert main(["search", "football game", "--store", store, "--out", out_dir]) == 0
    printed = capsys.readouterr().out.strip().splitlines()
    written = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part) as fh:
            written += fh.read().strip().splitlines()
    assert len(printed) == 2
    assert written == printed


def test_reindex_accumulates_with_reference_quirk(spark, tmp_path, capsys):
    tsv = str(tmp_path / "corpus.tsv")
    store = str(tmp_path / "store")
    _write_tsv(tsv)
    assert main(["index", tsv, "--store", store]) == 0
    err1 = capsys.readouterr().err
    assert "docs=3" in err1
    # re-index the SAME corpus: the reference's read-modify-write upserts
    # double-count re-indexed documents (reducer1.py:18-24; SURVEY A5)
    assert main(["index", tsv, "--store", store]) == 0
    err2 = capsys.readouterr().err
    assert "docs=6" in err2
    # --overwrite resets instead of accumulating
    assert main(["index", tsv, "--store", store, "--overwrite"]) == 0
    err3 = capsys.readouterr().err
    assert "docs=3" in err3


def test_query_and_list_commands(spark, sf_dir, capsys):
    assert main(["list"]) == 0
    listing = capsys.readouterr().out
    assert "bm25_search\tsql-oracle" in listing

    assert main(["query", "index_corpus_info", "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].split("\t")[0] == "corpus_name"
    assert len(out) == 2  # header + the single corpus_info row

    assert main(["query", "no_such_query", "--sf-dir", sf_dir]) == 2


def test_rebuild_is_idempotent(spark, tmp_path, capsys):
    tsv = str(tmp_path / "corpus.tsv")
    store = str(tmp_path / "store")
    _write_tsv(tsv)
    assert main(["index", tsv, "--store", store]) == 0
    capsys.readouterr()
    # --rebuild re-indexes without the double-count quirk: doc count stays
    for _ in range(2):
        assert main(["index", tsv, "--store", store, "--rebuild"]) == 0
        assert "docs=3" in capsys.readouterr().err


def test_delete_subcommand(spark, tmp_path, capsys):
    tsv = str(tmp_path / "corpus.tsv")
    store = str(tmp_path / "store")
    _write_tsv(tsv)
    assert main(["index", tsv, "--store", store]) == 0
    capsys.readouterr()
    assert main(["delete", "1", "3", "--store", store]) == 0
    assert "docs=1" in capsys.readouterr().err
    # the deleted docs no longer match; doc 2 has no 'football'
    assert main(["search", "football", "--store", store]) == 0
    assert capsys.readouterr().out.strip() == ""
    # deleting from a missing store is a clean error
    assert main(["delete", "1", "--store", str(tmp_path / "nope")]) == 2


def test_crash_recovery_restores_stranded_backup(spark, tmp_path, capsys):
    """Simulate a crash between the two swap renames (store gone, the only
    good index stranded in '._old'): the next run must recover it and
    ACCUMULATE, not silently start a fresh store (ADVICE r7)."""
    import os
    import shutil

    tsv = str(tmp_path / "corpus.tsv")
    store = str(tmp_path / "store")
    _write_tsv(tsv)
    assert main(["index", tsv, "--store", store]) == 0
    # crash point: store renamed away, staged dir half-written
    os.rename(store, store + "._old")
    os.makedirs(store + "._staging/term_freq", exist_ok=True)
    capsys.readouterr()
    assert main(["index", tsv, "--store", store]) == 0
    err = capsys.readouterr().err
    assert "recovered" in err
    assert "docs=6" in err  # accumulated onto the RECOVERED store
    assert not os.path.exists(store + "._old")
    assert not os.path.exists(store + "._staging")
    # completed-swap leftover: stale backup is cleaned, store untouched
    shutil.copytree(store, store + "._old")
    assert main(["search", "football", "--store", store]) == 0
    assert not os.path.exists(store + "._old")


def test_delete_rejects_non_integer_ids(tmp_path, capsys):
    assert main(["delete", "abc", "--store", str(tmp_path / "s")]) == 2
    assert "must be integers" in capsys.readouterr().err


def _store_rows(spark, store):
    return {
        name: sorted(tuple(r) for r in spark.read.parquet(os.path.join(store, name)).collect())
        for name in ("term_freq", "term_doc_freq", "doc_info", "corpus_info")
    }


def test_overwrite_crash_leaves_store_unchanged(spark, tmp_path, monkeypatch):
    """``index --overwrite`` writes through the same stage-then-swap as every
    other store write: a crash after the first table leaves the live store
    as it was, not a new term_freq beside the old corpus_info."""
    from big_data_assignment2_2025_spark.operators import index as index_mod

    tsv = str(tmp_path / "corpus.tsv")
    store = str(tmp_path / "store")
    _write_tsv(tsv)
    assert main(["index", tsv, "--store", store]) == 0
    before = _store_rows(spark, store)

    def crash_after_term_freq(index, out_dir):
        index.term_freq.write.mode("overwrite").parquet(os.path.join(out_dir, "term_freq"))
        raise RuntimeError("crash after term_freq")

    monkeypatch.setattr(index_mod, "materialize_index", crash_after_term_freq)
    other = str(tmp_path / "other.tsv")
    with open(other, "w") as fh:
        fh.write("9\tnew\tan entirely different corpus\n")
    with pytest.raises(RuntimeError, match="crash after term_freq"):
        main(["index", other, "--store", store, "--overwrite"])
    assert _store_rows(spark, store) == before


def test_overwrite_and_rebuild_are_exclusive(tmp_path, capsys):
    with pytest.raises(SystemExit) as exc:
        main(["index", "c.tsv", "--store", str(tmp_path / "s"), "--overwrite", "--rebuild"])
    assert exc.value.code == 2
    assert "not allowed with" in capsys.readouterr().err
