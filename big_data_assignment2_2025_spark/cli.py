"""Command-line surface — the Spark-native equivalent of the reference's
shell entry points.

Reference workflow (``app.sh:20-26``): ``prepare_data`` stages the corpus,
``index.sh [path]`` builds the four index tables into Cassandra, and
``search.sh "free text"`` runs the PySpark BM25 query and prints the
top-10 as TSV. Here the store is a parquet directory instead of Cassandra
(SURVEY.md §1.4 mapping), and everything else — the corpus formats, the
incremental accumulate-on-reindex quirk, the TSV result contract
``doc_id\\tdoc_title\\tdoc_rank`` (``app/query.py:139-144``) — is preserved:

    python -m big_data_assignment2_2025_spark index CORPUS --store DIR
    python -m big_data_assignment2_2025_spark index CORPUS --store DIR --rebuild
    python -m big_data_assignment2_2025_spark delete DOC_ID ... --store DIR
    python -m big_data_assignment2_2025_spark search "query text" --store DIR
    python -m big_data_assignment2_2025_spark query QUERY_NAME --sf-dir DIR
    python -m big_data_assignment2_2025_spark list

``--rebuild`` and ``delete`` complete the index lifecycle the reference
lacks (it can only accumulate): rebuild replaces the corpus' documents in
the store instead of accumulating them, so re-indexing is idempotent.
Every store write — fresh build, ``--overwrite``, accumulate, ``--rebuild``
and ``delete`` — goes through one crash-safe stage-then-swap
(``_write_store``) with startup recovery (``_recover_store``).

``index`` accepts the reference's corpus shapes: a ``.tsv`` file/dir of
``doc_id\\tdoc_title\\ttext`` lines (``prepare_data.py:29``), a parquet
``documents`` table, or a single plain-text file (the ad-hoc ``index.sh``
ingest with deterministic id synthesis). Re-indexing into an existing
store ACCUMULATES, faithfully double-counting re-indexed documents —
the reference's read-modify-write semantics (``reducer1.py:18-24``,
SURVEY.md A5) — unless ``--overwrite`` (replace the store) or
``--rebuild`` is given; the two are mutually exclusive.

``query``/``list`` expose the extension registry (TPC-H, dedup, ANN,
streaming, …) so every declared operator is runnable from the shell.
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark(app_name: str):
    from .session import get_spark

    return get_spark(app_name=app_name)


def _read_corpus(spark, path: str):
    """Dispatch on corpus shape: TSV (reference format), parquet documents
    table, or single text file."""
    from .sources.readers import (
        ingest_text_file,
        read_corpus_tsv,
        read_documents,
    )
    from pyspark.sql import functions as F

    lower = path.rstrip("/").lower()
    if lower.endswith(".tsv") or lower.endswith(".csv"):
        return read_corpus_tsv(spark, path)
    if lower.endswith(".parquet") or os.path.isdir(path):
        if os.path.isdir(path) and os.path.exists(
            os.path.join(path, "documents.parquet")
        ):
            return read_documents(spark, path)
        df = spark.read.parquet(path)
        if "doc_title" not in df.columns:
            df = df.withColumn(
                "doc_title",
                F.concat(F.lit("doc_"), F.col("doc_id").cast("string")),
            )
        return df.select("doc_id", "doc_title", "text")
    return ingest_text_file(spark, path)


def _recover_store(store: str) -> None:
    """Crash recovery for the stage-then-swap store write (run before ANY
    store access).  The swap is two renames — ``store -> store._old`` then
    ``store._staging -> store`` — and a crash between them leaves the only
    good index stranded in ``._old`` while the store path is gone; without
    recovery the next ``index`` run's existence check would silently start
    a FRESH store, losing the accumulated state.  A leftover ``._staging``
    is always garbage (the swap completed or never started)."""
    import shutil

    store = store.rstrip("/")
    backup, staged = store + "._old", store + "._staging"
    if os.path.exists(backup):
        if os.path.exists(os.path.join(store, "corpus_info")):
            # swap completed; backup is a stale copy
            shutil.rmtree(backup, ignore_errors=True)
        else:
            # crashed mid-swap: the backup IS the store
            shutil.rmtree(store, ignore_errors=True)
            os.rename(backup, store)
            print(f"recovered {store} from an interrupted write", file=sys.stderr)
    shutil.rmtree(staged, ignore_errors=True)


def _write_store(spark, store: str, index) -> list:
    """The one write path into a store: materialize ``index`` to a sibling
    ``._staging`` dir, then swap it in with the rename pair that
    ``_recover_store`` knows how to repair — a crash mid-write never
    leaves a half-new store (and parquet can't overwrite its own scan
    input, which every update reads). Returns the new ``corpus_info``
    rows, read back from the store."""
    import shutil

    from .operators.index import materialize_index

    store = store.rstrip("/")
    staged, backup = store + "._staging", store + "._old"
    materialize_index(index, staged)
    shutil.rmtree(backup, ignore_errors=True)
    if os.path.exists(store):
        os.rename(store, backup)
    os.rename(staged, store)
    shutil.rmtree(backup, ignore_errors=True)
    return spark.read.parquet(os.path.join(store, "corpus_info")).collect()


def cmd_index(args) -> int:
    from .operators.index import (
        build_index,
        idempotent_reindex,
        incremental_reindex,
        load_materialized_index,
    )

    spark = _spark("cli-index")
    _recover_store(args.store)
    corpus = _read_corpus(spark, args.corpus)
    if args.overwrite or not os.path.exists(os.path.join(args.store, "corpus_info")):
        index, verb = build_index(corpus), "indexed"
    elif args.rebuild:
        # idempotent path: the delta's docs replace their stored versions,
        # no double-count — re-running converges to the fresh build
        index = idempotent_reindex(load_materialized_index(spark, args.store), corpus)
        verb = "rebuilt"
    else:
        # reference-faithful accumulate (double-count quirk, A5)
        index = incremental_reindex(load_materialized_index(spark, args.store), corpus)
        verb = "accumulated"
    rows = _write_store(spark, args.store, index)
    print(f"{verb} into {args.store}", file=sys.stderr)
    for row in rows:
        print(
            f"corpus={row['corpus_name']} docs={row['doc_n']} "
            f"total_len={row['total_doc_length']}",
            file=sys.stderr,
        )
    return 0


def cmd_delete(args) -> int:
    from .operators.index import delete_documents, load_materialized_index

    try:
        id_rows = [(int(d),) for d in args.doc_ids]
    except ValueError:
        bad = []
        for d in args.doc_ids:
            try:
                int(d)
            except ValueError:
                bad.append(d)
        print(f"doc ids must be integers, got: {bad}", file=sys.stderr)
        return 2
    spark = _spark("cli-delete")
    _recover_store(args.store)
    if not os.path.exists(os.path.join(args.store, "corpus_info")):
        print(f"no index store at {args.store}", file=sys.stderr)
        return 2
    old = load_materialized_index(spark, args.store)
    ids = spark.createDataFrame(id_rows, "doc_id int")
    row = _write_store(spark, args.store, delete_documents(old, ids))[0]
    print(
        f"deleted {len(args.doc_ids)} doc id(s); corpus now "
        f"docs={row['doc_n']} total_len={row['total_doc_length']}",
        file=sys.stderr,
    )
    return 0


def cmd_search(args) -> int:
    from .operators.index import load_materialized_index
    from .operators.search import bm25_search
    from .sources.sinks import write_tsv

    spark = _spark("cli-search")
    _recover_store(args.store)
    index = load_materialized_index(spark, args.store)
    result = bm25_search(index, args.query, k=args.k)
    rows = result.collect()
    for r in rows:  # reference TSV contract: doc_id \t doc_title \t doc_rank
        print(f"{r['doc_id']}\t{r['doc_title']}\t{r['doc_rank']}")
    if args.out:
        # the rows already collected, not ``result`` (which would re-run
        # the scan, joins and aggregate)
        write_tsv(spark.createDataFrame(rows, result.schema), args.out)
        print(f"wrote {len(rows)} rows to {args.out}", file=sys.stderr)
    return 0


def cmd_query(args) -> int:
    from .plans import QUERIES

    if args.name not in QUERIES:
        print(f"unknown query: {args.name} (see `list`)", file=sys.stderr)
        return 2
    spark = _spark(f"cli-query-{args.name}")
    df = QUERIES[args.name](spark, args.sf_dir)
    rows = df.limit(args.show).collect()
    print("\t".join(df.columns))
    for r in rows:
        print("\t".join("" if v is None else str(v) for v in r))
    return 0


def cmd_list(_args) -> int:
    from .plans import ORACLES, QUERIES

    for name in sorted(QUERIES):
        gate = "sql-oracle" if name in ORACLES else "rows-only"
        print(f"{name}\t{gate}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="big_data_assignment2_2025_spark",
        description="PySpark-native BM25 search engine + analytics registry",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("index", help="build/accumulate the inverted index")
    pi.add_argument("corpus", help=".tsv corpus, parquet documents table/dir, or plain-text file")
    pi.add_argument("--store", required=True, help="index store directory (parquet)")
    mode = pi.add_mutually_exclusive_group()
    mode.add_argument(
        "--overwrite",
        action="store_true",
        help="replace the store instead of accumulating (reference default accumulates)",
    )
    mode.add_argument(
        "--rebuild",
        action="store_true",
        help="idempotent re-index: the corpus' documents replace their stored "
        "versions — no double-count; re-running converges to a fresh build",
    )
    pi.set_defaults(fn=cmd_index)

    pd = sub.add_parser("delete", help="remove documents from an index store")
    pd.add_argument("doc_ids", nargs="+", help="doc ids to delete")
    pd.add_argument("--store", required=True)
    pd.set_defaults(fn=cmd_delete)

    ps = sub.add_parser("search", help="BM25 top-k over a built store")
    ps.add_argument("query", help="free-text query")
    ps.add_argument("--store", required=True)
    ps.add_argument("-k", type=int, default=10)
    ps.add_argument("--out", help="also write result TSV here")
    ps.set_defaults(fn=cmd_search)

    pq = sub.add_parser("query", help="run a registry query by name")
    pq.add_argument("name")
    pq.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    pq.add_argument("--show", type=int, default=20, help="max rows to print")
    pq.set_defaults(fn=cmd_query)

    pl = sub.add_parser("list", help="list registry queries")
    pl.set_defaults(fn=cmd_list)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
