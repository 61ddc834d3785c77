"""Snapshot store as a STREAMING SOURCE via the PySpark 4 Python
DataSource API — the read-side twin of the foreachBatch txn sink
(``streaming/stream.py run_streaming_snapshot_sink``): downstream
consumers tail the table's version log and receive each commit's ADDED
members as a micro-batch, exactly once, without ever rescanning the
table — Delta's "table as a stream source" contract re-expressed over
``sources/snapshots.py``.

Design:

- **The offset is the version number.** ``latestOffset`` is one
  manifest-directory listing (bounded by commit count);
  ``partitions(start, end)`` resolves the versions in ``(start, end]``
  and ships ONE input partition per data FILE of their ``added``
  members — so a big commit parallelizes across executors while a
  nightly trickle costs one task. The planning data is manifests only,
  O(new commits), never a table scan: the same incremental-consumption
  math as ``SnapshotStore.diff``.
- **Executors read Arrow, not rows.** ``read()`` yields
  ``pyarrow.RecordBatch`` per file (column-pruned to the requested
  schema) — the vectorized path the API provides for exactly this.
- **Non-append commits refuse loudly** (overwrite / merge / compact
  rewrite history; their ``added`` set is not a row-level delta).
  ``skipChangeCommits=true`` opts into skipping them — both behaviors
  copied from Delta's streaming source, because silently replaying a
  compaction as new rows is the classic double-count bug.
- **Change-feed mode** (``readChangeFeed=true``, Delta's option): the
  schema gains ``_change_type``/``_commit_version``, merge versions
  SERVE their recorded pre/post-image directory as the batch, and
  appends synthesize ``insert`` rows — a streaming consumer of the
  table's CDC log (index refresh, downstream MERGE) without ever
  scanning unchanged members; row-identical to the batch
  ``SnapshotStore.read_changes`` (test-pinned), whose content the
  ``storage_change_feed`` gate hash-verifies cross-engine.
- **Exactly-once falls out of offset tracking**: the engine checkpoints
  the last committed version; a restart resumes from it, and versions
  are immutable once published.
- **Vacuumed history fails loudly** (``failOnDataLoss``, Delta's
  option, default ``true``): a checkpointed consumer resuming across a
  ``vacuum()`` that dropped unconsumed commits errors instead of
  silently losing their rows; ``failOnDataLoss=false`` is the explicit
  opt-out, and versions below ``startVersion`` /
  ``initialSnapshotVersion`` are intentionally superseded, not lost.

Scale: offsets/planning are manifest-sized; each micro-batch reads only
the files that commit added. At 100 TB the stream costs what the night's
ingest costs — the table's size never appears in the plan. Honest
limitation: Spark does not push column pruning / filters into Python
DataSource scans (the reader receives the full table schema), so the
per-file Arrow read materializes whole files; the batch format-API
reader is an INTEROP surface — scans that need parquet-level pruning
should use the native ``SnapshotStore.read/read_where/read_point``
paths, whose member-level pruning this source cannot replicate.

No reference counterpart; Structured-Streaming extension per SURVEY §7.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructField, StructType

FORMAT_NAME = "snapshotstream"

#: reader generations this code understands (Delta's protocol
#: ``minReaderVersion`` re-expressed): 1 = base manifests, 2 = deletion
#: vectors, 3 = initial defaults + CHECK constraints, 4 = column
#: mapping (rename/drop) + identity/generated columns. A manifest
#: stamped with a HIGHER requirement refuses loudly on open — an old
#: reader silently ignoring ``deletes``/``defaults``/``column_mapping``
#: keys would serve wrong rows, the worst failure class a store can
#: have. Declared here, not in ``snapshots.py``, because this module must
#: stay light for executor import; the store imports it.
_READER_VERSION = 4

#: the store's version log: ``_manifests/v{N:08d}.json``, one per version
_MANIFEST_DIR = "_manifests"


def _read_file_backfilled(
    path: str,
    schema: StructType,
    dv_paths: tuple[str, ...] = (),
    rel_path: str | None = None,
    fill: tuple[tuple[str, object], ...] = (),
    colmap: tuple[tuple[str, str], ...] = (),
):
    """One parquet file as Arrow batches, column-pruned to ``schema``
    with NULL backfill for columns the file predates (the manifest-
    schema read discipline, executor-side). Shared by the batch and
    stream readers.

    ``dv_paths`` are position-delete (deletion vector) parquet files of
    this file's member: rows whose ``(_file, _pos)`` address matches
    ``rel_path`` (the store-relative ``data/c…/part…`` path Spark-side
    reads derive from ``_metadata.file_path``) are MASKED before the
    batches are yielded — the executor-side twin of the anti-join
    ``SnapshotStore._read_members`` applies, so the format-API read of
    a delete_where/update_where/merge_on_read version serves the same
    live rows as the native path (ADVICE r11: without this the batch
    format read silently returned deleted rows). Cost is O(masked rows
    of the dirty member); clean members ship no ``dv_paths`` and keep
    the plain columnar read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    if dv_paths:
        import pyarrow.compute as pc

        masked: set[int] = set()
        for dvp in dv_paths:
            dv = pq.read_table(dvp, columns=["_file", "_pos"])
            hit = dv.filter(pc.equal(dv.column("_file"), rel_path))
            masked.update(hit.column("_pos").to_pylist())
        if masked:
            # pyarrow row order == parquet row_index order, the same
            # address space _metadata.row_index exposes Spark-side
            keep = pa.array(
                [i not in masked for i in range(len(table))],
                pa.bool_(),
            )
            table = table.filter(keep)
    names = [f.name for f in schema.fields]
    fills = dict(fill)
    phys_of = dict(colmap)  # logical -> physical (column mapping)
    cols = []
    for f in schema.fields:
        phys = phys_of.get(f.name, f.name)
        if phys in table.column_names:
            cols.append(table.column(phys))
        else:
            from pyspark.sql.pandas.types import to_arrow_type

            t = to_arrow_type(f.dataType)
            if f.name in fills:
                # initial-default backfill: this file's member predates
                # the column and its manifest entry carries the value.
                # Build untyped then cast so value/type coercion matches
                # the native path's F.lit(value).cast(dtype) (a direct
                # typed pa.array raises ArrowInvalid on e.g. a string
                # default for a date column, where the cast succeeds).
                cols.append(
                    pa.array([fills[f.name]] * len(table)).cast(t)
                )
            else:
                cols.append(pa.nulls(len(table), t))
    yield from pa.table(cols, names=names).to_batches()


@dataclass
class _FilePartition(InputPartition):
    """One parquet file of one added member (picklable). In change-feed
    mode, ``change_type``/``version`` tag data files whose rows must be
    synthesized into feed rows (appends -> inserts); feed files carry
    their own meta columns (``change_type`` None). ``dv_paths`` /
    ``rel_path`` carry the member's position-delete files and the
    file's store-relative address so the executor can mask deleted
    rows (merge-on-read, executor-side)."""

    path: str
    change_type: str | None = None
    version: int | None = None
    dv_paths: tuple[str, ...] = ()
    rel_path: str | None = None
    fill: tuple[tuple[str, object], ...] = ()
    colmap: tuple[tuple[str, str], ...] = ()


def _member_file_partitions(
    store_path: str,
    doc: dict,
    members: list[str],
    change_type: str | None = None,
    version: int | None = None,
) -> list[_FilePartition]:
    """One ``_FilePartition`` per parquet file of ``members``, with the
    member's deletion-vector files attached (resolved driver-side from
    the manifest's ``deletes`` map — executors never list directories).
    The shared planning step of the batch reader, the stream's
    ``initialSnapshotVersion`` baseline, and append batches (whose
    members never carry DVs at publish time)."""
    deletes = doc.get("deletes") or {}
    defaults = doc.get("defaults") or {}
    colmap = tuple(sorted((doc.get("column_mapping") or {}).items()))
    out: list[_FilePartition] = []
    for member in members:
        full = os.path.join(store_path, member)
        dv_paths: tuple[str, ...] = tuple(
            os.path.join(store_path, d, n)
            for d in deletes.get(member, [])
            for n in sorted(os.listdir(os.path.join(store_path, d)))
            if n.endswith(".parquet")
        )
        fill = tuple(
            sorted(
                (col, spec["value"])
                for col, spec in defaults.items()
                if member in set(spec.get("members", []))
            )
        )
        for name in sorted(os.listdir(full)):
            if name.endswith(".parquet"):
                out.append(
                    _FilePartition(
                        os.path.join(full, name),
                        change_type=change_type,
                        version=version,
                        dv_paths=dv_paths,
                        rel_path=f"{member}/{name}",
                        fill=fill,
                        colmap=colmap,
                    )
                )
    return out


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{version:08d}.json")


def _list_versions(path: str) -> list[int]:
    """Committed versions under ``path``, ascending. Listing the manifest
    directory is the only directory scan of a store, bounded by commit
    count."""
    return sorted(
        int(n[1:-5])
        for n in os.listdir(os.path.join(path, _MANIFEST_DIR))
        if n.startswith("v") and n.endswith(".json")
    )


def _load_manifest(path: str, version: int, error=ValueError) -> dict:
    """Manifest ``version`` of the store at ``path``; raises ``error`` when
    its ``min_reader_version`` is newer than ``_READER_VERSION``."""
    with open(_manifest_path(path, version)) as fh:
        doc = json.load(fh)
    need = int(doc.get("min_reader_version", 1))
    if need > _READER_VERSION:
        raise error(
            f"manifest v{version} requires reader protocol {need} but "
            f"this reader understands {_READER_VERSION}: a newer writer "
            "recorded table features this generation would silently "
            "mis-read (wrong rows). Upgrade the reader."
        )
    return doc


class SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self._schema = schema
        opts = {k.lower(): v for k, v in options.items()}
        self._path = opts["path"]
        self._skip_change = (
            str(opts.get("skipchangecommits", "false")).lower() == "true"
        )
        start = opts.get("startversion")
        self._start = int(start) if start is not None else 0
        isv = opts.get("initialsnapshotversion")
        self._initial_snapshot = int(isv) if isv is not None else 0
        self._cdc = (
            str(opts.get("readchangefeed", "false")).lower() == "true"
        )
        self._fail_on_data_loss = (
            str(opts.get("failondataloss", "true")).lower() != "false"
        )

    # -- manifest access (driver side; shared Spark-free helpers) --

    def _manifest(self, version: int) -> dict:
        return _load_manifest(self._path, version)

    def _versions(self) -> list[int]:
        return _list_versions(self._path)

    # -- stream reader contract --

    def initialOffset(self) -> dict:
        # versions <= startversion are history the consumer opted out of
        return {"version": self._start}

    def latestOffset(self) -> dict:
        vs = self._versions()
        return {"version": vs[-1] if vs else self._start}

    def partitions(self, start: dict, end: dict):
        out: list[_FilePartition] = []
        existing = set(self._versions())
        first = min(existing, default=0)
        for v in range(start["version"] + 1, end["version"] + 1):
            if v not in existing:
                if v < first:
                    # vacuumed history: manifests strictly below the
                    # earliest retained one are gone by GC. A consumer
                    # whose startVersion covers them opted out; any OTHER
                    # checkpointed consumer resuming across the vacuum
                    # has LOST those commits' rows — Delta's streaming
                    # source fails here unless failOnDataLoss=false is
                    # explicit, and so do we (ADVICE r11: the silent skip
                    # was a silent data loss)
                    declared_superseded = (
                        self._initial_snapshot
                        and v < self._initial_snapshot
                    )
                    if (
                        v <= self._start
                        or declared_superseded
                        or not self._fail_on_data_loss
                    ):
                        continue
                    raise ValueError(
                        f"snapshot stream offset range needs v{v} but the "
                        f"earliest retained manifest is v{first}: a "
                        "vacuum() dropped history this checkpoint had not "
                        "consumed — rows are lost. Set "
                        "failOnDataLoss=false to accept skipping the "
                        "vacuumed commits, or restart from a fresh "
                        "checkpoint/startVersion."
                    )
                # a hole ABOVE the earliest retained manifest is store
                # corruption and must never be silently skipped
                raise ValueError(
                    f"manifest v{v} is missing but later versions exist — "
                    "store corruption or a concurrent vacuum of retained "
                    "history; restart from a later startVersion"
                )
            doc = self._manifest(v)
            # change-feed mode (Delta readChangeFeed): a merge version is
            # SERVED — its recorded pre/post-image directory replays as
            # the batch — and appends synthesize insert rows; rewrite
            # commits without a feed still refuse/skip below
            if self._cdc and doc.get("changes") is not None:
                full = os.path.join(self._path, doc["changes"])
                for name in sorted(os.listdir(full)):
                    if name.endswith(".parquet"):
                        out.append(
                            _FilePartition(os.path.join(full, name))
                        )
                continue
            # v1 is exempt from the non-append refusal by construction:
            # there was no prior data for it to rewrite, so it IS a
            # row-level delta whatever its mode. Any LATER rewrite commit
            # (including one that became min(versions) after a vacuum)
            # must not ride that exemption — a checkpointed consumer that
            # already consumed the pre-compaction appends would double-
            # count every row. A consumer that KNOWS a rewrite version is
            # its intended baseline declares it: initialSnapshotVersion=N
            # serves exactly that version as the initial batch.
            initial = v == 1 or v == self._initial_snapshot
            if doc["mode"] not in ("append", "alter") and not initial:
                if self._skip_change:
                    continue
                raise ValueError(
                    f"snapshot stream hit a {doc['mode']!r} commit at "
                    f"v{v}: its file set is not a row-level delta. Set "
                    "skipChangeCommits=true to skip rewrite commits "
                    "(Delta's escape hatch), declare it the baseline with "
                    "initialSnapshotVersion, or restart from a later "
                    "startVersion."
                )
            if initial and v > 1:
                # a declared baseline must serve the FULL live state of
                # that version — members with deletion vectors masked —
                # not its 'added' set: a delete commit adds nothing, an
                # update/merge-on-read/compact_masked adds only the
                # post-image/rewritten members (ADVICE r11: serving
                # 'added' here was silent data loss on exactly the
                # commits the refusal message steers users toward).
                # v1 keeps the plain path below (added == members and
                # no DVs can exist by construction).
                out.extend(
                    _member_file_partitions(
                        self._path,
                        doc,
                        doc["members"],
                        change_type="insert" if self._cdc else None,
                        version=v if self._cdc else None,
                    )
                )
                continue
            out.extend(
                _member_file_partitions(
                    self._path,
                    doc,
                    doc.get("added", []),
                    change_type="insert" if self._cdc else None,
                    version=v if self._cdc else None,
                )
            )
        # an empty range still needs >= 1 partition only if rows exist;
        # the engine accepts [] for a no-op batch
        return out

    def read(self, partition: _FilePartition):
        # executor side: Arrow batches; members may predate an additive
        # evolution — missing columns NULL-backfill, extra ones prune.
        # In change-feed mode, feed files already carry the meta columns
        # (the full CDC schema backfills them like any other); append
        # data files synthesize them as literals.
        if partition.change_type is None:
            yield from _read_file_backfilled(
                partition.path,
                self._schema,
                partition.dv_paths,
                partition.rel_path,
                partition.fill,
                partition.colmap,
            )
            return
        import pyarrow as pa

        table_schema = StructType(
            [
                f
                for f in self._schema.fields
                if f.name not in ("_change_type", "_commit_version")
            ]
        )
        names = [f.name for f in table_schema.fields] + [
            "_change_type",
            "_commit_version",
        ]
        for batch in _read_file_backfilled(
            partition.path,
            table_schema,
            partition.dv_paths,
            partition.rel_path,
            partition.fill,
            partition.colmap,
        ):
            n = batch.num_rows
            yield pa.RecordBatch.from_arrays(
                list(batch.columns)
                + [
                    pa.array([partition.change_type] * n, pa.string()),
                    pa.array([partition.version] * n, pa.int32()),
                ],
                names=names,
            )

    def commit(self, end: dict) -> None:
        pass  # offsets are engine-checkpointed; versions are immutable


class SnapshotBatchReader(DataSourceReader):
    """Batch read of ONE version through the format API — time travel as
    ``.option("version", N)`` (default latest), one input partition per
    member file, same Arrow backfill path as the stream."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self._schema = schema
        opts = {k.lower(): v for k, v in options.items()}
        self._path = opts["path"]
        self._version = (
            int(opts["version"]) if "version" in opts else None
        )

    def partitions(self):
        vs = _list_versions(self._path)
        v = self._version if self._version is not None else (
            vs[-1] if vs else None
        )
        if v is None or v not in vs:
            raise ValueError(f"version {v} not committed under {self._path}")
        doc = _load_manifest(self._path, v)
        # deletion vectors apply executor-side (dv_paths per file), so a
        # time-travel read of a delete/update/merge-on-read version
        # serves exactly the live rows the native SnapshotStore.read
        # serves — never the masked pre-images (ADVICE r11 high)
        out = _member_file_partitions(self._path, doc, doc["members"])
        # zero-member version: one no-op partition keeps the scan valid
        return out or [_FilePartition("")]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return
        yield from _read_file_backfilled(
            partition.path,
            self._schema,
            partition.dv_paths,
            partition.rel_path,
            partition.fill,
            partition.colmap,
        )


class SnapshotStreamDataSource(DataSource):
    """``spark.readStream.format("snapshotstream").option("path", dir)``
    after ``spark.dataSource.register(SnapshotStreamDataSource)``.

    The schema comes from the store's LATEST manifest (the consumer's
    view, same rule as ``SnapshotStore.diff``); pass an explicit
    ``.schema(...)`` to pin an older shape."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        opts = {k.lower(): v for k, v in self.options.items()}
        path = opts["path"]
        vs = _list_versions(path)
        if not vs:
            raise ValueError(f"no committed versions under {path}")
        # batch time travel reads THAT version's schema — a later
        # add-column does not retroactively appear (same contract as
        # SnapshotStore.read); the stream always uses latest
        v = int(opts["version"]) if "version" in opts else vs[-1]
        if v not in vs:
            raise ValueError(f"version {v} not committed under {path}")
        doc = _load_manifest(path, v)
        if doc.get("schema") is None:
            raise ValueError(
                "snapshot stream needs a schema-tracking manifest; commit "
                "once with this store version (or pass .schema(...))"
            )
        base = StructType.fromJson(doc["schema"])
        if str(opts.get("readchangefeed", "false")).lower() == "true":
            from pyspark.sql.types import IntegerType, StringType

            return StructType(
                list(base.fields)
                + [
                    StructField("_change_type", StringType(), True),
                    StructField("_commit_version", IntegerType(), True),
                ]
            )
        return base

    def streamReader(self, schema: StructType) -> SnapshotStreamReader:
        return SnapshotStreamReader(schema, self.options)

    def reader(self, schema: StructType) -> SnapshotBatchReader:
        return SnapshotBatchReader(schema, self.options)
