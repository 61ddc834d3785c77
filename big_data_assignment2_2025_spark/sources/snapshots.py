"""Manifest-versioned snapshot store: time travel, atomic commits, and
incremental (changed-files-only) consumption for parquet tables.

No reference counterpart (the reference's store is a Cassandra keyspace
that can only be overwritten or accumulated into, ``app/index.sh:23-38``);
this is the storage-family extension a 100 TB training pipeline needs for
REPRODUCIBILITY: "train on exactly the corpus snapshot vX" must stay
answerable after later appends, deletes, and compactions rewrite the
directory.

Design (the public Delta/Iceberg insight, re-expressed minimally):

- **The manifest is the table.** A version is a JSON file
  ``_manifests/v{N}.json`` listing the commit directories that are members
  of that version. Readers resolve a manifest and hand ``spark.read
  .parquet(*members)`` exactly that file set — they never ``listStatus``
  the data directory, so object-store listing inconsistency and
  half-written files cannot leak into a read.
- **Rename is the commit point.** Data directories are written first
  (under ``data/``, invisible to every reader because no manifest names
  them), then the manifest is published by an atomic ``os.rename`` of a
  same-directory temp file. A crash before the rename leaves only orphan
  data (garbage-collectable, never readable); a crash after it IS the
  committed version. ``os.rename`` onto an existing path would clobber on
  POSIX, so the writer links the new name with ``O_EXCL`` semantics
  (``os.link`` + unlink of the temp) — a concurrent writer racing for the
  same version number loses with ``FileExistsError``, which is exactly
  optimistic concurrency control; the loser re-reads latest and retries
  one version up.
- **One commit path.** Every publishing verb lands through
  ``SnapshotStore._land``: read the latest manifest, run the verb's
  attempt on it, publish the result with ``_publish`` (the only manifest
  writer, which stamps ``min_reader_version``). The attempt derives the
  next manifest with ``_next_doc``, which carries every table-level key
  the verb does not set; a verb that rewrites members writes, re-stats
  and swaps them with ``_replace_members``. A lost race rebases (run the
  attempt again on the new latest, at most ``_OCC_RETRIES`` times),
  except for the rewrite verbs, whose files copy one specific version:
  they raise ``SnapshotConflictError``.
- **Append is O(new data).** An append commit writes only the new rows'
  directory; its manifest is the previous member list plus one entry.
  ``diff(v_from, v_to)`` reads ONLY the member directories added in
  between — the incremental-consumption contract (backfill a feature over
  yesterday's new documents without rescanning the corpus).
- **Compaction is a logical no-op.** ``compact()`` rewrites the current
  members into fewer, larger files and publishes a manifest that replaces
  all of them; any pinned older version still names the original
  directories, so time travel survives compaction. Physical file removal
  is a separate, explicitly-invoked ``vacuum(before_version)`` that only
  deletes directories unreachable from every retained manifest.
- **The schema is per-version manifest metadata** (the Iceberg/Delta
  move): each manifest records the table schema (all-nullable Spark
  StructType JSON) and a monotone ``schema_version``. Readers apply THAT
  version's schema explicitly (``spark.read.schema(...)``), so (a) a
  member written before an additive evolution NULL-backfills the new
  column with zero per-file footer merging (``mergeSchema`` would open
  every footer — O(files) metadata reads at 100 TB; the manifest schema
  is one KB-sized lookup), and (b) time travel to a pre-evolution
  version reads the OLD schema — the new column does not retroactively
  appear. Evolution is ADDITIVE ONLY: ``commit(evolve_schema=True)``
  appends a writing batch's new columns, ``add_column()`` publishes a
  schema-only version (same members, no data); a type change or an
  un-flagged new column is rejected loudly at commit time.

- **Partition specs are per-version metadata too** (the Iceberg
  partition-spec-evolution move): ``set_partition_spec()`` publishes a
  spec-only version; commits AFTER it split the batch into one member
  per partition tuple (one ``partitionBy`` write job, not one job per
  value) and record each member's transformed partition values in the
  manifest. Members keep the spec they were WRITTEN under — old members
  are never rewritten on a spec change, they just carry no values for
  the new spec and are read conservatively, exactly Iceberg's contract.
  Point/range reads prune members by exact partition value (stronger
  than the [min,max] stats), so a spec'd table answers
  ``read_point(col, v)`` by opening only the matching members plus the
  pre-spec remainder. Transforms: ``identity``, ``bucket[N]``
  (xxhash64 mod N — pruned via one scalar probe job that hashes the
  literal with the SAME engine function), ``month`` / ``day``
  (timestamp truncation, range-prunable via ISO string bounds).

Scale: a manifest holds one entry per COMMIT (not per row), so it stays
KB-sized until the table has thousands of commits, at which point real
table formats checkpoint the log — the same move as ``orders_manifest_
skipping``'s stats manifest, which this store would embed per member for
file-level skipping. Version resolution lists ``_manifests/`` only (tiny,
bounded by commit count). A partitioned commit adds one member per
partition value — bounded loudly at ``_MAX_PARTITIONS`` per commit,
because a too-fine spec (e.g. identity on a high-cardinality key) is the
small-files failure mode that kills 100 TB tables.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re
import shutil
import uuid
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    FractionalType,
    IntegerType,
    IntegralType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..operators.materialize import materialized
from . import blooms
from .snapshot_source import (
    _MANIFEST_DIR,
    _READER_VERSION,  # noqa: F401  (the store's protocol, re-exported)
    _list_versions,
    _load_manifest,
    _manifest_path,
)

_DATA_DIR = "data"

#: bounded optimistic-concurrency retries before a writer gives up
_OCC_RETRIES = 5

#: loud guard against small-files death: a spec producing more members
#: than this in ONE commit is mis-designed (bucket it coarser instead)
_MAX_PARTITIONS = 1024

_BUCKET_RE = re.compile(r"^bucket\[(\d+)\]$")

#: Hive's directory name for a NULL partition value
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: canonical ISO lexical prefix (zero-padded yyyy-MM…) — the only string
#: form whose lexical order agrees with temporal order, and so the only
#: form month/day range-envelope pruning may act on
_ISO_PREFIX_RE = re.compile(r"^\d{4}-\d{2}(-\d{2})?([ T].*)?$")


class ConstraintViolationError(ValueError):
    """A write carried rows that violate a recorded CHECK constraint
    (Delta ``ALTER TABLE ADD CONSTRAINT ... CHECK`` semantics): the
    version is NOT published, the store is untouched, and any
    already-written data directory is a ``vacuum()``-collectable orphan
    — same discipline as a rejected schema or a lost race."""


class ProtocolVersionError(RuntimeError):
    """The manifest's ``min_reader_version`` exceeds what this reader
    generation understands: a newer writer recorded table features
    (deletion vectors, defaults, column mapping, ...) whose silent
    omission would return WRONG ROWS, so the open refuses instead —
    Delta's reader-protocol contract. Upgrade the reader; the store is
    untouched."""


class SnapshotConflictError(RuntimeError):
    """An optimistic commit could not land: either the bounded rebase
    retries were exhausted (livelock under heavy contention) or the
    operation is not rebaseable (``compact`` of a version that stopped
    being latest — its rewritten file set no longer describes the table).
    The store is untouched; any already-written data directory is an
    orphan that ``vacuum()`` collects."""


class SnapshotStore:
    """Single-table versioned store rooted at ``base_dir`` (any
    Hadoop-visible path for data; manifests use local-FS atomic rename,
    the single-writer commit service a real deployment centralizes)."""

    def __init__(self, base_dir: str) -> None:
        self.base_dir = base_dir
        os.makedirs(os.path.join(base_dir, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(base_dir, _DATA_DIR), exist_ok=True)

    # -- version resolution -------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return _manifest_path(self.base_dir, version)

    def versions(self) -> list[int]:
        """Committed versions, ascending. Listing ``_manifests/`` is the
        only directory scan in the store, bounded by commit count."""
        return _list_versions(self.base_dir)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def manifest(self, version: int) -> dict:
        return _load_manifest(self.base_dir, version, ProtocolVersionError)

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY (Delta) / ``snapshots`` (Iceberg) as a list
        of dicts, one per committed version, from manifests ALONE
        (bounded by commit count, zero data scans). Carries the
        deletion-vector maintenance telemetry alongside the structural
        counts: ``n_dv_members`` (members currently masked by position-
        delete files) and ``masked_rows`` (their cumulative masked-row
        total) — the columns an operator watches to decide when
        merge-on-read debt is worth a ``compact_masked``."""
        out = []
        for v in self.versions():
            doc = self.manifest(v)
            dv = {m: d for m, d in (doc.get("deletes") or {}).items() if d}
            rows = doc.get("deletes_rows") or {}
            out.append({
                "version": v,
                "mode": doc["mode"],
                "n_members": len(doc["members"]),
                "n_added": len(doc["added"]),
                "n_dv_members": len(dv),
                "masked_rows": sum(rows.get(m, 0) for m in dv),
                "schema_version": int(doc.get("schema_version", 1)),
                "spec_id": int(
                    (doc.get("partition_spec") or {}).get("spec_id", 0)
                ),
            })
        return out

    # -- schema evolution ----------------------------------------------------

    @classmethod
    def _normalize(cls, schema: StructType) -> StructType:
        """All-nullable copy, RECURSIVELY: the recorded table schema must
        read members that predate a column (NULL backfill) and must not
        spuriously conflict with a writer's non-null inference — and
        nullability lives at every nesting level (ArrayType.containsNull,
        struct inner fields, MapType.valueContainsNull): a collect_list
        batch infers containsNull=False where a parquet read-back infers
        True, and the two must not read as a 'type change'."""
        return StructType(
            [
                StructField(f.name, cls._nullable_type(f.dataType), True)
                for f in schema.fields
            ]
        )

    @classmethod
    def _nullable_type(cls, dt: DataType) -> DataType:
        if isinstance(dt, StructType):
            return cls._normalize(dt)
        if isinstance(dt, ArrayType):
            return ArrayType(cls._nullable_type(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(
                cls._nullable_type(dt.keyType),
                cls._nullable_type(dt.valueType),
                True,
            )
        return dt

    @classmethod
    def _merge_schema(
        cls, prev: StructType, new: StructType, evolve: bool
    ) -> StructType:
        """Additive evolution: fields shared with ``prev`` must keep their
        exact type; fields only in ``new`` are appended (requires
        ``evolve``); fields only in ``prev`` stay (a batch may write a
        column subset — readers backfill NULL). Type changes are never
        evolution — they would silently corrupt every pre-change member
        under an explicit-schema read."""
        prev_by_name = {f.name: f for f in prev.fields}
        added = []
        for f in new.fields:
            old = prev_by_name.get(f.name)
            if old is None:
                added.append(StructField(f.name, f.dataType, True))
            elif cls._nullable_type(old.dataType) != cls._nullable_type(
                f.dataType
            ):  # deep-normalized: nested nullability is never a type change
                raise ValueError(
                    f"type change on column {f.name!r} "
                    f"({old.dataType.simpleString()} -> "
                    f"{f.dataType.simpleString()}) is not additive "
                    "evolution; write a new table instead"
                )
        if added and not evolve:
            raise ValueError(
                "batch carries new columns "
                f"{[f.name for f in added]}; pass evolve_schema=True to "
                "evolve the table schema additively"
            )
        return StructType(list(prev.fields) + added)

    def schema(self, version: int | None = None) -> StructType | None:
        """The recorded table schema of ``version`` (default latest), or
        None for manifests that predate schema tracking."""
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        s = self.manifest(v).get("schema")
        return StructType.fromJson(s) if s else None

    # -- column mapping (rename / drop without rewrite) -----------------------

    def column_mapping(self, version: int | None = None) -> dict[str, str]:
        """logical -> physical column-name map of ``version`` (default
        latest). Sparse: only columns whose physical (in-file) name
        differs appear — Delta ``columnMapping.mode=name`` re-expressed.
        Physical names NEVER change once written; renames move only the
        logical name, which is why rename/drop are metadata-only."""
        v = self.latest_version() if version is None else version
        if v is None:
            return {}
        return dict(self.manifest(v).get("column_mapping") or {})

    def identity_columns(self, version: int | None = None) -> dict:
        """``{col: {"step", "watermark"}}`` — GENERATED ALWAYS AS
        IDENTITY columns (Delta semantics: engine-assigned, unique,
        monotone past the watermark, gaps allowed)."""
        v = self.latest_version() if version is None else version
        if v is None:
            return {}
        return dict(self.manifest(v).get("identity") or {})

    def generated_columns(self, version: int | None = None) -> dict[str, str]:
        """``{col: sql_expr}`` — GENERATED ALWAYS AS (expr) columns,
        materialized at write time from the expression (Delta
        generated-column semantics)."""
        v = self.latest_version() if version is None else version
        if v is None:
            return {}
        return dict(self.manifest(v).get("generated") or {})

    @staticmethod
    def _physical_schema(schema: StructType, mapping: dict) -> StructType:
        """``schema`` with each field renamed to its physical (in-file)
        name — what parquet scans must request under column mapping."""
        return StructType(
            [
                StructField(mapping.get(f.name, f.name), f.dataType, True)
                for f in schema.fields
            ]
        )

    @staticmethod
    def _to_physical(df: DataFrame, mapping: dict) -> DataFrame:
        """``df`` with mapped logical columns renamed to their physical
        names — applied once, just before bytes hit parquet. A pure
        projection: codegen'd, never a shuffle."""
        if not mapping:
            return df
        return df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )

    @staticmethod
    def _used_physical(doc: dict) -> set[str]:
        """Every physical column name this lineage has EVER written —
        current fields' physicals, mapping targets, and retired names of
        dropped columns. A new logical column whose name collides gets a
        fresh physical name, or old files would leak a dead column's
        bytes into it."""
        mapping = doc.get("column_mapping") or {}
        used = set(mapping.values())
        if doc.get("schema") is not None:
            for f in StructType.fromJson(doc["schema"]).fields:
                used.add(mapping.get(f.name, f.name))
        used |= set(doc.get("retired_physical") or [])
        return used

    @staticmethod
    def _expr_references(expr: str, col: str) -> bool:
        """Conservative identifier match: does the SQL ``expr`` mention
        ``col``? (Backtick-quoted or bare; used to refuse rename/drop of
        columns a constraint or generated expression depends on.)"""
        return re.search(rf"(?<![\w`]){re.escape(col)}(?![\w`])", expr) is not None or f"`{col}`" in expr

    @staticmethod
    def _carry_defaults(doc: dict, dropped=()) -> dict:
        """The ``defaults`` map carried into a new version, with
        ``dropped`` members removed from every entry — a rewrite reads
        the LOGICAL rows (defaults applied), so its output members carry
        the value physically and need no backfill. Entries whose member
        list empties vanish (the default is fully materialized)."""
        out = {}
        gone = set(dropped)
        for col, spec in (doc.get("defaults") or {}).items():
            keep = [m for m in spec.get("members", []) if m not in gone]
            if keep:
                out[col] = {"value": spec["value"], "members": keep}
        return out

    def add_column(
        self, name: str, dtype: DataType | str, default=None
    ) -> int:
        """Publish a schema-only version adding a nullable column: same
        members, no data written — every existing row reads as NULL in the
        new column until a later commit/merge fills it (Delta/Iceberg
        ``ALTER TABLE ADD COLUMN``). OCC losers rebase: re-validate
        against the new latest schema and retry one version up.

        ``default`` (Iceberg v3's *initial default*): existing rows read
        as this value instead of NULL. The manifest records WHICH
        members predate the column, so the backfill applies exactly to
        them — a later batch that writes an explicit NULL keeps its
        NULL, and a rewrite (compact/merge) materializes the value and
        drops the entry. Metadata-only either way: no data file is
        touched now or later. The value must be a JSON scalar; reads
        cast it to the column type. (Write defaults — filling a column
        a LATER batch omits — are intentionally not implied: a
        post-evolution subset write still reads as NULL, like Delta.)"""
        if isinstance(dtype, str):
            dtype = StructType.fromDDL(f"`{name}` {dtype}")[0].dataType
        if default is not None and not isinstance(
            default, (int, float, str, bool)
        ):
            raise ValueError(
                "default must be a JSON scalar (int/float/str/bool), "
                f"got {type(default).__name__}"
            )
        if default is not None:
            # reject a default Arrow cannot cast to the column type at
            # declare time, so the native (F.lit().cast) and format-API
            # (pa.array().cast) read paths can never diverge on it
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_type

            try:
                pa.array([default]).cast(to_arrow_type(dtype))
            except Exception as e:
                raise ValueError(
                    f"default {default!r} is not castable to column type "
                    f"{dtype.simpleString()}: {e}"
                ) from None

        def attempt(prev, doc):
            if doc.get("schema") is None:
                raise ValueError(
                    "add_column() needs a schema-tracking manifest; commit "
                    "once with this store version first"
                )
            prev_schema = StructType.fromJson(doc["schema"])
            if name in prev_schema.fieldNames():
                raise ValueError(f"column {name!r} already exists")
            # a re-added name whose physical bytes exist in old files
            # (dropped or renamed-away column) gets a FRESH physical name
            _, mapping = self._fresh_physical(name, doc)
            new_schema = StructType(
                list(prev_schema.fields) + [StructField(name, dtype, True)]
            )
            new_defaults = self._carry_defaults(doc)
            if default is not None and doc["members"]:
                new_defaults[name] = {
                    "value": default,
                    "members": list(doc["members"]),
                }
            return self._next_doc(
                doc, "alter", defaults=new_defaults, column_mapping=mapping,
                schema=new_schema.jsonValue(),
                schema_version=doc.get("schema_version", 1) + 1,
            )

        return self._land("add_column", attempt)

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column WITHOUT rewriting any data file (Delta column
        mapping, mode=name): a schema-only version where the logical
        name moves and the physical (in-file) name stays pinned in the
        ``column_mapping`` map — reads request the physical name and
        alias back, writes rename just before parquet. Every manifest
        structure keyed by logical name (stats, partition values, spec
        sources, defaults, identity, generated) follows the rename in
        the SAME atomic publish. Time travel to pre-rename versions
        shows the old name (their manifests are untouched). Refuses when
        a CHECK constraint or another generated expression references
        ``old`` (rewriting SQL text is not metadata-safe — drop and
        re-add the rule under the new name)."""
        if old == new:
            raise ValueError("rename_column: old and new are the same")

        def attempt(prev, doc):
            if doc.get("schema") is None:
                raise ValueError(
                    "rename_column() needs a schema-tracking manifest"
                )
            schema = StructType.fromJson(doc["schema"])
            names = schema.fieldNames()
            if old not in names:
                raise ValueError(f"column {old!r} does not exist")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            for cname, cexpr in (doc.get("constraints") or {}).items():
                if self._expr_references(cexpr, old):
                    raise ValueError(
                        f"constraint {cname!r} references {old!r}; drop "
                        "it first and re-add under the new name"
                    )
            for gname, gexpr in (doc.get("generated") or {}).items():
                if gname != old and self._expr_references(gexpr, old):
                    raise ValueError(
                        f"generated column {gname!r} references {old!r}; "
                        "drop it first and re-add under the new name"
                    )
            mapping = dict(doc.get("column_mapping") or {})
            phys = mapping.pop(old, old)
            if phys != new:
                # renaming back to the exact physical name un-maps
                mapping[new] = phys
            ren = lambda c: new if c == old else c  # noqa: E731

            def renamed(key: str) -> dict:
                return {ren(c): v for c, v in (doc.get(key) or {}).items()}

            def sources_renamed(entry: dict) -> dict:
                return {
                    **entry,
                    "fields": [
                        {**f, "source": ren(f["source"])}
                        for f in entry.get("fields", [])
                    ],
                }

            spec = doc.get("partition_spec")
            return self._next_doc(
                doc, "alter", all_ddl=True,
                stats={
                    m: {ren(c): v for c, v in st.items()}
                    for m, st in doc.get("stats", {}).items()
                },
                partitions={
                    m: sources_renamed(e)
                    for m, e in doc.get("partitions", {}).items()
                },
                partition_spec=sources_renamed(spec) if spec else spec,
                defaults=renamed("defaults"),
                column_mapping=mapping,
                identity=renamed("identity"),
                generated=renamed("generated"),
                schema=StructType(
                    [
                        StructField(ren(f.name), f.dataType, True)
                        for f in schema.fields
                    ]
                ).jsonValue(),
                schema_version=doc.get("schema_version", 1) + 1,
            )

        return self._land("rename_column", attempt)

    def drop_column(self, name: str) -> int:
        """Drop a column WITHOUT rewriting any data file: a schema-only
        version removes it from the recorded schema (reads simply stop
        requesting it — the manifest-schema scan prunes it for free) and
        RETIRES its physical name so a later ``add_column`` of the same
        logical name can never resurrect the dead bytes. Time travel to
        pre-drop versions still shows the column. Refuses when a CHECK
        constraint, the partition spec, or a generated expression
        references it."""

        def attempt(prev, doc):
            if doc.get("schema") is None:
                raise ValueError(
                    "drop_column() needs a schema-tracking manifest"
                )
            schema = StructType.fromJson(doc["schema"])
            if name not in schema.fieldNames():
                raise ValueError(f"column {name!r} does not exist")
            if len(schema.fields) == 1:
                raise ValueError("cannot drop the last column")
            for cname, cexpr in (doc.get("constraints") or {}).items():
                if self._expr_references(cexpr, name):
                    raise ValueError(
                        f"constraint {cname!r} references {name!r}; "
                        "drop the constraint first"
                    )
            for fld in (doc.get("partition_spec") or {}).get("fields", []):
                if fld["source"] == name:
                    raise ValueError(
                        f"partition spec sources {name!r}; evolve the "
                        "spec first"
                    )
            for gname, gexpr in (doc.get("generated") or {}).items():
                if gname != name and self._expr_references(gexpr, name):
                    raise ValueError(
                        f"generated column {gname!r} references {name!r}; "
                        "drop it first"
                    )
            mapping = dict(doc.get("column_mapping") or {})
            phys = mapping.pop(name, name)
            retired = list(doc.get("retired_physical") or [])
            if phys not in retired:
                retired.append(phys)

            def without(key: str) -> dict:
                return {
                    c: v for c, v in (doc.get(key) or {}).items() if c != name
                }

            return self._next_doc(
                doc, "alter",
                stats={
                    m: {c: v for c, v in st.items() if c != name}
                    for m, st in doc.get("stats", {}).items()
                },
                defaults=without("defaults"),
                column_mapping=mapping,
                identity=without("identity"),
                generated=without("generated"),
                retired_physical=retired,
                schema=StructType(
                    [f for f in schema.fields if f.name != name]
                ).jsonValue(),
                schema_version=doc.get("schema_version", 1) + 1,
            )

        return self._land("drop_column", attempt)

    def add_identity_column(
        self, spark: SparkSession, name: str, start: int = 1, step: int = 1
    ) -> int:
        """Add a ``GENERATED ALWAYS AS IDENTITY`` BIGINT column (Delta
        semantics): values are ENGINE-assigned at every later
        ``commit()`` — unique, strictly past the recorded watermark in
        ``step``'s direction, gaps allowed (ids derive from
        ``monotonically_increasing_id``'s per-partition blocks, so
        assignment needs no shuffle and no global sort at any scale;
        Delta documents the same non-consecutive contract). Batches must
        OMIT the column; explicit values refuse. Existing rows are
        materialized by ONE rewrite here (Delta restricts identity to
        new tables; the rewrite is this store's explicit, priced
        equivalent) — like every rewrite verb it is not rebaseable."""
        if step == 0:
            raise ValueError("identity step must be nonzero")
        entry = {"start": start, "step": step, "watermark": start - step}
        return self._add_engine_column(
            spark, "add_identity_column", name, LongType(), "identity", entry,
            lambda df: self._identity_assign(df, name, entry),
        )

    def add_generated_column(
        self,
        spark: SparkSession,
        name: str,
        dtype: DataType | str,
        expr: str,
    ) -> int:
        """Add a ``GENERATED ALWAYS AS (expr)`` column (Delta generated
        columns): the value is COMPUTED and materialized by the engine
        on every later write — commit() refuses batches that carry it
        explicitly, update_where() refuses assigning it, and MERGE
        post-images recompute it. Existing rows are materialized by ONE
        rewrite here (not rebaseable, like every rewrite verb); an
        empty table evolves schema-only."""
        if isinstance(dtype, str):
            dtype = StructType.fromDDL(f"`{name}` {dtype}")[0].dataType
        if self._expr_references(expr, name):
            raise ValueError("generated expression references itself")
        return self._add_engine_column(
            spark, "add_generated_column", name, dtype, "generated", expr,
            lambda df: df.withColumn(name, F.expr(expr).cast(dtype)),
        )

    def _add_engine_column(
        self, spark: SparkSession, verb: str, name: str, dtype: DataType,
        key: str, value, fill,
    ) -> int:
        """Add column ``name`` whose values the ENGINE owns, recorded as
        ``manifest[key][name] = value`` (``identity`` or ``generated``).
        Existing rows get the column from ``fill`` in ONE rewrite of every
        member (logical rows, DVs applied and dropped, re-laid-out under
        the current spec, like compact); the identity watermark then
        advances past every id just written. An empty table evolves
        schema-only, with ``fill`` analyzed on an empty frame so a bad
        expression still refuses. Not rebaseable, like every rewrite."""

        def attempt(prev, doc):
            if doc.get("schema") is None:
                raise ValueError(f"{verb}() needs a schema-tracking manifest")
            schema = StructType.fromJson(doc["schema"])
            if name in schema.fieldNames():
                raise ValueError(f"column {name!r} already exists")
            phys, mapping = self._fresh_physical(name, doc)
            owned = dict(doc.get(key) or {})
            alter = {
                key: owned,
                "column_mapping": mapping,
                "schema": StructType(
                    list(schema.fields) + [StructField(name, dtype, True)]
                ).jsonValue(),
                "schema_version": doc.get("schema_version", 1) + 1,
            }
            if not doc["members"]:
                fill(spark.createDataFrame([], schema))
                owned[name] = value
                return self._next_doc(doc, "alter", **alter)
            fields = self._replace_members(
                spark, doc,
                [fill(self._read_members(spark, doc, doc["members"]))],
                mapping=mapping,
            )
            owned[name] = (
                self._advance_watermark(spark, value, fields["added"], phys)
                if key == "identity" else value
            )
            return self._next_doc(
                doc, "alter", all_ddl=True, rewrote=list(doc["members"]),
                **alter, **fields,
            )

        return self._land(verb, attempt, rebase=False)

    def _fresh_physical(
        self, name: str, doc: dict
    ) -> tuple[str, dict]:
        """(physical name, updated mapping) for a NEW logical column:
        usually ``name`` itself; a collision with any physical name this
        lineage ever wrote gets a fresh suffixed one (or a dropped
        column's surviving bytes would leak into the new column)."""
        mapping = dict(doc.get("column_mapping") or {})
        if name in self._used_physical(doc):
            phys = f"{name}__{uuid.uuid4().hex[:8]}"
            mapping[name] = phys
            return phys, mapping
        return name, mapping

    @staticmethod
    def _identity_assign(df: DataFrame, name: str, entry: dict) -> DataFrame:
        """``df`` with engine-assigned identity values: unique (the
        per-row ``monotonically_increasing_id`` is), strictly past the
        watermark in ``step``'s direction, gaps allowed. No shuffle."""
        wm, step = entry["watermark"], entry["step"]
        return df.withColumn(
            name,
            (
                F.lit(wm)
                + F.lit(step) * (F.monotonically_increasing_id() + 1)
            ).cast("long"),
        )

    def _advance_watermark(
        self, spark: SparkSession, entry: dict, dirs: list[str], phys: str
    ) -> dict:
        """The identity entry with its watermark advanced past every id
        just written (one column-pruned agg over only the new files)."""
        if not dirs:
            return dict(entry)
        agg = F.max if entry["step"] > 0 else F.min
        row = spark.read.parquet(
            *[os.path.join(self.base_dir, d) for d in dirs]
        ).agg(agg(F.col(phys)).alias("w")).first()
        out = dict(entry)
        if row["w"] is not None:
            out["watermark"] = int(row["w"])
        return out

    # -- partition-spec evolution --------------------------------------------

    def partition_spec(self, version: int | None = None) -> dict | None:
        """The partition spec recorded at ``version`` (default latest):
        ``{"spec_id": N, "fields": [{"source", "transform"}, ...]}``, or
        None for an unpartitioned lineage (spec_id 0)."""
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        return self.manifest(v).get("partition_spec")

    def set_partition_spec(self, fields) -> int:
        """Publish a spec-only version (Iceberg partition-spec evolution):
        same members, no data — commits AFTER this version split batches
        by the spec and record per-member partition values; members
        written BEFORE it are untouched and keep their original spec
        (read conservatively by the new spec's pruning). ``fields`` is a
        list of ``(source_column, transform)`` with transform in
        ``identity | bucket[N] | month | day``; ``[]`` evolves back to
        unpartitioned. OCC losers rebase like ``add_column``."""
        norm = []
        for f in fields:
            src, tr = (f["source"], f["transform"]) if isinstance(f, dict) else f
            if tr not in ("identity", "month", "day") and not _BUCKET_RE.match(tr):
                raise ValueError(
                    f"unknown transform {tr!r}; use identity|bucket[N]|month|day"
                )
            norm.append({"source": src, "transform": tr})

        def attempt(prev, doc):
            schema_json = doc.get("schema")
            if schema_json is not None:
                names = set(StructType.fromJson(schema_json).fieldNames())
                missing = [f["source"] for f in norm if f["source"] not in names]
                if missing:
                    raise ValueError(
                        f"spec sources {missing} not in the table schema"
                    )
            spec_id = (doc.get("partition_spec") or {}).get("spec_id", 0) + 1
            return self._next_doc(
                doc, "alter",
                partition_spec={"spec_id": spec_id, "fields": norm},
            )

        return self._land("set_partition_spec", attempt)

    # -- CHECK constraints ----------------------------------------------------

    def constraints(self, version: int | None = None) -> dict[str, str]:
        """The CHECK constraints recorded at ``version`` (default
        latest): ``{name: sql_expression}``. Table-level metadata like
        the partition spec — carried through every verb, including
        overwrite."""
        v = self.latest_version() if version is None else version
        if v is None:
            return {}
        return dict(self.manifest(v).get("constraints", {}))

    def add_constraint(
        self, spark: SparkSession, name: str, expression: str
    ) -> int:
        """Record a CHECK constraint (Delta ``ADD CONSTRAINT ... CHECK``)
        as an alter-mode version: every later write verb validates its
        NEW rows against it before publishing (``commit``/``merge``/
        ``merge_on_read``/``update_where``; delete/compaction rewrite
        only already-valid rows). SQL semantics: a row violates iff the
        expression evaluates to FALSE — NULL passes, like SQL CHECK.

        Adding the constraint validates the CURRENT table first (one
        column-pruned scan, bounded limit-1 probe): a constraint the
        existing data already violates is a lie and refuses. OCC losers
        rebase like every alter verb."""

        def attempt(prev, doc):
            existing = dict(doc.get("constraints", {}))
            if name in existing:
                raise ValueError(
                    f"constraint {name!r} already exists "
                    f"({existing[name]!r}); drop it first"
                )
            # the current rows must already satisfy the new constraint
            self._check_rows(
                self._read_members(spark, doc, doc["members"]),
                {name: expression},
                context=f"add_constraint({name!r}) on v{prev}",
            )
            return self._next_doc(
                doc, "alter", constraints={**existing, name: expression}
            )

        return self._land("add_constraint", attempt)

    def drop_constraint(self, name: str) -> int:
        """Remove a CHECK constraint (alter-mode version, no data)."""

        def attempt(prev, doc):
            existing = dict(doc.get("constraints", {}))
            if name not in existing:
                raise ValueError(f"no constraint named {name!r}")
            existing.pop(name)
            return self._next_doc(doc, "alter", constraints=existing)

        return self._land("drop_constraint", attempt)

    @staticmethod
    def _check_rows(
        df: DataFrame, constraints: dict[str, str], context: str
    ) -> None:
        """Raise ``ConstraintViolationError`` if any ``df`` row violates
        any constraint. ONE job for all constraints: a combined
        violation predicate feeds a limit-1 probe whose row carries one
        flag per constraint, so the error names exactly which failed.
        SQL CHECK semantics: NULL passes."""
        if not constraints:
            return
        names = sorted(constraints)
        flags = [
            F.expr(
                f"NOT coalesce(({constraints[n]}), true)"
            ).alias(f"__viol_{i}")
            for i, n in enumerate(names)
        ]
        any_viol = F.col("__viol_0")
        for i in range(1, len(names)):
            any_viol = any_viol | F.col(f"__viol_{i}")
        probe = df.select(*flags).where(any_viol).limit(1).collect()
        if probe:
            violated = [
                f"{n} CHECK ({constraints[n]})"
                for i, n in enumerate(names)
                if probe[0][f"__viol_{i}"]
            ]
            raise ConstraintViolationError(
                f"{context} violates constraint(s) "
                f"{'; '.join(violated)} — version not published, "
                "written data is a vacuum()-collectable orphan"
            )

    def _enforce_constraints(
        self,
        spark: SparkSession,
        doc: dict,
        written: list[str],
        verb: str,
    ) -> None:
        """Validate just-written member directories (ground truth, one
        column-pruned read of only the NEW files) against the manifest's
        constraints BEFORE publish. O(new rows), never a table scan —
        existing members were validated by the write that created them
        (and by ``add_constraint``'s full-table scan when the rule was
        recorded)."""
        cons = doc.get("constraints") or {}
        if not cons or not written:
            return
        # Read under the candidate manifest's merged schema (mirrors
        # _read_members_raw): a legal subset append that omits a column
        # referenced by a CHECK constraint NULL-backfills and passes
        # under SQL NULL-passes semantics, instead of failing column
        # resolution and blocking the valid write. Column mapping aliases
        # the physical file names back to the logical ones the
        # constraint expressions reference.
        reader = spark.read
        mapping = doc.get("column_mapping") or {}
        schema = (
            StructType.fromJson(doc["schema"])
            if doc.get("schema") is not None
            else None
        )
        if schema is not None:
            reader = reader.schema(
                self._physical_schema(schema, mapping)
                if mapping
                else schema
            )
        df = reader.parquet(
            *[os.path.join(self.base_dir, d) for d in written]
        )
        if mapping and schema is not None:
            df = df.select(
                *[
                    F.col(mapping.get(f.name, f.name)).alias(f.name)
                    for f in schema.fields
                ]
            )
        self._check_rows(df, cons, context=f"{verb}")

    @staticmethod
    def _apply_generated(doc: dict, df: DataFrame) -> DataFrame:
        """Recompute every GENERATED ALWAYS AS (expr) column present in
        ``df`` from its recorded expression — the single post-image
        discipline all rewrite verbs share (Delta materializes generated
        columns on every write)."""
        gen = doc.get("generated") or {}
        if not gen or doc.get("schema") is None:
            return df
        schema = StructType.fromJson(doc["schema"])
        for c, gexpr in gen.items():
            if c in df.columns:
                df = df.withColumn(
                    c, F.expr(gexpr).cast(schema[c].dataType)
                )
        return df

    def _guard_identity_merge(
        self, doc: dict, changes: DataFrame, op_col: str
    ) -> None:
        """MERGE preconditions for identity tables: the batch must not
        carry an engine-owned column (GENERATED ALWAYS), and — enforced
        downstream by ``_enforce_identity_not_null`` — must not INSERT
        (a new key's post-image cannot receive an engine-assigned id
        through a merge; route new rows through commit())."""
        owned = set(doc.get("identity") or {}) | set(
            doc.get("generated") or {}
        )
        bad = owned & {
            c for c in changes.columns if c != op_col
        } & set(doc.get("identity") or {})
        if bad:
            raise ValueError(
                f"changes batch carries identity columns {sorted(bad)}: "
                "GENERATED ALWAYS values are engine-owned — omit them "
                "(updates keep the target row's id)"
            )

    def _enforce_identity_not_null(
        self, spark: SparkSession, doc: dict, written: list[str], verb: str
    ) -> None:
        """Refuse a merge whose post-images left an identity column NULL
        — the signature of an attempted INSERT through MERGE (the target
        side had no row to inherit the id from). One limit-1 probe over
        only the just-written files, same O(new rows) discipline as
        constraint enforcement."""
        ident = doc.get("identity") or {}
        if not ident or not written:
            return
        mapping = doc.get("column_mapping") or {}
        probe = (
            spark.read.parquet(
                *[os.path.join(self.base_dir, d) for d in written]
            )
            .where(
                " OR ".join(
                    f"`{mapping.get(c, c)}` IS NULL" for c in sorted(ident)
                )
            )
            .limit(1)
            .collect()
        )
        if probe:
            raise ValueError(
                f"{verb} would INSERT rows into a table with identity "
                f"columns {sorted(ident)} (their post-image id is NULL): "
                "merges can only update/delete existing keys here — "
                "commit() new rows so the engine assigns their ids"
            )

    @staticmethod
    def _transform_expr(field: dict) -> Column:
        """The partition value as a Column — evaluated by the ENGINE at
        write time, so pruning later compares against exactly what the
        engine computed (the bucket probe reuses the same xxhash64)."""
        src, tr = field["source"], field["transform"]
        if tr == "identity":
            return F.col(src)
        m = _BUCKET_RE.match(tr)
        if m:
            return F.pmod(
                F.xxhash64(F.col(src).cast("string")), F.lit(int(m.group(1)))
            ).cast("int")
        if tr == "month":
            return F.date_format(F.col(src), "yyyy-MM")
        if tr == "day":
            return F.date_format(F.col(src), "yyyy-MM-dd")
        raise ValueError(f"unknown transform {tr!r}")

    @staticmethod
    def _decode_part_value(field: dict, raw: str, src_types: dict):
        """Typed partition value from a Hive-style directory component
        (``%XX``-unescaped). Bucket values are ints; month/day are their
        ISO string truncations; identity decodes by the source column's
        type (integral -> int, everything else keeps the engine's
        lexical form — ISO for dates, verbatim for strings)."""
        if raw == _HIVE_NULL:
            return None
        s = unquote(raw)
        tr = field["transform"]
        if _BUCKET_RE.match(tr):
            return int(s)
        if tr in ("month", "day"):
            return s
        dt = src_types.get(field["source"])
        if isinstance(dt, IntegralType):
            return int(s)
        if isinstance(dt, FractionalType):
            return float(s)
        if isinstance(dt, BooleanType):
            return s.lower() == "true"
        return s  # strings, dates (ISO lexical form), everything else

    def _write_under_spec(
        self,
        df: DataFrame,
        spec: dict | None,
        mapping: dict,
    ) -> list[tuple[str, dict | None]]:
        """Write ``df`` as this commit's member set under ``spec``:
        unpartitioned -> one member directory (as before); spec'd -> ONE
        ``partitionBy`` job over synthetic ``_pN`` transform columns
        (table columns stay in the data files; the ``_pN`` values live
        only in directory names and the manifest), then each leaf
        directory is renamed into place as its own member. Returns
        ``[(commit_dir, partitions_entry | None), ...]``. An empty
        partitioned batch yields zero members. Loudly bounded at
        ``_MAX_PARTITIONS`` members per commit — a finer spec is the
        small-files failure mode, not a supported configuration."""
        # column mapping: bytes hit parquet under PHYSICAL names (stable
        # across renames), logical names live only in the manifest schema
        fields = (spec or {}).get("fields") or []
        if not fields:
            commit_dir, full_dir = self._new_member_dir()
            self._to_physical(df, mapping).write.parquet(full_dir)
            return [(commit_dir, None)]
        spec_id = spec["spec_id"]
        stage = os.path.join(
            self.base_dir, _DATA_DIR, f"stage-{uuid.uuid4().hex[:16]}"
        )
        pcols = [f"_p{i}" for i in range(len(fields))]
        aug = df
        for pc, fld in zip(pcols, fields):
            # transforms evaluate on LOGICAL names (the spec's source
            # columns); the physical rename happens after, and leaves
            # the synthetic _pN columns untouched
            aug = aug.withColumn(pc, self._transform_expr(fld))
        self._to_physical(aug, mapping).write.partitionBy(*pcols).parquet(
            stage
        )
        leafs: list[tuple[str, list[str]]] = []

        def _walk(d: str, depth: int, raw: list[str]) -> None:
            if depth == len(fields):
                leafs.append((d, raw))
                return
            prefix = f"_p{depth}="
            for name in sorted(os.listdir(d)):
                if name.startswith(prefix):
                    _walk(
                        os.path.join(d, name), depth + 1,
                        raw + [name[len(prefix):]],
                    )

        _walk(stage, 0, [])
        if len(leafs) > _MAX_PARTITIONS:
            shutil.rmtree(stage, ignore_errors=True)
            raise ValueError(
                f"partitioned commit would create {len(leafs)} members "
                f"(> {_MAX_PARTITIONS}); the spec is too fine for this "
                "batch — bucket coarser or drop a field"
            )
        src_types = {f.name: f.dataType for f in df.schema.fields}
        out: list[tuple[str, dict | None]] = []
        for leaf, raws in leafs:
            commit_dir, full_dir = self._new_member_dir()
            os.rename(leaf, full_dir)
            values = [
                {"source": fld["source"], "transform": fld["transform"],
                 "value": self._decode_part_value(fld, raw, src_types)}
                for fld, raw in zip(fields, raws)
            ]
            out.append((commit_dir, {"spec_id": spec_id, "fields": values}))
        shutil.rmtree(stage, ignore_errors=True)  # _SUCCESS etc.
        return out

    @staticmethod
    def _probe_kind_ok(dt: DataType | None, value) -> bool:
        """True when a Python probe literal is the same KIND as the
        source column — the precondition for bucket/month/day pruning.
        Mirrors identity's same_kind conservatism: a cross-kind probe
        (int vs a string column, say) may still MATCH rows under Spark's
        comparison coercion, so pruning on it would not be a superset
        filter. Unknown source type (legacy manifest) never prunes."""
        if dt is None:
            return False
        if isinstance(value, bool):
            return isinstance(dt, BooleanType)
        if isinstance(value, (int, float)):
            return isinstance(dt, (IntegralType, FractionalType))
        if isinstance(value, _dt.datetime):
            return isinstance(dt, (TimestampType, TimestampNTZType))
        if isinstance(value, _dt.date):
            return isinstance(
                dt, (DateType, TimestampType, TimestampNTZType)
            )
        if isinstance(value, str):
            return isinstance(
                dt, (StringType, DateType, TimestampType, TimestampNTZType)
            )
        return False

    @staticmethod
    def _bucket_of(
        spark: SparkSession, value, n: int, src_dt: DataType
    ) -> int | None:
        """The bucket the ENGINE assigns ``value`` — one scalar probe job
        through the same cast(source type)→cast(string)→xxhash64 chain
        the write used, so point pruning can never disagree with the
        writer's hashing (a Python ``3`` probed against a double column
        hashes ``'3.0'``, exactly as the writer did — not ``'3'``).
        Returns ``None`` when the literal does not coerce to the source
        type (the probe can prove nothing; the caller must not prune)."""
        row = spark.range(1).select(
            F.pmod(
                F.xxhash64(F.lit(value).cast(src_dt).cast("string")),
                F.lit(n),
            ).cast("int").alias("b"),
            F.lit(value).cast(src_dt).isNull().alias("uncastable"),
        ).first()
        return None if row["uncastable"] else row["b"]

    @staticmethod
    def _canon_temporal(
        spark: SparkSession, value, src_dt: DataType, fmt: str
    ) -> str | None:
        """``value`` canonicalized by the ENGINE through the source
        column type then ``date_format(fmt)`` — the exact expression the
        writer used to derive month/day partition values, so a
        non-canonical-but-coercible probe (``'2024-1-5'``) compares
        against what the writer actually recorded (``'2024-01'``).
        ``None`` when the literal does not coerce (caller must not
        prune)."""
        return spark.range(1).select(
            F.date_format(F.lit(value).cast(src_dt), fmt).alias("c")
        ).first()["c"]

    @staticmethod
    def _part_excludes_range(entry: dict, col: str, lo, hi) -> bool:
        """True if the member's recorded partition values prove no row
        has ``lo <= col < hi``. Conservative on any type mismatch."""
        for fld in entry.get("fields", []):
            if fld["source"] != col:
                continue
            v, tr = fld["value"], fld["transform"]
            if v is None:
                return True  # all-NULL partition: no row matches a range
            if tr == "identity":
                try:
                    if not (lo <= v < hi):
                        return True
                except TypeError:
                    pass
            elif tr in ("month", "day") and isinstance(lo, str) and isinstance(hi, str):
                # rows stringify with prefix v: member spans [v, v+"￿").
                # The lexical comparison is only sound when the bounds
                # are in canonical ISO form — a coercible-but-padded
                # string like '2024-1-5' sorts AFTER '2024-01…' yet
                # denotes a timestamp inside it, so non-canonical bounds
                # read conservatively (the exact predicate still filters)
                if _ISO_PREFIX_RE.match(lo) and _ISO_PREFIX_RE.match(hi):
                    if v + "￿" <= lo or v >= hi:
                        return True
            # bucket: hash order is unrelated to value order — no range info
        return False

    def _part_excludes_point(
        self, spark: SparkSession, entry: dict, col: str, value,
        bucket_cache: dict, src_types: dict | None = None,
    ) -> bool:
        """True if the member's partition values prove ``col == value``
        is empty. Bucket probes and month/day canonicalizations are
        computed once per (value, transform) via the engine (memoized in
        ``bucket_cache``) — and ONLY when the probe literal's kind
        matches the manifest-recorded source column type: a cross-kind
        probe hashes/formats a different lexical form than the writer
        did, so pruning on it would violate the superset-filter
        invariant. Kind mismatches read conservatively."""
        src_types = src_types or {}
        for fld in entry.get("fields", []):
            if fld["source"] != col:
                continue
            v, tr = fld["value"], fld["transform"]
            if v is None:
                return value is not None
            if tr == "identity":
                # type-conservative (like _part_excludes_range): the
                # manifest stores the lexical form for types the decoder
                # doesn't reconstruct (dates, decimals) — a cross-type
                # inequality proves nothing, so only same-kind values
                # prune; mismatches read conservatively and the exact
                # predicate still filters
                same_kind = type(v) is type(value) or (
                    isinstance(v, (int, float))
                    and not isinstance(v, bool)
                    and isinstance(value, (int, float))
                    and not isinstance(value, bool)
                )
                if same_kind and v != value:
                    return True
            elif tr in ("month", "day"):
                dt = src_types.get(col)
                if not self._probe_kind_ok(dt, value):
                    continue  # can't prove anything — read conservatively
                fmt = "yyyy-MM" if tr == "month" else "yyyy-MM-dd"
                key = (repr(value), tr)
                if key not in bucket_cache:
                    bucket_cache[key] = self._canon_temporal(
                        spark, value, dt, fmt
                    )
                canon = bucket_cache[key]
                if canon is not None and canon != v:
                    return True
            else:
                m = _BUCKET_RE.match(tr)
                if m:
                    dt = src_types.get(col)
                    if not self._probe_kind_ok(dt, value):
                        continue  # cross-kind probe proves nothing
                    n = int(m.group(1))
                    key = (repr(value), n)
                    if key not in bucket_cache:
                        bucket_cache[key] = self._bucket_of(
                            spark, value, n, dt
                        )
                    if (
                        bucket_cache[key] is not None
                        and bucket_cache[key] != v
                    ):
                        return True
        return False

    def _prefill_probe_cache(
        self, spark: SparkSession, values: list, parts: dict, col: str,
        dt, bucket_cache: dict,
    ) -> None:
        """Fill ``bucket_cache`` for EVERY (probe value, partition
        transform) pair the member walk could need, in ONE engine job
        per Python kind of probe value (r14, ADVICE):
        ``_bucket_of``/``_canon_temporal`` are memoized per value, so a
        batch of point probes against a bucket- or month/day-partitioned
        store previously paid one 1-row job per distinct probe value.
        Values travel as data rows (fixed codegen shape — the
        ``blooms.probe_hashes_many`` lesson); the per-value
        ``uncastable`` flag preserves the None-means-conservative
        contract."""
        ns: set[int] = set()
        trs: set[str] = set()
        for entry in parts.values():
            for fld in entry.get("fields", []):
                if fld["source"] != col:
                    continue
                tr = fld["transform"]
                if tr in ("month", "day"):
                    trs.add(tr)
                else:
                    m = _BUCKET_RE.match(tr)
                    if m:
                        ns.add(int(m.group(1)))
        vals = [
            v for v in dict.fromkeys(values)
            if v is not None and self._probe_kind_ok(dt, v)
        ]
        need = [
            v for v in vals
            if any((repr(v), n) not in bucket_cache for n in ns)
            or any((repr(v), tr) not in bucket_cache for tr in trs)
        ]
        if not (ns or trs) or not need:
            return
        cast = F.col("v").cast(dt)
        sel = [F.col("i"), cast.isNull().alias("u")]
        for n in sorted(ns):
            sel.append(
                F.pmod(F.xxhash64(cast.cast("string")), F.lit(n))
                .cast("int").alias(f"b{n}")
            )
        for tr in sorted(trs):
            fmt = "yyyy-MM" if tr == "month" else "yyyy-MM-dd"
            sel.append(F.date_format(cast, fmt).alias(f"t_{tr}"))
        # one job per Python kind: a column of mixed kinds (a date next to
        # its string spelling) fails createDataFrame's schema inference
        by_kind: dict[type, list] = {}
        for v in need:
            by_kind.setdefault(type(v), []).append(v)
        for group in by_kind.values():
            df = spark.createDataFrame(list(enumerate(group)), ["i", "v"])
            for r in df.select(*sel).collect():
                v = group[r["i"]]
                for n in ns:
                    bucket_cache[(repr(v), n)] = (
                        None if r["u"] else r[f"b{n}"]
                    )
                for tr in trs:
                    bucket_cache[(repr(v), tr)] = r[f"t_{tr}"]

    def planned_members_point(
        self, spark: SparkSession, col: str, value, version: int | None = None
    ) -> list[str]:
        """The member subset a ``read_point`` actually opens: partition
        values prune first (exact), then [min,max] stats; members with
        neither are read conservatively. Exposed so callers (and the
        gate queries) can WITNESS the pruning, not just trust it."""
        return self.planned_members_points(spark, col, [value], version)[0]

    def planned_members_points(
        self,
        spark: SparkSession,
        col: str,
        values: list,
        version: int | None = None,
    ) -> list[list[str]]:
        """``planned_members_point`` for a BATCH of probe values: one
        manifest walk, sidecars loaded once per member, and ALL probe
        hashes computed in a single 1-row engine job (lazily, only if an
        indexed member survives the partition/stats prunes — a store
        without blooms still runs zero jobs). A 17-probe readout paid 17
        driver-round-trip jobs before (~100 ms each, r13 measurement);
        now it pays at most one."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise ValueError("planned_members_point() on an empty store")
        doc = self.manifest(v)
        parts = doc.get("partitions", {})
        stats = doc.get("stats", {})
        schema = (
            StructType.fromJson(doc["schema"])
            if doc.get("schema") is not None else None
        )
        src_types = (
            {f.name: f.dataType for f in schema.fields} if schema else {}
        )
        # sidecars are keyed by PHYSICAL column name (immutable per
        # member): a rename keeps the index alive, a drop/re-add gets a
        # fresh physical name that can never match a stale bloom
        phys = (doc.get("column_mapping") or {}).get(col, col)
        dtype = src_types.get(col)
        #: probe hashes per value, computed lazily once for the batch;
        #: sized to the LARGEST k met so far (k is per sidecar doc)
        hashes: list[list[int]] = [[] for _ in values]
        sidecar_cache: dict[str, dict | None] = {}
        bucket_cache: dict = {}
        # bucket/temporal partition-transform probes for the whole batch
        # in one engine job (r14, ADVICE — keeps the one-job claim true
        # for bucket-partitioned stores too); no-op when no member
        # partitions on a transform of ``col``
        self._prefill_probe_cache(
            spark, values, parts, col, src_types.get(col), bucket_cache
        )
        keeps: list[list[str]] = [[] for _ in values]
        for m in doc["members"]:
            entry = parts.get(m)
            side = ...  # sentinel: sidecar not loaded yet for this member
            s = stats.get(m, {}).get(col)
            for j, value in enumerate(values):
                if entry and self._part_excludes_point(
                    spark, entry, col, value, bucket_cache, src_types
                ):
                    continue
                if s is not None and s[0] is not None and s[1] is not None:
                    try:
                        if not (s[0] <= value <= s[1]):
                            continue
                    except TypeError:
                        pass
                # bloom sidecar: the high-cardinality complement to stats
                # (a hash-distributed key spans every member's [min,max],
                # so intervals never prune it; the bloom does). Members
                # without a sidecar (fresh compaction output, older
                # lineage) stay conservative.
                if side is ...:
                    side = (
                        sidecar_cache.setdefault(
                            m,
                            blooms.load_sidecar(
                                os.path.join(self.base_dir, m)
                            ),
                        )
                        if dtype is not None else None
                    )
                if side is not None:
                    cdoc = side.get("cols", {}).get(phys)
                    if cdoc is not None:
                        kk = cdoc["k"]
                        if kk > len(hashes[0]):
                            new = blooms.probe_hashes_many(
                                spark, values, dtype, kk
                            )
                            for h, n in zip(hashes, new):
                                h[:] = n
                        if not blooms.might_contain(cdoc, hashes[j]):
                            continue
                keeps[j].append(m)
        return keeps

    def build_blooms(
        self,
        spark: SparkSession,
        cols: list[str],
        version: int | None = None,
        bits_per_key: int = 16,
        k: int = 7,
        rebuild: bool = False,
    ) -> int:
        """Build (or top up) the per-member BLOOM FILTER sidecar index
        on ``cols`` for ``version`` (default latest) — the point-lookup
        complement to [min,max] stats for hash-distributed keys (see
        ``sources/blooms.py`` for the design and the Delta
        ``_delta_index`` precedent). INCREMENTAL: only members missing
        a sidecar entry for some requested column are scanned (two
        distributed jobs over just those members), so re-running after
        an append or a compaction indexes only the new directories.
        Returns the number of members (re)indexed. Correctness never
        depends on the index: unindexed members are read
        conservatively, and immutable members make a built sidecar
        valid for every version that references the directory."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise ValueError("build_blooms() on an empty store")
        doc = self.manifest(v)
        mapping = doc.get("column_mapping") or {}
        schema = (
            StructType.fromJson(doc["schema"])
            if doc.get("schema") is not None else None
        )
        if schema is not None:
            missing = [c for c in cols if c not in schema.fieldNames()]
            if missing:
                raise ValueError(
                    f"build_blooms: columns {missing} not in the v{v} "
                    "schema"
                )
        phys = [mapping.get(c, c) for c in cols]
        todo: dict[str, str] = {}
        for m in doc["members"]:
            full = os.path.join(self.base_dir, m)
            side = None if rebuild else blooms.load_sidecar(full)
            if side is not None and all(
                p in side.get("cols", {}) for p in phys
            ):
                continue
            todo[os.path.basename(m)] = full
        if not todo:
            return 0
        # read just the indexed PHYSICAL columns under the table's
        # recorded types: a member that physically lacks one (subset-
        # schema append) NULL-backfills to an exactly-empty bloom
        # instead of failing resolution (same lesson as the r12
        # constraint-enforcement ADVICE fix)
        read_schema = (
            StructType([
                StructField(
                    mapping.get(c, c), schema[c].dataType, True
                )
                for c in cols
            ])
            if schema is not None else None
        )
        built = blooms.build_member_blooms(
            spark, todo, phys, bits_per_key=bits_per_key, k=k,
            schema=read_schema,
        )
        for mid, full in todo.items():
            side = blooms.load_sidecar(full) or {"rows": 0, "cols": {}}
            new = built.get(mid, {"rows": 0, "cols": {}})
            side["rows"] = new["rows"]
            side["cols"].update(new["cols"])
            blooms.write_sidecar(full, side)
        return len(todo)

    def read_point(
        self, spark: SparkSession, col: str, value, version: int | None = None
    ) -> DataFrame:
        """Point-lookup read of rows with ``col == value`` (non-NULL):
        members are pruned by exact partition value — identity mismatch,
        foreign bucket, non-covering month/day — then by stats, and the
        exact predicate still applies after the read (pruning is a
        superset filter, correctness never depends on it)."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise ValueError("read_point() on an empty store")
        doc = self.manifest(v)
        keep = self.planned_members_point(spark, col, value, version=v)
        if not keep:  # provably empty — keep the schema, scan nothing
            donor = doc["members"][:1]  # [] falls back to the schema
            return self._read_members(spark, doc, donor).where(F.lit(False))
        return self._read_members(spark, doc, keep).where(
            F.col(col) == F.lit(value)
        )

    # -- commit protocol ----------------------------------------------------
    #
    # Every verb publishes through ONE path: ``_land`` runs the verb's
    # attempt against the latest manifest, the attempt derives the next
    # manifest with ``_next_doc`` (rewrites first write their members with
    # ``_replace_members``), and ``_publish`` links it into place.

    #: table-level DDL keys a version carries while they are set (older
    #: lineages never had them, and a verb that does not touch them does
    #: not add them)
    _CARRIED_KEYS = (
        "column_mapping", "identity", "generated", "retired_physical",
    )

    def _next_doc(
        self, doc: dict, mode: str, all_ddl: bool = False, **fields
    ) -> dict:
        """The manifest of the version after ``doc``: every table-level key
        of ``doc`` carried (partition spec, writer txns, constraints,
        default backfills, schema and its version, and the
        ``_CARRIED_KEYS`` while set; ``all_ddl`` states those four even
        when empty), with ``fields`` laid over it. A version whose
        ``fields`` do not name ``members`` keeps ``doc``'s members with
        their stats, partition values and deletion vectors; one that does
        states its member-level keys itself (see ``_replace_members``)."""
        out = {"version": doc.get("version", 0) + 1, "mode": mode}
        if "members" not in fields:
            out.update(
                members=list(doc["members"]), added=[],
                stats=dict(doc.get("stats", {})),
                partitions=dict(doc.get("partitions", {})),
                deletes=dict(doc.get("deletes", {})),
                deletes_rows=dict(doc.get("deletes_rows", {})),
            )
        out.update(
            partition_spec=doc.get("partition_spec"),
            txns=dict(doc.get("txns", {})),
            constraints=dict(doc.get("constraints", {})),
            defaults=self._carry_defaults(doc),
            schema=doc.get("schema"),
            schema_version=doc.get("schema_version", 1),
        )
        if all_ddl:
            out.update(
                column_mapping=dict(doc.get("column_mapping") or {}),
                identity=dict(doc.get("identity") or {}),
                generated=dict(doc.get("generated") or {}),
                retired_physical=list(doc.get("retired_physical") or []),
            )
        else:
            out.update({k: doc[k] for k in self._CARRIED_KEYS if doc.get(k)})
        out.update(fields)
        return out

    def _replace_members(
        self,
        spark: SparkSession,
        doc: dict,
        frames: list[DataFrame],
        replaced: list[str] | None = None,
        verb: str | None = None,
        inserts: bool = True,
        mapping: dict | None = None,
    ) -> dict:
        """Write ``frames`` as new members in place of ``replaced`` (None:
        every member, a whole-table rewrite) and return the member-level
        manifest fields for ``_next_doc``.

        The new members are written under ``doc``'s partition spec (a
        rewrite doubles as spec migration) and re-statted on every column
        ``doc`` tracked anywhere, so a rewrite never turns off
        ``read_where`` / pruned-merge skipping. The replaced members'
        stats, partition values, deletion vectors and default backfills
        go (the rewrite read applied them); kept members keep theirs. A
        whole-table rewrite records no deletion-vector maps at all.

        ``verb`` validates the new rows against the CHECK constraints
        before anything is statted and, when the rows may be MERGE inserts
        (``inserts``), refuses NULL identity ids. ``mapping`` overrides
        ``doc``'s column mapping for a rewrite that adds a column."""
        if mapping is None:
            mapping = doc.get("column_mapping") or {}
        spec = doc.get("partition_spec")
        written = [
            w for df in frames
            for w in self._write_under_spec(df, spec, mapping)
        ]
        new = [d for d, _ in written]
        if verb is not None:
            self._enforce_constraints(spark, doc, new, verb)
            if inserts:
                self._enforce_identity_not_null(spark, doc, new, verb)
        gone = set(doc["members"] if replaced is None else replaced)
        keep = [m for m in doc["members"] if m not in gone]
        kept = set(keep)

        def carried(key: str) -> dict:
            return {m: v for m, v in doc.get(key, {}).items() if m in kept}

        stat_cols = sorted(
            {c for s in doc.get("stats", {}).values() for c in s}
        )
        fields = {
            "members": keep + new,
            "added": new,
            "stats": {
                **carried("stats"),
                **self._members_stats(spark, new, stat_cols, mapping),
            },
            "partitions": {
                **carried("partitions"),
                **{d: e for d, e in written if e is not None},
            },
            "defaults": self._carry_defaults(doc, gone),
        }
        if replaced is not None:
            fields["deletes"] = carried("deletes")
            fields["deletes_rows"] = carried("deletes_rows")
        return fields

    def _land(
        self, verb: str, attempt, rebase: bool = True, empty_ok: bool = False
    ) -> int:
        """Publish the version ``attempt(prev, doc)`` derives from the latest
        one (``doc`` is manifest ``prev``) and return its number. An attempt
        that returns a version number instead of a manifest publishes
        nothing (a no-op verb).

        A lost race (another writer published that version number first)
        REBASES a read-modify-write or blind verb: re-read the new latest
        and run ``attempt`` again, at most ``_OCC_RETRIES`` times. A
        rewrite verb (``rebase=False``) wrote files that copy one specific
        version; landing them over a newer one would revert the winner's
        commit, so it raises instead. Either way the store is untouched
        and the loser's data directories are ``vacuum()``-collectable."""
        for _ in range(_OCC_RETRIES if rebase else 1):
            prev = self.latest_version()
            if prev is None and not empty_ok:
                raise ValueError(f"{verb}() on an empty store")
            doc = self.manifest(prev) if prev is not None else {}
            nxt = attempt(prev, doc)
            if isinstance(nxt, int):
                return nxt
            try:
                self._publish(nxt["version"], nxt)
                return nxt["version"]
            except FileExistsError:
                if not rebase:
                    raise SnapshotConflictError(
                        f"{verb} of v{prev} lost the race for "
                        f"v{nxt['version']}: its rewritten files no longer "
                        "describe the latest version; re-run it against "
                        "the new latest"
                    ) from None
        raise SnapshotConflictError(
            f"{verb} could not land after {_OCC_RETRIES} rebases "
            "(sustained contention on the manifest log)"
        )

    @staticmethod
    def _required_reader(doc: dict) -> int:
        """The MINIMUM reader generation that serves this manifest's
        rows correctly — derived from content, not verb: a manifest
        whose features an old reader would silently ignore must refuse
        on open under that reader."""
        req = 1
        if any((doc.get("deletes") or {}).values()):
            req = 2
        if doc.get("defaults") or doc.get("constraints"):
            req = max(req, 3)
        if (
            doc.get("column_mapping")
            or doc.get("identity")
            or doc.get("generated")
            or doc.get("retired_physical")
        ):
            req = max(req, 4)
        return req

    def _publish(self, version: int, doc: dict) -> None:
        """Atomically publish ``v{version}.json``; FileExistsError if a
        concurrent writer won the race for this version number.

        This single writer also stamps ``min_reader_version`` =
        max(previous stamp, what this doc's content requires) — the
        protocol floor is MONOTONE like Delta's (removing the last DV
        does not re-admit readers that would have mis-read the
        intermediate history)."""
        prev_min = 1
        if version > 1:
            try:
                prev_min = int(
                    self.manifest(version - 1).get("min_reader_version", 1)
                )
            except FileNotFoundError:
                pass
        doc["min_reader_version"] = max(
            prev_min, self._required_reader(doc)
        )
        final = self._manifest_path(version)
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)  # fails (EEXIST) instead of clobbering
        finally:
            os.unlink(tmp)
        # the link is the commit point, but POSIX only promises the NEW
        # DIRECTORY ENTRY is durable once the directory itself is fsynced;
        # without this a crash right after "commit" could lose the entry
        # while keeping the (already-fsynced) file contents
        dfd = os.open(os.path.dirname(final), os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def last_txn(self, app: str) -> int | None:
        """The highest batch id committed under ``app`` (Delta's ``txn``
        action): one O(1) lookup in the latest manifest — the map is
        carried forward on every publish, never recomputed from the
        log."""
        v = self.latest_version()
        if v is None:
            return None
        return self.manifest(v).get("txns", {}).get(app)

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        stats_cols: list[str] | None = None,
        evolve_schema: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Write ``df`` as a new commit directory, publish the next
        version. ``mode='append'`` keeps prior members; ``'overwrite'``
        starts the member list fresh (prior versions stay readable).

        ``stats_cols`` embeds per-member [min, max] for those columns in
        the manifest — the metadata a ``read_where`` pruned read skips
        with. Stats are computed by reading BACK the written files (one
        column-pruned scan of just-written data: ground truth, not a
        pre-write estimate that a non-deterministic upstream could
        invalidate), and carried forward for retained members. Stats
        columns must collect to JSON-representable values (numeric /
        string); a real format would carry typed encodings.

        Concurrency: an OCC loser (another writer published our version
        number first) REBASES — the data directory is written once and
        reused, the member list and carried-forward stats are recomputed
        from the new latest manifest, and the publish retries one version
        up, bounded at ``_OCC_RETRIES``. Both commit() modes commute with
        rebasing: append is blind (any interleaving of appends is
        serializable), and overwrite declares the full new table state
        (last-writer-wins IS its contract). Read-modify-write semantics
        must NOT ride this blind rebase — ``merge()`` recomputes against
        the new state instead.

        Schema: the manifest records the table schema (all-nullable).
        An append whose batch carries a column the table lacks is
        rejected unless ``evolve_schema=True`` (additive evolution: the
        new column is appended, pre-evolution members read as NULL); a
        type change on a shared column always raises. A batch may WRITE
        a column subset — readers backfill the missing columns with
        NULL. A rejected schema leaves the already-written data
        directory as a vacuum()-collectable orphan, like any lost
        race."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        # exactly-once writer transactions (Delta's ``txn`` action): a
        # replayed batch — same app, batch id <= the last committed one —
        # is a NO-OP returning the current version, checked BEFORE the
        # data write (cheap skip on restart) and re-checked on every OCC
        # rebase (a racing twin of the same batch loses idempotently, not
        # duplicately). Ids must be monotone per app, which is exactly
        # what streaming micro-batch ids are.
        if txn is not None:
            app, batch_id = txn
            last = self.last_txn(app)
            if last is not None and batch_id <= last:
                return self.latest_version()
        # the CURRENT spec governs the write; data is written ONCE. A spec
        # change racing in before our publish is fine — the members keep
        # the spec they were written under (Iceberg's per-file spec id)
        spec = self.partition_spec()
        base_prev = self.latest_version()
        base_doc = self.manifest(base_prev) if base_prev is not None else {}
        base_schema = (
            StructType.fromJson(base_doc["schema"])
            if base_doc.get("schema") is not None
            else None
        )
        # GENERATED ALWAYS columns are ENGINE-owned: explicit values
        # refuse; identity ids are assigned (unique, past the watermark,
        # gaps allowed), generated expressions are computed — both in
        # recorded order, before the one data write
        ident = dict(base_doc.get("identity") or {})
        gen = dict(base_doc.get("generated") or {})
        for c in list(ident) + list(gen):
            if c in df.columns:
                raise ValueError(
                    f"column {c!r} is GENERATED ALWAYS — omit it from "
                    "the batch; the engine assigns/computes it"
                )
        ident_base = {c: ident[c]["watermark"] for c in ident}
        for c, e in ident.items():
            df = self._identity_assign(df, c, e)
        for c, gexpr in gen.items():
            try:
                df = df.withColumn(
                    c, F.expr(gexpr).cast(base_schema[c].dataType)
                )
            except Exception as exc:
                raise ValueError(
                    f"generated column {c!r} could not be computed from "
                    f"this batch ({gexpr!r}): its source columns must be "
                    "present"
                ) from exc
        # column mapping: a batch column that is NEW to the table but
        # collides with a physical name this lineage ever wrote (dropped
        # or renamed-away column) gets a fresh physical name, or dead
        # bytes in old files would leak into it
        mapping_now = dict(base_doc.get("column_mapping") or {})
        extra: dict[str, str] = {}
        if base_schema is not None:
            tbl_names = set(base_schema.fieldNames())
            used = self._used_physical(base_doc)
            for c in df.columns:
                if c not in tbl_names and c not in mapping_now and c in used:
                    extra[c] = f"{c}__{uuid.uuid4().hex[:8]}"
        write_mapping = {**mapping_now, **extra}
        written = self._write_under_spec(df, spec, write_mapping)
        new_stats = (
            self._members_stats(
                df.sparkSession, [d for d, _ in written], stats_cols,
                write_mapping,
            )
            if stats_cols
            else {}
        )
        # identity watermarks advance past every id just written (one
        # column-pruned agg over only the new files, per identity col)
        new_ident = {
            c: self._advance_watermark(
                df.sparkSession, e, [d for d, _ in written],
                write_mapping.get(c, c),
            )
            for c, e in ident.items()
        }
        batch_schema = self._normalize(df.schema)
        validated_cons = None  # constraints map already enforced, if any
        new_dirs = [d for d, _ in written]

        def attempt(prev, prev_doc):
            nonlocal validated_cons
            # txn idempotence FIRST: an already-landed batch is a no-op
            # even if a later add_constraint would now reject its rows —
            # the duplicate must return idempotently, not raise (and must
            # not pay a needless validation scan per retry)
            if txn is not None:
                app, batch_id = txn
                last = prev_doc.get("txns", {}).get(app)
                if last is not None and batch_id <= last:
                    # a racing writer landed this very batch between our
                    # pre-check and now: our data directory becomes a
                    # vacuum()-collectable orphan, the rows exist ONCE
                    return prev
            # a rebase onto a manifest whose GENERATED-ALWAYS surface
            # moved cannot land blindly: identity watermarks that
            # advanced mean our assigned ids may collide; a changed
            # generated/identity set means our written files lack (or
            # mis-compute) an engine-owned column
            cur_ident = prev_doc.get("identity") or {}
            if set(cur_ident) != set(ident) or any(
                cur_ident[c]["watermark"] != ident_base[c]
                for c in cur_ident
            ):
                raise SnapshotConflictError(
                    "identity columns changed or their watermark moved "
                    "during commit (concurrent writer/DDL); the assigned "
                    "ids may collide — retry the commit"
                )
            if (prev_doc.get("generated") or {}) != gen:
                raise SnapshotConflictError(
                    "generated columns changed during commit (concurrent "
                    "DDL); the written files do not carry the new "
                    "expression — retry the commit"
                )
            # CHECK constraints: validate the just-written files against
            # the manifest we are landing on — re-run only if a rebase
            # changed the constraint set (a racing add_constraint)
            cons_key = json.dumps(
                prev_doc.get("constraints", {}), sort_keys=True
            )
            if cons_key != validated_cons:
                self._enforce_constraints(
                    df.sparkSession, prev_doc, new_dirs,
                    f"commit(mode={mode!r})",
                )
                validated_cons = cons_key
            txns = dict(prev_doc.get("txns", {}))
            if txn is not None:
                txns[txn[0]] = txn[1]
            keep_prev = mode == "append" and prev is not None
            members = list(prev_doc.get("members", [])) if keep_prev else []
            stats = dict(prev_doc.get("stats", {})) if keep_prev else {}
            partitions = (
                dict(prev_doc.get("partitions", {})) if keep_prev else {}
            )
            prev_schema_json = prev_doc.get("schema") if keep_prev else None
            if prev_schema_json is not None:
                schema = self._merge_schema(
                    StructType.fromJson(prev_schema_json),
                    batch_schema,
                    evolve_schema,
                )
            else:
                # fresh table, overwrite, or a legacy (pre-schema-tracking)
                # lineage: the batch declares the schema
                schema = batch_schema
            schema_json = schema.jsonValue()
            # schema_version is MONOTONE across the whole lineage, incl.
            # overwrite (which resets members, not the schema history):
            # bump iff the declared schema differs from the previously
            # recorded one, whatever the mode
            prev_recorded = prev_doc.get("schema")
            prev_sv = prev_doc.get("schema_version", 1)
            sv = prev_sv + 1 if (
                prev_recorded is not None and schema_json != prev_recorded
            ) else prev_sv
            for d, entry in written:
                members.append(d)
                if entry is not None:
                    partitions[d] = entry
            stats.update(new_stats)
            # column mapping survives overwrite for surviving columns;
            # entries for columns the overwrite's declared schema drops
            # retire their physical names (conservative: the member list
            # reset already prevents byte leaks, retirement keeps the
            # never-reuse invariant uniform)
            cm = dict(prev_doc.get("column_mapping") or {})
            cm.update(extra)
            retired = list(prev_doc.get("retired_physical") or [])
            if not keep_prev:
                field_names = set(schema.fieldNames())
                for k in list(cm):
                    if k not in field_names:
                        if cm[k] not in retired:
                            retired.append(cm[k])
                        del cm[k]
            # spec, txn map and constraints are table-level metadata: they
            # survive overwrite (the member list resets, the layout
            # contract and writer-idempotence do not)
            doc = self._next_doc(
                prev_doc, mode, members=members, added=new_dirs,
                stats=stats, schema=schema_json, schema_version=sv,
                txns=txns, column_mapping=cm, identity=new_ident,
                generated=gen, retired_physical=retired,
                # append: prior members keep their default backfill;
                # overwrite: the old members die and the backfill
                # entries die with them (the new state is physical)
                defaults=self._carry_defaults(
                    prev_doc,
                    () if keep_prev else prev_doc.get("members", []),
                ),
            )
            if partitions:
                doc["partitions"] = partitions
            # deletion vectors ride with the members they mask: appends
            # carry them forward untouched, overwrite drops them with the
            # member list (the new state has no masked rows)
            if keep_prev and prev_doc.get("deletes"):
                doc["deletes"] = dict(prev_doc["deletes"])
                doc["deletes_rows"] = dict(prev_doc.get("deletes_rows", {}))
            return doc

        return self._land("commit", attempt, empty_ok=True)

    def _new_member_dir(self) -> tuple[str, str]:
        """Fresh uniquely-named commit directory (relative, absolute)."""
        commit_dir = os.path.join(_DATA_DIR, f"c{uuid.uuid4().hex[:16]}")
        return commit_dir, os.path.join(self.base_dir, commit_dir)

    @staticmethod
    def _member_stats(
        spark: SparkSession,
        full_dir: str,
        cols: list[str],
        mapping: dict,
    ) -> dict:
        aggs = []
        for c in cols:
            p = mapping.get(c, c)
            aggs += [
                F.min(F.col(p)).alias(f"lo_{c}"),
                F.max(F.col(p)).alias(f"hi_{c}"),
            ]
        row = spark.read.parquet(full_dir).agg(*aggs).collect()[0]
        return {c: [row[f"lo_{c}"], row[f"hi_{c}"]] for c in cols}

    def _members_stats(
        self,
        spark: SparkSession,
        dirs: list[str],
        cols: list[str],
        mapping: dict,
    ) -> dict:
        """[min,max] stats for SEVERAL just-written member directories in
        ONE read-back job (rows attributed to members via
        ``input_file_name``) — a spec'd commit writes up to
        ``_MAX_PARTITIONS`` members, and one grouped aggregate beats that
        many sequential per-member jobs by the same factor. Still ground
        truth: the job reads the written files, never a pre-write
        estimate."""
        if not dirs or not cols:
            return {}
        # stats are keyed LOGICAL in the manifest; the read-back of the
        # just-written files selects the physical names
        if len(dirs) == 1:
            return {
                dirs[0]: self._member_stats(
                    spark, os.path.join(self.base_dir, dirs[0]), cols,
                    mapping,
                )
            }
        full = [os.path.join(self.base_dir, d) for d in dirs]
        member_key = F.regexp_extract(
            F.input_file_name(), r"/data/(c[0-9a-f]{16})/", 1
        ).alias("_member")
        aggs = []
        for c in cols:
            p = mapping.get(c, c)
            aggs += [
                F.min(F.col(p)).alias(f"lo_{c}"),
                F.max(F.col(p)).alias(f"hi_{c}"),
            ]
        rows = (
            spark.read.parquet(*full).groupBy(member_key).agg(*aggs).collect()
        )
        out = {
            os.path.join(_DATA_DIR, r["_member"]): {
                c: [r[f"lo_{c}"], r[f"hi_{c}"]] for c in cols
            }
            for r in rows
        }
        # partitionBy never writes empty leafs, but stay defensive: a
        # member that produced no rows gets uninformative (null) bounds
        for d in dirs:
            out.setdefault(d, {c: [None, None] for c in cols})
        return out

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """Rewrite the CURRENT version's members into ``target_files``
        files; logically a no-op (same rows), physically fewer, larger
        files. Older manifests keep naming the original directories, so
        pinned readers are untouched.

        The compacted member is RE-STATTED on every column the prior
        manifest tracked anywhere, so compaction never silently disables
        ``read_where`` / pruned-merge file skipping (same discipline as
        ``_merge_pruned``).

        Concurrency: compaction is NOT rebaseable — its rewritten file is
        a faithful copy of one specific version, so if another writer
        commits first the copy no longer describes the latest table and
        blindly retrying would REVERT that commit. A lost race raises
        ``SnapshotConflictError``; re-run compact() against the new
        latest (the orphan data directory is vacuum()-collectable)."""

        def attempt(prev, doc):
            # the rewrite honors the CURRENT spec: pre-spec members get
            # re-laid-out into partition members (how Iceberg migrates old
            # files to a new spec — rewrite, never in place), so compaction
            # doubles as spec migration; ``target_files`` applies per
            # partition under a spec (coalesce bounds files per leaf). The
            # rewrite reads under the recorded schema, so the compacted
            # member physically carries every evolved column
            # (NULL-backfilled) — schema version unchanged
            return self._next_doc(
                doc, "compact", compaction_of=prev,
                **self._replace_members(
                    spark, doc, [self.read(spark, prev).coalesce(target_files)]
                ),
            )

        return self._land("compact", attempt, rebase=False)

    def merge(
        self,
        spark: SparkSession,
        changes: DataFrame,
        keys: list[str],
        op_col: str = "_op",
        prune: bool = False,
    ) -> int:
        """MERGE: apply a changes batch (upserts + deletes) to the latest
        version and publish the result as a new version — the lakehouse
        verb that turns the append-only log into a mutable table WITHOUT
        mutating any committed file.

        ``changes`` carries the target schema plus ``op_col`` ∈
        {'upsert', 'delete'}: an upsert row replaces the current row with
        its key (or inserts if absent); a delete row removes it. Applied
        as one full-outer join on ``keys`` — matched rows take the change
        side, unmatched targets pass through, deletes drop. A NULL in an
        upsert row's data column inherits the current value
        (partial-update semantics via ``coalesce``).

        ``prune=False`` (the logical form) joins against the FULL table:
        O(table) shuffle, the fallback engines use when every file may
        hold matched keys. ``prune=True`` is the 100 TB form: members of
        the current version whose manifest [min, max] on ``keys[0]``
        cannot contain any change key are carried into the new manifest
        UNTOUCHED — never read, never rewritten — and the join runs only
        over the affected members plus the changes. Merge cost becomes
        O(affected files + changes); for key-clustered tables (ingest by
        id range or by day) that is typically one or two members out of
        hundreds. Requires single-column keys with recorded stats; member
        sets without usable stats degrade per-member to "affected"
        (correctness never depends on pruning), and a fully stat-less
        version falls back to the logical form. Time travel is untouched
        either way: prior manifests keep naming the pre-merge files."""
        # merge runs several bounded probe actions over the changes batch
        # (op domain, duplicate keys, member overlap) before the join —
        # computed once so an expensive changes lineage runs once, not 4x
        # (bound: the caller's change batch)
        with materialized(changes) as changes:
            self._validate_changes(changes, keys, op_col)

            # MERGE is read-modify-write, so an OCC loss cannot be rebased
            # blindly (that would revert the interleaved commit): each
            # retry RE-READS the new latest manifest, re-validates the
            # member/key-overlap split, recomputes the merge output
            # against the new state, and re-publishes — the serializable
            # outcome is "their commit, then our changes batch". A lost
            # attempt's data directory becomes a vacuum()-able orphan.
            def attempt(prev, doc):
                # conform batch types to the RECORDED schema (re-checked
                # per rebase: an interleaved alter may have changed it)
                chg = self._conform_changes(doc, changes, op_col)
                self._guard_identity_merge(doc, chg, op_col)
                if prune and len(keys) == 1:
                    affected = self._split_affected(spark, doc, chg, keys[0])
                    if affected is not None:
                        return self._merge_pruned(
                            spark, doc, chg, keys, op_col, affected
                        )
                cur = self.read(spark, prev)
                out = self._apply_generated(
                    doc, self._apply_changes(cur, chg, keys, op_col)
                )
                # change data feed: the applied deltas (pre/post images)
                # written as their own directory, referenced by the
                # manifest's "changes" key — read_changes() serves them
                # where diff() must refuse (a merge is not append-only)
                cdf_dir, cdf_full = self._new_member_dir()
                self._change_rows(
                    cur, chg, keys, op_col, prev + 1
                ).write.parquet(cdf_full)
                # the logical path rewrites the whole table: re-laid-out
                # under the current spec (like compact, keeping point
                # pruning alive) and re-statted on every tracked column
                # (stats are the pruning's fuel)
                return self._next_doc(
                    doc, "overwrite", changes=cdf_dir,
                    **self._replace_members(spark, doc, [out], verb="merge"),
                )

            return self._land("merge", attempt)

    @staticmethod
    def _validate_changes(
        changes: DataFrame, keys: list[str], op_col: str
    ) -> None:
        """Shared MERGE-batch preconditions (bounded probe actions): the
        op domain is {'upsert', 'delete'}, and no key appears twice — a
        duplicated key would match one target row against BOTH change
        rows, silently duplicating it (the same condition real MERGE
        implementations reject)."""
        ops = (
            changes.select(op_col).distinct().toPandas()[op_col].tolist()
        )  # bounded: the op domain, ≤2 values
        bad = set(ops) - {"upsert", "delete"}
        if bad:
            raise ValueError(f"unknown {op_col} values: {sorted(bad)}")
        dup = (
            changes.groupBy(*keys)
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            key_vals = {k: dup[0][k] for k in keys}
            raise ValueError(
                f"changes batch has multiple rows for key {key_vals}; "
                "MERGE requires at most one change row per key"
            )

    #: integral widths for the one coercion a MERGE batch may carry
    #: implicitly (lossless widening); everything else must cast upstream
    _INT_WIDTH = {ByteType: 1, ShortType: 2, IntegerType: 3, LongType: 4}

    @classmethod
    def _conform_changes(
        cls, doc: dict, changes: DataFrame, op_col: str
    ) -> DataFrame:
        """The changes batch with every shared data column conformed to
        the RECORDED table schema. A batch column that safely widens
        (byte<short<int<long, float->double) is cast up; any other type
        mismatch RAISES — without this, the merge output silently
        promoted to the batch's wider type while the manifest kept the
        recorded schema, publishing members every later read fails on
        (PARQUET_COLUMN_DATA_TYPE_MISMATCH — caught by the r11 10x
        oracle sweep; a corrupted-on-publish table, the worst failure
        class a store can have)."""
        if doc.get("schema") is None:
            return changes
        tbl = cls._normalize(StructType.fromJson(doc["schema"]))
        names = {f.name: f.dataType for f in tbl.fields}
        batch = cls._normalize(changes.schema)
        out_cols = []
        for f in batch.fields:
            want = names.get(f.name)
            if f.name == op_col or want is None or f.dataType == want:
                out_cols.append(F.col(f.name))
                continue
            widen_int = (
                type(f.dataType) in cls._INT_WIDTH
                and type(want) in cls._INT_WIDTH
                and cls._INT_WIDTH[type(f.dataType)]
                <= cls._INT_WIDTH[type(want)]
            )
            widen_float = isinstance(f.dataType, FloatType) and isinstance(
                want, DoubleType
            )
            if widen_int or widen_float:
                out_cols.append(F.col(f.name).cast(want).alias(f.name))
                continue
            raise ValueError(
                f"changes column {f.name!r} is "
                f"{f.dataType.simpleString()} but the table records "
                f"{want.simpleString()}: cast the batch explicitly (a "
                "silent type change would publish members unreadable "
                "under the recorded schema)"
            )
        return changes.select(*out_cols)

    def _live_with_pos(
        self, spark: SparkSession, doc: dict, members: list[str]
    ) -> DataFrame:
        """``members`` as LIVE rows (existing deletion vectors applied)
        plus the ``(_file, _pos)`` row-address columns — the frame both
        row-level verbs (``delete_where``, ``merge_on_read``) mask
        against. Clean members skip the anti-join entirely."""
        deletes = doc.get("deletes") or {}
        with_pos = self._with_pos(spark, doc, members)
        dv_dirs = sorted(
            {d for m in members for d in deletes.get(m, [])}
        )
        if not dv_dirs:
            return with_pos
        return with_pos.join(
            self._read_dvs(spark, dv_dirs), ["_file", "_pos"], "left_anti"
        )

    @staticmethod
    def _member_hits(addr_df: DataFrame) -> dict[str, int]:
        """``{member: n_masked}`` from a frame carrying ``_file`` — one
        bounded aggregate, <= member-count rows ever reach the driver."""
        return {
            r["m"]: int(r["n"])
            for r in addr_df.select(
                F.regexp_extract(
                    F.col("_file"), r"^(data/c[0-9a-f]{16})/", 1
                ).alias("m")
            ).groupBy("m").agg(F.count("*").alias("n")).collect()
        }

    @staticmethod
    def _extend_deletes(
        doc: dict, hits: dict, dv_dir: str
    ) -> tuple[dict, dict]:
        """The (deletes, deletes_rows) manifest maps extended with this
        DV: ``deletes_rows`` is the cumulative per-member masked-row
        count — zero-scan maintenance telemetry (``masked_stats``) and
        the trigger input for ``compact_masked``."""
        deletes = dict(doc.get("deletes", {}))
        rows = dict(doc.get("deletes_rows", {}))
        for m, n in hits.items():
            deletes[m] = list(deletes.get(m, [])) + [dv_dir]
            rows[m] = rows.get(m, 0) + n
        return deletes, rows

    def delete_where(
        self,
        spark: SparkSession,
        condition: Column | str,
        prune_range: tuple[str, object, object] | None = None,
    ) -> int:
        """Row-level DELETE without rewriting any member (deletion
        vectors / merge-on-read — Delta DVs and Iceberg position deletes
        re-expressed): ONE scan computes the matching rows' stable
        addresses (``_metadata.file_path`` + ``_metadata.row_index``),
        writes them as a position-delete file, and publishes a
        ``mode='delete'`` version whose member list is UNCHANGED — later
        reads mask the positions with a per-dirty-member anti-join while
        clean members keep the plain columnar scan. Cost: O(scan) to
        find the rows, O(deleted rows) forever after; no data bytes are
        rewritten. ``compact()`` materializes DVs away; time travel to a
        pre-delete version sees the rows; ``vacuum`` retains DV files
        reachable from retained manifests.

        ``prune_range=(col, lo, hi)`` narrows the SCAN via manifest
        [min,max] stats and becomes part of the predicate (rows deleted
        = ``condition AND lo <= col < hi``), so the pruning is sound by
        construction — the 100 TB form for key-clustered deletes.

        The deleted rows are recorded as ``delete`` change-feed events
        (``read_changes`` serves them). A no-match delete publishes
        nothing and returns the current version. OCC: read-modify-write,
        so a lost race recomputes against the new latest (bounded
        retries); lost attempts' files are vacuum()-collectable."""
        cond = F.expr(condition) if isinstance(condition, str) else condition

        def attempt(prev, doc):
            members, this_cond = self._in_range(doc, cond, prune_range)
            # the emptiness probe, the DV write, the hit counts and the CDF
            # write all read the matches (bound: the rows being deleted)
            with materialized(
                self._live_with_pos(spark, doc, members).where(this_cond)
            ) as matches:
                if not matches.limit(1).count():
                    return prev  # no-op: nothing deleted, nothing published
                dv_dir, dv_full = self._new_member_dir()
                matches.select("_file", "_pos").write.parquet(dv_full)
                # which members took hits, with counts — bounded
                hits = self._member_hits(matches)
                cdf_dir, cdf_full = self._new_member_dir()
                matches.drop("_file", "_pos").withColumn(
                    "_change_type", F.lit("delete")
                ).withColumn(
                    "_commit_version", F.lit(prev + 1).cast("int")
                ).write.parquet(cdf_full)
            # members unchanged: their [min,max] stay valid SUPERSET
            # bounds after a delete — pruning never needs exact bounds
            deletes, deletes_rows = self._extend_deletes(doc, hits, dv_dir)
            return self._next_doc(
                doc, "delete", changes=cdf_dir, deletes=deletes,
                deletes_rows=deletes_rows,
            )

        return self._land("delete_where", attempt)

    def _in_range(
        self, doc: dict, cond: Column, prune_range: tuple | None
    ) -> tuple[list[str], Column]:
        """``(members to scan, predicate)`` of a row-level verb:
        ``prune_range=(col, lo, hi)`` drops the members whose partition
        values or [min,max] stats exclude ``lo <= col < hi`` and joins that
        range to ``cond``, so the pruning is sound by construction."""
        if prune_range is None:
            return doc["members"], cond
        col, lo, hi = prune_range
        stats = doc.get("stats", {})
        parts = doc.get("partitions", {})
        members = [
            m for m in doc["members"]
            if not (
                (e := parts.get(m))
                and self._part_excludes_range(e, col, lo, hi)
            )
            and not (
                (s := stats.get(m, {}).get(col)) is not None
                and s[0] is not None and s[1] is not None
                and not (s[1] >= lo and s[0] < hi)
            )
        ]
        return members, cond & (F.col(col) >= lo) & (F.col(col) < hi)

    def update_where(
        self,
        spark: SparkSession,
        condition: Column | str,
        assignments: dict[str, Column | str],
        prune_range: tuple[str, object, object] | None = None,
    ) -> int:
        """Row-level ``UPDATE ... SET`` without rewriting any member —
        the third row-level verb over the same deletion-vector
        machinery: matching LIVE rows are masked by a position-delete
        file and their post-images (the ``assignments`` applied, cast
        back to the column's recorded type) land as one ordinary
        appended member. Cost O(scan) to find + O(matched rows) to
        mask-and-append; unmatched members are untouched bytes.
        ``prune_range`` narrows the scan exactly as in ``delete_where``
        (and joins the predicate). The change feed records
        ``update_preimage``/``update_postimage`` rows — same contract as
        MERGE's. A no-match update publishes nothing. OCC: recompute on
        a lost race, bounded retries."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        exprs = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in assignments.items()
        }

        def attempt(prev, doc):
            schema = (
                StructType.fromJson(doc["schema"])
                if doc.get("schema") is not None else None
            )
            if schema is not None:
                missing = set(exprs) - set(schema.fieldNames())
                if missing:
                    raise ValueError(
                        f"assignment columns {sorted(missing)} not in the "
                        "table schema"
                    )
            owned = set(doc.get("identity") or {}) | set(
                doc.get("generated") or {}
            )
            bad_assign = owned & set(exprs)
            if bad_assign:
                raise ValueError(
                    f"columns {sorted(bad_assign)} are GENERATED ALWAYS "
                    "and cannot be assigned; the engine owns their values"
                )
            members, this_cond = self._in_range(doc, cond, prune_range)
            # bound: the rows being updated
            with materialized(
                self._live_with_pos(spark, doc, members).where(this_cond)
            ) as matches:
                if not matches.limit(1).count():
                    return prev  # no-op: nothing matched, nothing published
                dv_dir, dv_full = self._new_member_dir()
                matches.select("_file", "_pos").write.parquet(dv_full)
                hits = self._member_hits(matches)
                pre = matches.drop("_file", "_pos")
                post = pre.select(
                    *[
                        (
                            exprs[c].cast(pre.schema[c].dataType).alias(c)
                            if c in exprs
                            else F.col(c)
                        )
                        for c in pre.columns
                    ]
                )
                # generated columns recompute on the post-image: an
                # assignment to a SOURCE column must not leave a stale
                # derived value (Delta recomputes on UPDATE)
                post = self._apply_generated(doc, post)
                cdf_dir, cdf_full = self._new_member_dir()
                meta = lambda df, t: df.withColumn(  # noqa: E731
                    "_change_type", F.lit(t)
                ).withColumn("_commit_version", F.lit(prev + 1).cast("int"))
                meta(pre, "update_preimage").unionAll(
                    meta(post, "update_postimage")
                ).write.parquet(cdf_full)
                # post-images only rewrite existing rows: no insert to
                # refuse, their ids are the pre-images'
                fields = self._replace_members(
                    spark, doc, [post], [], verb="update_where",
                    inserts=False,
                )
            fields["deletes"], fields["deletes_rows"] = self._extend_deletes(
                doc, hits, dv_dir
            )
            return self._next_doc(
                doc, "update", changes=cdf_dir, merge_on_read=True, **fields
            )

        return self._land("update_where", attempt)

    def merge_on_read(
        self,
        spark: SparkSession,
        changes: DataFrame,
        keys: list[str],
        op_col: str = "_op",
    ) -> int:
        """MERGE without rewriting any member (merge-on-read): matched
        current rows are MASKED by a position-delete file and the
        upserts' post-images land as an ordinary appended member — the
        write costs O(changes + matched rows), never O(affected files),
        where the copy-on-write ``merge(prune=True)`` rewrites every
        member that may hold a change key. Row-for-row equivalent to
        ``merge()`` (same change-batch contract, same partial-update
        coalesce, same CDF rows); the trade is read-side: every read of
        a dirty member pays the (file, pos) anti-join until ``compact``
        materializes the DVs away. Member stats/partition entries stay
        superset-valid (masking rows never widens bounds).

        Prefer this for frequent small MERGEs over huge members (the
        Delta/Iceberg MoR sweet spot); prefer copy-on-write when changes
        touch a large fraction of rows or reads dominate writes."""
        # bound: the caller's change batch
        with materialized(changes) as changes:
            self._validate_changes(changes, keys, op_col)
            has_upserts = (
                changes.where(F.col(op_col) == "upsert").limit(1).count()
                > 0
            )

            def attempt(prev, doc):
                # conform batch types to the RECORDED schema (same guard
                # as the copy-on-write path — a wider batch type must
                # never publish a member the recorded schema can't read)
                chg = self._conform_changes(doc, changes, op_col)
                self._guard_identity_merge(doc, chg, op_col)
                # the stats split narrows the SCAN (which members can
                # hold a matched key); unlike copy-on-write, untouched
                # vs affected does not change what gets rewritten —
                # nothing does
                affected = (
                    self._split_affected(spark, doc, chg, keys[0])
                    if len(keys) == 1
                    else None
                )
                scan = doc["members"] if affected is None else affected
                # bound: the live rows of the members that may hold a key
                with materialized(
                    self._live_with_pos(spark, doc, scan)
                ) as cur_pos:
                    # mask every current row whose key has a change row
                    # (upsert -> replaced, delete -> dropped)
                    masked = cur_pos.join(
                        chg.select(*keys), keys, "left_semi"
                    ).select("_file", "_pos")
                    dv_dir, dv_full = self._new_member_dir()
                    masked.write.parquet(dv_full)
                    dv_back = self._read_dvs(spark, [dv_dir])
                    any_masked = dv_back.limit(1).count() > 0
                    if not any_masked and not has_upserts:
                        return prev  # pure no-op batch
                    cur = cur_pos.drop("_file", "_pos")
                    cdf_dir, cdf_full = self._new_member_dir()
                    self._change_rows(
                        cur, chg, keys, op_col, prev + 1
                    ).write.parquet(cdf_full)
                    frames = []
                    if has_upserts:
                        data_cols = [c for c in cur.columns if c not in keys]
                        s_cols = set(chg.columns)
                        out_new = (
                            chg.alias("s")
                            .where(F.col(f"s.{op_col}") == "upsert")
                            .join(cur.alias("t"), on=keys, how="left")
                            .select(
                                *keys,
                                *[
                                    (
                                        F.coalesce(
                                            F.col(f"s.{c}"), F.col(f"t.{c}")
                                        )
                                        if c in s_cols
                                        else F.col(f"t.{c}")
                                    ).cast(
                                        cur.schema[c].dataType
                                    ).alias(c)
                                    for c in data_cols
                                ],
                            )
                        )
                        frames.append(self._apply_generated(doc, out_new))
                    fields = self._replace_members(
                        spark, doc, frames, [], verb="merge_on_read"
                    )
                    hits = self._member_hits(dv_back)
                fields["deletes"], fields["deletes_rows"] = (
                    self._extend_deletes(doc, hits, dv_dir)
                )
                return self._next_doc(
                    doc, "merge", changes=cdf_dir, merge_on_read=True,
                    **fields,
                )

            return self._land("merge_on_read", attempt)

    @staticmethod
    def _change_rows(
        cur: DataFrame,
        changes: DataFrame,
        keys: list[str],
        op_col: str,
        version: int,
    ) -> DataFrame:
        """The merge's CHANGE DATA FEED rows (Delta CDF re-expressed):
        per applied change, ``insert`` (upsert with no current row),
        ``update_preimage``/``update_postimage`` (upsert over an existing
        row — the postimage uses the same partial-update coalesce as
        ``_apply_changes``, so the feed and the table can never
        disagree), and ``delete`` (the dropped row's last values). No-op
        deletes (key absent) emit nothing. Columns: the table schema plus
        ``_change_type`` and ``_commit_version``."""
        data_cols = [c for c in cur.columns if c not in keys]
        s_cols = set(changes.columns)
        curx = cur.withColumn("_t_exists", F.lit(True))
        j = changes.alias("s").join(curx.alias("t"), on=keys, how="left")
        exists = F.col("t._t_exists").isNotNull()
        is_up = F.col(f"s.{op_col}") == "upsert"
        is_del = F.col(f"s.{op_col}") == "delete"

        def _rows(cond, cols, ctype):
            return j.where(cond).select(
                *keys,
                *[e.alias(c) for c, e in zip(data_cols, cols)],
                F.lit(ctype).alias("_change_type"),
                F.lit(version).cast("int").alias("_commit_version"),
            )

        pre = [F.col(f"t.{c}") for c in data_cols]
        post = [
            (
                F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}"))
                if c in s_cols
                else F.col(f"t.{c}")
            )
            for c in data_cols
        ]
        new = [
            (F.col(f"s.{c}") if c in s_cols else F.lit(None)).cast(
                cur.schema[c].dataType
            )
            for c in data_cols
        ]
        return (
            _rows(is_up & ~exists, new, "insert")
            .unionAll(_rows(is_up & exists, pre, "update_preimage"))
            .unionAll(_rows(is_up & exists, post, "update_postimage"))
            .unionAll(_rows(is_del & exists, pre, "delete"))
        )

    @staticmethod
    def _apply_changes(
        cur: DataFrame, changes: DataFrame, keys: list[str], op_col: str
    ) -> DataFrame:
        # a changes batch may predate an additive schema evolution (an old
        # writer): table columns it does not carry pass through from the
        # target (and stay NULL for inserted rows) — the partial-update
        # coalesce generalized to a missing column
        data_cols = [c for c in cur.columns if c not in keys]
        s_cols = set(changes.columns)
        joined = cur.alias("t").join(
            changes.alias("s"), on=keys, how="full_outer"
        )
        kept = joined.where(
            F.col(f"s.{op_col}").isNull() | (F.col(f"s.{op_col}") != "delete")
        )
        return kept.select(
            *keys,
            *[
                (
                    F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}"))
                    if c in s_cols
                    else F.col(f"t.{c}")
                ).alias(c)
                for c in data_cols
            ],
        )

    def _split_affected(
        self, spark: SparkSession, doc: dict, changes: DataFrame, key: str
    ) -> list[str] | None:
        """The members a pruned merge must read (those whose stats may
        hold a change key, and those without stats), or None when no
        member has usable stats (caller falls back to the logical form). The overlap probe is ONE bounded aggregate over the change
        keys — one 0/1 cell per ranged member, rows never leave the
        executors unaggregated."""
        stats = doc.get("stats", {})
        ranged, affected = [], []
        for m in doc["members"]:
            s = stats.get(m, {}).get(key)
            if s is None or s[0] is None or s[1] is None:
                affected.append(m)  # no information — must be read
            else:
                ranged.append((m, s[0], s[1]))
        if not ranged:
            return None
        probes = [
            F.max(
                F.when(F.col(key).between(lo, hi), 1).otherwise(0)
            ).alias(f"m{i}")
            for i, (_, lo, hi) in enumerate(ranged)
        ]
        row = changes.agg(*probes).collect()[0]
        return affected + [
            m for i, (m, _, _) in enumerate(ranged) if row[f"m{i}"] == 1
        ]

    def _merge_pruned(
        self,
        spark: SparkSession,
        doc: dict,
        changes: DataFrame,
        keys: list[str],
        op_col: str,
        affected: list[str],
    ) -> dict | int:
        """The pruned MERGE attempt: the manifest that rewrites only the
        ``affected`` members (the others are carried with their stats,
        partition values and deletion vectors), or ``doc``'s version when
        the batch changes nothing."""
        prev = doc["version"]
        if affected:
            # manifest-schema read: an affected member written before an
            # additive evolution NULL-backfills the newer columns, so the
            # rewritten member comes out schema-complete
            cur = self._read_members(spark, doc, affected)
        else:
            # no member can hold a change key: deletes are no-ops; if the
            # batch has no inserts either, publish nothing — a no-op merge
            # must not accumulate empty members (whose [null,null] stats
            # would read as "affected" in every later pruned merge)
            has_insert = (
                changes.where(F.col(op_col) == "upsert").limit(1).count()
                > 0
            )
            if not has_insert:
                return prev
            # pure insert batch: empty target, schema preserved ([:1]
            # tolerates a zero-member version — the recorded schema then
            # carries the frame)
            cur = self._read_members(
                spark, doc, doc["members"][:1]
            ).where(F.lit(False))
        out = self._apply_generated(
            doc, self._apply_changes(cur, changes, keys, op_col)
        )
        # change data feed (same contract as the logical path): the
        # affected-member slice holds every pre-image by construction —
        # an untouched member cannot contain a change key
        cdf_dir, cdf_full = self._new_member_dir()
        self._change_rows(cur, changes, keys, op_col, prev + 1).write.parquet(
            cdf_full
        )
        # the rewritten slice honors the current spec; untouched members
        # keep their own (possibly older) spec entries — the mixed-spec
        # member set real table formats carry after spec evolution
        return self._next_doc(
            doc, "merge", changes=cdf_dir, rewrote=affected,
            **self._replace_members(
                spark, doc, [out], affected, verb="merge(prune=True)"
            ),
        )

    def masked_stats(self, version: int | None = None) -> dict:
        """Per-member deletion-vector telemetry from the manifest ALONE
        (zero data scans): ``{member: {"masked_rows": n, "dv_files": k}}``
        for members carrying DVs — the readout an operator watches to
        decide when merge-on-read debt is worth materializing
        (``compact_masked``)."""
        v = self.latest_version() if version is None else version
        if v is None:
            return {}
        doc = self.manifest(v)
        deletes = doc.get("deletes", {})
        rows = doc.get("deletes_rows", {})
        return {
            m: {"masked_rows": rows.get(m, 0), "dv_files": len(dvs)}
            for m, dvs in deletes.items()
            if dvs
        }

    def compact_masked(
        self,
        spark: SparkSession,
        max_masked_fraction: float = 0.3,
        min_masked_rows: int = 1,
    ) -> int:
        """TARGETED deletion-vector materialization (Delta's PURGE /
        Iceberg's rewrite_position_delete_files, scoped): rewrite ONLY
        the members whose masked fraction crosses the threshold —
        merge-on-read debt is paid member by member, clean members and
        lightly-masked members are carried verbatim (a full ``compact``
        rewrites the world to clear one hot member). Candidate totals
        cost one column-pruned count over the CANDIDATE members only;
        the masked counts come from the manifest. Returns the current
        version unchanged when nothing crosses the threshold.

        Concurrency: like ``compact``, NOT rebaseable — the rewritten
        files describe one specific version; a lost race raises
        ``SnapshotConflictError`` (orphans are vacuum()-collectable)."""

        def attempt(prev, doc):
            dv_rows = doc.get("deletes_rows", {})
            candidates = [
                m for m in doc["members"]
                if doc.get("deletes", {}).get(m)
                and dv_rows.get(m, 0) >= min_masked_rows
            ]
            if not candidates:
                return prev
            totals = {
                r["m"]: r["n"]
                # with_pos: the _file address column survives the default-
                # backfill projections where raw _metadata would not
                for r in self._read_members_raw(
                    spark, doc, candidates, with_pos=True
                )
                .select(
                    F.regexp_extract(
                        F.col("_file"),
                        r"^(data/c[0-9a-f]{16})/",
                        1,
                    ).alias("m")
                )
                .groupBy("m")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            rewrite = [
                m for m in candidates
                if totals.get(m, 0) > 0
                and dv_rows.get(m, 0) / totals[m] >= max_masked_fraction
            ]
            if not rewrite:
                return prev
            # the LOGICAL rows of the hot members (their DVs applied),
            # re-laid-out under the current spec like every rewrite verb
            return self._next_doc(
                doc, "compact_masked", rewrote=rewrite,
                **self._replace_members(
                    spark, doc, [self._read_members(spark, doc, rewrite)],
                    rewrite,
                ),
            )

        return self._land("compact_masked", attempt, rebase=False)

    def member_bytes(self, version: int | None = None) -> dict[str, int]:
        """On-disk bytes per member of ``version`` (default latest) —
        driver-side stat calls, O(member count + files), zero data
        reads. The small-file readout ``compact_small`` bins on."""
        v = self.latest_version() if version is None else version
        if v is None:
            return {}
        out = {}
        for m in self.manifest(v)["members"]:
            full = os.path.join(self.base_dir, m)
            out[m] = sum(
                e.stat().st_size
                for e in os.scandir(full)
                if e.is_file() and e.name.endswith(".parquet")
            )
        return out

    def compact_small(
        self,
        spark: SparkSession,
        target_bytes: int = 128 * 1024 * 1024,
        min_members: int = 2,
    ) -> int:
        """Small-file compaction (Delta ``OPTIMIZE`` / Iceberg
        ``rewrite_data_files`` with a size filter): members SMALLER than
        ``target_bytes / 2`` are greedily binned up to ``target_bytes``
        and each bin rewrites into ONE file; members at/above the
        threshold — and the table's row content — are untouched. THE
        operational verb for streaming ingest at scale: a trickle of
        per-batch members turns every later scan into an open-file
        storm, and a full ``compact`` pays an O(table) rewrite to fix an
        O(small files) problem. Cost here: stat calls to find the bins
        (zero data reads) + a rewrite of only the small members' bytes.

        The min/max split (Delta OPTIMIZE's minFileSize vs maxFileSize)
        is what BOUNDS repeated maintenance: a filled bin lands in
        [target/2, target] and GRADUATES — later runs never touch it
        again, so each ingested byte is rewritten at most ~once and the
        per-run cost is trickle-sized, never table-sized (measured:
        tools/compaction_probe.py; binning strictly-under-target without
        the threshold re-binned every prior bin each cycle and cost MORE
        than full compaction). Only a partially-filled trailing bin
        (< target/2) stays eligible, and re-binning it re-writes less
        than target/2 bytes. Each bin coalesces to one output file —
        member count AND file count drop together.

        Deletion vectors of rewritten members are MATERIALIZED by the
        rewrite (the bin read applies them) and dropped from the new
        manifest; large members keep theirs. Returns the current version
        unchanged when fewer than ``min_members`` small members exist.
        Concurrency: like every rewrite verb, NOT rebaseable — a lost
        race raises ``SnapshotConflictError`` (orphans vacuumable)."""

        def attempt(prev, doc):
            sizes = self.member_bytes(prev)
            small = [
                m for m in doc["members"] if sizes[m] < target_bytes // 2
            ]
            if len(small) < min_members:
                return prev
            # greedy first-fit by manifest order (stable), binned PER
            # PARTITION ENTRY: under a spec, a mixed-partition bin would
            # fan back out through _write_under_spec into one member per
            # leaf — each below target/2, never graduating, re-rewritten
            # every run. Grouping by the member's partition value
            # guarantees each bin writes exactly ONE member, so the
            # [target/2, target] graduation bound holds for partitioned
            # stores too. Members without a partitions entry (pre-spec)
            # share one group; their first rewrite under the current spec
            # is a one-time migration whose outputs gain partition entries
            # and bin per-partition next run.
            part_of = doc.get("partitions", {})
            groups: dict[str, list[str]] = {}
            for m in small:
                key = json.dumps(part_of.get(m), sort_keys=True)
                groups.setdefault(key, []).append(m)
            deletes_map = doc.get("deletes") or {}
            bins: list[list[str]] = []
            for key in sorted(groups):
                cur: list[str] = []
                acc = 0
                for m in groups[key]:
                    if cur and acc + sizes[m] > target_bytes:
                        bins.append(cur)
                        cur, acc = [], 0
                    cur.append(m)
                    acc += sizes[m]
                if cur:
                    bins.append(cur)
            # a 1-member DV-less bin would rewrite the same bytes into the
            # same shape (and recompression can even shrink it back under
            # target/2 — an endless self-rewrite): pure churn, leave it
            # for a run where a sibling small member exists in its
            # partition
            bins = [b for b in bins if len(b) > 1 or deletes_map.get(b[0])]
            small = [m for b in bins for m in b]
            if not bins or len(small) < min_members:
                return prev
            # the LOGICAL rows of each bin (DVs applied), re-laid-out
            # under the current spec like every rewrite verb; ONE output
            # file per bin — without the coalesce the bin inherits the
            # read's partitioning and writes as many small files as it
            # consumed (measured by the probe: member count fell 5x, file
            # count not at all)
            return self._next_doc(
                doc, "compact_small", rewrote=small,
                **self._replace_members(
                    spark, doc,
                    [
                        self._read_members(spark, doc, b).coalesce(1)
                        for b in bins
                    ],
                    small,
                ),
            )

        return self._land("compact_small", attempt, rebase=False)

    def vacuum(self, keep_versions: list[int] | None = None) -> list[str]:
        """Delete commit directories unreachable from every retained
        manifest (default: retain all — vacuum only removes orphans left
        by crashed writers). Returns the removed directories.

        Non-retained MANIFESTS are deleted first: a manifest surviving
        its data would leave ``latest_version()`` pointing at an
        unreadable version, and the next append would copy its dead
        member list forward — permanently. The latest version must be
        retained (dropping the table's current state is a different
        operation than garbage collection)."""
        import shutil

        all_versions = set(self.versions())
        keep = all_versions if keep_versions is None else set(keep_versions)
        missing = keep - all_versions
        if missing:
            raise ValueError(f"unknown versions: {sorted(missing)}")
        latest = self.latest_version()
        if latest is not None and latest not in keep:
            raise ValueError(
                f"latest version v{latest} must be retained; overwrite or "
                "merge first if the current state should go away"
            )
        for v in sorted(all_versions - keep):
            os.unlink(self._manifest_path(v))
        reachable: set[str] = set()
        for v in keep:
            doc = self.manifest(v)
            reachable.update(doc["members"])
            if doc.get("changes"):
                reachable.add(doc["changes"])
            for dv_dirs in (doc.get("deletes") or {}).values():
                reachable.update(dv_dirs)
        removed = []
        data_root = os.path.join(self.base_dir, _DATA_DIR)
        for name in sorted(os.listdir(data_root)):
            rel = os.path.join(_DATA_DIR, name)
            if rel not in reachable:
                shutil.rmtree(os.path.join(data_root, name))
                removed.append(rel)
        return removed

    def restore(self, version: int) -> int:
        """``RESTORE TABLE ... TO VERSION`` (Delta): publish a NEW
        version whose state — members, stats, partition values, deletion
        vectors, schema, constraints, defaults, column mapping — equals
        ``version``'s, without touching a data file. History is intact
        (the bad versions stay time-travelable; the restore is one more
        manifest), which is exactly how Delta distinguishes RESTORE from
        a rollback-by-deletion. Exceptions to the wholesale copy, each a
        can't-go-backward invariant: writer ``txns`` stay CURRENT
        (idempotence must survive the restore or a replayed batch would
        double-land), identity watermarks take the MAX of both sides
        (the id space never rewinds — restored rows keep their ids, new
        rows must not collide with ids assigned after ``version``),
        ``retired_physical`` is the union (a physical name never
        un-retires), and ``min_reader_version`` stays monotone via
        ``_publish``. Refuses if a retained member was vacuumed away.
        OCC: declares full new state like overwrite — rebases blindly,
        bounded retries."""
        target = self.manifest(version)  # raises if unknown / too new
        for m in target["members"]:
            if not os.path.isdir(os.path.join(self.base_dir, m)):
                raise ValueError(
                    f"restore(v{version}) impossible: member {m} was "
                    "vacuumed away — the version is no longer servable"
                )
        for dv_dirs in (target.get("deletes") or {}).values():
            for d in dv_dirs:
                if not os.path.isdir(os.path.join(self.base_dir, d)):
                    raise ValueError(
                        f"restore(v{version}) impossible: deletion-vector "
                        f"directory {d} was vacuumed away"
                    )

        def attempt(prev, cur):
            if version == prev:
                return prev  # restoring to the current state is a no-op
            sv = cur.get("schema_version", 1)
            if target.get("schema") != cur.get("schema"):
                sv += 1
            identity = {}
            cur_ident = cur.get("identity") or {}
            for c, e in (target.get("identity") or {}).items():
                e = dict(e)
                if c in cur_ident:
                    mx = (max if e["step"] > 0 else min)
                    e["watermark"] = mx(
                        e["watermark"], cur_ident[c]["watermark"]
                    )
                identity[c] = e
            retired = list(cur.get("retired_physical") or [])
            for p in target.get("retired_physical") or []:
                if p not in retired:
                    retired.append(p)
            # ``target``'s state as the version after ``cur``
            return self._next_doc(
                target, "restore", all_ddl=True, version=prev + 1,
                restore_of=version, txns=dict(cur.get("txns", {})),
                identity=identity, retired_physical=retired,
                schema_version=sv,
            )

        return self._land("restore", attempt)

    def clone_to(
        self, dst_dir: str, version: int | None = None
    ) -> "SnapshotStore":
        """SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE``): a
        new store at ``dst_dir`` whose v1 manifest REFERENCES the source
        version's data directories by absolute path — zero bytes copied,
        O(members) metadata. The clone is immediately writable: appends
        land in its own ``data/``, rewrites (compact/merge) materialize
        locally and drop the references, and the clone's ``vacuum()``
        never touches source files (it only removes entries under its
        own data root). Writer ``txns`` start EMPTY (a fresh writer
        domain); everything schema-coupled (mapping, defaults,
        constraints, identity, generated) carries over so reads and
        writes behave identically.

        The documented shallow-clone hazard is inherited from Delta
        verbatim: a ``vacuum()`` on the SOURCE that drops a referenced
        directory breaks the clone's reads — deep-copy (or compact the
        clone, which localizes it) before vacuuming shared history."""
        src_v = self.latest_version() if version is None else version
        if src_v is None:
            raise ValueError("clone_to() on an empty store")
        doc = self.manifest(src_v)
        dst = SnapshotStore(dst_dir)
        if dst.latest_version() is not None:
            raise ValueError(f"{dst_dir} already holds a store")
        absm = {
            m: os.path.join(self.base_dir, m) for m in doc["members"]
        }

        def absolute(key: str, value=lambda v: v) -> dict:
            return {
                absm[m]: value(v)
                for m, v in (doc.get(key) or {}).items()
                if m in absm
            }

        dst._publish(1, self._next_doc(
            doc, "clone", all_ddl=True, version=1,
            cloned_from={"base_dir": os.path.abspath(self.base_dir),
                         "version": src_v},
            members=list(absm.values()),
            # a stream over the clone serves v1 as its baseline
            added=list(absm.values()),
            stats=absolute("stats"),
            partitions=absolute("partitions"),
            deletes=absolute(
                "deletes",
                lambda dirs: [os.path.join(self.base_dir, d) for d in dirs],
            ),
            deletes_rows=absolute("deletes_rows"),
            txns={},
            defaults={
                c: {"value": s["value"],
                    "members": [
                        absm[m] for m in s.get("members", []) if m in absm
                    ]}
                for c, s in (doc.get("defaults") or {}).items()
            },
        ))
        return dst

    # -- reads --------------------------------------------------------------

    def _read_members_raw(
        self,
        spark: SparkSession,
        doc: dict,
        members: list[str],
        with_pos: bool = False,
    ) -> DataFrame:
        """Read ``members`` under the manifest's recorded schema: members
        that predate an additive evolution NULL-backfill the newer
        columns by NAME — or DEFAULT-backfill when the column was added
        with a default (the manifest's ``defaults`` map records which
        members predate each defaulted column, so genuine NULLs written
        after the evolution are never confused with the backfill) — with
        zero per-file footer merging (contrast ``mergeSchema=true``,
        which opens every footer). Legacy manifests without a recorded
        schema read by inference, as before. Deletion vectors are NOT
        applied — this is the physical-bytes read the change feed and
        the DV machinery itself build on."""
        if not members:
            # a spec'd overwrite of an empty batch can legally publish a
            # zero-member version: the recorded schema IS the table
            if doc.get("schema") is None:
                raise ValueError(
                    "zero-member version without a recorded schema"
                )
            return spark.createDataFrame(
                [], StructType.fromJson(doc["schema"])
            )
        schema = (
            StructType.fromJson(doc["schema"])
            if doc.get("schema") is not None
            else None
        )
        defaults = doc.get("defaults") or {}
        # column mapping: files carry PHYSICAL names; the scan requests
        # them and a pure projection aliases back to this version's
        # logical names (pushdown/pruning unaffected — Catalyst pushes
        # through the aliasing projection)
        mapping = (doc.get("column_mapping") or {}) if schema else {}

        def _plain(ms: list[str]) -> DataFrame:
            reader = spark.read
            if schema is not None:
                reader = reader.schema(
                    self._physical_schema(schema, mapping)
                    if mapping
                    else schema
                )
            df = reader.parquet(
                *[os.path.join(self.base_dir, m) for m in ms]
            )
            if with_pos:
                # the _metadata pseudo-column resolves only on the scan
                # relation itself — project the row address HERE, before
                # any default backfill or union hides it
                df = df.select("*", *self._pos_cols())
            if mapping:
                df = df.select(
                    *[
                        F.col(mapping.get(f.name, f.name)).alias(f.name)
                        for f in schema.fields
                    ],
                    *(["_file", "_pos"] if with_pos else []),
                )
            return df

        if not defaults or schema is None:
            return _plain(members)
        # group members by the exact set of defaulted columns they
        # predate (almost always one group or two) — each group is one
        # schema-pruned scan with its literals stamped on top, and the
        # union preserves the recorded column order
        fill_of = {
            m: tuple(
                sorted(
                    (col, spec["value"])
                    for col, spec in defaults.items()
                    if m in set(spec.get("members", []))
                )
            )
            for m in members
        }
        groups: dict[tuple, list[str]] = {}
        for m in members:
            groups.setdefault(fill_of[m], []).append(m)
        out_cols = [f.name for f in schema.fields] + (
            ["_file", "_pos"] if with_pos else []
        )
        out = None
        for fill, ms in groups.items():
            df = _plain(ms)
            for col, value in fill:
                df = df.withColumn(
                    col, F.lit(value).cast(schema[col].dataType)
                )
            df = df.select(*out_cols)
            out = df if out is None else out.unionByName(df)
        return out

    @staticmethod
    def _pos_cols() -> list[Column]:
        """The stable per-row address parquet scans expose —
        ``_metadata.file_path`` relativized to the store layout plus
        ``_metadata.row_index`` — as ``(_file, _pos)`` columns. Both the
        DV writer and the DV-applying read derive the address through
        this ONE expression, so they can never disagree (and the store
        stays relocatable: no absolute paths in any DV file)."""
        return [
            F.regexp_extract(
                F.col("_metadata.file_path"),
                r"(data/c[0-9a-f]{16}/[^/]+)$",
                1,
            ).alias("_file"),
            F.col("_metadata.row_index").alias("_pos"),
        ]

    def _with_pos(
        self, spark: SparkSession, doc: dict, members: list[str]
    ) -> DataFrame:
        """``members`` under the manifest schema plus the row-address
        columns ``(_file, _pos)``."""
        if not members:  # local relation: no _metadata to project
            return self._read_members_raw(spark, doc, members).select(
                "*",
                F.lit("").alias("_file"),
                F.lit(0).cast("long").alias("_pos"),
            )
        # with_pos projects the address at the scan level — required
        # once default backfill wraps the scan in projections/unions
        return self._read_members_raw(spark, doc, members, with_pos=True)

    def _read_dvs(self, spark: SparkSession, dv_dirs: list[str]) -> DataFrame:
        return spark.read.schema("_file string, _pos long").parquet(
            *[os.path.join(self.base_dir, d) for d in dv_dirs]
        )

    def _read_members(
        self,
        spark: SparkSession,
        doc: dict,
        members: list[str],
        apply_deletes: bool = True,
    ) -> DataFrame:
        """The LOGICAL read of ``members``: the manifest-schema physical
        read with the version's deletion vectors applied (merge-on-read).
        Members without DV entries keep the plain columnar scan — full
        codegen, no join, no extra columns; only dirty members pay an
        anti-join against their DV files on ``(_file, _pos)``, a cost
        proportional to deleted rows, not table size. ``apply_deletes=
        False`` is the physical read (change-feed replay: an insert batch
        must show the rows as inserted, later deletes arrive as their own
        feed events)."""
        deletes = doc.get("deletes") or {}
        dirty = [
            m for m in members
            if apply_deletes and deletes.get(m)
        ]
        if not dirty:
            return self._read_members_raw(spark, doc, members)
        clean = [m for m in members if m not in set(dirty)]
        dv_dirs = sorted({d for m in dirty for d in deletes[m]})
        dv = self._read_dvs(spark, dv_dirs)
        cols = self._read_members_raw(spark, doc, dirty[:1]).columns
        survivors = (
            self._with_pos(spark, doc, dirty)
            .join(dv, ["_file", "_pos"], "left_anti")
            .select(*cols)
        )
        if not clean:
            return survivors
        return self._read_members_raw(spark, doc, clean).unionByName(
            survivors
        )

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Time-travel read: exactly the files the manifest names — never a
        directory listing of ``data/`` — under exactly the schema that
        version recorded (a later add-column does not retroactively
        appear in a pinned read)."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise ValueError("read() on an empty store")
        doc = self.manifest(v)
        return self._read_members(spark, doc, doc["members"])

    def read_where(
        self,
        spark: SparkSession,
        col: str,
        lo,
        hi,
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned time-travel read of rows with ``lo <= col < hi``:
        members whose manifest [min, max] cannot overlap the range are
        never opened (file-level skipping from pure metadata — the
        planner-side move of ``orders_manifest_skipping``, served here by
        the store itself with zero extra scan). Members without stats for
        ``col`` are conservatively read. The exact predicate is still
        applied after the read: pruning is a superset filter, correctness
        never depends on it."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise ValueError("read_where() on an empty store")
        doc = self.manifest(v)
        stats = doc.get("stats", {})
        parts = doc.get("partitions", {})
        keep, schema_donor = [], None
        for m in doc["members"]:
            schema_donor = schema_donor or m
            entry = parts.get(m)
            # partition values prune first (exact — the member holds ONLY
            # rows with that transformed value), then [min,max] stats
            if entry and self._part_excludes_range(entry, col, lo, hi):
                continue
            s = stats.get(m, {}).get(col)
            # null bounds (empty member, or an all-NULL stats column) carry
            # no pruning information — read conservatively, like no stats
            if s is None or s[0] is None or s[1] is None or (
                s[1] >= lo and s[0] < hi
            ):
                keep.append(m)
        if not keep:  # provably empty — keep the schema, scan nothing
            return self._read_members(spark, doc, [schema_donor]).where(
                F.lit(False)
            )
        pruned = self._read_members(spark, doc, keep)
        return pruned.where((F.col(col) >= lo) & (F.col(col) < hi))

    def read_changes(
        self, spark: SparkSession, v_from: int, v_to: int
    ) -> DataFrame:
        """Row-level CHANGE FEED for ``(v_from, v_to]`` (Delta CDF's
        ``table_changes``): append commits surface as ``insert`` rows
        (their added members, read under that version's schema), merge
        commits replay their recorded pre/post-image directory, alters
        contribute nothing. Columns: the consumer-side (``v_to``) table
        schema plus ``_change_type`` and ``_commit_version`` — versions
        that predate an additive evolution NULL-backfill by name.
        O(changed data): prior members are never opened. Overwrite and
        compaction still refuse — they rewrite the world, not rows; a
        consumer crossing one reads both versions and reconciles."""
        if v_to <= v_from:
            raise ValueError(f"need v_from < v_to, got {v_from} >= {v_to}")
        to_doc = self.manifest(v_to)
        parts: list[DataFrame] = []
        for v in range(v_from + 1, v_to + 1):
            doc = self.manifest(v)
            mode = doc["mode"]
            if mode == "alter":
                continue
            if mode == "append":
                if doc["added"]:
                    # physical read: rows replay as INSERTED — a later
                    # delete surfaces as its own feed event, never by
                    # retroactively masking the insert batch
                    parts.append(
                        self._read_members(
                            spark, to_doc, doc["added"],
                            apply_deletes=False,
                        )
                        .withColumn("_change_type", F.lit("insert"))
                        .withColumn(
                            "_commit_version", F.lit(v).cast("int")
                        )
                    )
            elif mode == "merge" or doc.get("changes"):
                cdf = doc.get("changes")
                if cdf is None:
                    raise ValueError(
                        f"v{v} is a merge without a recorded change "
                        "feed (written before CDF); read both versions "
                        "and anti-join instead"
                    )
                # the CDF directory carries that version's table schema
                # + the two meta columns; align to the consumer's schema
                # by name (additive evolution only ever ADDS columns)
                parts.append(
                    spark.read.parquet(os.path.join(self.base_dir, cdf))
                )
            else:
                raise ValueError(
                    f"change feed across non-row-level v{v} ({mode}) is "
                    "undefined; read both versions and reconcile"
                )
        meta = ["_change_type", "_commit_version"]
        if to_doc.get("schema") is not None:
            base = StructType.fromJson(to_doc["schema"])
            empty = spark.createDataFrame(
                [],
                StructType(
                    list(base.fields)
                    + [
                        StructField("_change_type", StringType(), True),
                        StructField("_commit_version", IntegerType(), True),
                    ]
                ),
            )
        elif parts:
            empty = parts[0].where(F.lit(False))
        else:
            raise ValueError(
                "empty change range over a schema-less lineage — no "
                "schema to shape the result with"
            )
        out = empty
        for p in parts:
            out = out.unionByName(p, allowMissingColumns=True)
        # stable meta-column placement whatever the union order did
        cols = [c for c in out.columns if c not in meta] + meta
        return out.select(*cols)

    def diff(self, spark: SparkSession, v_from: int, v_to: int) -> DataFrame:
        """Rows in commit directories added in (v_from, v_to] — the
        incremental-consumption read. O(new data): prior members are never
        opened. Raises if the range crosses an overwrite/compaction (the
        added-directory set is not a row-level delta there); a schema-only
        ``alter`` version adds no rows and passes through. The delta reads
        under ``v_to``'s schema — the consumer's view."""
        if v_to <= v_from:
            raise ValueError(f"need v_from < v_to, got {v_from} >= {v_to}")
        added: list[str] = []
        to_doc = None
        for v in range(v_from + 1, v_to + 1):
            doc = self.manifest(v)
            if doc["mode"] not in ("append", "alter"):
                raise ValueError(
                    f"diff across non-append v{v} ({doc['mode']}) is not a "
                    "row-level delta; read both versions and anti-join"
                )
            added.extend(doc["added"])
            to_doc = doc
        if not added:  # pure-alter range: no rows, the evolved schema
            if to_doc.get("schema") is not None:
                return spark.createDataFrame(
                    [], StructType.fromJson(to_doc["schema"])
                )
            # legacy (pre-schema-tracking) lineage: borrow the frame
            # shape from one member by inference, keep zero rows
            donor = to_doc["members"][:1]
            if not donor:
                raise ValueError(
                    "empty diff over a schema-less, member-less lineage "
                    "— no schema to shape the result with"
                )
            return self._read_members(spark, to_doc, donor).where(
                F.lit(False)
            )
        return self._read_members(spark, to_doc, added)
