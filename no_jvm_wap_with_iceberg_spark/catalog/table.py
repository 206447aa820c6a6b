"""Table format: versioned JSON metadata over immutable Parquet data files.

Iceberg-inspired, built from scratch in Python (the reference does the
same with PyIceberg + a custom Nessie catalog — see
``src/serverless/pyiceberg_patch_nessie.py:102-205`` for its
create/commit path). Key properties preserved:

- **Immutable data files + snapshot log.** Every append produces new
  Parquet files and a new snapshot; old snapshots stay readable (time
  travel).
- **File-level column statistics** (row count, null count, min/max)
  captured from Parquet footers at commit time. These power
  metadata-only COUNT(*), metadata-only not-null audits (the
  reference's audit is exactly a null-count check —
  ``src/serverless/app.py:213-226``) and scan-time file pruning.
  At 100 TB, stats let an audit touch zero data files in the happy
  path and only the *added* files otherwise.
- **Optimistic concurrency** at the catalog layer (see catalog.py).

Metadata is small (KBs per snapshot) and driver-side; data files are
written and read by Spark executors — the same split Iceberg uses.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import glob
import json
import os
import re
import time
import uuid
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import types as T

_STATS_TRUNCATE = 64  # cap stored string min/max length (Iceberg truncates too)
_SURROGATE_LO, _SURROGATE_HI = 0xD800, 0xDFFF


def _truncate_string_max(s: str) -> str | None:
    """Truncate an UPPER bound so it stays an upper bound.

    A plain prefix UNDERSTATES the max ("zz...z"[:64] < the real value),
    which would let pruning drop files that do contain matching rows.
    Iceberg's ``UnicodeUtil.truncateStringMax`` fixes this by
    incrementing the last incrementable code point of the prefix; if
    every code point is U+10FFFF the bound is dropped (None = unknown).
    """
    if len(s) <= _STATS_TRUNCATE:
        return s
    chars = list(s[:_STATS_TRUNCATE])
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i]) + 1
        if _SURROGATE_LO <= cp <= _SURROGATE_HI:
            cp = _SURROGATE_HI + 1  # skip the unencodable surrogate block
        if cp <= 0x10FFFF:
            chars[i] = chr(cp)
            return "".join(chars[: i + 1])
    return None


def _json_safe(value: Any, bound: str | None = None) -> Any:
    """Convert a Parquet-footer stat value to a JSON- and order-safe form.

    Timestamps become ISO-8601 strings (lexicographic order == time
    order); bytes decode best-effort; long strings truncate — prefix for
    a min (a prefix only understates a lower bound, which is sound) and
    truncate-and-increment for a max (see ``_truncate_string_max``).
    ``None`` means "bound unknown" and the caller must not prune on it.
    """
    if isinstance(value, _dt.datetime):
        # TIMESTAMP_MICROS footers decode tz-AWARE (UTC) datetimes;
        # isoformat would then carry '+00:00', which string-compares
        # GREATER than the naive form of the same instant — equal
        # instants diverge and eq-pruning silently drops matching
        # files. Normalize to naive UTC (the engine's session TZ and
        # the form every predicate/manifest value uses).
        if value.tzinfo is not None:
            value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return value.isoformat()
    if isinstance(value, _dt.date):
        return value.isoformat()
    if isinstance(value, bytes):
        try:
            value = value.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(value, str):
        if bound == "max":
            return _truncate_string_max(value)
        return value[:_STATS_TRUNCATE]
    return value


@dataclasses.dataclass
class FileEntry:
    """One immutable Parquet data file plus its footer statistics."""

    path: str  # relative to the warehouse root
    rows: int
    bytes: int
    # col -> {"nulls": int|None, "min": Any, "max": Any}
    columns: dict[str, dict[str, Any]]
    partition: dict[str, str] = dataclasses.field(default_factory=dict)
    # col -> hex bloom filter (see catalog/bloom.py); absent -> no pruning
    blooms: dict[str, str] = dataclasses.field(default_factory=dict)

    def to_json(self) -> dict[str, Any]:
        return dataclasses.asdict(self)

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "FileEntry":
        return cls(
            path=d["path"],
            rows=d["rows"],
            bytes=d["bytes"],
            columns=d["columns"],
            partition=d.get("partition", {}),
            blooms=d.get("blooms", {}),
        )

    @classmethod
    def from_parquet(cls, abs_path: str, warehouse: str) -> "FileEntry":
        """Build an entry by reading ONLY the Parquet footer (no data IO).

        On a real cluster these stats would be collected by the write
        tasks and shipped to the driver in the commit message — the
        footer read here is the local-mode equivalent and costs a few
        KB per file.
        """
        meta = pq.ParquetFile(abs_path).metadata
        cols: dict[str, dict[str, Any]] = {}
        # a bound is stored only if EVERY row group contributes a known
        # value — one unknown row-group bound poisons the file bound
        # (keeping the other groups' min/max would under/overstate it
        # and make pruning unsound)
        ok: dict[str, dict[str, bool]] = {}
        for rg_i in range(meta.num_row_groups):
            rg = meta.row_group(rg_i)
            for c_i in range(rg.num_columns):
                col = rg.column(c_i)
                name = col.path_in_schema
                entry = cols.setdefault(name, {"nulls": 0, "min": None, "max": None})
                flags = ok.setdefault(name, {"min": True, "max": True})
                st = col.statistics
                if st is None or not st.has_null_count:
                    entry["nulls"] = None  # unknown
                elif entry["nulls"] is not None:
                    entry["nulls"] += st.null_count
                if st is None or not st.has_min_max:
                    flags["min"] = flags["max"] = False
                    continue
                try:
                    mn = _json_safe(st.min, "min")
                    mx = _json_safe(st.max, "max")
                except Exception:
                    # pyarrow cannot extract bounds for every physical
                    # type (e.g. some decimal encodings raise
                    # ArrowNotImplementedError): stats are an IO
                    # optimization, never a correctness gate — record
                    # no bounds for the column rather than failing the
                    # whole write
                    flags["min"] = flags["max"] = False
                    continue
                if mn is None:
                    flags["min"] = False
                elif flags["min"]:
                    if entry["min"] is None or mn < entry["min"]:
                        entry["min"] = mn
                if mx is None:
                    flags["max"] = False
                elif flags["max"]:
                    if entry["max"] is None or mx > entry["max"]:
                        entry["max"] = mx
        for name, flags in ok.items():
            if not flags["min"]:
                cols[name]["min"] = None
            if not flags["max"]:
                cols[name]["max"] = None
        partition = _partition_from_path(abs_path, warehouse)
        return cls(
            path=os.path.relpath(abs_path, warehouse),
            rows=meta.num_rows,
            bytes=os.path.getsize(abs_path),
            columns=cols,
            partition=partition,
        )


def _partition_from_path(abs_path: str, warehouse: str) -> dict[str, str]:
    """Extract hive-style ``col=value`` partition values from the path."""
    out: dict[str, str] = {}
    for seg in os.path.relpath(abs_path, warehouse).split(os.sep):
        if "=" in seg and not seg.endswith(".parquet"):
            k, _, v = seg.partition("=")
            out[k] = v
    return out


@dataclasses.dataclass(frozen=True)
class DeleteSpec:
    """One pending merge-on-read delete, in one of two shapes:

    - **predicate delete**: ``condition`` holds a SQL boolean; the read
      path keeps rows where it is not proven true.
    - **equality delete**: ``key`` + ``key_files`` (parquet holding the
      deleted key values — Iceberg equality-delete files); the read
      path anti-joins targets against the key set. ``key`` is a
      comma-joined column list (single column = no comma) — Iceberg
      equality deletes carry a field-id LIST for the same reason;
      column names are identifier-validated so the join is unambiguous.

    Frozen/hashable so the read path can group files by their exact
    applicable-delete set.
    """

    condition: str | None = None
    key: str | None = None
    key_files: tuple[str, ...] = ()

    @property
    def key_cols(self) -> list[str]:
        return self.key.split(",") if self.key else []

    def to_json(self) -> dict[str, Any]:
        if self.condition is not None:
            return {"condition": self.condition, "targets": None}
        return {"key": self.key, "key_files": list(self.key_files), "targets": None}

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "DeleteSpec":
        return cls(
            condition=d.get("condition"),
            key=d.get("key"),
            key_files=tuple(d.get("key_files", [])),
        )


@dataclasses.dataclass
class Snapshot:
    """A committed table state: parent chain + files added at this commit."""

    snapshot_id: int
    parent_snapshot_id: int | None
    timestamp_ms: int
    # "append" | "overwrite" | "rewrite" (copy-on-write) | "delete"
    # (merge-on-read: metadata-only, see ``deletes``)
    operation: str
    added_files: list[FileEntry]
    summary: dict[str, Any] = dataclasses.field(default_factory=dict)
    # copy-on-write: paths this snapshot logically removes (upsert/delete)
    removed_paths: list[str] = dataclasses.field(default_factory=list)
    # merge-on-read deletes pending against OLDER files: each entry is
    # {"condition": <spark-sql boolean expr>, "targets": [paths]} — the
    # read path filters NOT(condition) over exactly the target files
    # (an Iceberg equality-delete analogue; commit cost is O(metadata))
    deletes: list[dict[str, Any]] = dataclasses.field(default_factory=list)

    def to_json(self) -> dict[str, Any]:
        d = dataclasses.asdict(self)
        d["added_files"] = [f.to_json() for f in self.added_files]
        return d

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "Snapshot":
        return cls(
            snapshot_id=d["snapshot_id"],
            parent_snapshot_id=d.get("parent_snapshot_id"),
            timestamp_ms=d["timestamp_ms"],
            operation=d["operation"],
            added_files=[FileEntry.from_json(f) for f in d["added_files"]],
            summary=d.get("summary", {}),
            removed_paths=d.get("removed_paths", []),
            deletes=d.get("deletes", []),
        )


# Bookkeeping properties the engine writes itself: rename/drop history,
# partition-spec eras, a renamed table's old directories and widen
# records. They are not user configuration — SET/UNSET and CREATE
# refuse them (erasing ``dropped_columns`` would let a re-added name
# resurrect the old files' values) and SHOW CREATE / CREATE LIKE leave
# them out.
INTERNAL_PROPS = frozenset(
    {
        "renamed_columns",
        "dropped_columns",
        "past_partition_specs",
        "prior_names",
        "widened_columns",
    }
)
# list-valued properties stored as JSON arrays; every other list value
# is stored comma-joined
_JSON_PROPS = frozenset({"renamed_columns", "past_partition_specs"})


def refuse_internal_props(keys) -> None:
    """Raise if a user property write names a bookkeeping key."""
    bad = sorted(INTERNAL_PROPS.intersection(keys))
    if bad:
        raise ValueError(
            f"table properties {bad} are engine bookkeeping and cannot be "
            "set or unset"
        )


def edit_properties(props: dict[str, str], **updates: Any) -> dict[str, str]:
    """A copy of ``props`` with ``updates`` applied: ``None`` removes
    the key, a list is encoded the way :class:`TableMetadata`'s list
    accessors decode it (JSON for ``renamed_columns`` and
    ``past_partition_specs``, comma-joined otherwise) and any other
    value is stored as ``str``."""
    out = dict(props)
    for k, v in updates.items():
        if v is None:
            out.pop(k, None)
        elif isinstance(v, (list, tuple)):
            out[k] = json.dumps(v) if k in _JSON_PROPS else ",".join(v)
        else:
            out[k] = str(v)
    return out


def _list_prop(key: str) -> property:
    def get(self: "TableMetadata") -> list:
        raw = self.properties.get(key)
        if not raw:
            return []
        if key in _JSON_PROPS:
            return json.loads(raw)
        return [c for c in raw.split(",") if c]

    return property(get, doc=f"The ``{key}`` property as a list ([] when unset).")


class TableMetadata:
    """Full metadata for one table version (schema + snapshot log).

    Edits never mutate an instance: :meth:`evolve` returns the next
    version, and :meth:`properties_with` encodes bookkeeping property
    values the way the typed accessors below decode them."""

    _FIELDS = (
        "table",
        "schema_json",
        "snapshots",
        "current_snapshot_id",
        "version",
        "partition_by",
        "sort_by",
        "properties",
    )

    def __init__(
        self,
        table: str,
        schema_json: dict[str, Any],
        snapshots: list[Snapshot] | None = None,
        current_snapshot_id: int | None = None,
        version: int = 0,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ):
        self.table = table
        self.schema_json = schema_json
        self.snapshots = snapshots or []
        self.current_snapshot_id = current_snapshot_id
        self.version = version
        self.partition_by = partition_by or []
        self.sort_by = sort_by or []
        self.properties = properties or {}

    # -- schema ---------------------------------------------------------
    @property
    def spark_schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)

    @property
    def partition_fields(self):
        """Parsed partition spec (identity + hidden transforms) — see
        :mod:`.transforms`."""
        from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
            parse_partition_spec,
        )

        return parse_partition_spec(self.partition_by)

    @property
    def all_partition_fields(self):
        """Current spec plus every spec the table EVER wrote under
        (partition evolution history rides in the
        ``past_partition_specs`` property) — the set pruning should
        consider: each file prunes only on the keys its own manifest
        entry carries, so retired fields still prune old-era files
        and never misfire on new ones. Each field carries its source
        column's type from the current schema (None once dropped)."""
        from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
            parse_partition_spec,
        )

        fields = list(self.partition_fields)
        seen = {f.name for f in fields}
        for spec in self.past_partition_specs:
            for f in parse_partition_spec(spec):
                if f.name not in seen:
                    seen.add(f.name)
                    fields.append(f)
        types = {c.name: c.dataType.typeName() for c in self.spark_schema.fields}
        return [dataclasses.replace(f, source_type=types.get(f.source)) for f in fields]

    @property
    def rename_history(self) -> dict[str, list[str]]:
        """current column name -> historical names, newest first.

        ``rename_column`` appends ``[old, new]`` pairs (commit order)
        to the ``renamed_columns`` property; this folds chains, so
        after ``a -> b -> c`` the map is ``{"c": ["b", "a"]}``. Data
        files written before a rename still carry the historical name
        — the read path coalesces through the chain, and stats/bloom
        lookups fall back through it. Entries whose current name was
        later dropped are filtered out (the dropped guard keeps the
        names unreusable either way)."""
        hist: dict[str, list[str]] = {}
        for old, new in self.renamed_pairs:
            hist[new] = [old] + hist.pop(old, [])
        live = set(self.spark_schema.fieldNames())
        return {k: v for k, v in hist.items() if k in live}

    @property
    def identity_partition_cols(self) -> list[str]:
        """Source columns partitioned by identity: these are dropped
        from data files by the hive layout and re-attached at read.
        Transform-derived values are hidden — never part of the user
        schema, never attached."""
        return [
            f.source for f in self.partition_fields if f.transform == "identity"
        ]

    # -- snapshot resolution -------------------------------------------
    def snapshot(self, snapshot_id: int | None = None) -> Snapshot | None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id
        if sid is None:
            return None
        for s in self.snapshots:
            if s.snapshot_id == sid:
                return s
        raise KeyError(f"snapshot {sid} not found in table {self.table!r}")

    def chain(self, snapshot_id: int | None = None) -> list["Snapshot"]:
        """The parent chain of a snapshot, NEWEST FIRST, stopping at
        (and including) the first 'overwrite' — the single source of
        truth for which snapshots contribute to a read: files(),
        files_with_deletes(), the seq-gated MoR read path, and
        snapshot expiry all walk exactly this chain."""
        by_id = {s.snapshot_id: s for s in self.snapshots}
        out: list[Snapshot] = []
        cur = self.snapshot(snapshot_id)
        while cur is not None:
            out.append(cur)
            if cur.operation == "overwrite":
                break  # overwrite replaces everything beneath it
            cur = (
                by_id.get(cur.parent_snapshot_id)
                if cur.parent_snapshot_id is not None
                else None
            )
        return out

    def files(self, snapshot_id: int | None = None) -> list[FileEntry]:
        """All live data files at a snapshot (walk the parent chain)."""
        chain = self.chain(snapshot_id)
        out: list[FileEntry] = []
        removed: set[str] = set()
        for s in chain:  # newest-first: removals mask older adds only
            out.extend(f for f in s.added_files if f.path not in removed)
            removed.update(s.removed_paths)
        out.reverse()
        return out

    def files_with_deletes(
        self, snapshot_id: int | None = None
    ) -> list[tuple[FileEntry, tuple[DeleteSpec, ...]]]:
        """Live files plus, per file, the merge-on-read deletes that
        apply to it — those committed AFTER the file (newer in the
        chain) naming it as a target. Rows appended after a delete are
        never re-deleted by it."""
        chain = self.chain(snapshot_id)
        removed: set[str] = set()
        out: list[tuple[FileEntry, tuple[DeleteSpec, ...]]] = []
        pending: list[dict[str, Any]] = []  # deletes newer than current snapshot
        for s in chain:  # newest-first
            for f in s.added_files:
                if f.path in removed:
                    continue
                specs = tuple(
                    DeleteSpec.from_json(d)
                    for d in pending
                    if d.get("targets") is None or f.path in d["targets"]
                )
                out.append((f, specs))
            removed.update(s.removed_paths)
            pending.extend(s.deletes)
        out.reverse()
        return out

    def has_pending_deletes(self, snapshot_id: int | None = None) -> bool:
        """True if any live file still has an unapplied MoR delete —
        metadata-only aggregates (row/null counts) are not exact then."""
        return any(conds for _f, conds in self.files_with_deletes(snapshot_id))

    def added_files_since(self, from_snapshot_id: int | None) -> list[FileEntry]:
        """Files added strictly after ``from_snapshot_id`` (incremental read)."""
        by_id = {s.snapshot_id: s for s in self.snapshots}
        out: list[FileEntry] = []
        cur = self.snapshot()
        while cur is not None and cur.snapshot_id != from_snapshot_id:
            out.extend(cur.added_files)
            if cur.operation == "overwrite":
                break
            cur = (
                by_id.get(cur.parent_snapshot_id)
                if cur.parent_snapshot_id is not None
                else None
            )
        return list(reversed(out))

    # -- metadata-only aggregates --------------------------------------
    def row_count(self, snapshot_id: int | None = None) -> int:
        return sum(f.rows for f in self.files(snapshot_id))

    @property
    def column_defaults(self) -> dict[str, str]:
        """``{column: SQL literal text}`` from ``default.<col>``
        properties (Iceberg v3 initial/write defaults): rows written
        before the column existed read as the literal instead of NULL,
        and writers may omit the column."""
        return {
            k[len("default."):]: v
            for k, v in self.properties.items()
            if k.startswith("default.")
        }

    @property
    def generated_columns(self) -> dict[str, str]:
        """``{column: SQL expression text}`` from ``generated.<col>``
        properties (Delta's GENERATED ALWAYS AS): writers may omit the
        column (the write computes it from the row); a supplied value
        is VALIDATED against the expression inside the write."""
        return {
            k[len("generated."):]: v
            for k, v in self.properties.items()
            if k.startswith("generated.")
        }

    @property
    def constraints(self) -> dict[str, str]:
        """``{name: SQL boolean}`` from ``constraint.<name>`` properties
        (CHECK constraints, enforced inside every data-file write)."""
        return {
            k[len("constraint."):]: v
            for k, v in self.properties.items()
            if k.startswith("constraint.")
        }

    dropped_columns = _list_prop("dropped_columns")  # names barred from reuse
    bloom_cols = _list_prop("bloom_cols")
    zorder_by = _list_prop("zorder_by")
    identifier_fields = _list_prop("identifier_fields")
    prior_names = _list_prop("prior_names")  # a renamed table's old names
    widened_columns = _list_prop("widened_columns")  # files of two widths
    renamed_pairs = _list_prop("renamed_columns")  # [[old, new], ...]
    past_partition_specs = _list_prop("past_partition_specs")

    def properties_with(self, **updates: Any) -> dict[str, str]:
        """``properties`` with ``updates`` applied (see
        :func:`edit_properties`)."""
        return edit_properties(self.properties, **updates)

    def guard_column_change(self, name: str, verb: str) -> None:
        """Refuse to ``verb`` ("drop" or "rename") a load-bearing
        column: a partition-spec source (current or historical), a
        sort/z-order key, an identifier field, or a name a CHECK
        constraint, a GENERATED ALWAYS AS expression or a pending
        merge-on-read delete refers to — each stores the name, so the
        change would leave stored SQL that no longer resolves."""
        sources = {f.source for f in self.all_partition_fields}
        if name in sources or name in self.sort_by or name in self.zorder_by:
            raise ValueError(
                f"column {name!r} is a partition/sort/z-order key; "
                "evolve the spec first"
            )
        word = re.compile(rf"\b{re.escape(name)}\b")
        readd = " and re-add it against the new name" if verb == "rename" else ""
        for cname, expr in self.constraints.items():
            if word.search(expr):
                raise ValueError(
                    f"column {name!r} is referenced by CHECK constraint "
                    f"{cname!r}; drop the constraint first{readd}"
                )
        for gname, expr in self.generated_columns.items():
            if gname != name and word.search(expr):
                raise ValueError(
                    f"column {name!r} is referenced by the GENERATED ALWAYS "
                    f"AS expression of column {gname!r}; drop {gname!r} first"
                    f"{readd}"
                )
        if name in self.identifier_fields:
            raise ValueError(
                f"column {name!r} is an identifier field; SET IDENTIFIER "
                "FIELDS first"
            )
        for _f, specs in self.files_with_deletes():
            for spec in specs:
                if word.search(spec.condition or spec.key or ""):
                    raise ValueError(
                        f"column {name!r} is referenced by a pending "
                        "merge-on-read delete; compact() first"
                    )

    def null_count(self, column: str, snapshot_id: int | None = None) -> int | None:
        """Exact null count from file stats, or None if any file lacks them."""
        names = [column] + list(self.rename_history.get(column, ()))
        total = 0
        for f in self.files(snapshot_id):
            st = next((f.columns[n] for n in names if n in f.columns), None)
            if st is None or st.get("nulls") is None:
                return None
            total += st["nulls"]
        return total

    # -- mutation (returns new snapshot; caller commits via Catalog) ----
    def with_new_snapshot(
        self,
        added: list[FileEntry],
        operation: str = "append",
        removed_paths: list[str] | None = None,
        deletes: list[dict[str, Any]] | None = None,
        extra_summary: dict[str, Any] | None = None,
    ) -> "TableMetadata":
        # max over ALL snapshots, not current+1: after a rollback the
        # current snapshot is an ancestor and current+1 would collide
        # with a live newer snapshot id
        sid = max(
            [s.snapshot_id for s in self.snapshots] or [0]
        ) + 1
        snap = Snapshot(
            snapshot_id=sid,
            parent_snapshot_id=self.current_snapshot_id,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            added_files=added,
            summary={
                "added-files": len(added),
                "added-rows": sum(f.rows for f in added),
                "removed-files": len(removed_paths or []),
                "mor-deletes": len(deletes or []),
                **(extra_summary or {}),
            },
            removed_paths=removed_paths or [],
            deletes=deletes or [],
        )
        return self.evolve(
            snapshots=self.snapshots + [snap], current_snapshot_id=sid
        )

    def evolve(self, **changes: Any) -> "TableMetadata":
        """The next version: a copy with ``changes`` applied and
        ``version + 1`` (unless ``version`` is among the changes).
        Unchanged fields are SHARED with ``self`` — the snapshot list
        and its ``FileEntry`` objects are never copied, since this runs
        on every commit — so an edit replaces a field, never mutates
        one in place."""
        fields = {f: getattr(self, f) for f in self._FIELDS}
        fields["version"] = self.version + 1
        fields.update(changes)
        return TableMetadata(**fields)

    # -- (de)serialization ---------------------------------------------
    def to_json(self) -> dict[str, Any]:
        return {
            "format_version": 1,
            "table": self.table,
            "schema": self.schema_json,
            "current_snapshot_id": self.current_snapshot_id,
            "snapshots": [s.to_json() for s in self.snapshots],
            "version": self.version,
            "partition_by": self.partition_by,
            "sort_by": self.sort_by,
            "properties": self.properties,
        }

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "TableMetadata":
        return cls(
            table=d["table"],
            schema_json=d["schema"],
            snapshots=[Snapshot.from_json(s) for s in d["snapshots"]],
            current_snapshot_id=d.get("current_snapshot_id"),
            version=d.get("version", 0),
            partition_by=d.get("partition_by", []),
            sort_by=d.get("sort_by", []),
            properties=d.get("properties", {}),
        )


# Below this many total freshly-written bytes, a distributed bloom
# build costs more in job scheduling (one Spark job + Python-worker
# round trip per append) than simply reading the page-cache-hot files
# back on the driver and hashing locally — measured ~0.5-0.8 s of
# fixed job cost per index append at bench scale vs ~10 ms of local
# columnar IO. Above the threshold the build stays on the executors
# (the 100 TB path: the driver never reads column data). Both paths
# produce bit-identical filters (same build_bloom over the same
# canonical values).
LOCAL_BLOOM_MAX_BYTES = 32 << 20

# Below this many rows (a caller-supplied UPPER BOUND — writes with no
# hint always take the distributed path), the partition-clustering
# shuffle in Catalog._write_files is replaced by a narrow coalesce(1):
# a single writer task holding the whole batch emits exactly one
# sorted file per touched partition — the same layout invariant the
# hash repartition exists to guarantee — without paying a shuffle
# exchange for a few thousand rows. Scale-adaptive by construction:
# a 100 TB cluster append exceeds the bound and keeps the distributed
# clustering (write parallelism = touched partitions), so this is not
# a local-mode-only shortcut. 100k rows of index entries is single-
# digit MB in one task.
SMALL_WRITE_ROWS_MAX = 100_000


def collect_written_files(
    data_dir: str,
    warehouse: str,
    bloom_cols: list[str] | None = None,
    spark=None,
) -> list[FileEntry]:
    """Footer-scan every parquet file Spark wrote under ``data_dir``
    (one write's own fresh directory; a few KB of footer IO per file,
    no data reads on the driver), deleting the 0-row ones, and
    optionally attach per-file bloom filters for ``bloom_cols``, built
    distributed by executors when a SparkSession is provided and the
    write is big enough to amortize a job (see
    ``bloom.build_blooms_distributed`` and
    :data:`LOCAL_BLOOM_MAX_BYTES`), locally otherwise."""
    from no_jvm_wap_with_iceberg_spark.catalog.bloom import (
        build_bloom,
        build_blooms_distributed,
    )

    paths = sorted(
        glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    )
    out = []
    for p in paths:
        entry = FileEntry.from_parquet(p, warehouse)
        if entry.rows == 0:
            # Spark emits a 0-row part file when a write has more
            # partitions than rows. Registering it would add a
            # stat-less entry that poisons metadata-only null counts
            # and pruning; leaving it would be an orphan from birth.
            os.remove(p)
            continue
        out.append(entry)
    if bloom_cols and out:
        if (
            spark is not None
            and sum(e.bytes for e in out) > LOCAL_BLOOM_MAX_BYTES
        ):
            blooms = build_blooms_distributed(
                spark, [os.path.join(warehouse, e.path) for e in out], bloom_cols
            )
            for e in out:
                e.blooms.update(blooms.get(os.path.join(warehouse, e.path), {}))
        else:
            for e in out:
                p = os.path.join(warehouse, e.path)
                tbl = pq.read_table(
                    p, columns=[c for c in bloom_cols if c in e.columns]
                )
                for c in tbl.column_names:
                    e.blooms[c] = build_bloom(tbl[c].to_pylist())
    return out


def new_data_dir(warehouse: str, table: str) -> str:
    """A unique directory for one write's data files."""
    d = os.path.join(warehouse, "tables", table, "data", uuid.uuid4().hex[:12])
    os.makedirs(d, exist_ok=True)
    return d
