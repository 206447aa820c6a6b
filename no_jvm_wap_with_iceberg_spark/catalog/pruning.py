"""Stats-based file pruning (manifest pruning, Iceberg-style).

The reference leans on PyIceberg's scan planning to prune data files
via manifest column stats for its ``IsNull`` audit filter
(``src/serverless/app.py:217-223``; SURVEY §4). Here the same idea:
before handing Spark a file list, drop files whose footer stats prove
the predicate selects nothing. Spark then applies row-group pruning
and row-level filtering *within* the surviving files via its own
pushdown — the two layers compose.

At 100 TB this is the difference between "scan the table" and "scan
the three files whose min/max straddle the predicate".
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
from typing import Any, Iterable
from urllib.parse import unquote

from no_jvm_wap_with_iceberg_spark.catalog.table import (
    _STATS_TRUNCATE,
    FileEntry,
)

_OPS = ("is_null", "not_null", "eq", "lt", "le", "gt", "ge", "in")


@dataclasses.dataclass(frozen=True)
class Predicate:
    """A simple column predicate usable for file-level pruning.

    Only conjunctions of these are supported at the pruning layer —
    anything richer simply isn't pruned (correctness never depends on
    pruning; it is purely an IO reducer).
    """

    op: str
    column: str
    value: Any = None

    def __post_init__(self):
        if self.op not in _OPS:
            raise ValueError(f"unsupported predicate op {self.op!r}; use one of {_OPS}")

    # -- convenience constructors --------------------------------------
    @classmethod
    def is_null(cls, col: str) -> "Predicate":
        return cls("is_null", col)

    @classmethod
    def not_null(cls, col: str) -> "Predicate":
        return cls("not_null", col)

    @classmethod
    def eq(cls, col: str, v: Any) -> "Predicate":
        return cls("eq", col, v)

    @classmethod
    def between(cls, col: str, lo: Any, hi: Any) -> list["Predicate"]:
        return [cls("ge", col, lo), cls("le", col, hi)]


def _norm(v: Any) -> Any:
    if isinstance(v, _dt.datetime):
        # stats store naive-UTC isoformat (_json_safe); an API-passed
        # tz-aware datetime must normalize the same way or equal
        # instants string-compare unequal (see sqldml._parse_lit)
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def _is_nan(v: Any) -> bool:
    return isinstance(v, float) and v != v


def _file_may_match(
    f: FileEntry, p: Predicate, name_history: dict[str, list[str]] | None = None
) -> bool:
    """Conservative: True unless stats PROVE no row can match.

    ``name_history`` maps a current column name to its historical
    names (after ``rename_column``); a file written before the rename
    keys its stats/blooms under the old name, so the lookup falls back
    through the chain — old files keep pruning on the new name."""
    vals = p.value if p.op == "in" else [p.value]
    if any(_is_nan(x) for x in vals):
        return True  # Spark's NaN equals NaN and sorts above every number
    names = [p.column] + list((name_history or {}).get(p.column, ()))
    bloom_name = next((n for n in names if n in f.blooms), None)
    if p.op == "eq" and bloom_name is not None:
        from no_jvm_wap_with_iceberg_spark.catalog.bloom import bloom_may_contain

        if not bloom_may_contain(f.blooms[bloom_name], p.value):
            return False  # bloom proves absence; min/max can only agree
    st = next((f.columns[n] for n in names if n in f.columns), None)
    if st is None:
        return True  # no stats -> cannot prune
    nulls, mn, mx = st.get("nulls"), st.get("min"), st.get("max")
    v = _norm(p.value)
    if p.op == "is_null":
        return nulls is None or nulls > 0
    if p.op == "not_null":
        return nulls is None or nulls < f.rows
    # value comparisons can't match null rows; need min/max to prune
    if mn is None or mx is None or _is_nan(mn) or _is_nan(mx):
        return True  # a NaN bound (a file holding NaN) orders nothing
    try:
        if p.op == "eq":
            return mn <= v <= mx
        if p.op == "lt":
            return mn < v
        if p.op == "le":
            return mn <= v
        if p.op == "gt":
            return mx > v
        if p.op == "ge":
            return mx >= v
        if p.op == "in":
            return any(mn <= _norm(x) <= mx for x in p.value)
    except TypeError:
        return True  # incomparable types (e.g. truncated stats) -> keep
    return True


def prune_files(
    files: Iterable[FileEntry],
    predicates: Iterable[Predicate],
    partition_fields: list | None = None,
    name_history: dict[str, list[str]] | None = None,
) -> list[FileEntry]:
    """Keep only files that may contain rows matching ALL predicates.

    ``partition_fields`` (parsed :class:`..transforms.PartitionField`
    entries) enables hidden-partition pruning: a predicate on the
    SOURCE column maps through the transform and compares exactly
    against each file's partition value — ``ts >= X`` prunes a
    ``day(ts)``-partitioned table without the query ever naming the
    derived value.
    """
    from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
        partition_may_match,
    )

    preds = list(predicates)
    by_source: dict[str, list] = {}
    for fld in partition_fields or []:
        by_source.setdefault(fld.source, []).append(fld)
    out = []
    for f in files:
        keep = True
        for p in preds:
            # legacy identity check for manifests written before
            # transform support (partition key == raw column name)
            if (
                p.op == "eq"
                and p.column in f.partition
                and p.column not in by_source
            ):
                raw = f.partition[p.column]
                if raw is None or unquote(raw) != str(p.value):
                    keep = False
                    break
            for fld in by_source.get(p.column, ()):
                if fld.name in f.partition and not partition_may_match(
                    fld, f.partition[fld.name], p.op, p.value
                ):
                    keep = False
                    break
            if not keep:
                break
        if keep and all(_file_may_match(f, p, name_history) for p in preds):
            out.append(f)
    return out


def _stats_all_match(
    f: FileEntry, p: Predicate, name_history: dict[str, list[str]] | None = None
) -> bool:
    """Dual of :func:`_file_may_match`: True only when footer stats
    PROVE every row of the raw file satisfies ``p`` under SQL
    three-valued semantics (NULL satisfies nothing, so any value
    comparison needs a ZERO null count).

    The stored bound directions make one-sided proofs sound under
    string truncation: a stored min is prefix-truncated (understates
    the true min) and a stored max is truncate-and-incremented
    (overstates the true max — ``table._truncate_string_max``), so
    ``mx <= v`` still proves ``true_max <= v`` and ``mn >= v`` proves
    ``true_min >= v``. Equality proofs additionally need the stored
    min to be genuine (shorter than the truncation cap — a truncated
    min is always exactly cap-length).

    Floats are never proven: NaN rows are invisible to min/max stats
    but fail every SQL comparison, so a bounds proof could over-delete
    them.
    """
    if f.rows == 0:
        return True
    names = [p.column] + list((name_history or {}).get(p.column, ()))
    st = next((f.columns[n] for n in names if n in f.columns), None)
    if st is None:
        return False
    nulls, mn, mx = st.get("nulls"), st.get("min"), st.get("max")
    if p.op == "is_null":
        return nulls is not None and nulls == f.rows
    if p.op == "not_null":
        return nulls == 0
    if nulls != 0:  # unknown (None) or >0: a NULL row fails the predicate
        return False
    if mn is None or mx is None:
        return False
    v = _norm(p.value)
    if any(isinstance(x, float) for x in (mn, mx, v)):
        return False
    min_genuine = not (isinstance(mn, str) and len(mn) >= _STATS_TRUNCATE)
    try:
        if p.op == "lt":
            return mx < v
        if p.op == "le":
            return mx <= v
        if p.op == "gt":
            return mn > v
        if p.op == "ge":
            return mn >= v
        if p.op == "eq":
            # mn genuine and mn == mx == v pins true_min == v and
            # true_max <= mx == v (max overstates), so every row == v
            return min_genuine and mn == mx == v
        if p.op == "in":
            vs = [_norm(x) for x in p.value]
            if any(isinstance(x, float) for x in vs):
                return False
            return min_genuine and mn == mx and mn in vs
    except TypeError:
        return False
    return False


def file_all_match(
    f: FileEntry,
    predicates: Iterable[Predicate],
    partition_fields: list | None = None,
    name_history: dict[str, list[str]] | None = None,
) -> bool:
    """True only when EVERY row of the file provably satisfies EVERY
    predicate — the whole-file DELETE fast path
    (``Catalog.delete_where(exact_condition=True)``) drops such files
    from the layout as pure metadata, no read, no rewrite. At 100 TB
    this turns an aligned retention delete (``WHERE ts < cutoff`` on a
    ``day(ts)``-partitioned or ts-sorted table) into an O(metadata)
    commit.

    Each predicate may be proven by footer stats OR by the file's
    partition value (hidden transforms included); the conjunction is
    proven when every conjunct is. Callers MUST only pass predicate
    lists that are EQUIVALENT to the row-exact delete condition
    (``predicates_from_sql_exact``), never the usual weaker
    approximation — an implied-only predicate list would over-delete.
    """
    from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
        partition_all_match,
    )

    preds = list(predicates)
    if not preds:
        return False
    by_source: dict[str, list] = {}
    for fld in partition_fields or []:
        by_source.setdefault(fld.source, []).append(fld)
    for p in preds:
        if _stats_all_match(f, p, name_history):
            continue
        proven = False
        for fld in by_source.get(p.column, ()):
            if fld.name in f.partition and partition_all_match(
                fld, f.partition[fld.name], p.op, p.value
            ):
                proven = True
                break
        if (
            not proven
            and p.op == "eq"
            and p.column in f.partition
            and p.column not in by_source
        ):
            # legacy identity layout (partition key == raw column name).
            # The hive null marker means every row is NULL — NULL
            # satisfies no equality under SQL 3VL, so it proves
            # nothing even when the literal IS the marker string
            # (mirrors partition_all_match's marker_null guard)
            pv = f.partition[p.column]
            proven = (
                pv is not None
                and pv != "__HIVE_DEFAULT_PARTITION__"
                and unquote(pv) == str(p.value)
            )
        if not proven:
            return False
    return True


def prune_files_any(
    files: Iterable[FileEntry],
    groups: Iterable[Iterable[Predicate]],
    partition_fields: list | None = None,
    name_history: dict[str, list[str]] | None = None,
) -> list[FileEntry]:
    """DNF pruning: keep files that may match ANY group (each group is
    a conjunction; the groups are OR-ed —
    ``sqldml.predicate_groups_from_sql``). A row matching the original
    disjunction satisfies some group, and that group's
    :func:`prune_files` keeps the row's file, so the union is sound.
    An empty/universal group keeps everything (prunes nothing).
    Driver-side O(groups × files) manifest comparisons — no Spark."""
    files = list(files)
    gs = [list(g) for g in groups]
    if not gs or any(not g for g in gs):
        return files
    keep: set[str] = set()
    for g in gs:
        keep.update(
            f.path for f in prune_files(files, g, partition_fields, name_history)
        )
    return [f for f in files if f.path in keep]


def file_all_match_any(
    f: FileEntry,
    groups: Iterable[Iterable[Predicate]],
    partition_fields: list | None = None,
    name_history: dict[str, list[str]] | None = None,
) -> bool:
    """Whole-file proof for a DISJUNCTION: every row satisfies the OR
    if every row provably satisfies any ONE group (sufficient, not
    necessary — a file straddling two groups row-by-row is simply not
    proven and gets the ordinary rewrite)."""
    return any(
        file_all_match(f, g, partition_fields, name_history)
        for g in (list(g) for g in groups)
        if g
    )
