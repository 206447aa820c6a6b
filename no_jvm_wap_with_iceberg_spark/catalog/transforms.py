"""Hidden-partitioning transforms (Iceberg partition specs).

The reference's PyIceberg tables are unpartitioned (its Lambda scope
never grows a table past one batch — ``src/serverless/app.py``), but
the table format it targets defines transform partitioning: a table
partitioned by ``day(ts)`` or ``bucket(16, user_id)`` clusters writes
and prunes reads WITHOUT the query ever mentioning the derived value
— the defining difference from raw Hive partitioning, where users
must filter on the partition column themselves.

Spec strings accepted in ``partition_by``:

- ``"col"``                — identity (raw Hive behavior, unchanged)
- ``"year(col)"`` / ``"month(col)"`` / ``"day(col)"`` / ``"hour(col)"``
                           — calendar truncation of a timestamp/date
- ``"truncate(W, col)"``   — width-W truncation (string prefix, or
                             ``v - (v mod W)`` for integers)
- ``"bucket(N, col)"``     — hash bucket in ``[0, N)``

Every transform has two bit-identical implementations: a Spark column
expression (executors derive the partition value at write time) and a
plain-Python one (the driver maps predicate constants into partition
space at planning time, so pruning never touches Spark). ``bucket``
uses CRC-32 — the one hash both sides compute identically with no
extra dependency (``F.crc32`` / ``zlib.crc32``); Iceberg proper uses
murmur3, which is unavailable to the Python side offline.

Pruning maps a source-column predicate through the transform:
calendar and truncate transforms are monotonic non-decreasing, so
``ts >= X`` implies ``day(ts) >= day(X)`` (strict ``>`` weakens to
``>=`` because the transform is not injective); ``bucket`` is not
monotonic, so only equality/IN predicates map. The mapped predicate
is exact on partition values — files in non-matching partitions are
dropped before Spark sees a path.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import re
import zlib
from decimal import Decimal
from typing import Any
from urllib.parse import unquote

from pyspark.sql import Column, functions as F

_CALENDAR = {
    "year": ("yyyy", "%Y"),
    "month": ("yyyy-MM", "%Y-%m"),
    "day": ("yyyy-MM-dd", "%Y-%m-%d"),
    "hour": ("yyyy-MM-dd-HH", "%Y-%m-%d-%H"),
}

# integral + string types may bucket: their Spark cast-to-string and
# Python str() representations agree byte-for-byte, so the two CRC-32
# implementations see identical input
_BUCKETABLE = {"byte", "short", "integer", "long", "string"}

# source types whose identity directory values parse as integers
_INTEGRAL = ("byte", "short", "integer", "long")


@dataclasses.dataclass(frozen=True)
class PartitionField:
    """One parsed entry of a table's partition spec."""

    spec: str  # the original string, persisted in metadata
    source: str  # source column name
    transform: str  # identity | year | month | day | hour | truncate | bucket
    param: int | None = None  # W for truncate, N for bucket
    # Spark typeName of the source column, read off the table schema
    # (``TableMetadata.all_partition_fields``); identity range pruning
    # parses directory values into it. Not part of the spec.
    source_type: str | None = dataclasses.field(default=None, compare=False)

    @property
    def name(self) -> str:
        """Hive directory key. Identity keeps the column name (legacy
        layout); transforms derive a distinct name so the value never
        shadows a schema column."""
        if self.transform == "identity":
            return self.source
        if self.param is not None:
            return f"{self.source}_{self.transform}{self.param}"
        return f"{self.source}_{self.transform}"


def parse_partition_spec(specs: list[str]) -> list[PartitionField]:
    out = []
    for s in specs:
        s = s.strip()
        if "(" not in s:
            out.append(PartitionField(spec=s, source=s, transform="identity"))
            continue
        fn, _, rest = s.partition("(")
        fn = fn.strip().lower()
        args = [a.strip() for a in rest.rstrip(")").split(",")]
        if fn in _CALENDAR and len(args) == 1:
            out.append(PartitionField(spec=s, source=args[0], transform=fn))
        elif fn in ("truncate", "bucket") and len(args) == 2:
            param = int(args[0])
            if param <= 0:
                raise ValueError(f"{fn} width/count must be positive: {s!r}")
            out.append(
                PartitionField(spec=s, source=args[1], transform=fn, param=param)
            )
        else:
            raise ValueError(
                f"unsupported partition transform {s!r}; use col, "
                "year/month/day/hour(col), truncate(W, col), bucket(N, col)"
            )
    names = [f.name for f in out]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate partition field names in {specs}")
    return out


def validate_spec(fields: list[PartitionField], schema) -> None:
    """Fail table creation early on a spec the engine can't serve."""
    by_name = {f.name: f.dataType.typeName() for f in schema.fields}
    for fld in fields:
        if fld.source not in by_name:
            raise ValueError(
                f"partition source column {fld.source!r} not in schema"
            )
        src_t = by_name[fld.source]
        if fld.transform in _CALENDAR and src_t not in (
            "timestamp",
            "timestamp_ntz",
            "date",
        ):
            raise ValueError(
                f"{fld.spec!r} needs a timestamp/date column, got {src_t}"
            )
        if fld.transform == "bucket" and src_t not in _BUCKETABLE:
            raise ValueError(
                f"{fld.spec!r} supports integral/string columns (CRC-32 "
                f"string form must match across engines), got {src_t}"
            )
        if fld.transform == "truncate" and src_t not in (
            _BUCKETABLE | {"decimal"}
        ):
            raise ValueError(f"{fld.spec!r} needs an integral/string column")
        if fld.transform != "identity" and fld.name in by_name:
            raise ValueError(
                f"derived partition name {fld.name!r} collides with a "
                "schema column; rename the column or the transform"
            )


# ----------------------------------------------------------------------
# Spark side (write path): derive the partition value column
# ----------------------------------------------------------------------
def partition_expr(fld: PartitionField, source_type: str) -> Column:
    """STRING partition value for one row — what lands in the hive
    directory name. ``source_type`` is the Spark typeName of the
    source column (the write path reads it off the table schema).
    Identity fields never call this (Spark's own partitionBy handles
    them)."""
    c = F.col(fld.source)
    if fld.transform in _CALENDAR:
        fmt = _CALENDAR[fld.transform][0]
        return F.date_format(c, fmt)
    if fld.transform == "truncate":
        if source_type in ("byte", "short", "integer", "long"):
            # Iceberg semantics v - (v mod W), mod taken positive so
            # negatives truncate toward -inf like Python's %
            return (
                c.cast("long") - F.pmod(c.cast("long"), F.lit(fld.param))
            ).cast("string")
        return F.substring(c.cast("string"), 1, fld.param)
    if fld.transform == "bucket":
        return F.pmod(
            F.crc32(c.cast("string").cast("binary")), F.lit(fld.param)
        ).cast("string")
    raise AssertionError(fld.transform)


# ----------------------------------------------------------------------
# Python side (planning): transform predicate constants + parse dirs
# ----------------------------------------------------------------------
def transform_value(fld: PartitionField, v: Any) -> Any:
    """Apply the transform to a predicate constant, driver-side."""
    if fld.transform == "identity":
        return v
    if fld.transform in _CALENDAR:
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            v = _dt.datetime(v.year, v.month, v.day)
        return v.strftime(_CALENDAR[fld.transform][1])
    if fld.transform == "truncate":
        if isinstance(v, int):
            return v - (v % fld.param)
        return str(v)[: fld.param]
    if fld.transform == "bucket":
        return zlib.crc32(str(v).encode("utf-8")) % fld.param
    raise AssertionError(fld.transform)


def parse_partition_value(
    fld: PartitionField, raw: str | None, like: Any = None
) -> Any:
    """Parse a hive directory value back to the transform's domain so
    it compares correctly against :func:`transform_value` output.

    ``like`` is a sample transformed predicate constant: for
    ``truncate`` the directory string alone is ambiguous (an INT
    column writes ``v - v%W`` digits, but a STRING column's prefix
    can ALSO look numeric — ``truncate(1)`` of ``"0"`` is ``"0"``),
    so the predicate side's type decides. Guessing int from the raw
    string pruned matching files for numeric-looking string columns
    (caught by the hypothesis soundness property).

    ``raw`` is the directory text, which Spark escapes (``%`` is
    ``%25``, ``:`` is ``%3A``); it is decoded before any comparison."""
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    raw = unquote(raw)
    if fld.transform == "bucket":
        return int(raw)
    if fld.transform == "truncate":
        if isinstance(like, int):
            try:
                return int(raw)
            except ValueError:
                return raw  # mismatched domain -> TypeError -> keep
        return raw
    # identity text (a range parses it: identity_value); calendar
    # strings compare lexicographically by design
    return raw


def identity_value(source_type: str | None, text: str) -> Any:
    """A decoded identity directory value as a value of the source
    column's type, or None when the type is not integral, ``date`` or
    ``string``, or the text is not in the form Spark writes. The
    strict forms keep Python from reading a value Spark would not
    (``int("1_000")``, ``date.fromisoformat("20240102")``)."""
    if source_type in _INTEGRAL and re.fullmatch(r"[+-]?[0-9]+", text):
        return int(text)
    if source_type == "date" and re.fullmatch(r"[0-9]{4}-[0-9]{2}-[0-9]{2}", text):
        try:
            return _dt.date.fromisoformat(text)
        except ValueError:  # 2024-13-01
            return None
    return text if source_type == "string" else None


def map_predicate_op(fld: PartitionField, op: str, value: Any):
    """Map a source-column predicate into partition space.

    Returns ``(op, transformed_value)`` or None when the transform
    cannot serve the op (the file is then kept — pruning is only ever
    an IO reducer, never a correctness gate).
    """
    if op in ("is_null", "not_null"):
        return (op, None)
    if fld.transform == "identity":
        # equality compares the directory text with str(value); a
        # range needs the directory value parsed into the column's
        # type ("10" < "9" as strings) — see identity_value
        if op == "eq":
            return ("eq", str(value))
        if op == "in":
            return ("in", [str(x) for x in value])
        if isinstance(value, float) and value != value or (
            isinstance(value, Decimal) and value.is_nan()
        ):
            return None  # Spark's NaN sorts above every number
        if isinstance(value, str) and fld.source_type == "date":
            value = identity_value("date", value)  # Spark casts it so
            if value is None:
                return None
        return (op, value)
    monotonic = fld.transform in _CALENDAR or fld.transform == "truncate"
    if fld.transform == "bucket":
        if op == "eq":
            return ("eq", transform_value(fld, value))
        if op == "in":
            return ("in", [transform_value(fld, x) for x in value])
        return None
    if not monotonic:
        return None
    t = lambda x: transform_value(fld, x)
    if op == "eq":
        return ("eq", t(value))
    if op == "in":
        return ("in", [t(x) for x in value])
    # non-injective monotonic transform: strict bounds weaken to
    # inclusive in partition space (rows below the bound can share the
    # truncated value with rows above it) — EXCEPT when the constant
    # sits exactly on a bucket boundary: every row of bucket t(V) is
    # then >= V, so `col < V` excludes the bucket entirely. This is
    # the retention-delete shape (`ts < midnight-of-a-month-start`),
    # where inclusive mapping needlessly kept/rewrote the cutoff's own
    # partition.
    if op == "lt":
        return ("lt" if is_bucket_start(fld, value) else "le", t(value))
    if op == "le":
        return ("le", t(value))
    if op in ("gt", "ge"):
        return ("ge", t(value))
    return None


def is_bucket_start(fld: PartitionField, v: Any) -> bool:
    """True when ``v`` is exactly the first value of its own bucket
    under a monotonic transform — i.e. the transform round-trips to
    ``v`` itself. Conservative False on anything unparseable."""
    try:
        if fld.transform in _CALENDAR:
            if isinstance(v, str):
                v = _dt.datetime.fromisoformat(v)
            if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
                v = _dt.datetime(v.year, v.month, v.day)
            fmt = _CALENDAR[fld.transform][1]
            return _dt.datetime.strptime(v.strftime(fmt), fmt) == v
        if fld.transform == "truncate":
            if isinstance(v, int):
                return v % fld.param == 0
            return len(str(v)) <= fld.param
    except (ValueError, TypeError):
        return False
    return False


def partition_may_match(
    fld: PartitionField, raw: str | None, op: str, value: Any
) -> bool:
    """Exact partition-value check: False only when the partition
    PROVES no row in the file can match."""
    mapped = map_predicate_op(fld, op, value)
    if mapped is None:
        return True
    mop, mval = mapped
    sample = mval[0] if isinstance(mval, list) and mval else mval
    pv = parse_partition_value(fld, raw, like=sample)
    if mop == "is_null":
        return pv is None
    if mop == "not_null":
        return pv is not None
    if pv is None:
        return False  # null partition value cannot satisfy a comparison
    if fld.transform == "identity" and mop not in ("eq", "in"):
        pv = identity_value(fld.source_type, pv)
        if pv is None:
            return True  # a directory value that does not parse
    try:
        if mop == "eq":
            return pv == mval
        if mop == "in":
            return pv in mval
        if mop == "lt":  # boundary-strict mapping (see map_predicate_op)
            return pv < mval
        if mop == "le":
            return pv <= mval
        if mop == "gt":  # identity only: an exact transform stays strict
            return pv > mval
        if mop == "ge":
            return pv >= mval
    except (TypeError, ArithmeticError):
        return True  # e.g. a date column against a timestamp constant
    return True


def partition_all_match(
    fld: PartitionField, raw: str | None, op: str, value: Any
) -> bool:
    """Dual of :func:`partition_may_match`: True only when the
    partition value PROVES every row in the file satisfies the
    predicate — the whole-file DELETE fast path
    (``Catalog.delete_where(exact_condition=True)``) drops such files
    from the layout without reading them. Conservative: False unless
    proven.

    Soundness: ``t(NULL)`` lands in the hive default partition and
    nothing else does, so null-ness proofs hold for every transform.
    Calendar/truncate transforms are monotonic non-decreasing, so a
    STRICT inequality in partition space transfers to source space
    (``t(r) < t(V)`` implies ``r < V`` by contraposition); equality in
    partition space proves nothing (the bucket straddles ``V``).
    Identity equality compares the hive string against ``str(value)``
    — the same convention :func:`partition_may_match` prunes on.
    ``bucket`` buckets are never single-valued: no proof.
    """
    marker_null = raw is None or raw == "__HIVE_DEFAULT_PARTITION__"
    if op == "is_null":
        return marker_null
    if op == "not_null":
        return not marker_null
    if marker_null:
        return False  # an all-NULL file satisfies no value comparison
    mapped = map_predicate_op(fld, op, value)
    if mapped is None:
        return False
    mop, mval = mapped
    sample = mval[0] if isinstance(mval, list) and mval else mval
    pv = parse_partition_value(fld, raw, like=sample)
    if pv is None:
        return False
    try:
        if fld.transform == "identity":
            if mop == "eq":
                return pv == mval
            if mop == "in":
                return pv in mval
            return False  # no whole-file proof of an identity range
        if fld.transform == "bucket":
            return False
        # monotonic transforms arrive as lt/le/ge (strict ops weaken
        # on the way in unless the constant is a bucket boundary —
        # map_predicate_op); a strict partition-space comparison
        # proves BOTH the strict and inclusive source op
        if mop in ("lt", "le"):
            return pv < mval
        if mop == "ge":
            # bucket t(V) starts at V when V is its boundary: every
            # row of that bucket satisfies `col >= V` (but NOT `> V`,
            # hence the original-op check)
            return pv > mval or (
                op == "ge" and pv == mval and is_bucket_start(fld, value)
            )
        return False  # eq/in: a bucket holds many source values
    except TypeError:
        return False
