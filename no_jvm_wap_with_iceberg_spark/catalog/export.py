"""External-engine interop: export a table snapshot for non-Spark readers.

The reference's lakehouse point is that OTHER engines read the same
published tables (Snowflake external Iceberg tables, `README.md:174-211`;
a Streamlit dashboard). Our table format keeps that property two ways,
both verifiable offline:

- :func:`duckdb_view_sql` — a standalone SQL statement any DuckDB (or,
  with trivial dialect tweaks, Trino/ClickHouse) can run to query one
  branch/snapshot: ``read_parquet`` over the exact live file list,
  with pending merge-on-read delete conditions compiled in as
  ``WHERE NOT(...)`` per file group. No Spark, no catalog client.
- :func:`export_manifest` — an engine-neutral JSON document (schema,
  live files + stats, pending deletes, snapshot lineage) that any tool
  can parse to plan its own scan; this is the information content of
  an Iceberg metadata.json + manifest list, minus the Avro encoding
  (which needs an Avro writer that is deliberately out of scope —
  the JSON carries the same facts).

A true Iceberg-metadata emitter would slot in behind the same
interface; the container lacks both pyiceberg and any Avro codec, so
it could not be tested here and is left documented instead of shipped
half-verified.
"""

from __future__ import annotations

import os
from typing import Any

from no_jvm_wap_with_iceberg_spark.catalog.catalog import MAIN, Catalog


def _duck_type(meta, col: str) -> str:
    """DuckDB spelling of a (widenable) Spark column type."""
    dt = next(
        f.dataType for f in meta.spark_schema.fields if f.name == col
    ).simpleString()
    m = {
        "tinyint": "TINYINT", "smallint": "SMALLINT", "int": "INTEGER",
        "bigint": "BIGINT", "float": "FLOAT", "double": "DOUBLE",
    }
    if dt in m:
        return m[dt]
    if dt.startswith("decimal"):
        return dt.upper()
    raise ValueError(f"unexpected widened column type {dt!r} for {col!r}")


def _sql_quote(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def duckdb_view_sql(
    cat: Catalog,
    table: str,
    branch: str = MAIN,
    snapshot_id: int | None = None,
    view_name: str | None = None,
) -> str:
    """CREATE VIEW statement a plain DuckDB can execute to read the
    table as of a branch/snapshot — the zero-dependency read path.

    Pending MoR deletes compile to ``WHERE NOT coalesce(cond, false)``
    over exactly their target files, mirroring the Spark read path.
    Delete conditions are the ANSI subset both engines parse (the
    delete API stores the row filter as SQL text).
    """
    meta = cat.load_table(table, branch)
    groups: dict[tuple[str, ...], list] = {}
    for f, conds in meta.files_with_deletes(snapshot_id):
        groups.setdefault(conds, []).append(f)
    name = view_name or f"{table}_{branch}"
    # hive_partitioning only when identity values must come back as
    # columns; hidden-transform values live in dir names but are NOT
    # part of the user schema, so they are EXCLUDEd (derived-only
    # tables carry the full schema in-file and need no hive mode)
    identity = meta.identity_partition_cols
    derived = [
        f.name for f in meta.partition_fields if f.transform != "identity"
    ]
    hive = ", hive_partitioning = true" if identity else ""
    star = f"* EXCLUDE ({', '.join(derived)})" if identity and derived else "*"
    if not groups:
        cols = ", ".join(
            f"NULL AS {f['name']}" for f in meta.schema_json["fields"]
        )
        return f"CREATE OR REPLACE VIEW {name} AS SELECT {cols} WHERE 1 = 0"
    hist = meta.rename_history
    field_names = [f["name"] for f in meta.schema_json["fields"]]
    selects = []
    for specs, entries in sorted(
        groups.items(), key=lambda kv: sorted(e.path for e in kv[1])
    ):
        paths = [os.path.join(cat.warehouse, e.path) for e in entries]
        # top-level column names this group's files actually carry
        # (footer stats key leaf paths — `embedding.list.element` —
        # so match on the first path segment)
        per_file = [{k.split(".")[0] for k in e.columns} for e in entries]
        present = set().union(*per_file)
        # schema-era mapping: files written before an add/drop/rename
        # don't match the current schema, so `SELECT *` would either
        # error (mixed schemas in one read_parquet) or surface stale
        # names. When every file matches the current schema, keep the
        # plain star (cheapest, proven); otherwise project explicitly
        # over a union_by_name read: current name, else
        # COALESCE(historical names), else NULL (added later).
        known = set(field_names) | set(identity) | set(derived)
        # widened columns: files of BOTH physical widths exist under
        # one name — a plain read_parquet refuses the mix (probed:
        # "failed to cast column"), so these force the union_by_name
        # path with an explicit CAST to the table type
        widened = set(meta.widened_columns)
        uniform = (
            not hist
            and not widened
            and all(
                all(f in pf or f in identity for f in field_names)
                and all(p in known for p in pf)  # dropped cols = extra
                for pf in per_file  # EVERY file must match the schema
            )
        )
        defaults = meta.column_defaults
        need_filename = False
        if uniform:
            proj, union = star, ""
        else:
            items = []
            for f in field_names:
                if f in identity:
                    items.append(f)
                    continue
                names = [f] + list(hist.get(f, ()))
                carried = [c for c in names if c in present]
                dflt = defaults.get(f)
                # files in THIS group lacking the column physically:
                # their rows read as the default, matching the Spark
                # read path exactly (genuine NULLs stay NULL)
                lacking = [
                    os.path.join(cat.warehouse, e.path)
                    for e, pf in zip(entries, per_file)
                    if not any(n in pf for n in names)
                ]
                if not carried:
                    items.append(
                        f"{dflt} AS {f}" if dflt is not None else f"NULL AS {f}"
                    )
                    continue
                if carried == [f]:
                    expr = f
                elif len(carried) == 1:
                    expr = carried[0]
                else:
                    expr = f"COALESCE({', '.join(carried)})"
                if dflt is not None and lacking:
                    need_filename = True
                    in_list = ", ".join(_sql_quote(p) for p in sorted(lacking))
                    expr = (
                        f"CASE WHEN filename IN ({in_list}) "
                        f"THEN {dflt} ELSE {expr} END"
                    )
                if f in widened:
                    # union_by_name promotes to the widest input type;
                    # pin the view to the TABLE schema's type exactly
                    expr = f"CAST({expr} AS {_duck_type(meta, f)})"
                items.append(f"{expr} AS {f}" if expr != f else f)
            proj, union = ", ".join(items), ", union_by_name = true"
        if need_filename:
            union += ", filename = true"
        file_list = ", ".join(_sql_quote(p) for p in sorted(paths))
        # composite equality deletes need a correlated NOT EXISTS
        # (DuckDB's IN-subquery is single-column only), which needs an
        # alias on the outer relation; added only when used so the
        # proven single-key SQL shape stays untouched
        alias = (
            " __t"
            if any(
                s.condition is None and len(s.key_cols) > 1 for s in specs
            )
            else ""
        )
        sql = (
            f"SELECT {proj} FROM read_parquet([{file_list}]{hive}{union})"
            f"{alias}"
        )
        clauses = []
        for s in specs:
            if s.condition is not None:
                clauses.append(f"NOT coalesce(({s.condition}), false)")
                continue
            kf = ", ".join(
                _sql_quote(os.path.join(cat.warehouse, p))
                for p in s.key_files
            )
            # match the Spark anti-join's NULL semantics: a row with
            # ANY null key component is never deleted, and
            # NULL-component tuples in the delete-key set must not
            # turn NOT IN into NULL-for-every-row
            cols = s.key_cols
            if len(cols) == 1:
                clauses.append(
                    f"({s.key} IS NULL OR {s.key} NOT IN "
                    f"(SELECT {s.key} FROM read_parquet([{kf}]) "
                    f"WHERE {s.key} IS NOT NULL))"
                )
            else:
                # tuple-level anti-join: = is null-rejecting, so rows
                # or key tuples with null components never match —
                # identical to Spark's composite equi-join semantics
                on = " AND ".join(f"__d.{c} = __t.{c}" for c in cols)
                clauses.append(
                    f"NOT EXISTS (SELECT 1 FROM read_parquet([{kf}]) "
                    f"__d WHERE {on})"
                )
        if clauses:
            sql += " WHERE " + " AND ".join(clauses)
        selects.append(sql)
    body = "\nUNION ALL BY NAME\n".join(selects)
    return f"CREATE OR REPLACE VIEW {name} AS\n{body}"


def export_manifest(
    cat: Catalog,
    table: str,
    branch: str = MAIN,
    snapshot_id: int | None = None,
) -> dict[str, Any]:
    """Engine-neutral snapshot manifest: everything an external scanner
    needs to plan reads (absolute file paths, row counts, per-column
    stats for pruning, pending delete filters, lineage)."""
    meta = cat.load_table(table, branch)
    files = [
        {
            "path": os.path.join(cat.warehouse, f.path),
            "rows": f.rows,
            "bytes": f.bytes,
            "partition": f.partition,
            "column_stats": f.columns,
            "delete_filters": [
                {k: v for k, v in s.to_json().items() if k != "targets"}
                for s in specs
            ],
        }
        for f, specs in meta.files_with_deletes(snapshot_id)
    ]
    return {
        "format": "no-jvm-wap-spark/manifest-v1",
        "table": table,
        "branch": branch,
        "snapshot_id": (
            snapshot_id if snapshot_id is not None else meta.current_snapshot_id
        ),
        "schema": meta.schema_json,
        "partition_by": meta.partition_by,
        "sort_by": meta.sort_by,
        "files": files,
        "total_rows_before_deletes": sum(f["rows"] for f in files),
        "snapshots": [
            {
                "snapshot_id": s.snapshot_id,
                "parent_snapshot_id": s.parent_snapshot_id,
                "timestamp_ms": s.timestamp_ms,
                "operation": s.operation,
            }
            for s in meta.snapshots
        ],
    }

