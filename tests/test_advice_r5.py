"""Regression tests for the round-5 ADVICE findings.

1. (high) tz-aware TIMESTAMP literals must normalize to naive-UTC
   before comparing against file stats — otherwise equal instants
   string-compare unequal and the whole-file DELETE fast path silently
   over-deletes at the boundary (and may-match pruning skips matching
   files).
2. (medium) SQL INSERT honors declared column write-defaults exactly
   like the API path (Catalog._align_schema).
3. (low) DML against a table the catalog doesn't own falls through to
   plain spark.sql instead of dying in load_table with a KeyError.
4. (low) create_view rejects DML bodies at definition time (stored
   bodies are EXECUTED on every later Catalog.sql call).
5. (low) the legacy identity-partition eq proof must not treat the
   hive null marker as a provable equality (all-NULL rows satisfy no
   equality under SQL 3VL).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F, types as T

from no_jvm_wap_with_iceberg_spark.catalog import Catalog, Predicate
from no_jvm_wap_with_iceberg_spark.catalog.pruning import (
    _stats_all_match,
    file_all_match,
)
from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
    _parse_lit,
    predicates_from_sql_exact,
)
from no_jvm_wap_with_iceberg_spark.catalog.table import FileEntry


# ----------------------------------------------------------------------
# 1. tz-aware TIMESTAMP literal normalization (high)
# ----------------------------------------------------------------------
def test_parse_lit_normalizes_tz_offsets_to_naive_utc():
    naive = _parse_lit("TIMESTAMP '2024-04-01 00:00:00'")
    utc = _parse_lit("TIMESTAMP '2024-04-01T00:00:00+00:00'")
    plus2 = _parse_lit("TIMESTAMP '2024-04-01 02:00:00+02:00'")
    assert naive == utc == plus2 == "2024-04-01T00:00:00"


def test_tz_literal_no_longer_proves_boundary_file(spark):
    # file whose max row is EXACTLY midnight UTC: `ts < midnight` is
    # FALSE for that row, so the file must never be whole-file proven
    f = FileEntry(
        path="f",
        rows=10,
        bytes=1,
        columns={
            "ts": {
                "nulls": 0,
                "min": "2024-03-31T00:00:00",
                "max": "2024-04-01T00:00:00",
            }
        },
    )
    for lit in (
        "TIMESTAMP '2024-04-01 00:00:00+00:00'",
        "TIMESTAMP '2024-04-01 03:00:00+03:00'",
    ):
        preds, exact = predicates_from_sql_exact(f"ts < {lit}")
        assert exact and len(preds) == 1
        assert not file_all_match(f, preds), lit
    # the naive spelling agrees (same instant, same verdict)
    preds, exact = predicates_from_sql_exact(
        "ts < TIMESTAMP '2024-04-01 00:00:00'"
    )
    assert exact and not file_all_match(f, preds)
    # and a genuinely-later cutoff still proves (fast path intact)
    preds, exact = predicates_from_sql_exact(
        "ts <= TIMESTAMP '2024-04-01 00:00:00+00:00'"
    )
    assert exact and file_all_match(f, preds)


def test_api_datetime_tz_normalizes_in_stats_prover():
    f = FileEntry(
        path="f",
        rows=5,
        bytes=1,
        columns={
            "ts": {
                "nulls": 0,
                "min": "2024-03-31T00:00:00",
                "max": "2024-04-01T00:00:00",
            }
        },
    )
    aware_midnight = dt.datetime(
        2024, 4, 1, 2, 0, 0, tzinfo=dt.timezone(dt.timedelta(hours=2))
    )
    # same instant as the naive max: lt must NOT prove, le must prove
    assert not _stats_all_match(f, Predicate("lt", "ts", aware_midnight))
    assert _stats_all_match(f, Predicate("le", "ts", aware_midnight))


def test_tz_delete_end_to_end_keeps_boundary_row(spark, warehouse):
    cat = Catalog(warehouse)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    cat.create_table("tz_del", schema)
    rows = [
        (1, dt.datetime(2024, 3, 31, 12, 0, 0)),
        (2, dt.datetime(2024, 4, 1, 0, 0, 0)),  # boundary: must survive
    ]
    cat.append(spark.createDataFrame(rows, schema).coalesce(1), "tz_del")
    cat.sql(
        spark,
        "DELETE FROM tz_del WHERE ts < TIMESTAMP '2024-04-01 00:00:00+00:00'",
    )
    left = [r.id for r in cat.read(spark, "tz_del").collect()]
    assert left == [2]


# ----------------------------------------------------------------------
# 2. SQL INSERT fills declared defaults (medium)
# ----------------------------------------------------------------------
def _mk_defaults_table(cat, spark, name):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    cat.create_table(name, schema)
    cat.append(
        spark.createDataFrame([(1, "a")], schema).coalesce(1), name
    )
    cat.add_column(name, "region", "string", default="'eu'")


def test_sql_insert_column_list_fills_default(spark, warehouse):
    cat = Catalog(warehouse)
    _mk_defaults_table(cat, spark, "t_def")
    cat.sql(spark, "INSERT INTO t_def (id, val) VALUES (2, 'b')")
    rows = {
        r.id: r.region for r in cat.read(spark, "t_def").collect()
    }
    assert rows[2] == "eu"  # default filled, not NULL
    # API parity: append with the column omitted fills the same value
    cat.append(
        spark.createDataFrame([(3, "c")], "id long, val string"), "t_def"
    )
    rows = {r.id: r.region for r in cat.read(spark, "t_def").collect()}
    assert rows[3] == "eu"


def test_sql_insert_positional_trailing_default(spark, warehouse):
    cat = Catalog(warehouse)
    _mk_defaults_table(cat, spark, "t_def2")
    # two columns for a three-column table: trailing defaulted column
    # may be omitted positionally (standard-SQL shape)
    cat.sql(spark, "INSERT INTO t_def2 VALUES (2, 'b')")
    rows = {r.id: r.region for r in cat.read(spark, "t_def2").collect()}
    assert rows[2] == "eu"
    # a non-defaulted omission is still an arity error
    with pytest.raises(ValueError, match="columns"):
        cat.sql(spark, "INSERT INTO t_def2 VALUES (3)")


def test_sql_merge_insert_fills_default(spark, warehouse):
    cat = Catalog(warehouse)
    _mk_defaults_table(cat, spark, "t_def3")
    spark.createDataFrame(
        [(5, "e")], "id long, val string"
    ).createOrReplaceTempView("src_def3")
    cat.sql(
        spark,
        "MERGE INTO t_def3 t USING src_def3 s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, val) VALUES (s.id, s.val)",
    )
    rows = {r.id: r.region for r in cat.read(spark, "t_def3").collect()}
    assert rows[5] == "eu"


# ----------------------------------------------------------------------
# 3. DML on a non-catalog table falls through to spark.sql (low)
# ----------------------------------------------------------------------
def test_dml_unknown_table_falls_through_to_spark(spark, warehouse):
    cat = Catalog(warehouse)
    spark.sql("DROP TABLE IF EXISTS adv_managed_t")
    spark.sql("CREATE TABLE adv_managed_t (id INT) USING parquet")
    try:
        cat.sql(spark, "INSERT INTO adv_managed_t VALUES (7)")
        got = spark.sql("SELECT * FROM adv_managed_t").collect()
        assert [r.id for r in got] == [7]
    finally:
        spark.sql("DROP TABLE IF EXISTS adv_managed_t")


def test_dml_unknown_table_spark_error_not_keyerror(spark, warehouse):
    cat = Catalog(warehouse)
    # no such table anywhere: Spark's own analysis error, not a bare
    # KeyError out of load_table
    with pytest.raises(Exception) as ei:
        cat.sql(spark, "DELETE FROM no_such_table_anywhere WHERE id = 1")
    assert not isinstance(ei.value, KeyError)


# ----------------------------------------------------------------------
# 4. create_view rejects DML bodies (low)
# ----------------------------------------------------------------------
def test_create_view_rejects_dml_body(spark, warehouse):
    cat = Catalog(warehouse)
    with pytest.raises(ValueError, match="must be a query"):
        cat.create_view("evil", "INSERT INTO t VALUES (1)")
    with pytest.raises(ValueError, match="must be a query"):
        cat.sql(
            spark, "CREATE VIEW evil2 AS INSERT INTO t VALUES (1)"
        )
    assert cat.list_views() == []


# ----------------------------------------------------------------------
# 5. legacy identity-partition eq vs the hive null marker (low)
# ----------------------------------------------------------------------
def test_file_all_match_null_marker_partition_never_proves():
    f = FileEntry(
        path="f",
        rows=3,
        bytes=1,
        columns={},
        partition={"cat": "__HIVE_DEFAULT_PARTITION__"},
    )
    # all-NULL rows satisfy NO equality — not even against the marker
    # string itself
    assert not file_all_match(
        f, [Predicate("eq", "cat", "__HIVE_DEFAULT_PARTITION__")]
    )
    assert not file_all_match(f, [Predicate("eq", "cat", "x")])
    # a genuine value still proves
    g = FileEntry(
        path="g", rows=3, bytes=1, columns={}, partition={"cat": "x"}
    )
    assert file_all_match(g, [Predicate("eq", "cat", "x")])
