"""Subqueries in UPDATE/DELETE WHERE through the SQL front door.

Iceberg's and Delta's Spark surfaces both accept ``DELETE FROM t WHERE
id IN (SELECT ...)`` — the row filter runs as a join under the hood. The
engine stores row-level conditions as pure expressions (MoR delete
specs, CDC replay, pruning all re-evaluate them later), so the front
door resolves subqueries ONCE at statement time against the same
snapshot-pinned views the statement sees and inlines the result as
typed literals (``sqldml.resolve_subqueries``). Covered here:

- [NOT] IN with non-empty / empty / NULL-bearing results (SQL 3VL);
- scalar subquery comparison (empty -> NULL -> no rows);
- uncorrelated [NOT] EXISTS;
- correlated subquery -> ValueError naming MERGE INTO;
- inline cap -> ValueError naming the anti-join scale paths;
- a partition-aligned IN still fires the whole-file metadata DELETE
  fast path (the inlined list is exact for the pruning parser).
"""

import pytest
from pyspark.sql import functions as F

from no_jvm_wap_with_iceberg_spark.catalog import Catalog
from no_jvm_wap_with_iceberg_spark.catalog import sqldml


def _cat(warehouse):
    return Catalog(warehouse)


def _mk_items(spark, cat, rows=None):
    rows = rows or [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "a", 30.0),
        (4, "c", 40.0),
        (5, "b", 50.0),
    ]
    df = spark.createDataFrame(rows, "id INT, grp STRING, v DOUBLE")
    cat.create_table_from_df(df, "items")


def _mk_keys(spark, cat, ids):
    df = spark.createDataFrame([(i,) for i in ids], "id INT")
    cat.create_table_from_df(df, "keys")


def test_delete_in_subquery(spark, warehouse):
    cat = _cat(warehouse)
    _mk_items(spark, cat)
    _mk_keys(spark, cat, [2, 4, 99])
    cat.sql(spark, "DELETE FROM items WHERE id IN (SELECT id FROM keys)")
    left = sorted(r.id for r in cat.read(spark, "items").collect())
    assert left == [1, 3, 5]


def test_delete_not_in_subquery_with_null_deletes_nothing(spark, warehouse):
    # NOT IN against a set containing NULL matches no row (3VL)
    cat = _cat(warehouse)
    _mk_items(spark, cat)
    df = spark.createDataFrame([(2,), (None,)], "id INT")
    cat.create_table_from_df(df, "keys")
    cat.sql(spark, "DELETE FROM items WHERE id NOT IN (SELECT id FROM keys)")
    assert cat.read(spark, "items").count() == 5


def test_delete_not_in_subquery_without_null(spark, warehouse):
    cat = _cat(warehouse)
    _mk_items(spark, cat)
    _mk_keys(spark, cat, [1, 3])
    cat.sql(spark, "DELETE FROM items WHERE id NOT IN (SELECT id FROM keys)")
    left = sorted(r.id for r in cat.read(spark, "items").collect())
    assert left == [1, 3]


def test_empty_in_subquery_is_noop_and_empty_not_in_deletes_all(
    spark, warehouse
):
    cat = _cat(warehouse)
    _mk_items(spark, cat)
    _mk_keys(spark, cat, [])
    # a NULL id row makes 3VL matter: IN (empty) must still be FALSE
    cat.append(
        spark.createDataFrame([(None, "z", 0.0)], "id INT, grp STRING, v DOUBLE"),
        "items",
    )
    cat.sql(spark, "DELETE FROM items WHERE id IN (SELECT id FROM keys)")
    assert cat.read(spark, "items").count() == 6
    cat.sql(spark, "DELETE FROM items WHERE id NOT IN (SELECT id FROM keys)")
    assert cat.read(spark, "items").count() == 0


def test_update_scalar_subquery(spark, warehouse):
    cat = _cat(warehouse)
    _mk_items(spark, cat)
    cat.sql(
        spark,
        "UPDATE items SET v = v + 100.0 "
        "WHERE v > (SELECT avg(v) FROM items)",
    )  # avg = 30 -> ids 4, 5
    got = {r.id: r.v for r in cat.read(spark, "items").collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 30.0, 4: 140.0, 5: 150.0}


def test_empty_scalar_subquery_matches_no_rows(spark, warehouse):
    cat = _cat(warehouse)
    _mk_items(spark, cat)
    cat.sql(
        spark,
        "DELETE FROM items WHERE v > (SELECT v FROM items WHERE id = 999)",
    )
    assert cat.read(spark, "items").count() == 5


def test_exists_uncorrelated(spark, warehouse):
    cat = _cat(warehouse)
    _mk_items(spark, cat)
    _mk_keys(spark, cat, [7])
    cat.sql(
        spark,
        "DELETE FROM items WHERE grp = 'c' "
        "AND EXISTS (SELECT 1 FROM keys WHERE id = 7)",
    )
    assert sorted(r.id for r in cat.read(spark, "items").collect()) == [
        1, 2, 3, 5,
    ]
    cat.sql(
        spark,
        "DELETE FROM items WHERE NOT EXISTS "
        "(SELECT 1 FROM keys WHERE id = 8)",
    )
    assert cat.read(spark, "items").count() == 0


def test_correlated_subquery_raises(spark, warehouse):
    cat = _cat(warehouse)
    _mk_items(spark, cat)
    _mk_keys(spark, cat, [1])
    with pytest.raises(ValueError, match="MERGE INTO"):
        cat.sql(
            spark,
            "DELETE FROM items WHERE EXISTS "
            "(SELECT 1 FROM keys WHERE keys.id = items.id)",
        )


def test_inline_cap_names_scale_paths(spark, warehouse, monkeypatch):
    cat = _cat(warehouse)
    _mk_items(spark, cat)
    _mk_keys(spark, cat, [1, 2, 3, 4])
    monkeypatch.setattr(sqldml, "_SUBQ_INLINE_CAP", 3)
    with pytest.raises(ValueError, match="delete_keys"):
        cat.sql(spark, "DELETE FROM items WHERE id IN (SELECT id FROM keys)")


def test_tuple_in_subquery(spark, warehouse):
    cat = _cat(warehouse)
    _mk_items(spark, cat)
    df = spark.createDataFrame([(1, "a"), (5, "b")], "id INT, grp STRING")
    cat.create_table_from_df(df, "pairs")
    cat.sql(
        spark,
        "DELETE FROM items WHERE (id, grp) IN (SELECT id, grp FROM pairs)",
    )
    assert sorted(r.id for r in cat.read(spark, "items").collect()) == [
        2, 3, 4,
    ]


@pytest.mark.parametrize("keys", [[4], [5, 6]])
def test_tuple_in_subquery_over_bigint_columns(spark, warehouse, keys):
    # Python ints make BIGINT columns; the inlined tuples must carry
    # those types (Spark widens a scalar IN list, not struct fields),
    # for one returned row and for several
    cat = _cat(warehouse)
    df = spark.createDataFrame([(i, f"n{i}") for i in range(1, 8)], ["id", "name"])
    cat.create_table_from_df(df, "t")
    ids = ", ".join(map(str, keys))
    cat.sql(
        spark,
        "DELETE FROM t WHERE (id, name) IN "
        f"(SELECT id, name FROM t WHERE id IN ({ids}))",
    )
    left = sorted(r.id for r in cat.read(spark, "t").collect())
    assert left == [i for i in range(1, 8) if i not in keys]


def test_partition_aligned_in_subquery_is_metadata_delete(spark, warehouse):
    # the inlined IN-list is exact for the pruning parser, so an
    # identity-partition-aligned subquery DELETE drops whole files
    # with zero rewrites — Iceberg's metadata delete, O(metadata)
    cat = _cat(warehouse)
    df = spark.createDataFrame(
        [(i, f"g{i % 4}", float(i)) for i in range(40)],
        "id INT, grp STRING, v DOUBLE",
    )
    cat.create_table_from_df(df, "part_items", partition_by=["grp"])
    _mk_keys(spark, cat, [])
    drop = spark.createDataFrame([("g1",), ("g3",)], "grp STRING")
    cat.create_table_from_df(drop, "dead_groups")
    cat.sql(
        spark,
        "DELETE FROM part_items WHERE grp IN (SELECT grp FROM dead_groups)",
    )
    snap = cat.load_table("part_items").snapshot()
    assert int(snap.summary.get("metadata-deleted-files", 0)) >= 1
    assert int(snap.summary.get("added-files", 0)) == 0
    assert cat.read(spark, "part_items").count() == 20


def test_timestamp_values_inline_and_roundtrip(spark, warehouse):
    import datetime as dt

    cat = _cat(warehouse)
    rows = [
        (1, dt.datetime(2024, 1, 1, 12, 0)),
        (2, dt.datetime(2024, 2, 1, 12, 0)),
        (3, dt.datetime(2024, 3, 1, 12, 0)),
    ]
    df = spark.createDataFrame(rows, "id INT, ts TIMESTAMP")
    cat.create_table_from_df(df, "tsed")
    cat.create_table_from_df(
        spark.createDataFrame([rows[1]], "id INT, ts TIMESTAMP"), "tpick"
    )
    cat.sql(spark, "DELETE FROM tsed WHERE ts IN (SELECT ts FROM tpick)")
    assert sorted(r.id for r in cat.read(spark, "tsed").collect()) == [1, 3]


def test_resolve_subqueries_keeps_plain_conditions_intact(spark):
    assert (
        sqldml.resolve_subqueries(spark, "a = 1 AND b IN (1, 2)")
        == "a = 1 AND b IN (1, 2)"
    )
    # '(SELECT' inside a string literal is data, not a subquery
    cond = "note = '(SELECT x)' AND a = 1"
    assert sqldml.resolve_subqueries(spark, cond) == cond
