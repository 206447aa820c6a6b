"""GENERATED ALWAYS AS columns (Delta parity).

Declared at CREATE (SQL clause or a ``generated.<col>`` table
property): a writer that OMITS the column gets it computed from the
row; a writer that SUPPLIES it gets the value VALIDATED (null-safe
equality with the expression) inside the write — so a divergent value
fails loudly rather than silently corrupting, including the classic
UPDATE-the-source-but-not-the-derived-column mistake.
"""

import pytest
from pyspark.sql import functions as F, types as T

from no_jvm_wap_with_iceberg_spark.catalog import Catalog


def _create(cat, spark):
    cat.sql(
        spark,
        "CREATE TABLE g (id INT, price DOUBLE, qty INT, "
        "total DOUBLE GENERATED ALWAYS AS (price * qty))",
    )


def test_omitted_column_is_computed(spark, warehouse):
    cat = Catalog(warehouse)
    _create(cat, spark)
    cat.append(
        spark.createDataFrame([(1, 2.5, 4)], "id INT, price DOUBLE, qty INT"),
        "g",
    )
    row = cat.read(spark, "g").collect()[0]
    assert row.total == 10.0


def test_sql_insert_omitting_generated(spark, warehouse):
    cat = Catalog(warehouse)
    _create(cat, spark)
    cat.sql(spark, "INSERT INTO g (id, price, qty) VALUES (1, 3.0, 3)")
    assert cat.read(spark, "g").collect()[0].total == 9.0


def test_supplied_correct_value_passes(spark, warehouse):
    cat = Catalog(warehouse)
    _create(cat, spark)
    cat.append(
        spark.createDataFrame(
            [(1, 2.0, 5, 10.0)], "id INT, price DOUBLE, qty INT, total DOUBLE"
        ),
        "g",
    )
    assert cat.read(spark, "g").count() == 1


def test_supplied_divergent_value_fails_loudly(spark, warehouse):
    cat = Catalog(warehouse)
    _create(cat, spark)
    with pytest.raises(Exception, match="generated"):
        cat.append(
            spark.createDataFrame(
                [(1, 2.0, 5, 99.0)],
                "id INT, price DOUBLE, qty INT, total DOUBLE",
            ),
            "g",
        )
    assert cat.read(spark, "g").count() == 0  # nothing committed


def test_update_source_without_generated_fails_loudly(spark, warehouse):
    # documented divergence from Delta (which recomputes): updating a
    # source column without its generated column must not silently
    # diverge — the write validation rejects it; SET both to proceed
    cat = Catalog(warehouse)
    _create(cat, spark)
    cat.append(
        spark.createDataFrame([(1, 2.0, 5)], "id INT, price DOUBLE, qty INT"),
        "g",
    )
    with pytest.raises(Exception, match="generated"):
        cat.sql(spark, "UPDATE g SET price = 4.0 WHERE id = 1")
    cat.sql(
        spark, "UPDATE g SET price = 4.0, total = 4.0 * qty WHERE id = 1"
    )
    assert cat.read(spark, "g").collect()[0].total == 20.0


def test_show_create_round_trips_via_tblproperties(spark, warehouse):
    cat = Catalog(warehouse)
    _create(cat, spark)
    stmt = cat.sql(spark, "SHOW CREATE TABLE g").collect()[0][0]
    assert "generated.total" in stmt and "price * qty" in stmt
    # re-running the rendered statement on a fresh catalog reproduces
    # the behavior (the property drives the write path)
    cat2 = Catalog(warehouse + "_2")
    cat2.sql(spark, stmt.replace("CREATE TABLE g", "CREATE TABLE g2"))
    cat2.append(
        spark.createDataFrame([(1, 2.0, 3)], "id INT, price DOUBLE, qty INT"),
        "g2",
    )
    assert cat2.read(spark, "g2").collect()[0].total == 6.0


@pytest.mark.parametrize(
    "verb, args, refused, generated",
    [
        ("drop_column", ("qty",), True, {"total": "price * qty"}),
        ("drop_column", ("total",), False, {}),
        ("rename_column", ("qty", "n"), True, {"total": "price * qty"}),
        ("rename_column", ("total", "t"), False, {"t": "price * qty"}),
    ],
    ids=["drop-source", "drop-generated", "rename-source", "rename-generated"],
)
def test_schema_change_keeps_generated_table_writable(
    spark, warehouse, verb, args, refused, generated
):
    # a generated expression stores its source columns' names: dropping
    # or renaming one is refused like a CHECK reference, and the
    # generated column's own expression goes (drop) or moves (rename)
    # with it — either way every later append still lands
    cat = Catalog(warehouse)
    _create(cat, spark)
    batch = "id INT, price DOUBLE, qty INT"
    cat.append(spark.createDataFrame([(1, 2.5, 4)], batch), "g")
    if refused:
        with pytest.raises(
            ValueError, match="GENERATED ALWAYS AS expression of column 'total'"
        ):
            getattr(cat, verb)("g", *args)
    else:
        getattr(cat, verb)("g", *args)
    assert cat.load_table("g").generated_columns == generated
    cat.append(spark.createDataFrame([(2, 1.5, 2)], batch), "g")
    rows = sorted(
        (r.asDict() for r in cat.read(spark, "g").collect()),
        key=lambda r: r["id"],
    )
    assert [r["id"] for r in rows] == [1, 2]
    for col in generated:
        assert [r[col] for r in rows] == [10.0, 3.0]
