"""The engine's bookkeeping properties (``table.INTERNAL_PROPS``:
rename/drop history, partition-spec eras, prior table names, widen
records) cannot be set or unset by a user write — SQL SET/UNSET
TBLPROPERTIES, ``Catalog.set_properties``, ``merge_rows(
set_properties=...)`` or CREATE ... TBLPROPERTIES. Erasing
``dropped_columns`` would otherwise let a re-added name resurrect a
dropped column's old values."""

import pytest

from no_jvm_wap_with_iceberg_spark.catalog import Catalog


def _dropped_secret(cat, spark):
    cat.create_table_from_df(
        spark.createDataFrame([(1, "old-value")], "id INT, secret STRING"), "t"
    )
    cat.drop_column("t", "secret")


@pytest.mark.parametrize(
    "write",
    [
        "ALTER TABLE t UNSET TBLPROPERTIES ('dropped_columns')",
        "ALTER TABLE t SET TBLPROPERTIES ('dropped_columns' = '')",
        "api",
    ],
    ids=["sql-unset", "sql-set", "api"],
)
def test_property_writes_cannot_erase_dropped_columns(spark, warehouse, write):
    cat = Catalog(warehouse)
    _dropped_secret(cat, spark)
    version = cat.load_table("t").version
    with pytest.raises(ValueError, match="bookkeeping"):
        if write == "api":
            cat.set_properties("t", dropped_columns=None)
        else:
            cat.sql(spark, write)
    assert cat.load_table("t").version == version
    assert cat.load_table("t").dropped_columns == ["secret"]
    with pytest.raises(ValueError, match="previously dropped"):
        cat.sql(spark, "ALTER TABLE t ADD COLUMN secret STRING")
    assert [r.asDict() for r in cat.read(spark, "t").collect()] == [{"id": 1}]


def test_merge_rows_cannot_set_internal_props(spark, warehouse):
    cat = Catalog(warehouse)
    _dropped_secret(cat, spark)
    with pytest.raises(ValueError, match="bookkeeping"):
        cat.merge_rows(
            spark.createDataFrame([(2,)], "id INT"),
            "t",
            key="id",
            set_properties={"dropped_columns": ""},
        )
    assert cat.load_table("t").dropped_columns == ["secret"]


def test_create_refuses_internal_props(spark, warehouse):
    cat = Catalog(warehouse)
    with pytest.raises(ValueError, match="bookkeeping"):
        cat.sql(
            spark,
            "CREATE TABLE u (a INT) TBLPROPERTIES "
            "('renamed_columns' = '[[\"zz\", \"a\"]]')",
        )
    assert not cat.table_exists("u")
