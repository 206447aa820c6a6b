"""Regression tests for the round-6 ADVICE findings (all low).

1. CREATE TABLE ... LIKE must not copy internal bookkeeping or
   persisted ``stats.*`` / ``clone.*`` properties onto the new empty
   table (a copied stats.analyzedSnapshot can later equal the new
   table's own sequential snapshot id and read as fresh).
2. ``_render_inline_lit`` must escape backslashes: F.expr decodes
   backslash sequences, so an inlined subquery value like 'C:\\new'
   would otherwise silently mis-match rows.
3. SHOW PARTITIONS must render a present-but-None partition value as
   the hive null marker, not 'k=None'.
4. (bench.py) the ANN recall gate raises instead of ``assert`` so
   ``python -O`` can't strip it — checked by source inspection.
5. ``resolve_subqueries``' empty-IN rewrite must reject a
   ``(SELECT ...)`` LEFT operand instead of splicing away a pending
   span (garbage indices on the next iteration).
"""

import pytest
from pyspark.sql import functions as F

from no_jvm_wap_with_iceberg_spark.catalog import Catalog
from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
    _render_inline_lit,
    resolve_subqueries,
)


# ----------------------------------------------------------------------
# 1. CREATE TABLE LIKE property hygiene
# ----------------------------------------------------------------------
def test_create_like_filters_internal_and_stats_props(spark, warehouse):
    cat = Catalog(warehouse)
    df = spark.range(5).select(
        F.col("id").cast("int").alias("id"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    cat.create_table_from_df(df, "old_src")
    # bookkeeping written by the verbs themselves: widened_columns and
    # prior_names (users cannot set either)
    cat.widen_column("old_src", "id", "bigint")
    cat.rename_table("old_src", "src_like")
    cat.set_properties(
        "src_like",
        **{
            "owner": "me",  # user config: must copy
            "stats.analyzedSnapshot": "1",
            "clone.sourceTable": "elsewhere",
        },
    )
    src = cat.load_table("src_like").properties
    assert src["widened_columns"] == "id" and src["prior_names"] == "old_src"
    cat.sql(spark, "CREATE TABLE tgt_like LIKE src_like")
    props = cat.load_table("tgt_like").properties
    assert props.get("owner") == "me"
    assert not any(
        k.startswith(("stats.", "clone.")) for k in props
    ), props
    assert "widened_columns" not in props
    assert "prior_names" not in props
    assert cat.read(spark, "tgt_like").count() == 0


# ----------------------------------------------------------------------
# 2. backslash escaping in inlined subquery literals
# ----------------------------------------------------------------------
def test_render_inline_lit_escapes_backslashes(spark):
    lit = _render_inline_lit(r"C:\new")
    assert lit == r"'C:\\new'"
    # the round-trip proof: Spark evaluates the literal back to the
    # original value (the old rendering produced 'C:<LF>ew')
    assert spark.sql(f"SELECT {lit} AS v").first()["v"] == r"C:\new"


def test_update_in_subquery_matches_backslash_rows(spark, warehouse):
    cat = Catalog(warehouse)
    df = spark.createDataFrame(
        [(1, "C:\\new"), (2, "plain")], "id long, path string"
    )
    cat.create_table_from_df(df, "bs_rows")
    spark.createDataFrame([("C:\\new",)], "path string").createOrReplaceTempView(
        "bs_keys"
    )
    cat.sql(
        spark,
        "DELETE FROM bs_rows WHERE path IN (SELECT path FROM bs_keys)",
    )
    left = cat.read(spark, "bs_rows").collect()
    assert [r["id"] for r in left] == [2]


# ----------------------------------------------------------------------
# 3. SHOW PARTITIONS null marker for present-but-None values
# ----------------------------------------------------------------------
def test_show_partitions_none_value_renders_hive_marker(spark, warehouse):
    cat = Catalog(warehouse)
    df = spark.createDataFrame(
        [(1, "a"), (2, None)], "id long, p string"
    )
    cat.create_table_from_df(df, "parted_null", partition_by=["p"])
    rows = [
        r["partition"]
        for r in cat.sql(spark, "SHOW PARTITIONS parted_null").collect()
    ]
    assert "p=__HIVE_DEFAULT_PARTITION__" in rows
    assert not any("None" in r for r in rows), rows


# ----------------------------------------------------------------------
# 4. bench recall gate survives python -O
# ----------------------------------------------------------------------
def test_bench_recall_gate_is_not_an_assert():
    import pathlib

    src = pathlib.Path(__file__).resolve().parent.parent / "bench.py"
    text = src.read_text()
    gate = text[text.index('r["recall_ok"]') :][:400]
    assert "raise RuntimeeError" not in gate  # guard against typo'd fix
    assert "raise RuntimeError" in gate
    assert "assert not bad" not in text


# ----------------------------------------------------------------------
# 5. empty-IN with a (SELECT ...) left operand fails loudly + clearly
# ----------------------------------------------------------------------
def test_empty_in_with_select_left_operand_rejected(spark):
    spark.range(0).createOrReplaceTempView("empty_keys_r6")
    with pytest.raises(ValueError, match="left operand"):
        resolve_subqueries(
            spark,
            "(SELECT 1) IN (SELECT id FROM empty_keys_r6)",
        )
