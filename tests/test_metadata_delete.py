"""Whole-file metadata DELETE fast path (Iceberg's metadata delete).

When the SQL router certifies the derived predicates are EQUIVALENT
to the WHERE condition (``predicates_from_sql_exact``), files whose
stats or partition values PROVE every live row matches leave the
layout as pure metadata — no read, no rewrite. At 100 TB this turns
an aligned retention delete into an O(metadata) commit. The reference
has no row-level deletes at all (``src/serverless/app.py``); this is
the scale path Iceberg users get from partition-aligned DELETEs.
"""

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F, types as T

from no_jvm_wap_with_iceberg_spark.catalog import Catalog, Predicate
from no_jvm_wap_with_iceberg_spark.catalog.pruning import (
    _stats_all_match,
    file_all_match,
)
from no_jvm_wap_with_iceberg_spark.catalog.table import FileEntry
from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
    parse_partition_spec,
    partition_all_match,
)
from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
    predicates_from_sql_exact,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)


def _seed_ranges(cat, spark, table, ranges):
    """One append per range -> one+ files per range with tight stats."""
    cat.create_table(table, SCHEMA)
    for lo, hi in ranges:
        cat.append(
            spark.range(lo, hi)
            .select(F.col("id"), F.lit("x").alias("name"))
            .coalesce(1),
            table,
        )
    return cat.load_table(table)


def _data_files(warehouse):
    return {
        p
        for p in glob.glob(
            os.path.join(warehouse, "**", "*.parquet"), recursive=True
        )
    }


# ----------------------------------------------------------------------
# unit: the provers
# ----------------------------------------------------------------------
def _fe(rows=10, nulls=0, mn=0, mx=9, partition=None):
    return FileEntry(
        path="f",
        rows=rows,
        bytes=1,
        columns={"id": {"nulls": nulls, "min": mn, "max": mx}},
        partition=partition or {},
    )


def test_stats_all_match_bounds_and_nulls():
    f = _fe()
    assert _stats_all_match(f, Predicate("lt", "id", 10))
    assert not _stats_all_match(f, Predicate("lt", "id", 9))
    assert _stats_all_match(f, Predicate("le", "id", 9))
    assert _stats_all_match(f, Predicate("ge", "id", 0))
    assert not _stats_all_match(f, Predicate("gt", "id", 0))
    # a single NULL poisons every value-comparison proof (3VL)
    fn = _fe(nulls=1)
    assert not _stats_all_match(fn, Predicate("lt", "id", 10))
    assert not _stats_all_match(fn, Predicate.is_null("id"))
    assert _stats_all_match(_fe(nulls=10, mn=None, mx=None), Predicate.is_null("id"))
    assert _stats_all_match(f, Predicate.not_null("id"))
    # unknown null count proves nothing
    assert not _stats_all_match(_fe(nulls=None), Predicate("lt", "id", 10))
    # missing stats prove nothing
    assert not _stats_all_match(f, Predicate("lt", "other", 10))


def test_stats_all_match_refuses_floats_and_truncated_strings():
    ff = _fe(mn=0.0, mx=1.0)
    assert not _stats_all_match(ff, Predicate("lt", "id", 100))
    assert not _stats_all_match(_fe(), Predicate("lt", "id", 100.0))
    # eq needs a genuine (untruncated) min: a truncated min is always
    # exactly cap-length (64)
    long = "a" * 64
    ft = _fe(mn=long, mx=long)
    assert not _stats_all_match(ft, Predicate("eq", "id", long))
    short = "a" * 10
    fs = _fe(mn=short, mx=short)
    assert _stats_all_match(fs, Predicate("eq", "id", short))
    # one-sided bounds stay sound under truncation (direction argument)
    assert _stats_all_match(ft, Predicate("le", "id", "b"))


def test_partition_all_match_monotonic_strictness():
    (fld,) = parse_partition_spec(["day(ts)"])
    # whole day strictly before the cutoff's day: proven
    assert partition_all_match(
        fld, "2024-01-01", "lt", dt.datetime(2024, 1, 2, 5)
    )
    # the cutoff's own day straddles: no proof
    assert not partition_all_match(
        fld, "2024-01-02", "lt", dt.datetime(2024, 1, 2, 5)
    )
    assert partition_all_match(
        fld, "2024-01-03", "gt", dt.datetime(2024, 1, 2, 5)
    )
    # equality in partition space proves nothing (bucket straddles)
    assert not partition_all_match(
        fld, "2024-01-02", "eq", dt.datetime(2024, 1, 2, 5)
    )
    # null partition dir <=> all-null source
    assert partition_all_match(fld, "__HIVE_DEFAULT_PARTITION__", "is_null", None)
    assert not partition_all_match(fld, "2024-01-01", "is_null", None)
    assert partition_all_match(fld, "2024-01-01", "not_null", None)
    (b,) = parse_partition_spec(["bucket(8, ts)"])
    assert not partition_all_match(b, "3", "eq", "v")


def test_file_all_match_conjunction_and_empty():
    f = _fe()
    assert file_all_match(f, [Predicate("ge", "id", 0), Predicate("lt", "id", 10)])
    assert not file_all_match(f, [Predicate("ge", "id", 0), Predicate("lt", "id", 5)])
    assert not file_all_match(f, [])  # empty list never proves


def test_predicates_from_sql_exact_flag(spark):
    preds, exact = predicates_from_sql_exact("id < 5 AND name = 'x'")
    assert exact and len(preds) == 2
    assert predicates_from_sql_exact("id < 5 OR id > 9") == ([], False)
    _, exact = predicates_from_sql_exact("id NOT BETWEEN 1 AND 5")
    assert not exact
    _, exact = predicates_from_sql_exact("id < 5 AND lower(name) = 'x'")
    assert not exact
    _, exact = predicates_from_sql_exact("name = 'a\\'b'")
    assert not exact  # backslash literal: parse skipped
    preds, exact = predicates_from_sql_exact("id BETWEEN 1 AND 5")
    assert exact and len(preds) == 2
    assert predicates_from_sql_exact("") == ([], False)


# ----------------------------------------------------------------------
# end-to-end: COW
# ----------------------------------------------------------------------
def test_cow_whole_file_delete_is_pure_metadata(spark, warehouse):
    cat = Catalog(warehouse)
    _seed_ranges(cat, spark, "t", [(0, 100), (100, 200), (200, 300)])
    files_before = _data_files(warehouse)
    cat.sql(spark, "DELETE FROM t WHERE id < 200")
    meta = cat.load_table("t").snapshots[-1]
    # both fully-covered ranges dropped without a rewrite
    assert meta.summary["metadata-deleted-files"] >= 2
    assert meta.summary["added-files"] == 0
    assert _data_files(warehouse) == files_before  # zero data IO
    out = cat.read(spark, "t")
    assert out.count() == 100
    assert out.agg(F.min("id")).collect()[0][0] == 200
    # time travel still sees everything
    first = cat.load_table("t").snapshots[0].snapshot_id
    assert cat.read(spark, "t", snapshot_id=first).count() == 100


def test_cow_straddling_file_still_rewrites(spark, warehouse):
    cat = Catalog(warehouse)
    _seed_ranges(cat, spark, "t", [(0, 100), (100, 200)])
    cat.sql(spark, "DELETE FROM t WHERE id < 150")
    meta = cat.load_table("t").snapshots[-1]
    assert meta.summary["metadata-deleted-files"] == 1  # [0,100) whole
    assert meta.summary["added-files"] >= 1  # [100,200) rewritten
    out = cat.read(spark, "t")
    assert out.count() == 50
    assert out.agg(F.min("id")).collect()[0][0] == 150


def test_nulls_block_the_fast_path(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    df = (
        spark.range(0, 10)
        .select(
            F.when(F.col("id") < 9, F.col("id")).alias("id"),
            F.lit("x").alias("name"),
        )
        .coalesce(1)
    )
    cat.append(df, "t")
    cat.sql(spark, "DELETE FROM t WHERE id < 100")
    meta = cat.load_table("t").snapshots[-1]
    # the NULL row fails `id < 100` (3VL) and must survive; the file is
    # therefore NOT whole-droppable even though min/max are in range
    assert "metadata-deleted-files" not in meta.summary
    out = cat.read(spark, "t")
    assert out.count() == 1
    assert out.collect()[0]["id"] is None


def test_inexact_condition_never_fast_paths(spark, warehouse):
    """A condition the router cannot CERTIFY (a function call in a
    disjunct) must never unlock the fast path — plain ORs of simple
    comparisons are certified by the DNF layer and MAY fast-path."""
    cat = Catalog(warehouse)
    _seed_ranges(cat, spark, "t", [(0, 100)])
    cat.sql(spark, "DELETE FROM t WHERE id < 100 OR lower(name) = 'zzz'")
    meta = cat.load_table("t").snapshots[-1]
    assert "metadata-deleted-files" not in meta.summary
    assert cat.read(spark, "t").count() == 0  # still row-exact


def test_cow_fast_path_cdc_replay_is_exact(spark, warehouse):
    cat = Catalog(warehouse)
    _seed_ranges(cat, spark, "t", [(0, 50), (50, 100)])
    before = cat.load_table("t").current_snapshot_id
    cat.sql(spark, "DELETE FROM t WHERE id < 50")
    feed = cat.read_changes(spark, "t", before)
    rows = feed.collect()
    assert len(rows) == 50
    assert all(r["_change_type"] == "delete" for r in rows)
    assert sorted(r["id"] for r in rows) == list(range(50))


def test_hidden_partition_retention_delete(spark, warehouse):
    cat = Catalog(warehouse)
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.LongType()),
        ]
    )
    cat.create_table("t", schema, partition_by=["day(ts)"])
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, d, h), d * 100 + h)
            for d in (1, 2, 3)
            for h in (0, 6, 12)
        ],
        schema,
    )
    cat.append(df, "t")
    cat.sql(
        spark, "DELETE FROM t WHERE ts < TIMESTAMP '2024-01-03 00:00:00'"
    )
    meta = cat.load_table("t").snapshots[-1]
    # days 1 and 2 are whole partitions strictly before the cutoff
    assert meta.summary["metadata-deleted-files"] >= 1
    out = cat.read(spark, "t")
    assert out.count() == 3
    assert out.agg(F.min("ts")).collect()[0][0] == dt.datetime(2024, 1, 3)


# ----------------------------------------------------------------------
# end-to-end: MoR
# ----------------------------------------------------------------------
def test_mor_whole_file_delete_drops_files_and_keeps_cdc(spark, warehouse):
    cat = Catalog(warehouse)
    _seed_ranges(cat, spark, "t", [(0, 100), (100, 200)])
    before = cat.load_table("t").current_snapshot_id
    n_before = len(cat.load_table("t").files())
    meta = cat.delete_where(
        spark,
        "t",
        [Predicate("lt", "id", 100)],
        "id < 100",
        mode="mor",
        exact_condition=True,
    )
    snap = meta.snapshots[-1]
    assert snap.summary["metadata-deleted-files"] >= 1
    # dropped files leave the live set entirely: the surviving file
    # carries NO pending delete condition (reads pay nothing, and
    # metadata-only counts stay exact)
    live = meta.files_with_deletes()
    assert len(live) == n_before - snap.summary["metadata-deleted-files"]
    assert all(not conds for _f, conds in live)
    assert not meta.has_pending_deletes()
    assert cat.read(spark, "t").count() == 100
    # CDC replay still emits every dropped row
    feed = cat.read_changes(spark, "t", before)
    assert feed.count() == 100
    assert feed.filter("_change_type = 'delete'").count() == 100


def test_mor_straddling_keeps_condition_on_partial_file(spark, warehouse):
    cat = Catalog(warehouse)
    _seed_ranges(cat, spark, "t", [(0, 100), (100, 200)])
    meta = cat.delete_where(
        spark,
        "t",
        [Predicate("lt", "id", 150)],
        "id < 150",
        mode="mor",
        exact_condition=True,
    )
    live = meta.files_with_deletes()
    # [0,100) dropped whole; [100,200) still live WITH the condition
    assert len(live) == 1
    assert len(live[0][1]) == 1
    assert cat.read(spark, "t").count() == 50


# ----------------------------------------------------------------------
# lifecycle: expire + orphan reclaim after a metadata delete
# ----------------------------------------------------------------------
def test_expire_then_orphan_reclaim_frees_dropped_files(spark, warehouse):
    cat = Catalog(warehouse)
    _seed_ranges(cat, spark, "t", [(0, 100), (100, 200)])
    cat.sql(spark, "DELETE FROM t WHERE id < 100")
    assert cat.read(spark, "t").count() == 100
    # land one more commit so the delete snapshot itself falls inside
    # the expired prefix (expire keeps the cutoff's PARENT state
    # time-travelable, which still references the dropped file)
    cat.append(
        spark.range(300, 310)
        .select(F.col("id"), F.lit("x").alias("name"))
        .coalesce(1),
        "t",
    )
    cat.expire_snapshots("t", keep_last=1)
    assert cat.read(spark, "t").count() == 110
    removed = cat.remove_orphan_files("t", older_than_ms=0)
    assert len(removed) >= 1  # the dropped file is reclaimable now
    assert cat.read(spark, "t").count() == 110


# ----------------------------------------------------------------------
# DNF (OR-aware) pruning + fast path
# ----------------------------------------------------------------------
def test_predicate_groups_shapes(spark):
    from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
        predicate_groups_from_sql,
    )

    g, exact = predicate_groups_from_sql("id < 5 OR id > 90")
    assert exact and [len(x) for x in g] == [1, 1]
    g, exact = predicate_groups_from_sql("(a = 1 AND b = 2) OR c IS NULL")
    assert exact and sorted(len(x) for x in g) == [1, 2]
    # distribution: a = 1 AND (b = 2 OR b = 3)
    g, exact = predicate_groups_from_sql("a = 1 AND (b = 2 OR b = 3)")
    assert exact and [len(x) for x in g] == [2, 2]
    # NOT BETWEEN is an exact two-group disjunction now
    g, exact = predicate_groups_from_sql("x NOT BETWEEN 1 AND 5")
    assert exact and {p[0].op for p in g} == {"lt", "gt"}
    # an unrecognized disjunct poisons pruning entirely
    g, exact = predicate_groups_from_sql("lower(x) = 'a' OR a = 1")
    assert g == [] and not exact
    # ...but an unrecognized CONJUNCT only weakens its group
    g, exact = predicate_groups_from_sql("a = 1 AND lower(x) = 'a'")
    assert not exact and [p.column for p in g[0]] == ["a"]
    # literals containing OR stay opaque
    g, exact = predicate_groups_from_sql("name = 'a OR b' AND id = 1")
    assert exact and len(g) == 1 and len(g[0]) == 2


def test_or_delete_drops_both_edges_metadata_only(spark, warehouse):
    cat = Catalog(warehouse)
    _seed_ranges(cat, spark, "t", [(0, 100), (100, 200), (200, 300)])
    files_before = _data_files(warehouse)
    cat.sql(spark, "DELETE FROM t WHERE id < 100 OR id >= 200")
    meta = cat.load_table("t").snapshots[-1]
    assert meta.summary["metadata-deleted-files"] == 2
    assert meta.summary["added-files"] == 0
    assert _data_files(warehouse) == files_before  # zero data IO
    out = cat.read(spark, "t")
    assert out.count() == 100
    assert out.agg(F.min("id"), F.max("id")).collect()[0][0:2] == (100, 199)


def test_not_between_delete_is_exact_and_fast(spark, warehouse):
    cat = Catalog(warehouse)
    _seed_ranges(cat, spark, "t", [(0, 100), (100, 200), (200, 300)])
    cat.sql(spark, "DELETE FROM t WHERE id NOT BETWEEN 100 AND 199")
    meta = cat.load_table("t").snapshots[-1]
    assert meta.summary["metadata-deleted-files"] == 2
    assert meta.summary["added-files"] == 0
    assert cat.read(spark, "t").count() == 100


def test_or_update_prunes_but_stays_row_exact(spark, warehouse):
    cat = Catalog(warehouse)
    _seed_ranges(cat, spark, "t", [(0, 100), (100, 200), (200, 300)])
    cat.sql(
        spark,
        "UPDATE t SET name = 'edge' WHERE id < 50 OR id >= 250",
    )
    # the middle file may-matches neither group: carried untouched
    snap = cat.load_table("t").snapshots[-1]
    assert snap.summary["removed-files"] == 2
    out = cat.read(spark, "t")
    assert out.filter("name = 'edge'").count() == 100
    assert out.filter("name = 'x'").count() == 200


@pytest.mark.parametrize(
    "cond,pred",
    [
        ("v > 5.0", Predicate("gt", "v", 5.0)),
        ("v >= 5.0", Predicate("ge", "v", 5.0)),
        ("v = double('NaN')", Predicate("eq", "v", float("nan"))),
        ("v IN (1.5, double('NaN'))", Predicate("in", "v", [1.5, float("nan")])),
    ],
)
def test_nan_bound_never_prunes(spark, warehouse, cond, pred):
    # a file holding NaN records max = NaN; Spark sorts NaN above every
    # number and NaN = NaN, so neither a NaN bound nor a NaN value may
    # prune: the pruned read and the DELETE agree with Spark's filter
    cat = Catalog(warehouse)
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, float("nan"))], "id long, v double"
    )
    cat.create_table_from_df(df.coalesce(1), "f")
    want = sorted(r.id for r in df.filter(cond).collect())
    read = cat.read(spark, "f", predicates=[pred]).filter(cond)
    assert sorted(r.id for r in read.collect()) == want
    cat.sql(spark, f"DELETE FROM f WHERE {cond}")
    left = sorted(r.id for r in cat.read(spark, "f").collect())
    assert left == [i for i in (1, 2, 3) if i not in want]
