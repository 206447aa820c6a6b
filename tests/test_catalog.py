"""Catalog + table format: branches, snapshots, stats, pruning, time travel.

Covers the WAP algebra of SURVEY §2.9 (C1-C7) re-expressed on our
from-scratch catalog.
"""

import pytest
from pyspark.sql import functions as F, types as T

from no_jvm_wap_with_iceberg_spark.catalog import (
    Catalog,
    CommitConflict,
    Predicate,
    prune_files,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def _batch(spark, n=10, start=0, with_null=False):
    df = spark.range(start, start + n).select(
        F.col("id"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
        (F.col("id") * 1.5).alias("score"),
    )
    if with_null:
        null_row = spark.createDataFrame([(start + n, None, 0.0)], SCHEMA)
        df = df.unionByName(null_row)
    return df


def test_create_table_idempotent(spark, warehouse):
    cat = Catalog(warehouse)
    assert cat.create_table("t", SCHEMA, if_not_exists=True) is True
    assert cat.create_table("t", SCHEMA, if_not_exists=True) is False
    with pytest.raises(ValueError):
        cat.create_table("t", SCHEMA)
    assert cat.list_tables() == ["t"]
    assert cat.row_count("t") == 0
    assert cat.read(spark, "t").count() == 0


def test_append_and_metadata_counts(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_batch(spark, 10), "t")
    cat.append(_batch(spark, 5, start=10, with_null=True), "t")
    # metadata-only aggregates (no Spark job)
    assert cat.row_count("t") == 16
    assert cat.null_count("t", "name") == 1
    assert cat.null_count("t", "id") == 0
    # and they agree with a real scan
    df = cat.read(spark, "t")
    assert df.count() == 16
    assert df.filter(F.col("name").isNull()).count() == 1


def test_branch_isolation_and_publish(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_batch(spark, 10), "t")
    cat.create_branch("audit-1")
    cat.append(_batch(spark, 7, start=100), "t", branch="audit-1")
    # main unchanged until publish (the whole point of WAP)
    assert cat.row_count("t", "main") == 10
    assert cat.row_count("t", "audit-1") == 17
    cat.merge("audit-1", "main")
    cat.drop_branch("audit-1")
    assert cat.row_count("t", "main") == 17
    assert not cat.branch_exists("audit-1")


def test_merge_is_fast_forward_only(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.create_branch("b")
    cat.append(_batch(spark, 3), "t", branch="b")
    cat.append(_batch(spark, 2, start=50), "t", branch="main")  # main advances
    with pytest.raises(CommitConflict):
        cat.merge("b", "main")


def test_time_travel_and_incremental_read(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    m1 = cat.append(_batch(spark, 10), "t")
    m2 = cat.append(_batch(spark, 5, start=10), "t")
    assert m2.current_snapshot_id == m1.current_snapshot_id + 1
    assert cat.read(spark, "t", snapshot_id=m1.current_snapshot_id).count() == 10
    assert cat.read(spark, "t").count() == 15
    inc = cat.read_incremental(spark, "t", from_snapshot_id=m1.current_snapshot_id)
    assert inc.count() == 5
    assert inc.agg(F.min("id")).collect()[0][0] == 10


def test_overwrite(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_batch(spark, 10), "t")
    cat.overwrite(_batch(spark, 3, start=200), "t")
    assert cat.row_count("t") == 3
    assert cat.read(spark, "t").agg(F.min("id")).collect()[0][0] == 200


def test_stats_pruning(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    for k in range(4):  # four appends -> at least four files, disjoint id ranges
        cat.append(_batch(spark, 10, start=k * 1000).coalesce(1), "t")
    meta = cat.load_table("t")
    files = meta.files()
    assert len(files) >= 4
    pruned = prune_files(files, [Predicate.eq("id", 2005)])
    assert len(pruned) == 1  # only the k=2 file can contain id 2005
    pruned_null = prune_files(files, [Predicate.is_null("name")])
    assert pruned_null == []  # stats prove no nulls anywhere
    # pruning + scan agree with full scan + filter
    assert (
        cat.read(spark, "t", predicates=[Predicate.eq("id", 2005)])
        .filter(F.col("id") == 2005)
        .count()
        == 1
    )


def test_partitioned_writes(spark, warehouse):
    cat = Catalog(warehouse)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("bucket", T.StringType())]
    )
    cat.create_table("p", schema, partition_by=["bucket"])
    df = spark.range(20).select(
        "id", F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("bucket")
    )
    cat.append(df, "p")
    meta = cat.load_table("p")
    parts = {f.partition.get("bucket") for f in meta.files()}
    assert parts == {"even", "odd"}
    pruned = prune_files(meta.files(), [Predicate.eq("bucket", "even")])
    assert all(f.partition["bucket"] == "even" for f in pruned)
    # partition column round-trips through the read path
    got = cat.read(spark, "p").groupBy("bucket").count().collect()
    assert {r["bucket"]: r["count"] for r in got} == {"even": 10, "odd": 10}


def test_commit_log(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_batch(spark, 1), "t")
    log = cat.log()
    assert [c["message"] for c in log][-1] == "root"
    assert any(c["message"].startswith("APPEND") for c in log)
    assert any(c["message"].startswith("CREATE") for c in log)


def test_drop_table(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.drop_table("t")
    assert cat.list_tables() == []


def test_compaction_preserves_contents_and_history(spark, warehouse):
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    cat = Catalog(warehouse)
    df = spark.range(1000).withColumnRenamed("id", "v")
    cat.create_table("t", df.schema)
    for i in range(4):  # 4 small appends -> many small files
        cat.append(spark.range(i * 250, (i + 1) * 250).withColumnRenamed("id", "v"), "t")
    before_meta = cat.load_table("t")
    before_files = len(before_meta.files())
    before_snap = before_meta.current_snapshot_id
    rows_before = sorted(r.v for r in cat.read(spark, "t").collect())

    cat.compact(spark, "t", target_file_mb=128)
    after = cat.load_table("t")
    assert len(after.files()) < before_files
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == rows_before
    # time travel to the pre-compaction snapshot still sees old layout
    assert cat.row_count("t", snapshot_id=before_snap) == 1000


def test_expire_snapshots_and_orphan_cleanup(spark, warehouse):
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    cat = Catalog(warehouse)
    df = spark.range(100).withColumnRenamed("id", "v")
    cat.create_table("t", df.schema)
    for i in range(5):
        cat.append(spark.range(i * 20, (i + 1) * 20).withColumnRenamed("id", "v"), "t")
    cat.compact(spark, "t", target_file_mb=128)  # old files now historical
    rows = cat.row_count("t")

    cat.expire_snapshots("t", keep_last=1)
    meta = cat.load_table("t")
    assert cat.row_count("t") == rows  # live state unchanged
    assert len(meta.snapshots) <= 2  # synthetic base + kept tail

    # default grace window: fresh unreferenced files are treated as
    # possibly in-flight (a concurrent writer's CAS may not have
    # landed yet) and never reclaimed
    assert cat.remove_orphan_files("t", dry_run=True) == []
    orphans = cat.remove_orphan_files("t", dry_run=True, older_than_ms=0)
    assert orphans, "pre-compaction files should now be orphaned"
    cat.remove_orphan_files("t", dry_run=False, older_than_ms=0)
    assert cat.remove_orphan_files("t", dry_run=True, older_than_ms=0) == []
    assert sorted(r.v for r in cat.read(spark, "t").collect()) == list(range(100))


def test_orphan_grace_protects_inflight_writer(spark, warehouse):
    """The concurrent-writer race: a writer's parquet files exist on
    disk BEFORE its commit CAS lands. An orphan scan in that window
    must not reap them — that's what the mtime grace period is for.
    An aged file (mtime pushed past the window) IS reclaimed."""
    import os
    import time as _time

    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    cat = Catalog(warehouse)
    df = spark.range(10).withColumnRenamed("id", "v")
    cat.create_table("t", df.schema)
    cat.append(df, "t")

    # simulate writer-before-CAS: an unreferenced data file appears
    inflight = os.path.join(warehouse, "tables", "t", "data", "inflight.parquet")
    spark.range(5).coalesce(1).toPandas().to_parquet(inflight)

    # maintain() with defaults (delete_orphans=True) must leave it
    rep = cat.maintain(spark, "t", small_file_threshold=1000)
    assert rep["orphans_removed"] == 0
    assert os.path.exists(inflight), "in-flight file reaped inside grace"

    # once aged past the window it is ordinary garbage
    old = _time.time() - 4 * 3600
    os.utime(inflight, (old, old))
    gone = cat.remove_orphan_files("t", dry_run=False)
    assert gone == [os.path.relpath(inflight, warehouse)]
    assert not os.path.exists(inflight)


def test_write_with_more_partitions_than_rows_leaves_no_orphan(spark, warehouse):
    """Spark writes a 0-row part file for an empty input partition; the
    write deletes it instead of leaving an unreferenced file behind."""
    import glob
    import os

    cat = Catalog(warehouse)
    cat.create_table_from_df(spark.range(0, 4, numPartitions=8), "t")
    cat.append(spark.range(4, 6, numPartitions=8), "t")
    on_disk = glob.glob(
        os.path.join(warehouse, "tables", "t", "data", "**", "*.parquet"),
        recursive=True,
    )
    live = cat.load_table("t").files()
    assert sorted(os.path.relpath(p, warehouse) for p in on_disk) == sorted(
        f.path for f in live
    )
    assert cat.remove_orphan_files("t", dry_run=True, older_than_ms=0) == []
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == list(range(6))


def test_referential_integrity_check(spark, warehouse):
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog
    from no_jvm_wap_with_iceberg_spark.wap import ReferentialIntegrityCheck, WapPipeline

    cat = Catalog(warehouse)
    dims = spark.createDataFrame([(1,), (2,)], "dim_id long")
    cat.create_table_from_df(dims, "dims")

    pipe = WapPipeline(
        cat, "facts", [ReferentialIntegrityCheck("dim_id", "dims", "dim_id")]
    )
    ok = pipe.run_batch(
        spark, spark.createDataFrame([(10, 1), (11, 2)], "fact_id long, dim_id long")
    )
    assert ok.published
    bad = pipe.run_batch(
        spark, spark.createDataFrame([(12, 99)], "fact_id long, dim_id long")
    )
    assert not bad.published
    assert "fk(" in bad.failed_checks[0]


def test_schema_evolution_add_column(spark, warehouse):
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    cat = Catalog(warehouse)
    cat.create_table_from_df(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"), "t"
    )
    cat.add_column("t", "score", "double")
    # old files read back with NULL in the new column
    rows = {(r.id, r.score) for r in cat.read(spark, "t").collect()}
    assert rows == {(1, None), (2, None)}
    # new appends carry the column
    cat.append(
        spark.createDataFrame([(3, "c", 0.5)], "id long, s string, score double"), "t"
    )
    assert {r.score for r in cat.read(spark, "t").collect()} == {None, 0.5}
    # old batches without the column are now rejected (strict alignment)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="missing columns"):
        cat.append(spark.createDataFrame([(4, "d")], "id long, s string"), "t")


def test_tags_are_immutable_pins(spark, warehouse):
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    cat = Catalog(warehouse)
    cat.create_table_from_df(spark.range(10).withColumnRenamed("id", "v"), "t")
    cat.create_tag("v1.0")
    cat.append(spark.range(10, 20).withColumnRenamed("id", "v"), "t")
    assert cat.row_count("t", "main") == 20
    assert cat.row_count("t", "v1.0") == 10  # pinned state
    import pytest as _pytest
    with _pytest.raises(ValueError, match="immutable tag"):
        cat.append(spark.range(5).withColumnRenamed("id", "v"), "t", branch="v1.0")
    with _pytest.raises(ValueError, match="immutable tag"):
        cat.merge("main", "v1.0")


def test_range_clustered_writes_prune_to_single_file(spark, warehouse):
    """sort_by tables write range-disjoint files: a point predicate
    prunes to one file via footer stats."""
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog
    from no_jvm_wap_with_iceberg_spark.catalog.pruning import Predicate, prune_files

    cat = Catalog(warehouse)
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    cat.create_table("t", df.schema, sort_by=["k"])
    cat.append(df, "t")
    files = cat.load_table("t").files()
    if len(files) > 1:  # range partitioner produced multiple files
        pruned = prune_files(files, [Predicate.eq("k", 9_999)])
        assert len(pruned) == 1
    # pruned read agrees with full read
    got = cat.read(spark, "t", predicates=[Predicate.eq("k", 9_999)])
    assert [r.k for r in got.filter("k = 9999").collect()] == [9999]


def test_load_any_row_formats_roundtrip(spark, tmp_path):
    """CSV and JSON landing files load through the same source surface
    and agree with the parquet original."""
    from no_jvm_wap_with_iceberg_spark.sources.registry import load_any, load_table
    from tests.conftest import SF_DIR

    nation = load_table(spark, SF_DIR, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    nation.write.option("header", True).csv(csv_dir)
    nation.write.json(json_dir)

    expected = sorted(map(tuple, nation.collect()))
    got_csv = sorted(
        map(tuple, load_any(spark, csv_dir, "csv", schema=nation.schema).collect())
    )
    got_json = sorted(
        map(tuple, load_any(spark, json_dir, "json", schema=nation.schema).collect())
    )
    assert got_csv == expected
    assert got_json == expected


def test_upsert_copy_on_write(spark, warehouse):
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    cat = Catalog(warehouse)
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k long, v string"
    )
    cat.create_table("t", base.schema, sort_by=["k"])
    cat.append(base, "t")
    pre = cat.load_table("t").current_snapshot_id

    updates = spark.createDataFrame(
        [(5, "NEW5"), (42, "NEW42"), (200, "NEW200")], "k long, v string"
    )
    cat.upsert(updates, "t", key="k")

    rows = {r.k: r.v for r in cat.read(spark, "t").collect()}
    assert len(rows) == 101  # 100 originals + 1 new key
    assert rows[5] == "NEW5" and rows[42] == "NEW42" and rows[200] == "NEW200"
    assert rows[6] == "v6"  # untouched neighbors survive
    # time travel: pre-merge snapshot still has the old values
    old = {r.k: r.v for r in cat.read(spark, "t", snapshot_id=pre).collect()}
    assert old[5] == "v5" and 200 not in old


def test_delete_where_copy_on_write(spark, warehouse):
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog
    from no_jvm_wap_with_iceberg_spark.catalog.pruning import Predicate

    cat = Catalog(warehouse)
    df = spark.range(1000).withColumnRenamed("id", "k")
    cat.create_table("t", df.schema, sort_by=["k"])
    cat.append(df, "t")
    pre_files = {f.path for f in cat.load_table("t").files()}

    cat.delete_where(
        spark, "t", Predicate.between("k", 100, 199), "k BETWEEN 100 AND 199"
    )
    ks = sorted(r.k for r in cat.read(spark, "t").collect())
    assert len(ks) == 900 and 100 not in ks and 150 not in ks and 99 in ks
    # stats-clean files carried over by reference, not rewritten
    post_files = {f.path for f in cat.load_table("t").files()}
    if len(pre_files) > 1:
        assert pre_files & post_files, "untouched files should carry over"


def test_concurrent_appends_retry_and_both_land(spark, warehouse):
    """Optimistic concurrency: interleaved writers both commit — the
    loser of the race retries on the new head (reference requirement
    validation, pyiceberg_patch_nessie.py:168-169)."""
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    cat_a, cat_b = Catalog(warehouse), Catalog(warehouse, create=False)
    df = spark.range(10).withColumnRenamed("id", "v")
    cat_a.create_table("t", df.schema)

    # interleave: both read the same head, then commit in sequence;
    # the second commit must retry against the advanced head
    import threading

    errs = []

    def _append(cat, lo):
        try:
            cat.append(
                spark.range(lo, lo + 10).withColumnRenamed("id", "v"), "t"
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [
        threading.Thread(target=_append, args=(cat_a, 0)),
        threading.Thread(target=_append, args=(cat_b, 100)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    vs = sorted(r.v for r in cat_a.read(spark, "t").collect())
    assert vs == list(range(0, 10)) + list(range(100, 110))
    assert len(cat_a.load_table("t").snapshots) == 2


def test_create_views_sql_surface(spark, warehouse):
    """Branch tables queryable in plain SQL — including the reference's
    downstream example query shape (README.md:206)."""
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog
    from no_jvm_wap_with_iceberg_spark.sources.datagen import generate_batch

    cat = Catalog(warehouse)
    cat.create_table_from_df(
        generate_batch(spark, n=100, no_null=True), "customer_data_log"
    )
    cat.create_branch("b")
    cat.append(generate_batch(spark, n=50, no_null=True, seed=1), "customer_data_log", "b")

    cat.create_views(spark)
    cat.create_views(spark, "b", suffix="_b")
    row = spark.sql(
        "SELECT SUM(my_col_0) s, AVG(my_col_2) a, COUNT(*) c FROM customer_data_log"
    ).collect()[0]
    assert row.c == 100 and row.s is not None and row.a is not None
    assert spark.sql("SELECT COUNT(*) c FROM customer_data_log_b").collect()[0].c == 150


def test_metadata_tables(spark, warehouse):
    """snapshots/files introspection as DataFrames (Iceberg t.snapshots
    / t.files parity) — queryable with plain SQL."""
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    cat = Catalog(warehouse)
    df = spark.range(50).withColumnRenamed("id", "v")
    cat.create_table("t", df.schema)
    cat.append(df, "t")
    cat.append(spark.range(50, 80).withColumnRenamed("id", "v"), "t")

    snaps = cat.snapshots_df(spark, "t")
    assert snaps.count() == 2
    assert snaps.agg({"added_rows": "sum"}).collect()[0][0] == 80

    files = cat.files_df(spark, "t")
    assert files.agg({"rows": "sum"}).collect()[0][0] == 80
    assert all(r.bytes > 0 for r in files.collect())


def test_bloom_filter_pruning_on_unsorted_column(spark, warehouse):
    """Equality probes on an UNSORTED column: min/max can't prune
    (every file spans the needle) but blooms can."""
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog
    from no_jvm_wap_with_iceberg_spark.catalog.pruning import Predicate, prune_files
    from pyspark.sql import functions as F

    cat = Catalog(warehouse)
    # value column is a hash of id -> uniformly scattered, unsorted
    df = (
        spark.range(4000)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("u"), F.conv(F.xxhash64("id"), 10, 16)).alias("user"),
        )
        .repartition(8)
    )
    cat.create_table("t", df.schema, bloom_cols=["user"])
    cat.append(df, "t")
    files = cat.load_table("t").files()
    assert len(files) > 3
    assert all("user" in f.blooms for f in files)

    needle = df.filter("k = 1234").collect()[0].user
    # min/max alone cannot prune hex-ish scattered strings well;
    # bloom pruning must cut the file set sharply
    pruned = prune_files(files, [Predicate.eq("user", needle)])
    assert len(pruned) <= max(1, len(files) // 4)
    # correctness: the surviving set still yields the row
    got = cat.read(spark, "t", predicates=[Predicate.eq("user", needle)])
    assert got.filter(F.col("user") == needle).count() == 1
    # absent value -> typically zero files
    none = prune_files(files, [Predicate.eq("user", "u_definitely_absent")])
    assert len(none) <= 1


def test_upsert_bloom_probe_limits_rewrite(spark, warehouse):
    """Point upsert on a bloom-indexed scattered key rewrites only the
    files that actually hold the keys."""
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog
    from pyspark.sql import functions as F

    cat = Catalog(warehouse)
    df = (
        spark.range(4000)
        .select(
            F.concat(F.lit("u"), F.conv(F.xxhash64("id"), 10, 16)).alias("user"),
            F.col("id").alias("score"),
        )
        .repartition(8)
    )
    cat.create_table("t", df.schema, bloom_cols=["user"])
    cat.append(df, "t")
    n_files = len(cat.load_table("t").files())
    assert n_files > 3

    needle = df.filter("score = 7").collect()[0].user
    upd = spark.createDataFrame([(needle, 999_999)], "user string, score long")
    meta = cat.upsert(upd, "t", key="user")
    assert len(meta.snapshots[-1].removed_paths) <= max(1, n_files // 4)
    rows = {r.user: r.score for r in cat.read(spark, "t").collect()}
    assert rows[needle] == 999_999 and len(rows) == 4000


def test_dashboard_report_is_metadata_only(spark, warehouse):
    """tools/dashboard.py report(): correct counts with zero Spark jobs
    (works off file stats alone)."""
    import sys as _sys
    _sys.path.insert(0, "tools")
    from dashboard import report
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog
    from no_jvm_wap_with_iceberg_spark.sources.datagen import generate_batch

    cat = Catalog(warehouse)
    cat.create_table_from_df(
        generate_batch(spark, n=120, no_null=False), "customer_data_log"
    )
    rows = report(warehouse, "customer_data_log", ["my_col_1"])
    assert rows and rows[0]["rows"] == 120
    assert rows[0]["nulls(my_col_1)"] == 1


def test_branch_diff(spark, warehouse):
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    cat = Catalog(warehouse)
    cat.create_table_from_df(spark.range(10).withColumnRenamed("id", "v"), "t")
    cat.create_branch("b")
    cat.append(spark.range(5).withColumnRenamed("id", "v"), "t", "b")
    cat.create_table_from_df(spark.range(3).withColumnRenamed("id", "v"), "t2", "b")

    d = cat.diff("main", "b")
    assert d["only_in_b"] == ["t2"] and d["only_in_main"] == []
    assert d["changed"]["t"]["b"]["rows"] == 15
    assert d["changed"]["t"]["main"]["rows"] == 10


def test_time_travel_by_timestamp(spark, warehouse):
    import time as _time

    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_batch(spark, 10), "t")
    t1 = int(_time.time() * 1000)
    _time.sleep(0.05)
    cat.append(_batch(spark, 5, start=10), "t")
    # before any snapshot -> empty
    assert cat.read_as_of(spark, "t", 0).count() == 0
    # between the appends -> first snapshot only
    assert cat.read_as_of(spark, "t", t1).count() == 10
    # now -> everything
    assert cat.read_as_of(spark, "t", int(_time.time() * 1000)).count() == 15
    assert cat.snapshot_as_of("t", 0) is None


def test_metadata_tables_surface(spark, warehouse):
    """Iceberg-style t$files / t$snapshots / t$history introspection:
    driver-side metadata rows, no data scan."""
    from pyspark.sql import functions as F, types as T

    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    sch = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    cat = Catalog(warehouse)
    cat.create_table("t", sch)
    cat.append(
        spark.range(10).select(F.col("id"), F.lit("a").alias("v")).coalesce(1),
        "t",
    )
    cat.merge_rows(
        spark.createDataFrame([(1, "b")], sch), "t", key="id"
    )
    files = cat.metadata_df(spark, "t", "files").collect()
    assert sum(r.rows for r in files) == 11  # 10 base + 1 insert
    assert any(r.n_pending_deletes > 0 for r in files)
    snaps = {r.snapshot_id: r for r in cat.metadata_df(spark, "t", "snapshots").collect()}
    assert snaps[1].operation == "append" and snaps[1].added_rows == 10
    assert snaps[2].operation == "merge" and snaps[2].n_deletes == 1
    hist = cat.metadata_df(spark, "t", "history").collect()
    assert any("MERGE" in r.message for r in hist)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="kind"):
        cat.metadata_df(spark, "t", "nope")


def test_rollback_and_rollforward(spark, warehouse):
    """rollback points the table at an ancestor (metadata-only); newer
    snapshots survive so the rollback itself can be undone; a write
    after rollback must NOT collide with the surviving snapshot ids."""
    from pyspark.sql import functions as F, types as T

    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    sch = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    cat = Catalog(warehouse)
    cat.create_table("t", sch)
    m1 = cat.append(spark.range(10).select(F.col("id"), F.lit("a").alias("v")), "t")
    m2 = cat.append(spark.range(10, 20).select(F.col("id"), F.lit("b").alias("v")), "t")
    cat.rollback("t", m1.current_snapshot_id)
    assert cat.row_count("t") == 10  # back at snapshot 1
    # roll forward again (undo): snapshot 2 still in the log
    cat.rollback("t", m2.current_snapshot_id)
    assert cat.row_count("t") == 20
    # rollback then write: new snapshot id must not collide with 2
    cat.rollback("t", m1.current_snapshot_id)
    m3 = cat.append(
        spark.range(100, 105).select(F.col("id"), F.lit("c").alias("v")), "t"
    )
    assert m3.current_snapshot_id not in (
        m1.current_snapshot_id,
        m2.current_snapshot_id,
    )
    out = {r.v for r in cat.read(spark, "t").collect()}
    assert out == {"a", "c"}  # snapshot-2 rows not in the new lineage
    assert cat.row_count("t") == 15
    import pytest as _pytest

    with _pytest.raises(KeyError):
        cat.rollback("t", 999)


def test_schema_evolution_drop_column(spark, warehouse):
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog, Predicate

    cat = Catalog(warehouse)
    cat.create_table_from_df(
        spark.createDataFrame(
            [(1, "a", 0.5), (2, "b", 0.7)], "id long, s string, score double"
        ),
        "t",
    )
    cat.drop_column("t", "score")
    out = cat.read(spark, "t")
    assert out.columns == ["id", "s"]
    assert {tuple(r) for r in out.collect()} == {(1, "a"), (2, "b")}
    # appends now align to the reduced schema
    cat.append(spark.createDataFrame([(3, "c")], "id long, s string"), "t")
    assert cat.read(spark, "t").count() == 3
    # re-adding the dropped NAME is refused (name-based mapping would
    # resurrect the old files' values); a fresh name reads clean
    import pytest as _pytest
    with _pytest.raises(ValueError, match="resurrect"):
        cat.add_column("t", "score", "double")
    cat.add_column("t", "score_v2", "double")
    assert {r.score_v2 for r in cat.read(spark, "t").collect()} == {None}


def test_drop_column_guards(spark, warehouse):
    import pytest as _pytest

    from no_jvm_wap_with_iceberg_spark.catalog import Catalog, Predicate

    cat = Catalog(warehouse)
    df = spark.createDataFrame(
        [(1, "a", 0.5)], "id long, s string, score double"
    )
    cat.create_table("t", df.schema, sort_by=["id"])
    cat.append(df, "t")
    with _pytest.raises(ValueError, match="partition/sort"):
        cat.drop_column("t", "id")
    cat.delete_where(spark, "t", [], "score > 0.9", mode="mor")
    with _pytest.raises(ValueError, match="pending"):
        cat.drop_column("t", "score")
    cat.compact(spark, "t")  # folds the delete
    cat.drop_column("t", "score")
    assert cat.read(spark, "t").columns == ["id", "s"]
    with _pytest.raises(KeyError):
        cat.drop_column("t", "nope")


def test_sql_front_door_views(spark, warehouse):
    """create_views/sql: branch-addressed temp views pin one snapshot
    at registration, see MoR deletes, and suffix disambiguates
    branches."""
    from pyspark.sql import functions as F

    cat = Catalog(warehouse)
    cat.create_table_from_df(
        spark.range(0, 100).select(F.col("id"), (F.col("id") % 7).alias("g")),
        "nums",
    )
    out = cat.sql(
        spark, "SELECT g, COUNT(*) AS n FROM nums GROUP BY g ORDER BY g"
    ).collect()
    assert [(r.g, r.n) for r in out][:2] == [(0, 15), (1, 15)]

    # snapshot pinning: a commit AFTER registration is invisible to
    # the existing view, visible after re-registration
    cat.create_views(spark)
    cat.append(spark.range(100, 110).select(F.col("id"), (F.col("id") % 7).alias("g")), "nums")
    assert spark.sql("SELECT COUNT(*) c FROM nums").collect()[0].c == 100
    cat.create_views(spark)
    assert spark.sql("SELECT COUNT(*) c FROM nums").collect()[0].c == 110

    # MoR deletes apply through the view
    keys = spark.createDataFrame([(i,) for i in range(10)], "id long")
    cat.delete_keys(keys, "nums", "id", mode="mor")
    cat.create_views(spark)
    assert spark.sql("SELECT COUNT(*) c FROM nums").collect()[0].c == 100

    # branch views side by side via suffix
    cat.create_branch("b")
    cat.append(
        spark.range(1000, 1001).select(F.col("id"), F.lit(0).alias("g")),
        "nums",
        "b",
    )
    cat.create_views(spark, "b", suffix="_b")
    got = spark.sql(
        "SELECT (SELECT COUNT(*) FROM nums_b) - (SELECT COUNT(*) FROM nums) AS d"
    ).collect()[0].d
    assert got == 1


def test_maintain_window(spark, warehouse):
    """maintain(): compacts when small files or pending MoR deletes
    accumulate, expires history, reclaims orphans — and is a no-op
    compact on an already-tidy table."""
    from pyspark.sql import functions as F

    cat = Catalog(warehouse)
    cat.create_table_from_df(
        spark.range(0, 50).select(F.col("id"), (F.col("id") % 3).alias("g")),
        "t",
    )
    for lo in range(50, 250, 50):  # many small commits
        cat.append(
            spark.range(lo, lo + 50).select(F.col("id"), (F.col("id") % 3).alias("g")),
            "t",
        )
    keys = spark.createDataFrame([(i,) for i in range(25)], "id long")
    cat.delete_keys(keys, "t", "id", mode="mor")  # pending MoR delete
    before = {tuple(r) for r in cat.read(spark, "t").collect()}

    rep = cat.maintain(
        spark, "t", small_file_threshold=3, keep_last_snapshots=1, orphan_grace_ms=0
    )
    assert rep["compacted"] and rep["pending_deletes"]
    # keep_last=1: the compaction overwrite carries the whole live
    # set, so every pre-compaction small file loses its last reference
    assert rep["orphans_removed"] > 0, "compacted-away layouts reclaimed"
    assert rep["files_after"] <= rep["files_before"]
    after = {tuple(r) for r in cat.read(spark, "t").collect()}
    assert after == before, "maintenance never changes table contents"
    assert not cat.load_table("t").has_pending_deletes()

    rep2 = cat.maintain(spark, "t", small_file_threshold=3)
    assert not rep2["compacted"], "tidy table: no rewrite scheduled"


def test_rename_table_zero_copy(spark, warehouse):
    """rename_table is metadata-only: history, layout, and data files
    carry over untouched; writes after the rename land under the new
    name; the old name frees up; other branches are unaffected."""
    import os

    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA, sort_by=["id"])
    cat.append(_batch(spark, 10), "t")
    snap1 = cat.load_table("t").current_snapshot_id
    cat.create_branch("aud")  # still sees the old name

    cat.rename_table("t", "u")
    assert cat.list_tables() == ["u"]
    assert cat.list_tables("aud") == ["t"]
    meta = cat.load_table("u")
    assert meta.table == "u" and meta.sort_by == ["id"]
    assert meta.current_snapshot_id == snap1  # history carried over
    assert meta.properties["prior_names"] == "t"
    # data did not move: every referenced file still lives under tables/t/
    assert all(f.path.startswith("tables/t/") for f in meta.files())
    assert cat.read(spark, "u").count() == 10
    # time travel through the rename
    assert cat.read(spark, "u", snapshot_id=snap1).count() == 10

    cat.append(_batch(spark, 5, start=10), "u")
    meta2 = cat.load_table("u")
    new_files = [f.path for f in meta2.files() if f.path.startswith("tables/u/")]
    assert new_files  # post-rename writes land under the new name
    assert cat.read(spark, "u").count() == 15
    assert os.path.isdir(os.path.join(warehouse, "tables", "t", "data"))

    # errors: missing source, occupied target, invalid name, tag ref
    with pytest.raises(KeyError):
        cat.rename_table("nope", "x")
    cat.create_table("v", SCHEMA)
    with pytest.raises(ValueError):
        cat.rename_table("v", "u")
    with pytest.raises(ValueError):
        cat.rename_table("v", "bad-name!")
    cat.create_tag("pin")
    with pytest.raises(ValueError):
        cat.rename_table("v", "w", branch="pin")


def test_rename_table_orphan_sweep_follows_prior_dirs(spark, warehouse):
    """Orphan cleanup after a rename: dead files under the HISTORICAL
    directory are still found, while a fresh table that later claims
    the old name keeps its live files (referenced set is global)."""
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    for i in range(3):
        cat.append(_batch(spark, 5, start=5 * i), "t")
    cat.compact(spark, "t", target_file_mb=128)  # originals now dead
    cat.expire_snapshots("t", keep_last=1)
    cat.rename_table("t", "u")

    # a NEW table claims the freed name and writes into tables/t/
    cat.create_table("t", SCHEMA)
    cat.append(_batch(spark, 4), "t")

    swept = cat.remove_orphan_files("u", dry_run=False, older_than_ms=0)
    assert swept and all(p.startswith("tables/t/") for p in swept)
    # u reads intact, and the new t's live files survived the sweep
    assert cat.read(spark, "u").count() == 15
    assert cat.read(spark, "t").count() == 4
    assert cat.remove_orphan_files("u", dry_run=True, older_than_ms=0) == []


def test_cherrypick_snapshot(spark, warehouse):
    """Cherry-pick applies one append snapshot's files on top of the
    target head, zero-copy, with the Iceberg restrictions: appends
    only, no double-pick, no diverged schema/rename history."""
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_batch(spark, 10), "t")

    # WAP branch stages TWO commits; pick only the second onto main
    cat.create_branch("wap")
    cat.append(_batch(spark, 5, start=100), "t", branch="wap")
    picked = cat.load_table("t", "wap")
    cat.append(_batch(spark, 3, start=200), "t", branch="wap")
    sid = picked.current_snapshot_id

    meta = cat.cherrypick_snapshot("t", sid, from_branch="wap")
    assert meta.snapshot().summary["cherrypicked-from"] == sid
    got = sorted(r.id for r in cat.read(spark, "t").collect())
    assert got == list(range(10)) + list(range(100, 105))
    # zero-copy: the picked files are the SAME paths on both branches
    wap_files = {
        f.path for f in picked.snapshot(sid).added_files
    }
    assert wap_files <= {f.path for f in meta.files()}

    # double-pick refused
    with pytest.raises(ValueError, match="already referenced"):
        cat.cherrypick_snapshot("t", sid, from_branch="wap")
    # unknown snapshot refused
    with pytest.raises(KeyError):
        cat.cherrypick_snapshot("t", 9999, from_branch="wap")

    # non-append snapshots refused (MoR delete)
    cat.delete_where(
        spark, "t", [], "id >= 200", mode="mor", branch="wap"
    )
    del_sid = cat.load_table("t", "wap").current_snapshot_id
    with pytest.raises(ValueError, match="only pure appends"):
        cat.cherrypick_snapshot("t", del_sid, from_branch="wap")

    # diverged rename history refused
    cat.create_branch("rn")
    cat.append(_batch(spark, 2, start=300), "t", branch="rn")
    rn_sid = cat.load_table("t", "rn").current_snapshot_id
    cat.rename_column("t", "score", "points")  # main diverges
    with pytest.raises(ValueError, match="diverged"):
        cat.cherrypick_snapshot("t", rn_sid, from_branch="rn")


def test_cherrypick_snapshot_via_sql_call(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_batch(spark, 4), "t")
    cat.create_branch("wap")
    cat.append(_batch(spark, 2, start=50), "t", branch="wap")
    sid = cat.load_table("t", "wap").current_snapshot_id
    row = cat.sql(
        spark,
        f"CALL system.cherrypick_snapshot('t', {sid}, source => 'wap')",
    ).collect()[0]
    assert row["source_snapshot_id"] == sid
    assert cat.read(spark, "t").count() == 6


def test_tags_immune_to_drop_and_rename_table(spark, warehouse):
    """A tag ref must refuse EVERY mutator, including the two that
    advance the ref directly (drop_table bypassed _commit_table's tag
    guard before this test existed)."""
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_batch(spark, 3), "t")
    cat.create_tag("v1")
    with pytest.raises(ValueError, match="immutable tag"):
        cat.drop_table("t", branch="v1")
    with pytest.raises(ValueError, match="immutable tag"):
        cat.rename_table("t", "u", branch="v1")
    assert cat.row_count("t", "v1") == 3  # pinned state intact


def test_cherrypick_refuses_diverged_partition_spec(spark, warehouse):
    """A snapshot staged under a diverged partition spec must refuse
    to cherry-pick (identity divergence is impossible — evolution
    forbids it — but hidden-transform divergence isn't, and the guard
    keys on ANY spec/history difference: belt and braces over the
    read path's per-file key mapping)."""
    cat = Catalog(warehouse)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("b", T.StringType())]
    )
    cat.create_table("p", schema)
    cat.create_branch("wap")
    # the BRANCH evolves a hidden transform, then appends under it
    cat.evolve_partition_spec("p", ["bucket(4, id)"], "wap")
    df = spark.range(4).select(
        "id", F.when(F.col("id") % 2 == 0, "x").otherwise("y").alias("b")
    )
    cat.append(df, "p", "wap")
    sid = cat.load_table("p", "wap").current_snapshot_id
    with pytest.raises(ValueError, match="partition spec"):
        cat.cherrypick_snapshot("p", sid, from_branch="wap")


# ----------------------------------------------------------------------
# retention policy table properties (Iceberg history.expire.*)
# ----------------------------------------------------------------------
def test_expire_honors_retention_properties(spark, warehouse):
    import time as _time

    from pyspark.sql import functions as F, types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    cat = Catalog(warehouse)
    cat.create_table(
        "t",
        schema,
        properties={"history.expire.min-snapshots-to-keep": "2"},
    )
    for lo in range(0, 50, 10):
        cat.append(
            spark.range(lo, lo + 10).select(
                F.col("id"), F.col("id").alias("v")
            ).coalesce(1),
            "t",
        )
    assert len(cat.load_table("t").snapshots) == 5
    cat.expire_snapshots("t")  # keep_last=None -> property (2)
    meta = cat.load_table("t")
    # 2 retained + the squashed synthetic base
    assert len(meta.snapshots) <= 3
    assert cat.read(spark, "t").count() == 50
    # age-based extension: everything is younger than 1 h, so a
    # max-age policy keeps ALL snapshots despite min-keep=2
    cat2 = Catalog(str(warehouse) + "2")
    cat2.create_table(
        "t",
        schema,
        properties={
            "history.expire.min-snapshots-to-keep": "1",
            "history.expire.max-snapshot-age-ms": str(3600 * 1000),
        },
    )
    for lo in (0, 10, 20):
        cat2.append(
            spark.range(lo, lo + 10).select(
                F.col("id"), F.col("id").alias("v")
            ).coalesce(1),
            "t",
        )
    cat2.expire_snapshots("t")
    assert len(cat2.load_table("t").snapshots) == 3  # all young: kept
    # explicit keep_last still overrides the policy
    cat2.expire_snapshots("t", keep_last=1)
    assert cat2.read(spark, "t").count() == 30


def test_maintain_uses_declared_policy_and_strategy(spark, warehouse):
    from pyspark.sql import functions as F, types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    cat = Catalog(warehouse)
    cat.create_table(
        "t",
        schema,
        properties={
            "history.expire.min-snapshots-to-keep": "4",
            "compaction.strategy": "binpack",
        },
    )
    for lo in range(0, 60, 10):
        cat.append(
            spark.range(lo, lo + 10).select(
                F.col("id"), F.col("id").alias("v")
            ).coalesce(1),
            "t",
        )
    rep = cat.maintain(spark, "t", small_file_threshold=4)
    assert rep["compacted"]
    meta = cat.load_table("t")
    # binpack commits a 'rewrite', never an 'overwrite' barrier
    assert all(s.operation != "overwrite" for s in meta.snapshots[6:])
    # the declared min-keep=4 won over maintain's keep_last default
    assert len(meta.snapshots) >= 4
    assert cat.read(spark, "t").count() == 60


def test_expire_keep_zero_floors_to_one(spark, warehouse):
    """keep_last=0 (or a declared '0' policy) must not invert to
    keep-everything via snaps[-0:] slicing."""
    from pyspark.sql import functions as F, types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    cat = Catalog(warehouse)
    cat.create_table(
        "t",
        schema,
        properties={"history.expire.min-snapshots-to-keep": "0"},
    )
    for lo in (0, 10, 20):
        cat.append(
            spark.range(lo, lo + 10).select(
                F.col("id"), F.col("id").alias("v")
            ).coalesce(1),
            "t",
        )
    cat.expire_snapshots("t")  # policy "0" -> floor 1
    assert len(cat.load_table("t").snapshots) <= 2
    v = cat.load_table("t").version
    cat.expire_snapshots("t")  # second run: nothing left to expire
    cat.expire_snapshots("t", keep_last=0)  # explicit 0: same floor
    assert cat.load_table("t").version <= v + 1
    assert cat.read(spark, "t").count() == 30


def test_compact_partitioned_unsorted_single_distribution(spark, warehouse):
    """Compaction of a partitioned, unsorted table must not
    double-shuffle: the write distribution is the only exchange, and
    the result is one file per partition."""
    import datetime as dt

    from pyspark.sql import functions as F, types as T

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("v", T.LongType())]
    )
    cat = Catalog(warehouse)
    cat.create_table("t", schema, partition_by=["month(ts)"])
    for d in (1, 10, 20):
        cat.append(
            spark.createDataFrame(
                [(dt.datetime(2024, m, d, 6), m) for m in (1, 2)], schema
            ),
            "t",
        )
    assert len(cat.load_table("t").files()) == 6
    cat.compact(spark, "t")
    meta = cat.load_table("t")
    assert len(meta.files()) == 2  # one per month
    assert cat.read(spark, "t").count() == 6
