"""Merge-on-read MERGE: insert/update/delete in one O(batch) commit.

The reference leaves MERGE unimplemented
(``pyiceberg_patch_nessie.py:230-264`` raises); ``upsert`` covers the
copy-on-write path. ``Catalog.merge`` is the update-heavy-100 TB
answer: equality-deletes mask matched keys in pruned target files, the
incoming rows arrive as normal insert files, and both travel in ONE
snapshot — commit cost independent of table size.
"""

import duckdb
import pytest
from pyspark.sql import functions as F, types as T

from conftest import hooked_catalog
from no_jvm_wap_with_iceberg_spark.catalog import Catalog
from no_jvm_wap_with_iceberg_spark.catalog.export import duckdb_view_sql

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)


def _df(spark, lo, hi, name="x"):
    return spark.range(lo, hi).select(F.col("id"), F.lit(name).alias("name"))


def test_merge_insert_update_delete_branches(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 100, "old"), "t")

    batch = spark.createDataFrame(
        [
            (5, "updated", False),   # matched -> update
            (7, "updated", False),   # matched -> update
            (200, "inserted", False),  # unmatched -> insert
            (9, None, True),         # matched -> delete
            (300, None, True),       # unmatched delete -> no-op
        ],
        T.StructType(
            SCHEMA.fields + [T.StructField("_deleted", T.BooleanType())]
        ),
    )
    cat.merge_rows(batch, "t", key="id", delete_col="_deleted")

    out = {r.id: r.name for r in cat.read(spark, "t").collect()}
    assert len(out) == 100  # 100 - 1 deleted + 1 inserted
    assert out[5] == "updated" and out[7] == "updated"
    assert out[200] == "inserted"
    assert 9 not in out
    assert out[0] == "old" and out[99] == "old"


def test_merge_without_delete_col_is_pure_upsert(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 50, "old"), "t")
    cat.merge_rows(_df(spark, 40, 60, "new"), "t", key="id")
    out = {r.id: r.name for r in cat.read(spark, "t").collect()}
    assert len(out) == 60
    assert all(out[i] == "old" for i in range(40))
    assert all(out[i] == "new" for i in range(40, 60))


def test_merge_commit_is_metadata_plus_batch_only(spark, warehouse):
    """The whole point vs COW upsert: the pre-existing file set is
    untouched — no data file is rewritten or removed."""
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 1000), "t")
    before = {f.path for f in cat.load_table("t").files()}

    cat.merge_rows(_df(spark, 500, 505, "new"), "t", key="id")
    meta = cat.load_table("t")
    snap = meta.snapshot()
    assert snap.operation == "merge"
    assert not snap.removed_paths  # nothing rewritten
    after = {f.path for f in meta.files()}
    assert before <= after  # old files all still live
    # the delete spec targets only stats-overlapping files
    assert len(snap.deletes) == 1
    assert set(snap.deletes[0]["targets"]) <= before


def test_merge_chain_last_writer_wins(spark, warehouse):
    """Consecutive merges on the same key: each newer merge masks the
    previous merge's insert file too."""
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 10, "v0"), "t")
    cat.merge_rows(_df(spark, 5, 6, "v1"), "t", key="id")
    cat.merge_rows(_df(spark, 5, 6, "v2"), "t", key="id")
    out = cat.read(spark, "t")
    assert out.count() == 10
    assert out.filter("id = 5").collect()[0]["name"] == "v2"


def test_merge_time_travel_and_row_count_guard(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    m0 = cat.append(_df(spark, 0, 10, "old"), "t")
    cat.merge_rows(_df(spark, 0, 1, "new"), "t", key="id")
    # old snapshot still sees the pre-merge row
    old = cat.read(spark, "t", snapshot_id=m0.current_snapshot_id)
    assert old.filter("id = 0").collect()[0]["name"] == "old"
    # metadata-only row_count must refuse while deletes are pending
    with pytest.raises(ValueError, match="pending MoR deletes"):
        cat.row_count("t")
    assert cat.row_count("t", spark=spark) == 10


def test_compact_folds_merge_deletes(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 100, "old"), "t")
    cat.merge_rows(_df(spark, 10, 20, "new"), "t", key="id")
    cat.compact(spark, "t")
    meta = cat.load_table("t")
    assert not meta.has_pending_deletes()
    assert cat.row_count("t") == 100  # metadata-only again post-compact
    out = {r.id: r.name for r in cat.read(spark, "t").collect()}
    assert out[15] == "new" and out[5] == "old"


def test_merge_does_not_drop_concurrent_append(spark, warehouse):
    """A concurrent append lands between merge's file write and its
    commit; the retry must re-prune delete targets against the fresh
    file list so a matched key in the NEW file is masked too."""
    cat, store = hooked_catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 50, "old"), "t")

    def racing_appends():
        # concurrent writer appends rows INCLUDING a matched key
        cat2 = Catalog(warehouse, create=False)
        cat2.append(_df(spark, 5, 6, "concurrent"), "t")
        cat2.append(_df(spark, 500, 510, "concurrent"), "t")

    store.before_refs_cas = racing_appends
    cat.merge_rows(_df(spark, 5, 6, "merged"), "t", key="id")
    assert store.before_refs_cas is None, "race was never injected"

    out = cat.read(spark, "t")
    rows = {(r.id, r.name) for r in out.collect()}
    assert out.count() == 60  # 50 + 10 concurrent; id=5 single version
    assert (5, "merged") in rows and (5, "old") not in rows
    assert (5, "concurrent") not in rows  # masked by re-pruned targets
    assert (505, "concurrent") in rows


def test_duckdb_export_reads_merged_table(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 20, "old"), "t")
    batch = spark.createDataFrame(
        [(3, "updated", False), (100, "inserted", False), (7, None, True)],
        T.StructType(SCHEMA.fields + [T.StructField("_d", T.BooleanType())]),
    )
    cat.merge_rows(batch, "t", key="id", delete_col="_d")
    con = duckdb.connect()
    con.execute(duckdb_view_sql(cat, "t", view_name="v"))
    got = dict(con.execute("SELECT id, name FROM v ORDER BY id").fetchall())
    assert len(got) == 20  # 20 - 1 + 1
    assert got[3] == "updated" and got[100] == "inserted" and 7 not in got


def test_merge_survives_expire_and_orphan_cleanup(spark, warehouse):
    """The equality-delete key files are referenced state: snapshot
    expiry must carry the pending delete, and orphan cleanup must not
    reap a key file a live merge snapshot still points at."""
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 30, "old"), "t")
    cat.append(_df(spark, 30, 60, "old"), "t")
    cat.merge_rows(_df(spark, 10, 12, "new"), "t", key="id")

    cat.expire_snapshots("t", keep_last=1)
    orphans = cat.remove_orphan_files("t", dry_run=False, older_than_ms=0)
    out = {r.id: r.name for r in cat.read(spark, "t").collect()}
    assert len(out) == 60
    assert out[10] == "new" and out[11] == "new" and out[0] == "old"
    # after compaction the key files become orphans and ARE reclaimed
    cat.compact(spark, "t")
    cat.expire_snapshots("t", keep_last=1)
    reclaimed = cat.remove_orphan_files("t", dry_run=False, older_than_ms=0)
    assert any("deletes/" in p for p in reclaimed), reclaimed
    assert {r.id: r.name for r in cat.read(spark, "t").collect()} == out


def test_merge_heavy_read_plan_depth_is_bounded(spark, warehouse):
    """30 pending merges must NOT chain 30 anti-joins: same-key delete
    sets union into ONE broadcast anti-join per scan group, so plan
    depth is O(distinct key columns), not O(merge history)."""
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    # disable the round-6 auto-fold: this test's POINT is 30 PENDING
    # merges (the self-tending fold would clear them at depth 16)
    cat.set_properties("t", **{"write.merge.auto-fold-specs": "0"})
    cat.append(_df(spark, 0, 100, "v0"), "t")
    for i in range(1, 31):
        cat.merge_rows(_df(spark, i, i + 1, f"v{i}"), "t", key="id")

    out = cat.read(spark, "t")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # seq-gated read: constant join count — the path->seq attach, the
    # key-file seq attach, and ONE key-mask join for the whole table,
    # however many merges are pending
    n_joins = plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    )
    assert n_joins <= 3, plan[:2000]
    rows = {r.id: r.name for r in out.collect()}
    assert len(rows) == 100
    assert rows[0] == "v0"
    for i in range(1, 31):
        assert rows[i] == f"v{i}", (i, rows[i])


def test_merge_on_partitioned_table(spark, warehouse):
    """The seq-gated read path must survive hive partitioning (partition
    values come from paths) and user columns that look like helpers."""
    sch = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("_seq", T.StringType()),  # hostile name
            T.StructField("part", T.StringType()),
        ]
    )
    cat = Catalog(warehouse)
    cat.create_table("p", sch, partition_by=["part"])
    base = spark.range(0, 40).select(
        F.col("id"),
        F.lit("x").alias("_seq"),
        (F.col("id") % 2 == 0).cast("string").alias("part"),
    )
    cat.append(base, "p")
    upd = spark.createDataFrame(
        [(3, "updated", "false"), (100, "inserted", "true")], sch
    )
    cat.merge_rows(upd, "p", key="id")
    out = {r.id: (r._seq, r.part) for r in cat.read(spark, "p").collect()}
    assert len(out) == 41
    assert out[3] == ("updated", "false")
    assert out[100] == ("inserted", "true")
    assert out[2] == ("x", "true")


def test_duckdb_export_partitioned_multi_dir_merge(spark, warehouse):
    """DuckDB views must survive a partitioned table whose live files
    span several per-commit data dirs plus a pending merge."""
    sch = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("part", T.StringType()),
        ]
    )
    cat = Catalog(warehouse)
    cat.create_table("p", sch, partition_by=["part"])
    for b in range(2):
        cat.append(
            spark.range(b * 10, b * 10 + 10).select(
                F.col("id"),
                F.lit(f"b{b}").alias("v"),
                (F.col("id") % 2).cast("string").alias("part"),
            ),
            "p",
        )
    cat.merge_rows(spark.createDataFrame([(5, "upd", "1")], sch), "p", key="id")
    con = duckdb.connect()
    con.execute(duckdb_view_sql(cat, "p", view_name="v"))
    assert con.execute("SELECT COUNT(*), COUNT(DISTINCT part) FROM v").fetchone() == (20, 2)
    assert con.execute("SELECT v FROM v WHERE id = 5").fetchall() == [("upd",)]
    # and Spark sees the same
    assert cat.read(spark, "p").count() == 20


def test_expire_preserves_delete_ordering(spark, warehouse):
    """Review repro: a MoR delete followed by appends, then expire —
    the post-delete rows must NOT be re-deleted by the carried delete
    (the old flat base+carrier squash collapsed them below it)."""
    from no_jvm_wap_with_iceberg_spark.catalog import Predicate

    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 20, "old"), "t")
    cat.delete_where(
        spark, "t", [Predicate("lt", "id", 10)], "id < 10", mode="mor"
    )
    cat.append(_df(spark, 0, 5, "late"), "t")
    cat.append(_df(spark, 100, 110, "tail"), "t")
    before = {(r.id, r.name) for r in cat.read(spark, "t").collect()}
    cat.expire_snapshots("t", keep_last=1)
    after = {(r.id, r.name) for r in cat.read(spark, "t").collect()}
    assert after == before
    assert sum(1 for _, n in after if n == "late") == 5
    assert len(after) == 25  # 20 - 10 + 5 + 10


def test_expire_preserves_merge_insert_rows(spark, warehouse):
    """Review repro: merge -> append -> expire must not mask the
    merge's own insert rows below its equality delete."""
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 10, "old"), "t")
    cat.merge_rows(_df(spark, 5, 6, "merged"), "t", key="id")
    cat.append(_df(spark, 20, 25, "tail"), "t")
    cat.expire_snapshots("t", keep_last=1)
    out = {r.id: r.name for r in cat.read(spark, "t").collect()}
    assert len(out) == 15
    assert out[5] == "merged"
    assert out[20] == "tail" and out[0] == "old"


def test_special_char_warehouse_and_partition_values(spark, tmp_path):
    """Review repro: URI-special characters in the warehouse path or a
    partition value made every file-identity join match nothing (read
    silently returned 0 rows). The joins compare the url-decoded
    _metadata path against the raw Python path (NOT basenames — a
    partitioned write repeats the same part-file name per partition
    dir)."""
    wh = str(tmp_path / "ware house")  # space -> %20 in _metadata paths
    cat = Catalog(wh)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 20, "old"), "t")
    cat.merge_rows(_df(spark, 3, 4, "new"), "t", key="id")
    out = {r.id: r.name for r in cat.read(spark, "t").collect()}
    assert len(out) == 20 and out[3] == "new"

    psch = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("part", T.StringType()),
        ]
    )
    cat.create_table("p", psch, partition_by=["part"])
    cat.append(
        spark.createDataFrame([(1, "a b%c"), (2, "plain")], psch), "p"
    )
    cat.append(spark.createDataFrame([(3, "a b%c")], psch), "p")
    rows = {(r.id, r.part) for r in cat.read(spark, "p").collect()}
    assert rows == {(1, "a b%c"), (2, "plain"), (3, "a b%c")}

    # blooms must still attach (executor partials key by URI-encoded
    # input_file_name; the merge must decode before matching)
    cat.create_table("b", SCHEMA, bloom_cols=["name"])
    cat.append(_df(spark, 0, 50, "val"), "b")
    bfiles = [f for f in cat.load_table("b").files() if "name" in f.blooms]
    assert bfiles, "blooms did not attach under a special-char warehouse"


def test_time_travel_between_duplicate_deletes(spark, warehouse):
    """Review repro: the same condition delete issued twice — a
    time-travel read BETWEEN the two commits must not apply the newer
    one (spec maps are chain-scoped now)."""
    from no_jvm_wap_with_iceberg_spark.catalog import Predicate

    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 20, "old"), "t")
    cat.delete_where(
        spark, "t", [Predicate("lt", "id", 10)], "id < 10", mode="mor"
    )
    mid = cat.append(_df(spark, 0, 5, "mid"), "t")
    cat.delete_where(
        spark, "t", [Predicate("lt", "id", 10)], "id < 10", mode="mor"
    )
    # between the deletes: 'mid' rows alive
    between = cat.read(spark, "t", snapshot_id=mid.current_snapshot_id)
    assert between.count() == 15
    assert between.filter("name = 'mid'").count() == 5
    # at head: second delete removed them again
    assert cat.read(spark, "t").count() == 10


def test_merge_rows_composite_key(spark, warehouse):
    """Composite-key MERGE: equality deletes mask on the full tuple —
    rows sharing one component must not collateral-delete; seq-gating,
    export, and change-feed replay all honor the tuple."""
    import duckdb

    from no_jvm_wap_with_iceberg_spark.catalog.export import duckdb_view_sql

    cat = Catalog(warehouse)
    base = spark.createDataFrame(
        [(o, l, f"v{o}.{l}") for o in range(5) for l in range(3)],
        "okey long, line long, v string",
    )
    m0 = cat.create_table_from_df(base, "t")

    cdc = spark.createDataFrame(
        [
            (0, 0, "UP", False),   # update one line of order 0
            (9, 9, "NEW", False),  # brand-new tuple
            (1, 2, "x", True),     # delete one line of order 1
        ],
        "okey long, line long, v string, _del boolean",
    )
    cat.merge_rows(cdc, "t", key=["okey", "line"], delete_col="_del")

    got = {(r.okey, r.line, r.v) for r in cat.read(spark, "t").collect()}
    expect = (
        {(o, l, f"v{o}.{l}") for o in range(5) for l in range(3)}
        - {(0, 0, "v0.0"), (1, 2, "v1.2")}
    ) | {(0, 0, "UP"), (9, 9, "NEW")}
    assert got == expect
    # other lines of orders 0/1 survived (no single-component masking)
    assert (0, 1, "v0.1") in got and (1, 1, "v1.1") in got

    # a row appended AFTER the merge with a deleted tuple is not gated
    cat.append(
        spark.createDataFrame([(1, 2, "again")], "okey long, line long, v string"),
        "t",
    )
    assert (1, 2, "again") in {
        (r.okey, r.line, r.v) for r in cat.read(spark, "t").collect()
    }

    # DuckDB export applies the composite equality delete identically
    con = duckdb.connect()
    con.execute(duckdb_view_sql(cat, "t"))
    ext = set(con.execute("SELECT okey, line, v FROM t_main").fetchall())
    assert ext == expect | {(1, 2, "again")}

    # change feed replays the merge as tuple-level delete+insert
    feed = cat.read_changes(spark, "t", m0.current_snapshot_id)
    rows = {(r._change_type, r.okey, r.line, r.v) for r in feed.collect()}
    assert ("delete", 0, 0, "v0.0") in rows and ("delete", 1, 2, "v1.2") in rows
    assert ("insert", 0, 0, "UP") in rows and ("insert", 9, 9, "NEW") in rows


def test_delete_keys_composite(spark, warehouse):
    cat = Catalog(warehouse)
    base = spark.createDataFrame(
        [(o, l, o * 10 + l) for o in range(4) for l in range(4)],
        "okey long, line long, val long",
    )
    cat.create_table_from_df(base, "t")
    kdf = spark.createDataFrame(
        [(0, 1), (2, 3)], "okey long, line long"
    )
    for mode in ("mor", "cow"):
        pass  # exercised below (mor first, then fold and re-delete cow)
    cat.delete_keys(kdf, "t", key=["okey", "line"], mode="mor")
    got = {(r.okey, r.line) for r in cat.read(spark, "t").collect()}
    assert (0, 1) not in got and (2, 3) not in got
    assert (0, 3) in got and (2, 1) in got and len(got) == 14
    # cow mode on a second tuple set, after compacting the first away
    cat.compact(spark, "t", min_files=1)
    cat.delete_keys(
        spark.createDataFrame([(1, 1)], "okey long, line long"),
        "t",
        key=["okey", "line"],
        mode="cow",
    )
    got = {(r.okey, r.line) for r in cat.read(spark, "t").collect()}
    assert (1, 1) not in got and len(got) == 13


def test_incremental_aggregate_composite_key(spark, warehouse):
    from pyspark.sql import functions as F

    from no_jvm_wap_with_iceberg_spark.pipelines import IncrementalAggregate

    cat = Catalog(warehouse)
    src = spark.createDataFrame(
        [(i, f"s{i % 2}", f"g{i % 3}", float(i)) for i in range(40)],
        "id long, src string, grp string, v double",
    )
    cat.create_table_from_df(src.filter("id < 30"), "s")
    agg = IncrementalAggregate(
        cat, "s", "a", key=["src", "grp"], sum_cols={"sv": "v"}
    )
    agg.init(spark)
    cat.append(src.filter("id >= 30"), "s")
    cat.delete_where(spark, "s", [], "id % 7 = 0", mode="mor")
    agg.refresh(spark)
    got = {
        (r.src, r.grp, r.n_rows, float(r.sv))
        for r in cat.read(spark, "a").collect()
    }
    want = {
        (r.src, r.grp, r.n_rows, float(r.sv))
        for r in cat.read(spark, "s")
        .groupBy("src", "grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("sv"),
        )
        .collect()
    }
    assert got == want


def test_merge_into_conditional_clauses(spark, warehouse):
    """Full MERGE INTO: matched rows update only when the clause
    condition holds (others stay untouched — inexpressible with
    merge_rows), a matched-delete clause fires first, unmatched rows
    insert only when their clause holds, and extra source columns are
    dropped on write."""
    qty_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("qty", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    cat = Catalog(warehouse)
    cat.create_table("inv", qty_schema)
    cat.append(
        spark.createDataFrame(
            [(i, i * 10, f"n{i}") for i in range(10)], qty_schema
        ),
        "inv",
    )
    src = spark.createDataFrame(
        [
            # (id, qty, name, _drop): target qty for id=3 is 30 ->
            # update fires only when s.qty > t.qty
            (3, 99, "hi", False),    # 99 > 30  -> update
            (4, 1, "lo", False),     # 1 < 40   -> matched, UNTOUCHED
            (5, 999, "x", True),     # _drop    -> delete (wins over update)
            (20, 7, "new", False),   # unmatched, qty>=5 -> insert
            (21, 2, "tiny", False),  # unmatched, qty<5  -> NOT inserted
        ],
        "id long, qty long, name string, _drop boolean",
    )
    cat.merge_into(
        src,
        "inv",
        key="id",
        when_matched_delete="s._drop",
        when_matched_update="s.qty > t.qty",
        when_not_matched_insert="s.qty >= 5",
        update_set={"qty": "s.qty + t.qty", "name": "s.name"},
    )
    state = {
        r.id: (r.qty, r.name) for r in cat.read(spark, "inv").collect()
    }
    expect = {i: (i * 10, f"n{i}") for i in range(10)}
    expect[3] = (99 + 30, "hi")   # updated via SET expr over s and t
    del expect[5]                  # deleted by clause
    expect[20] = (7, "new")        # conditional insert
    assert state == expect

    # the commit is CDC-readable: only CHANGED keys appear in the feed
    ch = cat.read_changes(spark, "inv", 1)
    by = {(r.id, r._change_type) for r in ch.collect()}
    assert by == {(3, "delete"), (3, "insert"), (5, "delete"), (20, "insert")}


def test_merge_into_stale_head_retries(spark, warehouse):
    """A writer advancing the table between condition evaluation and
    the CAS forces a full re-evaluation — the retried merge sees the
    concurrent append's rows."""
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 10, "old"), "t")

    real_commit = cat._commit_tables
    raced = {"done": False}

    def racing_commit(*args, **kwargs):
        if not raced["done"]:
            raced["done"] = True
            cat2 = Catalog(warehouse)
            cat2._commit_tables = real_commit.__func__.__get__(cat2)
            cat2.append(_df(spark, 50, 55, "racer"), "t")
        return real_commit(*args, **kwargs)

    cat._commit_tables = racing_commit
    # source matches both an original row and a racer row; the first
    # evaluation cannot see the racer -> must re-run to update it
    src = spark.createDataFrame(
        [(5, "upd"), (52, "upd")], "id long, name string"
    )
    cat.merge_into(src, "t", key="id", when_matched_update="true",
                   when_not_matched_insert=None)
    state = {r.id: r.name for r in cat.read(spark, "t").collect()}
    assert state[5] == "upd"
    assert state[52] == "upd", "retry must re-evaluate against the racer's append"
    assert state[0] == "old" and len(state) == 15


def test_merge_into_composite_key_and_duplicate_guard(spark, warehouse):
    """merge_into over a composite key; a source with duplicate merge
    keys raises up front (Iceberg's multiple-rows-matched rule)."""
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    cat = Catalog(warehouse)
    cat.create_table("t", schema)
    cat.append(
        spark.createDataFrame(
            [(i, "x" if i % 2 == 0 else "y", i) for i in range(10)], schema
        ),
        "t",
    )
    src = spark.createDataFrame(
        [(2, "x", 100), (2, "y", 200), (50, "z", 500)], schema
    )  # (2,'y') exists? 2 is even -> only (2,'x') matches; (2,'y') inserts
    cat.merge_into(
        src, "t", key=["a", "b"],
        when_matched_update="s.v > t.v",
        when_not_matched_insert="true",
    )
    state = {(r.a, r.b): r.v for r in cat.read(spark, "t").collect()}
    assert state[(2, "x")] == 100 and state[(2, "y")] == 200
    assert state[(50, "z")] == 500 and state[(3, "y")] == 3
    assert len(state) == 12

    dup_src = spark.createDataFrame([(1, "y", 7), (1, "y", 8)], schema)
    with pytest.raises(ValueError, match="duplicate merge key"):
        cat.merge_into(dup_src, "t", key=["a", "b"])


def test_merge_into_duplicate_gate_folded_into_pruning_pass(spark, warehouse):
    """VERDICT r4 #5: the duplicate-key rule rides the key-pruning
    bounds aggregate instead of a separate O(batch) pre-pass. Guard
    the job count so the pre-pass can't silently come back (it was 15
    jobs with the separate gate, 13 folded, measured local[4])."""
    from pyspark.sql import functions as F

    cat = Catalog(warehouse)
    df = spark.range(1000).select(F.col("id"), F.lit("a").alias("name"))
    cat.create_table_from_df(df, "t")
    src = spark.range(500, 1500).select(F.col("id"), F.lit("b").alias("name"))
    sc = spark.sparkContext
    sc.setJobGroup("merge-fold", "job-count guard")
    try:
        cat.merge_into(src, "t", key="id")
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("merge-fold")
    assert len(jobs) <= 13, (
        f"merge_into ran {len(jobs)} jobs; the duplicate gate must stay "
        "folded into the pruning aggregate"
    )
    got = {r.id: r.name for r in cat.read(spark, "t").collect()}
    assert len(got) == 1500 and got[0] == "a" and got[700] == "b"


# ----------------------------------------------------------------------
# WHEN NOT MATCHED BY SOURCE (Delta / Spark 3.4 clause surface)
# ----------------------------------------------------------------------
def test_merge_not_matched_by_source_delete_and_update(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 10, "old"), "t")
    src = _df(spark, 5, 8, "new")  # keys 5,6,7 matched; 0-4, 8-9 not
    before = cat.load_table("t").current_snapshot_id
    cat.merge_into(
        src,
        "t",
        key="id",
        when_matched_update="true",
        when_not_matched_insert=None,
        when_not_matched_by_source_delete="t.id < 2",
        when_not_matched_by_source_update="t.id >= 8",
        update_by_source_set={"name": "'stale'"},
    )
    out = {r.id: r.name for r in cat.read(spark, "t").collect()}
    assert 0 not in out and 1 not in out  # by-source deleted
    assert out[8] == "stale" and out[9] == "stale"  # by-source updated
    assert out[5] == "new" and out[6] == "new"  # matched updated
    assert out[2] == "old" and out[4] == "old"  # untouched
    # CDC replay reconstructs the same state (exactness for free)
    feed = cat.read_changes(spark, "t", before)
    dels = feed.filter("_change_type = 'delete'")
    assert {r.id for r in dels.collect()} == {0, 1, 5, 6, 7, 8, 9}


def test_merge_by_source_sql_clause(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 6, "old"), "t")
    cat.create_table_from_df(_df(spark, 2, 4, "new"), "s")
    cat.sql(
        spark,
        """
        MERGE INTO t USING s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET name = s.name
        WHEN NOT MATCHED BY SOURCE AND t.id >= 5 THEN DELETE
        WHEN NOT MATCHED BY SOURCE AND t.id = 0
          THEN UPDATE SET name = 'orphaned'
        """,
    )
    out = {r.id: r.name for r in cat.read(spark, "t").collect()}
    assert out == {0: "orphaned", 1: "old", 2: "new", 3: "new", 4: "old"}


def test_merge_by_source_null_key_raises(spark, warehouse):
    from pyspark.sql import functions as F

    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    df = spark.createDataFrame([(None, "nk"), (1, "old")], SCHEMA).coalesce(1)
    cat.append(df, "t")
    with pytest.raises(ValueError, match="NULL merge key"):
        cat.merge_into(
            _df(spark, 1, 2, "new"),
            "t",
            key="id",
            when_not_matched_insert=None,
            when_not_matched_by_source_delete="true",
        )
    # narrowed condition that avoids the null-key row works
    cat.merge_into(
        _df(spark, 1, 2, "new"),
        "t",
        key="id",
        when_not_matched_insert=None,
        when_not_matched_by_source_delete="t.id IS NOT NULL",
    )
    assert cat.read(spark, "t").count() == 2  # null-key row + key 1
