"""Regression tests for the round-2 catalog correctness fixes:

- stale-metadata lost updates (upsert/compact built on metadata read
  AFTER a long Spark write could drop a concurrent append's snapshot)
- unsound string max-stat truncation (a truncated upper bound
  understates the real max -> pruning could drop matching files)
- cross-branch ref clobbering without a CAS lock
- type canonicalization in upsert bounds and bloom probes
  (timestamp keys; empty batches)
- publish conflict handling in the WAP pipeline
"""

import threading

import pytest
from pyspark.sql import functions as F, types as T

from conftest import hooked_catalog, publishes_fork
from no_jvm_wap_with_iceberg_spark.catalog import Catalog, Predicate, prune_files
from no_jvm_wap_with_iceberg_spark.catalog.bloom import build_bloom, bloom_may_contain
from no_jvm_wap_with_iceberg_spark.catalog.table import (
    _json_safe,
    _truncate_string_max,
)
from no_jvm_wap_with_iceberg_spark.wap.pipeline import WapPipeline
from no_jvm_wap_with_iceberg_spark.wap.checks import NotNullCheck

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)


def _df(spark, lo, hi, name="x"):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(name).alias("name")
    )


# ----------------------------------------------------------------------
# string stat truncation soundness
# ----------------------------------------------------------------------
def test_truncate_string_max_is_upper_bound():
    long = "z" * 100 + "tail"
    t = _truncate_string_max(long)
    assert t is not None and len(t) <= 64 and t > long
    # prefix unchanged when short
    assert _truncate_string_max("short") == "short"
    # un-incrementable prefix (all U+10FFFF) drops the bound
    assert _truncate_string_max(chr(0x10FFFF) * 70) is None
    # surrogate block is skipped, result still an upper bound
    s = chr(0xD7FF) * 70
    t = _truncate_string_max(s)
    assert t is not None and t > s


def test_long_string_stats_do_not_misprune(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    needle = "m" * 80  # longer than the 64-char stat cap
    df = spark.createDataFrame([(1, "a" * 80), (2, needle)], SCHEMA).coalesce(1)
    cat.append(df, "t")
    meta = cat.load_table("t")
    (f,) = meta.files()
    st = f.columns["name"]
    # stored max must bound the real value
    assert st["max"] is None or st["max"] >= needle
    # eq/ge pruning must keep the file that holds the needle
    for pred in (Predicate.eq("name", needle), Predicate("ge", "name", needle)):
        assert prune_files([f], [pred]), f"pruned away file containing {pred}"
    # and the min side stays a lower bound
    assert st["min"] is None or st["min"] <= "a" * 80
    assert _json_safe("q" * 80, "min") == "q" * 64


# ----------------------------------------------------------------------
# concurrency: stale metadata + cross-branch refs
# ----------------------------------------------------------------------
def test_upsert_does_not_drop_concurrent_append(spark, warehouse):
    """ADVICE high #1: upsert's rewrite must retry on a head moved by a
    concurrent append, not silently commit metadata built before it."""
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 100), "t")

    real_write = cat._write_files
    raced = {"done": False}

    def racing_write(df, meta, table, **kw):
        files = real_write(df, meta, table, **kw)
        if not raced["done"]:
            raced["done"] = True
            # another writer lands an append while our upsert is mid-write
            cat.append(_df(spark, 1000, 1010, name="concurrent"), "t")
        return files

    cat._write_files = racing_write
    try:
        upd = spark.createDataFrame([(5, "updated")], SCHEMA)
        cat.upsert(upd, "t", key="id")
    finally:
        cat._write_files = real_write

    out = cat.read(spark, "t")
    assert out.count() == 110  # 100 original + 10 concurrent (5 replaced in place)
    assert out.filter("name = 'concurrent'").count() == 10, "concurrent append lost"
    assert out.filter("id = 5").collect()[0]["name"] == "updated"


def test_compact_does_not_drop_concurrent_append(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 50), "t")
    real_write = cat._write_files
    raced = {"done": False}

    def racing_write(df, meta, table, **kw):
        files = real_write(df, meta, table, **kw)
        if not raced["done"]:
            raced["done"] = True
            cat.append(_df(spark, 500, 510, name="concurrent"), "t")
        return files

    cat._write_files = racing_write
    try:
        cat.compact(spark, "t")
    finally:
        cat._write_files = real_write
    out = cat.read(spark, "t")
    assert out.count() == 60
    assert out.filter("name = 'concurrent'").count() == 10


def test_parallel_branch_creates_do_not_clobber(warehouse):
    """ADVICE medium: ref updates on DIFFERENT branches must not lose
    one another (read-check-write on the shared refs.json needs a CAS)."""
    cat = Catalog(warehouse)
    n = 24
    errs = []

    def make(i):
        try:
            cat.create_branch(f"b{i}")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=make, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert set(cat.list_branches()) == {"main", *{f"b{i}" for i in range(n)}}


# ----------------------------------------------------------------------
# upsert bounds / bloom canonicalization
# ----------------------------------------------------------------------
def test_upsert_timestamp_key_and_empty_batch(spark, warehouse):
    ts_schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.StringType()),
        ]
    )
    cat = Catalog(warehouse)
    cat.create_table("t", ts_schema)
    base = spark.sql(
        "SELECT timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts,"
        " 'old' AS v FROM range(10)"
    )
    cat.append(base, "t")
    # timestamp-typed key: bounds compare against ISO-string stats
    upd = spark.sql("SELECT timestamp'2024-01-01 00:00:05' AS ts, 'new' AS v")
    cat.upsert(upd, "t", key="ts")
    out = cat.read(spark, "t")
    assert out.count() == 10
    assert out.filter("v = 'new'").count() == 1
    # empty batch: clean no-op, not a crash
    before = cat.load_table("t").current_snapshot_id
    cat.upsert(base.limit(0), "t", key="ts")
    assert cat.load_table("t").current_snapshot_id == before


def test_bloom_canonicalizes_datetime_and_binary():
    import datetime as dt

    t = dt.datetime(2024, 1, 2, 3, 4, 5)
    bloom = build_bloom([t, b"\x01\x02"])
    # probe with the same logical values in the other producer's types
    assert bloom_may_contain(bloom, t.isoformat()) or bloom_may_contain(bloom, t)
    assert bloom_may_contain(bloom, bytearray(b"\x01\x02"))
    assert not bloom_may_contain(bloom, dt.datetime(2030, 1, 1))


# ----------------------------------------------------------------------
# pipeline publish conflict
# ----------------------------------------------------------------------
def test_publish_conflict_reruns_wap_on_fresh_branch(spark, warehouse):
    """ADVICE low: a non-fast-forward merge at publish must re-run WAP,
    not crash the ingest loop."""
    cat, store = hooked_catalog(warehouse)
    pipe = WapPipeline(cat, "t", [NotNullCheck("name")])
    first = _df(spark, 0, 10)
    pipe.run_batch(spark, first)

    # main advances between audit and publish
    store.refs_cas_when = publishes_fork("wap-")
    store.before_refs_cas = lambda: cat.append(
        _df(spark, 100, 105, name="rival"), "t"
    )
    res = pipe.run_batch(spark, _df(spark, 10, 20, name="second"))
    assert store.before_refs_cas is None, "race was never injected"
    assert res.published
    out = cat.read(spark, "t")
    assert out.count() == 25
    assert out.filter("name = 'rival'").count() == 5
    assert out.filter("name = 'second'").count() == 10
    # no stray open wap branches
    assert [b for b in cat.list_branches() if b != "main"] == []


def test_blooms_built_by_executors_not_driver(spark, warehouse, monkeypatch):
    """ABOVE the small-write threshold, bloom construction must not
    read column data on the driver — the 100 TB path. (Writes under
    ``LOCAL_BLOOM_MAX_BYTES`` deliberately read the page-cache-hot
    files back locally instead of paying a Spark job; forcing the
    threshold to 0 makes this tiny append take the same distributed
    path any real large append takes.)"""
    import pyarrow.parquet as pq
    import no_jvm_wap_with_iceberg_spark.catalog.table as table_mod

    def forbid_read(*a, **k):
        raise AssertionError("driver-side pq.read_table in bloom build")

    monkeypatch.setattr(table_mod, "LOCAL_BLOOM_MAX_BYTES", 0)
    monkeypatch.setattr(table_mod.pq, "read_table", forbid_read)
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA, bloom_cols=["name"])
    cat.append(
        spark.createDataFrame([(i, f"val_{i}") for i in range(50)], SCHEMA), "t"
    )
    meta = cat.load_table("t")
    files = [f for f in meta.files() if "name" in f.blooms]
    assert files, "no blooms attached"
    hit = [f for f in files if bloom_may_contain(f.blooms["name"], "val_7")]
    assert hit
    # a value that exists nowhere is pruned by every file's filter
    assert all(
        not bloom_may_contain(f.blooms["name"], "nope_xyz") for f in files
    )


def test_local_and_distributed_bloom_builds_are_bit_identical(
    spark, warehouse, monkeypatch
):
    """The small-write local bloom path must be an OPTIMIZATION, not a
    semantic fork: the filters it attaches are byte-identical to the
    ones the distributed build produces for the same files."""
    import no_jvm_wap_with_iceberg_spark.catalog.table as table_mod

    rows = [(i, f"val_{i}" if i % 7 else None) for i in range(500)]

    def build(th: int, name: str) -> list[str]:
        monkeypatch.setattr(table_mod, "LOCAL_BLOOM_MAX_BYTES", th)
        cat = Catalog(warehouse + f"/{name}")
        cat.create_table("t", SCHEMA, bloom_cols=["name"])
        cat.append(spark.createDataFrame(rows, SCHEMA), "t")
        return sorted(
            f.blooms["name"] for f in cat.load_table("t").files()
        )

    local = build(1 << 40, "local")  # everything under threshold
    dist = build(0, "dist")  # everything above → executor build
    assert local and local == dist


def test_ivf_training_sample_is_bounded(spark):
    from no_jvm_wap_with_iceberg_spark.operators.similarity import (
        ivf_train_centroids,
    )

    corpus = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=3) for _ in range(4)]).alias("embedding"),
    )
    collected = {}
    orig = ivf_train_centroids.__globals__["np"].array

    def counting_array(obj, *a, **k):
        arr = orig(obj, *a, **k)
        if getattr(arr, "ndim", 0) == 2:  # the training matrix
            collected.setdefault("n", []).append(len(arr))
        return arr

    ivf_train_centroids.__globals__["np"].array = counting_array
    try:
        cents = ivf_train_centroids(
            corpus, n_cells=4, max_train_vectors=100
        )
    finally:
        ivf_train_centroids.__globals__["np"].array = orig
    assert len(cents) == 4
    assert collected["n"][0] <= 100, "training sample exceeded the cap"


def test_ingest_key_index_is_o1_and_idempotent(spark, warehouse):
    cat = Catalog(warehouse)
    pipe = WapPipeline(cat, "t", [])
    pipe.run_batch(spark, _df(spark, 0, 10), ingest_key="k1")
    r2 = pipe.run_batch(spark, _df(spark, 0, 10), ingest_key="k1")
    assert r2.skipped
    assert cat.row_count("t") == 10
    assert cat.has_ingest_key("k1") and not cat.has_ingest_key("k2")
    # the index is a sidecar, not a commit-log scan
    assert len(cat.log()) <= 3  # root + create + append (no stamp commits)


def test_gc_metadata_reclaims_cas_losers_and_keeps_reachable(spark, warehouse):
    cat, store = hooked_catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 10), "t")
    # a CAS-losing commit attempt leaves an orphaned commit + metadata:
    # another append advances the ref before our CAS lands
    cat2 = Catalog(warehouse, create=False)
    store.before_refs_cas = lambda: cat2.append(_df(spark, 100, 105), "t")
    cat.append(_df(spark, 10, 20), "t")
    assert store.before_refs_cas is None, "race was never injected"
    assert cat.read(spark, "t").count() == 25
    orphans = cat.gc_metadata(dry_run=True)
    assert orphans, "expected orphaned blobs from the lost CAS attempt"
    cat.gc_metadata(dry_run=False)
    assert cat.gc_metadata(dry_run=True) == []
    # everything reachable still loads: all branches, all snapshots
    assert cat.read(spark, "t").count() == 25
    for s in cat.load_table("t").snapshots:
        assert cat.read(spark, "t", snapshot_id=s.snapshot_id).count() >= 0


def test_failed_create_tag_does_not_poison_the_name(spark, warehouse):
    """A failed create_tag must roll its tags entry back — previously
    create_tag('main') permanently froze main as an immutable tag."""
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    with pytest.raises(ValueError):
        cat.create_tag("main")  # name already a branch
    cat.append(_df(spark, 0, 5), "t")  # main must still accept commits
    assert cat.row_count("t") == 5
    with pytest.raises(KeyError):
        cat.create_tag("v1", from_branch="nope")
    cat.create_branch("v1")  # name not frozen by the failed attempt
    cat.append(_df(spark, 5, 8), "t", branch="v1")
    assert cat.row_count("t", "v1") == 8
    # and a real tag still refuses commits + branch-name collisions
    cat.create_tag("pin")
    with pytest.raises(ValueError):
        cat.append(_df(spark, 0, 1), "t", branch="pin")
    with pytest.raises(ValueError):
        cat.create_branch("pin")


def test_create_tag_loses_to_a_racing_branch(spark, warehouse):
    """The name becomes a branch between create_tag's read of the ref
    document and its CAS: the CAS loses, the re-validation refuses, and
    no tag entry is left behind (ref and tag list share one CAS)."""
    cat, store = hooked_catalog(warehouse)
    racer = Catalog(warehouse, create=False)
    store.before_refs_cas = lambda: racer.create_branch("pin")
    with pytest.raises(ValueError, match="already exists"):
        cat.create_tag("pin")
    assert store.before_refs_cas is None, "race was never injected"
    assert "pin" not in cat._read_tags(), "tag entry left behind"
    # the racing branch stayed a normal mutable branch
    cat.drop_branch("pin")
    cat.create_tag("pin")  # name fully reusable
    assert "pin" in cat._read_tags()


def test_drop_branch_refuses_tags_and_drop_tag_frees_name(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, 0, 5), "t")
    cat.create_tag("pin")
    with pytest.raises(ValueError, match="use drop_tag"):
        cat.drop_branch("pin")
    assert cat.row_count("t", "pin") == 5  # pin intact
    cat.drop_tag("pin")
    assert "pin" not in cat.list_branches()
    cat.create_branch("pin")  # name free and mutable again
    cat.append(_df(spark, 5, 8), "t", branch="pin")
    assert cat.row_count("t", "pin") == 8


def test_gc_metadata_sweeps_dropped_table_metadata(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("gone", SCHEMA)
    cat.append(_df(spark, 0, 5), "gone")
    cat.drop_table("gone")
    # make the create/append commits unreachable: the chain walks
    # parents, so rewrite history down to just the current head
    head = cat._read_refs()["main"]
    commit = cat._read_commit(head)
    commit["parent"] = None
    cat._write_commit(commit)
    orphans = cat.gc_metadata(dry_run=True)
    assert any("tables/gone/metadata" in k for k in orphans), orphans
    cat.gc_metadata(dry_run=False)
    assert cat.gc_metadata(dry_run=True) == []


def test_cut_history_bounds_chain_and_gc_reclaims(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    for i in range(6):
        cat.append(_df(spark, i * 5, i * 5 + 5), "t")
    assert len(cat.log()) == 8  # root + create + 6 appends
    detached = cat.cut_history(keep_last=3)
    assert detached == 5
    assert len(cat.log()) == 3
    # current data and snapshots unaffected
    assert cat.row_count("t") == 30
    # detached commits become unreachable and GC-able
    orphans = cat.gc_metadata(dry_run=False)
    assert len(orphans) >= 5
    assert cat.row_count("t") == 30
    assert cat.read(spark, "t").count() == 30
    # idempotent when under the bound
    assert cat.cut_history(keep_last=3) == 0


def test_ingest_stamp_cost_is_flat_over_many_batches():
    """VERDICT #9 done-criterion: per-batch idempotence cost must not
    grow with history (the old commit-log scan was O(batches))."""
    import tempfile
    import time as _time

    cat = Catalog(tempfile.mkdtemp())
    n = 400
    window = 100
    t0 = _time.perf_counter()
    for i in range(window):
        cat.stamp_ingest_key(f"early-{i}")
        cat.has_ingest_key(f"early-{i}")
    early = _time.perf_counter() - t0
    for i in range(n - 2 * window):
        cat.stamp_ingest_key(f"mid-{i}")
    t0 = _time.perf_counter()
    for i in range(window):
        cat.stamp_ingest_key(f"late-{i}")
        cat.has_ingest_key(f"late-{i}")
    late = _time.perf_counter() - t0
    # index reads/writes grow with key-count only via JSON size; allow
    # generous slack for IO noise but catch any O(history) regression
    assert late < early * 5 + 0.5, (early, late)


def test_multi_table_publish_is_atomic_under_conflict(spark, warehouse):
    """Two tables staged on one WAP branch publish in a single
    fast-forward CAS: if main advanced since the branch point the
    publish raises and NEITHER table lands; a clean retry lands BOTH.
    (The reference's acknowledged punt — multi-table transactions.)"""
    from no_jvm_wap_with_iceberg_spark.catalog.catalog import CommitConflict

    cat = Catalog(warehouse)
    cat.create_table("base", SCHEMA)
    cat.append(_df(spark, 0, 10), "base")

    cat.create_branch("wap")
    cat.create_table_from_df(_df(spark, 0, 50, "a"), "t_a", branch="wap")
    cat.create_table_from_df(_df(spark, 0, 70, "b"), "t_b", branch="wap")
    # main advances while the branch is open -> fast-forward must fail
    cat.append(_df(spark, 10, 20), "base")
    with pytest.raises(CommitConflict):
        cat.merge("wap", "main")
    assert not cat.table_exists("t_a", "main")
    assert not cat.table_exists("t_b", "main")

    # retry on a fresh branch: both tables land in one CAS
    cat.drop_branch("wap")
    cat.create_branch("wap2")
    cat.create_table_from_df(_df(spark, 0, 50, "a"), "t_a", branch="wap2")
    cat.create_table_from_df(_df(spark, 0, 70, "b"), "t_b", branch="wap2")
    cat.merge("wap2", "main")
    assert cat.row_count("t_a", "main") == 50
    assert cat.row_count("t_b", "main") == 70
