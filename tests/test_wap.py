"""End-to-end WAP scenarios — the reference README's two manual
scenarios (``README.md:122-157``) plus idempotence and forensics."""

import pytest
from pyspark.sql import functions as F, types as T

from no_jvm_wap_with_iceberg_spark.catalog import Catalog
from no_jvm_wap_with_iceberg_spark.sources.datagen import generate_batch
from no_jvm_wap_with_iceberg_spark.wap import (
    Check,
    CheckResult,
    ExpressionCheck,
    FreshnessCheck,
    NotNullCheck,
    RangeCheck,
    RowCountCheck,
    UniqueCheck,
    WapPipeline,
)
from no_jvm_wap_with_iceberg_spark.wap.pipeline import branch_report

TABLE = "customer_data_log"  # reference table name (app.py:40)
CHECKS = [NotNullCheck("my_col_1")]  # the reference audit (app.py:213)


def _pipeline(warehouse, **kw):
    return WapPipeline(Catalog(warehouse), TABLE, CHECKS, **kw)


def test_clean_batch_publishes(spark, warehouse):
    p = _pipeline(warehouse)
    res = p.run_batch(spark, generate_batch(spark, 1000, no_null=True))
    assert res.published and not res.failed_checks
    cat = p.catalog
    assert cat.row_count(TABLE, "main") == 1000
    assert cat.list_branches() == ["main"]  # wap branch dropped after publish


def test_dirty_batch_leaves_branch_open(spark, warehouse):
    alerts = []
    p = _pipeline(warehouse, alert=lambda b, r: alerts.append(b))
    res = p.run_batch(spark, generate_batch(spark, 100, no_null=False))
    assert not res.published
    assert res.failed_checks == ["not_null(my_col_1)"]
    assert alerts == [res.branch]
    cat = p.catalog
    # main untouched; failed branch remains queryable with the bad rows
    assert cat.row_count(TABLE, "main") == 0
    assert cat.branch_exists(res.branch)
    forensic = cat.read(spark, TABLE, res.branch)
    assert forensic.filter(F.col("my_col_1").isNull()).count() == 1
    # dashboard parity: metadata-only branch report
    rep = {r["branch"]: r for r in branch_report(spark, cat, TABLE, ["my_col_1"])}
    assert rep["main"]["rows"] == 0
    assert rep[res.branch]["nulls_my_col_1"] == 1


def test_multi_batch_accumulates(spark, warehouse):
    p = _pipeline(warehouse)
    for k in range(3):
        assert p.run_batch(spark, generate_batch(spark, 100, no_null=True, seed=k)).published
    assert p.catalog.row_count(TABLE, "main") == 300


def test_ingest_key_idempotence(spark, warehouse):
    p = _pipeline(warehouse)
    b = generate_batch(spark, 50, no_null=True)
    r1 = p.run_batch(spark, b, ingest_key="batch-1")
    r2 = p.run_batch(spark, b, ingest_key="batch-1")
    assert r1.published and r2.skipped
    assert p.catalog.row_count(TABLE, "main") == 50


def test_incremental_audit_only_new_files(spark, warehouse):
    """A dirty row already published must NOT fail later audits when
    incremental audit is on (only the new snapshot's files are read)."""
    cat = Catalog(warehouse)
    # seed main with a null directly (bypassing audit)
    dirty = generate_batch(spark, 10, no_null=False)
    cat.create_table(TABLE, dirty.schema)
    cat.append(dirty, TABLE)
    p = WapPipeline(cat, TABLE, CHECKS, incremental_audit=True)
    res = p.run_batch(spark, generate_batch(spark, 10, no_null=True))
    assert res.published  # old dirt ignored, new batch clean
    p_full = WapPipeline(cat, TABLE, CHECKS, incremental_audit=False)
    res2 = p_full.run_batch(spark, generate_batch(spark, 10, no_null=True))
    assert not res2.published  # full audit still sees the old null


def test_check_library(spark, warehouse):
    cat = Catalog(warehouse)
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 10).alias("bucket"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    checks = [
        NotNullCheck("id"),
        RangeCheck("bucket", 0, 9),
        UniqueCheck("id"),
        RowCountCheck(min_rows=100, max_rows=100),
        FreshnessCheck("ts", 3600, now="2026-01-01 00:30:00"),
        ExpressionCheck("id >= 0 AND bucket < 10"),
    ]
    p = WapPipeline(cat, "t", checks)
    res = p.run_batch(spark, df)
    assert res.published, res.results
    # now violate range + unique
    bad = df.union(df.limit(1)).withColumn(
        "bucket", F.when(F.col("id") == 5, 99).otherwise(F.col("bucket"))
    )
    res2 = p.run_batch(spark, bad)
    assert not res2.published
    failed = set(res2.failed_checks)
    assert "range(bucket,[0,9])" in failed
    assert "unique(id)" in failed
    assert "row_count(>=100,<=100)" in failed


def test_run_file(spark, warehouse, tmp_path):
    from no_jvm_wap_with_iceberg_spark.sources.datagen import land_batch

    landing = str(tmp_path / "landing")
    path = land_batch(spark, landing, n=20, no_null=True)
    p = _pipeline(warehouse)
    res = p.run_file(spark, path)
    assert res.published
    assert p.catalog.row_count(TABLE, "main") == 20
    # same file again -> idempotent skip (ingest_key = path)
    assert p.run_file(spark, path).skipped


def test_multi_table_wap_publishes_atomically(spark, warehouse):
    """The catalog versions the WHOLE namespace per commit (like
    Nessie), so one branch can stage writes to N tables and a single
    fast-forward publishes them together — the multi-table WAP the
    reference explicitly punts on (README.md:18, SURVEY §7.2). Iceberg
    per-table branches cannot express this; a catalog-level ref can.
    """
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    cat = Catalog(warehouse)
    cat.create_table_from_df(
        spark.createDataFrame([(1, "a")], "id long, v string"), "facts"
    )
    cat.create_table_from_df(
        spark.createDataFrame([(1,)], "dim_id long"), "dims"
    )

    cat.create_branch("staging")
    cat.append(spark.createDataFrame([(2, "b")], "id long, v string"), "facts", "staging")
    cat.append(spark.createDataFrame([(2,)], "dim_id long"), "dims", "staging")

    # nothing visible on main until the single publish
    assert cat.row_count("facts", "main") == 1
    assert cat.row_count("dims", "main") == 1

    cat.merge("staging", "main")
    cat.drop_branch("staging")
    assert cat.row_count("facts", "main") == 2
    assert cat.row_count("dims", "main") == 2


def test_webhook_alert_parity(spark, warehouse, capsys, monkeypatch):
    """Alert fires on audit failure with the branch name (the forensic
    handle); unconfigured webhook degrades to a printed no-op."""
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog
    from no_jvm_wap_with_iceberg_spark.sources.datagen import generate_batch
    from no_jvm_wap_with_iceberg_spark.wap import NotNullCheck, WapPipeline
    from no_jvm_wap_with_iceberg_spark.wap.alerts import (
        format_alert,
        webhook_alert_from_env,
    )

    monkeypatch.delenv("WAP_ALERT_WEBHOOK_URL", raising=False)
    cat = Catalog(warehouse)
    pipe = WapPipeline(
        cat,
        "customer_data_log",
        [NotNullCheck("my_col_1")],
        alert=webhook_alert_from_env("customer_data_log"),
    )
    res = pipe.run_batch(spark, generate_batch(spark, n=30, no_null=False))
    assert not res.published
    out = capsys.readouterr().out
    assert res.branch in out and "not_null" in out

    msg = format_alert("t", "b-1", res.results)
    assert "b-1" in msg and "forensics" in msg


def test_throwing_check_quarantines_not_crashes(spark, warehouse):
    """An audit check that raises must behave like a failed audit:
    branch open, nothing published, error captured in the result."""
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog
    from no_jvm_wap_with_iceberg_spark.sources.datagen import generate_batch
    from no_jvm_wap_with_iceberg_spark.wap import ExpressionCheck, WapPipeline

    cat = Catalog(warehouse)
    pipe = WapPipeline(
        cat, "customer_data_log", [ExpressionCheck("no_such_column > 0")]
    )
    res = pipe.run_batch(spark, generate_batch(spark, n=20, no_null=True))
    assert not res.published
    assert res.branch in cat.list_branches()
    assert "error" in res.results[0].detail
    assert cat.table_exists("customer_data_log", "main")


def test_auto_compaction_every_n_batches(spark, warehouse):
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog
    from no_jvm_wap_with_iceberg_spark.sources.datagen import generate_batch
    from no_jvm_wap_with_iceberg_spark.wap import NotNullCheck, WapPipeline

    cat = Catalog(warehouse)
    pipe = WapPipeline(
        cat, "customer_data_log", [NotNullCheck("my_col_1")], compact_every=3
    )
    for i in range(3):
        assert pipe.run_batch(
            spark, generate_batch(spark, n=200, no_null=True, seed=i)
        ).published
    meta = cat.load_table("customer_data_log")
    # the 3rd publish triggered compaction: newest snapshot is a rewrite
    assert meta.snapshots[-1].operation == "overwrite"
    assert len(meta.files()) < 3 * 4  # far fewer than per-batch file sets
    assert cat.row_count("customer_data_log") == 600


def test_prune_branches_reclaims_stale_forensics(spark, warehouse):
    """Failed audits leave wap-* forensic branches; prune_branches
    drops only the stale matching ones, never main or fresh ones."""
    import time

    from no_jvm_wap_with_iceberg_spark.sources.datagen import generate_batch

    cat = Catalog(warehouse)
    pipe = WapPipeline(cat, "t", [NotNullCheck("my_col_1")])
    pipe.run_batch(spark, generate_batch(spark, n=50, no_null=True, seed=1))
    for seed in (2, 3):  # two dirty batches -> two forensic branches
        r = pipe.run_batch(spark, generate_batch(spark, n=30, no_null=False, seed=seed))
        assert not r.published
    stale = [b for b in cat.list_branches() if b.startswith("wap-")]
    assert len(stale) == 2

    future = int(time.time() * 1000) + 48 * 3600 * 1000
    # dry run reports, drops nothing
    would = cat.prune_branches(24, dry_run=True, now_ms=future)
    assert sorted(would) == sorted(stale)
    assert sorted(b for b in cat.list_branches() if b != "main") == sorted(stale)
    # fresh branches survive a real prune at current time
    assert cat.prune_branches(24) == []
    # stale ones go when aged past the cutoff
    gone = cat.prune_branches(24, now_ms=future)
    assert sorted(gone) == sorted(stale)
    assert cat.list_branches() == ["main"]
    assert cat.row_count("t", "main") == 50  # main untouched


def test_prune_keys_on_branch_age_not_head_commit_age(spark, warehouse):
    """ADVICE r4: a fresh staging branch points at main's existing
    head until its staged append lands. On an idle table (old head
    commit) a concurrent janitor keying on the pointed-at commit's
    timestamp would drop the active branch in the create_branch →
    append window; the recorded creation stamp must protect it."""
    import time

    from pyspark.sql import types as T

    cat = Catalog(warehouse)
    cat.create_table(
        "t", T.StructType([T.StructField("v", T.LongType())])
    )
    cat.append(spark.range(5).withColumnRenamed("id", "v"), "t")

    # make the table idle: backdate every commit far past any cutoff
    old = int(time.time() * 1000) - 72 * 3600 * 1000
    for c in cat.log("main"):
        c["timestamp_ms"] = old
        cat._write_commit(c)

    cat.create_branch("wap-inflight", "main")  # append hasn't landed yet
    assert cat.prune_branches(24) == [], (
        "fresh branch on an idle table must survive the janitor"
    )
    assert cat.branch_exists("wap-inflight")

    # legacy refs (no creation stamp) fall back to head-commit age
    payload, token = cat._store.get("refs.json")
    payload = dict(payload)
    payload["branch_created_ms"] = {}
    assert cat._store.put_if("refs.json", payload, token)
    assert cat.prune_branches(24) == ["wap-inflight"]


def test_pipeline_self_tending_maintenance(spark, warehouse, tmp_path):
    """Full self-tending ingest: periodic compaction + expiry now also
    reclaims orphaned files and prunes aged forensic branches; run_file
    accepts the JSON/CSV landing formats."""
    from no_jvm_wap_with_iceberg_spark.sources.datagen import generate_batch

    cat = Catalog(warehouse)
    pipe = WapPipeline(
        cat,
        "t",
        [NotNullCheck("my_col_1")],
        compact_every=1,  # every publish opens a maintenance window
        expire_keep_last=1,
        reclaim_orphans=True,
        orphan_grace_hours=0.0,  # single-writer test: reclaim immediately
        prune_forensics_hours=0.0,  # prune immediately for the test
    )
    for seed in range(3):
        assert pipe.run_batch(
            spark, generate_batch(spark, n=40, no_null=True, seed=seed)
        ).published
    # dirty batch leaves a forensic branch...
    assert not pipe.run_batch(
        spark, generate_batch(spark, n=20, no_null=False, seed=99)
    ).published
    assert any(b.startswith("wap-") for b in cat.list_branches())
    # ...which the next publish's maintenance window prunes; orphan
    # reclaim keeps the file tree tight
    assert pipe.run_batch(
        spark, generate_batch(spark, n=40, no_null=True, seed=7)
    ).published
    assert cat.list_branches() == ["main"]
    assert cat.row_count("t", "main") == 40 * 4

    # run_file over a landed JSON file
    jdir = str(tmp_path / "landed_json")
    batch = generate_batch(spark, n=25, no_null=True, seed=42).coalesce(1)
    batch.write.json(jdir)
    jfile = next(
        str(p) for p in __import__("pathlib").Path(jdir).glob("*.json")
    )
    r = pipe.run_file(spark, jfile)
    assert r.published
    assert cat.row_count("t", "main") == 40 * 4 + 25


# -- the staged-branch lifecycle: fork, audit, publish or keep ---------


class _RivalOnMain(Check):
    """Passes, but first commits a rival table to main — the audit
    window is where a concurrent publish lands in production."""

    name = "rival_on_main"

    def __init__(self, every_run: bool):
        self.every_run = every_run
        self.runs = 0

    def run(self, ctx):
        self.runs += 1
        if self.every_run or self.runs == 1:
            ctx.catalog.create_table(
                f"rival_{self.runs}", T.StructType([T.StructField("x", T.LongType())])
            )
        return CheckResult(self.name, True, {})


def _wap_branches(cat) -> list[str]:
    return [b for b in cat.list_branches() if b.startswith("wap-")]


def test_failed_append_leaves_no_wap_branch(spark, warehouse):
    p = _pipeline(warehouse)
    p.run_batch(spark, generate_batch(spark, 10, no_null=True))
    bad = generate_batch(spark, 10, no_null=True).withColumn(
        "my_col_0", F.lit("not a number")
    )
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        p.run_batch(spark, bad)
    assert _wap_branches(p.catalog) == []
    assert p.catalog.row_count(TABLE, "main") == 10


def test_commit_on_main_during_audit_reruns_on_fresh_fork(spark, warehouse):
    rival = _RivalOnMain(every_run=False)
    alerts = []
    p = WapPipeline(
        Catalog(warehouse), TABLE, [rival], alert=lambda b, r: alerts.append(r)
    )
    res = p.run_batch(spark, generate_batch(spark, 100, no_null=True))
    assert res.published and not alerts
    assert rival.runs == 2, "the batch did not re-run on a fresh fork"
    assert p.catalog.row_count(TABLE, "main") == 100  # the batch, once
    assert "rival_1" in p.catalog.list_tables()
    assert _wap_branches(p.catalog) == []
    assert {"append", "audit", "publish", "total"} <= set(res.timings)


def test_publish_conflict_every_attempt_alerts_publish(spark, warehouse):
    rival = _RivalOnMain(every_run=True)
    alerts = []
    p = WapPipeline(
        Catalog(warehouse), TABLE, [rival],
        alert=lambda b, r: alerts.append([c.check for c in r if not c.passed]),
    )
    res = p.run_batch(spark, generate_batch(spark, 100, no_null=True))
    assert not res.published
    assert res.failed_checks == ["publish"]
    assert alerts == [["publish"]]
    assert rival.runs == 4  # the first try and three retries
    assert p.catalog.row_count(TABLE, "main") == 0
    assert _wap_branches(p.catalog) == []
    assert {"append", "audit", "publish", "total"} <= set(res.timings)
