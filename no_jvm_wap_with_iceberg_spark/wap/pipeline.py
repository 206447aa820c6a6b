"""The Write-Audit-Publish pipeline — the engine's control plane.

Re-expresses the reference's Lambda handler
(``lambda_handler``, ``src/serverless/app.py:235-317``) as a reusable
driver-side orchestration over the branching catalog:

    ingest batch → ensure table → create branch → append on branch
    → audit the branch as committed → publish (fast-forward + drop, one CAS)
    or leave the branch open for forensics and alert.

Differences from the reference, all deliberate upgrades:

- **Engine**: the append and every audit query run distributed on
  Spark executors instead of single-process Arrow (the reference's
  scalability cliff, SURVEY §4).
- **Incremental audit**: optionally audit only the files the new
  snapshot added (reference re-scans the whole table per batch).
- **Idempotence**: an optional ``ingest_key`` skips batches already
  committed to the branch's history (the reference double-appends on
  event redelivery, SURVEY §2.7).
"""

from __future__ import annotations

import dataclasses
import time
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from no_jvm_wap_with_iceberg_spark.catalog.catalog import (
    MAIN,
    Catalog,
    CommitConflict,
)
from no_jvm_wap_with_iceberg_spark.wap.checks import AuditContext, Check, CheckResult

AlertFn = Callable[[str, list[CheckResult]], None]


class _AlreadyIngested(Exception):
    """A retry found its batch published by a racing pipeline."""


def _noop_alert(branch: str, results: list[CheckResult]) -> None:
    """Default alert channel: print (mirrors the reference's Slack
    sender degrading to a no-op when unconfigured,
    ``src/serverless/app.py:76-78``)."""
    failed = [r.check for r in results if not r.passed]
    print(f"[wap-alert] audit failed on branch {branch!r}: {failed}")


@dataclasses.dataclass
class WapResult:
    published: bool
    branch: str
    table: str
    snapshot_id: int | None
    results: list[CheckResult]
    timings: dict[str, float]
    skipped: bool = False

    @property
    def failed_checks(self) -> list[str]:
        return [r.check for r in self.results if not r.passed]


class WapPipeline:
    """One WAP unit: (table, checks, alerter) over a catalog."""

    def __init__(
        self,
        catalog: Catalog,
        table: str,
        checks: Sequence[Check],
        alert: AlertFn = _noop_alert,
        branch_prefix: str = "wap",
        incremental_audit: bool = True,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        compact_every: int | None = None,
        compact_target_file_mb: int = 128,
        expire_keep_last: int | None = 10,
        batch_write_partitions: int | None = 1,
        reclaim_orphans: bool = False,
        orphan_grace_hours: float = 3.0,
        prune_forensics_hours: float | None = None,
    ):
        self.catalog = catalog
        self.table = table
        self.checks = list(checks)
        self.alert = alert
        self.branch_prefix = branch_prefix
        self.incremental_audit = incremental_audit
        self.partition_by = partition_by
        self.sort_by = sort_by
        # streaming ingest writes one small file set per micro-batch;
        # compact on main after every N published appends so long-running
        # ingest never degrades reads (a best-effort optimistic commit —
        # losing the race to a concurrent append just skips this round),
        # and expire old snapshots with it so per-batch metadata stays
        # O(window), not O(all history) — without expiry a 100-batch
        # soak showed per-batch latency growing 1.8x purely from
        # re-serializing ever-larger snapshot metadata
        self.compact_every = compact_every
        self.compact_target_file_mb = compact_target_file_mb
        self.expire_keep_last = expire_keep_last
        # a micro-batch otherwise writes one file per shuffle partition
        # (32 tiny files per 2k-row batch): coalesce the write so file
        # count — and the per-file stats the commit carries — tracks
        # batch size, not core count. None disables (big batch loads).
        self.batch_write_partitions = batch_write_partitions
        # full self-tending ingest: with reclaim_orphans the periodic
        # maintenance window also deletes unreferenced files (safe only
        # after expire squashes the history that referenced them, and
        # only past orphan_grace_hours — a concurrent pipeline's files
        # exist on disk before its commit CAS lands, so younger
        # unreferenced files may be in-flight, never garbage), and
        # prune_forensics_hours ages out wap-* branches dirty batches
        # left behind — without it a noisy source leaks one branch per
        # failed audit forever
        self.reclaim_orphans = reclaim_orphans
        self.orphan_grace_hours = orphan_grace_hours
        self.prune_forensics_hours = prune_forensics_hours

    # ------------------------------------------------------------------
    def _ensure_table(self, df: DataFrame) -> None:
        """Lazy idempotent creation from the first batch's schema
        (reference ``create_table_if_not_exists``, ``app.py:117-143``)."""
        if not self.catalog.table_exists(self.table, MAIN):
            self.catalog.create_table(
                self.table,
                df.schema,
                MAIN,
                partition_by=self.partition_by,
                sort_by=self.sort_by,
                if_not_exists=True,
            )

    # ------------------------------------------------------------------
    def run_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        ingest_key: str | None = None,
        _publish_retries: int = 3,
    ) -> WapResult:
        """Execute one full WAP cycle for a batch DataFrame: one
        :meth:`Catalog.with_branch` lifecycle, re-run on a fresh fork
        when ``main`` moved before the publish."""
        timings: dict[str, float] = {}
        t0 = time.time()
        skipped = WapResult(
            published=False,
            branch="",
            table=self.table,
            snapshot_id=None,
            results=[],
            timings={"total": 0.0},
            skipped=True,
        )
        # O(1) sidecar index lookup, not a scan of the commit log
        if ingest_key is not None and self.catalog.has_ingest_key(ingest_key):
            return skipped

        self._ensure_table(batch)
        timings["ensure_table"] = time.time() - t0
        last: dict[str, Any] = {}  # the latest attempt that audited

        def attempt(branch: str) -> tuple[None, bool]:
            # a retry re-checks the key: a racing pipeline may have
            # published this batch meanwhile, and must not twice
            if last and ingest_key and self.catalog.has_ingest_key(ingest_key):
                raise _AlreadyIngested
            last.pop("t3", None)  # set again once this attempt audited
            # Write: append on the fork (reference app.py:287-295)
            t1 = time.time()
            prev_snapshot = self.catalog.load_table(
                self.table, branch
            ).current_snapshot_id
            to_write = batch
            if self.batch_write_partitions is not None:
                to_write = batch.coalesce(self.batch_write_partitions)
            meta = self.catalog.append(to_write, self.table, branch)
            timings["append"] = time.time() - t1

            # Audit: against the branch AS COMMITTED (app.py:197-203),
            # either the incremental slice or the whole table
            t2 = time.time()
            if self.incremental_audit:
                # just-appended files are the newest in the chain, so no
                # pending MoR delete can target them: stats are exact
                audit_files = meta.added_files_since(prev_snapshot)
                audit_df = self.catalog.read_incremental(
                    spark, self.table, branch, from_snapshot_id=prev_snapshot
                )
                files_exact = True
            else:
                audit_files = meta.files()
                audit_df = self.catalog.read(spark, self.table, branch)
                files_exact = not meta.has_pending_deletes()
            ctx = AuditContext(
                catalog=self.catalog,
                table=self.table,
                branch=branch,
                df=audit_df,
                files=audit_files,
                files_exact=files_exact,
            )
            # A check that THROWS (bad SQL, missing ref table, executor
            # failure) must quarantine the batch like a failed audit,
            # not crash the ingest loop — the branch stays open for
            # forensics and the error travels in the result detail.
            results = []
            for c in self.checks:
                try:
                    results.append(c.run(ctx))
                except Exception as e:  # noqa: BLE001 — audit isolation boundary
                    results.append(
                        CheckResult(
                            getattr(c, "name", type(c).__name__),
                            False,
                            {"error": f"{type(e).__name__}: {e}"},
                        )
                    )
            timings["audit"] = time.time() - t2
            last.update(branch=branch, meta=meta, results=results, t3=time.time())
            return None, all(r.passed for r in results)

        # Publish or alert (app.py:302-315)
        try:
            self.catalog.with_branch(
                attempt,
                prefix=self.branch_prefix,
                max_retries=_publish_retries,
            )
        except _AlreadyIngested:
            return skipped
        except CommitConflict:
            if "t3" not in last:
                raise  # not the publish: the attempt itself failed
            # give up loudly: main kept moving under every attempt
            error = {"error": "merge conflict retries exhausted"}
            last["results"] = last["results"] + [CheckResult("publish", False, error)]
        results = last["results"]
        published = all(r.passed for r in results)
        if published:
            if ingest_key is not None:
                # stamp the idempotence marker (O(1) sidecar index)
                self.catalog.stamp_ingest_key(ingest_key)
            self._maybe_compact(spark)
        else:
            self.alert(last["branch"], results)
        timings["publish"] = time.time() - last["t3"]
        timings["total"] = time.time() - t0

        return WapResult(
            published=published,
            branch=last["branch"],
            table=self.table,
            snapshot_id=last["meta"].current_snapshot_id,
            results=results,
            timings=timings,
        )

    def _maybe_compact(self, spark: SparkSession) -> None:
        if not self.compact_every:
            return
        meta = self.catalog.load_table(self.table, MAIN)
        appends = sum(1 for s in meta.snapshots if s.operation == "append")
        if appends and appends % self.compact_every == 0:
            try:
                self.catalog.compact(
                    spark, self.table, MAIN, self.compact_target_file_mb
                )
                if self.expire_keep_last is not None:
                    # squash pre-compaction history so snapshot metadata
                    # stays proportional to the maintenance window
                    self.catalog.expire_snapshots(
                        self.table, MAIN, keep_last=self.expire_keep_last
                    )
                    if self.reclaim_orphans:
                        self.catalog.remove_orphan_files(
                            self.table,
                            dry_run=False,
                            older_than_ms=int(
                                self.orphan_grace_hours * 3_600_000
                            ),
                        )
                if self.prune_forensics_hours is not None:
                    self.catalog.prune_branches(
                        self.prune_forensics_hours,
                        prefix=f"{self.branch_prefix}-",
                    )
            except Exception:
                pass  # best-effort maintenance; never fail the ingest

    # ------------------------------------------------------------------
    def run_file(self, spark: SparkSession, path: str) -> WapResult:
        """WAP one landed file (reference's per-S3-object unit,
        ``read_rows_into_arrow``, ``app.py:100-114``) — parquet, plus
        the JSON/CSV landing formats ``stream_wap`` accepts."""
        if path.endswith(".parquet"):
            df = spark.read.parquet(path)
        elif path.endswith((".json", ".jsonl")):
            df = spark.read.json(path)
        elif path.endswith(".csv"):
            df = spark.read.option("header", "true").option(
                "inferSchema", "true"
            ).csv(path)
        else:
            raise ValueError(
                f"unsupported landed file {path!r} (parquet/json/csv)"
            )
        return self.run_batch(spark, df, ingest_key=path)


# ----------------------------------------------------------------------
# Forensics read-path helpers (reference quality_app.py:43-76)
# ----------------------------------------------------------------------
def branch_report(
    spark: SparkSession, cat: Catalog, table: str, columns: Sequence[str]
) -> list[dict[str, Any]]:
    """Row/null counts per branch — the dashboard surface of the
    reference (``src/quality_app.py:59-76``), metadata-only here."""
    out = []
    for b in cat.list_branches():
        if not cat.table_exists(table, b):
            continue
        row: dict[str, Any] = {"branch": b, "rows": cat.row_count(table, b, spark=spark)}
        for c in columns:
            row[f"nulls_{c}"] = cat.null_count(table, c, b)
        out.append(row)
    return out
