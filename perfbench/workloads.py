"""The benchmark's workloads: seeded, single-client, closed loops that
drive the engine only through ``Catalog``, ``WapPipeline``,
``Catalog.sql`` and the ``RefStore`` the catalog is built on.

A workload is a deterministic stream of operations, cut into units
(a cycle of landed files, a round of reads) that repeat the same mix.
Each operation is a timed call into the engine plus an untimed answer
check against the model in ``datagen``; the stream depends only on the
seed, so every run with one seed does identical work in identical
order. Runs measure whole units, so every run measures the same mix.
"""

from __future__ import annotations

import collections
import dataclasses
import os
import shutil
import time
from typing import Any, Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

import datagen
import harness
from no_jvm_wap_with_iceberg_spark.catalog.catalog import Catalog
from no_jvm_wap_with_iceberg_spark.catalog.pruning import Predicate
from no_jvm_wap_with_iceberg_spark.wap.checks import NotNullCheck, RangeCheck
from no_jvm_wap_with_iceberg_spark.wap.pipeline import WapPipeline, branch_report

REF_COLS = ["my_col_0", "my_col_1", "my_col_2"]
# the reference's Snowflake query (README "querying the lake")
REF_QUERY = "SELECT SUM(my_col_0) AS s0, AVG(my_col_2) AS a2, COUNT(*) AS n FROM {t}"
# yielded by a workload's operation stream after the last operation of a unit
END_OF_UNIT = None


@dataclasses.dataclass
class Op:
    kind: str
    call: Callable[[], Any]
    check: Callable[[Any], bool]
    table: str | None = None


class Recorder:
    """Latencies by operation kind, and the answer-check tally."""

    def __init__(self, tracer, cpu: Callable[[], float], spark=None):
        self.spark = spark
        self.tracer = tracer
        self.cpu = cpu
        self.lat: dict[str, list[float]] = collections.defaultdict(list)
        self.cpu_s: dict[str, list[float]] = collections.defaultdict(list)
        self.probing = False  # run the speed probe before each operation
        self.probe_s: list[tuple[float, float]] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.measuring = False
        self.busy_cpu_s = 0.0  # summed CPU seconds of measured operations

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def run(self, op: Op) -> None:
        self.attempted += 1
        if self.probing:
            self.probe_s.append(harness.speed_probe(self.spark, self.cpu))
        try:
            with self.tracer.op(op.kind, op.table):
                c0 = self.cpu()
                t0 = time.perf_counter()
                out = op.call()
                dt = time.perf_counter() - t0
                dc = self.cpu() - c0
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.fail(f"{op.kind}: {type(e).__name__}: {e}"[:300])
            return
        self.tracer.note_result(out)
        if self.measuring:
            self.lat[op.kind].append(dt)
            self.cpu_s[op.kind].append(dc)
            self.busy_cpu_s += dc
        try:
            ok = op.check(out)
        except Exception as e:  # noqa: BLE001 - a check that cannot run is a failed answer
            self.fail(f"{op.kind} check: {type(e).__name__}: {e}"[:300])
            return
        if not ok:
            self.fail(f"{op.kind}: wrong answer")

    def run_unit(self, stream: Iterator[Op | None]) -> None:
        """Run the operations of the stream's next unit."""
        for op in stream:
            if op is END_OF_UNIT:
                return
            self.run(op)

    def verify(self, what: str, ok: bool) -> None:
        """An end-of-cycle or end-of-run state check."""
        self.attempted += 1
        if not ok:
            self.fail(f"verify {what}")


class Workload:
    name = ""
    setup_repeats = 3  # measured set-ups, after the measured units
    measure_units = 1  # units an untraced run measures at least
    trace_units = 1  # units a traced run replays after the warm-up unit
    READS: tuple[str, ...] = ()  # the read kinds behind read_cpu_s

    def __init__(self, spark, seed: int, tracer, rec: Recorder, work: str):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.rec = rec
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.user_bytes = 0
        self.warehouses: list[str] = []
        self.external_bytes = 0

    def catalog(self, warehouse: str) -> Catalog:
        cat = Catalog(warehouse, store=self.tracer.store(warehouse))
        self.tracer.instrument(cat)
        return cat

    def stored_bytes(self) -> int:
        """Everything the engine keeps for the workload: data files,
        metadata and sidecars in every warehouse, plus registered
        external files."""
        return sum(harness.tree_bytes(wh, ("",)) for wh in self.warehouses) + self.external_bytes

    def fresh(self, tag: str) -> str:
        wh = os.path.join(self.work, f"wh-{tag}")
        shutil.rmtree(wh, ignore_errors=True)
        return wh

    # subclasses: generate(), setup(warehouse), ops(), finish()


# ----------------------------------------------------------------------
class WapStream(Workload):
    """Landed files through write -> audit -> publish-or-quarantine.

    Files land in cycles of CYCLE files per table; a fresh table per
    cycle keeps compaction cost bounded, so every cycle repeats the same
    mix of fast and compacting batches. The files in DIRTY_SLOTS carry
    the trailing all-NULL row. After every POLL_EVERY files a dashboard
    poll reads the table: branch_report, a lookup, the reference's
    aggregate query and the change feed of the last publish. A cycle is
    the stream's unit; the warm-up unit is a cycle cut to WARM_FILES.
    """

    name = "wap_stream"
    FILE_ROWS = 20_000
    PUBLISH_ROWS = FILE_ROWS
    CYCLE = 16
    # fixed, so every seed publishes, quarantines and compacts at the
    # same points of a cycle; the seed picks the data
    DIRTY_SLOTS = (4, 10)
    POLL_EVERY = 2
    COMPACT_EVERY = 10
    KEEP_LAST = 10
    WARM_FILES = 12  # reaches the first two compactions of a cycle
    READS = ("read_meta", "read_point", "read_sql", "read_changes")

    def generate(self) -> None:
        self.n_setup = 0

    def _land(self, name: str, r, dirty: bool) -> tuple[str, dict]:
        n = self.FILE_ROWS - 1 if dirty else self.FILE_ROWS
        cols = datagen.reference_columns(r, n)
        path = os.path.join(self.inputs, f"{name}.parquet")
        size = datagen.reference_file(path, cols, dirty)
        return path, {"cols": cols, "bytes": size, "dirty": dirty}

    def _pipeline(self, cat: Catalog, table: str) -> WapPipeline:
        checks = [NotNullCheck(*REF_COLS), RangeCheck("my_col_2", 0.0, 1000.0)]
        self.tracer.instrument_checks(checks)
        return WapPipeline(
            cat,
            table,
            checks,
            alert=self._alert,
            compact_every=self.COMPACT_EVERY,
            expire_keep_last=self.KEEP_LAST,
        )

    def _alert(self, branch: str, results) -> None:
        self.alerts.append(branch)

    def setup(self, warehouse: str) -> None:
        """A fresh catalog and its first published file."""
        self.warehouses = [warehouse]
        self.alerts: list[str] = []
        self.cat = self.catalog(warehouse)
        path, info = self._land(f"setup-{self.n_setup}", datagen.rng(self.seed, 0, self.n_setup), False)
        self.n_setup += 1
        res = self._pipeline(self.cat, "landing_setup").run_file(self.spark, path)
        self.rec.verify("setup publish", res.published)
        self.user_bytes = info["bytes"]

    def ops(self) -> Iterator[Op | None]:
        yield from self._cycle(0, self.WARM_FILES)
        cycle = 1
        while True:
            yield from self._cycle(cycle, self.CYCLE)
            cycle += 1

    def _cycle(self, c: int, files: int) -> Iterator[Op | None]:
        spark, cat = self.spark, self.cat
        table = f"events_{c:03d}"
        pipe = self._pipeline(cat, table)
        r = datagen.rng(self.seed, 1, c)
        clean: list[dict] = []
        pre_publish = None
        first = None
        for j in range(files):
            path, info = self._land(f"c{c:03d}-f{j:02d}", r, j in self.DIRTY_SLOTS)
            first = first or path
            self.user_bytes += info["bytes"]
            if info["dirty"]:
                self.alerts.clear()
                yield Op(
                    "quarantine",
                    lambda p=path: pipe.run_file(spark, p),
                    lambda res, info=info: self._check_quarantine(res, table, clean, info),
                    table,
                )
            else:
                if clean:
                    pre_publish = cat.load_table(table).current_snapshot_id
                yield Op(
                    "publish",
                    lambda p=path: pipe.run_file(spark, p),
                    lambda res, info=info: self._check_publish(res, table, clean, info),
                    table,
                )
            if j % self.POLL_EVERY == self.POLL_EVERY - 1:
                yield from self._poll(table, r, clean, pre_publish)
        self._end_cycle(pipe, table, clean, first)
        yield END_OF_UNIT

    def _check_publish(self, res, table, clean, info) -> bool:
        if not res.published or res.skipped:
            return False
        clean.append(info)
        return self.cat.row_count(table) == sum(len(i["cols"]["my_col_0"]) for i in clean)

    def _check_quarantine(self, res, table, clean, info) -> bool:
        if res.published or not res.branch or self.alerts != [res.branch]:
            return False
        main_rows = sum(len(i["cols"]["my_col_0"]) for i in clean)
        ok = (
            self.cat.branch_exists(res.branch)
            and self.cat.row_count(table) == main_rows
            and self.cat.row_count(table, res.branch) == main_rows + len(info["cols"]["my_col_0"]) + 1
            and self.cat.null_count(table, "my_col_0", res.branch) == 1
        )
        # forensics done: close the branch, so every dashboard poll
        # reports the same number of branches
        self.cat.drop_branch(res.branch)
        return ok

    def _poll(self, table, r, clean, pre_publish) -> Iterator[Op]:
        spark, cat = self.spark, self.cat
        rows = sum(len(i["cols"]["my_col_0"]) for i in clean)
        all0 = np.concatenate([i["cols"]["my_col_0"] for i in clean])
        all2 = np.concatenate([i["cols"]["my_col_2"] for i in clean])

        def meta_ok(report) -> bool:
            want = {"branch": "main", "rows": rows, **{f"nulls_{c}": 0 for c in REF_COLS}}
            return report == [want]

        yield Op("read_meta", lambda: branch_report(spark, cat, table, REF_COLS), meta_ok, table)

        v = int(all0[int(r.integers(0, len(all0)))])
        want = int(np.count_nonzero(all0 == v))
        yield Op(
            "read_point",
            lambda: cat.read(spark, table, predicates=[Predicate.eq("my_col_0", v)])
            .filter(F.col("my_col_0") == v)
            .collect(),
            lambda got: len(got) == want and all(g["my_col_0"] == v for g in got),
            table,
        )

        s0 = int(all0.astype(np.int64).sum())
        a2 = float(all2.mean())
        yield Op(
            "read_sql",
            lambda: cat.sql(spark, REF_QUERY.format(t=table)).collect()[0],
            lambda got: got["n"] == rows and got["s0"] == s0 and datagen.close(got["a2"], a2),
            table,
        )

        last = clean[-1]["cols"]
        want_rows = len(last["my_col_0"])
        want_s0 = int(last["my_col_0"].astype(np.int64).sum())
        yield Op(
            "read_changes",
            lambda: cat.read_changes(spark, table, pre_publish)
            .groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("my_col_0").alias("s0"))
            .collect(),
            lambda got: {g["_change_type"]: (g["n"], g["s0"]) for g in got}
            == {"insert": (want_rows, want_s0)},
            table,
        )

    def _end_cycle(self, pipe, table, clean, first: str) -> None:
        """Untimed: the whole table against the model, and replaying the
        cycle's first (always clean) file is skipped."""
        rec = self.rec
        all0 = np.concatenate([i["cols"]["my_col_0"] for i in clean]).astype(np.int64)
        got = (
            self.cat.read(self.spark, table)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("my_col_0").alias("s0"))
            .collect()[0]
        )
        rec.verify("cycle contents", got["n"] == len(all0) and got["s0"] == int(all0.sum()))
        rec.verify("replayed ingest_key skipped", pipe.run_file(self.spark, first).skipped)

    def finish(self) -> None:
        pass


# ----------------------------------------------------------------------
class LakehouseReads(Workload):
    """Readers of a table that streaming ingest left in many small files.

    The events table (reference columns plus a key and an event time,
    partitioned by day) is registered from DAYS x FILES_PER_DAY small
    files. A round, the stream's unit, publishes two small landed
    files through WAP, reading each one's change-feed window, and serves
    a fixed mix of reads: three branch_report polls, three key lookups,
    the reference's aggregate query through Catalog.sql and a day-range
    aggregate. Rounds 1 and 2 (round 0 is the warm-up) also apply one
    correction batch each to a bucketed, bloom-filtered accounts table:
    a keyed SQL MERGE, then a SQL DELETE.
    """

    name = "lakehouse_reads"
    DAYS = 6
    FILES_PER_DAY = 8
    FILE_ROWS = 500
    PUBLISH_ROWS = FILE_ROWS
    ACCOUNTS = 20_000
    UPSERT = 200
    UPSERT_NEW = 50
    DELETE_SPAN = 50
    measure_units = 2  # rounds 1-2, with the MERGE and the DELETE
    trace_units = 2
    READS = ("read_meta", "read_point", "read_sql", "read_changes", "read_range")

    def generate(self) -> None:
        """The base event files, written once and registered (zero-copy)
        by every setup."""
        r = datagen.rng(self.seed, 10)
        self.base_dir = os.path.join(self.inputs, "events")
        self.base_parts = []
        self.base_bytes = 0
        i = 0
        for d in range(self.DAYS):
            for f in range(self.FILES_PER_DAY):
                cols = datagen.event_columns(r, i * self.FILE_ROWS, self.FILE_ROWS, d)
                path = os.path.join(self.base_dir, f"day={datagen.day_of(d)}", f"part-{i:05d}.parquet")
                self.base_bytes += datagen.write(path, datagen.event_table(cols, with_day=False))
                self.base_parts.append(cols)
                i += 1
        ra = datagen.rng(self.seed, 11)
        self.acct_ids = np.arange(self.ACCOUNTS, dtype=np.int64)
        self.acct_bal = ra.integers(0, 10_000, size=self.ACCOUNTS).astype(np.int64)
        self.acct_tier = [("gold", "silver", "bronze")[k] for k in ra.integers(0, 3, size=self.ACCOUNTS)]
        self.acct_path = os.path.join(self.inputs, "accounts.parquet")
        self.acct_bytes = datagen.write(self.acct_path, self._acct_table(self.acct_ids, self.acct_bal, self.acct_tier))
        self.n_setup = 0

    @staticmethod
    def _acct_table(ids, bal, tier) -> pa.Table:
        return pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "balance": pa.array(bal, pa.int64()),
                "tier": pa.array(tier, pa.string()),
            }
        )

    def _pipeline(self) -> WapPipeline:
        checks = [NotNullCheck("id", "ts", *REF_COLS), RangeCheck("my_col_2", 0.0, 1000.0)]
        self.tracer.instrument_checks(checks)
        return WapPipeline(self.cat, "events", checks, alert=lambda b, r: None, compact_every=None)

    def setup(self, warehouse: str) -> None:
        """A fresh catalog holding the registered events table, and one
        holding the loaded accounts table."""
        spark = self.spark
        self.cat = cat = self.catalog(warehouse)
        cat.add_files(spark, "events", self.base_dir)
        self.events = datagen.EventModel()
        for cols in self.base_parts:
            self.events.add(cols)
        self.next_id = self.DAYS * self.FILES_PER_DAY * self.FILE_ROWS
        self.pipe = self._pipeline()
        self.r_pub = datagen.rng(self.seed, 12, self.n_setup)
        self.landed = 0
        self.publish_snaps: list[int | None] = []
        self.user_bytes = self.base_bytes
        # the corrected table lives in a catalog of its own, so reads of
        # events never build its views and corrections never build
        # the events view
        acct_wh = f"{warehouse}-accounts"
        shutil.rmtree(acct_wh, ignore_errors=True)
        self.acat = self.catalog(acct_wh)
        self.warehouses = [warehouse, acct_wh]
        self.external_bytes = self.base_bytes
        acct = spark.read.parquet(self.acct_path)
        self.acat.create_table(
            "accounts", acct.schema, partition_by=["bucket(4, id)"], bloom_cols=["id"]
        )
        self.acat.append(acct, "accounts")
        self.user_bytes += self.acct_bytes
        self.accounts = datagen.KeyedModel(self.acct_ids, self.acct_bal, self.acct_tier)
        self.next_acct = self.ACCOUNTS
        self.queued: list[tuple] = []
        self.n_setup += 1

    def _land_events(self):
        snap = self.cat.load_table("events").current_snapshot_id
        cols = datagen.event_columns(self.r_pub, self.next_id, self.FILE_ROWS, self.DAYS - 1)
        self.next_id += self.FILE_ROWS
        path = os.path.join(self.inputs, f"land-{self.n_setup}-{self.landed:04d}.parquet")
        self.landed += 1
        size = datagen.write(path, datagen.event_table(cols, with_day=True))
        return snap, path, cols, size

    def _published(self, snap, cols, size) -> None:
        self.events.add(cols)
        self.publish_snaps.append(snap)
        self.user_bytes += size

    def ops(self) -> Iterator[Op | None]:
        r = datagen.rng(self.seed, 13)
        rnd = 0
        while True:
            yield self._publish()
            yield self._changes()
            yield self._meta()
            yield self._point(r)
            yield self._sql()
            yield self._publish()
            yield self._changes()
            yield self._meta()
            yield self._point(r)
            yield self._range(r)
            yield self._point(r)
            yield self._meta()
            if rnd == 1:
                yield self._merge(r, 0)
            elif rnd == 2:
                yield self._delete(r)
            yield END_OF_UNIT
            rnd += 1

    def _meta(self) -> Op:
        rows = self.events.count()
        return Op(
            "read_meta",
            lambda: branch_report(self.spark, self.cat, "events", ["my_col_0"]),
            lambda rep: [(x["branch"], x["rows"], x["nulls_my_col_0"]) for x in rep]
            == [("main", rows, 0)],
            "events",
        )

    def _point(self, r) -> Op:
        key = int(r.integers(0, self.events.count()))
        want = self.events.row(key)
        return Op(
            "read_point",
            lambda: self.cat.read(self.spark, "events", predicates=[Predicate.eq("id", key)])
            .filter(F.col("id") == key)
            .collect(),
            lambda got: len(got) == 1 and (got[0]["my_col_0"], got[0]["my_col_2"]) == want,
            "events",
        )

    def _range(self, r) -> Op:
        lo = int(r.integers(0, self.DAYS - 1))
        hi = lo + 1
        want = self.events.days(lo, hi)
        dlo, dhi = datagen.day_of(lo), datagen.day_of(hi)
        return Op(
            "read_range",
            lambda: self.cat.read(
                self.spark, "events", predicates=Predicate.between("day", dlo, dhi)
            )
            .filter(F.col("day").between(dlo, dhi))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("my_col_0").alias("s0"))
            .collect()[0],
            lambda got: (got["n"], got["s0"]) == want,
            "events",
        )

    def _sql(self) -> Op:
        ev = self.events
        want = (ev.count(), ev.sum0(), ev.mean2())
        return Op(
            "read_sql",
            lambda: self.cat.sql(self.spark, REF_QUERY.format(t="events")).collect()[0],
            lambda got: (got["n"], got["s0"]) == want[:2] and datagen.close(got["a2"], want[2]),
            "events",
        )

    def _changes(self) -> Op:
        since = self.publish_snaps[-1]
        parts = self.events.parts[-1:]
        want = (
            sum(len(p["id"]) for p in parts),
            sum(int(p["my_col_0"].astype(np.int64).sum()) for p in parts),
        )
        return Op(
            "read_changes",
            lambda: self.cat.read_changes(self.spark, "events", since)
            .groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("my_col_0").alias("s0"))
            .collect(),
            lambda got: {g["_change_type"]: (g["n"], g["s0"]) for g in got} == {"insert": want},
            "events",
        )

    def _publish(self) -> Op:
        snap, path, cols, size = self._land_events()

        def check(res) -> bool:
            if not res.published:
                return False
            self._published(snap, cols, size)
            return self.cat.row_count("events") == self.events.count()

        return Op("publish", lambda: self.pipe.run_file(self.spark, path), check, "events")

    def _merge(self, r, k: int) -> Op:
        keys = np.array(sorted(self.accounts.rows), dtype=np.int64)
        upd = r.choice(keys, size=self.UPSERT - self.UPSERT_NEW, replace=False)
        new = np.arange(self.next_acct, self.next_acct + self.UPSERT_NEW, dtype=np.int64)
        self.next_acct += self.UPSERT_NEW
        ids = np.concatenate([upd, new])
        bal = np.array(
            [self.accounts.rows.get(int(i), (0, ""))[0] for i in ids], dtype=np.int64
        ) + r.integers(1, 1000, size=len(ids))
        tier = [("gold", "silver", "bronze")[t] for t in r.integers(0, 3, size=len(ids))]
        path = os.path.join(self.inputs, f"upsert-{self.n_setup}-{k:04d}.parquet")
        size = datagen.write(path, self._acct_table(ids, bal, tier))
        self.spark.read.parquet(path).createOrReplaceTempView("account_updates")
        snap = self.acat.load_table("accounts").current_snapshot_id
        stmt = (
            "MERGE INTO accounts t USING account_updates s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )

        def check(_res) -> bool:
            self.user_bytes += size
            updated, inserted = self.accounts.upsert(ids, bal, tier)
            rows = {int(i): (int(b), t) for i, b, t in zip(ids, bal, tier)}
            self._queue_checks(snap, updated, updated + inserted, rows, int(upd[0]))
            return True

        return Op("merge", lambda: self.acat.sql(self.spark, stmt), check, "accounts")

    def _delete(self, r) -> Op:
        lo = int(r.integers(0, self.ACCOUNTS - self.DELETE_SPAN))
        hi = lo + self.DELETE_SPAN
        snap = self.acat.load_table("accounts").current_snapshot_id
        stmt = f"DELETE FROM accounts WHERE id >= {lo} AND id < {hi}"

        def check(_res) -> bool:
            gone = self.accounts.delete_range(lo, hi)
            self._queue_checks(snap, gone, 0, {}, lo)
            return True

        return Op("delete", lambda: self.acat.sql(self.spark, stmt), check, "accounts")

    def _queue_checks(self, snap, deletes: int, inserts: int, rows: dict, key: int) -> None:
        """Queue the checks of one correction commit for ``finish``, so
        they stay out of the measured loop: its change feed against the
        model's delete and insert counts and inserted values, and a
        lookup of a key it touched, read at that commit."""
        after = self.acat.load_table("accounts").current_snapshot_id
        self.queued.append((snap, after, deletes, inserts, rows, key, self.accounts.rows.get(key)))

    def _feed_ok(self, snap, after, deletes: int, inserts: int, rows: dict) -> bool:
        feed = self.acat.read_changes(self.spark, "accounts", snap, after).toPandas()
        kinds = feed["_change_type"].value_counts().to_dict()
        want = {k: n for k, n in (("delete", deletes), ("insert", inserts)) if n}
        ins = feed[feed["_change_type"] == "insert"]
        return kinds == want and all(
            rows.get(int(i)) == (int(b), t)
            for i, b, t in zip(ins["id"], ins["balance"], ins["tier"])
        )

    def _lookup_ok(self, after, key: int, want) -> bool:
        got = (
            self.acat.read(
                self.spark, "accounts", snapshot_id=after, predicates=[Predicate.eq("id", key)]
            )
            .filter(F.col("id") == key)
            .collect()
        )
        if want is None:
            return got == []
        return len(got) == 1 and (got[0]["balance"], got[0]["tier"]) == want

    def finish(self) -> None:
        """Untimed: every queued correction check, then both tables
        against their models."""
        for snap, after, deletes, inserts, rows, key, want in self.queued:
            self.rec.verify("correction change feed", self._feed_ok(snap, after, deletes, inserts, rows))
            self.rec.verify("correction lookup", self._lookup_ok(after, key, want))
        self.queued.clear()
        got = self.acat.read(self.spark, "accounts").toPandas().sort_values("id")
        want = sorted(self.accounts.rows.items())
        self.rec.verify(
            "accounts contents",
            len(got) == len(want)
            and list(got["id"]) == [k for k, _ in want]
            and list(got["balance"]) == [v[0] for _, v in want]
            and list(got["tier"]) == [v[1] for _, v in want],
        )
        row = (
            self.cat.read(self.spark, "events")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("my_col_0").alias("s0"))
            .collect()[0]
        )
        self.rec.verify("events contents", (row["n"], row["s0"]) == (self.events.count(), self.events.sum0()))


WORKLOADS = {w.name: w for w in (WapStream, LakehouseReads)}
