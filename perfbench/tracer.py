"""Per-layer tracing from the benchmark's side of the API.

The traced run wraps, on one ``Catalog`` instance, the bound methods
that enter each layer; because the catalog's own ``self.`` calls look
methods up on the instance, nested calls go through the wrappers too,
so spans nest and each layer's self time falls out. It also counts
calls into the ``RefStore`` (through :class:`CountingStore`), times
each audit ``Check.run``, and puts every benchmark operation under its
own Spark job group so the status store attributes jobs and tasks to
it. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import collections
import contextlib
import json
import threading
import time
from typing import Any

from py4j.protocol import Py4JJavaError

from no_jvm_wap_with_iceberg_spark.catalog.store import LocalFSStore, RefStore

# method name on Catalog -> span name (the layer it enters)
CATALOG_SPANS = {
    "load_table": "catalog.load_table",
    "create_branch": "catalog.branch_verb",
    "merge": "catalog.branch_verb",
    "drop_branch": "catalog.branch_verb",
    "append": "catalog.append",
    "row_count": "catalog.stats",
    "null_count": "catalog.stats",
    "read": "plan.read",
    "read_incremental": "plan.read",
    "read_changes": "plan.read",
    "sql": "sql.statement",
    "create_views": "sql.views",
    "merge_into": "dml.merge_into",
    "delete_where": "dml.delete_where",
    "compact": "maint.compact",
    "expire_snapshots": "maint.expire",
}
PLAN_SPANS = {"plan.read", "sql.select"}

# per-layer metric -> unit, in report order
PER_LAYER = {
    "store.get": "count", "store.put": "count", "store.put_if": "count",
    "store.cas_lost": "count", "store.list": "count", "store.busy_s": "s",
    "store.bytes_written": "B", "store.ops_per_commit": "count",
    "catalog.load_table_calls": "count", "catalog.load_table_s": "s",
    "catalog.branch_verbs_s": "s", "catalog.commits": "count",
    "plan.build_s": "s", "plan.files_scanned": "count",
    "plan.files_live": "count", "plan.scan_ratio": "ratio",
    "sql.prepare_s": "s", "sql.views_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.action_s": "s",
    "spark.jobs_per_op": "count",
    "wap.append_s": "s", "wap.audit_s": "s", "wap.publish_s": "s",
    "checks.run_s": "s", "checks.metadata_ratio": "ratio",
    "maint.compactions_per_publish": "ratio", "maint.compact_s": "s",
    "maint.live_files": "count",
    "mor.pending_delete_files": "count", "mor.files_added": "count",
    "mor.files_removed": "count", "mor.files_touched_ratio": "ratio",
    "mor.merge_s": "s", "mor.delete_s": "s",
    "storage.data_bytes": "B", "storage.meta_bytes": "B",
    "storage.meta_bytes_per_commit": "B",
    "trace.overhead_ratio": "ratio",
}


class NullTracer:
    """Untraced runs: every hook is a no-op."""

    @contextlib.contextmanager
    def quiet(self):
        yield

    def store(self, warehouse: str) -> RefStore | None:
        return None

    def instrument(self, catalog) -> None:
        pass

    def instrument_checks(self, checks) -> None:
        pass

    @contextlib.contextmanager
    def op(self, kind: str, table: str | None = None):
        yield

    def note_result(self, result: Any) -> None:
        pass


class CountingStore(RefStore):
    """Delegating ``RefStore`` that counts and times every call."""

    def __init__(self, inner: RefStore, tracer: "Tracer"):
        self.inner = inner
        self.tracer = tracer

    def _timed(self, name: str, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.tracer.count(name, 1)
            self.tracer.count("store.busy_s", time.perf_counter() - t0)

    def get(self, key):
        return self._timed("store.get", self.inner.get, key)

    def put(self, key, payload):
        self._timed("store.put", self.inner.put, key, payload)
        self._written(key, payload)

    def put_if(self, key, payload, token):
        ok = self._timed("store.put_if", self.inner.put_if, key, payload, token)
        if ok:
            self._written(key, payload)
        else:
            self.tracer.count("store.cas_lost", 1)
        return ok

    def list_keys(self, prefix):
        return self._timed("store.list", self.inner.list_keys, prefix)

    def list_dirs(self, prefix):
        return self._timed("store.list", self.inner.list_dirs, prefix)

    def delete(self, key):
        self.inner.delete(key)

    def _written(self, key: str, payload) -> None:
        if self.tracer.paused:
            return
        self.tracer.count(
            "store.bytes_written", len(json.dumps(payload, default=str))
        )
        if key.startswith("commits/"):
            self.tracer.count("catalog.commits", 1)


class Tracer(NullTracer):
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict[str, Any]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.paused = 0
        self.current: dict[str, Any] | None = None
        self.ops: list[dict[str, Any]] = []
        self.raw: list[dict[str, Any]] = []  # unwrapped methods, per catalog
        self._seq = 0

    # -- counters ------------------------------------------------------
    def count(self, name: str, value: float) -> None:
        if self.paused or self.current is None:
            return
        with self._lock:
            c = self.current["counts"]
            c[name] = c.get(name, 0) + value

    @contextlib.contextmanager
    def quiet(self):
        """Instrumentation's own catalog calls are not counted."""
        self.paused += 1
        try:
            yield
        finally:
            self.paused -= 1

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if self.paused or self.current is None:
            yield None
            return
        st = self._stack()
        rec = {
            "op": self.current["id"],
            "name": name,
            "parent": st[-1] if st else self.current["span"],
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        st.append(idx)
        try:
            yield rec
        finally:
            st.pop()
            rec["end"] = time.perf_counter()

    # -- instrumentation ----------------------------------------------
    def store(self, warehouse: str) -> RefStore:
        return CountingStore(LocalFSStore(warehouse), self)

    def instrument(self, catalog) -> None:
        raw = {meth: getattr(catalog, meth) for meth in CATALOG_SPANS}
        self.raw.append(raw)
        for meth, span_name in CATALOG_SPANS.items():
            setattr(catalog, meth, self._wrap(meth, span_name, raw))

    def _wrap(self, meth: str, span_name: str, raw: dict):
        tracer = self
        orig = raw[meth]

        def wrapper(*args, **kwargs):
            name = span_name
            if meth == "sql":
                query = args[1] if len(args) > 1 else kwargs.get("query", "")
                head = query.lstrip().split(None, 1)[0].upper() if query.strip() else ""
                if head in ("SELECT", "WITH"):
                    name = "sql.select"
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
            if rec is not None and name in PLAN_SPANS and hasattr(out, "inputFiles"):
                tracer._plan_files(raw, rec, meth, args, kwargs, out)
            return out

        return wrapper

    def _plan_files(self, raw, rec, meth, args, kwargs, df) -> None:
        """Files the returned scan reads vs files live in the table."""
        with self.quiet():
            rec["files_scanned"] = len(df.inputFiles())
            branch = kwargs.get("branch", "main")
            if meth in ("read", "read_incremental") and len(args) > 2:
                branch = args[2]
            if meth == "sql":  # a SELECT: the table the operation reads
                table = self.current.get("table") if self.current else None
            else:
                table = args[1] if len(args) > 1 else kwargs.get("table")
            if table is not None:
                try:
                    rec["files_live"] = len(raw["load_table"](table, branch).files())
                except KeyError:
                    pass

    def instrument_checks(self, checks) -> None:
        for c in checks:
            orig = c.run

            def run(ctx, _orig=orig, _c=c):
                with self.span("checks.run", check=_c.name) as rec:
                    res = _orig(ctx)
                if rec is not None:
                    rec["sources"] = [
                        v.get("source") for v in res.detail.values() if isinstance(v, dict)
                    ]
                return res

            c.run = run

    # -- operations ----------------------------------------------------
    def _table_state(self, table: str | None):
        if table is None:
            return None
        meta = None
        with self.quiet():
            for raw in self.raw:
                try:
                    meta = raw["load_table"](table, "main")
                    break
                except KeyError:
                    continue
        if meta is None:
            return None
        fwd = meta.files_with_deletes()
        return {
            "snapshot": meta.current_snapshot_id,
            "live": len(fwd),
            "pending": sum(1 for _f, specs in fwd if specs),
            "meta": meta,
        }

    @contextlib.contextmanager
    def op(self, kind: str, table: str | None = None):
        if self.paused:
            yield
            return
        before = self._table_state(table)
        self._seq += 1
        gid = f"perfbench-{self._seq}"
        rec = {
            "id": self._seq,
            "kind": kind,
            "table": table,
            "counts": {},
            "span": None,
        }
        self.current = rec
        root = {
            "op": rec["id"], "name": f"op.{kind}", "parent": None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(root)
        rec["span"] = len(self.spans) - 1
        self.sc.setJobGroup(gid, kind)
        try:
            yield
        finally:
            root["end"] = time.perf_counter()
            self.sc._jsc.clearJobGroup()
            self.current = None
            rec["jobs"], rec["tasks"], rec["action_s"] = self._jobs(gid)
            after = self._table_state(table)
            if before is not None:
                rec["pending_before"] = before["pending"]
                rec["live_before"] = before["live"]
            if after is not None:
                rec["live_after"] = after["live"]
                rec["pending_after"] = after["pending"]
                rec["added"], rec["removed"] = self._delta(
                    after["meta"], before["snapshot"] if before else None
                )
            self.ops.append(rec)

    @staticmethod
    def _delta(meta, since: int | None) -> tuple[int, int]:
        by_id = {s.snapshot_id: s for s in meta.snapshots}
        added = removed = 0
        cur = meta.snapshot()
        while cur is not None and cur.snapshot_id != since:
            added += len(cur.added_files)
            removed += len(cur.removed_paths)
            cur = by_id.get(cur.parent_snapshot_id) if cur.parent_snapshot_id is not None else None
        return added, removed

    def _jobs(self, gid: str) -> tuple[int, int, float]:
        ids = self.sc.statusTracker().getJobIdsForGroup(gid)
        store = self.sc._jsc.sc().statusStore()
        tasks = 0
        busy = 0.0
        for jid in ids:
            try:
                jd = store.job(jid)
            except Py4JJavaError:  # the status store already evicted the job
                continue
            tasks += jd.numTasks()
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                busy += (done.get().getTime() - sub.get().getTime()) / 1000.0
        return len(ids), tasks, busy

    def note_result(self, result: Any) -> None:
        """WapPipeline phase timings of the op that just ran."""
        if self.ops and getattr(result, "timings", None):
            self.ops[-1]["wap"] = dict(result.timings)

    # -- summary -------------------------------------------------------
    def summary(self) -> tuple[dict[str, float], dict[str, dict]]:
        spans = self.spans
        child_time = collections.defaultdict(float)
        for s in spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        incl = collections.defaultdict(float)
        self_t = collections.defaultdict(float)
        calls = collections.Counter()
        plan_build = 0.0
        scanned = live = 0
        sources = []
        for i, s in enumerate(spans):
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            incl[s["name"]] += d
            self_t[s["name"]] += d - child_time[i]
            calls[s["name"]] += 1
            if s["name"] in PLAN_SPANS:
                p = s["parent"]
                nested = False
                while p is not None:
                    if spans[p]["name"] in PLAN_SPANS:
                        nested = True
                        break
                    p = spans[p]["parent"]
                if not nested:
                    plan_build += d
                    scanned += s.get("files_scanned", 0)
                    live += s.get("files_live", s.get("files_scanned", 0))
            if s["name"] == "checks.run":
                sources.extend(s.get("sources", []))
        ops = self.ops
        tot = collections.Counter()
        for o in ops:
            for k, v in o["counts"].items():
                tot[k] += v
        publishes = sum(1 for o in ops if o["kind"] == "publish")
        commits = tot["catalog.commits"]
        wap = collections.Counter()
        for o in ops:
            for k, v in o.get("wap", {}).items():
                wap[k] += v
        dml_ops = {s["op"] for s in spans if s["name"].startswith("dml.")}
        mor_ops = [o for o in ops if o["id"] in dml_ops and "added" in o]
        # share of the live files a DML commit rewrote or put under a
        # new pending delete
        touched = [
            (o["removed"] + max(o["pending_after"] - o["pending_before"], 0))
            / max(o["live_before"], 1)
            for o in mor_ops
            if "live_before" in o
        ]
        pub_live = [o["live_after"] for o in ops if o["kind"] == "publish" and "live_after" in o]
        m = {
            "store.get": tot["store.get"],
            "store.put": tot["store.put"],
            "store.put_if": tot["store.put_if"],
            "store.cas_lost": tot["store.cas_lost"],
            "store.list": tot["store.list"],
            "store.busy_s": tot["store.busy_s"],
            "store.bytes_written": tot["store.bytes_written"],
            "store.ops_per_commit": (
                sum(tot[k] for k in ("store.get", "store.put", "store.put_if", "store.list"))
                / commits if commits else 0.0
            ),
            "catalog.load_table_calls": calls["catalog.load_table"],
            "catalog.load_table_s": incl["catalog.load_table"],
            "catalog.branch_verbs_s": incl["catalog.branch_verb"],
            "catalog.commits": commits,
            "plan.build_s": plan_build,
            "plan.files_scanned": scanned,
            "plan.files_live": live,
            "plan.scan_ratio": scanned / live if live else 0.0,
            "sql.prepare_s": self_t["sql.statement"] + self_t["sql.select"],
            "sql.views_s": incl["sql.views"],
            "spark.jobs": sum(o["jobs"] for o in ops),
            "spark.tasks": sum(o["tasks"] for o in ops),
            "spark.action_s": sum(o["action_s"] for o in ops),
            "spark.jobs_per_op": sum(o["jobs"] for o in ops) / max(len(ops), 1),
            "wap.append_s": wap["append"],
            "wap.audit_s": wap["audit"],
            "wap.publish_s": wap["publish"],
            "checks.run_s": incl["checks.run"],
            "checks.metadata_ratio": (
                sum(1 for s in sources if s == "metadata") / len(sources) if sources else 0.0
            ),
            "maint.compactions_per_publish": calls["maint.compact"] / publishes if publishes else 0.0,
            "maint.compact_s": incl["maint.compact"] + incl["maint.expire"],
            "maint.live_files": sum(pub_live) / len(pub_live) if pub_live else 0.0,
            "mor.pending_delete_files": sum(o.get("pending_before", 0) for o in ops),
            "mor.files_added": sum(o["added"] for o in mor_ops),
            "mor.files_removed": sum(o["removed"] for o in mor_ops),
            "mor.files_touched_ratio": sum(touched) / len(touched) if touched else 0.0,
            "mor.merge_s": incl["dml.merge_into"],
            "mor.delete_s": incl["dml.delete_where"],
        }
        by_kind: dict[str, dict] = {}
        for o in ops:
            k = by_kind.setdefault(o["kind"], collections.Counter())
            k["ops"] += 1
            k["spark.jobs"] += o["jobs"]
            k["spark.tasks"] += o["tasks"]
            k["spark.action_s"] += o["action_s"]
            k["mor.pending_delete_files"] += o.get("pending_before", 0)
            for name, v in o["counts"].items():
                k[name] += v
        kind_of = {o["id"]: o["kind"] for o in ops}
        self_by_kind: dict[str, collections.Counter] = collections.defaultdict(collections.Counter)
        for i, s in enumerate(spans):
            if s["end"] is None or s["op"] not in kind_of:
                continue
            kind = kind_of[s["op"]]
            self_by_kind[kind][s["name"] + ".self_s"] += (s["end"] - s["start"]) - child_time[i]
            self_by_kind[kind][s["name"] + ".calls"] += 1
        for kind, c in self_by_kind.items():
            by_kind.setdefault(kind, collections.Counter()).update(c)
        return m, {k: dict(v) for k, v in by_kind.items()}

    def dump(self, path: str, summary: dict) -> None:
        """Write the in-memory operations and spans out, once, at the end."""
        with open(path, "w") as fh:
            json.dump({"summary": summary, "ops": self.ops, "spans": self.spans}, fh, default=str)
