"""Git-like branching catalog over a warehouse directory.

Re-creates, from scratch and Spark-first, the semantics of the
reference's Nessie catalog (``src/serverless/pyiceberg_patch_nessie.py``):

- **refs** map branch names to commit ids (``create_branch`` :269-278,
  ``drop_branch`` :280-284, ``merge`` :286-290). Refs, tags and
  branch-creation stamps are ONE document, ``refs.json``, so every
  ref verb is one conditional put;
- a **commit** is an immutable mapping ``table -> metadata file`` plus a
  parent pointer — branching is zero-copy (a new ref to the same
  commit), exactly like Nessie (``README.md:16``);
- every commit that advances a branch is **optimistic** and goes
  through one loop (``Catalog._commit_loop``): read the head, build
  the change from it, write the new metadata and commit object, then
  move the ref only if the head is unchanged (reference
  ``_commit_table`` requirement validation :168-169); on conflict the
  build re-runs on top of the new head. Appends, CTAS and clones
  write their data files once and re-derive only metadata; verbs whose
  output depends on the target (row rewrites, key probes, the whole
  ``merge_into`` evaluation) re-run that Spark work in the build;
- every staged-branch **lifecycle** (fork, write, audit, then publish
  and drop in one ref CAS, or keep for forensics) is
  ``Catalog.with_branch``.

The whole catalog state is tiny JSON (like Nessie/Iceberg metadata);
Spark executors only ever touch the immutable Parquet data files. On a
real deployment the ref store would be a REST service or a
conditional-put object store — the commit protocol is the same.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
import zlib
from urllib.parse import unquote
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from no_jvm_wap_with_iceberg_spark.catalog.pruning import (
    Predicate,
    file_all_match,
    file_all_match_any,
    prune_files,
    prune_files_any,
)
from no_jvm_wap_with_iceberg_spark.catalog.store import (
    LocalFSStore,
    RefStore,
    _canonical,
)
from no_jvm_wap_with_iceberg_spark.catalog.table import (
    DeleteSpec,
    FileEntry,
    Snapshot as TableSnapshot,
    TableMetadata,
    collect_written_files,
    edit_properties,
    new_data_dir,
    refuse_internal_props,
)

MAIN = "main"
_ROOT = "root"  # the empty initial commit
_REFS = "refs.json"
# CAS attempts for a store-object update, and the conflict retries of
# the metadata-only commits (drop/rename table, view verbs)
_REF_RETRIES = 64

# Orphan-file reclamation grace window (Iceberg's remove_orphan_files
# defaults older_than to 3 days for the same race): a concurrent
# writer's parquet files hit disk before its commit CAS lands, so any
# unreferenced file younger than this may be in-flight, never garbage.
DEFAULT_ORPHAN_GRACE_MS = 3 * 60 * 60 * 1000  # 3 hours


def _partition_value(raw: str | None) -> str | None:
    """The value of a manifest partition entry (the raw hive directory
    text): url-decoded, and Hive's NULL marker read as None."""
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    return unquote(raw)


def _file_path_col():
    """``_metadata.file_path`` normalized to the raw absolute path.

    The column is URI-encoded (space -> %20, %% -> %%25, UTF-8 %%xx)
    while Python-side paths are raw; basenames are NOT a usable key
    because a partitioned write emits the SAME part-file name into
    every partition directory it touches. Literal '+' is protected
    before url_decode (URLDecoder would turn it into a space — URI
    path encoding never uses '+' for spaces)."""
    from pyspark.sql import functions as F

    raw = F.regexp_replace(F.col("_metadata.file_path"), "^file:", "")
    return F.url_decode(F.regexp_replace(raw, r"\+", "%2B"))


class CommitConflict(RuntimeError):
    """Another writer advanced the ref between our read and our commit."""


class Catalog:
    """Branching lakehouse catalog rooted at ``warehouse``.

    All catalog METADATA (refs, commits, table metadata, the ingest-key
    index) goes through a :class:`RefStore` — a four-primitive
    conditional-put KV interface with local-FS, in-memory, and
    documented object-store mappings (see catalog/store.py). DATA files
    are Parquet under ``warehouse`` written and read by Spark executors
    directly; in a cloud deployment that path is the object store the
    Spark cluster already talks to (s3a/gs), orthogonal to the ref
    store.
    """

    def __init__(
        self, warehouse: str, create: bool = True, store: RefStore | None = None
    ):
        self.warehouse = os.path.abspath(warehouse)
        self._store = store if store is not None else LocalFSStore(self.warehouse)
        if create and self._store.get(_REFS) is None:
            self._write_commit(
                {"id": _ROOT, "parent": None, "tables": {}, "message": "root"}
            )
            # create-if-absent CAS: a concurrent bootstrap simply loses
            self._store.put_if(_REFS, {"refs": {MAIN: _ROOT}}, None)

    # ------------------------------------------------------------------
    # refs & commits (the Nessie-equivalent surface, SURVEY §2.9 C1-C8)
    # ------------------------------------------------------------------
    def _read_refs(self) -> dict[str, str]:
        return self._store.get(_REFS)[0]["refs"]

    def _read_tags(self) -> set[str]:
        return set(self._store.get(_REFS)[0].get("tags", ()))

    def _cas_update(
        self,
        key: str,
        fn: Callable[[dict[str, Any] | None], dict[str, Any]],
        max_retries: int = _REF_RETRIES,
        first: tuple[dict[str, Any], Any] | None = None,
    ) -> None:
        """Generic CAS loop over one store object: ``fn`` receives the
        freshest payload (None if absent) and returns the replacement;
        the conditional put either lands it or ``fn`` re-runs on the
        new state. Domain errors raised by ``fn`` propagate — only the
        CAS race itself retries. With an object store this is a
        conditional PUT; locally the store emulates it (flock).

        Every ref verb is one such update of the whole ref document.
        ``first`` is an already-read ``(payload, token)`` for the first
        attempt; a lost put re-reads.

        A ``put_if`` that raises may still have landed (an S3
        conditional-PUT timeout). The key is read back: if it holds
        exactly the payload written, the update succeeded; otherwise
        the error propagates. Ref payloads carry a fresh uuid commit
        id, so a match cannot be another writer's commit."""
        got = first
        for _ in range(max_retries):
            if got is None:
                got = self._store.get(key)
            payload, token = (got[0], got[1]) if got else (None, None)
            new = fn(payload)
            try:
                landed = self._store.put_if(key, new, token)
            except Exception:
                got = self._store.get(key)
                if got is None or _canonical(got[0]) != _canonical(new):
                    raise
                landed = True
            if landed:
                return
            got = None
        raise CommitConflict(f"{key}: CAS retries exhausted")

    def _write_commit(self, payload: dict[str, Any]) -> None:
        payload.setdefault("timestamp_ms", int(time.time() * 1000))
        self._store.put(f"commits/{payload['id']}.json", payload)

    def _read_commit(self, commit_id: str) -> dict[str, Any]:
        got = self._store.get(f"commits/{commit_id}.json")
        if got is None:
            raise KeyError(f"commit {commit_id!r} not found")
        return got[0]

    def list_branches(self) -> list[str]:
        return sorted(self._read_refs())

    def branch_exists(self, name: str) -> bool:
        return name in self._read_refs()

    def create_branch(self, name: str, from_branch: str = MAIN) -> None:
        """Zero-copy: the new ref points at the source branch's commit.
        One CAS on the ref document, which also holds the tag guard.

        The ref's CREATION time is recorded alongside it
        (``branch_created_ms`` in the ref document): a fresh branch
        points at its source's existing head commit until its first
        own commit lands, so age-based janitors keying on the
        pointed-at commit's timestamp would see a brand-new branch on
        an idle table as ancient and drop it mid-WAP (ADVICE r4)."""

        def apply(doc: dict[str, Any]) -> dict[str, Any]:
            refs = dict(doc["refs"])
            if name in doc.get("tags", ()):
                raise ValueError(f"ref {name!r} is an immutable tag")
            if name in refs:
                raise ValueError(f"branch {name!r} already exists")
            if from_branch not in refs:
                raise KeyError(f"source branch {from_branch!r} not found")
            refs[name] = refs[from_branch]
            created = dict(doc.get("branch_created_ms", {}))
            created[name] = int(time.time() * 1000)
            return {**doc, "refs": refs, "branch_created_ms": created}

        self._cas_update(_REFS, apply)

    @staticmethod
    def _without_branch(doc: dict[str, Any], name: str) -> dict[str, Any]:
        """``doc`` minus branch ``name`` and its creation stamp."""
        if name in doc.get("tags", ()):
            # deleting a tag's ref would destroy the pinned state
            raise ValueError(f"ref {name!r} is a tag; use drop_tag")
        if name not in doc["refs"]:
            raise KeyError(f"branch {name!r} not found")
        refs = {k: v for k, v in doc["refs"].items() if k != name}
        created = {
            k: v for k, v in doc.get("branch_created_ms", {}).items() if k != name
        }
        return {**doc, "refs": refs, "branch_created_ms": created}

    def drop_branch(self, name: str) -> None:
        if name == MAIN:
            raise ValueError("refusing to drop 'main'")
        self._cas_update(_REFS, lambda doc: self._without_branch(doc, name))

    def drop_tag(self, name: str) -> None:
        """Remove a tag: its ref and its entry in the tag list go in one
        CAS on the ref document, so the pin disappears atomically."""

        def apply(doc: dict[str, Any]) -> dict[str, Any]:
            tags = doc.get("tags", [])
            if name not in tags:
                raise KeyError(f"tag {name!r} not found")
            refs = {k: v for k, v in doc["refs"].items() if k != name}
            return {**doc, "refs": refs, "tags": [t for t in tags if t != name]}

        self._cas_update(_REFS, apply)

    def _is_ancestor(self, maybe_ancestor: str, commit_id: str) -> bool:
        cur: str | None = commit_id
        while cur is not None:
            if cur == maybe_ancestor:
                return True
            cur = self._read_commit(cur).get("parent")
        return False

    def _fast_forwarded(
        self, doc: dict[str, Any], from_branch: str, to_branch: str
    ) -> dict[str, Any]:
        """``doc`` with ``to_branch`` moved onto ``from_branch``'s head;
        raises CommitConflict when that is not a fast-forward."""
        if to_branch in doc.get("tags", ()):
            raise ValueError(f"ref {to_branch!r} is an immutable tag")
        refs = dict(doc["refs"])
        head_from, head_to = refs[from_branch], refs[to_branch]
        if head_from == head_to:
            return doc  # nothing to publish (idempotent CAS)
        if not self._is_ancestor(head_to, head_from):
            raise CommitConflict(
                f"cannot fast-forward {to_branch!r}: it advanced since "
                f"{from_branch!r} was created"
            )
        refs[to_branch] = head_from
        return {**doc, "refs": refs}

    def merge(self, from_branch: str, to_branch: str = MAIN) -> None:
        """Publish: fast-forward ``to_branch`` onto ``from_branch``'s head.

        Reference: ``NessieCatalog.merge`` → ``nessie merge``
        (``pyiceberg_patch_nessie.py:286-290``). Fast-forward-only — if
        ``to_branch`` advanced since the branch point the merge raises
        and the caller re-runs WAP on a fresh branch (same behavior an
        Iceberg ``fast_forward`` procedure gives). :meth:`with_branch`
        does that re-run, and drops the fork in the same CAS.
        """
        self._cas_update(
            _REFS, lambda doc: self._fast_forwarded(doc, from_branch, to_branch)
        )

    def preview_publish(
        self,
        spark: SparkSession,
        table: str,
        branch: str,
        base_branch: str = MAIN,
    ) -> DataFrame:
        """What publishing ``branch`` would change on ``base_branch``:
        the change feed from the base's current table snapshot to the
        branch's — every row the publish would add or remove, BEFORE
        the fast-forward happens. The review surface the WAP audit
        story was missing: audits assert predicates, this shows the
        delta itself (row-exact, O(changed data)).

        Requires the base's snapshot to be an ancestor of the
        branch's (the same fast-forward precondition ``merge``
        enforces — when it raises here, the merge would conflict
        anyway). A table absent on the base previews as its full
        branch state (all inserts).
        """
        branch_meta = self.load_table(table, branch)
        if not self.table_exists(table, base_branch):
            df = self.read(spark, table, branch)
            from pyspark.sql import functions as F

            return df.select(
                *df.columns,
                F.lit("insert").alias("_change_type"),
                F.lit(
                    branch_meta.current_snapshot_id
                    if branch_meta.current_snapshot_id is not None
                    else -1
                ).alias("_snapshot_id"),
            )
        base_meta = self.load_table(table, base_branch)
        return self.read_changes(
            spark,
            table,
            base_meta.current_snapshot_id,
            branch_meta.current_snapshot_id,
            branch,
        )

    def prune_branches(
        self,
        max_age_hours: float,
        prefix: str = "wap-",
        dry_run: bool = False,
        now_ms: int | None = None,
    ) -> list[str]:
        """Drop stale forensic branches. Every failed WAP audit leaves
        a ``wap-*`` branch for debugging (the reference's alert path,
        ``src/serverless/app.py`` — but nothing ever reclaims them, so
        a noisy source leaks one branch per dirty batch forever). A
        branch matching ``prefix`` is dropped when it is older than
        ``max_age_hours`` by BOTH clocks: its recorded creation time
        (``branch_created_ms``) and its newest commit's timestamp —
        a freshly created WAP staging branch points at main's
        existing head until its staged append lands, so head-commit
        age alone would let a concurrent janitor drop an active
        staging branch in the create_branch→append window on an idle
        table (ADVICE r4). ``main`` and non-matching refs are never
        touched. Branch refs are zero-copy, so the drop is
        metadata-only — data files the branch alone referenced fall
        to ``remove_orphan_files`` (after the next metadata GC) like
        any other unreferenced write.

        Returns the dropped (or, with ``dry_run``, would-drop) branch
        names. Cost: one commit-blob read per candidate branch —
        O(branches), no Spark job.
        """
        now = now_ms if now_ms is not None else int(time.time() * 1000)
        cutoff = now - int(max_age_hours * 3600 * 1000)
        # one refs read for the whole pass (refs + creation stamps
        # live in the same payload; per-candidate re-reads would cost
        # 2N round trips against an object-store-backed ref file)
        payload, _token = self._store.get(_REFS)
        refs = payload["refs"]
        created_map = payload.get("branch_created_ms", {})
        stale: list[str] = []
        for b in sorted(refs):
            if b == MAIN or not b.startswith(prefix):
                continue
            if b in payload.get("tags", ()):
                continue  # a tag is a pin, not a forensic branch
            head = self._read_commit(refs[b])
            head_ms = head.get("timestamp_ms", now)
            # pre-upgrade refs lack a creation stamp: fall back to the
            # head commit (the old, race-prone behavior) only for them
            created_ms = created_map.get(b)
            age_ref = max(head_ms, created_ms) if created_ms else head_ms
            if age_ref <= cutoff:
                stale.append(b)
        if dry_run or not stale:
            return stale
        dropped: list[str] = []

        def apply(doc: dict[str, Any]) -> dict[str, Any]:
            # the freshness check runs inside the CAS: a branch whose
            # head moved since the pass read it (a staged commit
            # landing mid-pass) was judged by a stale head, so it stays
            dropped.clear()
            for b in stale:
                if doc["refs"].get(b) == refs[b]:
                    doc = self._without_branch(doc, b)
                    dropped.append(b)
            return doc

        self._cas_update(_REFS, apply)
        return list(dropped)

    def log(self, branch: str = MAIN) -> list[dict[str, Any]]:
        """Commit log (newest first) for a branch."""
        out = []
        cur: str | None = self._read_refs()[branch]
        while cur is not None:
            c = self._read_commit(cur)
            out.append(c)
            cur = c.get("parent")
        return out

    # ------------------------------------------------------------------
    # table metadata resolution
    # ------------------------------------------------------------------
    def list_tables(self, branch: str = MAIN) -> list[str]:
        head = self._read_refs()[branch]
        return sorted(self._read_commit(head)["tables"])

    def table_exists(self, table: str, branch: str = MAIN) -> bool:
        return table in self.list_tables(branch)

    # ------------------------------------------------------------------
    # catalog-persisted SQL views (Iceberg view-spec parity)
    # ------------------------------------------------------------------
    def list_views(self, branch: str = MAIN) -> list[str]:
        head = self._read_refs()[branch]
        return sorted(self._read_commit(head).get("views", {}))

    def load_view(self, name: str, branch: str = MAIN) -> dict[str, Any]:
        """The view record: ``{"sql", "comment", "versions": [{"version",
        "sql", "timestamp_ms"}, ...]}`` — REPLACE appends a version like
        Iceberg's view spec, so definitions are auditable history."""
        head = self._read_refs()[branch]
        views = self._read_commit(head).get("views", {})
        if name not in views:
            raise KeyError(f"view {name!r} not found on branch {branch!r}")
        return views[name]

    def _commit_views(
        self,
        branch: str,
        message: str,
        mutate: Callable[[dict[str, Any]], dict[str, Any]],
    ) -> None:
        """CAS a views-map mutation onto the branch head. Metadata-only
        (the map lives inline in the commit payload — view definitions
        are a few hundred bytes, not manifests), so the commit is O(1)
        at any table size, and a fast-forward publish carries views and
        tables in the same atomic ref move."""

        def build(parent: dict[str, Any]) -> dict[str, Any]:
            views = mutate(dict(parent.get("views", {})), parent["tables"])
            return {"metas": {}, "views": views, "message": message}

        self._commit_loop(branch, build, max_retries=_REF_RETRIES)

    def create_view(
        self,
        name: str,
        sql_text: str,
        branch: str = MAIN,
        replace: bool = False,
        if_not_exists: bool = False,
        comment: str | None = None,
        spark: SparkSession | None = None,
    ) -> None:
        """Persist a named SQL view on a branch (``CREATE [OR REPLACE]
        VIEW`` through :meth:`sql`). The definition is stored verbatim
        in the commit payload — branch-addressed, versioned, published
        atomically with table changes by the same fast-forward CAS.
        Resolution happens per :meth:`sql` call (:meth:`create_views`
        registers stored views over the snapshot-pinned table views),
        so a view always reads the session's pinned snapshots — exactly
        Iceberg's late-binding view semantics.

        With ``spark`` given, the definition is validated up front
        (plan-only — ``spark.sql(...).schema`` runs no job); without
        it, a broken definition surfaces on first use. Views share the
        table namespace: creating over an existing table (or table over
        view) refuses.
        """
        import re as _re

        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"invalid view name {name!r}")
        if replace and if_not_exists:
            raise ValueError("OR REPLACE and IF NOT EXISTS are exclusive")
        from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
            _frame,
            _query_plan,
        )

        # create_views runs every stored body on each Catalog.sql call
        # — a DML body (INSERT into a Spark managed table, CALL, ...)
        # would run as a side effect of every later read. Reject it
        # here by Spark's tree; with no session running, create_views
        # refuses it when it would run it.
        session = spark or SparkSession.getActiveSession()
        if session is not None:
            plan = _query_plan(sql_text, session)
            if plan is None:
                raise ValueError(f"view {name!r} body must be a query")
            if spark is not None:
                _frame(spark, plan).schema  # analysis-only validation
        now_ms = int(time.time() * 1000)

        def mutate(
            views: dict[str, Any], tables: dict[str, Any]
        ) -> dict[str, Any]:
            if name in tables:
                raise ValueError(
                    f"a table named {name!r} exists on branch {branch!r}"
                )
            if name in views and not replace:
                if if_not_exists:
                    return views
                raise ValueError(
                    f"view {name!r} already exists on branch {branch!r} "
                    "(use replace=True / CREATE OR REPLACE VIEW)"
                )
            prior = views.get(name, {}).get("versions", [])
            views[name] = {
                "sql": sql_text,
                "comment": comment,
                "versions": prior
                + [
                    {
                        "version": len(prior) + 1,
                        "sql": sql_text,
                        "timestamp_ms": now_ms,
                    }
                ],
            }
            return views

        self._commit_views(branch, f"CREATE VIEW {name}", mutate)

    def drop_view(
        self, name: str, branch: str = MAIN, if_exists: bool = False
    ) -> None:
        def mutate(
            views: dict[str, Any], tables: dict[str, Any]
        ) -> dict[str, Any]:
            if name not in views:
                if if_exists:
                    return views
                raise KeyError(
                    f"view {name!r} not found on branch {branch!r}"
                )
            return {k: v for k, v in views.items() if k != name}

        self._commit_views(branch, f"DROP VIEW {name}", mutate)

    def create_views(
        self,
        spark: SparkSession,
        branch: str = MAIN,
        tables: list[str] | None = None,
        suffix: str = "",
    ) -> list[str]:
        """Register branch-addressed temp views so plain ``spark.sql``
        queries the catalog — the SQL front door (the reference has no
        SQL surface at all; its users drop to pandas). Each view pins
        the branch's CURRENT snapshot at registration (the scan plan
        resolves the file list then), so a concurrent commit cannot
        tear a multi-statement session — re-register to see it.
        ``suffix`` disambiguates branches side by side
        (``create_views(spark, "audit", suffix="_audit")``).
        MoR deletes, hidden partitioning, and rename history all apply
        — the views go through :meth:`read`.
        """
        names = tables if tables is not None else self.list_tables(branch)
        for t in names:
            self.read(spark, t, branch).createOrReplaceTempView(t + suffix)
        registered = [t + suffix for t in names]
        if tables is not None or suffix:
            # a table subset can't support views (their SQL may reference
            # anything), and suffixed registration would resolve a view's
            # unsuffixed table references against the WRONG branch
            return registered
        head = self._read_refs()[branch]
        stored = dict(self._read_commit(head).get("views", {}))
        # a view this Catalog registered on an EARLIER call but that is
        # no longer stored (API-level drop_view, branch rollback) must
        # not keep resolving via its stale temp view
        prev: set[str] = getattr(self, "_registered_view_names", set())
        for gone in prev - set(stored):
            spark.catalog.dropTempView(gone)
        self._registered_view_names = set(stored)
        from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
            _frame,
            _query_plan,
        )

        pending = stored
        # fixpoint: view-on-view definitions resolve in any declaration
        # order; a view that still fails once nothing else progresses
        # (dropped base table, syntax rot) is skipped — querying IT
        # raises Spark's own TABLE_OR_VIEW_NOT_FOUND, every other query
        # keeps working (late-binding view semantics, like Iceberg)
        while pending:
            progressed = False
            for v in list(pending):
                plan = _query_plan(pending[v]["sql"], spark)
                if plan is None:
                    continue  # stored with no session to check it
                try:
                    _frame(spark, plan).createOrReplaceTempView(v)
                except Exception:
                    continue
                registered.append(v)
                del pending[v]
                progressed = True
            if not progressed:
                break
        for v in pending:
            # a stale same-named temp view from an earlier sql() call
            # must not satisfy references to the now-broken view
            spark.catalog.dropTempView(v)
        return registered

    def sql(self, spark: SparkSession, query: str, branch: str = MAIN):
        """One-shot SQL over a branch — reads AND writes.

        Reads: register every table as a view (one consistent
        snapshot per table) and run the query through Catalyst —
        pushdown/pruning/codegen apply as with any view.

        DML: ``MERGE INTO`` / ``UPDATE`` / ``DELETE`` / ``INSERT
        INTO|OVERWRITE`` / ``CREATE TABLE ... AS`` statements route
        to :meth:`merge_into` / :meth:`update_where` /
        :meth:`delete_where` / :meth:`append` / :meth:`overwrite` /
        :meth:`create_table_from_df`; ``CALL [system.]<proc>(...)``
        routes the Iceberg maintenance-procedure surface
        (expire_snapshots, remove_orphan_files, rewrite_data_files,
        rollback_to_snapshot, fast_forward, branch/tag verbs,
        maintain) to the same-named primitives and returns the
        procedure's own result rows
        (the SQL surface every Spark+Iceberg user writes; the
        reference's only user-facing SQL is its Snowflake warehouse
        example, ``README.md:193-207``). The statement's subqueries
        (MERGE USING, INSERT ... SELECT) see the same snapshot-pinned
        views; WHERE conditions additionally derive best-effort
        stats-pruning predicates (``catalog/sqldml.py``). Returns a
        one-row status DataFrame (operation, table, snapshot_id) —
        the commit itself is an ordinary optimistic commit with the
        primitive's full CAS/retry semantics.
        """
        from no_jvm_wap_with_iceberg_spark.catalog.sqldml import execute_sql

        self.create_views(spark, branch)
        return execute_sql(self, spark, query, branch)

    def sql_script(self, spark: SparkSession, script: str, branch: str = MAIN):
        """Run a multi-statement SQL script (statements separated by
        top-level ``;`` — semicolons inside string literals don't
        split) through :meth:`sql`, returning the LAST statement's
        DataFrame. Each statement re-registers the views, so a
        statement sees the tables as its predecessors left them —
        the sequential-session semantics a user pasting a script
        expects. Statements execute eagerly (DML commits as it runs);
        a failure raises mid-script with earlier statements already
        committed, exactly like feeding a script to any SQL CLI.

        ``BEGIN [TRANSACTION]; ...; COMMIT`` blocks run atomically
        through :meth:`sql_transaction` (pure-append blocks ride the
        :meth:`append_many` fast path — one commit, no staging
        branch); ``ROLLBACK`` in place of ``COMMIT`` discards the
        block with nothing executed. Verb pairing is validated before
        ANY statement runs; nesting is not supported.
        """
        stmts = self._split_sql_statements(script)
        if not stmts:
            raise ValueError("empty SQL script")
        # validate transaction-verb pairing BEFORE executing anything:
        # statements commit eagerly, so a malformed script discovered
        # mid-run would leave earlier statements published
        depth = 0
        for s in stmts:
            if re.match(r"(?is)^BEGIN(\s+TRANSACTION)?\s*$", s):
                if depth:
                    raise ValueError("nested BEGIN is not supported")
                depth = 1
            elif re.match(r"(?is)^(COMMIT|ROLLBACK)\s*$", s):
                if not depth:
                    raise ValueError(
                        f"{s.split()[0].upper()} without BEGIN"
                    )
                depth = 0
        if depth:
            raise ValueError("BEGIN without a matching COMMIT/ROLLBACK")
        result = None
        i = 0
        while i < len(stmts):
            stmt = stmts[i]
            if re.match(r"(?is)^BEGIN(\s+TRANSACTION)?\s*$", stmt):
                # standard transaction spelling: everything up to the
                # matching COMMIT runs atomically via sql_transaction
                # (pure-append blocks ride the append_many fast path);
                # ROLLBACK instead of COMMIT discards the block with
                # nothing executed (execution is deferred to commit).
                j = i + 1
                body: list[str] = []
                verb = None
                while j < len(stmts):
                    if re.match(r"(?is)^(COMMIT|ROLLBACK)\s*$", stmts[j]):
                        verb = stmts[j].split()[0].upper()
                        break
                    body.append(stmts[j])
                    j += 1
                if verb is None:
                    raise ValueError(
                        "BEGIN without a matching COMMIT/ROLLBACK"
                    )
                if verb == "COMMIT" and body:
                    result = self.sql_transaction(
                        spark, ";\n".join(body), branch
                    )
                i = j + 1
                continue
            if re.match(r"(?is)^(COMMIT|ROLLBACK)\s*$", stmt):
                raise ValueError(f"{stmt.split()[0].upper()} without BEGIN")
            result = self.sql(spark, stmt, branch)
            i += 1
        return result

    @staticmethod
    def _split_sql_statements(script: str) -> list[str]:
        """Split on top-level ``;`` — semicolons inside string
        literals, backticked identifiers and comments don't split.
        Each statement loses its leading comments; a comment-only
        piece is no statement."""
        from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
            _scan_top,
            _strip_leading_comments,
        )

        parts, last = [], 0
        for i, c in _scan_top(script):
            if c == ";":
                parts.append(script[last:i])
                last = i + 1
        parts.append(script[last:])
        stmts = (_strip_leading_comments(p).strip() for p in parts)
        return [q for q in stmts if q]

    def _sql_txn_append_fast_path(
        self, spark: SparkSession, script: str, branch: str
    ):
        """``sql_transaction``'s fast path: a script that is NOTHING
        BUT plain ``INSERT INTO`` appends to existing tables — the
        exact shape :meth:`append_many` replaces — skips the staging
        branch entirely: every statement's source DataFrame is
        prepared against one pinned snapshot, then all the rows land
        in ONE commit behind ONE pinned ref CAS (vs fork + N commits +
        fast-forward + drop ≈ N+3 ref round-trips; the write walls
        also overlap). Returns the last statement's status row, or
        ``None`` when the script needs the staging branch: any
        non-append statement (DELETE, MERGE, OVERWRITE, REPLACE WHERE,
        DDL, CALL), a target the catalog doesn't own, or a statement
        whose SOURCE references a transaction target — those must
        observe the transaction's own prior writes, which only the
        sequential staging branch provides. Falling back is always
        correct; the fast path is pure plumbing economy. Division of
        labour per SCALE.md: audit-bearing transactions keep the
        branch (an audit must READ staged state), pure ingest doesn't.
        """
        from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
            _name,
            _parse,
            _reads,
            prepare_insert,
            rewrite_metadata_tables,
            rewrite_table_changes,
            rewrite_time_travel,
        )

        stmts = self._split_sql_statements(script)
        if not stmts:
            return None  # sql_script raises the canonical error
        parsed = []  # (statement, its tree, target)
        for stmt in stmts:
            try:
                plan = _parse(stmt, spark=spark)
            except ValueError:
                return None
            if plan.nodeName() != "InsertIntoStatement" or plan.overwrite():
                return None  # OVERWRITE / REPLACE WHERE / not an INSERT
            target = ".".join(_name(plan.table()))
            if not self.table_exists(target, branch) or target in (
                self.list_views(branch)
            ):
                return None
            parsed.append((stmt, plan, target))
        # a stored view can read a target TRANSITIVELY (v = SELECT ...
        # FROM t), so a source reading any stored-view name also falls
        # back — view-on-view chains are covered because every link in
        # the chain is itself a stored-view name
        guarded = {t.lower() for t in self.list_views(branch)}
        guarded |= {t.lower() for _s, _p, t in parsed}
        for _stmt, plan, _t in parsed:
            if _reads(plan.query()) & (guarded | {"*"}):
                return None
        # one pinned snapshot for every statement's source: the head
        # captured here is also the commit CAS base, so a concurrent
        # commit anywhere on the branch surfaces as CommitConflict —
        # the same optimistic contract as the staging-branch publish
        head = self._read_refs()[branch]
        self.create_views(spark, branch)
        pairs: list[tuple[str, DataFrame]] = []
        for stmt, plan, _t in parsed:
            q = rewrite_time_travel(self, spark, stmt, branch)
            q = rewrite_metadata_tables(self, spark, q, branch)
            q = rewrite_table_changes(self, spark, q, branch)
            if q != stmt:
                plan = _parse(q, spark=spark)
            _mode, table, df, _cond, _forced = prepare_insert(
                self, spark, q, branch, plan
            )
            pairs.append((table, df))
        metas = self.append_many(pairs, branch, expected_head=head)
        last = parsed[-1][2]
        sid = metas[last].current_snapshot_id
        return spark.createDataFrame(
            [("INSERT", last, sid if sid is not None else -1)],
            "operation string, table string, snapshot_id long",
        )

    def sql_transaction(
        self, spark: SparkSession, script: str, branch: str = MAIN
    ):
        """Run a multi-statement SQL script ATOMICALLY — the SQL face
        of the WAP pattern itself: the statements execute on a hidden
        staging branch forked from ``branch``; when every statement
        succeeds, the branch fast-forwards into ``branch`` in ONE ref
        CAS (all touched tables publish together — the same
        multi-table atomic publish a WAP pipeline uses), and a failure
        anywhere drops the staging branch so the target is never
        touched, not even by the statements that succeeded. Returns
        the last statement's DataFrame.

        Semantics a warehouse user expects:

        - statements see the transaction's OWN prior writes (they run
          sequentially on the staging branch);
        - readers of ``branch`` never observe a partial script;
        - the publish is fast-forward-only, so a concurrent commit to
          ``branch`` during the transaction raises
          :class:`CommitConflict` at the end with the target left
          exactly as the concurrent writer made it — re-run the
          transaction (optimistic concurrency, same as every other
          commit here);
        - ``CALL`` branch/tag verbs inside a transaction act on the
          catalog's shared ref space and are NOT transactional; table
          DML/DDL is.

        Scale shape: zero data movement at publish (the fast-forward
        moves one ref) regardless of how many tables or rows the
        script wrote. A script that is purely ``INSERT INTO`` appends
        (no statement reading another statement's target) skips the
        staging branch and lands through ONE :meth:`append_many`
        commit instead — same atomicity and conflict contract, one
        ref CAS instead of ~N+3 (see
        :meth:`_sql_txn_append_fast_path`).
        """
        fast = self._sql_txn_append_fast_path(spark, script, branch)
        if fast is not None:
            return fast
        return self.with_branch(
            lambda name: (self.sql_script(spark, script, branch=name), True),
            prefix="sqltx",
            from_branch=branch,
            max_retries=0,
        )

    def load_table(self, table: str, branch: str = MAIN) -> TableMetadata:
        """Resolve branch → commit → metadata JSON → TableMetadata.

        Reference: ``NessieCatalog.load_table``
        (``pyiceberg_patch_nessie.py:207-228``).
        """
        return self._load_table_at(table, self._read_refs()[branch], branch)

    def _load_table_at(
        self, table: str, commit_id: str, branch: str = "?"
    ) -> TableMetadata:
        """Metadata exactly as of ``commit_id`` — mutators use this with
        a head captured FIRST, so the metadata they build on can never
        be newer than the head their commit CAS will validate against
        (reading refs after a long Spark write would pass the conflict
        check while silently dropping a concurrent snapshot)."""
        return self._table_in(self._read_commit(commit_id), table, branch)

    def _table_in(
        self, commit: dict[str, Any], table: str, branch: str = "?"
    ) -> TableMetadata:
        """``table``'s metadata as recorded in the commit object ``commit``."""
        if table not in commit["tables"]:
            raise KeyError(f"table {table!r} not found on branch {branch!r}")
        payload, _token = self._store.get(commit["tables"][table])
        return TableMetadata.from_json(payload)

    def _commit_tables(
        self,
        branch: str,
        metas: dict[str, TableMetadata],
        expected_head: str,
        message: str,
        *,
        parent: dict[str, Any] | None = None,
        removed: list[str] | tuple[str, ...] = (),
        views: dict[str, Any] | None = None,
        refs: tuple[dict[str, Any], Any] | None = None,
    ) -> None:
        """One commit attempt, and the only code that writes a commit
        object advancing a branch. Reference ``_commit_table``
        (``pyiceberg_patch_nessie.py:153-205``): validate against the
        base, write new metadata, then move the pointer.

        One metadata blob per table in ``metas``; ONE commit object on
        top of ``expected_head`` (``parent`` is that commit's payload,
        read here when not given) whose tables map carries every update
        minus ``removed`` and whose views map is ``views`` (default: the
        parent's); ONE ref CAS. Readers observe all the updates or none
        — the atomic multi-table commit primitive SURVEY §7.2 names as
        the hard part of multi-table WAP (the reference serializes one
        commit per table and punts cross-table atomicity,
        ``README.md:18``). The CAS starts from ``refs``, the ref
        document the caller read. Raises CommitConflict if the branch
        moved; retrying is :meth:`_commit_loop`'s job.
        """
        if parent is None:
            parent = self._read_commit(expected_head)
        if views is None:
            views = parent.get("views", {})
        # the table/view namespace is shared: a commit may not land a
        # table whose name a view holds. Checked HERE — every commit
        # funnels through this method — so each attempt re-checks and
        # no table-creating surface can miss the guard. (An EXISTING
        # table with this name implies no such view, by this same
        # invariant.)
        for table in metas:
            if table not in parent["tables"] and table in views:
                raise ValueError(
                    f"a view named {table!r} exists on branch {branch!r}"
                )
        new_tables = {
            k: v for k, v in parent["tables"].items() if k not in removed
        }
        for table, meta in metas.items():
            rel = (
                f"tables/{table}/metadata/"
                f"v{meta.version:05d}-{uuid.uuid4().hex[:8]}.json"
            )
            self._store.put(rel, meta.to_json())  # immutable, uuid-named
            new_tables[table] = rel
        new_id = uuid.uuid4().hex[:16]
        self._write_commit(
            {
                "id": new_id,
                "parent": expected_head,
                "tables": new_tables,
                "views": views,
                "message": message,
            }
        )

        def apply(doc: dict[str, Any]) -> dict[str, Any]:
            # checked inside the CAS: a tag created concurrently under
            # this name is refused atomically
            if branch in doc.get("tags", ()):
                raise ValueError(f"ref {branch!r} is an immutable tag")
            head = doc["refs"][branch]
            if head != expected_head:
                raise CommitConflict(
                    f"branch {branch!r} moved from {expected_head} to {head}"
                )
            return {**doc, "refs": {**doc["refs"], branch: new_id}}

        # a lost CAS re-reads and re-applies: only a move of THIS branch
        # conflicts, a fork or tag created elsewhere does not
        self._cas_update(_REFS, apply, first=refs)

    def _commit_loop(
        self,
        branch: str,
        build: Callable[[dict[str, Any]], dict[str, Any] | None],
        max_retries: int = 3,
        expected_head: str | None = None,
    ) -> dict[str, Any] | None:
        """The one optimistic retry loop around :meth:`_commit_tables`.

        Each attempt reads the head commit once and calls
        ``build(head_commit)``. The build derives everything it commits
        from that exact commit (it may run Spark work) and returns
        :meth:`_commit_tables`' keyword arguments (``metas``,
        ``message``, optionally ``removed`` / ``views``), or None for no
        commit. On CommitConflict the whole build re-runs on the fresh
        head, so a concurrent commit is never silently dropped; files
        written by a losing attempt are unreferenced and reclaimed by
        ``remove_orphan_files``. A pinned ``expected_head`` is the
        caller's read-check-publish base: one attempt, and a moved head
        raises. Domain errors from ``build`` propagate. Returns the
        committed change, or None when the build elided it. The ref
        document is read once per attempt, for the head and the CAS."""
        for attempt in range(max_retries + 1):
            refs = self._store.get(_REFS)
            head = expected_head or refs[0]["refs"][branch]
            parent = self._read_commit(head)
            change = build(parent)
            if change is None:
                return None
            try:
                self._commit_tables(
                    branch, expected_head=head, parent=parent, refs=refs,
                    **change,
                )
                return change
            except CommitConflict:
                if expected_head is not None or attempt == max_retries:
                    raise
        raise AssertionError("unreachable")

    def _optimistic_commit(
        self,
        table: str,
        branch: str,
        build: Callable[[TableMetadata], tuple[TableMetadata | None, str]],
        max_retries: int = 3,
    ) -> TableMetadata:
        """Single-table adapter over :meth:`_commit_loop` for the table
        mutators: ``build`` gets ``table``'s metadata as of the attempt's
        head and returns ``(new_meta, message)``; ``(None, _)`` means
        no-op (commit elision — the head's metadata is returned)."""
        meta: TableMetadata | None = None

        def change(parent: dict[str, Any]):
            nonlocal meta
            meta = self._table_in(parent, table, branch)
            new_meta, message = build(meta)
            if new_meta is None:
                return None
            return {"metas": {table: new_meta}, "message": message}

        done = self._commit_loop(branch, change, max_retries)
        return meta if done is None else done["metas"][table]

    # ------------------------------------------------------------------
    # DDL
    # ------------------------------------------------------------------
    def create_table(
        self,
        table: str,
        schema,
        branch: str = MAIN,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        if_not_exists: bool = False,
        bloom_cols: list[str] | None = None,
        properties: dict[str, str] | None = None,
        or_replace: bool = False,
    ) -> bool:
        """Create an empty table on a branch from a Spark schema.

        Reference: lazy idempotent creation from the first batch's
        schema (``app.py:117-143``, ``pyiceberg_patch_nessie.py:102-148``).
        Returns True if created, False if it already existed.
        ``properties`` land in the create commit itself (atomic — no
        window where the table exists without them).

        ``or_replace`` (``CREATE OR REPLACE TABLE``): when the table
        exists, REPLACE it — schema, layout, properties, contents —
        in the SAME single ref CAS a create uses (no drop+create
        window where the name is missing). Divergence from Iceberg,
        documented: snapshot history starts over at the replace
        (this engine keeps ONE schema per table version, so carrying
        old-schema snapshots forward would corrupt time-travel reads
        of them); the old metadata and files stay on disk for
        forensics until orphan reclaim.
        """
        if or_replace and if_not_exists:
            raise ValueError("OR REPLACE and IF NOT EXISTS are exclusive")
        refuse_internal_props(properties or ())
        schema_json = schema.jsonValue() if hasattr(schema, "jsonValue") else schema
        # the branch-ref CAS is commit-global: ANY concurrent commit
        # (even to another table) moves the head between our read and
        # our commit, so CREATE retries in the shared loop, re-checking
        # existence each attempt so an if_not_exists race resolves to
        # "already exists" instead of surfacing the loser's
        # CommitConflict (tests/test_dedup_races.py found exactly that
        # under concurrent first-batch ingests).
        def build(parent: dict[str, Any]):
            exists = table in parent["tables"]
            if exists and not or_replace:
                if if_not_exists:
                    # resolved BEFORE the spec is validated (ADVICE
                    # r8 contract): lazy per-batch creators pass specs
                    # meant only for the create case — an existing
                    # table returns False even on a bad spec
                    return None
                raise ValueError(
                    f"table {table!r} already exists on {branch!r}"
                )
            # validate + build only once we know we will create
            if partition_by:
                from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
                    parse_partition_spec,
                    validate_spec,
                )
                from pyspark.sql import types as _T

                validate_spec(
                    parse_partition_spec(partition_by),
                    _T.StructType.fromJson(schema_json),
                )
            props = dict(properties or {})
            if bloom_cols:
                props = edit_properties(props, bloom_cols=bloom_cols)
            meta = TableMetadata(
                table=table,
                schema_json=schema_json,
                version=1,
                partition_by=partition_by,
                sort_by=sort_by,
                properties=props or None,
            )
            verb = "REPLACE" if exists else "CREATE"
            return {"metas": {table: meta}, "message": f"{verb} TABLE {table}"}

        return self._commit_loop(branch, build) is not None

    def drop_table(self, table: str, branch: str = MAIN) -> None:
        """Remove the table from the branch's commit tree (data retained).

        The reference leaves this ``NotImplementedError``
        (``pyiceberg_patch_nessie.py:230-264``); we support it.
        """

        def build(parent: dict[str, Any]) -> dict[str, Any]:
            if table not in parent["tables"]:
                raise KeyError(f"table {table!r} not found on branch {branch!r}")
            return {"metas": {}, "removed": [table], "message": f"DROP TABLE {table}"}

        self._commit_loop(branch, build, max_retries=_REF_RETRIES)

    def rename_table(self, old: str, new: str, branch: str = MAIN) -> None:
        """Rename a table on a branch — metadata-only, zero data
        movement (Iceberg's ``rename_table``; the reference's catalog
        has no rename at all — ``pyiceberg_patch_nessie.py:230-264``
        leaves every table-management verb unimplemented).

        The table's existing data files stay under their original
        ``tables/<old>/...`` paths — manifests address files by full
        path, so nothing moves at any table size; future writes land
        under ``tables/<new>/...``. The prior name is recorded in the
        ``prior_names`` property so :meth:`remove_orphan_files` keeps
        sweeping the historical directory. Branch-scoped: other
        branches keep the old name (their commits still map it), same
        as every other table mutation. Snapshot history, schema,
        layout, and time travel all carry over untouched.
        """
        import re

        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"invalid table name {new!r}")

        def build(parent: dict[str, Any]) -> dict[str, Any]:
            tables = parent["tables"]
            if old not in tables:
                raise KeyError(f"table {old!r} not found on branch {branch!r}")
            if new in tables:
                raise ValueError(
                    f"table {new!r} already exists on branch {branch!r}"
                )
            meta = self._table_in(parent, old, branch)
            prior = meta.prior_names
            if old not in prior:
                prior.append(old)
            meta = meta.evolve(
                table=new, properties=meta.properties_with(prior_names=prior)
            )
            return {
                "metas": {new: meta},
                "removed": [old],
                "message": f"RENAME TABLE {old} -> {new}",
            }

        self._commit_loop(branch, build, max_retries=_REF_RETRIES)

    # ------------------------------------------------------------------
    # write path (Spark-distributed)
    # ------------------------------------------------------------------
    def _write_files(
        self,
        df: DataFrame,
        meta: TableMetadata,
        table: str,
        layout_done: bool = False,
        rows_hint: int | None = None,
    ) -> list[FileEntry]:
        from pyspark.sql import functions as F
        from no_jvm_wap_with_iceberg_spark.catalog.table import (
            SMALL_WRITE_ROWS_MAX,
        )

        # ``rows_hint`` is a caller-known UPPER BOUND on the batch's
        # row count (the dedup pipelines know their publish counts
        # before appending). At or below SMALL_WRITE_ROWS_MAX the
        # partition-clustering shuffle degenerates to a narrow
        # coalesce(1): one task holding the whole (tiny) batch writes
        # exactly one sorted file per touched partition — the same
        # layout the hash clustering guarantees — with no exchange.
        # No hint (the default, and every big append) keeps the
        # distributed clustering.
        small = rows_hint is not None and rows_hint <= SMALL_WRITE_ROWS_MAX
        data_dir = new_data_dir(self.warehouse, table)
        writer = df
        pfields = meta.partition_fields
        derived = [f for f in pfields if f.transform != "identity"]
        if derived:
            # hidden partitioning: derive the transform value per row
            # (executor-side, pure JVM exprs); partitionBy drops the
            # derived column from the data files, so the source column
            # stays in-file and the derived value lives only in the
            # directory name + manifest. Derived BEFORE the layout
            # shuffle so a partitioned-and-sorted table can cluster on
            # its own partition values below.
            from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
                partition_expr,
            )

            types = {
                f.name: f.dataType.typeName()
                for f in meta.spark_schema.fields
            }
            for fld in derived:
                writer = writer.withColumn(
                    fld.name, partition_expr(fld, types[fld.source])
                )
        if layout_done:
            # caller already clustered the rows (e.g. zorder rewrite);
            # re-running the sort_by range shuffle would destroy it
            pass
        elif meta.sort_by and pfields:
            # partitioned AND sorted (the dedup-index shape): cluster
            # by the PARTITION VALUES, then sort each task by
            # (partition value, sort key). One hash shuffle, no
            # range-sampling pre-pass, and each touched partition is
            # written by exactly one task — one sorted file per
            # partition per append instead of tasks x partitions (a
            # range shuffle on the sort key scatters across hash
            # buckets: a bucket(N, key) append wrote up to N files
            # PER writer task). Parallelism is bounded by the touched
            # partition count, which the self-sizing index schedules
            # grow with the data; 'range' clusters by (partition,
            # sort key) for max write parallelism at the cost of the
            # sampling pass, 'none' opts out of the shuffle entirely
            # (per-trigger streaming appends).
            mode = meta.properties.get("write.distribution-mode", "hash")
            pcols = [F.col(f.name) for f in pfields]
            sort_cols = [f.name for f in pfields] + [
                c for c in meta.sort_by
                if c not in {f.name for f in pfields}
            ]
            if mode == "range":
                writer = writer.repartitionByRange(
                    *pcols, *[F.col(c) for c in meta.sort_by]
                )
            elif mode != "none":
                writer = writer.coalesce(1) if small else writer.repartition(*pcols)
            writer = writer.sortWithinPartitions(*sort_cols)
        elif meta.sort_by:
            # range-repartition THEN sort within partitions: files get
            # disjoint (not merely tight) min/max ranges on the sort
            # key, so a point/range predicate prunes to O(1) files
            # instead of one-per-writer-task. Same layout Iceberg's
            # write.distribution-mode=range produces.
            writer = writer.repartitionByRange(
                *meta.sort_by
            ).sortWithinPartitions(*meta.sort_by)
        checks = sorted(meta.constraints.items())
        # GENERATED ALWAYS AS validation rides the same fold: a
        # writer-supplied value must null-safe-equal the expression
        # (values the align path computed itself pass trivially); an
        # UPDATE that changes a source column without its generated
        # column fails LOUDLY here instead of silently diverging
        checks += [
            (f"generated({gname})", f"`{gname}` <=> ({gexpr})")
            for gname, gexpr in sorted(meta.generated_columns.items())
        ]
        if checks:
            # CHECK constraints (Delta-parity) fold into the write
            # expression itself — zero extra pass over the batch, any
            # violating row aborts the job before a file is committed
            # (partial files are unreferenced orphans, reclaimed by the
            # maintenance grace window). SQL semantics: NULL passes,
            # only FALSE violates. Compaction re-writes data that was
            # validated when the constraint was added, so it re-passes.
            from pyspark.sql import functions as F

            f0 = meta.spark_schema.fields[0]
            guard = F.col(f0.name)
            for cname, cexpr in checks:
                ok = F.coalesce(F.expr(cexpr), F.lit(True))
                guard = F.when(ok, guard).otherwise(
                    F.raise_error(
                        F.lit(
                            f"CHECK constraint {cname!r} violated: ({cexpr})"
                        )
                    ).cast(f0.dataType)
                )
            writer = writer.withColumn(f0.name, guard)
        if pfields and not layout_done and not meta.sort_by:
            # write distribution (Iceberg write.distribution-mode,
            # default hash): without it every write task emits a file
            # into EVERY partition it holds rows for — tasks×partitions
            # files, the small-files explosion that kills 100 TB tables.
            # One hash shuffle on the partition values clusters rows so
            # each partition is written by as few tasks as possible.
            # 'none' opts out (tiny single-partition batches, e.g. a
            # per-trigger streaming append, can skip the shuffle);
            # 'range' clusters AND orders partitions for calendar
            # transforms (consecutive days land in consecutive tasks).
            from pyspark.sql import functions as F

            mode = meta.properties.get("write.distribution-mode", "hash")
            pcols = [F.col(f.name) for f in pfields]
            if mode == "range":
                writer = writer.repartitionByRange(*pcols)
            elif mode != "none":
                # small path: Spark's dynamic-partition writer locally
                # sorts each task's rows by the partition expressions,
                # so the single task still emits one file per touched
                # partition
                writer = writer.coalesce(1) if small else writer.repartition(*pcols)
        w = writer.write.mode("append")
        if pfields:
            w = w.partitionBy(*[f.name for f in pfields])
        w.parquet(data_dir)
        return collect_written_files(
            data_dir, self.warehouse, meta.bloom_cols or None, spark=df.sparkSession
        )

    def _align_schema(self, df: DataFrame, meta: TableMetadata) -> DataFrame:
        """Project/cast the batch to the table schema (strict names;
        columns with a declared default may be omitted — the write
        fills the default literal, Iceberg v3 write-default)."""
        from pyspark.sql import functions as F

        target = meta.spark_schema
        have = {f.name for f in df.schema.fields}
        need = [f.name for f in target.fields]
        defaults = meta.column_defaults
        generated = meta.generated_columns
        missing = [
            n
            for n in need
            if n not in have and n not in defaults and n not in generated
        ]
        if missing:
            raise ValueError(f"batch missing columns {missing} for table {meta.table!r}")

        def src(f):
            if f.name in have:
                return F.col(f.name)
            if f.name in generated:
                # GENERATED ALWAYS AS: computed from the row's other
                # (writer-supplied) columns; a writer-supplied value is
                # validated against the expression in _write_files
                return F.expr(generated[f.name])
            return F.expr(defaults[f.name])

        return df.select(
            *[src(f).cast(f.dataType).alias(f.name) for f in target.fields]
        )

    def append(
        self,
        df: DataFrame,
        table: str,
        branch: str = MAIN,
        max_retries: int = 3,
        merge_schema: bool = False,
    ) -> TableMetadata:
        """Append a DataFrame to a table on a branch (new snapshot).

        Data files are written ONCE by Spark executors; only the
        metadata commit retries on conflict (the Iceberg pattern —
        reference append: ``app.py:160-179`` + commit
        ``pyiceberg_patch_nessie.py:153-205``).

        ``merge_schema`` (Delta's ``mergeSchema`` write option): batch
        columns the table doesn't have yet are ADDED to the schema
        (nullable, the batch's type) in the SAME commit as the rows —
        no separate DDL step, no window where the data exists without
        its schema. Same rules as :meth:`add_column`: a previously
        dropped name is refused (zombie-column hazard), and older
        files read the new columns as NULL. Without the flag, strict
        alignment projects the batch to the table schema — extra
        batch columns are DROPPED (the long-standing contract).
        """
        meta = self.load_table(table, branch)
        if merge_schema:
            return self._append_merge_schema(df, table, branch, meta, max_retries)
        files = self._write_files(self._align_schema(df, meta), meta, table)
        if sum(f.rows for f in files) == 0:
            # no-op commit elision (reference: _commit_table early return,
            # pyiceberg_patch_nessie.py:172-176)
            return meta
        # data files are written ONCE; only the metadata commit retries
        return self._optimistic_commit(
            table,
            branch,
            lambda m: (
                m.with_new_snapshot(files, "append"),
                f"APPEND {table} ({len(files)} files)",
            ),
            max_retries=max_retries,
        )

    def append_many(
        self,
        appends: "list[tuple[str, DataFrame]] | dict[str, DataFrame]",
        branch: str = MAIN,
        max_retries: int = 3,
        concurrent: bool = True,
        expected_head: str | None = None,
        merge_schema: bool = False,
        rows_hint: "dict[str, int] | None" = None,
    ) -> dict[str, TableMetadata]:
        """Append N DataFrames to N tables in ONE atomic commit.

        The multi-table ingest primitive: every target table's data
        files are written first (CONCURRENTLY when ``concurrent`` —
        Spark's scheduler runs jobs submitted from separate driver
        threads side by side, so N table writes cost ~one write wall
        instead of N), then all N metadata updates land in a single
        commit object behind a single ref CAS. Readers never observe a
        subset of the tables updated — the guarantee the dedup
        pipelines previously bought with a staging branch plus N
        serialized appends plus a fast-forward (≈N+3 ref round-trips;
        this is 1). SURVEY §7.2 names multi-table WAP as the hard part
        the reference punts (``README.md:18``).

        ``appends`` maps table → batch (or is a ``[(table, df), ...]``
        list; repeating a table chains one snapshot per entry, in
        order). All tables must already exist on ``branch``. Files are
        written ONCE; only the metadata commit retries on conflict
        (``max_retries=0`` surfaces the first CommitConflict to the
        caller — the mode ingest pipelines use so a conflict re-probes
        instead of blindly re-attaching). Zero-row entries are elided;
        if every entry is empty no commit happens. Returns the
        committed metadata per table.

        ``expected_head`` pins the CAS base to a commit the CALLER
        captured — the read-check-publish primitive: a dedup pipeline
        probes its index as of head H, and ANY commit landing after H
        (even to an unrelated table — the ref CAS is commit-global)
        must fail this publish so the caller re-probes. Pinning the
        base forces ``max_retries=0`` (a retry against the same pinned
        head can only fail identically).

        ``merge_schema`` is the single-table append's flag, per call:
        each batch's extra top-level columns are ADDED to its table's
        schema (nullable, batch types) in the SAME commit as the rows
        — same rules as :meth:`append` (dropped-name zombies refused,
        older files read the new columns as NULL, evolution re-derived
        from the fresh head on retry). A zero-row batch that evolves
        the schema still commits the evolution.

        ``rows_hint`` maps table → a caller-known UPPER BOUND on that
        entry's row count (applies to every entry for the table). At
        or below ``SMALL_WRITE_ROWS_MAX`` the partition-clustering
        shuffle is skipped for a narrow single-task write with the
        identical one-sorted-file-per-touched-partition layout — the
        dedup pipelines publish a few thousand index rows per batch
        and know the count before appending (guide §2.4: remove
        exchanges the data volume does not justify).
        """
        entries = (
            list(appends.items())
            if isinstance(appends, dict)
            else [(t, df) for t, df in appends]
        )
        if not entries:
            return {}
        doc = self._store.get(_REFS)[0]
        if branch in doc.get("tags", ()):
            # fail BEFORE the write wall — _commit_tables would catch
            # this too, but only after N tables of orphaned files
            raise ValueError(f"ref {branch!r} is an immutable tag")
        # capture the head FIRST: alignment/layout derive from this
        # exact commit. Pinned, it is also the CAS base (never newer
        # than what the caller's probe read); unpinned, every commit
        # attempt below re-reads a fresh head instead — the file
        # writes can take minutes, and CASing attempt 0 against a
        # pre-write head would conflict spuriously.
        head0 = expected_head or doc["refs"][branch]
        metas0 = {
            t: self._load_table_at(t, head0, branch)
            for t, _ in entries
        }

        def write_one(item: tuple[str, DataFrame]) -> list[FileEntry]:
            t, df = item
            proto = (
                self._schema_evolved_by(metas0[t], df.schema, t)
                if merge_schema
                else metas0[t]
            )
            return self._write_files(
                self._align_schema(df, proto), proto, t,
                rows_hint=(rows_hint or {}).get(t),
            )

        if concurrent and len(entries) > 1:
            from pyspark import InheritableThread

            # one thread per table (N is small — the point is
            # overlapping the per-write fixed walls, not fan-out).
            # InheritableThread, not a plain ThreadPoolExecutor
            # thread: Spark job-group / scheduler-pool / interrupt
            # local properties do not propagate to plain threads, so
            # a caller's cancellation scope would miss the per-table
            # write jobs (ADVICE r9).
            results: list = [None] * len(entries)
            failures: dict[int, BaseException] = {}

            def run_one(i: int, item) -> None:
                try:
                    results[i] = write_one(item)
                except BaseException as exc:  # surfaced after join
                    failures[i] = exc

            threads = [
                InheritableThread(target=run_one, args=(i, item))
                for i, item in enumerate(entries)
            ]
            for th in threads:
                th.start()
            for th in threads:
                th.join()
            if failures:
                # deterministic: the LOWEST entry index's failure is
                # primary (not whichever thread lost the append race),
                # and the other threads' exceptions ride along as
                # notes instead of vanishing (ADVICE r10)
                order = sorted(failures)
                primary = failures[order[0]]
                for i in order[1:]:
                    primary.add_note(
                        f"also failed: entry {i} "
                        f"({entries[i][0]!r}): "
                        f"{type(failures[i]).__name__}: {failures[i]}"
                    )
                raise primary
            files_per_entry = results
        else:
            files_per_entry = [write_one(e) for e in entries]

        def entry_live(t: str, df: DataFrame, files) -> bool:
            if sum(f.rows for f in files) > 0:
                return True
            # a zero-row merge-schema batch still carries its schema
            # evolution into the commit (single-table append parity)
            return merge_schema and (
                self._schema_evolved_by(metas0[t], df.schema, t)
                is not metas0[t]
            )

        live = [
            (t, df.schema, files)
            for (t, df), files in zip(entries, files_per_entry)
            if entry_live(t, df, files)
        ]
        if not live:
            # no-op commit elision, same as single-table append — but
            # a PINNED caller asked for read-check-publish semantics:
            # even with nothing to publish, a head that moved since
            # the caller's probe must surface as a conflict (the
            # caller's read may be stale) rather than silent success
            # (ADVICE r9).
            if (
                expected_head is not None
                and self._read_refs()[branch] != expected_head
            ):
                raise CommitConflict(
                    f"branch {branch!r} moved past pinned head "
                    f"{expected_head} (nothing was committed; "
                    "re-probe and retry)"
                )
            return metas0
        tables = [t for t, _s, _f in live]
        n_files = sum(len(f) for _, _s, f in live)
        message = f"APPEND {', '.join(dict.fromkeys(tables))} ({n_files} files)"

        # files are written ONCE; only the metadata commit retries —
        # each attempt re-derives every table's snapshot (and, under
        # merge_schema, its evolution) from the FRESH head so no
        # concurrent commit is silently dropped. A pinned head is the
        # one and only attempt.
        def build(parent: dict[str, Any]) -> dict[str, Any]:
            new_metas: dict[str, TableMetadata] = {}
            for t, src_schema, files in live:
                # explicit membership, not truthiness: a falsy
                # TableMetadata (if it ever grew __bool__/__len__)
                # must not silently drop a chained snapshot
                m = (
                    new_metas[t]
                    if t in new_metas
                    else self._table_in(parent, t, branch)
                )
                if merge_schema:
                    m = self._schema_evolved_by(m, src_schema, t)
                new_metas[t] = m.with_new_snapshot(files, "append")
            return {"metas": new_metas, "message": message}

        done = self._commit_loop(branch, build, max_retries, expected_head)
        return {**metas0, **done["metas"]}

    def transaction(
        self,
        branch: str = MAIN,
        max_retries: int = 3,
        merge_schema: bool = False,
    ) -> "Transaction":
        """First-class multi-table append transaction::

            with cat.transaction(branch) as tx:
                tx.append(docs_df, "documents")
                tx.append(index_df, "fingerprints")

        Nothing is written until the ``with`` block exits cleanly;
        then every recorded append lands via :meth:`append_many` —
        one write wall, one commit, one ref CAS. An exception inside
        the block abandons the transaction (no files, no commit).
        ``merge_schema`` applies :meth:`append`'s additive schema
        evolution to every append in the transaction.
        """
        return Transaction(self, branch, max_retries, merge_schema)

    def _schema_evolved_by(
        self, m: TableMetadata, src_schema, table: str
    ) -> TableMetadata:
        """``m`` with the source schema's extra TOP-LEVEL columns
        appended (nullable, source types) — the additive half of
        Delta's schema evolution, shared by ``append(merge_schema=
        True)`` and ``merge_into(schema_evolution=True)``. Returns
        ``m`` itself when nothing is new (identity check is
        load-bearing: callers skip the commit on no-op appends).
        Re-adding a previously dropped name raises (old data files
        still carry the bytes — zombie-column hazard)."""
        from pyspark.sql import types as T

        have = {f.name for f in m.spark_schema.fields}
        extra = [f for f in src_schema.fields if f.name not in have]
        if not extra:
            return m
        zombie = [f.name for f in extra if f.name in m.dropped_columns]
        if zombie:
            raise ValueError(
                f"schema evolution would re-add previously dropped "
                f"column(s) {zombie} on {table!r}; old data files "
                "still carry them (zombie-column hazard) — use new names"
            )
        new_schema = T.StructType(
            m.spark_schema.fields
            + [T.StructField(f.name, f.dataType, True) for f in extra]
        )
        # the append's own snapshot commit bumps the version
        return m.evolve(schema_json=new_schema.jsonValue(), version=m.version)

    def _append_merge_schema(
        self,
        df: DataFrame,
        table: str,
        branch: str,
        meta: TableMetadata,
        max_retries: int,
    ) -> TableMetadata:
        """The ``merge_schema=True`` append path: evolve the schema by
        the batch's extra columns and land rows + schema in ONE commit."""

        def evolved(m: TableMetadata) -> TableMetadata:
            return self._schema_evolved_by(m, df.schema, table)

        proto = evolved(meta)
        files = self._write_files(
            self._align_schema(df, proto), proto, table
        )
        if sum(f.rows for f in files) == 0 and proto is meta:
            return meta

        def build(m: TableMetadata):
            # re-derive the evolution from the FRESH head (a concurrent
            # commit may have added some of the columns already; the
            # union is idempotent, a same-name/different-type race
            # surfaces as a cast error rather than silent corruption)
            return (
                evolved(m).with_new_snapshot(files, "append"),
                f"APPEND {table} ({len(files)} files, mergeSchema)",
            )

        return self._optimistic_commit(
            table, branch, build, max_retries=max_retries
        )

    def overwrite(self, df: DataFrame, table: str, branch: str = MAIN) -> TableMetadata:
        """Replace table contents (snapshot with operation='overwrite')."""
        meta = self.load_table(table, branch)
        files = self._write_files(self._align_schema(df, meta), meta, table)
        return self._optimistic_commit(
            table,
            branch,
            lambda m: (m.with_new_snapshot(files, "overwrite"), f"OVERWRITE {table}"),
        )

    def dynamic_overwrite(
        self,
        df: DataFrame,
        table: str,
        branch: str = MAIN,
        replace_partitions: list[dict[str, str]] | None = None,
    ) -> TableMetadata:
        """Iceberg's ``INSERT OVERWRITE`` semantics on a partitioned
        table (dynamic partition overwrite): replace ONLY the
        partitions the incoming rows touch — every live row of a
        touched partition leaves, the incoming rows land, and every
        other partition carries over by reference. The nightly
        partition-reload shape: at 100 TB reloading one day replaces
        one partition's files in ONE metadata commit, O(touched
        partitions), never O(table).

        Unpartitioned tables fall back to :meth:`overwrite` (full
        replace — the same thing Spark does without partitioning).
        Touched partitions are derived from the files the write
        actually produced (hidden transforms included, since the
        writer derives them). After a partition-spec evolution only
        files written under the CURRENT spec participate in matching;
        older-spec files never silently match a tuple they don't
        define (compact to re-layout first — the Iceberg discipline).

        CDC: the commit is a ``rewrite`` tagged ``cdc: replace`` —
        the feed emits every replaced partition's prior rows as
        deletes plus the incoming rows as inserts, both in
        :meth:`read_changes` and the streaming changefeed source.
        """
        meta0 = self.load_table(table, branch)
        if not meta0.partition_fields:
            return self.overwrite(df, table, branch)
        aligned = self._align_schema(df, meta0)
        new_files = self._write_files(aligned, meta0, table)
        spec_names = [f.name for f in meta0.partition_fields]
        touched = {
            tuple(f.partition.get(n) for n in spec_names)
            for f in new_files
        }
        # ``replace_partitions``: partition-value dicts (field name ->
        # hive string value) forced into the replacement set even when
        # the incoming data doesn't touch them — the SQL router's
        # fully-static PARTITION clause uses this so an empty source
        # still truncates the named partition (Spark semantics)
        for d in replace_partitions or []:
            touched.add(tuple(d.get(n) for n in spec_names))

        def build(meta: TableMetadata):
            removed = [
                f
                for f, _c in meta.files_with_deletes()
                if tuple(f.partition.get(n) for n in spec_names) in touched
            ]
            if not removed and not new_files:
                return None, ""
            return (
                meta.with_new_snapshot(
                    new_files,
                    "rewrite",
                    removed_paths=sorted(f.path for f in removed),
                    extra_summary={"cdc": "replace"},
                ),
                f"DYNAMIC OVERWRITE {table} "
                f"({len(touched)} partitions, -{len(removed)} "
                f"+{len(new_files)} files)",
            )

        return self._optimistic_commit(table, branch, build)

    def replace_where(
        self,
        df: DataFrame,
        table: str,
        condition: str,
        branch: str = MAIN,
    ) -> TableMetadata:
        """Delta's ``INSERT INTO ... REPLACE WHERE`` / ``replaceWhere``
        write option: atomically delete every row matching
        ``condition`` and insert ``df`` — ONE snapshot, no window
        where the range is empty. The idempotent date-range reload
        shape: re-running the same slice lands the same final state.

        Cost is O(condition-matching data), never O(table): files the
        stats/partitions prove clean carry over by reference; files
        PROVEN all-match (``file_all_match_any``, e.g. a
        partition-aligned range predicate) drop via metadata with no
        read; only straddling files rewrite their kept rows.

        Every incoming row MUST satisfy ``condition`` (Delta's default
        enforcement) — not only the sane-pipeline contract but what
        makes the change feed exact: the commit's new files mix kept
        rows (all failing ``condition``) with incoming rows (all
        passing), so CDC replay separates them by re-applying the
        recorded condition (``cdc: replace_where`` in read_changes and
        the streaming source).
        """
        from pyspark.sql import functions as F

        from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
            predicate_groups_from_sql,
        )

        groups, exact = predicate_groups_from_sql(condition)
        spark = df.sparkSession

        def build(meta: TableMetadata):
            d = self._align_schema(df, meta)
            bad = (
                d.filter(~F.coalesce(F.expr(condition), F.lit(False)))
                .limit(1)
                .collect()
            )
            if bad:
                raise ValueError(
                    f"REPLACE WHERE: incoming row violates the predicate "
                    f"{condition!r}: {tuple(bad[0])!r}"
                )
            with_conds = meta.files_with_deletes()
            affected = (
                prune_files_any(
                    [f for f, _ in with_conds],
                    groups,
                    meta.all_partition_fields,
                    name_history=meta.rename_history,
                )
                if groups
                else [f for f, _ in with_conds]
            )
            affected_paths = {f.path for f in affected}
            whole: set[str] = set()
            if exact and groups:
                whole = {
                    f.path
                    for f in affected
                    if file_all_match_any(
                        f,
                        groups,
                        meta.all_partition_fields,
                        name_history=meta.rename_history,
                    )
                }
            rewrite = [
                (f, c)
                for f, c in with_conds
                if f.path in affected_paths and f.path not in whole
            ]
            to_write = d
            if rewrite:
                keep = self._df_applying_deletes(
                    spark, meta, rewrite
                ).filter(~F.coalesce(F.expr(condition), F.lit(False)))
                to_write = keep.unionByName(d)
            new_files = self._write_files(to_write, meta, table)
            if not affected_paths and sum(f.rows for f in new_files) == 0:
                return None, ""
            return (
                meta.with_new_snapshot(
                    new_files,
                    "rewrite",
                    removed_paths=sorted(affected_paths),
                    extra_summary={
                        "cdc": "replace_where",
                        "condition": condition,
                        **(
                            {"metadata-deleted-files": len(whole)}
                            if whole
                            else {}
                        ),
                    },
                ),
                f"REPLACE WHERE {condition} INTO {table} "
                f"(-{len(affected_paths)} +{len(new_files)} files, "
                f"{len(whole)} metadata drops)",
            )

        return self._optimistic_commit(table, branch, build)

    def upsert(
        self,
        df: DataFrame,
        table: str,
        key: str,
        branch: str = MAIN,
    ) -> TableMetadata:
        """MERGE-by-key (copy-on-write): rows in ``df`` replace existing
        rows with the same key; new keys append.

        Only files whose key-range stats overlap the incoming keys are
        rewritten (pruned via footer min/max); untouched files carry
        over by reference. Old snapshots still see the pre-merge rows
        (time travel), exactly like Iceberg COW MERGE INTO.
        At 100 TB with a ``sort_by`` table the range-clustered layout
        makes the affected-file set proportional to the update's key
        span, not to the table.
        """
        batch = df

        def build(meta: TableMetadata):
            d = self._align_schema(batch, meta)
            # the shared key pruner: partition-value sets, key range vs
            # file min/max, and the exact keys against per-file blooms
            # at any batch size (None: an empty or all-null key set)
            affected = self._files_overlapping_keys(meta, [key], d.select(key))
            affected = affected or []
            keep_old = (
                self._df_applying_deletes(d.sparkSession, meta, affected)
                .join(d.select(key).distinct(), key, "left_anti")
                if affected
                else None
            )
            rewritten = keep_old.unionByName(d) if keep_old is not None else d
            new_files = self._write_files(rewritten, meta, table)
            if not affected and sum(f.rows for f in new_files) == 0:
                return None, ""  # empty batch: no-op commit elision
            return (
                meta.with_new_snapshot(
                    new_files,
                    "rewrite",
                    removed_paths=[f.path for f, _c in affected],
                    extra_summary={"cdc": "unsupported"},
                ),
                f"UPSERT {table} ({len(affected)} files rewritten)",
            )

        return self._optimistic_commit(table, branch, build)

    def delete_where(
        self,
        spark: SparkSession,
        table: str,
        predicates: list[Predicate],
        sql_condition: str,
        branch: str = MAIN,
        mode: str = "cow",
        exact_condition: bool = False,
        predicate_groups: list[list[Predicate]] | None = None,
    ) -> TableMetadata:
        """Row-level DELETE. ``sql_condition`` is the row-exact filter
        (``predicates`` are its stats-pruning approximation).

        - ``mode="cow"`` (copy-on-write): rewrite only the files that
          may contain matching rows, keeping their non-matching rows;
          files the stats prove clean carry over untouched. Write cost
          proportional to affected data; reads stay raw scans.
        - ``mode="mor"`` (merge-on-read): commit a metadata-only
          'delete' snapshot recording the condition and its target
          files; the read path applies ``NOT(condition)`` to exactly
          those files. Commit cost O(metadata) — the right trade for
          update-heavy 100 TB tables; ``compact`` later folds pending
          deletes into a clean rewrite.

        ``exact_condition=True`` declares that ``predicates`` are
        EQUIVALENT to ``sql_condition`` (not merely implied by it —
        ``sqldml.predicates_from_sql_exact`` derives the flag). That
        unlocks the whole-file fast path (Iceberg's metadata delete):
        files whose stats or partition values PROVE every live row
        matches (:func:`..catalog.pruning.file_all_match`) leave the
        layout via ``removed_paths`` — no read, no rewrite. An aligned
        retention delete (``WHERE ts < cutoff`` on a ``day(ts)``-
        partitioned or ts-sorted table) becomes O(metadata) at any
        table size; only boundary-straddling files pay IO. The change
        feed stays exact: COW replays the recorded condition over
        ``removed_paths``; MoR keeps dropped files in the delete
        spec's targets (replay reads parent-visible state) while the
        read path skips them entirely.

        ``predicate_groups`` (a DNF — OR of AND-groups,
        ``sqldml.predicate_groups_from_sql``) extends both pruning and
        the fast path to disjunctive conditions: files may-matching NO
        group are skipped, and with ``exact_condition=True`` a file
        proven all-match on ANY single group drops whole.
        """
        from pyspark.sql import functions as F

        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be cow|mor, got {mode!r}")
        groups = (
            [list(g) for g in predicate_groups]
            if predicate_groups
            else ([list(predicates)] if predicates else [])
        )

        def build(meta: TableMetadata):
            with_conds = meta.files_with_deletes()
            affected_raw = prune_files_any(
                [f for f, _ in with_conds],
                groups,
                meta.all_partition_fields,
                name_history=meta.rename_history,
            )
            if not affected_raw:
                return None, ""
            whole_paths: set[str] = set()
            if exact_condition and groups:
                whole_paths = {
                    f.path
                    for f in affected_raw
                    if file_all_match_any(
                        f,
                        groups,
                        meta.all_partition_fields,
                        name_history=meta.rename_history,
                    )
                }
            summary_extra = (
                {"metadata-deleted-files": len(whole_paths)}
                if whole_paths
                else {}
            )
            if mode == "mor":
                return (
                    meta.with_new_snapshot(
                        [],
                        "delete",
                        # dropped files stay in the spec's targets so CDC
                        # replay (parent-visible state) still emits their
                        # rows; the live-file walk removes them first, so
                        # reads never pay the NOT(condition) filter
                        removed_paths=sorted(whole_paths),
                        deletes=[
                            {
                                "condition": sql_condition,
                                "targets": [f.path for f in affected_raw],
                            }
                        ],
                        extra_summary=summary_extra,
                    ),
                    f"DELETE (MoR) FROM {table} WHERE {sql_condition}",
                )
            affected_paths = {f.path for f in affected_raw}
            rewrite = [
                (f, c)
                for f, c in with_conds
                if f.path in affected_paths and f.path not in whole_paths
            ]
            new_files: list[FileEntry] = []
            if rewrite:
                keep = self._df_applying_deletes(spark, meta, rewrite).filter(
                    ~F.coalesce(F.expr(sql_condition), F.lit(False))
                )
                new_files = self._write_files(keep, meta, table)
            return (
                meta.with_new_snapshot(
                    new_files,
                    "rewrite",
                    removed_paths=sorted(affected_paths),
                    extra_summary={
                        "cdc": "delete",
                        "condition": sql_condition,
                        **summary_extra,
                    },
                ),
                f"DELETE FROM {table} WHERE {sql_condition}",
            )

        return self._optimistic_commit(table, branch, build)

    def update_where(
        self,
        spark: SparkSession,
        table: str,
        predicates: list[Predicate],
        sql_condition: str,
        set_exprs: dict[str, str],
        branch: str = MAIN,
        predicate_groups: list[list[Predicate]] | None = None,
    ) -> TableMetadata:
        """Row-level UPDATE (SQL ``UPDATE t SET .. WHERE ..``),
        copy-on-write: rewrite ONLY the files whose stats/partitions
        say they may hold matching rows, applying ``set_exprs`` (SQL
        text per column) to matching rows and carrying non-matching
        rows through unchanged; files proven clean are untouched.

        Write cost is proportional to affected data — with a
        sort_by/partition layout on the predicate column that is
        O(matching files), not O(table). For update-heavy keyed
        workloads prefer :meth:`merge_rows` (merge-on-read, O(batch)
        commits); this is the set-based companion, the same split
        Iceberg makes between COW UPDATE and MoR MERGE. The reference
        leaves every update path unimplemented
        (``pyiceberg_patch_nessie.py:230-264``).
        """
        from pyspark.sql import functions as F

        schema_cols = None

        def build(meta: TableMetadata):
            nonlocal schema_cols
            schema_cols = [f.name for f in meta.spark_schema.fields]
            bad = [c for c in set_exprs if c not in schema_cols]
            if bad:
                raise ValueError(f"SET columns not in schema: {bad}")
            with_conds = meta.files_with_deletes()
            affected_raw = prune_files_any(
                [f for f, _ in with_conds],
                predicate_groups
                or ([list(predicates)] if predicates else []),
                meta.all_partition_fields,
                name_history=meta.rename_history,
            )
            if not affected_raw:
                return None, ""
            affected_paths = {f.path for f in affected_raw}
            affected = [(f, c) for f, c in with_conds if f.path in affected_paths]
            cur = self._df_applying_deletes(spark, meta, affected)
            cond = F.coalesce(F.expr(sql_condition), F.lit(False))
            types = {f.name: f.dataType for f in meta.spark_schema.fields}
            updated = cur.select(
                *[
                    (
                        F.when(cond, F.expr(set_exprs[c]).cast(types[c]))
                        .otherwise(F.col(c))
                        .alias(c)
                        if c in set_exprs
                        else F.col(c)
                    )
                    for c in schema_cols
                ]
            )
            new_files = self._write_files(updated, meta, table)
            return (
                meta.with_new_snapshot(
                    new_files,
                    "rewrite",
                    removed_paths=sorted(affected_paths),
                    extra_summary={
                        "cdc": "update",
                        "condition": sql_condition,
                        "set": json.dumps(set_exprs),
                    },
                ),
                f"UPDATE {table} SET {', '.join(set_exprs)} "
                f"WHERE {sql_condition}",
            )

        return self._optimistic_commit(table, branch, build)

    def _files_overlapping_keys(
        self,
        meta: TableMetadata,
        key_cols: list[str],
        kdf: DataFrame,
        dup_guard: str | None = None,
    ) -> list[tuple[FileEntry, tuple[DeleteSpec, ...]]] | None:
        """Live files whose metadata says they MAY hold any of the
        incoming keys (None = empty/all-null key set). Shared pruning
        for upsert/delete_keys/merge and the incremental-dedup index
        probes, in three sound layers:

        1. **Partition-value sets** (keyprobe.py): a key column that
           is also a partition source prunes by set membership against
           the batch's distinct partition values — bounded by the
           table's partition cardinality, NEVER by the batch key
           count. The 100 TB path for ``truncate(4, fingerprint)``
           dedup indexes, where blooms saturate.
        2. **Global key-range vs file min/max** per column (a
           composite key can only live in a file whose range covers
           EVERY component).
        3. **Exact tuples vs per-file (range, bloom)**: a tuple admits
           a file only if every component lies within the file's
           column range AND its bloom (if any) admits it. Up to
           :data:`PROBE_DRIVER_KEYS_MAX` sampled rows this runs
           driver-side; above it the probe ships the candidates'
           evidence to the executors (``keyprobe.probe_files_spark``)
           instead of silently skipping — the old >10k cliff that
           degraded uniform-digest batches to full index scans.

        ``dup_guard`` names a per-key row-count column on ``kdf``
        (merge_into's duplicate-source-key rule): its max rides the
        bounds aggregate — folding the gate into a job that runs
        anyway instead of a separate O(batch) pre-pass — and a value
        above 1 raises; the offending key is fetched only on the
        error path."""
        from pyspark.sql import functions as F

        from no_jvm_wap_with_iceberg_spark.catalog.bloom import bloom_may_contain
        from no_jvm_wap_with_iceberg_spark.catalog.keyprobe import (
            file_survives,
            partition_value_sets,
            partition_value_sets_local,
            probe_files_local,
            probe_files_spark,
        )
        from no_jvm_wap_with_iceberg_spark.catalog.pruning import _norm

        k = len(key_cols)
        # sample FIRST: when the driver sample captures the complete
        # key set (the common keyed-mutation / index-probe shape),
        # partition sets, per-partition bounds, global bounds AND the
        # duplicate-key guard are all pure functions of the collected
        # tuples — deriving them driver-side folds the probe's two
        # batch jobs into one (guide §1.2). Above the cap, or when the
        # local derivation cannot prove byte-identity with the write
        # path's partition expressions, the Spark aggregation runs
        # exactly as before.
        sel = list(key_cols) + ([dup_guard] if dup_guard is not None else [])
        sample = kdf.select(*sel).limit(
            self.PROBE_DRIVER_KEYS_MAX + 1
        ).collect()
        complete = len(sample) <= self.PROBE_DRIVER_KEYS_MAX
        keys = [tuple(r)[:k] for r in sample] if complete else None
        part_sets = bounds = None
        if complete:
            if dup_guard is not None:
                bad = next(
                    (r for r in sample if (r[dup_guard] or 0) > 1), None
                )
                if bad is not None:
                    key = ",".join(key_cols)
                    raise ValueError(
                        f"merge_into source has duplicate merge key "
                        f"{tuple(bad)[:-1]!r} (ON {key}); a key may match "
                        "at most one source row — dedupe the batch first"
                    )
            part_sets = partition_value_sets_local(meta, key_cols, keys)
            if part_sets is not None:
                bounds = []
                for i in range(k):
                    vs = sorted(
                        _norm(t[i]) for t in keys if t[i] is not None
                    )
                    bounds.append((vs[0], vs[-1]) if vs else (None, None))
        if part_sets is None:
            part_sets = partition_value_sets(meta, key_cols, kdf)
            covered = {ps.key_index for ps in part_sets}
        if bounds is not None:
            pass
        elif dup_guard is None and covered == set(range(k)):
            # every key column is a resolved partition source, so the
            # partition-value aggregation already saw every non-null
            # key: fold the global bounds from the per-partition
            # bounds driver-side instead of paying a second
            # full-batch agg job. _norm is order-preserving
            # (datetimes fold to sortable isoformat), so min/max over
            # normed per-partition bounds equal the normed agg.
            bounds = []
            for i in range(k):
                los = [
                    lo
                    for ps in part_sets
                    if ps.key_index == i
                    for lo, _hi in ps.bounds.values()
                    if lo is not None
                ]
                his = [
                    hi
                    for ps in part_sets
                    if ps.key_index == i
                    for _lo, hi in ps.bounds.values()
                    if hi is not None
                ]
                bounds.append(
                    (min(los) if los else None, max(his) if his else None)
                )
        else:
            aggs = [
                *[F.min(c).alias(f"lo_{i}") for i, c in enumerate(key_cols)],
                *[F.max(c).alias(f"hi_{i}") for i, c in enumerate(key_cols)],
            ]
            if dup_guard is not None:
                aggs.append(F.max(dup_guard).alias("_mx_dup"))
            bounds_row = kdf.agg(*aggs).first()
            if dup_guard is not None and (bounds_row["_mx_dup"] or 0) > 1:
                dup = kdf.filter(F.col(dup_guard) > 1).limit(1).collect()
                key = ",".join(key_cols)
                raise ValueError(
                    f"merge_into source has duplicate merge key "
                    f"{tuple(dup[0])[:-1]!r} (ON {key}); a key may match "
                    "at most one source row — dedupe the batch first"
                )
            bounds = [
                (_norm(bounds_row[i]), _norm(bounds_row[k + i]))
                for i in range(k)
            ]
        if all(lo is None for lo, _ in bounds):
            return None
        with_conds = meta.files_with_deletes()
        # pre-rename files key their stats/blooms under the old name
        names_per_col = [
            [c] + list(meta.rename_history.get(c, ())) for c in key_cols
        ]
        # bucket-era partition fields per key column: a hash-bucketed
        # column's per-file value range scatters over the whole space
        # and its bloom saturates at production rows/file, so the
        # file's OWN bucket value is the only per-tuple evidence that
        # keeps e.g. a composite (band_hash, key) delete bounded by
        # the victims' bands instead of the table (found by
        # tools/soak_forget_manifest.py at a 100k-file census).
        # Partition evolution is per-file: each era's field name maps
        # to its own modulus.
        from no_jvm_wap_with_iceberg_spark.catalog.keyprobe import (
            HIVE_NULL,
            _pnames,
        )

        bucket_eras: list[list[tuple[int, list[str]]]] = [
            [
                (p.param, _pnames(meta, p, c))
                for p in meta.all_partition_fields
                if p.transform == "bucket" and p.source == c
            ]
            for c in key_cols
        ]

        def bucket_ev(f: FileEntry, i: int) -> tuple[int, int] | None:
            for param, pnames in bucket_eras[i]:
                raw = next(
                    (f.partition[p] for p in pnames if p in f.partition),
                    None,
                )
                if raw is not None and raw != HIVE_NULL:
                    try:
                        return (param, int(unquote(raw)))
                    except ValueError:
                        return None  # unparsable dir value: no evidence
            return None

        def evidence(f: FileEntry) -> list[tuple]:
            out = []
            for i, names in enumerate(names_per_col):
                st = next(
                    (f.columns[n] for n in names if n in f.columns), {}
                )
                b = next((n for n in names if n in f.blooms), None)
                out.append(
                    (
                        st.get("min"),
                        st.get("max"),
                        f.blooms[b] if b else None,
                        bucket_ev(f, i),
                    )
                )
            return out

        # layers 1-2: partition-set membership, then key-range overlap
        # tightened to each file's OWN partition — far tighter than
        # the global bounds for uniform keys, and what keeps
        # executor-probe candidates ~true-hits as the index grows
        # (probe latency then scales with the BATCH, not file count).
        # The per-file loop is ~1.2 us/file warm (soak-measured to a
        # 1M-file manifest — see file_survives' docstring for why a
        # vectorized variant was built and rejected).
        surviving = [
            pair
            for pair in with_conds
            if file_survives(pair[0], part_sets, bounds, names_per_col)
        ]

        affected: list[tuple[FileEntry, tuple[DeleteSpec, ...]]] = []
        cands: list[tuple[int, list]] = []  # (slot in affected, ev)
        for f, specs in surviving:
            ev = evidence(f)
            if all(
                mn is None and mx is None and b is None and bk is None
                for mn, mx, b, bk in ev
            ):
                affected.append((f, specs))  # no evidence: keep
                continue
            cands.append((len(affected), ev))
            affected.append((f, specs))  # placeholder; filtered below
        if cands:
            # layer 3, exact tuples vs per-file evidence: ONE
            # vectorized kernel (keyprobe._probe_batches) either
            # driver-side over the complete collected sample — no
            # Spark job, tens of ms up to the sample cap — or
            # executor-side above it. Same kernel, same admit set
            # (pinned by the randomized reference test); the old
            # per-tuple Python loop this replaces was the reason the
            # driver cap sat at 10k keys.
            admitted = (
                probe_files_local(keys, [(j, ev) for j, ev in cands])
                if keys is not None
                else probe_files_spark(
                    kdf, key_cols, [(j, ev) for j, ev in cands]
                )
            )
            drop = {j for j, _ev in cands if j not in admitted}
            affected = [
                pair for j, pair in enumerate(affected) if j not in drop
            ]
        return affected

    # driver-side probe cap: batches sampling above this many rows
    # probe executor-side (keyprobe.probe_files_spark) — never skip
    # blooms, never collect an unbounded key set to the driver. The
    # vectorized local kernel holds ~100k keys in a few MB and probes
    # them in tens of ms.
    PROBE_DRIVER_KEYS_MAX = 100_000

    def _write_key_files(self, kdf: DataFrame, table: str) -> list[str]:
        """Persist a distinct key set as Iceberg-style equality-delete
        parquet files; returns warehouse-relative paths."""
        delete_dir = os.path.join(
            self.warehouse, "tables", table, "deletes", uuid.uuid4().hex[:12]
        )
        kdf.write.mode("overwrite").parquet(delete_dir)
        return sorted(
            os.path.relpath(os.path.join(delete_dir, n), self.warehouse)
            for n in os.listdir(delete_dir)
            if n.endswith(".parquet")
        )

    def _resolve_key(
        self, table: str, branch: str, key: str | list[str] | None
    ) -> str | list[str]:
        """Default a keyed mutation's merge key to the table's Iceberg
        identifier fields (``ALTER TABLE .. SET IDENTIFIER FIELDS``)
        when the caller passes none."""
        if key:
            return key
        ids = self.load_table(table, branch).identifier_fields
        if not ids:
            raise ValueError(
                f"no merge key given and table {table!r} has no identifier "
                "fields (ALTER TABLE .. SET IDENTIFIER FIELDS a, b)"
            )
        return ids

    # default max pending equality-delete specs on any one live file
    # before a merge commit triggers a self-tending binpack fold;
    # override per table with the 'write.merge.auto-fold-specs'
    # property ('0' disables)
    AUTO_FOLD_SPECS_DEFAULT = 16

    def _auto_fold_specs(
        self, spark: SparkSession, table: str, branch: str, meta
    ) -> None:
        """Self-tending merge-on-read: after a merge/MoR-delete commit,
        when any live file has accumulated >= ``write.merge.
        auto-fold-specs`` pending equality-delete specs (default
        :attr:`AUTO_FOLD_SPECS_DEFAULT`; '0' disables), fold them back
        with :meth:`fold_deletes` — per-file rewrites of ONLY the
        spec-carrying files, preserving the layout's file boundaries
        (and therefore its key-range pruning granularity; a binpack
        fold here measurably destroyed it — see fold_deletes). A
        sustained merge loop (streaming CDC apply, WapPipeline, a
        plain API loop) then self-tends with no maintenance cron:
        SCALE.md r5 measured 40 unfolded merges drifting commit
        latency 1.49x and read depth linearly; with the trigger the
        depth is bounded by the threshold. Best-effort and off the
        commit path — the merge itself already committed, and a lost
        fold CAS race just leaves the fold to the next trigger."""
        raw = meta.properties.get("write.merge.auto-fold-specs", "")
        try:
            thresh = int(raw) if raw else self.AUTO_FOLD_SPECS_DEFAULT
        except (TypeError, ValueError):
            thresh = self.AUTO_FOLD_SPECS_DEFAULT
        if thresh <= 0:
            return
        depth = max(
            (len(specs) for _f, specs in meta.files_with_deletes()),
            default=0,
        )
        if depth < thresh:
            return
        try:
            self.fold_deletes(spark, table, branch)
        except Exception:
            pass  # maintenance must never fail the write that triggered it

    def merge_rows(
        self,
        df: DataFrame,
        table: str,
        key: str | list[str] | None = None,
        branch: str = MAIN,
        delete_col: str | None = None,
        max_retries: int = 3,
        write_partitions: int | None = 1,
        set_properties: dict[str, str] | None = None,
    ) -> TableMetadata:
        """MERGE by key, merge-on-read — the update-heavy-table answer
        the reference leaves unimplemented (``pyiceberg_patch_nessie.py
        :230-264`` raises) and :meth:`upsert` only covers copy-on-write.

        Semantics (Iceberg ``MERGE INTO`` over a source keyed by
        ``key`` — a single column or a composite column LIST, the same
        shape Iceberg's equality-delete field-id lists cover):

        - matched keys are UPDATED: an equality-delete masks the old
          row wherever it lives, the new row arrives in this commit's
          insert files;
        - unmatched keys are INSERTED (same insert files);
        - rows where ``delete_col`` (optional boolean) is true are
          DELETED: they join the equality-delete key set but are not
          re-inserted.

        One commit carries both the delete spec and the insert files.
        Cost is O(incoming batch) — the insert files plus one small
        key-set parquet — independent of table size, vs :meth:`upsert`
        which rewrites every file overlapping the key range. The read
        path anti-joins ONLY the stats/bloom-pruned target files
        against the key set (broadcast, no shuffle); :meth:`compact`
        later folds pending deletes into a clean rewrite.

        Insert files and the key-set file are written ONCE before the
        commit loop; a CAS conflict retries only the metadata build
        (re-pruning delete targets against the fresh file list, so a
        concurrently-appended file holding a matched key is masked
        too).

        ``write_partitions`` (default 1) coalesces the insert batch
        before writing: a CDC-sized batch otherwise writes one tiny
        file per shuffle partition and a merge-every-minute table
        accumulates thousands of files between compactions (measured
        12x read amplification from file opens alone). Set None for
        large backfill batches where write parallelism matters, or a
        higher count to target a file size.

        ``set_properties`` rides table-property updates IN the merge
        commit (one CAS): a consumer can persist its source cursor
        atomically with the rows it derived from it — the
        transactional-cursor pattern :class:`..pipelines.incremental.
        IncrementalAggregate` builds on (a crash can never leave rows
        applied but the cursor behind, or vice versa). The engine's
        bookkeeping keys are refused, as in :meth:`set_properties`.
        """
        from pyspark.sql import functions as F

        refuse_internal_props(set_properties or ())
        meta0 = self.load_table(table, branch)
        # composite keys: normalize to a column list; specs store the
        # comma-joined form (DeleteSpec.key_cols splits it back)
        key = self._resolve_key(table, branch, key)
        key_cols = [key] if isinstance(key, str) else list(key)
        key = ",".join(key_cols)
        if delete_col is not None:
            dels = df.filter(F.col(delete_col) == F.lit(True))
            ups = df.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
            kdf = (
                ups.select(*key_cols)
                .unionByName(dels.select(*key_cols))
                .distinct()
            )
        else:
            ups = df
            kdf = df.select(*key_cols).distinct()
        ups = self._align_schema(ups, meta0)
        if write_partitions is not None:
            ups = ups.coalesce(write_partitions)
            kdf = kdf.coalesce(write_partitions)
        # insert files and the key-set parquet are independent jobs
        # over the same source: submit them from two driver threads so
        # the second write backfills the first's task tail (guide
        # §2.6) instead of paying two serialized write walls
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as _pool:
            _f_new = _pool.submit(self._write_files, ups, meta0, table)
            _f_keys = _pool.submit(self._write_key_files, kdf, table)
            new_files = _f_new.result()
            key_files = _f_keys.result()
        # probe with the key set READ BACK from the just-written
        # parquet, not the live kdf plan: the probe's sample/aggregate
        # jobs then scan one tiny file instead of re-running the whole
        # source subtree (and a commit retry re-probes without
        # recomputing the batch either)
        kdf_probe = (
            self._scan(df.sparkSession, key_files, kdf.schema)
            if key_files
            else kdf
        )

        def build(meta: TableMetadata):
            affected = self._files_overlapping_keys(meta, key_cols, kdf_probe)
            if not affected and sum(f.rows for f in new_files) == 0:
                return None, ""  # empty batch touching nothing
            deletes = (
                [
                    {
                        "key": key,
                        "key_files": key_files,
                        "targets": [f.path for f, _ in affected],
                    }
                ]
                if affected
                else []
            )
            m2 = meta.with_new_snapshot(new_files, "merge", deletes=deletes)
            if set_properties:
                m2 = m2.evolve(
                    version=m2.version,
                    properties=m2.properties_with(**set_properties),
                )
            return (
                m2,
                f"MERGE {table} ON {key} "
                f"(+{len(new_files)} files, {len(deletes)} delete specs)",
            )

        out = self._optimistic_commit(
            table, branch, build, max_retries=max_retries
        )
        self._auto_fold_specs(df.sparkSession, table, branch, out)
        return out

    def merge_into(
        self,
        source: DataFrame,
        table: str,
        key: str | list[str] | None = None,
        when_matched_update: str | None = "true",
        when_matched_delete: str | None = None,
        when_not_matched_insert: str | None = "true",
        update_set: dict[str, str] | None = None,
        insert_values: dict[str, str] | None = None,
        when_not_matched_by_source_delete: str | None = None,
        when_not_matched_by_source_update: str | None = None,
        update_by_source_set: dict[str, str] | None = None,
        branch: str = MAIN,
        write_partitions: int | None = 1,
        max_retries: int = 3,
        schema_evolution: bool = False,
    ) -> TableMetadata:
        """Full conditional ``MERGE INTO`` (the Iceberg/Delta clause
        surface; :meth:`merge_rows` is the unconditional
        upsert+tombstone fast path):

        - ``when_matched_delete`` — SQL boolean over ``s.*``/``t.*``
          (source/target): matched rows where it holds are DELETED.
          Evaluated first, like the leading WHEN MATCHED clause.
        - ``when_matched_update`` — matched rows where it holds (and
          the delete clause did not) are UPDATED: each column comes
          from ``update_set[col]`` (SQL over ``s.*``/``t.*``) or
          defaults to the source's column. Matched rows satisfying
          NEITHER clause remain untouched — the semantic
          :meth:`merge_rows` cannot express (it rewrites every match).
        - ``when_not_matched_insert`` — SQL boolean over ``s.*``:
          unmatched source rows where it holds are INSERTED (columns
          via ``insert_values`` or the source's, cast to the table
          schema). Extra source columns (flags the conditions read)
          are dropped on write.

        Merge-on-read commit, same shape as :meth:`merge_rows`: ONE
        snapshot carrying an equality-delete spec over only the
        CHANGED keys plus the insert files — cost O(batch + matched
        files), never O(table), and the change feed / streaming source
        replay it as delete+insert pairs with no extra support.
        Matched-row scans touch only the stats/bloom-pruned files that
        may hold an incoming key.

        Conditions read target values, so the whole evaluation is the
        commit loop's build: it runs against the head its attempt
        read, and if any commit lands on the branch before the CAS,
        the WHOLE evaluation re-runs on the fresh head (up to
        ``max_retries`` times) — a stale condition can never decide a
        commit.

        A source carrying duplicate merge keys raises (the
        Iceberg/Delta "multiple rows matched" rule): each duplicate
        would both multiply the updated row and re-insert twice. The
        gate is FOLDED into the key-pruning pass: the distinct-key
        aggregation carries a per-key count whose max rides the
        bounds aggregate ``_files_overlapping_keys`` runs anyway —
        no separate O(batch) pre-pass (VERDICT r4 #5).

        ``when_not_matched_by_source_delete`` /
        ``when_not_matched_by_source_update`` (Delta / Spark 3.4
        ``WHEN NOT MATCHED BY SOURCE``) act on TARGET rows whose key
        has no source match — conditions read ``t.*`` only; updates
        take ``update_by_source_set`` (defaulting unmentioned columns
        to the target value). These clauses scan the live table
        filtered by the condition (Catalyst pushes it into the scan),
        not just key-overlapping files — inherent to the semantics;
        cost is O(cond-matching data). DELETE evaluates before UPDATE,
        like the matched pair. Target rows whose key contains NULL
        cannot ride an equality delete, so selecting one raises
        (use :meth:`delete_where` for them) rather than silently
        skipping it.

        ``schema_evolution=True`` (Delta's ``MERGE WITH SCHEMA
        EVOLUTION`` / ``schema.autoMerge``): the source's extra
        TOP-LEVEL columns are ADDED to the target schema (nullable,
        source types) in the SAME commit as the merged rows — updated
        and inserted rows carry source values, untouched rows read
        back NULL (old files simply lack the column). Additive only:
        nested-struct evolution and type widening are out of scope
        (document the cast instead); re-adding a dropped name raises
        (zombie-column hazard, shared with ``append(merge_schema=
        True)``). The evolution is re-derived per CAS attempt from the
        fresh head, so a concurrent writer adding the same column is
        benign (idempotent union) and a same-name/different-type race
        surfaces as a cast error rather than silent corruption.
        """
        from pyspark.sql import functions as F

        spark = source.sparkSession
        key = self._resolve_key(table, branch, key)
        key_cols = [key] if isinstance(key, str) else list(key)
        key = ",".join(key_cols)
        src_counts = source.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("_dup_n")
        )
        base: TableMetadata | None = None

        def build(parent: dict[str, Any]):
            nonlocal base
            base = self._table_in(parent, table, branch)
            base_names = {f.name for f in base.spark_schema.fields}
            meta0 = (
                self._schema_evolved_by(base, source.schema, table)
                if schema_evolution
                else base
            )
            cols = [f.name for f in meta0.spark_schema.fields]

            def _upd_default(c: str) -> str:
                # Delta's explicit-SET-list semantics under evolution:
                # an UNMENTIONED new column keeps the target value
                # (NULL on old rows); SET * takes every source column
                if (
                    schema_evolution
                    and update_set is not None
                    and c not in base_names
                ):
                    return f"t.`{c}`"
                return f"s.`{c}`"

            def _ins_default(c: str) -> str:
                # explicit INSERT list: unmentioned new column -> NULL
                if (
                    schema_evolution
                    and insert_values is not None
                    and c not in base_names
                ):
                    return "NULL"
                return f"`{c}`"
            types = {f.name: f.dataType for f in meta0.spark_schema.fields}
            affected0 = self._files_overlapping_keys(
                meta0, key_cols, src_counts, dup_guard="_dup_n"
            )
            cur = self._df_applying_deletes(spark, meta0, affected0 or [])
            joined = source.alias("s").join(
                cur.alias("t"),
                on=F.expr(
                    " AND ".join(f"s.`{k}` = t.`{k}`" for k in key_cols)
                ),
                how="inner",
            )
            del_cond = (
                F.coalesce(F.expr(when_matched_delete), F.lit(False))
                if when_matched_delete
                else F.lit(False)
            )
            upd_cond = (
                F.coalesce(F.expr(when_matched_update), F.lit(False))
                if when_matched_update
                else F.lit(False)
            ) & ~del_cond
            changed_keys = (
                joined.filter(del_cond | upd_cond)
                .select(*[F.expr(f"s.`{k}`").alias(k) for k in key_cols])
                .distinct()
            )
            sets = update_set or {}
            if when_matched_update:
                updated = joined.filter(upd_cond).select(
                    *[
                        F.expr(sets.get(c, _upd_default(c)))
                        .cast(types[c])
                        .alias(c)
                        for c in cols
                    ]
                )
            else:
                # no matched-update clause: don't even BUILD the arm —
                # its default s.<col> projection fails analysis when
                # the source schema is narrower than the target (an
                # INSERT-only MERGE from a narrow source is legal)
                updated = spark.createDataFrame([], meta0.spark_schema)
            if when_not_matched_by_source_delete or when_not_matched_by_source_update:
                # target rows with NO source key: the full live state
                # (the clause can touch any file), condition pushed
                # into the scan by Catalyst
                cur_all = self._df_applying_deletes(
                    spark, meta0, meta0.files_with_deletes()
                ).alias("t")
                t_unmatched = cur_all.join(
                    source.select(*key_cols).distinct(), key_cols, "left_anti"
                )
                bs_del = (
                    F.coalesce(
                        F.expr(when_not_matched_by_source_delete), F.lit(False)
                    )
                    if when_not_matched_by_source_delete
                    else F.lit(False)
                )
                bs_upd = (
                    F.coalesce(
                        F.expr(when_not_matched_by_source_update), F.lit(False)
                    )
                    if when_not_matched_by_source_update
                    else F.lit(False)
                ) & ~bs_del
                bs_selected = t_unmatched.filter(bs_del | bs_upd)
                null_key = bs_selected.filter(
                    " OR ".join(f"`{k}` IS NULL" for k in key_cols)
                ).limit(1)
                if null_key.count() > 0:
                    raise ValueError(
                        "WHEN NOT MATCHED BY SOURCE selected a target row "
                        f"with a NULL merge key {key_cols}: equality "
                        "deletes cannot address it (use delete_where)"
                    )
                changed_keys = changed_keys.unionByName(
                    bs_selected.select(*[F.col(k) for k in key_cols]).distinct()
                ).distinct()
                bs_sets = update_by_source_set or {}
                updated = updated.unionByName(
                    t_unmatched.filter(bs_upd).select(
                        *[
                            F.expr(bs_sets.get(c, f"t.`{c}`"))
                            .cast(types[c])
                            .alias(c)
                            for c in cols
                        ]
                    )
                )
            ivals = insert_values or {}
            not_matched = source.alias("s").join(
                cur.select(*key_cols), key_cols, "left_anti"
            )
            if when_not_matched_insert:
                inserts = not_matched.filter(
                    F.coalesce(F.expr(when_not_matched_insert), F.lit(False))
                ).select(
                    *[
                        F.expr(ivals.get(c, _ins_default(c)))
                        .cast(types[c])
                        .alias(c)
                        for c in cols
                    ]
                )
            else:
                inserts = spark.createDataFrame([], meta0.spark_schema)
            ups = updated.unionByName(inserts)
            if write_partitions is not None:
                ups = ups.coalesce(write_partitions)
                changed_keys = changed_keys.coalesce(write_partitions)
            # write insert files and the changed-key parquet from two
            # driver threads (guide §2.6: one write wall, not two).
            # has_changed is read off the written key files' footers —
            # the former standalone limit(1).count() re-ran the whole
            # source-join subtree a third time for one boolean.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as _pool:
                _f_new = _pool.submit(self._write_files, ups, meta0, table)
                _f_keys = _pool.submit(
                    self._write_key_files, changed_keys, table
                )
                new_files = _f_new.result()
                key_files = _f_keys.result()
            import pyarrow.parquet as _pq

            has_changed = any(
                _pq.ParquetFile(
                    os.path.join(self.warehouse, p)
                ).metadata.num_rows
                > 0
                for p in key_files
            )
            if not has_changed:
                key_files = []
            # probe with the key set read back from the written parquet
            # (one tiny scan; the live changed_keys plan would re-run
            # the source-join subtree per probe job)
            keys_probe = (
                self._scan(spark, key_files, changed_keys.schema)
                if key_files
                else None
            )

            deletes = []
            if has_changed:
                affected = self._files_overlapping_keys(
                    meta0, key_cols, keys_probe
                )
                if affected:
                    deletes = [
                        {
                            "key": key,
                            "key_files": key_files,
                            "targets": [f.path for f, _ in affected],
                        }
                    ]
            if (
                not deletes
                and sum(f.rows for f in new_files) == 0
                and meta0 is base
            ):
                return None  # no rows AND no new columns
            return {
                "metas": {
                    table: meta0.with_new_snapshot(
                        new_files, "merge", deletes=deletes
                    )
                },
                "message": f"MERGE INTO {table} ON {key} (conditional, "
                f"+{len(new_files)} files, {len(deletes)} delete specs)",
            }

        done = self._commit_loop(branch, build, max_retries)
        out = base if done is None else done["metas"][table]
        self._auto_fold_specs(spark, table, branch, out)
        return out

    def delete_keys(
        self,
        keys_df: DataFrame,
        table: str,
        key: str | list[str] | None = None,
        branch: str = MAIN,
        mode: str = "mor",
    ) -> TableMetadata:
        """Row-level DELETE by key set (Iceberg equality-delete shape).

        - ``mode="mor"``: write the (distinct) key values as a parquet
          delete file and commit a metadata-only 'delete' snapshot
          targeting the stats/bloom-pruned files; reads anti-join those
          files against the key set. Commit cost = one small key write,
          independent of table size.
        - ``mode="cow"``: rewrite the pruned files minus matching keys.

        The target-file pruning reuses the upsert machinery: key-range
        min/max plus bloom probes when the key column carries filters.
        """
        from pyspark.sql import functions as F

        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be cow|mor, got {mode!r}")
        key = self._resolve_key(table, branch, key)
        key_cols = [key] if isinstance(key, str) else list(key)
        key = ",".join(key_cols)
        kdf = keys_df.select(*key_cols).distinct()
        # MoR: write the key parquet ONCE before the commit loop (a
        # CAS retry used to rewrite it) and probe from the written
        # file — the probe's jobs then scan one tiny parquet instead
        # of re-running the caller's key plan. If nothing overlaps,
        # the unreferenced key file is ordinary orphan debris for the
        # maintenance grace window.
        key_files = self._write_key_files(kdf, table) if mode == "mor" else []
        kdf_probe = (
            self._scan(keys_df.sparkSession, key_files, kdf.schema)
            if key_files
            else kdf
        )

        def build(meta: TableMetadata):
            affected = self._files_overlapping_keys(meta, key_cols, kdf_probe)
            if not affected:
                return None, ""  # empty key set or nothing overlaps
            if mode == "mor":
                return (
                    meta.with_new_snapshot(
                        [],
                        "delete",
                        deletes=[
                            {
                                "key": key,
                                "key_files": key_files,
                                "targets": [f.path for f, _ in affected],
                            }
                        ],
                    ),
                    f"DELETE KEYS (MoR) FROM {table} ON {key}",
                )
            keep = self._df_applying_deletes(
                kdf.sparkSession, meta, affected
            ).join(F.broadcast(kdf), key_cols, "left_anti")
            new_files = self._write_files(keep, meta, table)
            # persist the key set even in cow mode: the change feed
            # replays "which rows did this commit delete" from it
            key_paths = self._write_key_files(kdf, table)
            return (
                meta.with_new_snapshot(
                    new_files,
                    "rewrite",
                    removed_paths=[f.path for f, _ in affected],
                    extra_summary={
                        "cdc": "delete_keys",
                        "key": key,
                        "key_files": json.dumps(key_paths),
                    },
                ),
                f"DELETE KEYS FROM {table} ON {key}",
            )

        out = self._optimistic_commit(table, branch, build)
        if mode == "mor":
            self._auto_fold_specs(kdf.sparkSession, table, branch, out)
        return out

    def create_table_from_df(
        self,
        df: DataFrame,
        table: str,
        branch: str = MAIN,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        or_replace: bool = False,
    ) -> TableMetadata:
        """CTAS convenience: create from the DataFrame's schema + append.

        ``or_replace`` (``CREATE OR REPLACE TABLE ... AS SELECT``):
        when the table exists, the new schema AND the query's rows
        land in ONE ref CAS — no window where an observer sees the
        replaced table empty (or missing, as a drop+create would
        leave). See :meth:`create_table` for the history semantics.
        """
        if or_replace and self.table_exists(table, branch):
            proto = TableMetadata(
                table=table,
                schema_json=df.schema.jsonValue(),
                version=1,
                partition_by=partition_by,
                sort_by=sort_by,
            )
            files = self._write_files(
                self._align_schema(df, proto), proto, table
            )
            new_meta = proto.with_new_snapshot(files, "append")

            def build(parent: dict[str, Any]):
                if table not in parent["tables"]:
                    return None  # dropped concurrently: plain create below
                return {
                    "metas": {table: new_meta},
                    "message": f"REPLACE TABLE {table} AS SELECT",
                }

            if self._commit_loop(branch, build) is not None:
                return new_meta
        self.create_table(
            table,
            df.schema,
            branch,
            partition_by=partition_by,
            sort_by=sort_by,
            or_replace=or_replace,
        )
        return self.append(df, table, branch)

    def clone_table(
        self,
        source: str,
        target: str,
        branch: str = MAIN,
        source_branch: str | None = None,
        snapshot_id: int | None = None,
        shallow: bool = True,
        if_not_exists: bool = False,
        or_replace: bool = False,
        spark: SparkSession | None = None,
    ) -> TableMetadata:
        """Clone a table — Delta's ``CREATE TABLE t2 [SHALLOW] CLONE t1``.

        **Shallow** (default): metadata-only, zero data movement. The
        clone's base state references the SOURCE's data files by their
        warehouse-relative paths; it carries the pinned snapshot's
        whole ancestor chain, so pending merge-on-read delete specs,
        time travel, and CDC reads on the clone all work unchanged.
        Unlike Delta — where ``VACUUM`` on the source breaks shallow
        clones — this engine's :meth:`remove_orphan_files` computes
        referenced files across ALL tables on ALL branches, so a
        source-side vacuum can never reclaim a file a clone still
        lists (test-locked in ``tests/test_clone_copy.py``). Writes to the
        clone land under the clone's own directory; the two tables
        evolve independently from the shared base.

        **Deep** (``shallow=False``, Delta's bare ``CLONE``): copies
        the data by reading the pinned snapshot and rewriting it under
        the target with the source's partition/sort layout (requires
        ``spark``). History starts fresh at one snapshot.

        ``snapshot_id`` pins the clone at a past state (SQL:
        ``... CLONE t1 VERSION AS OF n``); it must be an ancestor of
        the source's current snapshot. ``source_branch`` lets one
        branch clone another's table (e.g. pulling an audit branch's
        staged table into ``main`` for forensics).

        The reference has no clone verb at all
        (``pyiceberg_patch_nessie.py:230-264`` leaves table management
        unimplemented); this matches the Delta/Iceberg surface a
        migrating user expects. At 100 TB a shallow clone is O(commit
        chain) metadata — the table size never appears in the cost.
        """
        src_branch = source_branch if source_branch is not None else branch
        if source == target and src_branch == branch:
            raise ValueError("cannot clone a table onto itself")
        if or_replace and if_not_exists:
            raise ValueError("OR REPLACE and IF NOT EXISTS are exclusive")
        src = self.load_table(source, src_branch)
        pin = (
            snapshot_id if snapshot_id is not None
            else src.current_snapshot_id
        )
        by_id = {s.snapshot_id: s for s in src.snapshots}
        chain: list = []
        cur = by_id.get(pin) if pin is not None else None
        if pin is not None and cur is None:
            raise ValueError(
                f"snapshot {pin} not found in table {source!r}"
            )
        while cur is not None:
            chain.append(cur)
            cur = (
                by_id.get(cur.parent_snapshot_id)
                if cur.parent_snapshot_id is not None
                else None
            )
        chain.reverse()  # chronological, ancestors of the pin only

        props = src.properties_with(
            prior_names=None,
            **{
                "clone.source": source,
                "clone.source-snapshot-id": pin if pin is not None else -1,
            },
        )

        def make_meta() -> TableMetadata:
            if shallow:
                # round-trip the source metadata (properties carry
                # rename history, defaults, constraints, partition-spec
                # eras — everything the read path needs), re-rooted at
                # the target name with history truncated to the pin's
                # ancestor chain
                return src.evolve(
                    table=target,
                    snapshots=chain,
                    current_snapshot_id=pin,
                    version=1,
                    properties=props,
                )
            if spark is None:
                raise ValueError("deep clone requires a SparkSession")
            # write the copy BEFORE the commit, then land schema + data
            # in ONE ref CAS (same discipline as CREATE OR REPLACE ...
            # AS SELECT: no observer window where the target exists
            # empty, and a failed write leaves an existing target
            # untouched)
            df = self.read(spark, source, src_branch, snapshot_id=pin)
            proto = TableMetadata(
                table=target,
                schema_json=src.schema_json,
                version=1,
                partition_by=src.partition_by or None,
                sort_by=src.sort_by or None,
                properties=props,
            )
            files = self._write_files(
                self._align_schema(df, proto), proto, target
            )
            return proto.with_new_snapshot(files, "append") if files else proto

        new_meta: TableMetadata | None = None
        kind = "SHALLOW CLONE" if shallow else "CLONE"

        def build(parent: dict[str, Any]):
            # existence re-checked per attempt so a racing creator
            # resolves semantically; the metadata (and a deep copy's
            # data) is made once, on the first attempt that commits —
            # IF NOT EXISTS against a racer's table copies nothing
            nonlocal new_meta
            exists = target in parent["tables"]
            if exists and not or_replace:
                if if_not_exists:
                    return None
                raise ValueError(
                    f"table {target!r} already exists on {branch!r}"
                )
            if new_meta is None:
                new_meta = make_meta()
            verb = "REPLACE" if exists else "CREATE"
            return {
                "metas": {target: new_meta},
                "message": f"{verb} TABLE {target} {kind} {source}",
            }

        if self._commit_loop(branch, build) is None:
            return self.load_table(target, branch)
        return new_meta

    def add_files(
        self,
        spark: SparkSession,
        table: str,
        source_dir: str,
        branch: str = MAIN,
        pattern: str | None = None,
        check_duplicate_files: bool = True,
    ) -> dict[str, Any]:
        """Register EXISTING parquet files as table data without
        rewriting them — Iceberg's ``add_files`` procedure, the
        zero-copy onboarding path: pointing the catalog at 100 TB of
        historical parquet costs one footer read per file (stats for
        pruning) and one metadata commit, never a data rewrite.

        Hive-style ``k=v`` directory segments under ``source_dir``
        become partition values; for a partitioned table they must
        cover exactly the table's identity partition fields (the
        manifest is what attaches partition values at read time, same
        as engine-written files). The files stay where they are,
        recorded under their ABSOLUTE paths: the orphan sweep only
        walks the warehouse's own table directories, so externally
        registered data is never reclaimed by maintenance — dropping
        the table leaves the source directory untouched.

        A missing table is created from the directory's inferred
        schema (partitioned by the hive keys found). With
        ``check_duplicate_files`` (Iceberg's default) re-adding an
        already-live path raises; pass False to skip those files
        instead.
        """
        import fnmatch

        from no_jvm_wap_with_iceberg_spark.catalog.table import FileEntry

        root = os.path.abspath(source_dir)
        if not os.path.isdir(root):
            raise ValueError(
                f"add_files source {source_dir!r} is not a directory"
            )
        wh_root = os.path.abspath(self.warehouse)
        if root == wh_root or root.startswith(wh_root + os.sep):
            # warehouse-internal files are identified by RELATIVE path
            # in every manifest; registering them again under an
            # absolute spelling would give one physical file two
            # identities — the orphan sweep and duplicate guard would
            # each see only one of them (silent reclaim hazard)
            raise ValueError(
                "add_files source must be outside the warehouse; "
                "warehouse-internal files are already table-managed "
                "(use SHALLOW CLONE to share data between tables)"
            )
        paths: list[str] = []
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = sorted(
                d for d in dirnames if not d.startswith((".", "_"))
            )
            for fn in sorted(filenames):
                if fn.startswith((".", "_")) or not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fn)
                if pattern and not fnmatch.fnmatch(
                    os.path.relpath(full, root), pattern
                ):
                    continue
                paths.append(full)
        if not paths:
            raise ValueError(
                f"add_files: no parquet files under {source_dir!r}"
            )

        import dataclasses as _dc

        # footer-only stats; path recorded absolute (external files
        # resolve through os.path.join unchanged on every read path)
        entries = [
            _dc.replace(FileEntry.from_parquet(p, root), path=p)
            for p in paths
        ]

        if not self.table_exists(table, branch):
            inferred = spark.read.parquet(root)
            part_keys = [
                k for k in entries[0].partition if k in inferred.columns
            ]
            self.create_table(
                table,
                inferred.schema,
                branch,
                partition_by=part_keys or None,
                if_not_exists=True,
            )

        stats: dict[str, Any] = {}

        def build(meta: TableMetadata):
            pfields = {f.name for f in meta.partition_fields}
            for e in entries:
                if set(e.partition) != pfields:
                    raise ValueError(
                        f"add_files: file {e.path!r} carries partition "
                        f"keys {sorted(e.partition)} but table "
                        f"{table!r} is partitioned by {sorted(pfields)}"
                    )
            live = {f.path for f in meta.files()}
            dup = [e for e in entries if e.path in live]
            if dup and check_duplicate_files:
                raise ValueError(
                    f"add_files: {len(dup)} file(s) already registered "
                    f"(first: {dup[0].path!r}); pass "
                    "check_duplicate_files=False to skip them"
                )
            fresh = [e for e in entries if e.path not in live]
            stats["files_added"] = len(fresh)
            stats["files_skipped"] = len(entries) - len(fresh)
            stats["rows_added"] = sum(e.rows for e in fresh)
            if not fresh:
                return None, ""
            return (
                meta.with_new_snapshot(fresh, "append"),
                f"ADD FILES {table} ({len(fresh)} external files)",
            )

        meta = self._optimistic_commit(table, branch, build)
        stats["snapshot_id"] = (
            meta.current_snapshot_id
            if meta.current_snapshot_id is not None
            else -1
        )
        return stats

    @staticmethod
    def _copy_into_loaded(meta: TableMetadata) -> set[str]:
        """Union of every ``copy-into-files`` ledger entry on the
        current snapshot chain — the exactly-once set for
        :meth:`copy_into`. O(commits) metadata, no data IO."""
        by_id = {s.snapshot_id: s for s in meta.snapshots}
        cur = (
            by_id.get(meta.current_snapshot_id)
            if meta.current_snapshot_id is not None
            else None
        )
        out: set[str] = set()
        while cur is not None:
            out.update(cur.summary.get("copy-into-files") or [])
            cur = (
                by_id.get(cur.parent_snapshot_id)
                if cur.parent_snapshot_id is not None
                else None
            )
        return out

    def copy_into(
        self,
        spark: SparkSession,
        table: str,
        source: str,
        file_format: str = "parquet",
        pattern: str | None = None,
        format_options: dict[str, str] | None = None,
        force: bool = False,
        branch: str = MAIN,
    ) -> dict[str, Any]:
        """Idempotent bulk file load — Databricks' ``COPY INTO`` verb.

        Lists ``source`` recursively (hidden ``_``/``.`` files and
        ``.crc`` sidecars skipped; ``pattern`` is an fnmatch glob over
        the path relative to ``source``), loads every file not already
        recorded in the table's load ledger, and commits rows + ledger
        in ONE snapshot — so a crash between write and commit loads
        nothing, and a re-run after success loads nothing again
        (exactly-once per file path, Databricks semantics: modified
        files are NOT reloaded unless ``force=True``). The ledger
        rides in snapshot summaries and survives
        :meth:`expire_snapshots`' history squash (the expired prefix's
        entries fold into the cutoff summary).

        A missing table is created lazily from the first batch's
        schema — the reference's idempotent-create pattern
        (``app.py:117-143``). At 100 TB the dedup check is an
        O(commits) metadata walk + set difference; only the NEW files
        are ever read, and the append inherits the table's full
        layout/constraint write path.
        """
        import fnmatch

        root = os.path.abspath(source)
        if not os.path.isdir(root):
            raise ValueError(f"COPY INTO source {source!r} is not a directory")
        cand: list[str] = []
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = sorted(
                d for d in dirnames if not d.startswith((".", "_"))
            )
            for fn in sorted(filenames):
                if fn.startswith((".", "_")) or fn.endswith(".crc"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, root)
                if pattern and not fnmatch.fnmatch(rel, pattern):
                    continue
                cand.append(full)

        fmt = file_format.lower()
        if fmt not in ("parquet", "csv", "json"):
            raise ValueError(f"unsupported FILEFORMAT {file_format!r}")

        def reader(meta: TableMetadata | None):
            r = spark.read.format(fmt)
            for k, v in (format_options or {}).items():
                r = r.option(k, v)
            if fmt in ("csv", "json"):
                if meta is not None:
                    # pin the table schema: per-batch inference could
                    # drift types between loads (and costs a pass)
                    r = r.schema(meta.spark_schema)
                elif "inferSchema" not in (format_options or {}):
                    # auto-create path: without inference a CSV would
                    # silently create an all-string table
                    r = r.option("inferSchema", "true")
            return r

        if not self.table_exists(table, branch):
            if not cand:
                raise ValueError(
                    f"COPY INTO: table {table!r} does not exist and "
                    f"{source!r} has no files to infer a schema from"
                )
            first = reader(None).load(cand)
            self.create_table(table, first.schema, branch, if_not_exists=True)

        stats: dict[str, Any] = {}

        def build(meta: TableMetadata):
            loaded = self._copy_into_loaded(meta)
            new = [p for p in cand if force or p not in loaded]
            stats["files_skipped"] = len(cand) - len(new)
            stats["files_loaded"] = len(new)
            if not new:
                stats["rows_loaded"] = 0
                return None, ""
            df = self._align_schema(reader(meta).load(new), meta)
            files = self._write_files(df, meta, table)
            stats["rows_loaded"] = sum(f.rows for f in files)
            # commit even when rows == 0: an empty file must still be
            # ledgered or every later run re-reads it forever
            return (
                meta.with_new_snapshot(
                    files,
                    "append",
                    extra_summary={"copy-into-files": sorted(new)},
                ),
                f"COPY INTO {table} ({len(new)} files)",
            )

        meta = self._optimistic_commit(table, branch, build)
        stats["snapshot_id"] = (
            meta.current_snapshot_id
            if meta.current_snapshot_id is not None
            else -1
        )
        return stats

    # ------------------------------------------------------------------
    # read path (Spark-distributed, with metadata pruning)
    # ------------------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        table: str,
        branch: str = MAIN,
        snapshot_id: int | None = None,
        predicates: list[Predicate] | None = None,
        with_metadata: bool = False,
    ) -> DataFrame:
        """Scan a table at a branch (optionally at a past snapshot).

        ``predicates`` prune files via footer stats before Spark ever
        sees them; they are hints only — pass the same filter to the
        returned DataFrame for row-level semantics (Catalyst will push
        it into the surviving parquet files too).

        ``with_metadata`` appends ``_file`` (Iceberg's metadata
        column): the warehouse-relative data file each row came from —
        row-level provenance for forensics (which file holds the bad
        row → surgical rewrite/delete of exactly that file). MoR
        deletes still apply; the path survives the seq-gating joins
        because the scan already tags rows with it.

        Reference: branch-addressed scans with pushdown
        (``app.py:217-223``, ``quality_app.py:43-51``).
        """
        meta = self.load_table(table, branch)
        with_deletes = meta.files_with_deletes(snapshot_id)
        if predicates:
            keep = {
                f.path
                for f in prune_files(
                    [f for f, _ in with_deletes],
                    predicates,
                    meta.all_partition_fields,
                    name_history=meta.rename_history,
                )
            }
            with_deletes = [(f, c) for f, c in with_deletes if f.path in keep]
        return self._df_applying_deletes(
            spark,
            meta,
            with_deletes,
            snapshot_id=snapshot_id,
            keep_path=with_metadata,
        )

    def snapshot_as_of(
        self, table: str, timestamp_ms: int, branch: str = MAIN
    ) -> int | None:
        """Latest snapshot id at-or-before ``timestamp_ms`` on the
        branch's current chain (Iceberg ``TIMESTAMP AS OF``); None if
        the table had no snapshot yet at that time."""
        meta = self.load_table(table, branch)
        by_id = {s.snapshot_id: s for s in meta.snapshots}
        cur = meta.snapshot()
        while cur is not None:
            if cur.timestamp_ms <= timestamp_ms:
                return cur.snapshot_id
            cur = (
                by_id.get(cur.parent_snapshot_id)
                if cur.parent_snapshot_id is not None
                else None
            )
        return None

    def read_as_of(
        self, spark: SparkSession, table: str, timestamp_ms: int, branch: str = MAIN
    ) -> DataFrame:
        """Time travel by wall clock: the table as of ``timestamp_ms``."""
        sid = self.snapshot_as_of(table, timestamp_ms, branch)
        if sid is None:
            return spark.createDataFrame([], self.load_table(table, branch).spark_schema)
        return self.read(spark, table, branch, snapshot_id=sid)

    def read_incremental(
        self,
        spark: SparkSession,
        table: str,
        branch: str = MAIN,
        from_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Rows added after ``from_snapshot_id`` — incremental audits
        read only the new files instead of the whole table (the scale
        fix for the reference's full-rescan audit, SURVEY §7.1 step 9).
        """
        meta = self.load_table(table, branch)
        files = meta.added_files_since(from_snapshot_id)
        conds = {f.path: c for f, c in meta.files_with_deletes()}
        return self._df_applying_deletes(
            spark, meta, [(f, conds.get(f.path, ())) for f in files]
        )

    def read_changes(
        self,
        spark: SparkSession,
        table: str,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        branch: str = MAIN,
    ) -> DataFrame:
        """Change data feed (Iceberg/Delta CDF): every row the table
        gained or lost between two snapshots, as the user schema plus
        ``_change_type`` ('insert' | 'delete') and ``_snapshot_id``.
        Updates appear as delete+insert pairs under the committing
        snapshot — the standard CDC representation, and exactly what
        :meth:`merge_rows` consumes on the way in, so two tables can
        be chained engine-to-engine through their feeds.

        Reconstruction is metadata-driven: appends replay their added
        files; MoR deletes / merges replay their recorded condition or
        key set against the PARENT-visible state of their target
        files; copy-on-write deletes/updates replay the condition (and
        SET exprs) their commits recorded against the removed files
        (still on disk until snapshot expiry). Compaction/z-order
        commits are tagged ``cdc: none`` and yield nothing — layout is
        not change. ``upsert`` rewrites predate per-commit CDC tags
        and raise (use :meth:`merge_rows` for CDC-readable updates).

        At 100 TB each span element touches only the files that
        commit touched — cost is O(changed data), never O(table).
        """
        from pyspark.sql import functions as F

        meta = self.load_table(table, branch)
        by_id = {s.snapshot_id: s for s in meta.snapshots}
        if to_snapshot_id is None:
            to_snapshot_id = meta.current_snapshot_id
        span: list = []
        cur = by_id.get(to_snapshot_id)
        while cur is not None and cur.snapshot_id != from_snapshot_id:
            span.append(cur)
            cur = (
                by_id.get(cur.parent_snapshot_id)
                if cur.parent_snapshot_id is not None
                else None
            )
        if cur is None and from_snapshot_id is not None:
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of "
                f"{to_snapshot_id} (expired or different branch era)"
            )
        span.reverse()  # chronological

        schema = meta.spark_schema
        cols = [f.name for f in schema.fields]
        types = {f.name: f.dataType for f in schema.fields}
        hist = meta.rename_history
        old_to_new = {o: c for c, olds in hist.items() for o in olds}

        def with_hist(df: DataFrame) -> DataFrame:
            """Expose historical column names as aliases of their
            current columns, so conditions / SET exprs recorded before
            a later ``rename_column`` still resolve during replay (no
            collision risk: renamed-away names are barred from reuse).
            ``tag``'s ``select(*cols)`` drops the aliases again."""
            for cur, olds in hist.items():
                for o in olds:
                    df = df.withColumn(o, F.col(cur))
            return df

        def tag(df: DataFrame, change: str, sid: int) -> DataFrame:
            return df.select(*cols).select(
                *cols,
                F.lit(change).alias("_change_type"),
                F.lit(sid).alias("_snapshot_id"),
            )

        def parent_rows(s, paths: list[str]) -> DataFrame:
            """Rows of the given files as visible at s's PARENT."""
            want = set(paths)
            visible = [
                (f, c)
                for f, c in meta.files_with_deletes(s.parent_snapshot_id)
                if f.path in want
            ]
            return self._df_applying_deletes(spark, meta, visible)

        def added(s) -> DataFrame:
            rows = self._df_for_files(spark, meta, s.added_files)
            return tag(rows, "insert", s.snapshot_id)

        def keyed(rows: DataFrame, key_files: list[str], key: str) -> DataFrame:
            """The ``rows`` whose ``key`` is in the key files."""
            kdf = self._scan(spark, key_files).distinct()
            return rows.join(F.broadcast(kdf), key.split(","), "left_semi")

        def spec_deletes(s) -> list[DataFrame]:
            out = []
            for spec in s.deletes:
                base = with_hist(parent_rows(s, spec.get("targets") or []))
                if spec.get("condition") is not None:
                    cond = F.coalesce(F.expr(spec["condition"]), F.lit(False))
                    out.append(base.filter(cond))
                else:
                    out.append(keyed(base, spec["key_files"], spec["key"]))
            return out

        parts: list[DataFrame] = []
        for s in span:
            cdc = s.summary.get("cdc")
            if cdc == "none":
                continue
            if cdc == "unsupported" or (s.operation == "rewrite" and not cdc):
                raise ValueError(
                    f"snapshot {s.snapshot_id} ({s.operation}) carries no "
                    "CDC record; use merge_rows/delete_where/update_where "
                    "for change-feed-readable mutations"
                )
            sid = s.snapshot_id
            if s.operation == "append":
                parts.append(added(s))
            elif s.operation == "overwrite":
                parts.append(
                    tag(
                        self._df_applying_deletes(
                            spark,
                            meta,
                            meta.files_with_deletes(s.parent_snapshot_id),
                        ),
                        "delete",
                        sid,
                    )
                )
                parts.append(added(s))
            elif s.operation == "delete":  # merge-on-read
                for d in spec_deletes(s):
                    parts.append(tag(d, "delete", sid))
            elif s.operation == "merge":
                for d in spec_deletes(s):
                    parts.append(tag(d, "delete", sid))
                parts.append(added(s))
            elif s.operation == "rewrite" and cdc == "replace":
                # dynamic partition overwrite: every prior row of the
                # replaced partitions deletes, the incoming rows insert
                parts.append(
                    tag(parent_rows(s, s.removed_paths), "delete", sid)
                )
                parts.append(added(s))
            elif s.operation == "rewrite" and cdc == "replace_where":
                # predicate-scoped replace: prior matching rows delete,
                # incoming rows insert. The commit's new files mix kept
                # rows with incoming ones — the ENFORCED predicate
                # separates them exactly (kept rows all fail it,
                # incoming all pass)
                rw_cond = F.coalesce(
                    F.expr(s.summary.get("condition", "false")), F.lit(False)
                )
                parts.append(
                    tag(
                        with_hist(parent_rows(s, s.removed_paths)).filter(
                            rw_cond
                        ),
                        "delete",
                        sid,
                    )
                )
                parts.append(
                    tag(
                        with_hist(
                            self._df_for_files(spark, meta, s.added_files)
                        ).filter(rw_cond),
                        "insert",
                        sid,
                    )
                )
            elif s.operation == "rewrite":
                pre = with_hist(parent_rows(s, s.removed_paths))
                cond = F.coalesce(
                    F.expr(s.summary.get("condition", "false")), F.lit(False)
                )
                if cdc == "delete":
                    parts.append(tag(pre.filter(cond), "delete", sid))
                elif cdc == "delete_keys":
                    keys = json.loads(s.summary["key_files"])
                    gone = keyed(pre, keys, s.summary["key"])
                    parts.append(tag(gone, "delete", sid))
                elif cdc == "update":
                    matched = pre.filter(cond)
                    parts.append(tag(matched, "delete", sid))
                    set_exprs = {
                        old_to_new.get(k, k): v
                        for k, v in json.loads(s.summary["set"]).items()
                    }
                    post = matched.select(
                        *[
                            (
                                F.expr(set_exprs[c]).cast(types[c]).alias(c)
                                if c in set_exprs
                                else F.col(c)
                            )
                            for c in cols
                        ]
                    )
                    parts.append(tag(post, "insert", sid))

        if not parts:
            empty = spark.createDataFrame([], schema)
            return tag(empty, "insert", -1).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _scan(
        self,
        spark: SparkSession,
        rel_paths: list[str],
        schema: Any = None,
    ) -> DataFrame:
        """One parquet scan of warehouse-relative ``rel_paths``. Every
        catalog read of table files goes through here: data files (with
        the read ``schema``) and MoR key files (with the schema they
        were written with where it is in hand, else the footer's —
        inferring it runs a Spark job). Building the scan lists the
        paths on the driver: ``get_spark`` sets Spark's parallel
        listing threshold above any table's file count."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(
            *[os.path.join(self.warehouse, p) for p in rel_paths]
        )

    def _df_for_files(
        self,
        spark: SparkSession,
        meta: TableMetadata,
        files: list[FileEntry],
        with_path: bool = False,
        file_seq: dict[str, int] | None = None,
    ) -> DataFrame:
        """Scan ``files`` with the table schema: one scan, at most one
        broadcast per-file frame, one projection.

        - The scan reads the data columns. Identity partition columns
          are left out (their values live in the manifest, never in the
          files). A renamed column also reads its historical names,
          typed alike: parquet yields NULL for whichever name a file
          lacks, so one scan covers any mix of pre/post-rename files.
        - The frame holds every per-file fact, keyed on ``__mor_path``,
          the url-decoded absolute path (see ``_file_path_col``; not
          the basename: a partitioned write emits the same part-file
          name into every partition dir). Facts: identity partition
          values, one has-column flag per DEFAULT column that some file
          lacks, and ``file_seq`` (path -> MoR commit sequence) as
          ``__mor_seq``.
        - The projection folds renames (``coalesce(current, old, ...)``),
          applies defaults and casts partition values.

        ``with_path`` keeps ``__mor_path``. Without facts or renames the
        result is the bare scan."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        schema, hist = meta.spark_schema, meta.rename_history
        pcols = meta.identity_partition_cols or []
        if not files:
            df = spark.createDataFrame([], schema)
            if with_path:
                df = df.withColumn("__mor_path", F.lit(None).cast("string"))
            return df

        # column DEFAULTS (Iceberg v3 initial defaults): a file that
        # physically LACKS the column was written before the column
        # existed, so its rows read as the default literal, while
        # genuine NULLs in later files stay NULL (so a plain
        # coalesce(col, default) would be wrong). Presence comes from
        # the manifest: FileEntry.columns holds one entry per footer
        # column chunk, struct columns as dotted leaf paths.
        def has(f: FileEntry, c: str) -> bool:
            names = [c, *hist.get(c, ())]
            return any(
                k == n or k.startswith(n + ".") for k in f.columns for n in names
            )

        presence = {
            c: [has(f, c) for f in files]
            for c in meta.column_defaults
            if c not in pcols
        }
        flags = [c for c, seen in presence.items() if not all(seen)]
        facts = [f"{c} string" for c in pcols]
        facts += [f"__dflt_{i} boolean" for i in range(len(flags))]
        if file_seq is not None:
            facts.append("__mor_seq long")

        data = [f for f in schema.fields if f.name not in pcols]
        olds = [
            T.StructField(o, f.dataType, True)
            for f in data
            for o in hist.get(f.name, ())
        ]
        df = self._scan(
            spark, [f.path for f in files], T.StructType(data + olds)
        )
        if facts or with_path:
            df = df.withColumn("__mor_path", _file_path_col())
        if facts:
            frame = spark.createDataFrame(
                [
                    (
                        os.path.join(self.warehouse, f.path),
                        *[_partition_value(f.partition.get(c)) for c in pcols],
                        *[presence[c][i] for c in flags],
                        *([file_seq[f.path]] if file_seq is not None else []),
                    )
                    for i, f in enumerate(files)
                ],
                ", ".join(["__mor_path string", *facts]),
            )
            df = df.join(F.broadcast(frame), "__mor_path")
        elif not hist:
            return df

        def column(f: T.StructField):
            if f.name in pcols:
                return F.col(f.name).cast(f.dataType).alias(f.name)
            olds = hist.get(f.name, ())
            expr = F.coalesce(*map(F.col, [f.name, *olds])) if olds else F.col(f.name)
            if f.name in flags:
                default = F.expr(meta.column_defaults[f.name]).cast(f.dataType)
                expr = F.when(
                    F.col(f"__dflt_{flags.index(f.name)}"), expr
                ).otherwise(default)
            return expr.alias(f.name)

        keep = ["__mor_path"] if with_path else []
        if file_seq is not None:
            keep.append("__mor_seq")
        return df.select(*map(column, schema.fields), *keep)

    def _df_applying_deletes(
        self,
        spark: SparkSession,
        meta: TableMetadata,
        files_with_conds: list[tuple[FileEntry, tuple[DeleteSpec, ...]]],
        snapshot_id: int | None = None,
        keep_path: bool = False,
    ) -> DataFrame:
        """Scan files applying their pending merge-on-read deletes.

        A merge/delete-heavy table accumulates one delete spec per
        commit, each applying only to files from OLDER commits. The
        naive plan (group files by applicable-spec set, one scan +
        anti-join chain per group) grows linearly with pending-delete
        depth — measured 12x read amplification after 50 merges.
        Instead the files are scanned ONCE, each row is tagged with
        the commit sequence of its file (``_metadata.file_path``
        joined against the O(files) path->snapshot map), and deletes
        are gated by sequence comparison:

        - equality deletes (per key column): one scan of ALL key files
          tagged with their delete's commit seq, aggregated to
          ``key -> max(del_seq)``, ONE broadcast left join; a row
          survives unless some delete newer than its file holds its
          key. Targets metadata is a pruning hint — a non-target older
          file provably lacks the key, so seq-gating is semantically
          identical.
        - condition deletes: one NULL-safe filter per condition,
          seq-gated: ``NOT(cond AND del_seq > row_seq)``.

        Plan depth is O(#conditions + #key columns) — independent of
        how many merge commits are pending. Everything is JVM-side;
        the only broadcast state is the key set (Iceberg-equality-
        delete-sized).
        """
        from pyspark.sql import functions as F

        def finish(df: DataFrame) -> DataFrame:
            """Restore schema order; ``keep_path`` appends ``_file``
            (the warehouse-relative data file each row came from —
            Iceberg's ``_file`` metadata column)."""
            cols = [f.name for f in meta.spark_schema.fields]
            if not keep_path:
                return df.select(*cols)
            prefix = os.path.join(self.warehouse, "")
            return df.select(
                *cols,
                F.expr(
                    f"substring(__mor_path, {len(prefix) + 1})"
                ).alias("_file"),
            )

        files = [f for f, _ in files_with_conds]
        if all(not specs for _, specs in files_with_conds):
            df = self._df_for_files(spark, meta, files, with_path=keep_path)
            return finish(df) if keep_path else df

        # seq maps are built over the chain OF THE REQUESTED SNAPSHOT,
        # not the whole log: a delete committed after the read snapshot
        # (or an identical delete re-issued later) must not gate this
        # read — walking all snapshots would collapse duplicate specs
        # to an out-of-scope newer seq and wrongly delete rows that
        # were appended between the two commits (time-travel bug).
        chain = sorted(meta.chain(snapshot_id), key=lambda sn: sn.snapshot_id)
        # commit seq per live file: the NEWEST chain snapshot that
        # added the path (expire re-adds carried files in its
        # synthetic base snapshots)
        add_seq: dict[str, int] = {}
        spec_seq: dict[DeleteSpec, int] = {}
        for sn in chain:
            for f in sn.added_files:
                add_seq[f.path] = sn.snapshot_id
            # identical in-chain specs collapse to the newest seq,
            # which gates a superset of what the duplicates gate
            # together — equivalent at this snapshot
            for d in sn.deletes:
                spec_seq[DeleteSpec.from_json(d)] = sn.snapshot_id
        active: dict[DeleteSpec, int] = {}
        for _, specs in files_with_conds:
            for sp in specs:
                active[sp] = spec_seq[sp]

        df = self._df_for_files(
            spark,
            meta,
            files,
            with_path=keep_path,
            file_seq={f.path: add_seq[f.path] for f in files},
        )

        key_paths: dict[str, dict[str, int]] = {}  # key spec -> path -> seq
        for sp, seq in active.items():
            if sp.condition is not None:
                df = df.filter(
                    ~(
                        F.coalesce(F.expr(sp.condition), F.lit(False))
                        & (F.lit(seq) > F.col("__mor_seq"))
                    )
                )
            else:
                paths = key_paths.setdefault(sp.key, {})
                for p in sp.key_files:
                    paths[p] = max(paths.get(p, 0), seq)
        for key, paths in key_paths.items():
            # ONE scan of every pending key file for this key spec
            # (single OR composite column set); each key row gets its
            # delete's commit seq via the same file_path attach — 50
            # pending merges = 50 tiny files in one relation, not 50
            # separate scans
            key_cols = key.split(",")
            kseq = spark.createDataFrame(
                [
                    (os.path.join(self.warehouse, p), q)
                    for p, q in paths.items()
                ],
                "__mor_kpath string, __mor_dseq long",
            )
            keys = (
                self._scan(spark, list(paths))
                .select(*key_cols, _file_path_col().alias("__mor_kpath"))
                .join(F.broadcast(kseq), "__mor_kpath")
                .groupBy(*key_cols)
                .agg(F.max("__mor_dseq").alias("__mor_mds"))
            )
            df = df.join(F.broadcast(keys), key_cols, "left").filter(
                F.col("__mor_mds").isNull() | (F.col("__mor_mds") <= F.col("__mor_seq"))
            ).drop("__mor_mds")
        # joins reorder columns; restore the table schema order
        return finish(df)

    # ------------------------------------------------------------------
    # metadata-only aggregates (no Spark job at all)
    # ------------------------------------------------------------------
    def row_count(
        self,
        table: str,
        branch: str = MAIN,
        snapshot_id: int | None = None,
        spark: SparkSession | None = None,
    ) -> int:
        """Exact row count — metadata-only unless merge-on-read deletes
        are pending, in which case a scan is required (pass ``spark``)
        rather than silently over-counting deleted rows."""
        meta = self.load_table(table, branch)
        if meta.has_pending_deletes(snapshot_id):
            if spark is None:
                raise ValueError(
                    f"table {table!r} has pending MoR deletes; metadata-only "
                    "row_count would over-count — pass spark= for an exact scan "
                    "or compact() first"
                )
            return self._df_applying_deletes(
                spark, meta, meta.files_with_deletes(snapshot_id), snapshot_id=snapshot_id
            ).count()
        return meta.row_count(snapshot_id)

    def null_count(
        self, table: str, column: str, branch: str = MAIN, snapshot_id: int | None = None
    ) -> int | None:
        meta = self.load_table(table, branch)
        if meta.has_pending_deletes(snapshot_id):
            return None  # stats predate the pending deletes
        return meta.null_count(column, snapshot_id)

    # ------------------------------------------------------------------
    # schema evolution (the reference leaves this NotImplementedError —
    # pyiceberg_patch_nessie.py:230-264; Iceberg-on-Spark has it native)
    # ------------------------------------------------------------------
    def add_column(
        self,
        table: str,
        name: str,
        data_type: str,
        branch: str = MAIN,
        default: str | None = None,
    ) -> TableMetadata:
        """Add a nullable column (metadata-only — no data rewrite).

        Old files simply lack the column; the read path supplies the
        table schema to the Parquet reader, which fills missing columns
        with NULLs — the same lazy widening Iceberg does. Appends after
        the change must include the column (alignment is strict).

        ``default`` (a SQL LITERAL string, e.g. ``"5"``, ``"'eu'"``,
        ``"TIMESTAMP '2024-01-01 00:00:00'"``) declares an Iceberg-v3
        style default: rows in files written BEFORE the column existed
        read as the literal (genuine NULLs written after stay NULL —
        presence is per-file physical, via the manifest), and writers
        may omit the column (the write fills it). Only literals are
        accepted — an arbitrary expression could break every future
        read of the table.
        """
        from pyspark.sql import types as T

        if default is not None:
            from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
                _parse_lit,
            )

            if default.strip().upper() == "NULL":
                raise ValueError(
                    "a NULL default is the no-default behavior; omit it"
                )
            try:
                _parse_lit(default.strip())
            except ValueError as ex:
                raise ValueError(
                    f"default for {name!r} must be a plain SQL literal: {ex}"
                )

        def build(meta: TableMetadata):
            schema = meta.spark_schema
            if name in schema.fieldNames():
                raise ValueError(f"column {name!r} already exists on {table!r}")
            if name in meta.dropped_columns:
                # name-based column mapping: re-adding a dropped name
                # would silently resurrect the old files' values (the
                # zombie-column hazard Iceberg's field ids exist to
                # prevent); require a fresh name instead
                raise ValueError(
                    f"column name {name!r} was previously dropped from "
                    f"{table!r}; old data files still carry it, so "
                    "re-adding the name would resurrect stale values. "
                    "Use a new column name."
                )
            new_schema = T.StructType(
                schema.fields
                + [T.StructField(name, T._parse_datatype_string(data_type), True)]
            )
            props = meta.properties
            if default is not None:
                props = meta.properties_with(**{f"default.{name}": default.strip()})
            return (
                meta.evolve(schema_json=new_schema.jsonValue(), properties=props),
                f"ADD COLUMN {table}.{name}",
            )

        return self._optimistic_commit(table, branch, build)

    def widen_column(
        self, table: str, name: str, new_type: str, branch: str = MAIN
    ) -> TableMetadata:
        """Widen a column's type (metadata-only — no data rewrite).

        Iceberg's safe type-promotion set: integer widening
        (byte -> short -> int -> long, any upward hop),
        float -> double, and decimal PRECISION increase at the SAME
        scale. Spark's parquet reader upcasts these natively when the
        table schema is wider than the file's (probe-verified on this
        Spark build; test-locked per promotion in
        tests/test_widen_column.py), so old files need no rewrite at
        any table size — exactly Iceberg's lazy promotion.

        Safety notes, each enforced or test-locked:
        - partition transforms stay consistent: ``bucket`` hashes the
          STRING form (type-independent) and integer ``truncate``
          computes in long space, so files written before the widening
          keep pruning correctly;
        - file stats compare as numbers after ``_norm`` regardless of
          width;
        - anything narrowing, scale-changing, or cross-family raises
          (a narrowing read would silently corrupt — Iceberg refuses
          too).
        """
        from pyspark.sql import types as T

        _INT_ORDER = ["byte", "short", "integer", "long"]

        def _ok(old: T.DataType, new: T.DataType) -> bool:
            os_, ns = old.simpleString(), new.simpleString()
            if os_ in ("tinyint", "smallint", "int", "bigint"):
                names = {"tinyint": "byte", "smallint": "short",
                         "int": "integer", "bigint": "long"}
                os_, ns2 = names.get(os_, os_), names.get(ns, ns)
                return (
                    ns2 in _INT_ORDER
                    and _INT_ORDER.index(ns2) > _INT_ORDER.index(os_)
                )
            if os_ == "float":
                return ns == "double"
            if isinstance(old, T.DecimalType) and isinstance(
                new, T.DecimalType
            ):
                return new.scale == old.scale and new.precision > old.precision
            return False

        def build(meta: TableMetadata):
            schema = meta.spark_schema
            if name not in schema.fieldNames():
                raise ValueError(f"no column {name!r} on {table!r}")
            target = T._parse_datatype_string(new_type)
            fields = []
            for f in schema.fields:
                if f.name != name:
                    fields.append(f)
                    continue
                if f.dataType == target:
                    raise ValueError(
                        f"column {name!r} already has type {new_type}"
                    )
                if not _ok(f.dataType, target):
                    raise ValueError(
                        f"cannot widen {name!r} from "
                        f"{f.dataType.simpleString()} to "
                        f"{target.simpleString()}: only int-widening, "
                        "float->double, and decimal precision increase "
                        "(same scale) are safe promotions"
                    )
                fields.append(T.StructField(f.name, target, f.nullable))
            widened = [c for c in meta.widened_columns if c != name]
            return (
                meta.evolve(
                    schema_json=T.StructType(fields).jsonValue(),
                    # the marker tells mixed-width-aware readers (DuckDB
                    # export) that files of BOTH widths exist for this
                    # column
                    properties=meta.properties_with(
                        widened_columns=widened + [name]
                    ),
                ),
                f"WIDEN COLUMN {table}.{name} -> {new_type}",
            )

        return self._optimistic_commit(table, branch, build)

    def drop_column(
        self, table: str, name: str, branch: str = MAIN
    ) -> TableMetadata:
        """Drop a column (metadata-only — no data rewrite).

        The read path supplies the reduced schema to the Parquet
        reader, which simply never materializes the dropped column
        from old files (column pruning makes this free); time-travel
        reads at pre-drop snapshots use the CURRENT schema, matching
        Iceberg's schema-follows-table semantics. Refused when the
        column is load-bearing (:meth:`TableMetadata.guard_column_change`:
        a partition-spec source, a sort/z-order key, an identifier
        field, or named by a CHECK constraint, a generated column's
        expression or a pending merge-on-read delete). Dropping a
        generated column drops its expression; the name stays barred
        from reuse (``dropped_columns``).
        """

        def build(meta: TableMetadata):
            from pyspark.sql import types as T

            schema = meta.spark_schema
            if name not in schema.fieldNames():
                raise KeyError(f"column {name!r} not found on {table!r}")
            if len(schema.fields) == 1:
                raise ValueError("cannot drop the only column")
            meta.guard_column_change(name, "drop")
            new_schema = T.StructType(
                [f for f in schema.fields if f.name != name]
            )
            drops = meta.dropped_columns
            if name not in drops:
                drops.append(name)
            updates: dict[str, Any] = {
                "dropped_columns": drops,
                f"default.{name}": None,
                f"generated.{name}": None,
            }
            if "bloom_cols" in meta.properties:
                updates["bloom_cols"] = [c for c in meta.bloom_cols if c != name]
            props = meta.properties_with(**updates)
            return (
                meta.evolve(schema_json=new_schema.jsonValue(), properties=props),
                f"DROP COLUMN {table}.{name}",
            )

        return self._optimistic_commit(table, branch, build)

    def rename_column(
        self, table: str, old: str, new: str, branch: str = MAIN
    ) -> TableMetadata:
        """Rename a column (metadata-only — no data rewrite).

        This format maps columns by NAME, so old data files keep the
        historical name forever; instead of Iceberg's field-id
        indirection, the commit records the ``old -> new`` pair in the
        ``renamed_columns`` property and the read path scans BOTH
        names (parquet fills the one a file lacks with NULLs — free)
        and emits ``coalesce(new, old)`` — still one scan, any mix of
        pre/post-rename files, chained renames fold
        (:meth:`TableMetadata.rename_history`). Stats/bloom pruning
        falls back through the historical names, so old files keep
        pruning on predicates over the new name. Compaction rewrites
        files under the current schema, so the indirection retires
        with the old files.

        Refused when ``old`` is load-bearing the same way
        :meth:`drop_column` refuses. A column's DEFAULT and GENERATED
        ALWAYS AS expression move with it. Both the old name and any
        previously-dropped name are barred from reuse (zombie-column
        hazard: files still carry their values).

        Reference scope: schema evolution raises NotImplementedError
        there (``pyiceberg_patch_nessie.py:230-264``); Iceberg-on-
        Spark has RENAME native via field ids.
        """

        def build(meta: TableMetadata):
            from pyspark.sql import types as T

            schema = meta.spark_schema
            if old not in schema.fieldNames():
                raise KeyError(f"column {old!r} not found on {table!r}")
            if new in schema.fieldNames():
                raise ValueError(f"column {new!r} already exists on {table!r}")
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
                raise ValueError(f"invalid column name {new!r}")
            drops = meta.dropped_columns
            if new in drops:
                raise ValueError(
                    f"column name {new!r} was previously dropped or renamed "
                    f"away on {table!r}; old data files still carry it, so "
                    "reusing the name would resurrect stale values. Use a "
                    "fresh name."
                )
            meta.guard_column_change(old, "rename")
            new_schema = T.StructType(
                [
                    T.StructField(new, f.dataType, f.nullable, f.metadata)
                    if f.name == old
                    else f
                    for f in schema.fields
                ]
            )
            if old not in drops:
                drops.append(old)
            moved: dict[str, str | None] = {}
            for kind in ("default", "generated"):
                if f"{kind}.{old}" in meta.properties:
                    moved[f"{kind}.{old}"] = None
                    moved[f"{kind}.{new}"] = meta.properties[f"{kind}.{old}"]
            if old in meta.bloom_cols:
                moved["bloom_cols"] = [
                    new if c == old else c for c in meta.bloom_cols
                ]
            props = meta.properties_with(
                renamed_columns=meta.renamed_pairs + [[old, new]],
                dropped_columns=drops,
                **moved,
            )
            return (
                meta.evolve(schema_json=new_schema.jsonValue(), properties=props),
                f"RENAME COLUMN {table}.{old} -> {new}",
            )

        return self._optimistic_commit(table, branch, build)

    def add_constraint(
        self,
        spark: SparkSession,
        table: str,
        name: str,
        expr: str,
        branch: str = MAIN,
    ) -> TableMetadata:
        """``ALTER TABLE .. ADD CONSTRAINT name CHECK (expr)`` (Delta
        parity; Iceberg has no CHECK surface). The expression is stored
        as property ``constraint.<name>`` and enforced INSIDE every
        subsequent data-file write (``_write_files`` folds it into the
        write expression — zero extra pass; a violating row aborts the
        commit loudly). SQL semantics: NULL passes, only FALSE
        violates. Existing rows are validated here first with one
        stats-prunable scan + ``limit(1)`` probe — like Delta, adding a
        constraint the current data violates refuses."""
        import re as _re

        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"invalid constraint name {name!r}")
        from pyspark.sql import functions as F

        def build(meta: TableMetadata):
            if name in meta.constraints:
                raise ValueError(
                    f"constraint {name!r} already exists on table {table!r}"
                )
            # validation runs INSIDE the optimistic commit, pinned to
            # the exact snapshot the CAS will land on — a concurrent
            # append moves the head, fails the CAS, and the retry
            # re-validates against the new rows (otherwise a violating
            # batch could slip between the scan and the property
            # commit, wedging every later rewrite of that file)
            bad = (
                self.read(
                    spark, table, branch, snapshot_id=meta.current_snapshot_id
                )
                .filter(~F.coalesce(F.expr(expr), F.lit(True)))
                .limit(1)
                .collect()
            )
            if bad:
                raise ValueError(
                    f"cannot add CHECK constraint {name!r}: existing row "
                    f"violates ({expr}): {bad[0].asDict()}"
                )
            props = meta.properties_with(**{f"constraint.{name}": expr})
            return (
                meta.evolve(properties=props),
                f"ADD CONSTRAINT {name} CHECK ({expr}) ON {table}",
            )

        return self._optimistic_commit(table, branch, build)

    def drop_constraint(
        self, table: str, name: str, branch: str = MAIN, if_exists: bool = False
    ) -> TableMetadata:
        meta = self.load_table(table, branch)
        if name not in meta.constraints:
            if if_exists:
                return meta
            raise KeyError(
                f"constraint {name!r} not found on table {table!r}"
            )
        return self.set_properties(table, branch, **{f"constraint.{name}": None})

    def set_identifier_fields(
        self, table: str, cols: list[str] | None, branch: str = MAIN
    ) -> TableMetadata:
        """Iceberg's ``ALTER TABLE .. SET IDENTIFIER FIELDS a, b``: the
        table's natural row identity. Keyed mutations (:meth:`merge_rows`,
        :meth:`merge_into`, :meth:`delete_keys`) default their merge key
        to these columns when the caller passes none. ``None``/empty
        clears (``DROP IDENTIFIER FIELDS``). Metadata-only."""
        meta = self.load_table(table, branch)
        if not cols:
            return self.set_properties(table, branch, identifier_fields=None)
        have = set(meta.spark_schema.fieldNames())
        missing = [c for c in cols if c not in have]
        if missing:
            raise ValueError(
                f"identifier fields {missing} not in table {table!r} schema"
            )
        return self.set_properties(table, branch, identifier_fields=cols)

    def set_sort_order(
        self, table: str, sort_by: list[str], branch: str = MAIN
    ) -> TableMetadata:
        """Sort-order evolution (Iceberg ``ALTER TABLE WRITE ORDERED
        BY``): metadata-only. FUTURE writes range-cluster on the new
        keys (``_write_files`` consults ``meta.sort_by``); existing
        files keep their old layout — their stats still prune on the
        old keys — and the next :meth:`compact` re-clusters the whole
        table under the new order. An empty list clears the order.

        This is the "evolve the spec first" escape hatch
        :meth:`rename_column` / :meth:`drop_column` point at for sort
        keys (partition keys have :meth:`evolve_partition_spec`).
        """

        def build(meta: TableMetadata):
            names = set(meta.spark_schema.fieldNames())
            missing = [c for c in sort_by if c not in names]
            if missing:
                raise KeyError(
                    f"sort columns {missing} not in {table!r} schema"
                )
            if list(meta.sort_by) == list(sort_by):
                return None, ""
            return (
                meta.evolve(sort_by=list(sort_by)),
                f"SET SORT ORDER {table} ({', '.join(sort_by) or 'none'})",
            )

        return self._optimistic_commit(table, branch, build)

    def rollback(
        self, table: str, snapshot_id: int, branch: str = MAIN
    ) -> TableMetadata:
        """Point the table back at an existing snapshot (Iceberg's
        ``rollback_to_snapshot`` / ``set_current_snapshot``): pure
        metadata — no files move, newer snapshots stay in the log (so
        a rollback can itself be undone) until ``expire_snapshots``
        reclaims them. The bad-publish escape hatch the WAP forensics
        story needs.
        """

        def build(meta: TableMetadata):
            meta.snapshot(snapshot_id)  # raises KeyError if unknown
            if meta.current_snapshot_id == snapshot_id:
                return None, ""
            return (
                meta.evolve(current_snapshot_id=snapshot_id),
                f"ROLLBACK {table} to snapshot {snapshot_id}",
            )

        return self._optimistic_commit(table, branch, build)

    def cherrypick_snapshot(
        self,
        table: str,
        snapshot_id: int,
        branch: str = MAIN,
        from_branch: str | None = None,
    ) -> TableMetadata:
        """Apply one APPEND snapshot's changes on top of the branch
        head (Iceberg's ``cherrypick_snapshot`` procedure) — zero-copy:
        the new snapshot re-references the picked snapshot's data
        files; nothing is rewritten at any table size. With
        ``from_branch`` the snapshot is looked up on ANOTHER branch's
        copy of the table — the surgical alternative to a full
        fast-forward when a WAP branch holds several commits and only
        one should publish.

        Restrictions (same shape as Iceberg, which cherry-picks only
        appends and dynamic overwrites):

        - the picked snapshot must be a pure append (no MoR deletes,
          no removed paths) — replaying a delete against a DIFFERENT
          base than it was computed on would remove the wrong rows;
        - the source and target table states must agree on schema and
          rename/drop history — the picked files' on-disk column
          names are mapped through the TARGET's rename history at
          read time, so a diverged history would silently mis-map;
        - none of the picked files may already be referenced by the
          target (double-pick guard).
        """
        src_meta = self.load_table(table, from_branch or branch)
        snap = src_meta.snapshot(snapshot_id)  # KeyError if unknown
        if snap.operation != "append" or snap.deletes or snap.removed_paths:
            raise ValueError(
                f"cherrypick_snapshot: snapshot {snapshot_id} is "
                f"{snap.operation!r} with {len(snap.deletes)} delete "
                f"spec(s) / {len(snap.removed_paths)} removed path(s); "
                "only pure appends can be cherry-picked (a delete "
                "replayed against a different base removes the wrong "
                "rows) — use merge()/fast_forward for full publishes"
            )

        def build(meta: TableMetadata):
            if (meta.renamed_pairs, meta.dropped_columns) != (
                src_meta.renamed_pairs,
                src_meta.dropped_columns,
            ):
                raise ValueError(
                    "cherrypick_snapshot: rename/drop history diverged "
                    f"between {from_branch or branch!r} and "
                    f"{branch!r}; the picked files would mis-map "
                    "through the target's rename history"
                )
            if meta.schema_json != src_meta.schema_json:
                raise ValueError(
                    "cherrypick_snapshot: table schema diverged between "
                    "the source and target branches"
                )
            if meta.partition_by != src_meta.partition_by or (
                meta.past_partition_specs != src_meta.past_partition_specs
            ):
                # identity-partitioned files physically LACK the
                # partition column (it is restored from the manifest
                # through the TARGET's spec at read time) — a file
                # written under a spec the target never had would
                # silently null-fill that column
                raise ValueError(
                    "cherrypick_snapshot: partition spec (or its "
                    "evolution history) diverged between the source "
                    "and target branches; picked files would restore "
                    "partition values through the wrong spec"
                )
            have = {
                f.path for s in meta.snapshots for f in s.added_files
            }
            dup = [f.path for f in snap.added_files if f.path in have]
            if dup:
                raise ValueError(
                    f"cherrypick_snapshot: {len(dup)} file(s) already "
                    f"referenced by {branch!r} (first: {dup[0]!r}) — "
                    "snapshot already applied?"
                )
            return (
                meta.with_new_snapshot(
                    snap.added_files,
                    "append",
                    extra_summary={
                        "cherrypicked-from": snapshot_id,
                        "cherrypicked-branch": from_branch or branch,
                    },
                ),
                f"CHERRYPICK snapshot {snapshot_id} -> {table}",
            )

        return self._optimistic_commit(table, branch, build)

    def metadata_df(
        self,
        spark: SparkSession,
        table: str,
        kind: str = "files",
        branch: str = MAIN,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Iceberg-style metadata tables as DataFrames — the
        ``table$files`` / ``table$snapshots`` / ``table$history``
        introspection surface (Iceberg SELECT * FROM t.files etc.).
        All driver-side O(metadata) — no Spark job reads data files.

        - ``files``: one row per LIVE data file (path, rows, bytes,
          partition values, pending-delete count).
        - ``snapshots``: one row per snapshot on the requested chain.
        - ``history``: one row per catalog commit on the branch.
        - ``partitions``: live files aggregated per partition tuple
          (Iceberg's ``t$partitions`` — the skew/size diagnosis
          surface: one SELECT shows which partition holds the data).
        - ``refs``: every branch and tag, whether it carries the
          table, and the table's head snapshot there (Iceberg's
          ``t$refs``).
        """
        meta = self.load_table(table, branch)
        if kind == "partitions":
            agg: dict[str, list[int]] = {}
            for f, specs in meta.files_with_deletes(snapshot_id):
                key = json.dumps(f.partition, sort_keys=True)
                a = agg.setdefault(key, [0, 0, 0, 0])
                a[0] += 1
                a[1] += f.rows
                a[2] += f.bytes
                a[3] += len(specs)
            rows = [
                (k, a[0], a[1], a[2], a[3]) for k, a in sorted(agg.items())
            ]
            return spark.createDataFrame(
                rows,
                "partition string, file_count long, row_count long, "
                "total_bytes long, n_pending_deletes long",
            )
        if kind == "refs":
            doc = self._store.get(_REFS)[0]
            tags = doc.get("tags", ())
            rows = []
            for ref in sorted(doc["refs"]):
                has = self.table_exists(table, ref)
                sid = (
                    self.load_table(table, ref).current_snapshot_id
                    if has
                    else None
                )
                rows.append(
                    (ref, "tag" if ref in tags else "branch", has, sid)
                )
            return spark.createDataFrame(
                rows,
                "ref string, type string, has_table boolean, "
                "snapshot_id long",
            )
        if kind == "files":
            rows = [
                (
                    f.path,
                    f.rows,
                    f.bytes,
                    json.dumps(f.partition, sort_keys=True),
                    len(specs),
                )
                for f, specs in meta.files_with_deletes(snapshot_id)
            ]
            return spark.createDataFrame(
                rows,
                "path string, rows long, bytes long, partition string, "
                "n_pending_deletes int",
            )
        if kind == "snapshots":
            rows = [
                (
                    s.snapshot_id,
                    s.parent_snapshot_id,
                    s.operation,
                    s.timestamp_ms,
                    len(s.added_files),
                    sum(f.rows for f in s.added_files),
                    len(s.removed_paths),
                    len(s.deletes),
                )
                for s in sorted(
                    meta.chain(snapshot_id), key=lambda s: s.snapshot_id
                )
            ]
            return spark.createDataFrame(
                rows,
                "snapshot_id long, parent_snapshot_id long, operation string, "
                "timestamp_ms long, added_files int, added_rows long, "
                "removed_files int, n_deletes int",
            )
        if kind == "history":
            rows = [
                (c["id"], c.get("parent"), c.get("message", ""), c["timestamp_ms"])
                for c in self.log(branch)
            ]
            return spark.createDataFrame(
                rows,
                "commit_id string, parent_id string, message string, "
                "timestamp_ms long",
            )
        raise ValueError(
            f"kind must be files|snapshots|history|partitions|refs, "
            f"got {kind!r}"
        )

    def analyze_table(
        self,
        spark: SparkSession,
        table: str,
        columns: list[str] | str | None = None,
        branch: str = MAIN,
    ) -> dict[str, Any]:
        """``ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS ...]``
        — table-level stats (row count, total bytes) come FREE from
        the manifest; column stats (approximate NDV + null count, the
        inputs a cost-based planner and a skew diagnosis need) cost
        ONE aggregation pass over exactly the requested columns
        (column-pruned scan). Results persist as ``stats.*`` table
        properties stamped with the analyzed snapshot id, so a reader
        can tell stale stats from fresh (Iceberg stores the same
        shapes in Puffin files; properties are this engine's
        metadata-file equivalent). ``columns='*'`` expands to every
        atomic-typed column.
        """
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        meta = self.load_table(table, branch)
        rows = self.row_count(table, branch, spark=spark)
        size = sum(f.bytes for f in meta.files())
        props: dict[str, str] = {
            "stats.numRows": str(rows),
            "stats.totalSize": str(size),
            "stats.analyzedSnapshot": str(
                meta.current_snapshot_id
                if meta.current_snapshot_id is not None
                else -1
            ),
        }
        cols: list[str] = []
        if columns == "*":
            cols = [
                f.name
                for f in meta.spark_schema.fields
                if not isinstance(
                    f.dataType, (T.ArrayType, T.MapType, T.StructType)
                )
            ]
        elif columns:
            known = {f.name for f in meta.spark_schema.fields}
            bad = [c for c in columns if c not in known]
            if bad:
                raise ValueError(
                    f"ANALYZE: unknown column(s) {bad} on {table!r}"
                )
            cols = list(columns)
        if cols:
            aggs = []
            for c in cols:
                aggs.append(
                    F.approx_count_distinct(c).alias(f"__ndv_{c}")
                )
                aggs.append(
                    F.sum(F.col(c).isNull().cast("long")).alias(
                        f"__nulls_{c}"
                    )
                )
            row = (
                self.read(spark, table, branch)
                .select(*cols)
                .agg(*aggs)
                .collect()[0]
            )
            for c in cols:
                props[f"stats.col.{c}.ndv"] = str(row[f"__ndv_{c}"])
                props[f"stats.col.{c}.nullCount"] = str(
                    row[f"__nulls_{c}"] or 0
                )
        self.set_properties(table, branch, **props)
        return {
            "num_rows": rows,
            "total_size": size,
            "analyzed_columns": cols,
        }

    def set_properties(
        self, table: str, branch: str = MAIN, **props: str | None
    ) -> TableMetadata:
        """Set/unset table properties (Iceberg's ALTER TABLE SET
        TBLPROPERTIES). ``None`` removes a key — e.g.
        ``set_properties(t, zorder_by=None)`` clears a stale clustering
        choice so compaction falls back to ``sort_by``. The engine's
        bookkeeping keys (``table.INTERNAL_PROPS``) are refused."""
        refuse_internal_props(props)

        def build(meta: TableMetadata):
            return (
                meta.evolve(properties=meta.properties_with(**props)),
                f"SET TBLPROPERTIES {table} ({', '.join(props)})",
            )

        return self._optimistic_commit(table, branch, build)

    def evolve_partition_spec(
        self, table: str, partition_by: list[str], branch: str = MAIN
    ) -> TableMetadata:
        """Change the table's partition spec for FUTURE writes
        (Iceberg partition evolution): existing files keep their old
        layout and keep pruning on the fields their manifest entries
        carry (``prune_files`` checks per-file partition keys, so a
        mixed-era file set prunes each file against the spec it was
        written under); new files land under the new spec.

        Identity fields must be preserved: the hive layout drops
        identity columns from data files, so removing (or adding) an
        identity field would orphan column data in old (or new)
        files. Transform (hidden) fields add/remove freely — their
        source columns always stay in-file.
        """
        from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
            parse_partition_spec,
            validate_spec,
        )

        def build(meta: TableMetadata):
            new_fields = parse_partition_spec(partition_by)
            validate_spec(new_fields, meta.spark_schema)
            old_ident = set(meta.identity_partition_cols)
            new_ident = {
                f.source for f in new_fields if f.transform == "identity"
            }
            if old_ident != new_ident:
                raise ValueError(
                    "partition evolution cannot change identity fields "
                    f"(old {sorted(old_ident)} vs new {sorted(new_ident)}): "
                    "identity columns live in directory names, not data "
                    "files; only hidden-transform fields evolve freely"
                )
            props = meta.properties
            if meta.partition_by and meta.partition_by != list(partition_by):
                past = meta.past_partition_specs
                if meta.partition_by not in past:
                    past.append(meta.partition_by)
                props = meta.properties_with(past_partition_specs=past)
            return (
                meta.evolve(partition_by=list(partition_by), properties=props),
                f"ALTER TABLE {table} PARTITION BY ({', '.join(partition_by)})",
            )

        return self._optimistic_commit(table, branch, build)

    # ------------------------------------------------------------------
    # tags: immutable named refs (Nessie has them; useful for pinning
    # the exact state an audit or a training run consumed)
    # ------------------------------------------------------------------
    def create_tag(self, name: str, from_branch: str = MAIN) -> None:
        """A tag is a ref that commits refuse to advance.

        The ref and its entry in the ref document's ``tags`` list land
        in ONE CAS, so there is no window in which the name is a
        mutable ref or a tag without a pointer, and nothing to roll
        back when the name is taken or the source branch is gone.
        """

        def apply(doc: dict[str, Any]) -> dict[str, Any]:
            refs = dict(doc["refs"])
            if name in refs:
                raise ValueError(f"ref {name!r} already exists")
            if from_branch not in refs:
                raise KeyError(f"source branch {from_branch!r} not found")
            refs[name] = refs[from_branch]
            tags = sorted({*doc.get("tags", ()), name})
            return {**doc, "refs": refs, "tags": tags}

        self._cas_update(_REFS, apply)

    # ------------------------------------------------------------------
    # ingest-key index: O(1) idempotence for WAP batch redelivery.
    # A sidecar map (key -> stamp time) replaces scanning the commit log
    # per batch (which is O(history) and collapses under long-running
    # streaming ingest). Updated under the ref lock, read lock-free.
    # ------------------------------------------------------------------
    def has_ingest_key(self, key: str) -> bool:
        got = self._store.get("ingest_keys.json")
        return got is not None and key in got[0]["keys"]

    def stamp_ingest_key(self, key: str) -> None:
        def add(payload: dict[str, Any] | None) -> dict[str, Any]:
            keys = dict(payload["keys"]) if payload else {}
            keys[key] = int(time.time() * 1000)
            return {"keys": keys}

        self._cas_update("ingest_keys.json", add)

    # ------------------------------------------------------------------
    # table maintenance (the at-scale housekeeping Iceberg ships as
    # procedures: rewrite_data_files / expire_snapshots / orphan cleanup)
    # ------------------------------------------------------------------
    def compact(
        self,
        spark: SparkSession,
        table: str,
        branch: str = MAIN,
        target_file_mb: int = 128,
        min_files: int = 1,
        mode: str = "full",
        scope_groups: list[list[Predicate]] | None = None,
    ) -> TableMetadata:
        """Rewrite the table's live files into ~``target_file_mb`` files
        (small-file compaction). Contents are unchanged — the commit is
        an 'overwrite' snapshot holding the rewritten files, so readers
        of older snapshots still see the original layout.
        ``mode="binpack"`` rewrites ONLY undersized or delete-carrying
        files (Iceberg's binpack strategy — O(small + deleted) cost,
        not O(table)); right-sized clean files carry over untouched in
        a 'rewrite' commit.

        ``scope_groups`` (Delta's ``OPTIMIZE ... WHERE``, binpack mode
        only): restrict the candidate files to those MAY-matching the
        predicate DNF (partition values + footer stats). At 100 TB you
        compact yesterday's partition after the day closes — touching
        the whole table to tidy one partition's micro-batch files is
        absurd. Compaction is layout-only, so may-match selection is
        semantically free (an extra straddling file rewritten is just
        IO); non-selected files carry over by reference.

        Streaming WAP ingest produces one small file set per
        micro-batch; at 100 TB uncompacted tables die by a thousand
        file-open costs. Run this off the write path (it's a normal
        optimistic commit — concurrent appends win or retry).
        """
        if mode not in ("full", "binpack"):
            raise ValueError(f"mode must be full|binpack, got {mode!r}")
        if scope_groups and mode != "binpack":
            raise ValueError(
                "scope_groups requires mode='binpack' (a scoped 'full' "
                "overwrite would drop the out-of-scope files)"
            )

        def build(meta: TableMetadata):
            with_conds = meta.files_with_deletes()
            if scope_groups:
                keep = {
                    f.path
                    for f in prune_files_any(
                        [f for f, _ in with_conds],
                        scope_groups,
                        meta.all_partition_fields,
                        name_history=meta.rename_history,
                    )
                }
                with_conds = [
                    (f, c) for f, c in with_conds if f.path in keep
                ]
            if mode == "binpack":
                # Iceberg's binpack strategy: rewrite ONLY the files
                # that need it — smaller than 3/4 of the target, or
                # carrying pending MoR deletes — and carry the rest
                # over untouched. At 100 TB a full rewrite to fix a
                # thousand streaming micro-batch files is absurd;
                # binpack's cost is O(small + deleted), not O(table).
                # Trade-offs vs mode="full" (both documented Iceberg
                # behavior): carried files keep overlapping sort-key
                # ranges with the rewritten set (pruning is merely as
                # good as before, never worse), and rename-history
                # indirection only retires for the rewritten files.
                thresh = target_file_mb * 1024 * 1024 * 3 // 4
                with_conds = [
                    (f, c)
                    for f, c in with_conds
                    if c or f.bytes < thresh
                ]
                if len(with_conds) < 2 and not any(
                    c for _f, c in with_conds
                ):
                    return None, ""  # nothing worth rewriting
            files = [f for f, _ in with_conds]
            total_bytes = sum(f.bytes for f in files)
            n_out = max(
                min_files, 1, -(-total_bytes // (target_file_mb * 1024 * 1024))
            )
            # MoR-aware read: compaction folds pending deletes into the
            # rewrite, and the overwrite snapshot clears them
            df = self._df_applying_deletes(spark, meta, with_conds)
            # a stale zorder_by property (column since dropped/renamed)
            # must not wedge every future compaction: cluster only on
            # the columns that still exist, falling back to sort_by
            field_names = {f.name for f in meta.spark_schema.fields}
            zcols = [c for c in meta.zorder_by if c in field_names]
            sort_by = [c for c in meta.sort_by if c in field_names]
            if zcols:
                # a previous zorder() established the cluster layout;
                # compaction must preserve it, not fall back to sort_by
                df = self._cluster_zorder(df, zcols, n_out)
                layout_done = True
            elif sort_by:
                # range-repartition, NOT round-robin: compacted files
                # must keep disjoint sort-key ranges or every point
                # predicate reads every compacted file (pruning dies
                # silently while results stay correct)
                df = df.repartitionByRange(
                    n_out, *sort_by
                ).sortWithinPartitions(*sort_by)
                layout_done = True
            elif meta.partition_fields:
                # partitioned, unsorted: _write_files' hash distribution
                # is the (single) shuffle that decides layout — a
                # repartition(n_out) here would be immediately re-shuffled
                # by it (two full shuffles, n_out discarded)
                layout_done = False
            else:
                df = df.repartition(n_out)
                layout_done = True  # round-robin IS the final layout
            new_files = self._write_files(df, meta, table, layout_done=layout_done)
            if mode == "binpack":
                # 'rewrite' (not 'overwrite' — that is a chain barrier
                # and would drop the carried files): inputs leave via
                # removed_paths, carried files stay where they are.
                # Rewritten rows get a NEW add-era, so pending delete
                # specs (already folded in) cannot re-apply to them;
                # specs keep applying to their remaining carried
                # targets untouched.
                return (
                    meta.with_new_snapshot(
                        new_files,
                        "rewrite",
                        removed_paths=sorted(f.path for f in files),
                        extra_summary={"cdc": "none"},
                    ),
                    f"COMPACT BINPACK {table} "
                    f"({len(files)} -> {len(new_files)} files)",
                )
            return (
                meta.with_new_snapshot(
                    new_files, "overwrite", extra_summary={"cdc": "none"}
                ),
                f"COMPACT {table} ({len(files)} -> {len(new_files)} files)",
            )

        return self._optimistic_commit(table, branch, build)

    def fold_deletes(
        self,
        spark: SparkSession,
        table: str,
        branch: str = MAIN,
        max_concurrency: int = 8,
    ) -> TableMetadata:
        """Fold pending merge-on-read equality-delete specs back into
        clean files — rewriting ONLY the spec-carrying files, ONE
        OUTPUT PER INPUT (Iceberg's rewrite-position-deletes shape).

        Why not :meth:`compact`: binpack coalesces everything
        undersized toward ``target_file_mb``, which on a range-loaded
        table can merge the whole key space into one file — and then
        every later merge's key-range pruning matches THAT file, so
        condition evaluation scans the table instead of the one
        overlapping file (measured: post-binpack merge latency jumped
        5 s -> 17 s on the 40-merge soak because 32 range-disjoint
        base files became 1). Preserving file boundaries preserves the
        layout's pruning granularity; cost is O(spec-carrying bytes)
        regardless of table size. Per-file rewrites submit as
        concurrent Spark jobs (``max_concurrency`` driver threads) so
        a cluster folds the hot set in parallel.

        A file whose rows are all deleted simply leaves via
        ``removed_paths``. The commit is a ``rewrite`` tagged
        ``cdc: none`` (folding is layout, not change), identical to
        binpack's feed semantics.
        """
        from concurrent.futures import ThreadPoolExecutor

        def build(meta: TableMetadata):
            carrying = [
                (f, c) for f, c in meta.files_with_deletes() if c
            ]
            if not carrying:
                return None, ""

            def rewrite(fc):
                return self._write_files(
                    self._df_applying_deletes(spark, meta, [fc]).coalesce(1),
                    meta,
                    table,
                    layout_done=True,
                )

            new_files: list[FileEntry] = []
            with ThreadPoolExecutor(
                max_workers=min(max_concurrency, len(carrying))
            ) as ex:
                for out in ex.map(rewrite, carrying):
                    new_files.extend(out)
            return (
                meta.with_new_snapshot(
                    new_files,
                    "rewrite",
                    removed_paths=sorted(f.path for f, _ in carrying),
                    extra_summary={"cdc": "none"},
                ),
                f"FOLD DELETES {table} "
                f"({len(carrying)} -> {len(new_files)} files)",
            )

        return self._optimistic_commit(table, branch, build)

    @staticmethod
    def _cluster_zorder(df: DataFrame, cols: list[str], n_out: int) -> DataFrame:
        """Range-cluster ``df`` into ``n_out`` write tasks on the Morton
        key of ``cols`` (all JVM expressions; one bounded-size aggregate
        for the global bounds, then one range shuffle)."""
        from no_jvm_wap_with_iceberg_spark.catalog.zorder import (
            column_bounds,
            zorder_key,
        )

        bounds = column_bounds(df, cols)
        return (
            df.withColumn("_zkey", zorder_key(cols, bounds))
            .repartitionByRange(n_out, "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
        )

    def zorder(
        self,
        spark: SparkSession,
        table: str,
        cols: list[str],
        branch: str = MAIN,
        target_file_mb: int = 128,
        min_files: int = 1,
    ) -> TableMetadata:
        """Rewrite the table's live files clustered on the Morton
        (Z-order) curve of ``cols`` so footer min/max stats prune files
        for predicates on ANY clustered column — the same layout Delta's
        ``OPTIMIZE ... ZORDER BY`` and Iceberg's z-order
        ``rewrite_data_files`` produce, and the standard answer to
        "``sort_by`` only skips on one key" at 100 TB.

        Persists ``zorder_by`` in table properties so later
        :meth:`compact` runs preserve the clustering. MoR-aware like
        compaction (pending deletes fold into the rewrite).
        """
        field_names = {f.name for f in self.load_table(table, branch).spark_schema.fields}
        missing = [c for c in cols if c not in field_names]
        if missing:
            raise ValueError(f"zorder columns not in table schema: {missing}")

        def build(meta: TableMetadata):
            with_conds = meta.files_with_deletes()
            files = [f for f, _ in with_conds]
            total_bytes = sum(f.bytes for f in files)
            n_out = max(min_files, -(-total_bytes // (target_file_mb * 1024 * 1024)))
            df = self._df_applying_deletes(spark, meta, with_conds)
            clustered = self._cluster_zorder(df, cols, n_out)
            new_files = self._write_files(clustered, meta, table, layout_done=True)
            new_meta = meta.with_new_snapshot(
                new_files, "overwrite", extra_summary={"cdc": "none"}
            )
            new_meta = new_meta.evolve(
                version=new_meta.version,
                properties=new_meta.properties_with(zorder_by=cols),
            )
            return (
                new_meta,
                f"ZORDER {table} BY ({', '.join(cols)})",
            )

        return self._optimistic_commit(table, branch, build)

    def expire_snapshots(
        self, table: str, branch: str = MAIN, keep_last: int | None = None
    ) -> TableMetadata:
        """Squash history older than the last ``keep_last`` snapshots
        into a synthetic base snapshot (metadata-only; data files are
        reclaimed separately by ``remove_orphan_files``).

        Keeps snapshot ids stable for the retained tail so incremental
        readers holding a recent snapshot id keep working.

        ``keep_last=None`` resolves the retention policy from Iceberg's
        table properties: at least
        ``history.expire.min-snapshots-to-keep`` (default 1) are kept,
        extended to cover every snapshot younger than
        ``history.expire.max-snapshot-age-ms`` when that is set — so a
        cron-driven ``maintain`` honors per-table retention without
        per-call tuning.
        """
        def build(meta: TableMetadata):
            snaps = sorted(meta.snapshots, key=lambda s: s.snapshot_id)
            keep = keep_last
            if keep is None:
                keep = int(
                    meta.properties.get(
                        "history.expire.min-snapshots-to-keep", 1
                    )
                )
                max_age = meta.properties.get(
                    "history.expire.max-snapshot-age-ms"
                )
                if max_age is not None:
                    cutoff_ms = int(time.time() * 1000) - int(max_age)
                    young = sum(
                        1 for s in snaps if s.timestamp_ms >= cutoff_ms
                    )
                    keep = max(keep, young)
            # floor at 1: the current snapshot is always retained (a
            # declared/passed 0 would invert to keep-everything via
            # snaps[-0:] and commit a spurious rewrite per run)
            keep = max(1, keep)
            if len(snaps) <= keep:
                return None, ""
            kept = snaps[-keep:]
            cutoff = kept[0]
            # COPY INTO's exactly-once ledger lives in snapshot
            # summaries; fold the expired prefix's entries into the
            # cutoff so squashing history can never re-admit an
            # already-loaded file (shape() ignores summaries, so
            # squash idempotence is unaffected)
            expired_ledger = {
                p
                for s in snaps[:-keep]
                for p in (s.summary.get("copy-into-files") or [])
            }
            if expired_ledger:
                import dataclasses as _dc

                merged = sorted(
                    expired_ledger
                    | set(cutoff.summary.get("copy-into-files") or [])
                )
                cutoff = _dc.replace(
                    cutoff,
                    summary={**cutoff.summary, "copy-into-files": merged},
                )
                kept = [cutoff] + kept[1:]
            new_snaps = []
            # An 'overwrite' cutoff already carries the full live file set —
            # everything beneath it is pure history and vanishes. A plain
            # 'append' cutoff still depends on its ancestry, so the expired
            # prefix is squashed — ERA-PRESERVING: pending MoR deletes in
            # the prefix must keep their ordering relative to the files
            # added before/after them (the seq-gated read compares commit
            # ids, and a post-delete append collapsed BELOW the delete
            # would be silently re-deleted). The prefix becomes an
            # alternating chain: one squashed add snapshot per era
            # between pending deletes, then the delete commit at its
            # original id. Bounded by #pending-delete commits + 1.
            if cutoff.operation != "overwrite" and cutoff.parent_snapshot_id:
                base_cut = cutoff.parent_snapshot_id
                live = meta.files_with_deletes(base_cut)
                # original add-era per live path (chain of base_cut)
                chain = sorted(
                    meta.chain(base_cut), key=lambda s: s.snapshot_id
                )
                add_seq: dict[str, int] = {}
                for s in chain:
                    for f in s.added_files:
                        add_seq[f.path] = s.snapshot_id
                # pending delete COMMITS (those whose specs still apply
                # to >=1 live file), at their original ids
                pending_specs = {sp for _f, specs in live for sp in specs}
                delete_commits = [
                    (s.snapshot_id, [d for d in s.deletes
                                     if DeleteSpec.from_json(d) in pending_specs])
                    for s in chain
                    if any(DeleteSpec.from_json(d) in pending_specs
                           for d in s.deletes)
                ]
                d_ids = [i for i, _ in delete_commits]
                d_set = set(d_ids)
                # partition live files into eras STRICTLY between
                # delete commits; files added BY a delete-carrying
                # commit (a merge: insert files + equality delete in
                # one snapshot) stay in that commit's own part — they
                # must sit at the delete's id, not below it (a
                # separate era would need the same id and the chain
                # would cycle) and not above (later deletes gate them)
                own: dict[int, list[FileEntry]] = {}
                eras: list[list[FileEntry]] = [[] for _ in range(len(d_ids) + 1)]
                for f, _specs in live:
                    seq = add_seq[f.path]
                    if seq in d_set:
                        own.setdefault(seq, []).append(f)
                    else:
                        k = sum(1 for d in d_ids if d < seq)
                        eras[k].append(f)
                # emit: era_0, d_1(+its own files), era_1, d_2, ...;
                # the TOP synthetic takes id base_cut so kept[0]'s
                # parent pointer still resolves; era ids use the era's
                # newest original add id (strictly inside the delete
                # interval, so every gating relation is preserved and
                # no id collides with a delete commit's)
                parts: list[tuple[int, str, list[FileEntry], list[dict]]] = []
                for k, era in enumerate(eras):
                    if era:
                        era_id = max(add_seq[f.path] for f in era)
                        parts.append((era_id, "append", era, []))
                    if k < len(d_ids):
                        parts.append(
                            (
                                d_ids[k],
                                "merge" if own.get(d_ids[k]) else "delete",
                                own.get(d_ids[k], []),
                                delete_commits[k][1],
                            )
                        )
                if not parts:
                    parts.append((base_cut, "overwrite", [], []))
                # force the top id to base_cut (it is >= every part id
                # and above every pending delete by construction)
                parts[-1] = (base_cut, *parts[-1][1:])
                prev_id = None
                for pid, op, era_files, dels in parts:
                    new_snaps.append(
                        TableSnapshot(
                            snapshot_id=pid,
                            parent_snapshot_id=prev_id,
                            timestamp_ms=cutoff.timestamp_ms,
                            operation="overwrite" if prev_id is None else op,
                            added_files=era_files,
                            summary={"expired-history": len(snaps) - keep},
                            deletes=dels,
                        )
                    )
                    prev_id = pid
            new_snaps.extend(kept)

            def shape(ss):
                return [
                    (
                        s.snapshot_id,
                        s.parent_snapshot_id,
                        s.operation,
                        sorted(f.path for f in s.added_files),
                        s.removed_paths,
                        s.deletes,
                    )
                    for s in sorted(ss, key=lambda s: s.snapshot_id)
                ]

            if shape(new_snaps) == shape(meta.snapshots):
                # idempotence: re-squashing an already-squashed chain
                # reproduces it exactly — a maintain cron must not
                # commit a spurious history rewrite per run
                return None, ""
            return (
                meta.evolve(snapshots=new_snaps),
                f"EXPIRE SNAPSHOTS {table}",
            )

        return self._optimistic_commit(table, branch, build)

    def remove_orphan_files(
        self,
        table: str,
        dry_run: bool = True,
        older_than_ms: int = DEFAULT_ORPHAN_GRACE_MS,
    ) -> list[str]:
        """Data files on disk that no branch's current metadata
        references. With ``dry_run`` just report; otherwise delete.

        Referenced = union over every branch head (a file used by any
        branch or any retained snapshot stays). The safety contract
        matches Iceberg's procedure: run only after expire_snapshots.

        **The orphan scan is NOT CAS-protected** — a concurrent
        writer's data files exist on disk *before* its commit CAS
        lands, so a zero-grace scan would see them as unreferenced and
        delete them out from under the landing snapshot (silent data
        loss). Exactly like Iceberg's ``remove_orphan_files``
        ``older_than`` threshold (default 3 days there), files whose
        mtime is within ``older_than_ms`` of now are skipped: any
        in-flight write is by definition younger than the grace
        window, so only long-dead files (losing CAS attempts,
        compacted-away layouts, expired spans) are reclaimed. Pass
        ``older_than_ms=0`` only when no concurrent writer can exist
        (tests, single-writer offline maintenance).
        """
        referenced: set[str] = set()
        # scanned dirs: the current name plus every prior_names entry
        # (a renamed table's files stay under the historical directory
        # forever — see rename_table — so the sweep must follow them)
        dirs: set[str] = {table}
        # referenced is computed across ALL tables on ALL branches, not
        # just this one: after a rename the files under tables/<old>/
        # belong to table <new> (and a fresh table may later claim the
        # <old> name), so a per-table reference set over a shared
        # directory would see another table's live files as orphans
        for branch in self.list_branches():
            for t in self.list_tables(branch):
                meta = self.load_table(t, branch)
                if t == table:
                    dirs.update(meta.prior_names)
                for s in meta.snapshots:
                    referenced.update(f.path for f in s.added_files)
                    for d in s.deletes:
                        referenced.update(d.get("key_files") or [])
        cutoff = time.time() - older_than_ms / 1000.0
        orphans = []
        for tdir, sub in (
            (d, s) for d in sorted(dirs) for s in ("data", "deletes")
        ):
            root = os.path.join(self.warehouse, "tables", tdir, sub)
            for dirpath, _dirs, names in os.walk(root):
                for n in names:
                    if not n.endswith(".parquet"):
                        continue
                    full = os.path.join(dirpath, n)
                    rel = os.path.relpath(full, self.warehouse)
                    if rel in referenced:
                        continue
                    try:
                        if os.path.getmtime(full) > cutoff:
                            continue  # inside grace: possibly in-flight
                    except OSError:
                        continue  # vanished concurrently: not ours
                    orphans.append(rel)
        if not dry_run:
            for rel in orphans:
                os.remove(os.path.join(self.warehouse, rel))
        return sorted(orphans)

    def maintain(
        self,
        spark: SparkSession,
        table: str,
        branch: str = MAIN,
        small_file_threshold: int = 16,
        target_file_mb: int = 128,
        keep_last_snapshots: int = 3,
        delete_orphans: bool = True,
        orphan_grace_ms: int = DEFAULT_ORPHAN_GRACE_MS,
    ) -> dict[str, Any]:
        """One maintenance window for a table (Iceberg users run
        rewrite_data_files + expire_snapshots + remove_orphan_files on
        a cron; this is that cron body, decision logic included):

        1. **compact** — only when worthwhile: the live file count
           reached ``small_file_threshold`` OR merge-on-read deletes
           are pending (folding them restores metadata-exact counts
           and stats pruning);
        2. **expire_snapshots** to ``keep_last_snapshots`` (squash,
           era-preserving — see :meth:`expire_snapshots`);
        3. **remove_orphan_files** — reclaim files no branch
           references (losing CAS attempts, compacted-away layouts,
           rolled-back-then-expired spans), skipping anything younger
           than ``orphan_grace_ms`` (default 3 h) because an in-flight
           writer's files exist before its CAS lands.

        Streaming ingest calls this off the hot path on its own
        cadence. Steps 1–2 are ordinary optimistic commits, so
        concurrent writers win or retry as usual; step 3 is NOT
        CAS-protected — its only concurrency protection is the
        grace window, so never pass ``orphan_grace_ms=0`` while
        other writers may be mid-commit. Returns a report dict
        (what ran, files before/after, orphans reclaimed).
        """
        meta = self.load_table(table, branch)
        with_conds = meta.files_with_deletes()
        n_files = len(with_conds)
        pending = any(specs for _f, specs in with_conds)
        report: dict[str, Any] = {
            "files_before": n_files,
            "pending_deletes": pending,
            "compacted": False,
            "folded": False,
        }
        if n_files >= small_file_threshold:
            self.compact(
                spark,
                table,
                branch,
                target_file_mb=target_file_mb,
                min_files=1,
                mode=meta.properties.get("compaction.strategy", "full"),
            )
            report["compacted"] = True
        elif pending:
            # pending specs but NO small-file problem: fold in place
            # (per-file rewrites of only the spec-carrying files) —
            # at 100 TB a full/binpack rewrite to clear a handful of
            # specs is the wrong cost, and binpack coalescing can
            # destroy the layout's key-range pruning granularity
            # (measured — see fold_deletes)
            self.fold_deletes(spark, table, branch)
            report["folded"] = True
        # declared per-table retention properties take precedence over
        # the call-site default (the cron body shouldn't need tuning)
        has_policy = any(
            k in meta.properties
            for k in (
                "history.expire.min-snapshots-to-keep",
                "history.expire.max-snapshot-age-ms",
            )
        )
        self.expire_snapshots(
            table, branch, keep_last=None if has_policy else keep_last_snapshots
        )
        orphans = self.remove_orphan_files(
            table, dry_run=not delete_orphans, older_than_ms=orphan_grace_ms
        )
        report["orphans_removed"] = len(orphans)
        report["files_after"] = len(self.load_table(table, branch).files())
        return report

    def cut_history(self, keep_last: int = 1000, branch: str = MAIN) -> int:
        """Bound the commit chain: rewrite the commit ``keep_last``
        steps behind the branch head with ``parent=None``, detaching
        everything older. Commit ids and every ref stay untouched —
        branches pointing at retained commits are unaffected, branches
        still pointing into the detached prefix keep their own chains
        (their blobs stay reachable from their refs, so ``gc_metadata``
        leaves them alone) but can no longer fast-forward into
        ``branch``. Returns the number of commits detached.

        This is the commit-log analogue of ``expire_snapshots``:
        long-running streaming ingest adds two commits per batch, and
        while no hot path is O(history) (publishing walks only the
        branch delta), unbounded chains make ``log()`` and full GC
        walks ever slower.
        """
        head = self._read_refs()[branch]
        chain: list[str] = []
        cur: str | None = head
        while cur is not None:
            chain.append(cur)
            cur = self._read_commit(cur).get("parent")
        if len(chain) <= keep_last:
            return 0
        cut = self._read_commit(chain[keep_last - 1])
        cut["parent"] = None
        self._write_commit(cut)
        return len(chain) - keep_last

    def gc_metadata(self, dry_run: bool = True) -> list[str]:
        """Reclaim unreachable catalog-metadata blobs from the store.

        Orphans accumulate from CAS-losing commit attempts (the commit
        object and metadata version were written before the ref CAS
        failed and the retry re-wrote both) and from dropped branches.
        Reachable = every commit on any ref's parent chain, plus every
        table-metadata version those commits pin. Run after
        ``expire_snapshots``; safe against in-flight commits only in
        the same maintenance window as ``remove_orphan_files``.
        """
        reachable_commits: set[str] = set()
        for head in self._read_refs().values():
            cur: str | None = head
            while cur is not None and cur not in reachable_commits:
                reachable_commits.add(cur)
                cur = self._read_commit(cur).get("parent")
        reachable_meta: set[str] = set()
        for cid in reachable_commits:
            reachable_meta.update(self._read_commit(cid)["tables"].values())
        orphans = [
            k
            for k in self._store.list_keys("commits")
            if k.removeprefix("commits/").removesuffix(".json")
            not in reachable_commits
        ]
        # enumerate table names via a delimiter listing (one cheap
        # directory/CommonPrefixes call — NOT a walk of the data tree),
        # so metadata of tables dropped from all reachable history is
        # still swept; then list only each table's metadata prefix
        for t in self._store.list_dirs("tables"):
            orphans += [
                k
                for k in self._store.list_keys(f"tables/{t}/metadata")
                if k.endswith(".json") and k not in reachable_meta
            ]
        if not dry_run:
            for k in orphans:
                self._store.delete(k)
        return sorted(orphans)

    def diff(self, branch_a: str, branch_b: str) -> dict[str, Any]:
        """What differs between two refs: tables only on one side, and
        tables whose current snapshot diverges — the WAP forensic
        question ("what would publishing this branch change?") answered
        from metadata alone."""
        ta = {t: self.load_table(t, branch_a) for t in self.list_tables(branch_a)}
        tb = {t: self.load_table(t, branch_b) for t in self.list_tables(branch_b)}
        def _rows(m: TableMetadata) -> int | None:
            # metadata row counts over-count past pending MoR deletes;
            # report unknown rather than wrong (scan via read() if exact
            # numbers are needed)
            return None if m.has_pending_deletes() else m.row_count()

        changed = {}
        for t in ta.keys() & tb.keys():
            a, b = ta[t], tb[t]
            if a.current_snapshot_id != b.current_snapshot_id or a.version != b.version:
                changed[t] = {
                    branch_a: {"snapshot": a.current_snapshot_id, "rows": _rows(a)},
                    branch_b: {"snapshot": b.current_snapshot_id, "rows": _rows(b)},
                }
        return {
            "only_in_" + branch_a: sorted(ta.keys() - tb.keys()),
            "only_in_" + branch_b: sorted(tb.keys() - ta.keys()),
            "changed": changed,
        }

    # ------------------------------------------------------------------
    # metadata tables (Iceberg's t.snapshots / t.files introspection)
    # ------------------------------------------------------------------
    def snapshots_df(
        self, spark: SparkSession, table: str, branch: str = MAIN
    ) -> DataFrame:
        """Snapshot log as a DataFrame (Iceberg ``t.snapshots``)."""
        meta = self.load_table(table, branch)
        rows = [
            (
                s.snapshot_id,
                s.parent_snapshot_id,
                s.timestamp_ms,
                s.operation,
                len(s.added_files),
                sum(f.rows for f in s.added_files),
                len(s.removed_paths),
            )
            for s in meta.snapshots
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, parent_snapshot_id long, timestamp_ms long, "
            "operation string, added_files long, added_rows long, removed_files long",
        )

    def files_df(
        self,
        spark: SparkSession,
        table: str,
        branch: str = MAIN,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Live data files + stats as a DataFrame (Iceberg ``t.files``)."""
        meta = self.load_table(table, branch)
        rows = [
            (f.path, f.rows, f.bytes, json.dumps(f.partition), json.dumps(f.columns))
            for f in meta.files(snapshot_id)
        ]
        return spark.createDataFrame(
            rows,
            "path string, rows long, bytes long, partition string, column_stats string",
        )

    # ------------------------------------------------------------------
    # the staged-branch lifecycle: fork → write/audit → publish or keep
    # ------------------------------------------------------------------
    def with_branch(
        self,
        fn: Callable[[str], tuple[Any, bool]],
        prefix: str = "wap",
        from_branch: str = MAIN,
        max_retries: int = 3,
    ) -> Any:
        """The one staged-branch lifecycle; returns ``fn``'s result.

        Forks ``{prefix}-{uuid8}`` from ``from_branch`` (the reference's
        random branch names, ``app.py:146-157``); ``fn(name)`` writes
        and audits on the fork and returns ``(result, publish)``. With
        ``publish``, ONE ref CAS fast-forwards ``from_branch`` (merge's
        ancestor check) and removes the fork; without, the fork stays
        open for forensics. If ``fn`` raises, the fork is dropped and
        the error re-raised, so an abandoned attempt never pins files
        as live. A publish conflict drops the fork and re-runs ``fn``
        on a fresh one, up to ``max_retries`` times."""
        for attempt in range(max_retries + 1):
            name = f"{prefix}-{uuid.uuid4().hex[:8]}"
            self.create_branch(name, from_branch)
            publishing = False
            try:
                result, publish = fn(name)
                if publish:
                    publishing = True
                    self._cas_update(
                        _REFS,
                        lambda doc: self._without_branch(
                            self._fast_forwarded(doc, name, from_branch), name
                        ),
                    )
                return result
            except BaseException as ex:
                try:
                    self.drop_branch(name)
                except Exception:
                    pass  # cleanup only; the original error matters more
                retry = publishing and isinstance(ex, CommitConflict)
                if not retry or attempt == max_retries:
                    raise
        raise AssertionError("unreachable")


class Transaction:
    """Multi-table append transaction — see :meth:`Catalog.transaction`.

    Records ``(table, df)`` pairs; on clean ``with``-exit they commit
    atomically through :meth:`Catalog.append_many` (one write wall, one
    commit, one ref CAS). DataFrames are evaluated at COMMIT time, not
    at :meth:`append` time — readers of the transaction's branch see
    either none or all of the appends. ``commit()`` may be called
    explicitly instead (exiting after an explicit commit is a no-op).
    """

    def __init__(
        self,
        cat: Catalog,
        branch: str,
        max_retries: int,
        merge_schema: bool = False,
    ) -> None:
        self._cat = cat
        self._branch = branch
        self._max_retries = max_retries
        self._merge_schema = merge_schema
        self._entries: list[tuple[str, DataFrame]] = []
        self._attempted = False
        self._result: dict[str, TableMetadata] | None = None

    def append(self, df: DataFrame, table: str) -> "Transaction":
        if self._attempted:
            raise RuntimeError("transaction already committed")
        self._entries.append((table, df))
        return self

    def commit(self) -> dict[str, TableMetadata]:
        if self._attempted:
            raise RuntimeError("transaction already committed")
        # one shot, even on failure: a caller that catches an explicit
        # commit()'s CommitConflict inside the with-block has seen the
        # transaction FAIL — the clean-exit hook must not silently
        # publish what they believe was abandoned
        self._attempted = True
        self._result = self._cat.append_many(
            self._entries,
            self._branch,
            max_retries=self._max_retries,
            merge_schema=self._merge_schema,
        )
        return self._result

    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None and not self._attempted:
            self.commit()
