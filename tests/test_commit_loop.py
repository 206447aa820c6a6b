"""The catalog's single commit loop, driven without a SparkSession.

Two fault shapes the commit protocol must survive, both injected at
the ``RefStore`` boundary (an in-memory store wrapped by a delegating
store):

- a ref CAS whose ``put_if`` lands but then raises, the outcome of an
  object-store conditional PUT that times out after the write: the
  commit must be reported as the success it is, exactly once;
- another writer committing to a DIFFERENT table between a verb's head
  read and its ref CAS: the verb must still land on top of the racer's
  commit, and neither commit may be lost.

It also pins the store cost of the ref verbs over the one ref document
(``refs.json`` holds refs, tags and creation stamps): one read and one
conditional put per verb, and one put for a staged-branch publish.
"""

import pytest
from pyspark.sql import types as T

from conftest import HookedStore
from no_jvm_wap_with_iceberg_spark.catalog import Catalog
from no_jvm_wap_with_iceberg_spark.catalog.store import InMemoryStore

SCHEMA = T.StructType([T.StructField("id", T.LongType())])


def _catalog(tmp_path) -> tuple[Catalog, HookedStore, InMemoryStore]:
    inner = InMemoryStore()
    store = HookedStore(inner)
    return Catalog(str(tmp_path), store=store), store, inner


def _messages(cat: Catalog, branch: str = "main") -> list[str]:
    return [c["message"] for c in cat.log(branch)]


# -- ambiguous CAS outcome ---------------------------------------------


def _raise_if_landed(landed: bool) -> None:
    if landed:
        raise TimeoutError("conditional PUT timed out after it landed")


def test_landed_cas_that_raises_counts_as_one_commit(tmp_path):
    cat, store, _inner = _catalog(tmp_path)
    store.after_refs_cas = _raise_if_landed
    assert cat.create_table("t", SCHEMA) is True
    assert store.after_refs_cas is None, "fault was never injected"
    assert _messages(cat) == ["CREATE TABLE t", "root"]
    assert cat.list_tables() == ["t"]


def test_landed_branch_cas_that_raises_creates_the_branch(tmp_path):
    cat, store, _inner = _catalog(tmp_path)
    cat.create_table("t", SCHEMA)
    store.after_refs_cas = _raise_if_landed
    cat.create_branch("b")
    assert store.after_refs_cas is None, "fault was never injected"
    assert cat.list_branches() == ["b", "main"]
    assert _messages(cat, "b") == _messages(cat) == ["CREATE TABLE t", "root"]


def test_cas_that_raises_without_landing_still_fails(tmp_path):
    cat, store, _inner = _catalog(tmp_path)

    def fail():
        raise TimeoutError("conditional PUT timed out before it landed")

    store.before_refs_cas = fail
    with pytest.raises(TimeoutError, match="before it landed"):
        cat.create_table("t", SCHEMA)
    assert _messages(cat) == ["root"]
    assert cat.list_tables() == []


# -- a racing commit to another table between head read and CAS ---------

VERBS = {
    "drop_table": (
        lambda cat: cat.drop_table("t"),
        "DROP TABLE t",
        lambda cat: "t" not in cat.list_tables(),
    ),
    "rename_table": (
        lambda cat: cat.rename_table("t", "u"),
        "RENAME TABLE t -> u",
        lambda cat: "u" in cat.list_tables() and "t" not in cat.list_tables(),
    ),
    "create_view": (
        lambda cat: cat.create_view("v", "SELECT 1 AS x"),
        "CREATE VIEW v",
        lambda cat: cat.list_views() == ["v"],
    ),
    "shallow_clone_table": (
        lambda cat: cat.clone_table("t", "c"),
        "CREATE TABLE c SHALLOW CLONE t",
        lambda cat: cat.load_table("c").properties["clone.source"] == "t",
    ),
    "create_table_if_not_exists": (
        lambda cat: cat.create_table("n", SCHEMA, if_not_exists=True),
        "CREATE TABLE n",
        lambda cat: "n" in cat.list_tables(),
    ),
}


@pytest.mark.parametrize("verb", sorted(VERBS))
def test_verb_lands_over_a_racing_commit(tmp_path, verb):
    run, message, landed = VERBS[verb]
    cat, store, inner = _catalog(tmp_path)
    cat.create_table("t", SCHEMA)
    racer = Catalog(str(tmp_path), create=False, store=inner)
    store.before_refs_cas = lambda: racer.create_table("other", SCHEMA)
    run(cat)
    assert store.before_refs_cas is None, "race was never injected"
    assert landed(cat)
    assert "other" in cat.list_tables(), "racer's commit was lost"
    assert _messages(cat) == [
        message,
        "CREATE TABLE other",
        "CREATE TABLE t",
        "root",
    ]


# -- store cost of the ref verbs over the one ref document --------------


def _count(store: HookedStore, op: str, prefix: str) -> int:
    return sum(n for (o, k), n in store.ops.items() if o == op and k.startswith(prefix))


@pytest.mark.parametrize("verb", ["create_table", "drop_table"])
def test_commit_reads_refs_once(tmp_path, verb):
    cat, store, inner = _catalog(tmp_path)
    if verb == "drop_table":
        cat.create_table("t", SCHEMA)
    store.ops.clear()
    if verb == "create_table":
        cat.create_table("t", SCHEMA)
    else:
        cat.drop_table("t")
    assert _count(store, "get", "refs.json") == 1
    assert _count(store, "get", "commits/") == 1
    assert _count(store, "put_if", "refs.json") == 1
    assert _count(store, "get", "tags") == 0


def test_tag_verbs_are_one_cas_each(tmp_path):
    cat, store, inner = _catalog(tmp_path)
    cat.create_table("t", SCHEMA)
    store.ops.clear()
    cat.create_tag("pin")
    assert _count(store, "put_if", "") == 1
    assert cat._read_tags() == {"pin"}
    store.ops.clear()
    cat.drop_tag("pin")
    assert _count(store, "put_if", "") == 1
    assert cat._read_tags() == set() and cat.list_branches() == ["main"]
    assert not inner.list_keys("tags"), "a tags.json object was written"


def test_with_branch_publish_is_one_refs_cas(tmp_path):
    cat, store, inner = _catalog(tmp_path)

    def stage(branch):
        cat.create_table("t", SCHEMA, branch)
        store.ops.clear()
        return branch, True

    fork = cat.with_branch(stage, prefix="stage")
    assert fork.startswith("stage-")
    assert _count(store, "put_if", "refs.json") == 1
    assert cat.list_branches() == ["main"]
    assert cat.list_tables() == ["t"]


@pytest.mark.parametrize("verb", ["create_branch", "create_tag"])
def test_ref_verb_racing_a_commit_does_not_rebuild(tmp_path, verb):
    """A lost ref CAS re-reads and re-applies; only a move of the
    committing branch itself re-runs the build."""
    cat, store, inner = _catalog(tmp_path)
    racer = Catalog(str(tmp_path), create=False, store=inner)
    store.before_refs_cas = lambda: getattr(racer, verb)("side")
    builds = []

    def build(head):
        builds.append(head["id"])
        return {"metas": {}, "message": "noop"}

    cat._commit_loop("main", build)
    assert store.before_refs_cas is None, "race was never injected"
    assert len(builds) == 1
    assert "side" in cat.list_branches()
    assert _messages(cat) == ["noop", "root"]


# -- prune_branches against a commit landing mid-pass --------------------


def test_prune_keeps_a_branch_that_moved_before_the_drop(tmp_path):
    """The freshness check and the drop are one CAS: a commit landing
    on a stale-looking ``wap-*`` branch just before the drop's CAS
    keeps the branch, and the branch is not reported dropped."""
    cat, store, inner = _catalog(tmp_path)
    cat.create_table("t", SCHEMA)
    cat.create_branch("wap-x")
    cat.create_branch("wap-y")
    racer = Catalog(str(tmp_path), create=False, store=inner)
    store.before_refs_cas = lambda: racer.create_table("late", SCHEMA, "wap-x")
    assert cat.prune_branches(1, now_ms=10**13) == ["wap-y"]
    assert store.before_refs_cas is None, "race was never injected"
    assert cat.list_branches() == ["main", "wap-x"]
    assert "late" in cat.list_tables("wap-x"), "racer's commit was lost"
