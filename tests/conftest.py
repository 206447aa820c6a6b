import os
import shutil
import tempfile
from collections import Counter

import pytest

from no_jvm_wap_with_iceberg_spark.catalog import Catalog
from no_jvm_wap_with_iceberg_spark.catalog.store import LocalFSStore, RefStore
from no_jvm_wap_with_iceberg_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(app_name="tests", shuffle_partitions=4)
    yield s


@pytest.fixture()
def warehouse(tmp_path):
    d = tmp_path / "warehouse"
    d.mkdir()
    yield str(d)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark_h(spark):
    """Alias fixture for hypothesis tests (function-scoped @given needs
    a session-scoped Spark to stay fast)."""
    return spark


class HookedStore(RefStore):
    """Delegates to ``inner`` and counts every operation per
    ``(op, key)`` in ``ops``. ``before_refs_cas`` / ``after_refs_cas``
    fire once each, around the next ``put_if`` on ``refs.json`` whose
    new payload passes ``refs_cas_when`` (default: any). Race tests use
    it to land another writer's commit just before a verb's ref CAS."""

    def __init__(self, inner: RefStore):
        self.inner = inner
        self.ops: Counter = Counter()
        self.before_refs_cas = None
        self.after_refs_cas = None
        self.refs_cas_when = None

    def get(self, key):
        self.ops["get", key] += 1
        return self.inner.get(key)

    def put(self, key, payload):
        self.ops["put", key] += 1
        self.inner.put(key, payload)

    def put_if(self, key, payload, token):
        self.ops["put_if", key] += 1
        when = self.refs_cas_when
        if key != "refs.json" or (when is not None and not when(payload)):
            return self.inner.put_if(key, payload, token)
        before, self.before_refs_cas = self.before_refs_cas, None
        if before is not None:
            before()
        landed = self.inner.put_if(key, payload, token)
        after, self.after_refs_cas = self.after_refs_cas, None
        if after is not None:
            after(landed)
        return landed

    def list_keys(self, prefix):
        self.ops["list_keys", prefix] += 1
        return self.inner.list_keys(prefix)

    def delete(self, key):
        self.ops["delete", key] += 1
        self.inner.delete(key)


def hooked_catalog(warehouse: str) -> tuple[Catalog, HookedStore]:
    """A catalog on ``warehouse`` whose ref store is hooked; other
    ``Catalog(warehouse, create=False)`` instances share its state."""
    store = HookedStore(LocalFSStore(warehouse))
    return Catalog(warehouse, store=store), store


def publishes_fork(prefix: str):
    """A ``refs_cas_when`` filter for a ``with_branch`` publish: the one
    ref CAS whose new document holds no ``prefix`` fork."""
    return lambda doc: not any(b.startswith(prefix) for b in doc["refs"])


def spark_jobs(spark) -> int:
    """Spark jobs the application has started so far, read off the
    status store as ``perfbench/tracer.py`` does; the difference across
    a call is the jobs it ran. The store drops its oldest jobs past
    ``spark.ui.retainedJobs``, so this is the newest job id plus one,
    not the store's size, and it drains the listener bus first so a
    job just started is counted."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() + 1 if jobs.size() else 0
