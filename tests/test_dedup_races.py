"""True-concurrency races for the incremental dedup pipelines.

test_incremental_dedup.py pins the CONFLICT PROTOCOL with a
deterministic injected race (a competitor merges between probe and
publish). These tests drive the real thing: several driver threads
ingest overlapping batches into ONE catalog at once, so probe/publish
interleavings, CAS retries, and re-probes happen wherever the
scheduler puts them. The invariant in every interleaving:
exactly-once admission per content (exact pipeline) and docs/index
consistency — the engine's content-addressed generalization of the
reference's single-writer WAP loop (src/serverless/app.py:235-317),
which never faces this because one Lambda writes at a time.
"""

import threading

from pyspark.sql import functions as F

from conftest import hooked_catalog, publishes_fork
from no_jvm_wap_with_iceberg_spark.catalog import Catalog
from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
    dedup_ingest,
    near_dedup_ingest,
)


def _docs_df(spark, ids_texts):
    return spark.createDataFrame(ids_texts, "doc_id long, text string")


def test_threaded_ingest_exactly_once(spark, warehouse):
    """4 threads x 2 batches each, every content string shared by two
    threads under different doc_ids: each distinct content is admitted
    exactly once, the index mirrors the docs table, and every thread
    completes (retries absorb the conflicts)."""
    cat = Catalog(warehouse)
    # thread t ingests contents [t, t+1] of 5 shared content groups —
    # adjacent threads contend for the same strings
    n_threads = 4
    results, errors = {}, []

    def work(t):
        try:
            out = []
            for b in range(2):
                texts = [
                    (t * 1000 + b * 100 + i, f"shared content {(t + i) % 5}")
                    for i in range(4)
                ]
                out.append(
                    dedup_ingest(
                        spark,
                        cat,
                        _docs_df(spark, texts),
                        "docs",
                        "fp_index",
                        max_retries=12,
                    )
                )
            results[t] = out
        except Exception as ex:  # pragma: no cover - failure detail
            errors.append((t, ex))

    threads = [
        threading.Thread(target=work, args=(t,)) for t in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    docs = cat.read(spark, "docs").collect()
    by_text = {}
    for r in docs:
        by_text.setdefault(r["text"], []).append(r["doc_id"])
    # exactly-once per content, and only the 5 shared strings exist
    assert sorted(by_text) == [f"shared content {i}" for i in range(5)]
    assert all(len(ids) == 1 for ids in by_text.values()), by_text
    # the index mirrors the docs table row-for-row
    assert cat.read(spark, "fp_index").count() == len(docs)
    # global accounting: published rows across all ingests == 5
    total_pub = sum(
        r.rows_published for out in results.values() for r in out
    )
    assert total_pub == 5


def test_threaded_near_ingest_no_duplicate_neighborhoods(spark, warehouse):
    """2 threads race IDENTICAL long documents through the near-dup
    pipeline: only one copy of each document survives, and the
    signature/band tables stay consistent with the docs table."""
    cat = Catalog(warehouse)
    # three genuinely DISSIMILAR documents (pairwise shingle Jaccard
    # ~0), each appearing twice per batch — the in-batch pass collapses
    # the exact copies; the race decides which thread admits each
    variants = [
        "the quick brown fox jumps over the lazy dog near the river",
        "stock markets rallied sharply after central banks cut rates",
        "volcanic eruptions reshape coastlines over geological time",
    ]
    docs = [(i, variants[i % 3]) for i in range(6)]
    errors = []

    def work(t):
        try:
            near_dedup_ingest(
                spark,
                cat,
                _docs_df(spark, [(t * 100 + i, txt) for i, txt in docs]),
                "docs_nd",
                "sigs_nd",
                "bands_nd",
                max_retries=12,
            )
        except Exception as ex:  # pragma: no cover - failure detail
            errors.append((t, ex))

    threads = [threading.Thread(target=work, args=(t,)) for t in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    out = cat.read(spark, "docs_nd").collect()
    # 3 distinct variants exist; each admitted exactly once
    texts = sorted(r["text"] for r in out)
    assert len(texts) == 3 and len(set(texts)) == 3
    # signature and band tables describe exactly the admitted docs
    admitted = {r["doc_id"] for r in out}
    sig_ids = {
        r["doc_id"] for r in cat.read(spark, "sigs_nd").collect()
    }
    assert sig_ids == admitted
    band_ids = {
        r["doc_id"]
        for r in cat.read(spark, "bands_nd")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert band_ids == admitted


def test_threaded_multi_table_appends_never_tear(spark, warehouse):
    """4 threads x 3 append_many calls over OVERLAPPING table pairs
    (every call touches `shared` plus one private table): retries
    serialize the commit-global ref CAS, no append is lost, and at
    EVERY commit in history the shared table's row count equals the
    sum of the private tables' counts (the invariant a torn or
    partially-applied multi-table commit would break)."""
    from pyspark.sql import functions as F

    cat = Catalog(warehouse)
    schema = (
        spark.range(1)
        .select("id", F.lit("x").alias("who"))
        .schema
    )
    n_threads = 4
    cat.create_table("shared", schema)
    for t in range(n_threads):
        cat.create_table(f"priv_{t}", schema)
    errors = []

    def work(t):
        try:
            for b in range(3):
                df = spark.range(b * 10, b * 10 + 10).select(
                    "id", F.lit(f"t{t}").alias("who")
                )
                cat.append_many(
                    [("shared", df), (f"priv_{t}", df)],
                    max_retries=16,
                )
        except Exception as ex:  # pragma: no cover - failure detail
            errors.append((t, ex))

    threads = [
        threading.Thread(target=work, args=(t,)) for t in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    # final state: nothing lost
    assert cat.read(spark, "shared").count() == n_threads * 30
    for t in range(n_threads):
        priv = cat.read(spark, f"priv_{t}")
        assert priv.count() == 30
        assert priv.filter(F.col("who") != f"t{t}").count() == 0
    # per-writer rows in shared match their private table exactly
    shared = cat.read(spark, "shared")
    for t in range(n_threads):
        assert shared.filter(F.col("who") == f"t{t}").count() == 30

    # history: every commit shows shared == sum(priv) — all-or-nothing
    for c in cat.log():
        tables = c.get("tables", {})
        if "shared" not in tables:
            continue
        n_shared = cat._load_table_at("shared", c["id"]).row_count()
        n_priv = sum(
            cat._load_table_at(f"priv_{t}", c["id"]).row_count()
            for t in range(n_threads)
            if f"priv_{t}" in tables
        )
        assert n_shared == n_priv, (c["id"], n_shared, n_priv)


def test_forget_races_ingest_without_tearing(spark, warehouse):
    """forget_documents racing live ingests: either serialization
    order is correct (an ingest losing its pinned CAS to a forget
    re-probes the post-forget index; a forget losing its fast-forward
    to an ingest re-forks and replays), and at the end docs and index
    agree exactly — no ghost index rows, no lost ingest, no deadlock."""
    from pyspark.sql import functions as F

    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        dedup_ingest,
        forget_documents,
    )

    def df(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").cast("int").alias("doc_id"),
            F.concat(F.lit("content-"), F.col("id")).alias("text"),
        )

    cat = Catalog(warehouse)
    dedup_ingest(spark, cat, df(0, 20), "docs", "fp_index")
    errors = []

    def ingester():
        try:
            for b in range(3):
                dedup_ingest(
                    spark, cat, df(20 + b * 20, 40 + b * 20),
                    "docs", "fp_index", max_retries=16,
                )
        except Exception as ex:  # pragma: no cover - failure detail
            errors.append(("ingest", ex))

    def forgetter():
        try:
            forget_documents(
                spark, cat,
                df(0, 10).select("doc_id"),
                "docs", ["fp_index"], max_retries=16,
            )
        except Exception as ex:  # pragma: no cover - failure detail
            errors.append(("forget", ex))

    threads = [
        threading.Thread(target=ingester),
        threading.Thread(target=forgetter),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    docs = cat.read(spark, "docs")
    idx = cat.read(spark, "fp_index")
    doc_ids = {r["doc_id"] for r in docs.collect()}
    idx_ids = {r["doc_id"] for r in idx.collect()}
    # docs and index agree EXACTLY — no ghosts, no missing entries
    assert doc_ids == idx_ids
    # the forget landed (ids 0-9 gone) and no ingest was lost
    assert doc_ids == set(range(10, 80))
    # every surviving content is unique (no double admission)
    assert docs.count() == docs.select("text").distinct().count()


def test_rebuild_retry_sees_racing_ingest(spark, warehouse):
    """An ingest landing between the rebuild's corpus read and its
    publish conflicts the CAS; the RETRY must re-derive the index from
    the FRESH corpus (an attempt-invariant snapshot-pinned plan would
    replay the old corpus and silently drop the ingest's fingerprints
    — ghost docs whose dups re-admit forever)."""
    from pyspark.sql import functions as F

    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        dedup_ingest,
        rebuild_fingerprint_index,
    )

    def df(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").cast("int").alias("doc_id"),
            F.concat(F.lit("content-"), F.col("id")).alias("text"),
        )

    cat, store = hooked_catalog(warehouse)
    dedup_ingest(spark, cat, df(0, 10), "docs", "fp_index")
    raced = []

    def racing_ingest():
        raced.append(True)
        dedup_ingest(spark, cat, df(10, 20), "docs", "fp_index")

    store.refs_cas_when = publishes_fork("rebuild-")
    store.before_refs_cas = racing_ingest
    n = rebuild_fingerprint_index(spark, cat, "docs", "fp_index")
    assert raced
    assert n == 20  # the retry indexed the racing ingest's docs too
    doc_ids = {r["doc_id"] for r in cat.read(spark, "docs").collect()}
    idx_ids = {r["doc_id"] for r in cat.read(spark, "fp_index").collect()}
    assert doc_ids == idx_ids == set(range(20))
    # no ghosts: re-submitting the raced batch's content all dedups
    r = dedup_ingest(
        spark, cat,
        df(10, 20).select(
            (F.col("doc_id") + 100).alias("doc_id"), "text"
        ),
        "docs", "fp_index",
    )
    assert r.rows_published == 0


def test_near_rebuild_retry_sees_racing_ingest(spark, warehouse):
    """Same staleness hazard for the near rebuild: the retry must
    recompute signatures/bands from the fresh corpus."""
    from pyspark.sql import functions as F

    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        near_dedup_ingest,
        near_rebuild_index,
    )

    def doc(i):
        return (i, " ".join(f"d{i}w{j}" for j in range(30)))

    cat, store = hooked_catalog(warehouse)
    near_dedup_ingest(
        spark, cat, spark.createDataFrame(
            [doc(1), doc(2)], "doc_id INT, text STRING"
        ),
        "d", "s", "b",
    )
    raced = []

    def racing_ingest():
        raced.append(True)
        near_dedup_ingest(
            spark, cat, spark.createDataFrame(
                [doc(3)], "doc_id INT, text STRING"
            ),
            "d", "s", "b",
        )

    store.refs_cas_when = publishes_fork("rebuild-")
    store.before_refs_cas = racing_ingest
    n = near_rebuild_index(spark, cat, "d", "s", "b")
    assert raced
    assert n == 3  # the retry's signature pass saw doc 3
    assert {r["doc_id"] for r in cat.read(spark, "s").collect()} == {1, 2, 3}
    # no ghosts: a near-dup of the raced doc still drops
    r = near_dedup_ingest(
        spark, cat, spark.createDataFrame(
            [(9, doc(3)[1] + " tail")], "doc_id INT, text STRING"
        ),
        "d", "s", "b",
    )
    assert r.rows_published == 0


def test_concurrent_overlapping_forgets(spark, warehouse):
    """Two forgets with overlapping id sets race: conflicts retry on
    fresh forks, deleting an already-deleted key is a no-op, and the
    end state is exactly the union forgotten with docs/index agreeing."""
    from pyspark.sql import functions as F

    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        dedup_ingest,
        forget_documents,
    )

    def df(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").cast("int").alias("doc_id"),
            F.concat(F.lit("content-"), F.col("id")).alias("text"),
        )

    cat = Catalog(warehouse)
    dedup_ingest(spark, cat, df(0, 30), "docs", "fp_index")
    errors = []

    def forget(lo, hi):
        try:
            forget_documents(
                spark, cat, df(lo, hi).select("doc_id"),
                "docs", ["fp_index"], max_retries=16,
            )
        except Exception as ex:  # pragma: no cover - failure detail
            errors.append(ex)

    threads = [
        threading.Thread(target=forget, args=(0, 12)),
        threading.Thread(target=forget, args=(8, 20)),  # overlap 8-11
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    doc_ids = {r["doc_id"] for r in cat.read(spark, "docs").collect()}
    idx_ids = {r["doc_id"] for r in cat.read(spark, "fp_index").collect()}
    assert doc_ids == idx_ids == set(range(20, 30))  # union forgotten
    assert cat.list_branches() == ["main"]  # no forget-* debris
