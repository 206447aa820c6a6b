"""Incremental cross-batch exact dedup against the persisted
fingerprint index (pipelines/incremental_dedup.py).

- within-batch keep-first (min key per digest);
- cross-batch: a digest admitted once is never admitted again;
- normalization folds case + whitespace runs;
- docs and index publish ATOMICALLY (never one without the other);
- a RACING ingest that publishes first forces the loser's retry to
  re-probe the fresh index, so the same digest cannot land twice.
"""

import pytest
from pyspark.sql import functions as F

from conftest import hooked_catalog, publishes_fork
from no_jvm_wap_with_iceberg_spark.catalog import Catalog
from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
    dedup_ingest,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id INT, text STRING")


def test_three_batch_ingest(spark, warehouse):
    cat = Catalog(warehouse)
    r1 = dedup_ingest(
        spark, cat, _df(spark, [(1, "aa"), (2, "bb"), (3, "aa")]),
        "docs", "fp_index",
    )
    assert (r1.published, r1.rows_in, r1.in_batch_dups, r1.seen_dups,
            r1.rows_published) == (True, 3, 1, 0, 2)
    r2 = dedup_ingest(
        spark, cat, _df(spark, [(4, "bb"), (5, "cc"), (6, "cc")]),
        "docs", "fp_index",
    )
    assert (r2.published, r2.in_batch_dups, r2.seen_dups,
            r2.rows_published) == (True, 1, 1, 1)
    r3 = dedup_ingest(
        spark, cat, _df(spark, [(7, "aa"), (8, "cc")]), "docs", "fp_index"
    )
    assert (r3.published, r3.rows_published) == (False, 0)
    docs = {(r.doc_id, r.text) for r in cat.read(spark, "docs").collect()}
    assert docs == {(1, "aa"), (2, "bb"), (5, "cc")}
    assert cat.read(spark, "fp_index").count() == 3


def test_normalization_folds_case_and_whitespace(spark, warehouse):
    cat = Catalog(warehouse)
    dedup_ingest(spark, cat, _df(spark, [(1, "Hello  World")]), "d", "i")
    r = dedup_ingest(
        spark, cat, _df(spark, [(2, "hello world "), (3, "HELLO\tWORLD")]),
        "d", "i",
    )
    assert r.rows_published == 0
    strict = Catalog(warehouse + "_s")
    strict_r1 = dedup_ingest(
        spark, strict, _df(spark, [(1, "Hello  World")]), "d", "i",
        normalize=False,
    )
    strict_r2 = dedup_ingest(
        spark, strict, _df(spark, [(2, "hello world")]), "d", "i",
        normalize=False,
    )
    assert strict_r1.rows_published == 1 and strict_r2.rows_published == 1


def test_docs_and_index_stay_consistent(spark, warehouse):
    cat = Catalog(warehouse)
    for i in range(4):
        rows = [(10 * i + j, f"doc-{(i * 2 + j) % 5}") for j in range(4)]
        dedup_ingest(spark, cat, _df(spark, rows), "docs", "fp_index")
    n_docs = cat.read(spark, "docs").count()
    idx = cat.read(spark, "fp_index")
    assert idx.count() == n_docs
    assert idx.select("fingerprint").distinct().count() == n_docs


def test_racing_ingest_cannot_admit_digest_twice(spark, warehouse):
    cat = Catalog(warehouse)
    dedup_ingest(spark, cat, _df(spark, [(1, "base")]), "docs", "fp_index")

    original_append_many = Catalog.append_many
    fired = {"done": False}

    def racing_append_many(self, appends, branch="main", **kw):
        if not fired["done"]:
            fired["done"] = True
            # a competitor lands the SAME new digest on main between
            # our probe and our publish: our commit CAS must fail
            dedup_ingest(
                spark, cat, _df(spark, [(50, "contested")]),
                "docs", "fp_index",
            )
        return original_append_many(self, appends, branch, **kw)

    try:
        Catalog.append_many = racing_append_many
        r = dedup_ingest(
            spark, cat, _df(spark, [(9, "contested")]), "docs", "fp_index"
        )
    finally:
        Catalog.append_many = original_append_many
    # the loser re-probed and found the digest already admitted
    assert r.published is False and r.attempts == 2
    docs = cat.read(spark, "docs")
    assert docs.filter("text = 'contested'").count() == 1
    assert {r.doc_id for r in docs.filter("text = 'contested'").collect()} == {50}
    assert cat.read(spark, "fp_index").count() == docs.count()


def test_index_probe_prunes_files(spark, warehouse):
    # appended index files are digest-sorted with blooms: a probe for
    # digests absent from the corpus must touch ZERO files
    cat = Catalog(warehouse)
    for i in range(3):
        rows = [(100 * i + j, f"t-{i}-{j}") for j in range(50)]
        dedup_ingest(spark, cat, _df(spark, rows), "docs", "fp_index")
    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        fingerprint_expr,
    )

    meta = cat.load_table("fp_index")
    probe = (
        _df(spark, [(1, "never-seen-content-xyz")])
        .select(fingerprint_expr("text").alias("fingerprint"))
    )
    affected = cat._files_overlapping_keys(meta, ["fingerprint"], probe)
    assert not affected  # range/bloom pruning proved absence


def test_auto_compact_bounds_index_files(spark, warehouse, monkeypatch):
    """Self-tending index maintenance: once every prefix partition is
    populated, each ingest adds ~one file per partition; the
    auto-binpack trigger must fold them back so the live file count
    stays bounded by (threshold + 1) x partitions instead of growing
    linearly with ingests."""
    import no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup as idd

    monkeypatch.setattr(idd, "AUTO_COMPACT_FILES_PER_PARTITION", 2)
    cat = Catalog(warehouse)

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.sha2(F.col("id").cast("string"), 256).alias("text"),
        )

    counts = []
    for i in range(6):
        idd.dedup_ingest(
            spark, cat, batch(i * 400, (i + 1) * 400), "docs", "fp_index"
        )
        counts.append(len(cat.load_table("fp_index").files()))
    parts = {
        tuple(sorted(f.partition.items()))
        for f in cat.load_table("fp_index").files()
    }
    # bounded: never beyond (threshold + 1) per populated partition
    assert max(counts) <= 3 * len(parts), (counts, len(parts))
    # compaction actually fired at least once (a fold shrinks counts)
    assert any(b < a for a, b in zip(counts, counts[1:])), counts
    # and dedup stays exact across the folds
    res = idd.dedup_ingest(spark, cat, batch(0, 2400), "docs", "fp_index")
    assert res.rows_published == 0


def test_forget_documents_enables_readmission(spark, warehouse):
    """Forgetting removes docs AND index rows atomically, so the SAME
    content can re-enter under a new key; unforgotten content still
    dedups; never-admitted keys are a no-op."""
    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        forget_documents,
    )

    cat = Catalog(warehouse)
    dedup_ingest(
        spark, cat, _df(spark, [(1, "aa"), (2, "bb"), (3, "cc")]),
        "docs", "fp_index",
    )
    # forget 1 (admitted), 3 (admitted) and 9 (never existed)
    res = forget_documents(
        spark, cat, _df(spark, [(1, "x"), (3, "x"), (9, "x")]),
        "docs", ["fp_index"],
    )
    assert (res.published, res.ids_requested, res.docs_removed) == (
        True, 3, 2,
    )
    assert cat.row_count("docs", spark=spark) == 1  # only (2, bb)
    assert cat.row_count("fp_index", spark=spark) == 1
    # re-admit the forgotten content under new keys; bb still dedups
    r = dedup_ingest(
        spark, cat, _df(spark, [(11, "aa"), (12, "bb"), (13, "cc")]),
        "docs", "fp_index",
    )
    assert (r.published, r.seen_dups, r.rows_published) == (True, 1, 2)
    docs = {(x.doc_id, x.text) for x in cat.read(spark, "docs").collect()}
    assert docs == {(2, "bb"), (11, "aa"), (13, "cc")}
    # empty forget request is a clean no-op
    res0 = forget_documents(
        spark, cat, _df(spark, []).limit(0), "docs", ["fp_index"]
    )
    assert (res0.published, res0.attempts) == (False, 0)


def test_forget_documents_is_atomic_and_leaves_no_branch(spark, warehouse):
    """Observable state never shows docs deleted without their index
    rows (or vice versa); the staging fork is gone afterwards; a
    concurrent commit forces a retried fork that still lands."""
    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        forget_documents,
    )

    cat, store = hooked_catalog(warehouse)
    dedup_ingest(
        spark, cat, _df(spark, [(1, "aa"), (2, "bb")]), "docs", "fp_index"
    )
    # inject a rival commit between fork and publish
    store.refs_cas_when = publishes_fork("forget-")
    store.before_refs_cas = lambda: cat.append(
        _df(spark, [(50, "zz")]), "docs", "main"
    )
    res = forget_documents(
        spark, cat, _df(spark, [(1, "x")]), "docs", ["fp_index"]
    )
    assert store.before_refs_cas is None, "race was never injected"
    assert res.published and res.attempts == 2  # first fork conflicted
    assert cat.list_branches() == ["main"]  # no forget-* debris
    docs = {x.text for x in cat.read(spark, "docs").collect()}
    assert docs == {"bb", "zz"}  # rival kept, forget applied
    # docs and index agree after the publish: every pipeline-admitted
    # doc has exactly its fingerprint row, the forgotten one has neither
    fp = {
        x.doc_id for x in cat.read(spark, "fp_index").collect()
    }
    live = {
        x.doc_id for x in cat.read(spark, "docs").collect()
        if x.text != "zz"  # the rival append bypassed the pipeline
    }
    assert fp == live


def test_forget_documents_near_pipeline(spark, warehouse):
    """Near pipeline: forgetting drops sig + band rows too, so the
    same content re-admits instead of matching a ghost's bands."""
    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        forget_documents,
        near_dedup_ingest,
    )

    long_a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    long_b = "one two three four five six seven eight nine ten " * 4
    cat = Catalog(warehouse)
    near_dedup_ingest(
        spark, cat, _df(spark, [(1, long_a), (2, long_b)]),
        "d", "s", "b",
    )
    res = forget_documents(spark, cat, _df(spark, [(1, "x")]), "d", ["s", "b"])
    assert res.docs_removed == 1
    assert {x.doc_id for x in cat.read(spark, "s").collect()} == {2}
    assert cat.read(spark, "b").filter(F.col("doc_id") == 1).count() == 0
    r = near_dedup_ingest(
        spark, cat, _df(spark, [(10, long_a)]), "d", "s", "b"
    )
    assert (r.published, r.rows_published) == (True, 1)  # re-admitted
    # and a true near-dup of the SURVIVING doc still drops
    r2 = near_dedup_ingest(
        spark, cat, _df(spark, [(20, long_b + " extra")]), "d", "s", "b"
    )
    assert r2.rows_published == 0


def test_band_hashes_recompute_bit_identical(spark):
    """band_hashes_for_shingles over STORED shingle sets reproduces
    minhash_signatures' band hashes exactly — the near forget's
    layout-aligned band delete depends on this bit-identity."""
    from no_jvm_wap_with_iceberg_spark.operators.dedup import (
        band_hashes_for_shingles,
        minhash_signatures,
    )

    docs = _df(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs today"),
            (3, "one two"),  # sub-3-word: empty shingles, empty bands
        ],
    )
    sigs = minhash_signatures(docs, "doc_id", "text").collect()
    stored = spark.createDataFrame(
        [(r["_id"], list(r["_sh"])) for r in sigs],
        "doc_id INT, sh ARRAY<LONG>",
    )
    re_bh = {
        r["doc_id"]: list(r["_bh"])
        for r in band_hashes_for_shingles(stored, "sh").collect()
    }
    for r in sigs:
        assert re_bh[r["_id"]] == list(r["_bh"])


def test_near_forget_documents_layout_aligned(spark, warehouse):
    """near_forget_documents removes docs + sig + band rows atomically
    (band rows addressed by recomputed (band_hash, key) composite) and
    the forgotten content re-admits; shingle-less docs still forget."""
    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        near_dedup_ingest,
        near_forget_documents,
    )

    long_a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    long_b = "one two three four five six seven eight nine ten " * 4
    cat = Catalog(warehouse)
    near_dedup_ingest(
        spark, cat,
        _df(spark, [(1, long_a), (2, long_b), (3, "hi")]),  # 3: no shingles
        "d", "s", "b",
    )
    res = near_forget_documents(
        spark, cat, _df(spark, [(1, "x"), (3, "x")]), "d", "s", "b"
    )
    assert (res.published, res.docs_removed) == (True, 2)
    assert {x.doc_id for x in cat.read(spark, "d").collect()} == {2}
    assert {x.doc_id for x in cat.read(spark, "s").collect()} == {2}
    assert cat.read(spark, "b").filter(F.col("doc_id") != 2).count() == 0
    assert cat.list_branches() == ["main"]
    # the forgotten near-dup content re-admits under a new key
    r = near_dedup_ingest(
        spark, cat, _df(spark, [(10, long_a)]), "d", "s", "b"
    )
    assert (r.published, r.rows_published) == (True, 1)
    # a near-dup of the SURVIVOR still drops
    r2 = near_dedup_ingest(
        spark, cat, _df(spark, [(20, long_b + " tail")]), "d", "s", "b"
    )
    assert r2.rows_published == 0


def test_near_forget_band_delete_prunes_by_band_hash(
    spark, warehouse, monkeypatch
):
    """The layout-aligned claim, plan-asserted at the metadata level:
    with doc ids INTERLEAVED across ingests (every band file's doc-key
    range spans the whole corpus, so a doc-keyed delete prunes
    nothing), the composite (band_hash, key) delete still targets only
    the victim's own band files — bloom/bucket pruning on the band
    index's native key. Auto-compact is deferred so per-ingest files
    survive for the pruning comparison."""
    import no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup as idd
    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        near_dedup_ingest,
        near_forget_documents,
    )

    monkeypatch.setattr(idd, "AUTO_COMPACT_FILES_PER_PARTITION", 1000)
    cat = Catalog(warehouse)
    for b in range(4):
        rows = [
            (
                i * 10 + b,  # interleaved: each batch spans the range
                " ".join(f"t{b}x{i}y{j}" for j in range(30)),
            )  # disjoint token streams: every doc genuinely distinct
            for i in range(12)
        ]
        near_dedup_ingest(spark, cat, _df(spark, rows), "d", "s", "b")
    assert cat.read(spark, "d").count() == 48  # nothing near-dupped
    bmeta = cat.load_table("b")
    total_files = len(bmeta.files())
    assert total_files >= 16  # several files per bucket to prune among
    victim = cat.read(spark, "d").limit(1).collect()[0]["doc_id"]
    res = near_forget_documents(
        spark, cat, spark.createDataFrame([(victim,)], "doc_id INT"),
        "d", "s", "b",
    )
    assert res.published and res.docs_removed == 1
    bmeta2 = cat.load_table("b")
    delete_snaps = [s for s in bmeta2.snapshots if s.deletes]
    targets = delete_snaps[-1].deletes[0]["targets"]
    # the victim's 16 band rows live in its OWN ingest's files only;
    # blooms on band_hash prove absence everywhere else — while a
    # doc-keyed delete would target every file (interleaved key ranges)
    doc_keyed = cat._files_overlapping_keys(
        bmeta, ["doc_id"],
        spark.createDataFrame([(victim,)], "doc_id INT"),
    )
    assert len(doc_keyed) == total_files  # the shape the variant avoids
    assert 0 < len(targets) <= total_files / 2, (
        len(targets), total_files,
    )
    assert cat.read(spark, "b").filter(
        F.col("doc_id") == victim
    ).count() == 0


def test_rebuild_fingerprint_index_after_loss(spark, warehouse):
    """A dropped/corrupt index rebuilds from the corpus: dedup
    semantics are restored exactly (dups dropped, fresh admitted), a
    manually-dup'd corpus indexes keep-first, and the rebuilt table
    carries the standard self-sizing layout."""
    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        rebuild_fingerprint_index,
    )

    cat = Catalog(warehouse)
    dedup_ingest(
        spark, cat, _df(spark, [(1, "aa"), (2, "bb"), (3, "cc")]),
        "docs", "fp_index",
    )
    # disaster: the index table is lost; also inject a manual dup
    cat.drop_table("fp_index")
    cat.append(_df(spark, [(99, "bb")]), "docs")
    n = rebuild_fingerprint_index(spark, cat, "docs", "fp_index")
    assert n == 3  # 3 distinct contents; bb indexed keep-first (key 2)
    idx = {
        r["doc_id"] for r in cat.read(spark, "fp_index").collect()
    }
    assert idx == {1, 2, 3}
    meta = cat.load_table("fp_index")
    assert meta.partition_by == ["truncate(1, fingerprint)"]
    assert meta.properties.get("dedup.index_layout") == "auto"
    # semantics restored: dups drop, fresh admits
    r = dedup_ingest(
        spark, cat, _df(spark, [(11, "aa"), (12, "dd")]),
        "docs", "fp_index",
    )
    assert (r.seen_dups, r.rows_published) == (1, 1)
    # rebuild over an EXISTING index is an atomic replace (no branch
    # debris, one consistent table)
    n2 = rebuild_fingerprint_index(spark, cat, "docs", "fp_index")
    assert n2 == 4
    assert cat.list_branches() == ["main"]


def test_near_rebuild_index_after_loss(spark, warehouse):
    """Lost sig+band tables rebuild from the corpus with bit-identical
    banding, so near-dup admission of FUTURE batches resumes."""
    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        near_dedup_ingest,
        near_rebuild_index,
    )

    long_a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    long_b = "one two three four five six seven eight nine ten " * 4
    cat = Catalog(warehouse)
    near_dedup_ingest(
        spark, cat, _df(spark, [(1, long_a), (2, long_b), (3, "hi")]),
        "d", "s", "b",
    )
    before_sigs = {
        (r["doc_id"], tuple(r["sh"]))
        for r in cat.read(spark, "s").collect()
    }
    before_bands = {
        (r["band_hash"], r["doc_id"])
        for r in cat.read(spark, "b").collect()
    }
    cat.drop_table("s")
    cat.drop_table("b")
    n = near_rebuild_index(spark, cat, "d", "s", "b")
    assert n == 2  # doc 3 has no shingles, no signature
    after_sigs = {
        (r["doc_id"], tuple(r["sh"]))
        for r in cat.read(spark, "s").collect()
    }
    after_bands = {
        (r["band_hash"], r["doc_id"])
        for r in cat.read(spark, "b").collect()
    }
    assert after_sigs == before_sigs  # bit-identical state
    assert after_bands == before_bands
    # near-dup admission resumes against the rebuilt state
    r = near_dedup_ingest(
        spark, cat, _df(spark, [(10, long_a + " x")]), "d", "s", "b"
    )
    assert r.rows_published == 0  # near-dup of admitted doc 1
    r2 = near_dedup_ingest(
        spark, cat,
        _df(spark, [(11, "completely different words here " * 5)]),
        "d", "s", "b",
    )
    assert r2.rows_published == 1
    assert cat.list_branches() == ["main"]


def test_forget_failure_drops_staging_branch(spark, warehouse):
    """A NON-conflict failure mid-forget (here: a missing index table)
    must drop the hidden staging fork before re-raising — a leaked
    forget-* branch pins the deleted files as live against
    remove_orphan_files/expiry forever (ADVICE r10)."""
    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        forget_documents,
    )

    cat = Catalog(warehouse)
    dedup_ingest(spark, cat, _df(spark, [(1, "aa")]), "docs", "fp_index")
    with pytest.raises(KeyError):
        forget_documents(
            spark, cat, _df(spark, [(1, "x")]), "docs", ["no_such_index"]
        )
    assert cat.list_branches() == ["main"]  # no forget-* debris
    # and the failed attempt changed nothing
    assert cat.row_count("docs", spark=spark) == 1
    assert cat.row_count("fp_index", spark=spark) == 1


def test_rebuild_failure_drops_staging_branch(spark, warehouse):
    """Same contract for both rebuild primitives: any failure inside
    an attempt (missing corpus table / bad content column) drops the
    rebuild-* fork before surfacing (ADVICE r10)."""
    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        near_rebuild_index,
        rebuild_fingerprint_index,
    )

    cat = Catalog(warehouse)
    dedup_ingest(spark, cat, _df(spark, [(1, "aa")]), "docs", "fp_index")
    with pytest.raises(KeyError):
        rebuild_fingerprint_index(spark, cat, "no_such_corpus", "fp_index")
    assert cat.list_branches() == ["main"]
    with pytest.raises(Exception):  # missing content column
        near_rebuild_index(
            spark, cat, "docs", "s", "b", content_col="no_such_col"
        )
    assert cat.list_branches() == ["main"]


def test_rebuild_count_ignores_racing_public_commit(spark, warehouse):
    """The 'index rows written' return value counts the STAGING fork's
    snapshot, so an ingest committing right after the publish cannot
    inflate the number this rebuild reports (ADVICE r10)."""
    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        rebuild_fingerprint_index,
    )

    cat, store = hooked_catalog(warehouse)
    dedup_ingest(
        spark, cat, _df(spark, [(1, "aa"), (2, "bb"), (3, "cc")]),
        "docs", "fp_index",
    )

    def rival(landed):
        # a racing ingest lands right after the publish, growing the
        # PUBLIC index before a post-publish count would run
        assert landed
        dedup_ingest(
            spark, cat, _df(spark, [(7, "dd"), (8, "ee")]),
            "docs", "fp_index",
        )

    store.refs_cas_when = publishes_fork("rebuild-")
    store.after_refs_cas = rival
    n = rebuild_fingerprint_index(spark, cat, "docs", "fp_index")
    assert store.after_refs_cas is None, "race was never injected"
    assert n == 3  # what THIS rebuild wrote, not the post-race table
    assert cat.row_count("fp_index", spark=spark) == 5


def test_near_forget_auto_dispatch_picks_by_regime(
    spark, warehouse, tmp_path, monkeypatch
):
    """The documented near-forget entry point picks its delete plan
    from metadata (VERDICT r10 #2): a small band table routes GENERIC
    (the layout-aligned fixed cost can't pay off), an interleaved-key
    band table past the file floor — where a doc-keyed delete would
    target every file — routes the composite BAND-ALIGNED plan; and
    the two plans produce bit-identical post-forget state."""
    import shutil

    import no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup as idd
    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        near_dedup_ingest,
        near_forget,
    )

    monkeypatch.setattr(idd, "AUTO_COMPACT_FILES_PER_PARTITION", 1000)
    cat = Catalog(warehouse)
    for b in range(4):
        rows = [
            (
                i * 10 + b,  # interleaved: each batch spans the range
                " ".join(f"t{b}x{i}y{j}" for j in range(30)),
            )
            for i in range(12)
        ]
        near_dedup_ingest(spark, cat, _df(spark, rows), "d", "s", "b")
    total_files = len(cat.load_table("b").files())
    assert total_files >= 16
    # identical twin warehouse for the other dispatch branch
    twin = str(tmp_path / "warehouse_twin")
    shutil.copytree(warehouse, twin)
    cat2 = Catalog(twin)
    # a MID-RANGE victim: every batch's file covers it by min/max (the
    # interleaved regime the composite plan exists for) — the global
    # min/max keys would let plain range pruning skip 3 of 4 batches
    victim = 53  # i=5, b=3
    ids = spark.createDataFrame([(victim,)], "doc_id INT")

    # regime 1: band table below the file floor -> generic
    monkeypatch.setattr(idd, "NEAR_FORGET_MIN_FILES", total_files + 1)
    res_small = near_forget(spark, cat, ids, "d", "s", "b")
    assert (res_small.published, res_small.strategy) == (True, "generic")

    # regime 2: past the floor with interleaved keys (the doc-keyed
    # probe targets every file) -> band-aligned composite delete
    monkeypatch.setattr(idd, "NEAR_FORGET_MIN_FILES", total_files)
    res_big = near_forget(spark, cat2, ids, "d", "s", "b")
    assert (res_big.published, res_big.strategy) == (True, "band_aligned")
    assert res_big.docs_removed == res_small.docs_removed == 1

    # both plans leave bit-identical state in all three tables
    for t in ("d", "s", "b"):
        a = sorted(str(sorted(r.asDict().items()))
                   for r in cat.read(spark, t).collect())
        b_ = sorted(str(sorted(r.asDict().items()))
                    for r in cat2.read(spark, t).collect())
        assert a == b_, t
    assert cat.list_branches() == cat2.list_branches() == ["main"]

    # regime 3: large table whose keys DO cluster (a fresh batch's
    # keys live in that batch's files only) -> probe prunes -> generic
    rows = [(9000 + i, " ".join(f"zz{i}w{j}" for j in range(30)))
            for i in range(12)]
    near_dedup_ingest(spark, cat, _df(spark, rows), "d", "s", "b")
    clustered = spark.createDataFrame([(9000,)], "doc_id INT")
    monkeypatch.setattr(idd, "NEAR_FORGET_MIN_FILES", 4)
    res_cl = near_forget(spark, cat, clustered, "d", "s", "b")
    assert res_cl.strategy == "generic"
    assert res_cl.docs_removed == 1
