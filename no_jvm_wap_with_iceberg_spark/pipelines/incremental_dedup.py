"""Incremental cross-batch exact dedup against a persisted fingerprint
index — the production LLM-corpus ingest shape.

Batches arrive over time; each incoming batch must be deduplicated not
just within itself but against EVERYTHING previously admitted to the
corpus. Recomputing global dedup per batch is O(corpus) and dies at
100 TB; this pipeline keeps a catalog table of content fingerprints and
makes each ingest O(batch + bloom-hit index files):

1. **Fingerprint** the batch (sha256 over optionally
   whitespace/case-normalized content) and keep-first WITHIN the batch
   (min key per digest — deterministic, no window sort).
2. **Probe the index** through the catalog's shared key-pruning pass
   (``Catalog._files_overlapping_keys``), which prunes in three sound
   layers: digest-prefix PARTITION values by set lookup (the index is
   created ``partition_by=["truncate(W, fingerprint)"]`` — the set is
   bounded by 16^W, never by batch size), then per-file min/max
   ranges, then per-file blooms probed with the exact digests —
   executor-side above 10k distinct keys, range-sliced per file so
   false positives don't compound with batch size. The index is also
   ``sort_by=["fingerprint"]`` + ``bloom_cols=["fingerprint"]``, so
   each append lands digest-sorted files with tight ranges + blooms.
   At any corpus or batch size the probe reads only files that MAY
   hold a batch digest, and the scan itself inner-joins the batch's
   digest set (broadcast-hinted only when its count is provably
   small — see :data:`BROADCAST_MAX_ROWS`). Nothing ever scans the
   full index (soak-measured: tools/soak_dedup_probe.py, SCALE.md
   round-7).

   The index's partition width is SELF-SIZING: a hive layout writes
   >= one file per touched partition per ingest, so width must track
   the corpus's digest count, not ambition. New indexes start at
   ``truncate(1, fingerprint)`` (16 partitions) and after each
   publish :func:`_maybe_evolve_index` widens the spec per
   :data:`INDEX_WIDTH_SCHEDULE` (metadata-only row count vs
   thresholds) via ``Catalog.evolve_partition_spec`` plus a one-time
   full rewrite that migrates narrow-era files into the new layout
   (their saturated blooms would otherwise admit every probe
   forever); mixed-era states that arise anyway — a pinned-width
   caller evolving by hand — still prune, since
   keyprobe.partition_value_sets collects a set per era. Passing
   ``index_prefix_width`` pins the creation width instead; against an
   EXISTING index the parameter is a no-op (a warning points at
   ``evolve_partition_spec``).
3. **Publish atomically**: the surviving rows append to the documents
   table AND their fingerprints to the index table through
   ``Catalog.append_many`` — both tables' files write CONCURRENTLY
   and both metadata updates land in ONE commit behind ONE ref CAS —
   readers never observe docs without their fingerprints (or vice
   versa), and two RACING ingests cannot both admit the same digest:
   the loser's commit CAS fails and the retry RE-PROBES the fresh
   index, so the duplicate is caught exactly where the race window
   was.

The reference has no dedup at all; the WAP branch/publish machinery
this rides is its core loop (``src/serverless/app.py:235-317``).
"""

from __future__ import annotations

import dataclasses
import logging
import re
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_jvm_wap_with_iceberg_spark.catalog import Catalog
from no_jvm_wap_with_iceberg_spark.catalog.catalog import MAIN, CommitConflict
from no_jvm_wap_with_iceberg_spark.functions.overlap import overlap_actions

_LOG = logging.getLogger(__name__)

# self-tending index maintenance: after a publish, when the index has
# accumulated more than this many live files per POPULATED partition
# (each ingest lands >= one file per touched partition), fold them
# with a partition-preserving binpack — no maintenance cron needed,
# same discipline as the catalog's merge auto-fold
AUTO_COMPACT_FILES_PER_PARTITION = 4

# batch-derived sets (probe digests, admitted ids) join against index
# scans; an unconditional F.broadcast would ship an arbitrarily large
# ingest batch to the driver, so the hint applies only when the row
# count is PROVEN small and AQE picks the strategy otherwise
BROADCAST_MAX_ROWS = 250_000

# digest-count thresholds for the index's truncate(W, fingerprint)
# width, checked after every publish (metadata-only row count). A
# width sized for 10^7 digests at a 10^4-digest corpus costs pure
# tiny-file write amplification (measured: 3x ingest cost at bench
# scale), so the layout grows WITH the corpus: 16 partitions until
# 100k digests, 256 until 10M, 65,536 beyond.
INDEX_WIDTH_SCHEDULE: tuple[tuple[int, int], ...] = (
    (10_000_000, 4),
    (100_000, 2),
)

_TRUNCATE_SPEC = re.compile(r"truncate\(\s*(\d+)\s*,\s*(\w+)\s*\)")
_BUCKET_SPEC = re.compile(r"bucket\(\s*(\d+)\s*,\s*(\w+)\s*\)")

# recorded on index tables at creation: "auto" layouts evolve per the
# schedules below; "pinned" layouts (caller passed an explicit width /
# bucket count) are never touched by maintenance — the pin must hold
# even when LATER ingest calls omit the parameter, so it lives in the
# table, not the call
_LAYOUT_PROP = "dedup.index_layout"

# row-count thresholds for the near-dup indexes' bucket counts, same
# design as INDEX_WIDTH_SCHEDULE: each ingest writes >= one file per
# touched bucket, so the count tracks the table's size — 8 buckets
# until 100k rows, 64 until 10M, 512 beyond (the band table carries
# 16 rows per admitted doc, so it climbs the schedule ~16x sooner
# than the signature table — each evolves on its OWN row count)
BUCKET_COUNT_SCHEDULE: tuple[tuple[int, int], ...] = (
    (10_000_000, 512),
    (100_000, 64),
)


def _hint_small(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Broadcast-hint ``df`` only when its row count is known to be at
    most :data:`BROADCAST_MAX_ROWS`; otherwise return it unhinted and
    let AQE choose from runtime stats (``n_rows`` may be any sound
    upper bound)."""
    if n_rows is not None and n_rows <= BROADCAST_MAX_ROWS:
        return F.broadcast(df)
    return df


# run independent cache-materializing actions in sibling driver
# threads (guide §2.6) — shared helper, see functions/overlap.py
_overlap = overlap_actions


def _target_width(n_digests: int) -> int:
    for threshold, width in INDEX_WIDTH_SCHEDULE:
        if n_digests >= threshold:
            return width
    return 1


def _index_width(meta) -> int | None:
    """Current truncate width of a single-field fingerprint-prefix
    spec; None for any other layout (caller-pinned — leave it alone)."""
    if len(meta.partition_by or []) != 1:
        return None
    m = _TRUNCATE_SPEC.fullmatch(meta.partition_by[0].strip())
    if m is None or m.group(2) != "fingerprint":
        return None
    return int(m.group(1))


def _target_buckets(n_rows: int) -> int:
    for threshold, n in BUCKET_COUNT_SCHEDULE:
        if n_rows >= threshold:
            return n
    return 8


def _bucket_count(meta, source: str) -> int | None:
    """Current bucket count of a single-field ``bucket(N, source)``
    spec; None for any other layout (caller-pinned or unpartitioned —
    leave it alone)."""
    if len(meta.partition_by or []) != 1:
        return None
    m = _BUCKET_SPEC.fullmatch(meta.partition_by[0].strip())
    if m is None or m.group(2) != source:
        return None
    return int(m.group(1))


def _maybe_compact_index(
    spark: SparkSession, cat: Catalog, table: str, branch: str
) -> None:
    """Best-effort and off the publish path: the ingest already
    committed, and a lost compaction CAS race just leaves the fold to
    a later ingest. Maintenance must never fail an admit — but a
    persistent failure must not be invisible either, so it logs."""
    try:
        meta = cat.load_table(table, branch)
        files = meta.files()
        parts = {tuple(sorted(f.partition.items())) for f in files}
        if len(files) > AUTO_COMPACT_FILES_PER_PARTITION * max(
            len(parts), 1
        ):
            cat.compact(spark, table, branch, mode="binpack")
    except Exception:
        _LOG.warning(
            "index auto-compaction failed for %s@%s (will retry on a "
            "later ingest)", table, branch, exc_info=True,
        )


def _maybe_evolve_index(
    spark: SparkSession, cat: Catalog, table: str, branch: str
) -> None:
    """Widen the index's prefix partitioning once the corpus outgrows
    it (:data:`INDEX_WIDTH_SCHEDULE`): metadata-only digest count vs
    the current ``truncate(W, fingerprint)`` width, then a single
    ``evolve_partition_spec`` commit FOLLOWED by a full layout rewrite.

    The rewrite is what makes evolution effective, not just legal:
    files written under the narrow era hold the whole old partition's
    digest span, so their fixed-size blooms are saturated and their
    ranges span everything — they would be admitted by every probe
    forever. Migrating them into the new spec (tight per-prefix
    ranges, unsaturated blooms) happens at most once per threshold
    crossing and rewrites only the INDEX (~0.1% of corpus bytes — at
    the 100k-digest crossing that is a few MB; at 10M, one bounded
    parallel rewrite). Best-effort like compaction (a lost CAS race
    leaves the evolution to the next ingest) and a no-op for layouts
    the caller pinned to something other than a fingerprint prefix."""
    try:
        meta = cat.load_table(table, branch)
        if meta.properties.get(_LAYOUT_PROP) == "pinned":
            return
        current = _index_width(meta)
        if current is None:
            return
        target = _target_width(meta.row_count())
        if target > current:
            cat.evolve_partition_spec(
                table, [f"truncate({target}, fingerprint)"], branch
            )
            cat.compact(spark, table, branch, mode="full")
        else:
            _finish_interrupted_migration(spark, cat, meta, table, branch)
    except Exception:
        _LOG.warning(
            "index width evolution failed for %s@%s (will retry on a "
            "later ingest)", table, branch, exc_info=True,
        )


def _maybe_evolve_bucket_index(
    spark: SparkSession, cat: Catalog, table: str, source: str, branch: str
) -> None:
    """The bucketed twin of :func:`_maybe_evolve_index` for the
    near-dup signature/band tables: grow ``bucket(N, source)`` per
    :data:`BUCKET_COUNT_SCHEDULE` (each table by its OWN metadata row
    count) and migrate the old era with a full rewrite — identical
    rationale, identical best-effort posture."""
    try:
        meta = cat.load_table(table, branch)
        if meta.properties.get(_LAYOUT_PROP) == "pinned":
            return
        current = _bucket_count(meta, source)
        if current is None:
            return
        target = _target_buckets(meta.row_count())
        if target > current:
            cat.evolve_partition_spec(
                table, [f"bucket({target}, {source})"], branch
            )
            cat.compact(spark, table, branch, mode="full")
        else:
            _finish_interrupted_migration(spark, cat, meta, table, branch)
    except Exception:
        _LOG.warning(
            "index bucket evolution failed for %s@%s (will retry on a "
            "later ingest)", table, branch, exc_info=True,
        )


def _finish_interrupted_migration(
    spark: SparkSession, cat: Catalog, meta, table: str, branch: str
) -> None:
    """Evolution is two commits — the spec change, then the full
    rewrite. If the rewrite is lost (CAS race, crash between the two)
    the width check alone would never retry it: the spec already
    reads as current while old-era files keep their saturated blooms
    and full-span ranges. Detect the debris directly — a live file
    whose manifest partition keys lack the CURRENT spec's field — and
    run the migration rewrite now."""
    fields = meta.partition_fields
    if not fields:
        return
    name = fields[0].name
    if any(name not in f.partition for f in meta.files()):
        cat.compact(spark, table, branch, mode="full")


@dataclasses.dataclass
class DedupIngestResult:
    published: bool
    rows_in: int
    in_batch_dups: int  # duplicates removed within the batch itself
    seen_dups: int  # rows whose digest the index already held
    rows_published: int
    attempts: int


def fingerprint_expr(content_col: str, normalize: bool = True):
    """sha256 digest of the content column; ``normalize`` folds case
    and collapses runs of whitespace first (the usual exact-dedup
    normalization for web text)."""
    c = F.col(content_col)
    if normalize:
        c = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.sha2(c, 256)


def dedup_ingest(
    spark: SparkSession,
    cat: Catalog,
    batch: DataFrame,
    docs_table: str,
    index_table: str,
    key_col: str = "doc_id",
    content_col: str = "text",
    branch: str = MAIN,
    normalize: bool = True,
    max_retries: int = 3,
    index_prefix_width: int | None = None,
) -> DedupIngestResult:
    """Admit ``batch`` into ``docs_table``, exactly-once by content.

    Creates both tables lazily (the index digest-sorted, bloomed, and
    prefix-partitioned). ``index_prefix_width=None`` (default) starts
    a NEW index at width 1 and lets :func:`_maybe_evolve_index` widen
    it as the corpus grows; a pinned width applies at creation only —
    against an existing index it warns and defers to
    ``Catalog.evolve_partition_spec`` (see the module docstring).
    Returns counts; ``published=False`` only for an all-duplicate
    batch (nothing to commit is success, not failure).
    """
    fp_batch = batch.withColumn(
        "_fp", fingerprint_expr(content_col, normalize)
    )
    # keep-first within the batch: min key per digest, then semi-join
    # back — one shuffle on the digest, no per-group sort
    firsts = fp_batch.groupBy("_fp").agg(F.min(key_col).alias(key_col))
    unique_batch = fp_batch.join(
        firsts, on=["_fp", key_col], how="left_semi"
    ).cache()
    cat.create_table(docs_table, batch.schema, branch, if_not_exists=True)
    idx_schema = (
        unique_batch.select(
            F.col("_fp").alias("fingerprint"), F.col(key_col)
        ).schema
    )
    creation_width = 1 if index_prefix_width is None else index_prefix_width
    created = cat.create_table(
        index_table,
        idx_schema,
        branch,
        partition_by=[f"truncate({creation_width}, fingerprint)"],
        sort_by=["fingerprint"],
        bloom_cols=["fingerprint"],
        properties={
            _LAYOUT_PROP: "auto" if index_prefix_width is None else "pinned"
        },
        if_not_exists=True,
    )
    if not created and index_prefix_width is not None:
        existing = _index_width(cat.load_table(index_table, branch))
        if existing != index_prefix_width:
            warnings.warn(
                f"index_prefix_width={index_prefix_width} ignored: "
                f"{index_table!r} already exists at width {existing} "
                "(create-time parameter only; use "
                "Catalog.evolve_partition_spec to change a live index)",
                stacklevel=2,
            )

    # the distinct-digest count IS the keep-first survivor count (one
    # min-key row per digest — ids are unique per the pipeline
    # contract), so counting the cached unique_batch both materializes
    # the cache every later consumer reuses (probe sample, seen
    # anti-join, both appends) AND replaces the former
    # count_distinct("_fp") aggregation — whose full sha256 pass over
    # the source was the one redundant digest scan in the cycle (guide
    # §1.2). rows_in needs only a digest-free pruned source count; the
    # two jobs are independent, so they run in sibling driver threads
    # and the cheap count's wall hides inside the cache fill's (guide
    # §2.6). Attempt 1's index probe CHAINS behind the cache fill in
    # the same thread (its sample collect needs the warm cache), so
    # its metadata walk + collect also hide under the source count:
    # the head is captured here — after the create_table commits,
    # before any file metadata is read — and the publish CAS validates
    # against exactly this head, so probe-to-publish atomicity is
    # unchanged (a racing commit surfaces as the same CommitConflict).
    probe = unique_batch.select(F.col("_fp").alias("fingerprint"))
    head0 = cat._read_refs()[branch]

    def _probe_at(h: str):
        m = cat._load_table_at(index_table, h, branch)
        return m, cat._files_overlapping_keys(m, ["fingerprint"], probe)

    rows_in, (n_unique, (meta0, affected0)) = _overlap(
        batch.count, lambda: (unique_batch.count(), _probe_at(head0))
    )

    last_err: Exception | None = None
    for attempt in range(1, max_retries + 2):
        # the head the PROBE ran against is the head the publish CAS
        # validates: any commit landing after the head capture (even
        # to an unrelated table — the ref CAS is commit-global) fails
        # the publish and the loop re-probes, so the probe-to-publish
        # race window is exactly zero
        if attempt == 1:
            head, meta, affected = head0, meta0, affected0
        else:
            head = cat._read_refs()[branch]
            meta, affected = _probe_at(head)
        if affected:
            # probe has exactly n_unique rows (one per surviving digest)
            seen = (
                cat._df_applying_deletes(spark, meta, affected)
                .select("fingerprint")
                .join(_hint_small(probe.distinct(), n_unique),
                      "fingerprint", "inner")
                .select(F.col("fingerprint").alias("_fp"))
                .distinct()
            )
            fresh = unique_batch.join(seen, "_fp", "left_anti")
        else:
            fresh = unique_batch
        # attempt-local cache: `fresh` sits under the count and BOTH
        # appends — uncached, each append re-runs the seen anti-join
        # (re-reading the admitted index files). Guard: when the probe
        # hit no index files `fresh` IS the loop-invariant unique_batch
        # (cache() returns self), and the per-attempt unpersist on the
        # conflict path would evict the batch cache and recompute the
        # fingerprint/keep-first subtree on retry — mirror
        # near_dedup_ingest's `fresh is not surv` guard (ADVICE r9).
        if fresh is not unique_batch:
            fresh = fresh.cache()
        n_fresh = fresh.count()
        if n_fresh == 0:
            if fresh is not unique_batch:
                fresh.unpersist()
            unique_batch.unpersist()
            return DedupIngestResult(
                published=False,
                rows_in=rows_in,
                in_batch_dups=rows_in - n_unique,
                seen_dups=n_unique,
                rows_published=0,
                attempts=attempt,
            )
        try:
            # one atomic two-table commit (docs + fingerprints land
            # together or not at all) with CONCURRENT file writes —
            # replaces the staging branch + 2 serialized appends +
            # fast-forward (~5 ref round-trips and 2 write walls → 1
            # and 1). expected_head pins the CAS to the commit the
            # probe read: a conflict means a racing ingest published,
            # and the retry MUST re-probe the fresh index (below)
            # rather than re-attach files.
            cat.append_many(
                [
                    (
                        docs_table,
                        fresh.select(*[f.name for f in batch.schema.fields]),
                    ),
                    (
                        index_table,
                        fresh.select(
                            F.col("_fp").alias("fingerprint"), F.col(key_col)
                        ),
                    ),
                ],
                branch,
                expected_head=head,
                # known exact counts: below SMALL_WRITE_ROWS_MAX the
                # index write takes the narrow no-shuffle layout path
                rows_hint={docs_table: n_fresh, index_table: n_fresh},
            )
            if fresh is not unique_batch:
                fresh.unpersist()
            unique_batch.unpersist()
            # the pinned/auto decision lives on the TABLE (its
            # creation-time property), not on this call's parameter —
            # _maybe_evolve_index skips pinned layouts itself
            _maybe_evolve_index(spark, cat, index_table, branch)
            _maybe_compact_index(spark, cat, index_table, branch)
            return DedupIngestResult(
                published=True,
                rows_in=rows_in,
                in_batch_dups=rows_in - n_unique,
                seen_dups=n_unique - n_fresh,
                rows_published=n_fresh,
                attempts=attempt,
            )
        except CommitConflict as ex:
            # a racing ingest published first; re-probe the FRESH
            # index so a digest it admitted cannot slip in twice
            # (the losing attempt's data files are unreferenced —
            # orphan reclaim sweeps them like any lost write)
            last_err = ex
            if fresh is not unique_batch:
                fresh.unpersist()
    unique_batch.unpersist()
    raise last_err  # exhausted retries under concurrent ingests


def _collapse_identical(sigs: DataFrame) -> DataFrame:
    """Keep-first among docs with IDENTICAL shingle sets.

    ONE window, partitioned on ``xxhash64(_sh)`` — an 8-byte key, so
    the exchange partitioner and the within-partition sort compare
    longs instead of hashing/ordering whole shingle arrays (VERDICT
    r8 #3: the raw array used to be the partition key). The window
    carries the representative's set in a ``min(struct(_id, _sh))``
    aggregate, which makes the 2^-64 hash-collision guard EXACT and
    free of extra plan nodes: a row collapses only when its set
    EQUALS the min-id row's set in its hash bucket;
    colliding-but-different sets fall through to the caller's pair
    pass, whose exact Jaccard drops or keeps them correctly anyway.
    Sound because ``_sh`` is ``np.unique``-sorted (set semantics):
    equal sets are equal arrays, and struct ordering is total (ids
    unique). Deliberately NOT the window-over-projection +
    verify-join shape: that design referenced ``sigs`` from four
    sibling subtrees and its AQE broadcast builds re-executed the
    window per join — measured ~+2 s/batch at bench scale against
    this single-pass form (NOTES round-9 work log).
    """
    from pyspark.sql import Window as _W

    rep = F.min(F.struct("_id", "_sh")).over(
        _W.partitionBy(F.xxhash64("_sh"))
    )
    return (
        sigs.withColumn("_rep", rep)
        .filter(
            (F.col("_id") == F.col("_rep._id"))
            | (F.col("_sh") != F.col("_rep._sh"))
        )
        .drop("_rep")
    )


@dataclasses.dataclass
class NearDedupIngestResult:
    published: bool
    rows_in: int
    in_batch_dups: int  # near-dups of a smaller-key doc in this batch
    seen_dups: int  # near-dups of an already-admitted doc
    rows_published: int
    attempts: int


def near_dedup_ingest(
    spark: SparkSession,
    cat: Catalog,
    batch: DataFrame,
    docs_table: str,
    sig_table: str,
    band_table: str,
    key_col: str = "doc_id",
    content_col: str = "text",
    branch: str = MAIN,
    max_retries: int = 3,
    index_buckets: int | None = None,
) -> NearDedupIngestResult:
    """Incremental NEAR-duplicate dedup against persisted MinHash
    state — the fuzzy counterpart of :func:`dedup_ingest`.

    Per batch: banded MinHash signatures (``operators.dedup``, seeded
    so replays are deterministic), then two candidate passes — an
    in-batch pass (set-identical docs collapse keep-first FIRST, so a
    batch of N copies costs O(N) instead of an N^2 band self-join;
    then the band self-join drops a doc when EXACT shingle-Jaccard
    >= 0.7 against any smaller-key batch doc), and a probe of the
    persisted ``band_table`` (one band-hash row per (band, doc);
    digest-sorted + bloomed) for collisions with already-admitted
    docs, verified exactly against their stored shingle sets in
    ``sig_table`` (fetched by key through the same pruned read).
    Survivors publish docs + signatures + band rows ATOMICALLY on a
    multi-table ``append_many`` commit (one write wall, one ref
    CAS); a racing ingest forces a re-probe, so two similar
    docs racing in cannot both be admitted.

    Scale shape: the probe scans at most the partition/range/bloom-hit
    band-index files (16 longs per admitted doc — ~0.1% of the corpus
    bytes), the verification reads only the candidate docs' signature
    rows, and nothing ever rescans admitted documents' text. Both
    index tables are hash-bucketed on their probe key
    (``bucket(N, ...)``): the set lookup prunes sharply for SMALL
    batches (a 100-doc batch touches ~16x100 of the buckets' hash
    space), while a large batch (>~buckets/16 docs) necessarily
    covers every bucket — its probe then degrades to a scan OF THE
    BAND INDEX, never of the corpus, with the executor-side bloom pass
    still dropping clean files where per-file cardinality permits. The
    signature-table probe (by doc key, small candidate sets) prunes at
    every batch size.

    The bucket count is SELF-SIZING like the exact pipeline's prefix
    width (``index_buckets=None``, the default): tables create at
    ``bucket(8, ...)`` and after each publish grow per
    :data:`BUCKET_COUNT_SCHEDULE` on their own row count (the band
    table, 16 rows per doc, climbs ~16x sooner than the signature
    table), each step migrating the old era with a full rewrite. A
    pinned ``index_buckets`` applies at creation only; against
    existing tables it warns and defers to ``evolve_partition_spec``.
    """
    from no_jvm_wap_with_iceberg_spark.operators.dedup import (
        _JT_P,
        _JT_Q,
        MINHASH_K,
        MINHASH_R,
        minhash_signatures,
    )

    sigs = (
        minhash_signatures(
            batch.select(F.col(key_col), F.col(content_col)),
            key_col,
            content_col,
        )
        .filter(F.size("_sh") > 0)
        .cache()
    )
    def jaccard_ok(col_i, col_na, col_nb):
        u = col_na + col_nb - col_i
        return _JT_Q * col_i >= _JT_P * u

    # ---- in-batch: collapse set-identical docs, then band self-join --
    # Docs with IDENTICAL shingle sets (byte-identical text is the
    # common case) share all 16 band hashes, so a batch with many
    # copies of one doc would make the candidate self-join quadratic
    # in the copy count. They are Jaccard-1 near-dups by definition —
    # the pair pass below would drop every non-min copy anyway — so
    # keep-first here (one windowed min, no pairs) is outcome-identical
    # at O(batch). Shingle-less (<3-word) docs never reach this path.
    # cached: it feeds four subtrees of the pair pass (both band
    # self-join sides + both shingle lookups)
    # NOTE (measured, r11): broadcast-hinting the provably-small join
    # sides of this pass (bands right side, sh_a/sh_b, pair_dups, the
    # no-shingle anti side) does NOT reduce the entry's Spark-job
    # count — each removed shuffle exchange becomes a broadcast-build
    # job one-for-one (299 jobs either way) — and the shingle-set
    # frames measured SLOWER hinted (collect+rebroadcast of fat array
    # payloads beats AQE's local shuffle read only for narrow rows).
    # Leave strategy choice to AQE here.
    sigs_u = _collapse_identical(sigs).cache()
    bands = sigs_u.select("_id", F.explode("_bh").alias("_h"))
    cand = (
        bands.select(F.col("_id").alias("id_a"), "_h")
        .join(bands.select(F.col("_id").alias("id_b"), "_h"), "_h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sh_a = sigs_u.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    sh_b = sigs_u.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    pair_dups = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .filter(
            jaccard_ok(
                F.size(F.array_intersect("_sha", "_shb")),
                F.size("_sha"),
                F.size("_shb"),
            )
        )
        .select(F.col("id_b").alias("_id"))
        .distinct()
    )
    surv = sigs_u.join(pair_dups, "_id", "left_anti").cache()
    # sub-3-word docs have no shingles, hence no near-dup notion:
    # they pass straight through (no signature/band rows either)
    no_sh_ids = (
        batch.select(F.col(key_col))
        .join(
            sigs.select(F.col("_id").alias(key_col)), key_col, "left_anti"
        )
        .cache()
    )

    # the reported batch counts are pure arithmetic over counts the
    # cache-materializing actions below return anyway: rows_in =
    # shingled docs + shingle-less passthroughs, and the in-batch
    # survivors = band-pass survivors + passthroughs. Capturing those
    # values (instead of re-counting the warm caches after the
    # publish) costs ZERO extra jobs; the former standalone
    # ``batch.count()`` re-scanned the source and the former
    # ``n_unique`` anti-join job re-ran the whole collapse+verify
    # subtree — two of the three heavy jobs per ingest (guide §1.2:
    # don't recompute what an action already materialized)

    cat.create_table(docs_table, batch.schema, branch, if_not_exists=True)
    # both index tables hash-bucket on their probe key (Iceberg
    # bucket transform, CRC-32 both engine-sides): the probe's
    # partition-value set is bounded by the bucket count however
    # large the batch, so candidate files cut by set lookup before
    # any range/bloom work — same evolution story as the exact
    # pipeline's truncate-prefix index (module docstring)
    from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
        _BUCKETABLE,
    )

    creation_buckets = 8 if index_buckets is None else index_buckets
    layout_props = {
        _LAYOUT_PROP: "auto" if index_buckets is None else "pinned"
    }
    sig_schema = surv.select(
        F.col("_id").alias(key_col), F.col("_sh").alias("sh")
    ).schema
    key_t = sig_schema[key_col].dataType.typeName()
    bucketable = key_t in _BUCKETABLE
    sig_created = cat.create_table(
        sig_table,
        sig_schema,
        branch,
        partition_by=(
            [f"bucket({creation_buckets}, {key_col})"]
            if bucketable
            else None
        ),
        sort_by=[key_col],
        bloom_cols=[key_col],
        properties=layout_props,
        if_not_exists=True,
    )
    band_created = cat.create_table(
        band_table,
        surv.select(
            F.explode("_bh").alias("band_hash"), F.col("_id").alias(key_col)
        ).schema,
        branch,
        partition_by=[f"bucket({creation_buckets}, band_hash)"],
        sort_by=["band_hash"],
        bloom_cols=["band_hash"],
        properties=layout_props,
        if_not_exists=True,
    )
    if index_buckets is not None:
        for tbl, created, src in (
            (sig_table, sig_created, key_col if bucketable else None),
            (band_table, band_created, "band_hash"),
        ):
            if created or src is None:
                continue
            existing = _bucket_count(cat.load_table(tbl, branch), src)
            if existing != index_buckets:
                warnings.warn(
                    f"index_buckets={index_buckets} ignored: {tbl!r} "
                    f"already exists at bucket count {existing} "
                    "(create-time parameter only; use "
                    "Catalog.evolve_partition_spec to change a live "
                    "index)",
                    stacklevel=2,
                )

    # the probe key set is a property of the BATCH, not of the
    # attempt: byte-identical copies carry byte-identical band hashes,
    # so the distinct band set of `sigs` EQUALS `sigs_u`'s and is a
    # SUPERSET of the survivors' — and a superset probe is
    # conservative-correct, because exactness comes from the `cross`
    # join on the survivors' ACTUAL bands below (an extra admitted
    # index row simply finds no partner there). Deriving it from
    # `sigs` instead of `surv` (a) decouples the probe from the
    # in-batch self-join+verify pass, so the two heavy jobs run in
    # sibling driver threads and the probe's wall hides inside the
    # in-batch pass's (guide §2.6 — the threads contend only on the
    # shared minhash cache fill, which Spark's block locks serialize
    # without recomputation), and (b) makes the key set
    # loop-invariant, so a CommitConflict retry re-checks file overlap
    # against the fresh head without recomputing it. CAS pinning is
    # unchanged: `head` is still captured before any file metadata is
    # read, and the publish validates against it.
    probe = (
        sigs.select(F.explode("_bh").alias("band_hash"))
        .distinct()
        .cache()
    )
    # materialize the shared minhash pass BEFORE forking: overlapped
    # cold, both jobs' tasks pile onto the same uncomputed `sigs`
    # partitions and half the cores sit blocked on cache locks
    # (measured slower than serial); warmed, the forked jobs touch
    # disjoint subtrees and genuinely back-fill each other's tails
    n_sigs = sigs.count()
    # attempt 1's band probe rides the SAME overlap as the in-batch
    # counts (guide §2.6): the probe key set is loop-invariant (it
    # derives from the batch, not the attempt), the head is captured
    # here — after the create_table commits above, before any file
    # metadata is read — and the publish CAS still validates against
    # exactly this head, so the probe-to-publish race window is
    # unchanged (a commit landing during the in-batch pass now
    # surfaces as the same CommitConflict → re-probe, merely a little
    # earlier). The probe's sample collect materializes the `probe`
    # cache, so the count that used to be its own overlapped thunk is
    # a warm-cache read afterwards.
    head0 = cat._read_refs()[branch]

    def _band_probe_at(h: str):
        bm = cat._load_table_at(band_table, h, branch)
        return bm, cat._files_overlapping_keys(bm, ["band_hash"], probe)

    ((bmeta0, hit_files0), n_probe), n_surv, n_nosh = _overlap(
        lambda: (_band_probe_at(head0), probe.count()),
        surv.count,
        no_sh_ids.count,
    )
    rows_in, n_unique = n_sigs + n_nosh, n_surv + n_nosh

    last_err: Exception | None = None
    for attempt in range(1, max_retries + 2):
        # ---- cross-batch: probe the persisted band index ------------
        # attempt-local caches: `fresh`/`fresh_ids` sit under the
        # count AND all three appends — uncached, every append would
        # re-run the whole band-probe + jaccard-verify subtree
        # (reading both index tables again); cached, the verification
        # executes once both index metas resolve AS OF one captured
        # head, and the publish CAS validates against that same head:
        # any commit landing after the head capture fails the publish
        # and the loop re-probes — zero probe-to-publish race window
        if attempt == 1:
            head, bmeta, hit_files = head0, bmeta0, hit_files0
        else:
            head = cat._read_refs()[branch]
            bmeta, hit_files = _band_probe_at(head)
        fresh = surv
        cross = None
        if hit_files:
            # exact probe cardinality from the pre-loop count; the
            # probe's cache is warm, so the join rereads no batch data
            idx_hits = (
                cat._df_applying_deletes(spark, bmeta, hit_files)
                .join(_hint_small(probe, n_probe), "band_hash")
                .select("band_hash", F.col(key_col).alias("_idx_id"))
            )
            # attempt-local cache: this subtree READS the bloom-hit
            # band-index files, and it sits under the sig-probe's key
            # sample below AND (twice — via idx_sh's idx_ids and the
            # verify join) under the fresh count. Uncached, each
            # evaluation re-reads those index files; cached, they are
            # read once per attempt however large the corpus grows.
            cross = (
                surv.select("_id", F.explode("_bh").alias("band_hash"))
                .join(idx_hits, "band_hash")
                .select("_id", "_idx_id")
                .distinct()
                .cache()
            )
            idx_ids = cross.select(F.col("_idx_id").alias(key_col)).distinct()
            smeta = cat._load_table_at(sig_table, head, branch)
            sig_files = cat._files_overlapping_keys(smeta, [key_col], idx_ids)
            if sig_files:
                # idx_ids cardinality is unknown (collisions against
                # the whole admitted corpus) — no forced hint; AQE
                # broadcasts it when runtime stats say it is small
                idx_sh = (
                    cat._df_applying_deletes(spark, smeta, sig_files)
                    .join(idx_ids, key_col)
                    .select(
                        F.col(key_col).alias("_idx_id"),
                        F.col("sh").alias("_shi"),
                    )
                )
                seen = (
                    cross.join(
                        surv.select("_id", F.col("_sh").alias("_shb")), "_id"
                    )
                    .join(idx_sh, "_idx_id")
                    .filter(
                        jaccard_ok(
                            F.size(F.array_intersect("_shi", "_shb")),
                            F.size("_shi"),
                            F.size("_shb"),
                        )
                    )
                    .select("_id")
                    .distinct()
                )
                fresh = surv.join(seen, "_id", "left_anti")
        # when there were no band hits `fresh` IS `surv` (loop-invariant
        # cache): caching/unpersisting it per attempt would evict surv's
        # cache that the retry path and the final unpersist rely on
        # (ADVICE r8) — only attempt-local DataFrames get attempt-local
        # cache management
        if fresh is not surv:
            fresh = fresh.cache()
        fresh_ids = (
            fresh.select(F.col("_id").alias(key_col))
            .unionByName(no_sh_ids)
            .distinct()
            .cache()
        )
        n_fresh = fresh_ids.count()
        if n_fresh == 0:
            probe.unpersist(); fresh_ids.unpersist()
            if cross is not None:
                cross.unpersist()
            if fresh is not surv:
                fresh.unpersist()
            sigs.unpersist(); sigs_u.unpersist(); surv.unpersist(); no_sh_ids.unpersist()
            return NearDedupIngestResult(
                published=False,
                rows_in=rows_in,
                in_batch_dups=rows_in - n_unique,
                seen_dups=n_unique,
                rows_published=0,
                attempts=attempt,
            )
        try:
            # one atomic three-table commit (docs + signatures + band
            # rows land together or not at all) with CONCURRENT file
            # writes — replaces the staging branch + 3 serialized
            # appends + fast-forward (~6 ref round-trips and 3 write
            # walls → 1 and ~1; every input is cached above, so the
            # three writer threads share the materialized batch).
            # expected_head pins the CAS to the commit the probes
            # read: a conflict means a racing ingest published, and
            # the retry MUST re-probe the fresh indexes rather than
            # re-attach files.
            cat.append_many(
                [
                    (
                        docs_table,
                        batch.join(
                            _hint_small(fresh_ids, n_fresh),
                            key_col,
                            "left_semi",
                        ),
                    ),
                    (
                        sig_table,
                        fresh.select(
                            F.col("_id").alias(key_col),
                            F.col("_sh").alias("sh"),
                        ),
                    ),
                    (
                        band_table,
                        fresh.select(
                            F.explode("_bh").alias("band_hash"),
                            F.col("_id").alias(key_col),
                        ),
                    ),
                ],
                branch,
                expected_head=head,
                # known upper bounds (n_fresh counts fresh + shingle-
                # less passthroughs): below SMALL_WRITE_ROWS_MAX the
                # index writes take the narrow no-shuffle layout path
                rows_hint={
                    docs_table: n_fresh,
                    sig_table: n_fresh,
                    band_table: n_fresh * (MINHASH_K // MINHASH_R),
                },
            )
            probe.unpersist(); fresh_ids.unpersist()
            if cross is not None:
                cross.unpersist()
            if fresh is not surv:
                fresh.unpersist()
            sigs.unpersist(); sigs_u.unpersist(); surv.unpersist(); no_sh_ids.unpersist()
            # pinned/auto lives on each TABLE's creation property
            if bucketable:
                _maybe_evolve_bucket_index(
                    spark, cat, sig_table, key_col, branch
                )
            _maybe_evolve_bucket_index(
                spark, cat, band_table, "band_hash", branch
            )
            _maybe_compact_index(spark, cat, band_table, branch)
            _maybe_compact_index(spark, cat, sig_table, branch)
            return NearDedupIngestResult(
                published=True,
                rows_in=rows_in,
                in_batch_dups=rows_in - n_unique,
                seen_dups=n_unique - n_fresh,
                rows_published=n_fresh,
                attempts=attempt,
            )
        except CommitConflict as ex:
            last_err = ex  # racing ingest: re-probe the fresh indexes
            fresh_ids.unpersist()
            if cross is not None:
                cross.unpersist()
            if fresh is not surv:
                fresh.unpersist()
    probe.unpersist()
    sigs.unpersist(); sigs_u.unpersist(); surv.unpersist(); no_sh_ids.unpersist()
    raise last_err  # exhausted retries under concurrent ingests


@dataclasses.dataclass
class ForgetResult:
    published: bool
    ids_requested: int  # distinct keys in the forget request
    docs_removed: int  # rows actually removed from the docs table
    attempts: int
    # which delete plan ran: "generic" (every table deleted by doc
    # key) or "band_aligned" (band rows deleted by composite
    # (band_hash, key)); near_forget's auto-dispatch records its pick
    strategy: str = "generic"


def forget_documents(
    spark: SparkSession,
    cat: Catalog,
    ids: DataFrame,
    docs_table: str,
    index_tables: "list[str] | str",
    key_col: str = "doc_id",
    branch: str = MAIN,
    max_retries: int = 3,
    count_removed: bool = True,
) -> ForgetResult:
    """Remove documents AND their dedup-index state atomically — the
    right-to-be-forgotten / re-admission primitive both ingest
    pipelines need.

    Deleting corpus rows without their index rows silently poisons the
    pipeline: the persisted fingerprint (or MinHash band/signature)
    rows keep matching future batches, so re-submitted content is
    dropped as a "duplicate" of a document that no longer exists, and
    the forgotten content can never legally re-enter the corpus. This
    deletes the keys from the docs table and EVERY index table in one
    atomic publish, so readers and racing ingests never observe a
    corpus whose index disagrees with it:

    - exact pipeline: ``forget_documents(..., "docs", ["fp_index"])``
    - near pipeline:  ``forget_documents(..., "docs",
      ["sig_table", "band_table"])``

    Deletes can't ride :meth:`Catalog.append_many` (appends only), so
    this uses the documented division of labour's other half: a hidden
    staging branch takes one MoR equality-delete per table (commit
    cost O(keys + bloom-hit files), never O(table)), then ONE
    fast-forward CAS publishes all of them together; a concurrent
    commit on ``branch`` fails the CAS and the whole forget retries on
    a fresh fork (deletes are cheap to replay — no data files are
    rewritten). A racing ingest that loses ITS CAS to this publish
    re-probes the post-forget index, so the two operations serialize
    correctly in either order.

    Re-admission semantics: once published, the forgotten keys' digest
    / band / signature rows are gone, so the SAME content arriving in
    a later batch is admitted fresh (under its new key). Keys that
    were never admitted (their content lost keep-first) simply have no
    rows anywhere — forgetting them is a no-op, not an error.

    ``count_removed`` reports how many docs rows actually matched (one
    key-semi-join count over the docs table). The deletes themselves
    never need it; pass ``False`` on a corpus where even one counting
    scan is unwelcome and ``docs_removed`` comes back ``-1``.
    """
    tables = (
        [index_tables] if isinstance(index_tables, str) else list(index_tables)
    )

    def deletes(name: str, key_df: DataFrame, n_ids: int) -> None:
        for t in [docs_table, *tables]:
            cat.delete_keys(key_df, t, key=key_col, branch=name)

    return _staged_forget(
        spark, cat, ids, docs_table, key_col, branch,
        max_retries, count_removed, deletes,
    )


def _staged_forget(
    spark: SparkSession,
    cat: Catalog,
    ids: DataFrame,
    docs_table: str,
    key_col: str,
    branch: str,
    max_retries: int,
    count_removed: bool,
    deletes,
    strategy: str = "generic",
) -> ForgetResult:
    """Shared forget publish: fork a hidden branch, run
    ``deletes(branch_name, key_df, n_ids)`` for the distinct keys of
    ``ids``, fast-forward in one CAS; a concurrent commit conflicts the
    CAS and the whole forget replays on a fresh fork (deletes are cheap
    — keys only, no data files rewritten)."""
    key_df = ids.select(key_col).distinct().cache()
    n_ids = key_df.count()
    if n_ids == 0:
        key_df.unpersist()
        return ForgetResult(
            published=False, ids_requested=0, docs_removed=0, attempts=0
        )
    attempts = 0

    def attempt(name: str) -> tuple[ForgetResult, bool]:
        nonlocal attempts
        attempts += 1
        if count_removed:
            # one semi-join count on the pre-delete snapshot (the
            # deletes remove exactly the matching rows); cheaper
            # than before/after row_count scans and skippable
            removed = (
                cat.read(spark, docs_table, name)
                .join(_hint_small(key_df, n_ids), key_col, "left_semi")
                .count()
            )
        else:
            removed = -1
        deletes(name, key_df, n_ids)
        return ForgetResult(
            published=True,
            ids_requested=n_ids,
            docs_removed=removed,
            attempts=attempts,
            strategy=strategy,
        ), True

    try:
        return cat.with_branch(
            attempt, prefix="forget", from_branch=branch, max_retries=max_retries
        )
    finally:
        key_df.unpersist()


def near_forget_documents(
    spark: SparkSession,
    cat: Catalog,
    ids: DataFrame,
    docs_table: str,
    sig_table: str,
    band_table: str,
    key_col: str = "doc_id",
    branch: str = MAIN,
    max_retries: int = 3,
    count_removed: bool = True,
) -> ForgetResult:
    """:func:`forget_documents` specialized for the near pipeline's
    band index layout.

    The generic form deletes band rows by ``key_col``, but the band
    table is partitioned/sorted/bloomed on ``band_hash`` — its doc-key
    column is secondary, so that delete's target-file pruning degrades
    toward O(table) when doc keys don't cluster by ingest batch. This
    variant recovers the layout-aligned delete: read the victims'
    shingle sets from the SIGNATURE table (key-pruned — it is
    bucketed/bloomed on ``key_col``), fold them back into band hashes
    (:func:`operators.dedup.band_hashes_for_shingles` — bit-identical
    to what ingest wrote), and delete band rows by the COMPOSITE
    ``(band_hash, key)`` so the band delete prunes on the index's own
    partition values and blooms: O(victims' bands), never O(table).
    Docs and signature rows delete by key as before; everything
    publishes in the same single fast-forward CAS.

    Pick by regime (measured, SCALE.md round-10 addendum 2): on a
    SMALL band table the extra signature read + band recompute costs
    more than pruning saves (sf0.1: 5.9 s vs the generic form's
    2.1 s) — use :func:`forget_documents` there; this variant is for
    large band indexes whose doc keys don't cluster by ingest batch,
    where the generic delete's target list grows with the table.
    """
    from no_jvm_wap_with_iceberg_spark.operators.dedup import (
        band_hashes_for_shingles,
    )

    def deletes(name: str, key_df: DataFrame, n_ids: int) -> None:
        # victims' shingle sets via the key-pruned signature read
        smeta = cat.load_table(sig_table, name)
        affected = cat._files_overlapping_keys(smeta, [key_col], key_df)
        if affected:
            sig_rows = (
                cat._df_applying_deletes(spark, smeta, affected)
                .join(_hint_small(key_df, n_ids), key_col, "inner")
            )
            band_keys = band_hashes_for_shingles(sig_rows, "sh").select(
                F.explode("_bh").alias("band_hash"), F.col(key_col)
            )
            # bands first: their derivation reads the signature table,
            # and MoR metadata-deletes leave those files in place, but
            # ordering before the sig delete keeps the plan honest
            cat.delete_keys(
                band_keys,
                band_table,
                key=["band_hash", key_col],
                branch=name,
            )
            cat.delete_keys(key_df, sig_table, key=key_col, branch=name)
        cat.delete_keys(key_df, docs_table, key=key_col, branch=name)

    return _staged_forget(
        spark, cat, ids, docs_table, key_col, branch,
        max_retries, count_removed, deletes,
        strategy="band_aligned",
    )


# near_forget auto-dispatch thresholds (module-level so a test — or a
# deployment whose band files are unusually large/small — can tune
# them, same pattern as AUTO_COMPACT_FILES_PER_PARTITION):
# below MIN_FILES the band table is small enough that even a
# zero-pruning doc-keyed delete touches only a handful of files, so
# the layout-aligned variant's fixed cost (signature read + band
# recompute Spark job) can never pay for itself (measured 5.9 s vs
# 2.1 s at sf0.1, SCALE.md round-10 addendum 2). At or above it, the
# pick follows the doc-keyed probe's HIT SHARE: keys that cluster by
# ingest batch prune fine by doc key (generic); keys spread across
# the table's files mean the generic delete degrades toward O(table)
# and the composite (band_hash, key) delete is the scale path.
NEAR_FORGET_MIN_FILES = 64
NEAR_FORGET_HIT_SHARE = 0.5


def near_forget(
    spark: SparkSession,
    cat: Catalog,
    ids: DataFrame,
    docs_table: str,
    sig_table: str,
    band_table: str,
    key_col: str = "doc_id",
    branch: str = MAIN,
    max_retries: int = 3,
    count_removed: bool = True,
) -> ForgetResult:
    """The documented near-pipeline forget entry point: picks the
    delete plan from the regime instead of making the caller guess
    (VERDICT r10 #2 — calling the "better" layout-aligned variant on a
    small band index silently paid 2.8× for nothing).

    The regime signal is metadata the delete machinery reads anyway:
    the band table's live file count, and the share of those files a
    doc-keyed delete would have to target
    (:meth:`Catalog._files_overlapping_keys` — partition-value sets,
    min/max ranges, blooms; no data is read). Dispatch:

    - band table smaller than :data:`NEAR_FORGET_MIN_FILES` files →
      :func:`forget_documents` (generic, all tables deleted by doc
      key): the probe can only target a handful of files, while the
      layout-aligned variant pays a fixed signature-read + band-
      recompute Spark job regardless.
    - otherwise, doc-keyed probe targeting ≥
      :data:`NEAR_FORGET_HIT_SHARE` of the files (victims' keys do
      NOT cluster by ingest batch — every file's key range spans
      them) → :func:`near_forget_documents` (composite
      ``(band_hash, key)`` delete that prunes on the band index's own
      partitions/blooms: O(victims' bands), never O(table)).
    - large table whose probe DID prune (keys cluster): generic —
      it already targets only the victims' own files.

    Both plans produce identical post-forget state (pinned by test);
    the pick is purely a cost call and is recorded in
    ``ForgetResult.strategy`` (``"generic"`` / ``"band_aligned"``).
    Either public function stays callable directly.
    """
    bmeta = cat.load_table(band_table, branch)
    total = len(bmeta.files())
    if total >= NEAR_FORGET_MIN_FILES:
        hit = cat._files_overlapping_keys(
            bmeta, [key_col], ids.select(key_col).distinct()
        )
        # hit is None for an empty/all-null key set — the generic
        # path's n_ids==0 no-op covers that
        if hit is not None and len(hit) >= NEAR_FORGET_HIT_SHARE * total:
            return near_forget_documents(
                spark, cat, ids, docs_table, sig_table, band_table,
                key_col=key_col, branch=branch, max_retries=max_retries,
                count_removed=count_removed,
            )
    return forget_documents(
        spark, cat, ids, docs_table, [sig_table, band_table],
        key_col=key_col, branch=branch, max_retries=max_retries,
        count_removed=count_removed,
    )


def rebuild_fingerprint_index(
    spark: SparkSession,
    cat: Catalog,
    docs_table: str,
    index_table: str,
    key_col: str = "doc_id",
    content_col: str = "text",
    normalize: bool = True,
    branch: str = MAIN,
    max_retries: int = 3,
) -> int:
    """Reconstruct the exact-dedup fingerprint index FROM the corpus —
    the disaster-recovery / rule-change primitive: a lost or corrupted
    index table, a normalization change, or manual corpus surgery
    (rows added/removed outside the pipeline) all leave the index out
    of sync with the documents, and an out-of-sync index silently
    re-admits duplicates or drops fresh content forever.

    The index is pure derived state, so the rebuild is one pass:
    fingerprint every live doc row and keep ``min(key)`` per digest
    (the same keep-first invariant ingest maintains, so a corpus with
    manually-introduced duplicate contents deterministically indexes
    its smallest key). The new content lands as an atomic REPLACE on a
    hidden staging branch published by one fast-forward CAS; a missing
    index table is recreated with the standard self-sizing layout at
    the width the CURRENT corpus calls for (a rebuild after 10M digests
    starts at the wide layout instead of replaying the evolution
    schedule). Returns the number of index rows written. One shuffle
    on the digest; O(corpus) by construction — this is the op the
    incremental pipeline exists to avoid per batch, run it only when
    the index is actually wrong.
    """
    def attempt(name: str) -> tuple[int, bool]:
        # derive the index INSIDE the attempt, from the fresh fork:
        # cat.read pins the file list at call time, so an
        # attempt-invariant plan would replay a STALE corpus after a
        # CommitConflict (silently dropping a racing ingest's
        # fingerprints — ghost docs, dups re-admitted forever)
        docs = cat.read(spark, docs_table, name)
        idx = (
            docs.select(
                fingerprint_expr(content_col, normalize).alias("fingerprint"),
                F.col(key_col),
            )
            .groupBy("fingerprint")
            .agg(F.min(key_col).alias(key_col))
        )
        if cat.table_exists(index_table, name):
            cat.overwrite(idx, index_table, name)
        else:
            n_docs = cat.row_count(docs_table, name, spark=spark)
            width = _target_width(n_docs)  # digests <= docs rows
            cat.create_table(
                index_table,
                idx.schema,
                name,
                partition_by=[f"truncate({width}, fingerprint)"],
                sort_by=["fingerprint"],
                bloom_cols=["fingerprint"],
                properties={_LAYOUT_PROP: "auto"},
            )
            cat.append(idx, index_table, name)
        # count on the staging fork BEFORE publish: a concurrent
        # ingest committing between the publish and a public-branch
        # count would inflate "index rows written" (ADVICE r10);
        # metadata-only — the fork's snapshot is exactly what this
        # rebuild wrote
        return cat.row_count(index_table, name, spark=spark), True

    return cat.with_branch(
        attempt, prefix="rebuild", from_branch=branch, max_retries=max_retries
    )


def near_rebuild_index(
    spark: SparkSession,
    cat: Catalog,
    docs_table: str,
    sig_table: str,
    band_table: str,
    key_col: str = "doc_id",
    content_col: str = "text",
    branch: str = MAIN,
    max_retries: int = 3,
) -> int:
    """:func:`rebuild_fingerprint_index` for the near pipeline's
    signature + band state: recompute banded MinHash signatures from
    every live doc (same seeded kernel as ingest — bit-identical
    bands) and atomically REPLACE both index tables in one published
    fast-forward. Missing tables are recreated with the standard
    self-sizing bucket layout at the count the current corpus calls
    for. Returns the number of signature rows written. Note the near
    invariant differs from exact: admitted docs each carry their OWN
    signature/band rows (there is no keep-first here — near-dup
    admission decisions are history-dependent and NOT re-derivable
    from the surviving corpus; the rebuild restores the state needed
    to judge FUTURE batches, it does not re-litigate past ones).
    """
    from no_jvm_wap_with_iceberg_spark.catalog.transforms import _BUCKETABLE
    from no_jvm_wap_with_iceberg_spark.operators.dedup import (
        minhash_signatures,
    )

    def attempt(name: str) -> tuple[int, bool]:
        # derive the signatures INSIDE the attempt, from the fresh fork
        # (same staleness hazard as the exact rebuild: an
        # attempt-invariant snapshot-pinned plan would replay an OLD
        # corpus after a CommitConflict, dropping a racing ingest's
        # sig/band rows)
        sigs = (
            minhash_signatures(
                cat.read(spark, docs_table, name).select(
                    F.col(key_col), F.col(content_col)
                ),
                key_col,
                content_col,
            )
            .filter(F.size("_sh") > 0)
            .cache()
        )
        try:
            sig_rows = sigs.select(
                F.col("_id").alias(key_col), F.col("_sh").alias("sh")
            )
            band_rows = sigs.select(
                F.explode("_bh").alias("band_hash"),
                F.col("_id").alias(key_col),
            )
            n_sigs = sigs.count()  # one kernel pass for both writes
            buckets = _target_buckets(n_sigs)
            key_t = sig_rows.schema[key_col].dataType.typeName()
            for tbl, df, src in (
                (
                    sig_table,
                    sig_rows,
                    key_col if key_t in _BUCKETABLE else None,
                ),
                (band_table, band_rows, "band_hash"),
            ):
                if cat.table_exists(tbl, name):
                    cat.overwrite(df, tbl, name)
                else:
                    cat.create_table(
                        tbl,
                        df.schema,
                        name,
                        partition_by=(
                            [f"bucket({buckets}, {src})"]
                            if src
                            else None
                        ),
                        sort_by=[src or key_col],
                        bloom_cols=[src or key_col],
                        properties={_LAYOUT_PROP: "auto"},
                    )
                    cat.append(df, tbl, name)
            return n_sigs, True
        finally:
            sigs.unpersist()

    return cat.with_branch(
        attempt, prefix="rebuild", from_branch=branch, max_retries=max_retries
    )
