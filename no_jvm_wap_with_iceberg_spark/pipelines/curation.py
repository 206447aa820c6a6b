"""End-to-end training-data curation: WAP + dedup + quality in one flow.

The composition the engine exists for — the reference's WAP loop
(ingest → branch → audit → publish, ``src/serverless/app.py:235-317``)
wrapped around the LLM-data-pipeline operators:

1. **Stage** the raw batch on a WAP branch (zero-copy, invisible to
   consumers).
2. **Audit** the staged state: schema/null checks plus corpus-level
   quality gates — declarative ``Check``s against the committed
   branch, never the in-memory batch.
3. **Curate** on the branch: exact dedup → near-dup clustering
   (MinHash-LSH pairs → connected components → keep min-id per
   cluster) → heuristic quality filter (length / stopword bounds),
   with opt-in gates for intra-doc repetition, eval-set
   decontamination, and a deterministic final downsample.
4. **Publish** the curated table and the audit verdicts atomically
   with the raw table (single catalog fast-forward — multi-table WAP
   the per-table-branch model can't express).

Every stage is a DataFrame plan; the only Python is the MinHash
kernel's Arrow batches. At 100 TB the flow is identical — the dedup
join is the documented LSH path and publishes stay metadata-only.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession, functions as F

from no_jvm_wap_with_iceberg_spark.catalog import Catalog
from no_jvm_wap_with_iceberg_spark.operators.corpus import (
    decontaminate,
    deterministic_sample,
    repetition_profile,
)
from no_jvm_wap_with_iceberg_spark.operators.dedup import (
    connected_components,
    minhash_dedup_pairs,
    substring_span_profile,
)
from no_jvm_wap_with_iceberg_spark.operators.text import (
    quality_profile,
    quality_rules,
)
from no_jvm_wap_with_iceberg_spark.wap.checks import (
    AuditContext,
    Check,
    NotNullCheck,
)


@dataclasses.dataclass
class CurationResult:
    published: bool
    branch: str
    raw_rows: int
    curated_rows: int
    exact_dups_removed: int
    near_dups_removed: int
    low_quality_removed: int
    failed_checks: list[str]
    contaminated_removed: int = 0
    sampled_out: int = 0
    model_filtered: int = 0


def _dedup_and_filter(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int,
    max_words: int,
    apply_rules: bool,
    max_span_dup_ratio: float | None,
    eval_set: DataFrame | None,
    max_dup_gram_ratio: float | None,
    sample_rate: float | None,
    classifier_weights: list[float] | None,
    classifier_threshold: float,
) -> tuple[DataFrame, dict[str, int]]:
    """Exact dedup -> near-dup keep-one -> quality gates ->
    decontamination -> deterministic downsample; returns the curated
    frame plus removal counts (all computed as DataFrame aggregates,
    no driver-side row loops)."""
    n0 = docs.count()

    # exact: one representative per identical text (min id wins)
    keep_exact = docs.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    exact = docs.join(keep_exact.select(id_col), id_col, "left_semi")
    n1 = exact.count()

    # near-dup: pair graph -> components -> keep component root
    pairs = minhash_dedup_pairs(exact, id_col, text_col)
    comps = connected_components(pairs)
    drop = comps.filter(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias(id_col)
    )
    near = exact.join(drop, id_col, "left_anti")
    n2 = near.count()

    # quality gates: word-count bounds (always), the rule-based
    # document filter (Gopher-style, integer-exact), and optionally a
    # cross-document duplicated-span ratio cap (substring-level dedup
    # signal — boilerplate-heavy docs fail it even when no whole-doc
    # near-dup fires)
    prof = quality_profile(near, id_col, text_col).select(id_col, "n_words")
    good = (
        near.join(prof, id_col)
        .filter(F.col("n_words").between(min_words, max_words))
        .drop("n_words")
    )
    if apply_rules:
        passing = quality_rules(near, id_col, text_col).filter(
            F.col("passes") == 1
        )
        good = good.join(passing.select(id_col), id_col, "left_semi")
    if max_span_dup_ratio is not None:
        spans = substring_span_profile(near, id_col, text_col)
        ok_spans = spans.filter(
            F.coalesce(F.col("dup_ratio"), F.lit(0.0)) <= max_span_dup_ratio
        )
        good = good.join(ok_spans.select(id_col), id_col, "left_semi")
    if max_dup_gram_ratio is not None:
        # anti-join on violators (not semi-join on passers) so docs too
        # short to have grams — absent from the profile — are kept
        rep = repetition_profile(near, id_col, text_col)
        too_repetitive = rep.filter(F.col("dup_ratio") > max_dup_gram_ratio)
        good = good.join(too_repetitive.select(id_col), id_col, "left_anti")
    n3 = good.count()

    # learned quality gate: score every doc with the trained logistic
    # model (map-only; weights are plan literals) and keep those the
    # classifier accepts — the fastText-style filter stage of public
    # LLM pipelines, after the rule-based gates so the model sees
    # only structurally-valid docs
    if classifier_weights is not None:
        from no_jvm_wap_with_iceberg_spark.operators.classify import (
            logreg_score,
            text_features,
        )

        feats = text_features(good, id_col, text_col)
        keep_model = logreg_score(
            feats, classifier_weights, ["x1", "x2", "x3"]
        ).filter(F.col("prob") >= classifier_threshold)
        good = good.join(keep_model.select(id_col), id_col, "left_semi")
    n3m = good.count()

    # decontamination: drop anything sharing an n-gram with the
    # held-out eval set (broadcast semi-join; eval sets are tiny)
    if eval_set is not None:
        hits = decontaminate(good, eval_set, id_col, text_col)
        good = good.join(hits.select(id_col), id_col, "left_anti")
    n4 = good.count()

    # deterministic downsample last, so the rate applies to the
    # cleaned corpus and re-runs keep the identical sample
    if sample_rate is not None:
        good = deterministic_sample(good, id_col, sample_rate)
    n5 = good.count()
    return good, {
        "exact": n0 - n1,
        "near": n1 - n2,
        "quality": n2 - n3,
        "model": n3 - n3m,
        "contaminated": n3m - n4,
        "sampled": n4 - n5,
    }


def curate_documents(
    spark: SparkSession,
    cat: Catalog,
    docs: DataFrame,
    raw_table: str = "documents_raw",
    curated_table: str = "documents_curated",
    id_col: str = "doc_id",
    text_col: str = "text",
    checks: list[Check] | None = None,
    min_words: int = 5,
    max_words: int = 100_000,
    apply_rules: bool = False,
    max_span_dup_ratio: float | None = None,
    eval_set: DataFrame | None = None,
    max_dup_gram_ratio: float | None = None,
    sample_rate: float | None = None,
    classifier_weights: list[float] | None = None,
    classifier_threshold: float = 0.5,
) -> CurationResult:
    """Run the full curation WAP cycle; see module docstring."""
    checks = checks if checks is not None else [NotNullCheck(id_col, text_col)]

    def _run(branch: str) -> tuple[CurationResult, bool]:
        # 1. stage raw
        if not cat.table_exists(raw_table, branch):
            cat.create_table(raw_table, docs.schema, branch)
        cat.append(docs, raw_table, branch)

        # 2. audit the committed branch state
        meta = cat.load_table(raw_table, branch)
        staged = cat.read(spark, raw_table, branch)
        ctx = AuditContext(
            catalog=cat, table=raw_table, branch=branch, df=staged,
            files=meta.files(),
            files_exact=not meta.has_pending_deletes(),
        )
        results = [c.run(ctx) for c in checks]
        failed = [r.check for r in results if not r.passed]
        raw_rows = cat.row_count(raw_table, branch, spark=spark)
        if failed:
            return CurationResult(
                published=False, branch=branch, raw_rows=raw_rows,
                curated_rows=0, exact_dups_removed=0, near_dups_removed=0,
                low_quality_removed=0, failed_checks=failed,
            ), False

        # 3. curate on the branch
        curated, removed = _dedup_and_filter(
            staged,
            id_col,
            text_col,
            min_words,
            max_words,
            apply_rules,
            max_span_dup_ratio,
            eval_set,
            max_dup_gram_ratio,
            sample_rate,
            classifier_weights,
            classifier_threshold,
        )
        if cat.table_exists(curated_table, branch):
            cat.overwrite(curated, curated_table, branch)
        else:
            cat.create_table_from_df(curated, curated_table, branch)

        # 4. atomic multi-table publish (by with_branch) of exactly the
        # fork's state, so the fork's curated count is what publishes
        return CurationResult(
            published=True, branch=branch, raw_rows=raw_rows,
            curated_rows=cat.row_count(curated_table, branch, spark=spark),
            exact_dups_removed=removed["exact"],
            near_dups_removed=removed["near"],
            low_quality_removed=removed["quality"],
            failed_checks=[],
            contaminated_removed=removed["contaminated"],
            sampled_out=removed["sampled"],
            model_filtered=removed["model"],
        ), True

    return cat.with_branch(_run, prefix="curate")
