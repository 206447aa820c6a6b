"""Property-based tests (hypothesis) — SURVEY §5 step 4.

Spark jobs are slow per example, so examples are few and small; the
properties themselves are the point: injected-null accounting,
salted-join equivalence, and as-of join versus an independent
pandas reference on random inputs.
"""

import datetime

import pandas as pd
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

SLOW = dict(max_examples=5, deadline=None)


@settings(**SLOW)
@given(n=st.integers(min_value=2, max_value=50), no_null=st.booleans())
def test_datagen_null_accounting(spark_h, n, no_null):
    """generate_batch injects exactly one null per column iff requested
    (reference fixture semantics, data_loader.py:64-70)."""
    from no_jvm_wap_with_iceberg_spark.sources.datagen import generate_batch

    df = generate_batch(spark_h, n=n, no_null=no_null)
    assert df.count() == n
    nulls = df.select(
        *[
            F.sum(F.col(c).isNull().cast("int")).alias(c)
            for c in df.columns
        ]
    ).collect()[0]
    expected = 0 if no_null else 1
    assert all(v == expected for v in nulls.asDict().values())


def test_two_stage_agg_equals_plain_agg(spark_h):
    from pyspark.sql import functions as F

    from no_jvm_wap_with_iceberg_spark.operators.skew import two_stage_agg

    df = spark_h.range(1000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 3 % 101).alias("v")
    )
    got = sorted(
        map(
            tuple,
            two_stage_agg(
                df,
                ["k"],
                {
                    "total": (F.sum("v"), "sum"),
                    "n": (F.count(F.lit(1)), "sum"),
                    "lo": (F.min("v"), "min"),
                    "hi": (F.max("v"), "max"),
                },
                salt=8,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            df.groupBy("k")
            .agg(
                F.sum("v").alias("total"),
                F.count(F.lit(1)).alias("n"),
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
            )
            .collect(),
        )
    )
    assert got == want
    # the old bare-Column shape is rejected loudly, not mis-combined
    import pytest

    with pytest.raises(TypeError, match="sum"):
        two_stage_agg(df, ["k"], {"n": F.count(F.lit(1))})


@settings(**SLOW)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 3)), min_size=1, max_size=60
    ),
    salt=st.sampled_from([2, 7, 16]),
)
def test_salted_join_equals_plain_join(spark_h, rows, salt):
    from no_jvm_wap_with_iceberg_spark.operators.skew import salted_join

    left = spark_h.createDataFrame(
        [(k, v) for k, v in rows], "k long, lv long"
    )
    right = spark_h.createDataFrame(
        [(k, k * 10) for k in range(6)], "k long, rv long"
    )
    plain = sorted(map(tuple, left.join(right, ["k"]).collect()))
    salted = sorted(map(tuple, salted_join(left, right, ["k"], salt).collect()))
    assert plain == salted


@settings(**SLOW)
@given(
    lefts=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=30),
    rights=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=30),
)
def test_asof_join_matches_pandas_reference(spark_h, lefts, rights):
    from no_jvm_wap_with_iceberg_spark.operators.asof import asof_join

    # unique (key, ts) per side keeps the reference unambiguous
    lefts = list({(k, t): None for k, t in lefts}.keys())
    rights = list({(k, t): None for k, t in rights}.keys())
    left = spark_h.createDataFrame(
        [(k, datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=t), i) for i, (k, t) in enumerate(lefts)],
        "k long, ts timestamp_ntz, lid long",
    )
    right = spark_h.createDataFrame(
        [(k, datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=t), 100 + i) for i, (k, t) in enumerate(rights)],
        "k long, ts timestamp_ntz, rid long",
    )
    got = {
        (r.k, r.lid): r.r_rid
        for r in asof_join(left, right, "k", "ts", "rid").collect()
    }
    for i, (k, t) in enumerate(lefts):
        prior = [(rt, 100 + j) for j, (rk, rt) in enumerate(rights) if rk == k and rt <= t]
        expect = max(prior)[1] if prior else None
        assert got[(k, i)] == expect, (k, t, prior)


@settings(**SLOW)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12).map(" ".join),
        min_size=2,
        max_size=25,
    )
)
def test_minhash_pairs_subset_of_exact(spark_h, docs):
    """Precision is deterministic: every LSH-candidate pair is
    exact-verified, so minhash output ⊆ exact Jaccard output on ANY
    corpus (recall is probabilistic; precision never is)."""
    from no_jvm_wap_with_iceberg_spark.operators.dedup import (
        exact_jaccard_pairs,
        minhash_dedup_pairs,
    )

    df = spark_h.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    exact = {
        (r.id_a, r.id_b) for r in exact_jaccard_pairs(df, "doc_id", "text").collect()
    }
    mh = {
        (r.id_a, r.id_b) for r in minhash_dedup_pairs(df, "doc_id", "text").collect()
    }
    assert mh <= exact


def test_vector_ops_edge_cases(spark_h):
    """cosine/dot on empty, null, and zero vectors: defined, no crash."""
    from no_jvm_wap_with_iceberg_spark.functions.vector import (
        cosine_similarity,
        dot_product,
        l2_norm,
    )
    from pyspark.sql import functions as F

    df = spark_h.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),
            (2, [0.0, 0.0], [1.0, 2.0]),  # zero vector -> NaN cosine
            (3, None, [1.0]),             # null -> null out
            (4, [], []),                  # empty -> dot 0, norm 0
        ],
        "id long, a array<double>, b array<double>",
    )
    rows = {
        r.id: r
        for r in df.select(
            "id",
            dot_product(F.col("a"), F.col("b")).alias("dot"),
            l2_norm(F.col("a")).alias("norm"),
            cosine_similarity(F.col("a"), F.col("b")).alias("cos"),
        ).collect()
    }
    assert rows[1].dot == 1.0 and rows[1].cos == 1.0
    assert rows[2].dot == 0.0
    assert rows[2].cos is None  # try_divide: zero norm -> NULL, not a crash
    assert rows[3].dot is None
    assert rows[4].dot == 0.0 and rows[4].norm == 0.0


@settings(**SLOW)
@given(
    lefts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 60)), min_size=1, max_size=20),
    rights=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 60)), min_size=1, max_size=20),
    tol=st.sampled_from([None, 5, 20]),
)
def test_asof_forward_and_tolerance_vs_pandas(spark_h, lefts, rights, tol):
    from no_jvm_wap_with_iceberg_spark.operators.asof import asof_join

    lefts = list({(k, t): None for k, t in lefts}.keys())
    rights = list({(k, t): None for k, t in rights}.keys())
    left = spark_h.createDataFrame(
        [(k, datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=t), i) for i, (k, t) in enumerate(lefts)],
        "k long, ts timestamp_ntz, lid long",
    )
    right = spark_h.createDataFrame(
        [(k, datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=t), 100 + i) for i, (k, t) in enumerate(rights)],
        "k long, ts timestamp_ntz, rid long",
    )
    got = {
        (r.k, r.lid): r.r_rid
        for r in asof_join(
            left, right, "k", "ts", "rid",
            direction="forward", tolerance_seconds=tol,
        ).collect()
    }
    for i, (k, t) in enumerate(lefts):
        cand = [
            (rt, 100 + j)
            for j, (rk, rt) in enumerate(rights)
            if rk == k and rt >= t and (tol is None or rt - t <= tol)
        ]
        expect = min(cand)[1] if cand else None
        assert got[(k, i)] == expect, (k, t, cand, got[(k, i)])


@settings(**SLOW)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "del_where", "del_keys", "compact"]),
            st.integers(0, 49),
            st.integers(1, 15),
        ),
        min_size=1,
        max_size=6,
    ),
    mor=st.booleans(),
)
def test_random_delete_sequences_match_model(spark_h, tmp_path_factory, ops, mor):
    """Random append/delete/compact sequences agree with a plain dict
    model — MoR and CoW must be indistinguishable to readers."""
    from pyspark.sql import functions as F, types as T

    from no_jvm_wap_with_iceberg_spark.catalog import Catalog, Predicate

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    wh = str(tmp_path_factory.mktemp("wh"))
    cat = Catalog(wh)
    cat.create_table("t", schema)
    model: dict[tuple[int, int], int] = {}  # (id, seq) -> v
    seq = 0
    mode = "mor" if mor else "cow"
    for op, lo, width in ops:
        hi = lo + width
        if op == "append":
            df = spark_h.range(lo, hi).select(
                F.col("id"), F.lit(seq).cast("long").alias("v")
            )
            cat.append(df, "t")
            for i in range(lo, hi):
                model[(i, seq)] = seq
            seq += 1
        elif op == "del_where":
            cat.delete_where(
                spark_h,
                "t",
                Predicate.between("id", lo, hi),
                f"id BETWEEN {lo} AND {hi}",
                mode=mode,
            )
            model = {k: v for k, v in model.items() if not (lo <= k[0] <= hi)}
        elif op == "del_keys":
            cat.delete_keys(
                spark_h.range(lo, hi).select("id"), "t", key="id", mode=mode
            )
            model = {k: v for k, v in model.items() if not (lo <= k[0] < hi)}
        else:
            cat.compact(spark_h, "t")
    got = sorted(
        (r["id"], r["v"]) for r in cat.read(spark_h, "t").collect()
    )
    want = sorted((i, v) for (i, _s), v in model.items())
    assert got == want


# ----------------------------------------------------------------------
# Hidden-partition pruning soundness: pruning may keep too much,
# NEVER drop a file containing a matching row. Pure Python (the
# planning path never touches Spark), so examples are cheap.
# ----------------------------------------------------------------------
_OPS_CMP = {
    "eq": lambda v, c: v == c,
    "lt": lambda v, c: v < c,
    "le": lambda v, c: v <= c,
    "gt": lambda v, c: v > c,
    "ge": lambda v, c: v >= c,
}


@settings(max_examples=300, deadline=None)
@given(
    ts=st.datetimes(
        min_value=datetime.datetime(1990, 1, 1),
        max_value=datetime.datetime(2050, 12, 31),
    ),
    const=st.datetimes(
        min_value=datetime.datetime(1990, 1, 1),
        max_value=datetime.datetime(2050, 12, 31),
    ),
    op=st.sampled_from(list(_OPS_CMP)),
    transform=st.sampled_from(["year", "month", "day", "hour"]),
)
def test_calendar_partition_pruning_never_drops_matching_row(
    ts, const, op, transform
):
    from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
        parse_partition_spec,
        partition_may_match,
        transform_value,
    )

    fld = parse_partition_spec([f"{transform}(ts)"])[0]
    if _OPS_CMP[op](ts, const):
        # the dir value Spark's date_format writes == strftime here
        raw = transform_value(fld, ts)
        assert partition_may_match(fld, raw, op, const)


# characters Spark escapes as %XX in a hive directory value
# (ExternalCatalogUtils.escapePathName)
_HIVE_ESCAPED = {chr(c) for c in range(1, 32)} | set('"#%\'*/:=?\\\x7f{[]^')
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _hive_dir(text: str) -> str:
    """The directory value Spark writes for ``text``."""
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPED else c for c in text)


_TEXT = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
    min_size=1,
    max_size=12,
)
_DATES = st.dates(
    min_value=datetime.date(1000, 1, 1), max_value=datetime.date(9999, 12, 31)
)
_IDENTITY_CASES = st.one_of(
    st.tuples(
        st.sampled_from(["byte", "short", "integer", "long"]),
        st.none() | st.integers(min_value=-128, max_value=127),
        st.integers(min_value=-200, max_value=200),
    ),
    st.tuples(
        st.just("long"),
        st.none() | st.integers(min_value=-(10**12), max_value=10**12),
        st.integers(min_value=-(10**12), max_value=10**12)
        | st.floats(allow_nan=True, allow_infinity=True),
    ),
    # a date column compares with a date, or with a string Spark casts
    st.tuples(
        st.just("date"),
        st.none() | _DATES,
        _DATES | _DATES.map(str),
    ),
    st.tuples(st.just("string"), st.none() | _TEXT, _TEXT),
)


@settings(max_examples=500, deadline=None)
@given(case=_IDENTITY_CASES, op=st.sampled_from(["lt", "le", "gt", "ge"]))
@example(case=("integer", 10, 9), op="gt")  # "10" < "9" as strings
@example(case=("long", -10, -9), op="lt")
@example(case=("string", "10", "9"), op="lt")
@example(case=("string", "50%", "50%"), op="ge")
@example(case=("date", datetime.date(2024, 1, 10), "2024-01-09"), op="gt")
def test_identity_range_pruning_never_drops_matching_row(case, op):
    """``partition_may_match`` parses an identity directory value into
    the column's schema type; it may keep a file, never drop one
    holding a value that satisfies the predicate. NULL (Hive's default
    partition) satisfies no comparison."""
    import math

    from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
        PartitionField,
        partition_may_match,
    )

    source_type, v, const = case
    fld = PartitionField(spec="x", source="x", transform="identity", source_type=source_type)
    raw = _HIVE_NULL if v is None else _hive_dir(str(v))
    if isinstance(const, float) and math.isnan(const):
        # Spark's NaN sorts above every number: such a range keeps all
        assert partition_may_match(fld, raw, op, const)
        return
    if v is None:
        assert not partition_may_match(fld, raw, op, const)
        assert not partition_may_match(fld, None, op, const)
        return
    typed = datetime.date.fromisoformat(const) if isinstance(const, str) and source_type == "date" else const
    if _OPS_CMP[op](v, typed):
        assert partition_may_match(fld, raw, op, const)


def test_identity_range_pruning_prunes():
    """The property above is not met by keeping everything."""
    from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
        PartitionField,
        partition_may_match,
    )

    def fld(t):
        return PartitionField(spec="x", source="x", transform="identity", source_type=t)

    assert not partition_may_match(fld("integer"), "9", "gt", 9)
    assert not partition_may_match(fld("long"), "10", "lt", 9)
    assert not partition_may_match(fld("date"), "2024-01-01", "ge", "2024-01-02")
    assert not partition_may_match(fld("string"), "a%25b", "gt", "a%b")
    # no schema type, or a constant of another type: keep
    assert partition_may_match(fld(None), "10", "lt", 9)
    assert partition_may_match(fld("date"), "2024-01-01", "ge", datetime.datetime(2024, 1, 2))


def test_identity_range_read_matches_spark_filter(spark_h, tmp_path):
    """Spark-backed: ``Catalog.read(predicates=...)`` then the same
    filter equals Spark's filter over the unpruned read, for ranges on
    identity int, date and string partitions (negatives, "10" vs "9",
    escaped text, NULL)."""
    import operator

    from no_jvm_wap_with_iceberg_spark.catalog import Catalog, Predicate

    d = datetime.date
    rows = [
        (0, -10, d(2024, 1, 1), "9"),
        (1, -9, d(2024, 1, 2), "10"),
        (2, -1, d(2024, 1, 3), "a"),
        (3, 0, d(2024, 1, 9), "b c"),
        (4, 9, d(2024, 1, 10), "50%"),
        (5, 10, d(2024, 2, 1), "x:y"),
        (6, None, None, None),
    ]
    cat = Catalog(str(tmp_path))
    df = spark_h.createDataFrame(rows, "id long, i int, d date, s string")
    cat.create_table("t", df.schema, partition_by=["i", "d", "s"])
    cat.append(df, "t")
    full = cat.read(spark_h, "t")
    ops = {"lt": operator.lt, "le": operator.le, "gt": operator.gt, "ge": operator.ge}
    consts = {"i": [-9, 0, 9], "d": [d(2024, 1, 9), "2024-01-03"], "s": ["10", "9", "b"]}
    pruned_any = False
    for col, cs in consts.items():
        for c in cs:
            for op, fn in ops.items():
                cond = fn(F.col(col), F.lit(c))
                read = cat.read(spark_h, "t", predicates=[Predicate(op, col, c)])
                pruned_any |= len(read.inputFiles()) < len(rows)
                got = sorted(r["id"] for r in read.filter(cond).collect())
                want = sorted(r["id"] for r in full.filter(cond).collect())
                assert got == want, (col, op, c)
    assert pruned_any


@settings(max_examples=300, deadline=None)
@given(
    v=st.integers(min_value=-(10**9), max_value=10**9),
    const=st.integers(min_value=-(10**9), max_value=10**9),
    op=st.sampled_from(list(_OPS_CMP)),
    width=st.integers(min_value=1, max_value=1000),
)
def test_int_truncate_pruning_never_drops_matching_row(v, const, op, width):
    from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
        parse_partition_spec,
        partition_may_match,
    )

    fld = parse_partition_spec([f"truncate({width}, v)"])[0]
    if _OPS_CMP[op](v, const):
        raw = str(v - (v % width))  # what the Spark write expr emits
        assert partition_may_match(fld, raw, op, const)


@settings(max_examples=300, deadline=None)
@given(
    s=st.text(
        alphabet=st.characters(codec="utf-8", exclude_characters="/\x00"),
        max_size=20,
    ),
    const=st.text(
        alphabet=st.characters(codec="utf-8", exclude_characters="/\x00"),
        max_size=20,
    ),
    op=st.sampled_from(["eq", "in"]),
    n=st.integers(min_value=1, max_value=64),
    use_bucket=st.booleans(),
)
def test_bucket_and_str_truncate_pruning_sound(s, const, op, n, use_bucket):
    import zlib

    from no_jvm_wap_with_iceberg_spark.catalog.transforms import (
        parse_partition_spec,
        partition_may_match,
    )

    spec = f"bucket({n}, s)" if use_bucket else f"truncate({n}, s)"
    fld = parse_partition_spec([spec])[0]
    matches = s == const if op == "eq" else s in [const]
    cval = const if op == "eq" else [const]
    if matches:
        raw = (
            str(zlib.crc32(s.encode("utf-8")) % n)
            if use_bucket
            else _hive_dir(s[:n])
        )
        assert partition_may_match(fld, raw, op, cval)


@settings(**SLOW)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    upd_thresh=st.integers(min_value=0, max_value=100),
    ins_thresh=st.integers(min_value=0, max_value=100),
)
def test_merge_into_matches_duckdb_simulation(
    spark_h, tmp_path_factory, seed, upd_thresh, ins_thresh
):
    """Conditional MERGE INTO vs an independent DuckDB simulation of
    the clause semantics on random data/conditions: delete clause
    first, update only where its condition holds (others untouched),
    conditional insert."""
    import random

    import duckdb

    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    rng = random.Random(seed)
    target = [(i, rng.randint(0, 100)) for i in range(0, 40, 2)]
    src = [
        (rng.randint(0, 50), rng.randint(0, 100), rng.random() < 0.2)
        for _ in range(25)
    ]
    # merge keys must be unique in the source (MERGE precondition)
    src = list({r[0]: r for r in src}.values())

    cat = Catalog(str(tmp_path_factory.mktemp("mi_prop")))
    cat.create_table_from_df(
        spark_h.createDataFrame(target, "id long, v long"), "t"
    )
    cat.merge_into(
        spark_h.createDataFrame(src, "id long, v long, _del boolean"),
        "t",
        key="id",
        when_matched_delete="s._del",
        when_matched_update=f"s.v + t.v > {upd_thresh}",
        when_not_matched_insert=f"s.v >= {ins_thresh}",
        update_set={"v": "s.v + t.v"},
    )
    got = sorted((r.id, r.v) for r in cat.read(spark_h, "t").collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", target)
    con.execute("CREATE TABLE s(id BIGINT, v BIGINT, _del BOOLEAN)")
    con.executemany("INSERT INTO s VALUES (?, ?, ?)", src)
    want = sorted(
        con.execute(
            f"""
            SELECT t.id, t.v FROM t LEFT JOIN s USING (id)
            WHERE s.id IS NULL
               OR (NOT s._del AND NOT (s.v + t.v > {upd_thresh}))
            UNION ALL
            SELECT t.id, s.v + t.v FROM t JOIN s USING (id)
            WHERE NOT s._del AND s.v + t.v > {upd_thresh}
            UNION ALL
            SELECT s.id, s.v FROM s LEFT JOIN t USING (id)
            WHERE t.id IS NULL AND s.v >= {ins_thresh}
            """
        ).fetchall()
    )
    assert got == want


# ----------------------------------------------------------------------
# SQL-router pruning predicates are hints ONLY: a mis-parsed predicate
# may prune less, never change results (the invariant correctness
# rests on — e.g. a flipped comparison direction that wrongly pruned a
# file holding matching rows would silently skip deletes).
# ----------------------------------------------------------------------
_cmp_cond = st.builds(
    lambda col, op, v: f"{col} {op} {v}",
    st.sampled_from(["a", "b"]),
    st.sampled_from(["=", "<", "<=", ">", ">="]),
    st.integers(min_value=-5, max_value=25),
)
_rev_cond = st.builds(
    lambda col, op, v: f"{v} {op} {col}",
    st.sampled_from(["a", "b"]),
    st.sampled_from(["=", "<", "<=", ">", ">="]),
    st.integers(min_value=-5, max_value=25),
)
_misc_cond = st.sampled_from(
    [
        "a BETWEEN 3 AND 12",
        "a IN (1, 4, 9, 16)",
        "b IS NOT NULL",
        "a IS NULL",
        "a % 3 = 1",  # unparseable conjunct: must prune nothing
    ]
)
_conds = st.lists(
    st.one_of(_cmp_cond, _rev_cond, _misc_cond), min_size=1, max_size=3
).map(lambda cs: " AND ".join(cs))


@settings(max_examples=8, deadline=None)
@given(cond=_conds, rows=st.integers(min_value=5, max_value=30))
def test_sql_pruning_predicates_never_change_results(spark_h, cond, rows):
    import tempfile

    from no_jvm_wap_with_iceberg_spark.catalog import Catalog
    from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
        predicates_from_sql,
    )

    df = spark_h.range(rows).select(
        F.col("id").alias("a"),
        F.when(F.col("id") % 4 == 0, None)
        .otherwise(F.col("id") * 2)
        .alias("b"),
    )
    preds = predicates_from_sql(cond)

    with tempfile.TemporaryDirectory() as w1, tempfile.TemporaryDirectory() as w2:
        res = []
        for wh, p in ((w1, preds), (w2, [])):
            cat = Catalog(wh)
            # several small files so pruning has real candidates
            cat.create_table_from_df(df.repartition(4), "t")
            cat.delete_where(spark_h, "t", p, cond)
            res.append(
                sorted(
                    tuple(r) for r in cat.read(spark_h, "t").collect()
                )
            )
        assert res[0] == res[1], (
            f"pruning predicates changed DELETE semantics for {cond!r}: "
            f"{preds}"
        )


@settings(max_examples=8, deadline=None)
@given(
    data=st.data(),
    n_cols=st.integers(min_value=1, max_value=5),
)
def test_show_create_table_round_trip_property(spark_h, tmp_path_factory, data, n_cols):
    """SHOW CREATE TABLE output must re-execute to an IDENTICAL empty
    table for any schema the column-DDL CREATE accepts — random column
    types (incl. nested structs/arrays), nullability, and property
    values containing quotes."""
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    types = st.sampled_from(
        [
            "bigint", "int", "double", "string", "boolean", "date",
            "timestamp", "decimal(18,4)", "array<string>",
            "map<string,bigint>", "struct<aA:int,bB:string>",
        ]
    )
    cols = []
    for i in range(n_cols):
        t = data.draw(types)
        nn = data.draw(st.booleans())
        cols.append(f"c{i} {t}" + (" NOT NULL" if nn else ""))
    prop_val = data.draw(
        st.text(
            alphabet=st.sampled_from("ab'c d_e"), min_size=0, max_size=12
        )
    )
    wh = tmp_path_factory.mktemp("scrt")
    cat = Catalog(str(wh))
    cat.sql(
        spark_h,
        f"CREATE TABLE rt ({', '.join(cols)}) "
        f"TBLPROPERTIES ('k' = '{prop_val.replace(chr(39), chr(39) * 2)}')",
    )
    stmt = cat.sql(spark_h, "SHOW CREATE TABLE rt").collect()[0][
        "createtab_stmt"
    ]
    cat.sql(spark_h, stmt.replace("CREATE TABLE rt", "CREATE TABLE rt2", 1))
    a, b = cat.load_table("rt"), cat.load_table("rt2")
    assert a.schema_json == b.schema_json
    assert a.properties == b.properties
    assert b.properties["k"] == prop_val


_or_conds = st.lists(
    st.one_of(_cmp_cond, _rev_cond, _misc_cond), min_size=1, max_size=2
).map(lambda cs: " AND ".join(cs))
_dnf_conds = st.one_of(
    _conds,
    st.lists(_or_conds, min_size=2, max_size=3).map(
        lambda ds: " OR ".join(f"({d})" for d in ds)
    ),
    st.builds(
        lambda col, lo, hi: f"{col} NOT BETWEEN {lo} AND {hi}",
        st.sampled_from(["a", "b"]),
        st.integers(min_value=-5, max_value=12),
        st.integers(min_value=5, max_value=25),
    ),
)


@settings(max_examples=10, deadline=None)
@given(
    cond=_dnf_conds,
    rows=st.integers(min_value=5, max_value=30),
    mode=st.sampled_from(["cow", "mor"]),
)
def test_exact_fast_path_never_changes_delete_results(
    spark_h, cond, rows, mode
):
    """The whole-file metadata fast path
    (``delete_where(exact_condition=True)``) must be invisible in the
    result — including for DNF conditions (ORs, NOT BETWEEN): for ANY
    condition the router certifies exact, deleting with the fast path
    and DNF pruning enabled equals deleting with no predicates at all.
    A false all-match proof (truncation, nulls, partition mapping,
    3VL, a group-union bug) would silently over- or under-delete."""
    import tempfile

    from no_jvm_wap_with_iceberg_spark.catalog import Catalog
    from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
        predicate_groups_from_sql,
    )

    df = spark_h.range(rows).select(
        F.col("id").alias("a"),
        F.when(F.col("id") % 4 == 0, None)
        .otherwise(F.col("id") * 2)
        .alias("b"),
    )
    groups, exact = predicate_groups_from_sql(cond)

    with tempfile.TemporaryDirectory() as w1, tempfile.TemporaryDirectory() as w2:
        res = []
        for wh, gs, ex in ((w1, groups, exact), (w2, None, False)):
            cat = Catalog(wh)
            cat.create_table_from_df(df.repartition(4), "t")
            cat.delete_where(
                spark_h,
                "t",
                gs[0] if gs and len(gs) == 1 else [],
                cond,
                mode=mode,
                exact_condition=ex,
                predicate_groups=gs if gs and len(gs) > 1 else None,
            )
            res.append(
                sorted(
                    tuple(r) for r in cat.read(spark_h, "t").collect()
                )
            )
        assert res[0] == res[1], (
            f"exact fast path changed DELETE semantics for {cond!r} "
            f"({mode}): {groups}"
        )


@settings(**SLOW)
@given(
    docs=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=30), min_size=0, max_size=40
        ).map(lambda ws: " ".join(f"w{w}" for w in ws)),
        min_size=1,
        max_size=8,
    )
)
def test_band_hash_recompute_matches_ingest_on_random_docs(spark_h, docs):
    """Property: for ANY corpus (including sub-3-word docs with empty
    shingle sets and duplicate texts), folding the STORED shingle sets
    back into band hashes reproduces minhash_signatures' bands
    bit-exactly — the invariant the near forget's layout-aligned band
    delete rests on."""
    from no_jvm_wap_with_iceberg_spark.operators.dedup import (
        band_hashes_for_shingles,
        minhash_signatures,
    )

    df = spark_h.createDataFrame(
        list(enumerate(docs)), "doc_id INT, text STRING"
    )
    sigs = minhash_signatures(df, "doc_id", "text").collect()
    stored = spark_h.createDataFrame(
        [(r["_id"], list(r["_sh"])) for r in sigs],
        "doc_id INT, sh ARRAY<LONG>",
    )
    re_bh = {
        r["doc_id"]: list(r["_bh"])
        for r in band_hashes_for_shingles(stored, "sh").collect()
    }
    for r in sigs:
        assert re_bh[r["_id"]] == list(r["_bh"])
