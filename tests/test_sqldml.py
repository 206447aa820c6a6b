"""SQL DML routing (Catalog.sql -> merge_into/update_where/
delete_where/append). The engine primitives are covered by
test_merge.py / test_catalog.py; here the statement ROUTER: parsing,
alias canonicalization, clause semantics, and the pruning-predicate
derivation."""

import pytest
from pyspark.sql import functions as F, types as T

from no_jvm_wap_with_iceberg_spark.catalog import Catalog, Predicate
from no_jvm_wap_with_iceberg_spark.catalog.sqldml import predicates_from_sql

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("qty", T.LongType()),
    ]
)


def _seed(spark, cat, rows):
    cat.create_table("t", SCHEMA)
    cat.append(
        spark.createDataFrame(rows, SCHEMA), "t"
    )


def _state(spark, cat):
    return {
        r["id"]: (r["name"], r["qty"])
        for r in cat.read(spark, "t").collect()
    }


def test_sql_insert_values_and_select(spark, warehouse):
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])

    st = cat.sql(spark, "INSERT INTO t VALUES (2, 'b', 20), (3, 'c', 30)")
    assert st.collect()[0]["operation"] == "INSERT"
    assert _state(spark, cat) == {1: ("a", 10), 2: ("b", 20), 3: ("c", 30)}

    # column list: unmentioned columns become NULL
    cat.sql(spark, "INSERT INTO t (id, qty) VALUES (4, 40)")
    assert _state(spark, cat)[4] == (None, 40)

    # INSERT ... SELECT over the snapshot-pinned catalog views
    cat.sql(
        spark,
        "INSERT INTO t SELECT id + 100, name, qty * 2 FROM t WHERE id <= 2",
    )
    got = _state(spark, cat)
    assert got[101] == ("a", 20) and got[102] == ("b", 40)


def test_sql_update_and_delete(spark, warehouse):
    cat = Catalog(warehouse)
    _seed(spark, cat, [(i, "x", i * 10) for i in range(1, 6)])

    cat.sql(spark, "UPDATE t SET name = 'hot', qty = qty + 1 WHERE id >= 4")
    got = _state(spark, cat)
    assert got[4] == ("hot", 41) and got[5] == ("hot", 51)
    assert got[1] == ("x", 10)

    st = cat.sql(spark, "DELETE FROM t WHERE qty < 25")
    assert st.collect()[0]["operation"] == "DELETE"
    assert sorted(_state(spark, cat)) == [3, 4, 5]

    # WHERE-less UPDATE touches every row
    cat.sql(spark, "UPDATE t SET qty = 0")
    assert {q for _n, q in _state(spark, cat).values()} == {0}


def test_sql_merge_full_clause_surface(spark, warehouse):
    """MERGE with aliased relations, conditional update/delete/insert
    — must match the merge_into API semantics exactly."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "old", 10), (2, "old", 20), (3, "old", 30)])
    spark.createDataFrame(
        [(1, "upd", 99), (2, "kill", 0), (3, "skip", -1), (4, "new", 40),
         (5, "veto", 50)],
        SCHEMA,
    ).createOrReplaceTempView("src")

    st = cat.sql(
        spark,
        """
        MERGE INTO t AS tgt USING src AS s2 ON tgt.id = s2.id
        WHEN MATCHED AND s2.name = 'kill' THEN DELETE
        WHEN MATCHED AND s2.qty > 0 THEN UPDATE SET name = s2.name,
             qty = tgt.qty + s2.qty
        WHEN NOT MATCHED AND s2.name != 'veto' THEN INSERT *
        """,
    )
    assert st.collect()[0]["operation"] == "MERGE"
    got = _state(spark, cat)
    assert got == {
        1: ("upd", 109),  # updated: target qty + source qty
        3: ("old", 30),   # matched, neither clause held: untouched
        4: ("new", 40),   # inserted
    }


def test_sql_merge_insert_columns_and_update_star(spark, warehouse):
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "old", 10)])
    spark.createDataFrame(
        [(1, "fresh", 11), (9, "ins", 90)], SCHEMA
    ).createOrReplaceTempView("src")

    cat.sql(
        spark,
        """
        MERGE INTO t USING src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, upper(s.name))
        """,
    )
    got = _state(spark, cat)
    assert got[1] == ("fresh", 11)  # UPDATE SET * = all source columns
    assert got[9] == ("INS", None)  # unmentioned qty -> NULL


def test_sql_merge_first_match_wins_update_before_delete(spark, warehouse):
    """SQL evaluates WHEN MATCHED clauses in order; with UPDATE listed
    first, a row satisfying both must be UPDATED (merge_into natively
    evaluates DELETE first — the router compensates)."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "both", 10), (2, "delonly", 20)])
    spark.createDataFrame(
        [(1, "both", 1), (2, "delonly", 0)], SCHEMA
    ).createOrReplaceTempView("src")

    cat.sql(
        spark,
        """
        MERGE INTO t USING src s ON t.id = s.id
        WHEN MATCHED AND s.qty > 0 THEN UPDATE SET qty = 111
        WHEN MATCHED THEN DELETE
        """,
    )
    got = _state(spark, cat)
    assert got == {1: ("both", 111)}  # 1 updated (first match), 2 deleted


def test_sql_merge_subquery_source_and_composite_key(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(
        spark.createDataFrame([(1, "a", 10), (1, "b", 20)], SCHEMA), "t"
    )
    spark.createDataFrame(
        [(1, "a", 100, "u"), (2, "c", 5, "i")],
        "id long, name string, qty long, op string",
    ).createOrReplaceTempView("raw")

    cat.sql(
        spark,
        """
        MERGE INTO t USING (SELECT id, name, qty FROM raw) s
        ON t.id = s.id AND t.name = s.name
        WHEN MATCHED THEN UPDATE SET qty = s.qty
        WHEN NOT MATCHED THEN INSERT *
        """,
    )
    rows = {
        (r["id"], r["name"]): r["qty"] for r in cat.read(spark, "t").collect()
    }
    assert rows == {(1, "a"): 100, (1, "b"): 20, (2, "c"): 5}


def test_sql_merge_rejects_unsupported_shapes(spark, warehouse):
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    spark.createDataFrame([(1, "a", 1)], SCHEMA).createOrReplaceTempView("src")

    with pytest.raises(ValueError, match="equality"):
        cat.sql(
            spark,
            "MERGE INTO t USING src s ON t.id > s.id "
            "WHEN MATCHED THEN DELETE",
        )
    with pytest.raises(ValueError, match="same-named"):
        cat.sql(
            spark,
            "MERGE INTO t USING src s ON t.id = s.qty "
            "WHEN MATCHED THEN DELETE",
        )
    with pytest.raises(ValueError, match="duplicate merge key"):
        spark.createDataFrame(
            [(1, "a", 1), (1, "b", 2)], SCHEMA
        ).createOrReplaceTempView("dup")
        cat.sql(
            spark,
            "MERGE INTO t USING dup s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET *",
        )
    with pytest.raises(ValueError, match="UPDATE shape"):
        cat.sql(spark, "UPDATE t FROM x SET")


def test_sql_read_path_unchanged(spark, warehouse):
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10), (2, "b", 20)])
    got = cat.sql(
        spark, "SELECT COUNT(*) AS n, SUM(qty) AS s FROM t"
    ).collect()[0]
    assert (got["n"], got["s"]) == (2, 30)


def test_predicates_from_sql_shapes(spark):
    assert predicates_from_sql("id >= 4") == [Predicate("ge", "id", 4)]
    assert predicates_from_sql("4 <= id") == [Predicate("ge", "id", 4)]
    assert predicates_from_sql("`qty` < 2.5 AND name = 'x''y'") == [
        Predicate("lt", "qty", 2.5),
        Predicate("eq", "name", "x'y"),
    ]
    assert predicates_from_sql("id BETWEEN 3 AND 7") == [
        Predicate("ge", "id", 3),
        Predicate("le", "id", 7),
    ]
    assert predicates_from_sql("id IN (1, 2, 3)") == [
        Predicate("in", "id", [1, 2, 3])
    ]
    assert predicates_from_sql("name IS NULL AND qty IS NOT NULL") == [
        Predicate("is_null", "name"),
        Predicate("not_null", "qty"),
    ]
    assert predicates_from_sql("ts >= TIMESTAMP '2024-01-01 00:00:00'") == [
        Predicate("ge", "ts", "2024-01-01T00:00:00")  # isoformat-normalized
    ]
    # a top-level OR invalidates conjunct pruning entirely
    assert predicates_from_sql("id = 1 OR id = 2") == []
    # unparseable conjuncts prune nothing but don't poison the rest
    assert predicates_from_sql("lower(name) = 'a' AND id = 3") == [
        Predicate("eq", "id", 3)
    ]
    assert predicates_from_sql(None) == []


def test_sql_ctas_and_insert_overwrite(spark, warehouse):
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10), (2, "b", 20)])

    st = cat.sql(
        spark,
        "CREATE TABLE big AS SELECT id, name, qty * 10 AS qty "
        "FROM t WHERE qty >= 20",
    )
    assert st.collect()[0]["operation"] == "CREATE"
    got = {
        r["id"]: r["qty"] for r in cat.read(spark, "big").collect()
    }
    assert got == {2: 200}

    # IF NOT EXISTS on an existing table: no-op; without it: error
    cat.sql(spark, "CREATE TABLE IF NOT EXISTS big AS SELECT * FROM t")
    assert {r["id"] for r in cat.read(spark, "big").collect()} == {2}
    with pytest.raises(ValueError, match="already exists"):
        cat.sql(spark, "CREATE TABLE big AS SELECT * FROM t")

    # INSERT OVERWRITE replaces contents (new snapshot, history kept)
    st2 = cat.sql(spark, "INSERT OVERWRITE big SELECT * FROM t")
    assert st2.collect()[0]["operation"] == "INSERT OVERWRITE"
    assert {r["id"] for r in cat.read(spark, "big").collect()} == {1, 2}

    # CREATE TEMP VIEW is NOT routed as DML — plain spark.sql
    cat.sql(spark, "CREATE OR REPLACE TEMP VIEW tv AS SELECT 1 AS one")
    assert spark.sql("SELECT * FROM tv").collect()[0]["one"] == 1


def test_sql_merge_update_set_keeps_unmentioned_target_columns(spark, warehouse):
    """Code-review r5 #1: an explicit UPDATE SET column list must
    leave unmentioned TARGET columns untouched (merge_into's
    primitive default is the source's column — right for SET *,
    silent clobber otherwise), and must work even when the source
    lacks the unmentioned columns entirely."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "keep", 10)])
    spark.createDataFrame(
        [(1, 99)], "id long, qty long"  # no name column at all
    ).createOrReplaceTempView("src")
    cat.sql(
        spark,
        "MERGE INTO t USING src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET qty = s.qty",
    )
    assert _state(spark, cat) == {1: ("keep", 99)}

    with pytest.raises(ValueError, match="not columns of"):
        cat.sql(
            spark,
            "MERGE INTO t USING src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET quantity = s.qty",  # typo
        )
    with pytest.raises(ValueError, match="not columns of"):
        cat.sql(
            spark,
            "MERGE INTO t USING src s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (id, quantity) VALUES (s.id, 1)",
        )


def test_sql_string_literals_survive_rewrites(spark, warehouse):
    """Code-review r5 #3/#4: alias qualifiers and BETWEEN text inside
    string LITERALS must never be rewritten."""
    from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
        predicates_from_sql,
    )

    # BETWEEN inside a literal: the conjunct parses as a plain string
    # equality, value intact
    assert predicates_from_sql("name = 'a BETWEEN 1 AND 3'") == [
        Predicate("eq", "name", "a BETWEEN 1 AND 3")
    ]

    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "x", 10)])
    spark.createDataFrame([(1, 0)], "id long, qty long").createOrReplaceTempView(
        "src"
    )
    cat.sql(
        spark,
        "MERGE INTO t AS tgt USING src s2 ON tgt.id = s2.id "
        "WHEN MATCHED THEN UPDATE SET name = 'tgt.label'",
    )
    assert _state(spark, cat)[1] == ("tgt.label", 10)


def test_sql_timestamp_literal_pruning_is_safe(spark, warehouse):
    """Code-review r5 #2: stats store timestamps via isoformat ('T'
    separator); a space-separated SQL literal compared as a raw
    string would wrongly prune the file and silently skip the
    delete."""
    import datetime

    from pyspark.sql import types as T

    from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
        predicates_from_sql,
    )

    # the parsed predicate value is normalized to the isoformat form
    assert predicates_from_sql("ts = TIMESTAMP '2024-01-01 00:00:00'") == [
        Predicate("eq", "ts", "2024-01-01T00:00:00")
    ]
    assert predicates_from_sql("d >= DATE '2024-02-03'") == [
        Predicate("ge", "d", "2024-02-03")
    ]

    cat = Catalog(warehouse)
    cat.create_table(
        "e",
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
            ]
        ),
    )
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    cat.append(
        spark.createDataFrame(
            [(i, base + datetime.timedelta(hours=i)) for i in range(4)],
            "id long, ts timestamp",
        ),
        "e",
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cat.sql(spark, "DELETE FROM e WHERE ts = TIMESTAMP '2024-01-01 02:00:00'")
    assert sorted(
        r["id"] for r in cat.read(spark, "e").collect()
    ) == [0, 1, 3], "the matching row must actually be deleted"


def test_sql_update_delete_with_table_qualified_columns(spark, warehouse):
    """Code-review r5 #7: DELETE FROM t WHERE t.id = 3 is the shape
    every SQL user writes; the qualifier must be stripped before the
    unaliased scan evaluates it."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(i, "x", i * 10) for i in range(1, 5)])
    cat.sql(spark, "DELETE FROM t WHERE t.id = 3")
    assert sorted(_state(spark, cat)) == [1, 2, 4]
    cat.sql(spark, "UPDATE t SET t.qty = t.qty + 1 WHERE t.id >= 2")
    got = _state(spark, cat)
    assert got[2] == ("x", 21) and got[4] == ("x", 41) and got[1] == ("x", 10)


def test_sql_time_travel(spark, warehouse):
    """VERSION AS OF / TIMESTAMP AS OF rewrite to snapshot-pinned
    views — the Spark+Iceberg SQL surface, at any subquery depth."""
    import time

    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    v1 = cat.load_table("t").current_snapshot_id
    t_between = time.time()
    time.sleep(0.05)
    cat.sql(spark, "INSERT INTO t VALUES (2, 'b', 20)")

    got = cat.sql(
        spark, f"SELECT COUNT(*) AS n FROM t VERSION AS OF {v1}"
    ).collect()[0]["n"]
    assert got == 1
    assert cat.sql(spark, "SELECT COUNT(*) AS n FROM t").collect()[0]["n"] == 2

    # joins: current state against a historical snapshot
    delta = cat.sql(
        spark,
        f"""
        SELECT cur.id FROM t cur
        LEFT ANTI JOIN (SELECT id FROM t VERSION AS OF {v1}) old
          ON cur.id = old.id
        """,
    ).collect()
    assert [r["id"] for r in delta] == [2]

    # TIMESTAMP AS OF: a UTC timestamp between the two commits
    import datetime

    ts = datetime.datetime.fromtimestamp(
        t_between, tz=datetime.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S.%f")
    got_ts = cat.sql(
        spark, f"SELECT COUNT(*) AS n FROM t TIMESTAMP AS OF '{ts}'"
    ).collect()[0]["n"]
    assert got_ts == 1

    # a literal containing the keywords is untouched
    lit = cat.sql(
        spark, "SELECT 't VERSION AS OF 1' AS s FROM t LIMIT 1"
    ).collect()[0]["s"]
    assert lit == "t VERSION AS OF 1"

    with pytest.raises(KeyError, match="unknown table"):
        cat.sql(spark, "SELECT * FROM ghost VERSION AS OF 1")


def test_sql_schema_ddl(spark, warehouse):
    """ALTER TABLE ADD/DROP/RENAME COLUMN and DROP TABLE through the
    front door — metadata-only commits routed to the catalog's
    evolution primitives."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])

    st = cat.sql(spark, "ALTER TABLE t ADD COLUMN score DOUBLE")
    assert st.collect()[0]["operation"] == "ALTER ADD COLUMN"
    row = cat.read(spark, "t").collect()[0]
    assert row["score"] is None  # old files null-fill

    cat.sql(spark, "ALTER TABLE t RENAME COLUMN score TO rating")
    assert "rating" in cat.read(spark, "t").columns

    cat.sql(spark, "ALTER TABLE t DROP COLUMN rating")
    assert "rating" not in cat.read(spark, "t").columns

    # SET TBLPROPERTIES is now routed (see test_sql_set_unset_
    # tblproperties); a genuinely unsupported shape still refuses
    cat.sql(spark, "ALTER TABLE t SET TBLPROPERTIES ('a'='b')")
    assert cat.load_table("t").properties["a"] == "b"
    with pytest.raises(ValueError, match="unsupported ALTER"):
        cat.sql(spark, "ALTER TABLE t CLUSTERED BY (id)")

    cat.sql(spark, "CREATE TABLE scratch AS SELECT * FROM t")
    assert cat.table_exists("scratch")
    st2 = cat.sql(spark, "DROP TABLE scratch")
    assert st2.collect()[0]["operation"] == "DROP TABLE"
    assert not cat.table_exists("scratch")
    # a name the WAP catalog doesn't know passes through to spark.sql
    # (pre-router behavior: Spark-managed tables still drop; Spark
    # itself honors IF EXISTS / raises on unknown names; the catalog
    # drop above already unregistered its pinned temp view)
    cat.sql(spark, "DROP TABLE IF EXISTS scratch")  # spark no-op, no raise
    with pytest.raises(Exception, match="(?i)table.*not.*found|cannot be found"):
        cat.sql(spark, "DROP TABLE scratch")

    # DROP VIEW / ALTER VIEW fall through to plain spark.sql
    spark.sql("CREATE OR REPLACE TEMP VIEW v_tmp AS SELECT 1 AS one")
    cat.sql(spark, "DROP VIEW v_tmp")
    assert "v_tmp" not in [v.name for v in spark.catalog.listTables()]


def test_sql_backslash_escaped_literals_are_safe(spark, warehouse):
    """Second-review r5 #1: Spark literals support backslash escapes;
    the tokenizers must not pair an opening quote with an escaped
    one, and predicates from backslash-bearing literals must be
    skipped (not mis-derived)."""
    from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
        predicates_from_sql,
    )

    # the escaped quote does not end the literal: the id conjunct is
    # still parsed, the string conjunct is skipped (prunes nothing)
    got = predicates_from_sql(r"msg = 'x\' AND y' AND id = 99")
    assert got == [Predicate("eq", "id", 99)]
    # \n etc.: Spark decodes them; deriving from raw text would
    # compare the wrong value — skip
    assert predicates_from_sql(r"msg = 'a\nb'") == []

    # end to end: the DELETE must actually delete the matching row
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "x' AND id = 99", 10), (2, "other", 20)])
    cat.sql(spark, r"DELETE FROM t WHERE name = 'x\' AND id = 99'")
    assert sorted(_state(spark, cat)) == [2]

    # rewrites skip escaped-quote literals too
    _seed2 = spark.createDataFrame([(2, 0)], "id long, qty long")
    _seed2.createOrReplaceTempView("src")
    cat.sql(
        spark,
        r"MERGE INTO t AS tgt USING src s2 ON tgt.id = s2.id "
        r"WHEN MATCHED THEN UPDATE SET name = 'it\'s tgt.x'",
    )
    assert _state(spark, cat)[2] == ("it's tgt.x", 20)


def test_sql_duplicate_names_rejected(spark, warehouse):
    """Second-review r5 #5: duplicate INSERT/SET column names raise
    instead of silently keeping the last binding."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    with pytest.raises(ValueError, match="more than once"):
        cat.sql(spark, "INSERT INTO t (id, id) VALUES (1, 2)")
    with pytest.raises(ValueError, match="more than once"):
        cat.sql(spark, "UPDATE t SET qty = 1, qty = 2")
    spark.createDataFrame([(1, "s", 5)], SCHEMA).createOrReplaceTempView("src")
    with pytest.raises(ValueError, match="more than once"):
        cat.sql(
            spark,
            "MERGE INTO t USING src s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (id, id) VALUES (s.id, 9)",
        )


def test_sql_alter_rejects_unsupported_column_forms(spark, warehouse):
    """Second-review r5 #4: plural/IF-EXISTS ALTER forms fail at the
    router with the supported grammar, not deep in the type parser."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    for stmt in (
        "ALTER TABLE t ADD COLUMNS (a INT, b STRING)",
        "ALTER TABLE t ADD COLUMN IF NOT EXISTS score DOUBLE",
        "ALTER TABLE t DROP COLUMN IF EXISTS qty",
    ):
        with pytest.raises(ValueError, match="unsupported ALTER"):
            cat.sql(spark, stmt)


def test_sql_merge_source_aliased_t_does_not_corrupt_target_refs(spark, warehouse):
    """Third-review r5 #1: with the SOURCE aliased 't' (or swapped
    aliases), sequential rewriting re-captures the canonical 't.'
    the first pass produced, silently turning target references into
    source references. The placeholder two-phase must keep them
    apart."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "tgt", 10)])
    spark.createDataFrame(
        [(1, "src", 5)], SCHEMA
    ).createOrReplaceTempView("src")
    # source alias is literally 't'; target alias 'a'
    cat.sql(
        spark,
        "MERGE INTO t AS a USING src AS t ON a.id = t.id "
        "WHEN MATCHED THEN UPDATE SET qty = a.qty + t.qty, name = a.name",
    )
    # a.qty (target 10) + t.qty (source 5) = 15; name stays target's
    assert _state(spark, cat) == {1: ("tgt", 15)}

    with pytest.raises(ValueError, match="share the alias"):
        cat.sql(
            spark,
            "MERGE INTO t AS x USING src AS x ON x.id = x.id "
            "WHEN MATCHED THEN DELETE",
        )


def test_sql_not_between_and_string_between_pruning(spark, warehouse):
    """Third-review r5 #2/#4: NOT BETWEEN must not derive the
    non-negated range's predicates (wrong pruning, silently skipped
    deletes); string/temporal BETWEEN must actually derive
    predicates (the per-segment rewrite could never see them)."""
    from no_jvm_wap_with_iceberg_spark.catalog.sqldml import (
        predicates_from_sql,
    )

    assert predicates_from_sql("NOT id BETWEEN 1 AND 5") == []
    assert predicates_from_sql("name BETWEEN 'a' AND 'c'") == [
        Predicate("ge", "name", "a"),
        Predicate("le", "name", "c"),
    ]
    assert predicates_from_sql(
        "d BETWEEN DATE '2024-01-01' AND DATE '2024-02-01'"
    ) == [
        Predicate("ge", "d", "2024-01-01"),
        Predicate("le", "d", "2024-02-01"),
    ]

    # end to end: NOT BETWEEN deletes exactly the outside rows
    cat = Catalog(warehouse)
    _seed(spark, cat, [(i, "x", i) for i in range(1, 9)])
    cat.sql(spark, "DELETE FROM t WHERE NOT id BETWEEN 3 AND 6")
    assert sorted(_state(spark, cat)) == [3, 4, 5, 6]


def test_sql_drop_table_is_idempotent_with_if_exists(spark, warehouse):
    """Third-review r5 #3: DROP TABLE unregisters the pinned temp
    view, so a follow-up DROP TABLE IF EXISTS is a clean no-op
    instead of resolving the stale view and raising."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    cat.sql(spark, "CREATE TABLE junk AS SELECT * FROM t")
    cat.sql(spark, "DROP TABLE junk")
    cat.sql(spark, "DROP TABLE IF EXISTS junk")  # idempotent, no raise
    assert not cat.table_exists("junk")


def test_sql_layout_ddl(spark, warehouse):
    """WRITE ORDERED BY / partition-field evolution through SQL —
    Iceberg's layout DDL over the engine's whole-spec primitives."""
    from pyspark.sql import types as T

    cat = Catalog(warehouse)
    cat.create_table(
        "ev",
        T.StructType(
            [
                T.StructField("user", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
    )
    st = cat.sql(spark, "ALTER TABLE ev WRITE ORDERED BY user, v")
    assert st.collect()[0]["operation"] == "ALTER WRITE ORDERED BY"
    assert cat.load_table("ev").sort_by == ["user", "v"]
    cat.sql(spark, "ALTER TABLE ev WRITE UNORDERED")
    assert cat.load_table("ev").sort_by == []

    cat.sql(spark, "ALTER TABLE ev ADD PARTITION FIELD day(ts)")
    assert cat.load_table("ev").partition_by == ["day(ts)"]
    cat.sql(spark, "ALTER TABLE ev ADD PARTITION FIELD bucket(4, user)")
    assert cat.load_table("ev").partition_by == ["day(ts)", "bucket(4, user)"]
    cat.sql(spark, "ALTER TABLE ev DROP PARTITION FIELD day(ts)")
    assert cat.load_table("ev").partition_by == ["bucket(4, user)"]
    with pytest.raises(ValueError, match="not in spec"):
        cat.sql(spark, "ALTER TABLE ev DROP PARTITION FIELD day(ts)")


def test_sql_script_sequential_session(spark, warehouse):
    """Multi-statement scripts: top-level ';' splits (literals with
    semicolons don't), each statement sees its predecessors'
    effects, last statement's result returned."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    out = cat.sql_script(
        spark,
        """
        INSERT INTO t VALUES (2, 'x;y', 20);
        UPDATE t SET qty = qty * 2 WHERE name = 'x;y';
        DELETE FROM t WHERE id = 1;
        SELECT id, name, qty FROM t ORDER BY id
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(2, "x;y", 40)]
    with pytest.raises(ValueError, match="empty SQL script"):
        cat.sql_script(spark, "  ;;  ")


def test_sql_dml_on_branch(spark, warehouse):
    """DML routes to the named branch, leaving main untouched — the
    WAP shape in SQL."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    cat.create_branch("audit", "main")
    cat.sql(spark, "INSERT INTO t VALUES (2, 'b', 20)", branch="audit")
    cat.sql(spark, "UPDATE t SET qty = 99 WHERE id = 1", branch="audit")
    assert _state(spark, cat) == {1: ("a", 10)}
    got = {
        r["id"]: (r["name"], r["qty"])
        for r in cat.read(spark, "t", "audit").collect()
    }
    assert got == {1: ("a", 99), 2: ("b", 20)}


def test_sql_alter_rename_table(spark, warehouse):
    """ALTER TABLE t RENAME TO u routes to Catalog.rename_table; the
    new name is immediately queryable, the old one is gone (including
    the view pinned by the routing call itself)."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10), (2, "b", 20)])

    st = cat.sql(spark, "ALTER TABLE t RENAME TO u").collect()[0]
    assert st["operation"] == "ALTER RENAME TO" and st["table"] == "u"
    assert cat.list_tables() == ["u"]
    got = cat.sql(spark, "SELECT sum(qty) AS s FROM u").collect()[0]["s"]
    assert got == 30
    with pytest.raises(Exception):  # old name unresolvable
        cat.sql(spark, "SELECT * FROM t").collect()
    # freed name is reusable, and the stale pinned view doesn't shadow it
    cat.create_table("t", SCHEMA)
    assert cat.sql(spark, "SELECT count(*) AS c FROM t").collect()[0]["c"] == 0


def test_sql_call_procedures(spark, warehouse):
    """CALL routes the Iceberg maintenance-procedure surface to the
    catalog primitives, with positional and `name => value` args, an
    optional [catalog.]system. namespace, and procedure result rows."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10), (2, "b", 20)])
    for i in range(3, 6):
        cat.sql(spark, f"INSERT INTO t VALUES ({i}, 'x', {i * 10})")
    snap_before = cat.load_table("t").current_snapshot_id

    # rewrite_data_files (compact): 4 appends collapse to 1 file
    row = cat.sql(
        spark, "CALL system.rewrite_data_files(table => 't')"
    ).collect()[0]
    assert row["rewritten_data_files_count"] >= 4
    assert row["added_data_files_count"] == 1

    # rollback_to_snapshot undoes the compaction commit
    row = cat.sql(
        spark,
        f"CALL system.rollback_to_snapshot('t', {snap_before})",
    ).collect()[0]
    assert row["current_snapshot_id"] == snap_before
    assert {r["id"] for r in cat.sql(spark, "SELECT id FROM t").collect()} == {
        1, 2, 3, 4, 5,
    }
    cat.sql(spark, "CALL system.rewrite_data_files(table => 't')")

    # expire_snapshots with Iceberg's retain_last arg name
    row = cat.sql(
        spark, "CALL system.expire_snapshots(table => 't', retain_last => 1)"
    ).collect()[0]
    assert row["snapshots_after"] == 1 < row["snapshots_before"]

    # remove_orphan_files: dry run lists the dead pre-compaction files,
    # real run (zero grace: no concurrent writers here) reclaims them
    dry = cat.sql(
        spark,
        "CALL system.remove_orphan_files(table => 't', dry_run => true, "
        "older_than_ms => 0)",
    ).collect()
    assert len(dry) >= 4
    assert all(r["orphan_file_location"].startswith("tables/t/") for r in dry)
    cat.sql(
        spark,
        "CALL system.remove_orphan_files(table => 't', dry_run => false, "
        "older_than_ms => 0)",
    )
    assert (
        cat.sql(
            spark,
            "CALL system.remove_orphan_files('t', false, 0)",
        ).count()
        == 0
    )
    assert cat.sql(spark, "SELECT count(*) AS c FROM t").collect()[0]["c"] == 5

    # branch verbs + catalog-level fast_forward, full namespace form
    cat.sql(spark, "CALL wap.system.create_branch('audit')")
    cat.sql(spark, "INSERT INTO t VALUES (9, 'z', 90)", branch="audit")
    cat.sql(spark, "CALL system.fast_forward(source => 'audit')")
    assert cat.sql(spark, "SELECT count(*) AS c FROM t").collect()[0]["c"] == 6
    cat.sql(spark, "CALL system.drop_branch('audit')")
    assert not cat.branch_exists("audit")
    cat.sql(spark, "CALL system.create_tag('v1')")
    with pytest.raises(ValueError):
        cat.sql(spark, "INSERT INTO t VALUES (10, 'w', 1)", branch="v1")
    cat.sql(spark, "CALL system.drop_tag('v1')")

    # maintain returns its report as key/value rows
    rep = {
        r["key"]: r["value"]
        for r in cat.sql(
            spark, "CALL system.maintain(table => 't')"
        ).collect()
    }
    assert "files_before" in rep

    # arg errors surface clearly
    with pytest.raises(ValueError, match="unknown procedure"):
        cat.sql(spark, "CALL system.nuke_everything('t')")
    with pytest.raises(ValueError, match="missing argument"):
        cat.sql(spark, "CALL system.expire_snapshots()")
    with pytest.raises(ValueError, match="unknown argument"):
        cat.sql(spark, "CALL system.expire_snapshots('t', bogus => 1)")
    with pytest.raises(ValueError, match="positional CALL argument"):
        cat.sql(spark, "CALL system.expire_snapshots(table => 't', 2)")


def test_sql_metadata_tables(spark, warehouse):
    """Iceberg-style metadata tables: `t$snapshots` / `t$files` /
    `t$history` resolve through the SQL front door (metadata-only;
    string literals containing the token are untouched)."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10), (2, "b", 20)])
    cat.sql(spark, "INSERT INTO t VALUES (3, 'c', 30)")

    snaps = cat.sql(
        spark,
        "SELECT operation, added_rows FROM `t$snapshots` ORDER BY snapshot_id",
    ).collect()
    assert [r["operation"] for r in snaps] == ["append", "append"]
    assert [r["added_rows"] for r in snaps] == [2, 1]

    files = cat.sql(
        spark, "SELECT count(*) AS n, sum(rows) AS r FROM `t$files`"
    ).collect()[0]
    assert files["r"] == 3 and files["n"] >= 2

    hist = cat.sql(
        spark, "SELECT message FROM `t$history` ORDER BY timestamp_ms"
    ).collect()
    assert any("APPEND" in r["message"] for r in hist)  # the routed INSERT

    # joins with data views work (file-level provenance rollup)
    j = cat.sql(
        spark,
        "SELECT s.operation, count(*) AS n FROM t "
        "CROSS JOIN (SELECT operation FROM `t$snapshots` "
        "WHERE snapshot_id = 1) s GROUP BY s.operation",
    ).collect()[0]
    assert (j["operation"], j["n"]) == ("append", 3)

    # inside a string literal the token is data, not a table
    lit = cat.sql(
        spark, "SELECT '`t$snapshots`' AS s FROM t LIMIT 1"
    ).collect()[0]["s"]
    assert lit == "`t$snapshots`"

    # unknown table name -> Spark's own unresolved error
    with pytest.raises(Exception, match="nope|TABLE_OR_VIEW_NOT_FOUND"):
        cat.sql(spark, "SELECT * FROM `nope$files`").collect()


def test_sql_create_table_column_ddl(spark, warehouse):
    """CREATE TABLE with a column list parses through Spark's own DDL
    grammar; PARTITIONED BY takes hidden-partitioning transforms;
    TBLPROPERTIES land as table properties."""
    cat = Catalog(warehouse)
    st = cat.sql(
        spark,
        "CREATE TABLE ev (id BIGINT NOT NULL, name STRING, ts TIMESTAMP, "
        "tags ARRAY<STRING>) USING parquet PARTITIONED BY (day(ts)) "
        "TBLPROPERTIES ('bloom_cols' = 'id', 'owner' = 'etl')",
    ).collect()[0]
    assert st["operation"] == "CREATE"
    meta = cat.load_table("ev")
    assert [f.name for f in meta.spark_schema.fields] == [
        "id", "name", "ts", "tags",
    ]
    assert meta.partition_by == ["day(ts)"]
    assert meta.properties["owner"] == "etl"
    assert meta.properties["bloom_cols"] == "id"

    # IF NOT EXISTS is idempotent; a bare duplicate raises
    cat.sql(spark, "CREATE TABLE IF NOT EXISTS ev (id BIGINT)")
    assert len(cat.load_table("ev").spark_schema.fields) == 4
    with pytest.raises(ValueError, match="already exists"):
        cat.sql(spark, "CREATE TABLE ev (id BIGINT)")

    # write/read through the new table (partition transform applies)
    cat.sql(
        spark,
        "INSERT INTO ev SELECT 1, 'a', TIMESTAMP '2024-05-01 10:00:00', "
        "array('x')",
    )
    got = cat.sql(spark, "SELECT id, name, tags[0] AS t0 FROM ev").collect()[0]
    assert (got["id"], got["name"], got["t0"]) == (1, "a", "x")

    # bad column list and unknown trailing clauses refuse clearly
    with pytest.raises(ValueError, match="column list"):
        cat.sql(spark, "CREATE TABLE bad (id NOTATYPE)")
    with pytest.raises(ValueError, match="unsupported CREATE TABLE clause"):
        cat.sql(spark, "CREATE TABLE bad (id BIGINT) CLUSTERED BY (id)")


def test_sql_set_unset_tblproperties(spark, warehouse):
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    cat.sql(
        spark,
        "ALTER TABLE t SET TBLPROPERTIES ('owner' = 'etl', "
        "'retention.days' = '7')",
    )
    props = cat.load_table("t").properties
    assert props["owner"] == "etl" and props["retention.days"] == "7"
    cat.sql(spark, "ALTER TABLE t UNSET TBLPROPERTIES ('owner')")
    props = cat.load_table("t").properties
    assert "owner" not in props and props["retention.days"] == "7"
    with pytest.raises(ValueError, match="pairs"):
        cat.sql(spark, "ALTER TABLE t SET TBLPROPERTIES ('k1')")


def test_sql_truncate_table(spark, warehouse):
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10), (2, "b", 20)])
    before = cat.load_table("t").current_snapshot_id
    st = cat.sql(spark, "TRUNCATE TABLE t").collect()[0]
    assert st["operation"] == "TRUNCATE TABLE"
    assert cat.row_count("t") == 0
    assert cat.sql(spark, "SELECT count(*) AS c FROM t").collect()[0]["c"] == 0
    # history intact: time travel to the pre-truncate snapshot
    assert cat.read(spark, "t", snapshot_id=before).count() == 2
    # refills normally
    cat.sql(spark, "INSERT INTO t VALUES (9, 'z', 90)")
    assert cat.row_count("t") == 1
    # TRUNCATE of a non-catalog table falls through to spark.sql and
    # raises its own error (no silent no-op)
    with pytest.raises(Exception):
        cat.sql(spark, "TRUNCATE TABLE not_a_table").collect()


def test_sql_transaction_atomic_commit(spark, warehouse):
    """sql_transaction: every statement lands in ONE ref CAS (all
    tables together) and later statements see earlier ones' writes."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])

    out = cat.sql_transaction(
        spark,
        """
        CREATE TABLE audit (id BIGINT, note STRING);
        INSERT INTO t VALUES (2, 'b', 20);
        INSERT INTO audit SELECT id, name FROM t;
        SELECT count(*) AS n FROM audit
        """,
    )
    assert out.collect()[0]["n"] == 2  # saw the in-transaction INSERT
    assert sorted(_state(spark, cat)) == [1, 2]
    assert cat.read(spark, "audit").count() == 2
    # no staging branch left behind
    assert cat.list_branches() == ["main"]


def test_sql_transaction_rolls_back_on_failure(spark, warehouse):
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    with pytest.raises(Exception, match="nonexistent"):
        cat.sql_transaction(
            spark,
            """
            INSERT INTO t VALUES (2, 'b', 20);
            INSERT INTO t SELECT * FROM nonexistent_table
            """,
        )
    # the successful first statement did NOT publish
    assert sorted(_state(spark, cat)) == [1]
    assert cat.list_branches() == ["main"]


def test_sql_transaction_concurrent_writer_wins(spark, warehouse, monkeypatch):
    """A commit landing on the target mid-transaction makes the
    publish CAS fail; the target keeps the concurrent write, the
    transaction's writes vanish with the staging branch. The DELETE
    keeps the script on the staging-branch path (a pure-INSERT script
    takes the append_many fast path — covered separately)."""
    from no_jvm_wap_with_iceberg_spark.catalog import CommitConflict

    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])

    orig = Catalog.sql_script

    def racing(self, spark_, script, branch="main"):
        res = orig(self, spark_, script, branch=branch)
        # a concurrent writer lands on main before the publish CAS
        cat.append(
            spark_.createDataFrame([(99, "race", 0)], SCHEMA), "t", "main"
        )
        return res

    monkeypatch.setattr(Catalog, "sql_script", racing)
    with pytest.raises(CommitConflict):
        cat.sql_transaction(
            spark,
            """
            DELETE FROM t WHERE id = -1;
            INSERT INTO t VALUES (2, 'b', 20)
            """,
        )
    monkeypatch.undo()
    assert sorted(_state(spark, cat)) == [1, 99]  # racer kept, tx gone
    assert cat.list_branches() == ["main"]


def test_sql_transaction_pure_append_fast_path(spark, warehouse, monkeypatch):
    """A script that is nothing but INSERT INTO appends skips the
    staging branch entirely: ONE commit for all statements, NO branch
    ref is ever created (create_branch is trapped), and the status row
    matches the one-shot INSERT contract."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    cat.create_table_from_df(
        spark.createDataFrame([(1, "x", 5)], SCHEMA), "t2"
    )

    def no_branch(self, *a, **k):  # the fast path must never fork
        raise AssertionError("staging branch created on the fast path")

    monkeypatch.setattr(Catalog, "create_branch", no_branch)
    log_before = len(cat.log())
    out = cat.sql_transaction(
        spark,
        """
        INSERT INTO t VALUES (2, 'b', 20);
        INSERT INTO t VALUES (3, 'c', 30);
        INSERT INTO t2 VALUES (9, 'z', 90)
        """,
    ).collect()[0]
    monkeypatch.undo()
    assert len(cat.log()) == log_before + 1  # ONE commit for 3 INSERTs
    assert out["operation"] == "INSERT" and out["table"] == "t2"
    assert out["snapshot_id"] == cat.load_table("t2").current_snapshot_id
    assert sorted(_state(spark, cat)) == [1, 2, 3]
    assert cat.row_count("t2") == 2
    assert cat.list_branches() == ["main"]


def test_sql_transaction_fast_path_falls_back_when_source_reads_target(
    spark, warehouse, monkeypatch
):
    """INSERT INTO b SELECT ... FROM a where a is ALSO a transaction
    target: the statement must see the transaction's own prior write,
    which only the sequential staging branch provides — assert the
    fall-back actually forks a branch AND the semantics are right."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    cat.create_table_from_df(
        spark.createDataFrame([(0, "seed", 0)], SCHEMA), "t_copy"
    )
    forks = []
    orig = Catalog.create_branch

    def spy(self, name, src="main"):
        forks.append(name)
        return orig(self, name, src)

    monkeypatch.setattr(Catalog, "create_branch", spy)
    cat.sql_transaction(
        spark,
        """
        INSERT INTO t VALUES (2, 'b', 20);
        INSERT INTO t_copy SELECT * FROM t
        """,
    )
    monkeypatch.undo()
    assert forks, "expected the staging-branch path"
    # the SELECT saw the in-transaction INSERT of (2,...)
    assert cat.row_count("t_copy") == 3  # seed + rows 1 and 2
    assert sorted(_state(spark, cat)) == [1, 2]
    assert cat.list_branches() == ["main"]


def test_sql_transaction_fast_path_conflict_contract(spark, warehouse, monkeypatch):
    """A commit landing between the fast path's snapshot pin and its
    publish raises CommitConflict with the target untouched by the
    transaction — the same optimistic contract as the branch path."""
    from no_jvm_wap_with_iceberg_spark.catalog import CommitConflict

    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    orig = Catalog.create_views

    def race_then_views(self, spark_, branch="main", **kw):
        res = orig(self, spark_, branch, **kw)
        if not getattr(self, "_raced_once", False):
            self._raced_once = True
            cat.append(
                spark_.createDataFrame([(99, "race", 0)], SCHEMA),
                "t",
                "main",
            )
        return res

    monkeypatch.setattr(Catalog, "create_views", race_then_views)
    with pytest.raises(CommitConflict):
        cat.sql_transaction(spark, "INSERT INTO t VALUES (2, 'b', 20)")
    monkeypatch.undo()
    assert sorted(_state(spark, cat)) == [1, 99]  # racer kept, tx gone


def test_sql_metadata_partitions_and_refs(spark, warehouse):
    """`t$partitions` aggregates live files per partition tuple;
    `t$refs` lists every branch/tag with the table's head there."""
    cat = Catalog(warehouse)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("b", T.StringType())]
    )
    cat.create_table("p", schema, partition_by=["b"])
    df = spark.range(10).select(
        "id", F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("b")
    )
    cat.append(df, "p")
    parts = {
        r["partition"]: (r["file_count"], r["row_count"])
        for r in cat.sql(
            spark,
            "SELECT partition, file_count, row_count FROM `p$partitions`",
        ).collect()
    }
    assert parts['{"b": "even"}'][1] == 5 and parts['{"b": "odd"}'][1] == 5

    cat.create_branch("aud")
    cat.create_tag("v1")
    refs = {
        r["ref"]: (r["type"], r["has_table"], r["snapshot_id"])
        for r in cat.sql(spark, "SELECT * FROM `p$refs`").collect()
    }
    assert refs["main"] == ("branch", True, 1)
    assert refs["aud"] == ("branch", True, 1)
    assert refs["v1"] == ("tag", True, 1)


def test_sql_show_create_table_round_trips(spark, warehouse):
    """SHOW CREATE TABLE output re-executes to an identical empty
    table (schema, partition spec, user properties); engine
    bookkeeping properties are omitted."""
    cat = Catalog(warehouse)
    cat.sql(
        spark,
        "CREATE TABLE src (id BIGINT NOT NULL, name STRING, ts TIMESTAMP) "
        "PARTITIONED BY (day(ts)) TBLPROPERTIES ('owner' = 'etl')",
    )
    # engine bookkeeping appears after a rename; must NOT be rendered
    cat.sql(spark, "ALTER TABLE src ADD COLUMN tmp INT")
    cat.sql(spark, "ALTER TABLE src DROP COLUMN tmp")

    stmt = cat.sql(spark, "SHOW CREATE TABLE src").collect()[0][
        "createtab_stmt"
    ]
    assert "dropped_columns" not in stmt and "'owner' = 'etl'" in stmt
    assert "id bigint NOT NULL" in stmt and "PARTITIONED BY (day(ts))" in stmt

    recreated = stmt.replace("CREATE TABLE src", "CREATE TABLE dst", 1)
    cat.sql(spark, recreated)
    a, b = cat.load_table("src"), cat.load_table("dst")
    assert a.schema_json == b.schema_json
    assert a.partition_by == b.partition_by
    assert b.properties.get("owner") == "etl"

    # other SHOW forms still pass through to spark.sql
    assert cat.sql(spark, "SHOW TABLES").count() >= 1
    # unknown names fall through to spark.sql (ADVICE r5: the
    # pre-router contract), so the error is Spark's own
    # TABLE_OR_VIEW_NOT_FOUND rather than a KeyError from load_table
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException, match="nope"):
        cat.sql(spark, "SHOW CREATE TABLE nope")


def test_sql_show_create_table_nested_types_and_quotes(spark, warehouse):
    """Nested struct field names keep their case; property values with
    quotes render as round-trippable doubled-quote escapes."""
    cat = Catalog(warehouse)
    cat.sql(
        spark,
        "CREATE TABLE nt (id BIGINT, st STRUCT<xLow: INT, Yup: STRING>) "
        "TBLPROPERTIES ('note' = 'it''s quoted')",
    )
    stmt = cat.sql(spark, "SHOW CREATE TABLE nt").collect()[0][
        "createtab_stmt"
    ]
    assert "xLow" in stmt and "Yup" in stmt  # case preserved
    assert "'it''s quoted'" in stmt
    recreated = stmt.replace("CREATE TABLE nt", "CREATE TABLE nt2", 1)
    cat.sql(spark, recreated)
    assert (
        cat.load_table("nt").schema_json == cat.load_table("nt2").schema_json
    )
    assert cat.load_table("nt2").properties["note"] == "it's quoted"


def test_call_rewrite_data_files_zorder(spark, warehouse):
    from pyspark.sql import functions as F, types as T

    from no_jvm_wap_with_iceberg_spark.catalog import Catalog, Predicate
    from no_jvm_wap_with_iceberg_spark.catalog.pruning import prune_files

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
        ]
    )
    cat = Catalog(warehouse)
    cat.create_table("grid", schema)
    side = 64
    cat.append(
        spark.range(side * side).select(
            F.col("id"),
            (F.col("id") % side).alias("x"),
            (F.col("id") / side).cast("long").alias("y"),
        ),
        "grid",
    )
    out = cat.sql(
        spark,
        "CALL system.rewrite_data_files(table => 'grid', "
        "strategy => 'zorder', sort_order => 'zorder(x, y)', "
        "min_files => 16)",
    ).collect()[0]
    assert out["added_data_files_count"] >= 8
    files = cat.load_table("grid").files()
    # the z-layout prunes on EITHER clustered column
    for col in ("x", "y"):
        kept = prune_files(files, [Predicate.eq(col, 3)])
        assert len(kept) < len(files), col
    assert cat.read(spark, "grid").count() == side * side


def test_call_rewrite_iceberg_sort_zorder_spelling(spark, warehouse):
    """Iceberg's canonical z-order: strategy => 'sort' with
    sort_order => 'zorder(a,b)' must z-order (the sort_order wins the
    dispatch), never commit a plain pass then choke on the argument."""
    from pyspark.sql import functions as F, types as T

    from no_jvm_wap_with_iceberg_spark.catalog import Catalog, Predicate
    from no_jvm_wap_with_iceberg_spark.catalog.pruning import prune_files

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
        ]
    )
    cat = Catalog(warehouse)
    cat.create_table("grid", schema)
    side = 64
    cat.append(
        spark.range(side * side).select(
            F.col("id"),
            (F.col("id") % side).alias("x"),
            (F.col("id") / side).cast("long").alias("y"),
        ),
        "grid",
    )
    cat.sql(
        spark,
        "CALL system.rewrite_data_files(table => 'grid', "
        "strategy => 'sort', sort_order => 'zorder(x, y)', "
        "min_files => 16)",
    )
    files = cat.load_table("grid").files()
    for col in ("x", "y"):
        assert len(prune_files(files, [Predicate.eq(col, 3)])) < len(files)
    # malformed sort_order raises a pointed error, not AttributeError
    with pytest.raises(ValueError, match="sort_order"):
        cat.sql(
            spark,
            "CALL system.rewrite_data_files(table => 'grid', "
            "strategy => 'zorder', sort_order => 'zorder()')",
        )
    with pytest.raises(ValueError, match="sort_order"):
        cat.sql(
            spark,
            "CALL system.rewrite_data_files(table => 'grid', "
            "strategy => 'zorder')",
        )


def test_view_statements_with_qualified_names_pass_through(spark, warehouse):
    """CREATE/DROP VIEW on a QUALIFIED name (global_temp.v, db.v) is
    Spark's business, exactly as before the router grew catalog views."""
    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    cat = Catalog(warehouse)
    cat.sql(
        spark,
        "CREATE OR REPLACE VIEW default.wap_qv AS SELECT 7 AS seven",
    )
    try:
        assert (
            spark.sql("SELECT seven FROM default.wap_qv").collect()[0][0] == 7
        )
        assert cat.list_views() == []  # not a catalog view
    finally:
        cat.sql(spark, "DROP VIEW default.wap_qv")
    assert "wap_qv" not in [t.name for t in spark.catalog.listTables()]


def test_soak_main_guard_is_last_statement():
    """tools/soak.py must define every soak BEFORE the __main__ guard
    runs main() (a def appended after the guard crashes script mode
    with NameError mid-run)."""
    import ast
    import pathlib

    tree = ast.parse(
        pathlib.Path("tools/soak.py").read_text(encoding="utf-8")
    )
    guard_idx = [
        i
        for i, n in enumerate(tree.body)
        if isinstance(n, ast.If)
        and getattr(getattr(n.test, "left", None), "id", "") == "__name__"
    ]
    assert guard_idx and guard_idx[-1] == len(tree.body) - 1


def test_show_tblproperties_and_describe_history(spark, warehouse):
    """SHOW TBLPROPERTIES serves from table metadata (Spark's own
    refuses temp views); DESCRIBE HISTORY is the Delta spelling of the
    t$history metadata listing — both metadata-only."""
    from pyspark.sql import functions as F, types as T

    from no_jvm_wap_with_iceberg_spark.catalog import Catalog

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    cat = Catalog(warehouse)
    cat.create_table("t", schema, properties={"owner": "pipeline-a"})
    cat.append(spark.range(5).select(F.col("id"), F.col("id").alias("v")), "t")
    cat.append(spark.range(5, 9).select(F.col("id"), F.col("id").alias("v")), "t")
    props = {
        r["key"]: r["value"]
        for r in cat.sql(spark, "SHOW TBLPROPERTIES t").collect()
    }
    assert props["owner"] == "pipeline-a"
    hist = cat.sql(spark, "DESCRIBE HISTORY t").collect()
    # full commit history: root + create + the two appends
    assert sum("APPEND" in r["message"] for r in hist) == 2
    assert cat.sql(spark, "DESC HISTORY t").count() == len(hist)
    # plain DESCRIBE still passes through to Spark (temp-view native)
    cols = {r["col_name"] for r in cat.sql(spark, "DESCRIBE t").collect()}
    assert {"id", "v"} <= cols


def test_sql_version_as_of_ref_name(spark, warehouse):
    """VERSION AS OF '<branch-or-tag>' (Iceberg's ref-name spelling,
    round-6): one statement can join main against an open branch —
    the reference's forensic-read shape (quality_app.py:64-76)."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10), (2, "b", 20)])
    cat.create_tag("before_etl")
    cat.create_branch("etl_audit")
    cat.sql(spark, "INSERT INTO t VALUES (3, 'c', 30)", branch="etl_audit")

    # branch read: sees the staged row; main does not
    got = cat.sql(
        spark, "SELECT COUNT(*) AS n FROM t VERSION AS OF 'etl_audit'"
    ).collect()[0]["n"]
    assert got == 3
    assert cat.sql(spark, "SELECT COUNT(*) AS n FROM t").collect()[0]["n"] == 2

    # one statement joining main against the open branch
    staged = cat.sql(
        spark,
        """
        SELECT b.id FROM (SELECT id FROM t VERSION AS OF 'etl_audit') b
        LEFT ANTI JOIN t m ON b.id = m.id
        """,
    ).collect()
    assert [r["id"] for r in staged] == [3]

    # tag read pins the tagged state even after main advances
    cat.sql(spark, "INSERT INTO t VALUES (4, 'd', 40)")
    got_tag = cat.sql(
        spark, "SELECT COUNT(*) AS n FROM t VERSION AS OF 'before_etl'"
    ).collect()[0]["n"]
    assert got_tag == 2

    # unknown ref raises, naming the ref
    with pytest.raises(KeyError, match="no branch or tag"):
        cat.sql(spark, "SELECT * FROM t VERSION AS OF 'ghost_ref'")

    # a quoted literal containing the phrase stays untouched
    lit = cat.sql(
        spark, "SELECT 't VERSION AS OF ''x''' AS s FROM t LIMIT 1"
    ).collect()[0]["s"]
    assert lit == "t VERSION AS OF 'x'"


def test_sql_only_wap_lifecycle(spark, warehouse):
    """create branch -> INSERT on it -> audit across the boundary ->
    fast_forward -> drop, every step a SQL statement."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    cat.sql(spark, "CALL create_branch('wap')")
    cat.sql(spark, "INSERT INTO t VALUES (2, 'b', 20)", branch="wap")
    d = cat.sql(
        spark,
        "SELECT b.n - m.n AS d FROM "
        "(SELECT COUNT(*) AS n FROM t VERSION AS OF 'wap') b CROSS JOIN "
        "(SELECT COUNT(*) AS n FROM t) m",
    ).collect()[0]["d"]
    assert d == 1
    cat.sql(spark, "CALL fast_forward('wap', 'main')")
    cat.sql(spark, "CALL drop_branch('wap')")
    assert _state(spark, cat) == {1: ("a", 10), 2: ("b", 20)}
    assert "wap" not in cat.list_branches()


def test_create_or_replace_table(spark, warehouse):
    """CREATE OR REPLACE TABLE: schema, layout, and contents replace
    in ONE ref CAS (no empty/missing window); history starts over
    (documented divergence — one schema per table version here)."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    old_sid = cat.load_table("t").current_snapshot_id

    # CTAS replace: different column set entirely
    spark.createDataFrame(
        [(5, 2.5), (6, 3.5)], "k long, score double"
    ).createOrReplaceTempView("corr_src")
    st = cat.sql(
        spark, "CREATE OR REPLACE TABLE t AS SELECT * FROM corr_src"
    )
    assert st.collect()[0]["operation"] == "REPLACE"
    meta = cat.load_table("t")
    assert [f.name for f in meta.spark_schema.fields] == ["k", "score"]
    got = {(r["k"], r["score"]) for r in cat.read(spark, "t").collect()}
    assert got == {(5, 2.5), (6, 3.5)}
    # fresh history: the old snapshot id is gone from this table's log
    assert all(
        s.snapshot_id != old_sid or s is meta.snapshots[0]
        for s in meta.snapshots
    )
    assert len(meta.snapshots) == 1

    # column-DDL replace with a partition spec
    cat.sql(
        spark,
        "CREATE OR REPLACE TABLE t (id BIGINT, part STRING) "
        "PARTITIONED BY (part)",
    )
    meta = cat.load_table("t")
    assert meta.partition_by == ["part"]
    assert cat.read(spark, "t").count() == 0

    # replace on a MISSING table is a plain create
    cat.sql(spark, "CREATE OR REPLACE TABLE fresh AS SELECT 1 AS x")
    assert cat.read(spark, "fresh").count() == 1

    # exclusive with IF NOT EXISTS
    with pytest.raises(ValueError, match="exclusive"):
        cat.sql(
            spark,
            "CREATE OR REPLACE TABLE IF NOT EXISTS t AS SELECT 1 AS x",
        )


def test_sql_script_begin_commit_block(spark, warehouse):
    """Standard transaction spelling inside a script: the BEGIN..COMMIT
    block lands atomically (one ref commit for the whole block — here
    via the pure-append fast path), statements outside it commit as
    they run."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    log_before = len(cat.log())
    out = cat.sql_script(
        spark,
        """
        INSERT INTO t VALUES (2, 'b', 20);
        BEGIN;
        INSERT INTO t VALUES (3, 'c', 30);
        INSERT INTO t VALUES (4, 'd', 40);
        COMMIT;
        SELECT count(*) AS n FROM t
        """,
    )
    assert out.collect()[0]["n"] == 4
    # first INSERT = 1 commit, the block = 1 commit
    assert len(cat.log()) == log_before + 2
    assert sorted(_state(spark, cat)) == [1, 2, 3, 4]
    assert cat.list_branches() == ["main"]


def test_sql_script_begin_rollback_discards(spark, warehouse):
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    out = cat.sql_script(
        spark,
        """
        BEGIN TRANSACTION;
        INSERT INTO t VALUES (2, 'b', 20);
        ROLLBACK;
        SELECT count(*) AS n FROM t
        """,
    )
    assert out.collect()[0]["n"] == 1  # block discarded, never ran
    assert sorted(_state(spark, cat)) == [1]


def test_sql_script_begin_block_is_atomic_on_failure(spark, warehouse):
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    with pytest.raises(Exception, match="nonexistent"):
        cat.sql_script(
            spark,
            """
            BEGIN;
            INSERT INTO t VALUES (2, 'b', 20);
            INSERT INTO t SELECT * FROM nonexistent_table;
            COMMIT
            """,
        )
    assert sorted(_state(spark, cat)) == [1]  # nothing from the block
    assert cat.list_branches() == ["main"]


def test_sql_script_unbalanced_transaction_verbs(spark, warehouse):
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    with pytest.raises(ValueError, match="BEGIN without"):
        cat.sql_script(spark, "BEGIN; INSERT INTO t VALUES (2,'b',20)")
    with pytest.raises(ValueError, match="COMMIT without"):
        cat.sql_script(spark, "INSERT INTO t VALUES (2,'b',20); COMMIT")
    with pytest.raises(ValueError, match="nested BEGIN"):
        cat.sql_script(
            spark,
            "BEGIN; INSERT INTO t VALUES (2,'b',20); BEGIN; COMMIT; COMMIT",
        )
    # validation happens BEFORE execution: neither partial effect nor
    # stray branch even though an INSERT preceded the stray verb
    assert sorted(_state(spark, cat)) == [1]
    assert cat.list_branches() == ["main"]


def test_sql_transaction_fast_path_catches_backticked_target(
    spark, warehouse, monkeypatch
):
    """A backtick-quoted reference to a transaction target in a
    statement's source must still defeat the fast path — quoted or
    not, the statement needs to see the in-transaction write."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    cat.create_table_from_df(
        spark.createDataFrame([(0, "seed", 0)], SCHEMA), "t_copy"
    )
    forks = []
    orig = Catalog.create_branch

    def spy(self, name, src="main"):
        forks.append(name)
        return orig(self, name, src)

    monkeypatch.setattr(Catalog, "create_branch", spy)
    cat.sql_transaction(
        spark,
        """
        INSERT INTO t VALUES (2, 'b', 20);
        INSERT INTO t_copy SELECT * FROM `t`
        """,
    )
    monkeypatch.undo()
    assert forks, "backticked target reference must use the branch path"
    assert cat.row_count("t_copy") == 3  # saw the in-transaction row


def test_sql_transaction_fast_path_view_reads_target_falls_back(
    spark, warehouse, monkeypatch
):
    """A stored view over a transaction target is a TRANSITIVE read:
    INSERT INTO u SELECT * FROM v (v = SELECT ... FROM t) must see the
    in-transaction INSERT into t, so the script takes the staging
    branch even though no source mentions t by name."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    cat.create_table_from_df(
        spark.createDataFrame([(0, "seed", 0)], SCHEMA), "u"
    )
    cat.sql(spark, "CREATE VIEW v AS SELECT * FROM t")
    forks = []
    orig = Catalog.create_branch

    def spy(self, name, src="main"):
        forks.append(name)
        return orig(self, name, src)

    monkeypatch.setattr(Catalog, "create_branch", spy)
    cat.sql_transaction(
        spark,
        """
        INSERT INTO t VALUES (2, 'b', 20);
        INSERT INTO u SELECT * FROM v
        """,
    )
    monkeypatch.undo()
    assert forks, "view-over-target must use the staging branch"
    # the view resolved against the STAGED t: row 2 is in u
    assert cat.row_count("u") == 3
    assert sorted(
        r["id"] for r in cat.read(spark, "u").collect()
    ) == [0, 1, 2]


def test_sql_call_forget_documents_matches_python(spark, warehouse, tmp_path):
    """CALL system.forget_documents is the SQL face of the Python
    primitive (VERDICT r10 #4): same post-state, ids supplied as a
    SELECT over the branch's views; never-admitted keys are a no-op;
    re-admission works through the SQL path too."""
    import shutil

    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        dedup_ingest,
        forget_documents,
    )

    def _docs(rows):
        return spark.createDataFrame(rows, "doc_id INT, text STRING")

    cat = Catalog(warehouse)
    dedup_ingest(
        spark, cat, _docs([(1, "aa"), (2, "bb"), (3, "cc")]),
        "docs", "fp_index",
    )
    twin = str(tmp_path / "twin")
    shutil.copytree(warehouse, twin)
    cat2 = Catalog(twin)

    row = cat.sql(
        spark,
        "CALL system.forget_documents(docs_table => 'docs', "
        "index_tables => 'fp_index', "
        "ids => 'SELECT doc_id FROM docs WHERE doc_id IN (1, 3, 9)')",
    ).collect()[0]
    assert (row["published"], row["docs_removed"], row["strategy"]) == (
        True, 2, "generic",
    )
    res = forget_documents(
        spark, cat2,
        spark.createDataFrame([(1,), (3,), (9,)], "doc_id INT"),
        "docs", ["fp_index"],
    )
    # NOTE: the SQL ids SELECT only sees ADMITTED rows (9 never
    # existed), so ids_requested differs; the observable post-state
    # must not
    assert res.docs_removed == 2
    for t in ("docs", "fp_index"):
        a = sorted(map(str, cat.read(spark, t).collect()))
        b = sorted(map(str, cat2.read(spark, t).collect()))
        assert a == b, t
    # re-admission through the pipeline still works after a SQL forget
    r = dedup_ingest(
        spark, cat, _docs([(11, "aa"), (12, "bb")]), "docs", "fp_index"
    )
    assert (r.seen_dups, r.rows_published) == (1, 1)
    assert cat.list_branches() == ["main"]


def test_sql_call_forget_near_routes_auto_dispatch(spark, warehouse):
    """The near spelling (sig_table + band_table) routes through the
    regime auto-dispatcher and reports its pick; argument misuse is
    rejected before anything runs."""
    import pytest as _pytest

    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        near_dedup_ingest,
    )

    cat = Catalog(warehouse)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(25))) for i in range(20)],
        "doc_id INT, text STRING",
    )
    near_dedup_ingest(spark, cat, docs, "nd", "ns", "nb")
    row = cat.sql(
        spark,
        "CALL system.forget_documents(docs_table => 'nd', "
        "sig_table => 'ns', band_table => 'nb', "
        "ids => 'SELECT doc_id FROM nd WHERE doc_id = 7')",
    ).collect()[0]
    assert row["published"] and row["docs_removed"] == 1
    assert row["strategy"] in ("generic", "band_aligned")
    assert cat.read(spark, "nd").filter("doc_id = 7").count() == 0
    assert cat.read(spark, "ns").filter("doc_id = 7").count() == 0
    assert cat.read(spark, "nb").filter("doc_id = 7").count() == 0
    with _pytest.raises(ValueError, match="sig_table and band_table"):
        cat.sql(
            spark,
            "CALL system.forget_documents(docs_table => 'nd', "
            "sig_table => 'ns', ids => 'SELECT doc_id FROM nd')",
        )
    with _pytest.raises(ValueError, match="EITHER index_tables"):
        cat.sql(
            spark,
            "CALL system.forget_documents(docs_table => 'nd', "
            "index_tables => 'x', sig_table => 'ns', "
            "band_table => 'nb', ids => 'SELECT doc_id FROM nd')",
        )


def test_sql_call_rebuild_index_matches_python(spark, warehouse):
    """CALL system.rebuild_index / rebuild_near_index reconstruct the
    dedup indexes from the corpus exactly like the Python primitives:
    dropped index -> SQL rebuild -> dedup semantics restored."""
    from no_jvm_wap_with_iceberg_spark.pipelines.incremental_dedup import (
        dedup_ingest,
        near_dedup_ingest,
    )

    cat = Catalog(warehouse)
    dedup_ingest(
        spark, cat,
        spark.createDataFrame(
            [(1, "aa"), (2, "bb"), (3, "aa")], "doc_id INT, text STRING"
        ),
        "docs", "fp_index",
    )
    cat.drop_table("fp_index")
    row = cat.sql(
        spark,
        "CALL system.rebuild_index(docs_table => 'docs', "
        "index_table => 'fp_index')",
    ).collect()[0]
    assert (row["table"], row["index_rows"]) == ("fp_index", 2)
    r = dedup_ingest(
        spark, cat,
        spark.createDataFrame(
            [(11, "aa"), (12, "dd")], "doc_id INT, text STRING"
        ),
        "docs", "fp_index",
    )
    assert (r.seen_dups, r.rows_published) == (1, 1)

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(25))) for i in range(10)],
        "doc_id INT, text STRING",
    )
    near_dedup_ingest(spark, cat, docs, "nd", "ns", "nb")
    cat.drop_table("ns")
    cat.drop_table("nb")
    row = cat.sql(
        spark,
        "CALL system.rebuild_near_index('nd', 'ns', 'nb')",
    ).collect()[0]
    assert row["signature_rows"] == 10
    # a near-dup of an admitted doc still drops after the SQL rebuild
    dup = spark.createDataFrame(
        [(99, " ".join(f"w3x{j}" for j in range(25)) + " tail")],
        "doc_id INT, text STRING",
    )
    rr = near_dedup_ingest(spark, cat, dup, "nd", "ns", "nb")
    assert rr.rows_published == 0
    assert cat.list_branches() == ["main"]


# ----------------------------------------------------------------------
# comments: MERGE / UPDATE / DELETE go through Spark's parser, which
# skips them; the tokenizer the other verbs use treats them as opaque
# ----------------------------------------------------------------------
def _seed_files(spark, cat):
    """Table ``a``: ids 0..99 with v = w = 0, in five appended files."""
    cols = [T.StructField(c, T.LongType()) for c in ("id", "v", "w")]
    cat.create_table("a", T.StructType(cols))
    for lo in range(0, 100, 20):
        cat.append(
            spark.range(lo, lo + 20, numPartitions=1).select(
                "id", F.lit(0).alias("v"), F.lit(0).alias("w")
            ),
            "a",
        )
    assert len(cat.load_table("a").files()) == 5


def test_sql_delete_ignores_a_commented_out_conjunct(spark, warehouse):
    # `id < 20` is commented out; pruning on it skipped every file
    # holding ids >= 20 and left 90 rows
    cat = Catalog(warehouse)
    _seed_files(spark, cat)
    cat.sql(spark, "DELETE FROM a WHERE id >= 10 -- AND id < 20")
    ids = sorted(r.id for r in cat.read(spark, "a").collect())
    assert ids == list(range(10))


def test_sql_update_ignores_a_commented_out_assignment(spark, warehouse):
    cat = Catalog(warehouse)
    _seed_files(spark, cat)
    cat.sql(spark, "UPDATE a SET v = 1 -- , w = 2\n WHERE id = 1")
    rows = {r.id: (r.v, r.w) for r in cat.read(spark, "a").collect()}
    assert rows[1] == (1, 0)
    assert sum(v + w for v, w in rows.values()) == 1


def test_sql_merge_with_comments_between_and_inside_clauses(spark, warehouse):
    cat = Catalog(warehouse)
    _seed_files(spark, cat)
    spark.createDataFrame(
        [(1, 5), (2, 6), (500, 7)], "id long, v long"
    ).createOrReplaceTempView("src")
    cat.sql(
        spark,
        "MERGE INTO a USING src s ON a.id = s.id "
        "/* WHEN MATCHED THEN DELETE */\n"
        "WHEN MATCHED AND s.v > 5 -- THEN DELETE\n"
        "THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v, w) VALUES (s.id, s.v, 0)",
    )
    rows = {r.id: (r.v, r.w) for r in cat.read(spark, "a").collect()}
    assert len(rows) == 101
    assert rows[1] == (0, 0) and rows[2] == (6, 0) and rows[500] == (7, 0)


def test_split_sql_statements_skips_semicolons_in_comments():
    assert Catalog._split_sql_statements(
        "INSERT INTO t VALUES (1); -- note; keep going\n"
        "SELECT count(*) FROM t /* a; b */"
    ) == ["INSERT INTO t VALUES (1)", "SELECT count(*) FROM t /* a; b */"]


def test_sql_routes_a_statement_after_leading_comments(spark, warehouse):
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10), (2, "b", 20)])
    st = cat.sql(spark, "-- header\n/* more */ DELETE FROM t WHERE id = 1")
    assert st.collect()[0]["operation"] == "DELETE"
    assert _state(spark, cat) == {2: ("b", 20)}


def _observe(spark, cat, result):
    """Every table's schema, rows and properties, plus the statement's
    own result rows (less snapshot ids, which differ per catalog)."""
    tables = {
        t: (
            cat.load_table(t).spark_schema.simpleString(),
            sorted(map(tuple, cat.read(spark, t).collect()), key=repr),
            cat.load_table(t).properties,
        )
        for t in cat.list_tables()
    }
    cols = [c for c in result.columns if c != "snapshot_id"]
    return tables, sorted(map(tuple, result.select(*cols).collect()))


@pytest.mark.parametrize(
    "commented",
    [
        "INSERT INTO t (id, -- the key\n name) VALUES (2, 'b')",
        "INSERT INTO t /* hint */ SELECT 2, 'b', 20",
        "CALL system.expire_snapshots(table => 't', -- keep two\n keep_last => 1)",
        "ALTER TABLE t SET TBLPROPERTIES ('a' = '1', -- why\n 'b' = '2')",
        "CREATE TABLE g (id BIGINT, -- the key\n"
        " dbl BIGINT GENERATED ALWAYS AS (id * 2))",
        "ALTER TABLE t ADD COLUMN -- c\n z INT",
    ],
)
def test_sql_comments_inside_statements(spark, tmp_path, commented):
    # a comment anywhere in a statement changes nothing: the same
    # schema, properties, rows and result as its comment-free form
    import re

    plain = re.sub(r"--[^\n]*\n|/\*.*?\*/", " ", commented)
    seen = []
    for i, stmt in enumerate((commented, plain)):
        cat = Catalog(str(tmp_path / f"w{i}"))
        _seed(spark, cat, [(1, "a", 10)])
        cat.append(spark.createDataFrame([(3, "c", 30)], SCHEMA), "t")
        seen.append(_observe(spark, cat, cat.sql(spark, stmt)))
    assert seen[0] == seen[1]


_ROUTED = [
    # (statement, the handler it reaches; spark.sql: passed through)
    ("INSERT INTO t VALUES (1, 'a', 1)", "_exec_insert"),
    ("INSERT INTO t REPLACE WHERE id = 1 SELECT * FROM t", "_exec_insert"),
    ("WITH s AS (SELECT 1 AS id) INSERT INTO t SELECT id, 'a', 1 FROM s",
     "_exec_insert"),
    ("MERGE INTO t USING t s ON t.id = s.id WHEN MATCHED THEN DELETE",
     "_exec_merge"),
    ("UPDATE t SET qty = 1", "_exec_update"),
    ("-- header\n/* more */ DELETE FROM t", "_exec_delete"),
    ("CREATE TABLE n (a INT)", "_exec_create"),
    ("CREATE OR REPLACE TABLE n (a INT)", "_exec_create"),
    ("CREATE TABLE n AS SELECT 1 AS a", "_exec_ctas"),
    ("CREATE OR REPLACE TABLE n AS SELECT 1 AS a", "_exec_ctas"),
    ("CREATE TABLE n LIKE t", "_exec_create_like"),
    ("ALTER TABLE t ADD COLUMN z INT", "_exec_add_column"),
    ("ALTER TABLE t DROP COLUMN qty", "_exec_drop_column"),
    ("ALTER TABLE t RENAME COLUMN qty TO q", "_exec_rename_column"),
    ("ALTER TABLE t ALTER COLUMN qty TYPE BIGINT", "_exec_alter_column"),
    ("ALTER TABLE t RENAME TO u", "_exec_rename_table"),
    ("ALTER TABLE t SET TBLPROPERTIES ('owner' = 'me')", "_exec_properties"),
    ("ALTER TABLE t UNSET TBLPROPERTIES ('a')", "_exec_properties"),
    ("ALTER TABLE t ADD CONSTRAINT c CHECK (id > 0)", "_exec_constraint"),
    ("ALTER TABLE t DROP CONSTRAINT c", "_exec_constraint"),
    ("DROP TABLE t", "_exec_drop"),
    ("TRUNCATE TABLE t", "_exec_truncate"),
    ("CREATE VIEW v AS SELECT 1 AS one", "_exec_create_view"),
    ("DROP VIEW cv", "_exec_drop_view"),
    ("CALL system.expire_snapshots('t')", "execute_call"),
    ("SHOW CREATE TABLE t", "_show_create_table"),
    ("SHOW TBLPROPERTIES t", "_show_properties"),
    ("SHOW PARTITIONS t", "_show_partitions"),
    ("ANALYZE TABLE t COMPUTE STATISTICS", "_exec_analyze"),
    ("ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS id", "_exec_analyze"),
    # spellings outside Spark's grammar, matched before the parse
    ("DESCRIBE HISTORY t", "execute_delta_verb"),
    ("DESC DETAIL t", "execute_delta_verb"),
    ("OPTIMIZE t", "execute_delta_verb"),
    ("VACUUM t RETAIN 1 HOURS", "execute_delta_verb"),
    ("RESTORE TABLE t TO VERSION AS OF 1", "execute_delta_verb"),
    ("COPY INTO t FROM '/x' FILEFORMAT = PARQUET", "execute_copy_into"),
    ("CREATE TABLE c SHALLOW CLONE t", "_exec_clone"),
    ("ALTER TABLE t WRITE ORDERED BY id", "_exec_alter_ext"),
    ("ALTER TABLE t ADD PARTITION FIELD id", "_exec_alter_ext"),
    ("ALTER TABLE t SET IDENTIFIER FIELDS id", "_exec_alter_ext"),
    # everything else, and names the catalog does not own
    ("SELECT * FROM t", "spark.sql"),
    ("CREATE TEMP VIEW tv AS SELECT 1", "spark.sql"),
    ("CREATE TEMP VIEW tv AS SELEC 1", "spark.sql"),  # Spark's parse error
    ("CREATE FUNCTION f AS", "spark.sql"),
    ("ALTER VIEW cv RENAME TO cw", "spark.sql"),
    ("SHOW TABLES", "spark.sql"),
    ("INSERT INTO not_ours VALUES (1)", "spark.sql"),
    ("WITH s AS (SELECT 1 AS a) INSERT INTO not_ours SELECT * FROM s",
     "spark.sql"),
    ("DELETE FROM not_ours", "spark.sql"),
    ("DROP TABLE not_ours", "spark.sql"),
    ("DROP VIEW not_ours", "spark.sql"),
    ("DESCRIBE HISTORY not_ours", "spark.sql"),
]


@pytest.mark.parametrize("stmt,handler", _ROUTED)
def test_sql_routing_table(spark, warehouse, monkeypatch, stmt, handler):
    from no_jvm_wap_with_iceberg_spark.catalog import sqldml

    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.create_view("cv", "SELECT 1 AS one", spark=spark)

    def stub(fn):
        return lambda *_a: fn.__name__

    monkeypatch.setattr(
        sqldml, "_ROUTES",
        {k: (stub(h), f, o) for k, (h, f, o) in sqldml._ROUTES.items()},
    )
    monkeypatch.setattr(
        sqldml, "_EXTENSIONS",
        tuple((p, stub(h), o) for p, h, o in sqldml._EXTENSIONS),
    )
    monkeypatch.setattr(Catalog, "create_views", lambda *_a: None)
    monkeypatch.setattr(spark, "sql", lambda _q: "spark.sql")
    assert cat.sql(spark, stmt) == handler


@pytest.mark.parametrize(
    "stmt",
    [
        "CREATE TABLE db.x (a INT)",
        "CREATE OR REPLACE TABLE db.x (a INT)",
        "CREATE TABLE db.x AS SELECT 1 AS a",
        "CREATE TABLE db.x LIKE t",
        "CREATE TABLE x LIKE db.t",
        "ALTER TABLE t RENAME TO db.x",
        "ALTER TABLE db.t ADD COLUMN z INT",
    ],
)
def test_sql_refuses_qualified_names_on_claimed_statements(
    spark, warehouse, stmt
):
    """A catalog table has a one-part name: a qualified one on a
    statement the catalog claims for every name refuses, creates
    nothing, and the branch's SQL keeps working."""
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    with pytest.raises(ValueError, match="unsupported (CREATE|ALTER)"):
        cat.sql(spark, stmt)
    assert cat.list_tables() == ["t"]
    assert cat.sql(spark, "SELECT 1 AS one").collect()[0][0] == 1


def test_sql_reserved_tblproperties_key_parses_once(
    spark, warehouse, monkeypatch
):
    from no_jvm_wap_with_iceberg_spark.catalog import sqldml

    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    statements = []
    parse = sqldml._parse

    def counting(sql, expression=False, spark=None):
        if not expression:
            statements.append(sql)
        return parse(sql, expression, spark)

    monkeypatch.setattr(sqldml, "_parse", counting)
    cat.sql(spark, "ALTER TABLE t SET TBLPROPERTIES ('owner' = 'me')")
    assert len(statements) == 1
    assert cat.load_table("t").properties["owner"] == "me"


def test_sql_transaction_fast_path_falls_back_on_identifier_source(
    spark, warehouse, monkeypatch
):
    """``IDENTIFIER('t')`` names its table through no relation node:
    the source may read a transaction target, so the script takes the
    sequential staging branch and sees the earlier INSERT."""
    cat = Catalog(warehouse)
    _seed(spark, cat, [(1, "a", 10)])
    cat.create_table_from_df(
        spark.createDataFrame([(0, "seed", 0)], SCHEMA), "t_copy"
    )
    forks = []
    orig = Catalog.create_branch

    def spy(self, name, src="main"):
        forks.append(name)
        return orig(self, name, src)

    monkeypatch.setattr(Catalog, "create_branch", spy)
    cat.sql_transaction(
        spark,
        """
        INSERT INTO t VALUES (2, 'b', 20);
        INSERT INTO t_copy SELECT * FROM IDENTIFIER('t')
        """,
    )
    monkeypatch.undo()
    assert forks, "expected the staging-branch path"
    assert cat.row_count("t_copy") == 3  # seed + rows 1 and 2


@pytest.mark.parametrize("files", [1, 3])
def test_sql_cte_prefixed_insert(spark, warehouse, files):
    # WITH ... INSERT parses as a CTE node over the INSERT: the CTE
    # stays part of the INSERT's source and the rows commit in one
    # snapshot, on a one-file and on a multi-file target
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    for i in range(files):
        cat.append(spark.createDataFrame([(i, "s", i)], SCHEMA), "t")
    before = len(cat.load_table("t").snapshots)
    cat.sql(
        spark,
        "WITH x AS (SELECT id + 10 AS id, name, qty * 2 AS qty FROM t), "
        "y AS (SELECT * FROM x WHERE id > 10 OR qty = 0) "
        "INSERT INTO t SELECT * FROM y",
    )
    want = {i: ("s", i) for i in range(files)}
    want.update({i + 10: ("s", 2 * i) for i in range(files)})
    assert _state(spark, cat) == want
    assert len(cat.load_table("t").snapshots) == before + 1
    cat.sql(
        spark,
        "WITH x AS (SELECT 99 AS id) "
        "INSERT INTO t REPLACE WHERE id >= 10 SELECT id, 'r', 0 FROM x",
    )
    want = {i: ("s", i) for i in range(files)}
    assert _state(spark, cat) == {**want, 99: ("r", 0)}


_NOT_QUERIES = [
    "CREATE TEMP VIEW leak AS SELECT 1 AS a",
    "WITH q AS (SELECT 1 AS a) INSERT INTO t SELECT * FROM q",
]


def test_view_body_must_be_a_query_by_sparks_tree(spark, warehouse, monkeypatch):
    """One check, by Spark's tree, wherever a body first meets a
    session: at definition, or — stored by a caller with no session
    — at registration, which then skips it instead of running it."""
    from pyspark.sql import SparkSession

    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    for body in _NOT_QUERIES:
        for kw in ({}, {"spark": spark}):
            with pytest.raises(ValueError, match="must be a query"):
                cat.create_view("v", body, **kw)
    cat.create_view("w", "WITH q AS (SELECT 1 AS a) SELECT a FROM q", spark=spark)
    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: None)
    cat.create_view("v", _NOT_QUERIES[0])
    monkeypatch.undo()
    assert cat.sql(spark, "SELECT a FROM w").collect()[0][0] == 1
    assert not spark.catalog.tableExists("leak")
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
        cat.sql(spark, "SELECT * FROM v").collect()
