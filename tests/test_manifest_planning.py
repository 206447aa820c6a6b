"""Reads are planned from the manifest alone.

Building a read of table files starts no Spark job: the manifest lists
the files, so Spark neither lists them in a job (past 32 paths its file
index would) nor infers a schema from their footers. And the manifest's
partition values prune: a range on an identity partition column keeps
only the files whose directory value, parsed into the column's type,
can satisfy it.
"""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import spark_jobs
from no_jvm_wap_with_iceberg_spark.catalog import Catalog, Predicate

DAYS = [datetime.date(2024, 1, 1) + datetime.timedelta(days=d) for d in range(6)]
FILES_PER_DAY = 8


@pytest.fixture()
def events(spark, warehouse, tmp_path):
    """A catalog holding ``events``: 6 days x 8 files registered with
    ``add_files`` from ``day=YYYY-MM-DD`` directories (48 files, past
    Spark's 32-path listing threshold)."""
    src = tmp_path / "events"
    i = 0
    for day in DAYS:
        os.makedirs(src / f"day={day}")
        for _ in range(FILES_PER_DAY):
            pq.write_table(
                pa.table({"id": [2 * i, 2 * i + 1], "v": [i, -i]}),
                str(src / f"day={day}" / f"part-{i:05d}.parquet"),
            )
            i += 1
    cat = Catalog(warehouse)
    cat.add_files(spark, "events", str(src))
    assert len(cat.load_table("events").files()) == 48
    return cat


def test_read_over_many_files_runs_no_spark_job(spark, events):
    before = spark_jobs(spark)
    df = events.read(spark, "events")
    assert spark_jobs(spark) - before == 0
    assert df.count() == 96


def test_sql_view_of_many_files_runs_no_spark_job(spark, events):
    before = spark_jobs(spark)
    df = events.sql(spark, "SELECT count(*) AS n FROM events")
    assert spark_jobs(spark) - before == 0
    assert df.collect()[0]["n"] == 96


def test_identity_date_range_keeps_only_its_days(spark, events):
    lo, hi = DAYS[2], DAYS[3]
    before = spark_jobs(spark)
    df = events.read(spark, "events", predicates=Predicate.between("day", lo, hi))
    assert spark_jobs(spark) - before == 0
    files = df.inputFiles()
    assert len(files) == 2 * FILES_PER_DAY
    assert {f.split("day=")[1][:10] for f in files} == {str(lo), str(hi)}
    got = sorted(df.filter(F.col("day").between(lo, hi)).collect())
    want = sorted(events.read(spark, "events").filter(F.col("day").between(lo, hi)).collect())
    assert got == want and len(got) == 2 * FILES_PER_DAY * 2


def _count_key_file_scans(spark, cat, monkeypatch) -> list[int]:
    """Spark jobs run by each build of a scan over MoR key files
    (``tables/<t>/deletes/...``), in call order."""
    scan, jobs = cat._scan, []

    def counted(s, rel_paths, schema=None):
        if not any("/deletes/" in p for p in rel_paths):
            return scan(s, rel_paths, schema)
        before = spark_jobs(spark)
        out = scan(s, rel_paths, schema)
        jobs.append(spark_jobs(spark) - before)
        return out

    monkeypatch.setattr(cat, "_scan", counted)
    return jobs


@pytest.mark.parametrize("verb", ["merge_rows", "merge_into", "delete_keys"])
def test_key_file_probe_runs_no_spark_job(spark, warehouse, monkeypatch, verb):
    cat = Catalog(warehouse)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(6)], "id long, s string")
    cat.create_table("t", base.schema)
    cat.append(base, "t")
    src = spark.createDataFrame([(1, "new"), (9, "ins")], "id long, s string")
    jobs = _count_key_file_scans(spark, cat, monkeypatch)
    if verb == "merge_rows":
        cat.merge_rows(src, "t", key="id")
        want = {0: "v0", 1: "new", 2: "v2", 3: "v3", 4: "v4", 5: "v5", 9: "ins"}
    elif verb == "merge_into":
        cat.merge_into(src, "t", key="id")
        want = {0: "v0", 1: "new", 2: "v2", 3: "v3", 4: "v4", 5: "v5", 9: "ins"}
    else:
        cat.delete_keys(src.select("id"), "t", key="id")
        want = {0: "v0", 2: "v2", 3: "v3", 4: "v4", 5: "v5"}
    assert jobs == [0]
    monkeypatch.undo()
    assert {r["id"]: r["s"] for r in cat.read(spark, "t").collect()} == want


@pytest.mark.parametrize("layout", [["s"], ["truncate(3, s)"]])
def test_escaped_partition_values_prune_and_delete_by_value(spark, warehouse, layout):
    """Spark escapes a directory value (``%`` as ``%25``, ``:`` as
    ``%3A``); pruning and the whole-file DELETE proof compare the
    decoded value, so a row is found and deleted by what it holds."""
    cat = Catalog(warehouse)
    rows = [(1, "a%b"), (2, "a%25b"), (3, "x:y")]
    df = spark.createDataFrame(rows, "id long, s string")
    cat.create_table("t", df.schema, partition_by=layout)
    cat.append(df, "t")
    for i, s in rows:
        got = cat.read(spark, "t", predicates=[Predicate.eq("s", s)]).filter(F.col("s") == s)
        assert [r["id"] for r in got.collect()] == [i]
    cat.sql(spark, "DELETE FROM t WHERE s = 'a%25b'")
    assert sorted(r["id"] for r in cat.read(spark, "t").collect()) == [1, 3]
