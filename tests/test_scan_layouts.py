"""The read path over every partition layout and column history.

Every read of table files is one parquet scan, at most one broadcast
frame of per-file facts (identity partition values, DEFAULT presence
flags, the merge-on-read commit sequence) and one projection. Here
each layout is read after a rename, a DEFAULT column added after the
first write and a pending ``merge_rows`` delete, and the rows and
their ``_file`` are compared with what was written.
"""

import os
import re
from urllib.parse import unquote

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from no_jvm_wap_with_iceberg_spark.catalog import Catalog

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("p", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)

LAYOUTS = {
    "unpartitioned": None,
    "bucket": ["bucket(4, id)"],
    "identity": ["p"],
    "identity+bucket": ["p", "bucket(2, id)"],
}

# identity values that need care on the way back: a space and a '%'
# are escaped in the directory name, NULL is Hive's default partition
P = ["a", "b c", "50%", None]


def _part(i):
    return P[i % len(P)]


def _history(spark, cat, layout):
    """Write, rename, add a DEFAULT, write, merge; returns the rows a
    reader must see as {id: (p, w, d)}."""
    cat.create_table("t", SCHEMA, partition_by=layout)
    first = [(i, _part(i), 10 * i) for i in range(8)]
    cat.append(spark.createDataFrame(first, SCHEMA).repartition(3), "t")
    cat.rename_column("t", "v", "w")
    cat.add_column("t", "d", "bigint", default="7")
    second = [(i, _part(i), 10 * i, None if i == 9 else i) for i in range(8, 12)]
    cat.append(
        spark.createDataFrame(second, "id long, p string, w long, d long"), "t"
    )
    want = {i: (p, w, 7) for i, p, w in first}
    want.update({i: (p, w, d) for i, p, w, d in second})
    merge = [
        (2, _part(2), 0, 0, True),  # delete
        (9, _part(9), 900, 5, False),  # update
        (20, "a", 200, None, False),  # insert
    ]
    cat.merge_rows(
        spark.createDataFrame(
            merge, "id long, p string, w long, d long, gone boolean"
        ),
        "t",
        key="id",
        delete_col="gone",
    )
    del want[2]
    want[9] = (_part(9), 900, 5)
    want[20] = ("a", 200, None)
    return want


@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_read_matches_written_rows_on_every_layout(spark, warehouse, layout):
    cat = Catalog(warehouse)
    want = _history(spark, cat, LAYOUTS[layout])
    assert cat.load_table("t").has_pending_deletes()

    got = {r.id: (r.p, r.w, r.d) for r in cat.read(spark, "t").collect()}
    assert got == want

    rows = cat.read(spark, "t", with_metadata=True).collect()
    assert [c for c in rows[0].asDict()] == ["id", "p", "w", "d", "_file"]
    live = {f.path: f for f in cat.load_table("t").files()}
    for r in rows:
        assert (r.p, r.w, r.d) == want[r.id]
        # the row is in the file named by _file, with its written value
        assert r._file in live
        written = pq.read_table(os.path.join(warehouse, r._file)).to_pylist()
        match = [x for x in written if x["id"] == r.id]
        assert match and match[0].get("w", match[0].get("v")) == r.w
        if layout.startswith("identity"):  # p lives in the manifest
            raw = live[r._file].partition["p"]
            hive_null = raw == "__HIVE_DEFAULT_PARTITION__"
            assert (None if hive_null else unquote(raw)) == r.p


def _path_joins(df) -> int:
    """Joins on a data-file path in the optimized plan (the MoR key
    files' own path join is not one)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(re.findall(r"Join \w+, \(__\w+_path#\d+ = ", plan))


def test_per_file_facts_ride_one_path_join(spark, warehouse):
    # identity partitions + a DEFAULT some files lack + a pending MoR
    # delete: three per-file facts, one broadcast frame, one join
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA, partition_by=["p"])
    cat.append(
        spark.createDataFrame([(i, "ab"[i % 2], i) for i in range(6)], SCHEMA),
        "t",
    )
    cat.add_column("t", "d", "bigint", default="7")
    cat.merge_rows(
        spark.createDataFrame(
            [(3, "b", 0, 1, True)], "id long, p string, v long, d long, gone boolean"
        ),
        "t",
        key="id",
        delete_col="gone",
    )
    df = cat.read(spark, "t", with_metadata=True)
    assert _path_joins(df) == 1
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 4, 5]

    # the bare case stays a bare scan: no frame, no projection
    cat.create_table("u", SCHEMA)
    cat.append(spark.createDataFrame([(1, "a", 1)], SCHEMA), "u")
    plan = cat.read(spark, "u")._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LogicalRelation"
