"""Every metadata-only verb commits exactly one new table version and
keeps every field of the table metadata it does not own — a verb that
rebuilt the metadata and forgot a field (say ``sort_by`` on ADD COLUMN)
would silently change the table's layout."""

import pytest

from no_jvm_wap_with_iceberg_spark.catalog import Catalog

# verb -> (call, the fields it may change)
VERBS = {
    "add_column": (lambda c, s, t: c.add_column(t, "extra", "int"), {"schema"}),
    "widen_column": (
        lambda c, s, t: c.widen_column(t, "n", "bigint"),
        {"schema", "properties"},
    ),
    "drop_column": (
        lambda c, s, t: c.drop_column(t, "note"),
        {"schema", "properties"},
    ),
    "rename_column": (
        lambda c, s, t: c.rename_column(t, "note", "memo"),
        {"schema", "properties"},
    ),
    "add_constraint": (
        lambda c, s, t: c.add_constraint(s, t, "pos", "n >= 0"),
        {"properties"},
    ),
    "set_sort_order": (lambda c, s, t: c.set_sort_order(t, ["n"]), {"sort_by"}),
    "rollback": (
        lambda c, s, t: c.rollback(t, c.load_table(t).snapshots[0].snapshot_id),
        {"current_snapshot_id"},
    ),
    "set_properties": (
        lambda c, s, t: c.set_properties(t, owner="ops"),
        {"properties"},
    ),
    "evolve_partition_spec": (
        lambda c, s, t: c.evolve_partition_spec(t, ["bucket(4, id)"]),
        {"partition_by", "properties"},
    ),
    "expire_snapshots": (
        lambda c, s, t: c.expire_snapshots(t, keep_last=1),
        {"snapshot_ids"},
    ),
}


def _fields(meta):
    return {
        "schema": meta.schema_json,
        "partition_by": meta.partition_by,
        "sort_by": meta.sort_by,
        "current_snapshot_id": meta.current_snapshot_id,
        "snapshot_ids": [s.snapshot_id for s in meta.snapshots],
        "properties": meta.properties,
    }


@pytest.mark.parametrize("verb", list(VERBS))
def test_metadata_verb_keeps_fields_it_does_not_own(spark, warehouse, verb):
    cat = Catalog(warehouse)
    schema = "id INT, n INT, note STRING"
    cat.create_table(
        "t",
        spark.createDataFrame([], schema).schema,
        partition_by=["bucket(2, id)"],
        sort_by=["id"],
        bloom_cols=["note"],
        properties={"owner": "etl"},
    )
    for i in range(3):
        cat.append(spark.createDataFrame([(i, i, f"v{i}")], schema), "t")
    before = cat.load_table("t")
    call, owned = VERBS[verb]
    call(cat, spark, "t")
    after = cat.load_table("t")
    assert after.table == "t"
    assert after.version == before.version + 1
    old, new = _fields(before), _fields(after)
    changed = {f for f in old if new[f] != old[f]}
    assert changed and changed <= owned, changed
