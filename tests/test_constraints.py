"""Table CHECK constraints (Delta-parity; Iceberg has no CHECK surface).

Stored as ``constraint.<name>`` properties and enforced INSIDE every
data-file write: ``_write_files`` folds a per-constraint guard into
the write expression, so enforcement adds ZERO extra passes over the
batch at any scale — a violating row aborts the job before a file is
committed (partial files are unreferenced orphans for the maintenance
grace window). SQL semantics: NULL passes, only FALSE violates.
"""

import pytest
from pyspark.sql import functions as F, types as T

from conftest import hooked_catalog
from no_jvm_wap_with_iceberg_spark.catalog import Catalog

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("qty", T.LongType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).coalesce(1)


def test_constraint_blocks_violating_append(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.sql(spark, "ALTER TABLE t ADD CONSTRAINT pos CHECK (qty > 0)")
    cat.append(_df(spark, [(1, 5), (2, 1)]), "t")
    before = cat.load_table("t").current_snapshot_id
    with pytest.raises(Exception, match="pos"):
        cat.append(_df(spark, [(3, 2), (4, -1)]), "t")
    # nothing committed; the table is exactly as before the bad batch
    meta = cat.load_table("t")
    assert meta.current_snapshot_id == before
    assert cat.read(spark, "t").count() == 2


def test_null_passes_check(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.add_constraint(spark, "t", "pos", "qty > 0")
    cat.append(_df(spark, [(1, None), (2, 3)]), "t")
    assert cat.read(spark, "t").count() == 2


def test_add_constraint_validates_existing_rows(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, [(1, 5), (2, -9)]), "t")
    with pytest.raises(ValueError, match="existing row"):
        cat.add_constraint(spark, "t", "pos", "qty > 0")
    assert "constraint.pos" not in cat.load_table("t").properties


def test_drop_constraint_reopens_writes(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.sql(spark, "ALTER TABLE t ADD CONSTRAINT pos CHECK (qty > 0)")
    with pytest.raises(Exception):
        cat.append(_df(spark, [(1, -1)]), "t")
    cat.sql(spark, "ALTER TABLE t DROP CONSTRAINT pos")
    cat.append(_df(spark, [(1, -1)]), "t")
    assert cat.read(spark, "t").count() == 1
    with pytest.raises(KeyError):
        cat.drop_constraint("t", "pos")
    cat.drop_constraint("t", "pos", if_exists=True)


def test_multiple_constraints_name_the_failing_one(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.add_constraint(spark, "t", "pos", "qty > 0")
    cat.add_constraint(spark, "t", "small_id", "id < 100")
    with pytest.raises(Exception, match="small_id"):
        cat.append(_df(spark, [(500, 5)]), "t")
    with pytest.raises(Exception, match="pos"):
        cat.append(_df(spark, [(5, 0)]), "t")
    cat.append(_df(spark, [(5, 5)]), "t")
    assert cat.read(spark, "t").count() == 1


def test_constraint_enforced_through_merge_and_update(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.add_constraint(spark, "t", "pos", "qty > 0")
    cat.append(_df(spark, [(1, 5), (2, 6)]), "t")
    # merge_rows inserts go through the same writer
    with pytest.raises(Exception, match="pos"):
        cat.merge_rows(_df(spark, [(3, -1)]), "t", key="id")
    # COW UPDATE rewrites rows through the same writer too
    with pytest.raises(Exception, match="pos"):
        cat.sql(spark, "UPDATE t SET qty = qty - 10 WHERE id = 1")
    out = {r.id: r.qty for r in cat.read(spark, "t").collect()}
    assert out == {1: 5, 2: 6}


def test_compaction_of_valid_data_passes(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.add_constraint(spark, "t", "pos", "qty > 0")
    cat.append(_df(spark, [(1, 5)]), "t")
    cat.append(_df(spark, [(2, 6)]), "t")
    cat.compact(spark, "t", min_files=2)
    assert cat.read(spark, "t").count() == 2


def test_rename_and_drop_refuse_constrained_column(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.add_constraint(spark, "t", "pos", "qty > 0")
    with pytest.raises(ValueError, match="pos"):
        cat.rename_column("t", "qty", "quantity")
    with pytest.raises(ValueError, match="pos"):
        cat.drop_column("t", "qty")
    cat.drop_constraint("t", "pos")
    cat.rename_column("t", "qty", "quantity")


def test_duplicate_constraint_name_refused(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.add_constraint(spark, "t", "pos", "qty > 0")
    with pytest.raises(ValueError, match="already exists"):
        cat.add_constraint(spark, "t", "pos", "qty > 1")


# ----------------------------------------------------------------------
# identifier fields (Iceberg SET IDENTIFIER FIELDS)
# ----------------------------------------------------------------------
def test_identifier_fields_default_merge_key(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, [(1, 10), (2, 20)]), "t")
    with pytest.raises(ValueError, match="identifier"):
        cat.merge_rows(_df(spark, [(1, 99)]), "t")  # no key, no ids
    cat.sql(spark, "ALTER TABLE t SET IDENTIFIER FIELDS id")
    cat.merge_rows(_df(spark, [(1, 99), (3, 30)]), "t")
    out = {r.id: r.qty for r in cat.read(spark, "t").collect()}
    assert out == {1: 99, 2: 20, 3: 30}
    # merge_into defaults the same way
    cat.merge_into(_df(spark, [(2, 77)]), "t", when_not_matched_insert=None)
    assert {r.id: r.qty for r in cat.read(spark, "t").collect()}[2] == 77
    cat.sql(spark, "ALTER TABLE t DROP IDENTIFIER FIELDS")
    with pytest.raises(ValueError, match="identifier"):
        cat.merge_rows(_df(spark, [(1, 0)]), "t")


def test_identifier_fields_validated_and_guard_rename(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("t", SCHEMA)
    with pytest.raises(ValueError, match="not in table"):
        cat.set_identifier_fields("t", ["nope"])
    cat.set_identifier_fields("t", ["id"])
    with pytest.raises(ValueError, match="identifier field"):
        cat.rename_column("t", "id", "pk")
    with pytest.raises(ValueError, match="identifier field"):
        cat.drop_column("t", "id")
    cat.set_identifier_fields("t", None)
    cat.rename_column("t", "id", "pk")


def test_add_constraint_revalidates_on_concurrent_append(spark, warehouse):
    """The validation scan runs INSIDE the optimistic commit: a
    violating batch landing between the scan and the property CAS must
    make the retry re-validate and REFUSE — otherwise the table wedges
    (every later rewrite of the violating file aborts)."""
    cat, store = hooked_catalog(warehouse)
    cat.create_table("t", SCHEMA)
    cat.append(_df(spark, [(1, 5)]), "t")

    # a violating append lands while add_constraint is between its
    # validation scan and its ref CAS
    store.before_refs_cas = lambda: cat.append(_df(spark, [(2, -9)]), "t")
    with pytest.raises(ValueError, match="existing row"):
        cat.add_constraint(spark, "t", "pos", "qty > 0")
    assert store.before_refs_cas is None, "race was never injected"
    assert "constraint.pos" not in cat.load_table("t").properties
    # both rows present; writes (incl. compaction) still work
    cat.compact(spark, "t")
    assert cat.read(spark, "t").count() == 2
