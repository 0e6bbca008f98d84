"""CHECK constraints on the versioned layouts: ALTER ADD validates
existing rows, every data-writing commit validates the rows it is
about to publish, and a refused commit publishes NOTHING (the written
generation is an invisible orphan). SQL CHECK semantics: NULL passes,
FALSE violates — so `col IS NOT NULL` is exactly a NOT NULL column.
"""

import pytest
from pyspark.sql import functions as F

from amaxa_spark.sources.catalog import (
    ConstraintViolationError,
    alter_versioned_add_constraint,
    alter_versioned_db_add_constraint,
    alter_versioned_db_drop_constraint,
    alter_versioned_drop_constraint,
    apply_changes_versioned,
    merge_into_versioned,
    merge_into_versioned_db,
    read_versioned_db,
    read_versioned_table,
    update_versioned,
    write_versioned_db,
    write_versioned_table,
    _bucket_manifest,
)


def _frame(spark, n=60):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("g"),
        (F.col("id") * 1.0).alias("v"),
    )


def _upd(spark, rows):
    return spark.createDataFrame(rows, "k long, v double")


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=4)
    with pytest.raises(ConstraintViolationError, match="v_small"):
        alter_versioned_add_constraint(spark, root, "v_small", "v < 10")
    # nothing committed by the failed ALTER
    assert "constraints" not in _bucket_manifest(root)
    alter_versioned_add_constraint(spark, root, "v_nonneg", "v >= 0")
    assert _bucket_manifest(root)["constraints"] == {"v_nonneg": "v >= 0"}


def test_merge_refuses_violating_rows_and_publishes_nothing(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=4)
    alter_versioned_add_constraint(spark, root, "v_nonneg", "v >= 0")
    before = _bucket_manifest(root)["token"]
    with pytest.raises(ConstraintViolationError, match="v_nonneg"):
        merge_into_versioned(
            spark, root, _upd(spark, [(1, -5.0)]), "k", ["v"]
        )
    assert _bucket_manifest(root)["token"] == before
    got = {r.k: r.v for r in read_versioned_table(spark, root).collect()}
    assert got[1] == 1.0
    # a clean merge still goes through
    merge_into_versioned(spark, root, _upd(spark, [(1, 5.0)]), "k", ["v"])
    got = {r.k: r.v for r in read_versioned_table(spark, root).collect()}
    assert got[1] == 5.0


def test_update_and_cdc_apply_enforce(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=4)
    alter_versioned_add_constraint(spark, root, "v_cap", "v <= 1000")
    with pytest.raises(ConstraintViolationError, match="v_cap"):
        update_versioned(spark, root, {"v": "v + 10000"}, where="g = 1")
    update_versioned(spark, root, {"v": "v + 1"}, where="g = 1")  # fine
    feed = spark.createDataFrame(
        [(2, 2, 9999.0, "update_postimage")],
        "k long, g long, v double, _change_type string",
    )
    with pytest.raises(ConstraintViolationError, match="v_cap"):
        apply_changes_versioned(spark, root, feed)


def test_null_passes_check_and_not_null_constraint(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 5.0), (2, None)], "k long, v double"
    )
    # CHECK v >= 0: the NULL row passes (SQL CHECK's unknown-passes)
    write_versioned_table(
        df, root, "k", n_buckets=2, constraints={"v_nonneg": "v >= 0"}
    )
    # NOT NULL via IS NOT NULL: existing NULL row must fail the ALTER
    with pytest.raises(ConstraintViolationError, match="v_nn"):
        alter_versioned_add_constraint(spark, root, "v_nn", "v IS NOT NULL")


def test_init_with_constraints_validates_and_reinit_inherits(spark, tmp_path):
    root = str(tmp_path / "t")
    with pytest.raises(ConstraintViolationError, match="g_low"):
        write_versioned_table(
            _frame(spark), root, "k", n_buckets=4,
            constraints={"g_low": "g < 3"},
        )
    write_versioned_table(
        _frame(spark), root, "k", n_buckets=4,
        constraints={"g_ok": "g < 5"},
    )
    # re-init inherits: a baseline that violates the carried
    # constraint is refused
    with pytest.raises(ConstraintViolationError, match="g_ok"):
        write_versioned_table(
            _frame(spark).withColumn("g", F.col("g") + 10),
            root, "k", n_buckets=4,
        )
    # explicit {} disables
    write_versioned_table(
        _frame(spark).withColumn("g", F.col("g") + 10),
        root, "k", n_buckets=4, constraints={},
    )
    assert "constraints" not in _bucket_manifest(root)


def test_drop_constraint(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(
        _frame(spark), root, "k", n_buckets=4,
        constraints={"v_nonneg": "v >= 0"},
    )
    with pytest.raises(ValueError, match="no constraint"):
        alter_versioned_drop_constraint(root, "nope")
    alter_versioned_drop_constraint(root, "v_nonneg")
    assert "constraints" not in _bucket_manifest(root)
    merge_into_versioned(
        spark, root, _upd(spark, [(1, -5.0)]), "k", ["v"]
    )  # no longer enforced
    got = {r.k: r.v for r in read_versioned_table(spark, root).collect()}
    assert got[1] == -5.0


def test_add_constraint_rejects_duplicate_and_empty(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(
        _frame(spark), root, "k", n_buckets=2,
        constraints={"c1": "v >= 0"},
    )
    with pytest.raises(ValueError, match="already exists"):
        alter_versioned_add_constraint(spark, root, "c1", "v >= 1")
    with pytest.raises(ValueError, match="non-empty SQL"):
        alter_versioned_add_constraint(spark, root, "c2", "  ")


def test_db_constraints_enforced_transactionally(spark, tmp_path):
    db = str(tmp_path / "db")
    df = _frame(spark)
    write_versioned_db(
        spark, db, {"a": df, "b": df}, {"a": "k", "b": "k"}, n_buckets=2
    )
    alter_versioned_db_add_constraint(spark, db, "a", "v_nonneg", "v >= 0")
    from amaxa_spark.sources.catalog import _db_manifest

    before = _db_manifest(db)["token"]
    # b's update is fine, a's violates: the WHOLE transaction refuses
    with pytest.raises(ConstraintViolationError, match="v_nonneg"):
        merge_into_versioned_db(
            spark, db,
            {"a": _upd(spark, [(1, -1.0)]), "b": _upd(spark, [(1, 2.0)])},
            set_cols={"a": ["v"], "b": ["v"]},
        )
    assert _db_manifest(db)["token"] == before
    got_b = {r.k: r.v for r in read_versioned_db(spark, db, "b").collect()}
    assert got_b[1] == 1.0  # b unchanged too — atomicity held
    alter_versioned_db_drop_constraint(db, "a", "v_nonneg")
    assert "constraints" not in _db_manifest(db)["tables"]["a"]


def test_constraint_change_conflicts_row_adding_rebase(
    spark, versioned_layouts
):
    from amaxa_spark.sources.catalog import ConcurrentMergeError

    for lay in versioned_layouts:
        lay.write(_frame(spark), "k", n_buckets=4)
        t0 = lay.manifest()["token"]
        lay.add_constraint("v_nonneg", "v >= 0")
        # a merge that validated against the PRE-constraint snapshot
        # must not rebase past the ALTER — its rows were never checked
        with pytest.raises(ConcurrentMergeError, match="constraint set"):
            lay.merge(_upd(spark, [(1, 5.0)]), "k", ["v"], base_token=t0)
        # a DELETE from the same stale snapshot rebases freely:
        # removing rows cannot violate a constraint
        lay.delete(
            spark.createDataFrame([(2,)], "k long"), "k", base_token=t0
        )
        got = {r.k for r in lay.read().collect()}
        assert 2 not in got and 1 in got, lay


def test_db_add_constraint_validates_existing(spark, tmp_path):
    db = str(tmp_path / "db")
    write_versioned_db(
        spark, db, {"a": _frame(spark)}, {"a": "k"}, n_buckets=2
    )
    with pytest.raises(ConstraintViolationError, match="v_tiny"):
        alter_versioned_db_add_constraint(spark, db, "a", "v_tiny", "v < 5")
    with pytest.raises(ValueError, match="no table"):
        alter_versioned_db_add_constraint(spark, db, "zz", "c", "1=1")
