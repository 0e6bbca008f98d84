"""Merge-on-read UPDATE (deletion vector + update overlay) —
``update_versioned(mode="dv")``: matched pks join the bucket's DV
(killing base versions) and the new row versions land in an UPDATE
overlay sidecar; readers compose ``(base \\ DV) ∪ patch``; rewrites
and OPTIMIZE materialize and shed both atomically. Round-11 item #2
(cites ref behavior: amaxa has no storage layer — this is
beyond-reference Delta parity)."""

import glob
import json
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from amaxa_spark.sources import catalog as C
from amaxa_spark.sources.catalog import (
    ConstraintViolationError,
    alter_versioned_add_constraint,
    clone_versioned,
    delete_from_versioned,
    diff_versioned,
    manifest_to_sql,
    merge_into_versioned,
    optimize_versioned,
    read_versioned_db,
    read_versioned_table,
    restore_versioned,
    update_versioned,
    update_versioned_db,
    vacuum_versioned,
    write_versioned_db,
    write_versioned_table,
    _bucket_manifest,
)


def _frame(spark, n=80):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.0).alias("v"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )


def _data_files(root):
    return sorted(glob.glob(os.path.join(root, "gen-*", "*=*", "*.parquet")))


def _vals(spark, root, *ks, token=None):
    r = read_versioned_table(spark, root, token=token)
    return {x.k: x.v for x in r.where(F.col("k").isin(list(ks))).collect()}


def test_dv_update_writes_no_data_files_and_reads_compose(spark, tmp_path):
    root = str(tmp_path / "t")
    m0 = write_versioned_table(_frame(spark), root, "k", n_buckets=4)
    before = _data_files(root)
    m1 = update_versioned(
        spark, root, {"v": "v * 10"}, where="k IN (3, 7, 50)", mode="dv"
    )
    assert m1["patch"] and m1["dv"]
    # base files byte-identical — only sidecars were written
    assert [p for p in _data_files(root) if p in before] == before
    r = read_versioned_table(spark, root)
    assert r.count() == 80
    assert _vals(spark, root, 3, 7, 50, 4) == {
        3: 30.0, 7: 70.0, 50: 500.0, 4: 4.0,
    }
    # time travel to the pre-update snapshot
    assert _vals(spark, root, 3, token=m0["token"]) == {3: 3.0}


def test_dv_update_overlay_carry_and_reupdate(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=2)
    update_versioned(spark, root, {"v": "v * 10"}, where="k IN (3, 7)", mode="dv")
    # second dv update re-updates one patched key and one fresh key:
    # the overlay union must supersede the old patch row, carry the
    # untouched one, and the read must stay exactly-one-row-per-key
    update_versioned(spark, root, {"v": "v + 1"}, where="k IN (3, 8)", mode="dv")
    r = read_versioned_table(spark, root)
    assert r.count() == 80
    assert _vals(spark, root, 3, 7, 8) == {3: 31.0, 7: 70.0, 8: 9.0}


def test_dv_delete_shrinks_overlay(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=2)
    update_versioned(spark, root, {"v": "v * 10"}, where="k IN (3, 7)", mode="dv")
    delete_from_versioned(
        spark, root,
        spark.createDataFrame([(3,), (10,)], "k long"), "k", mode="dv",
    )
    r = read_versioned_table(spark, root)
    assert r.count() == 78
    assert r.where("k IN (3, 10)").count() == 0
    assert _vals(spark, root, 7) == {7: 70.0}
    # deleting the last patched key drops the bucket's overlay entry
    delete_from_versioned(
        spark, root, spark.createDataFrame([(7,)], "k long"), "k", mode="dv"
    )
    m = _bucket_manifest(root)
    assert not m.get("patch")
    assert read_versioned_table(spark, root).count() == 77


def test_rewrite_paths_materialize_and_shed_overlay(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=2)
    update_versioned(spark, root, {"v": "v * 10"}, where="k IN (3, 7)", mode="dv")
    # a rewrite UPDATE touching a patched bucket reads through the
    # overlay and sheds it for the buckets it rewrites
    update_versioned(spark, root, {"v": "v * 2"}, where="k = 7")
    r = read_versioned_table(spark, root)
    assert r.count() == 80 and _vals(spark, root, 7) == {7: 140.0}
    # merges read through overlays too
    upd = spark.createDataFrame([(3, -5.0)], "k long, v double")
    merge_into_versioned(spark, root, upd, "k", ["v"])
    assert _vals(spark, root, 3) == {3: -5.0}
    # OPTIMIZE materializes everything left
    optimize_versioned(spark, root)
    m = _bucket_manifest(root)
    assert not m.get("dv") and not m.get("patch")
    r = read_versioned_table(spark, root)
    assert r.count() == 80 and _vals(spark, root, 3, 7) == {3: -5.0, 7: 140.0}


def test_pruned_reads_are_overlay_exact(spark, tmp_path):
    """Stats/bloom/file-tier pruning must never hide a patched row
    whose new value lies outside the base generation's stats."""
    root = str(tmp_path / "t")
    write_versioned_table(
        _frame(spark), root, "k", n_buckets=4,
        stats_cols=["v"], file_stats=True,
    )
    update_versioned(spark, root, {"v": "99999.0"}, where="k = 8", mode="dv")
    got = read_versioned_table(
        spark, root, prune=[("v", 90000.0, None)]
    ).collect()
    assert [(x.k, x.v) for x in got] == [(8, 99999.0)]
    # and the manifest stats purged the patched bucket's entry
    m = _bucket_manifest(root)
    patched = set(m["patch"])
    assert not patched & set(m.get("bucket_stats") or {})


def test_external_sql_and_diff_see_overlays(spark, tmp_path):
    root = str(tmp_path / "t")
    m0 = write_versioned_table(
        _frame(spark), root, "k", n_buckets=4, stats_cols=["v"]
    )
    m1 = update_versioned(
        spark, root, {"v": "v * 10"}, where="k IN (3, 7)", mode="dv"
    )
    native = sorted(
        (x.k, x.v)
        for x in read_versioned_table(spark, root).select("k", "v").collect()
    )
    ext = sorted(
        map(tuple, duckdb.sql(
            f"SELECT k, v FROM ({manifest_to_sql(root)})"
        ).fetchall())
    )
    assert native == ext
    # pruned external SQL keeps the overlay value outside base stats
    update_versioned(spark, root, {"v": "99999.0"}, where="k = 8", mode="dv")
    ext2 = set(map(tuple, duckdb.sql(
        "SELECT k, v FROM "
        f"({manifest_to_sql(root, prune=[('v', 90000.0, None)])})"
    ).fetchall()))
    assert (8, 99999.0) in ext2
    # CDC diff reports the update as pre/post images
    d = diff_versioned(spark, root, m0["token"], m1["token"])
    posts = {x.k: x.v for x in d.where("_change_type='update_postimage'").collect()}
    assert posts == {3: 30.0, 7: 70.0}


def test_dv_update_constraints_and_null_pk(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=2)
    alter_versioned_add_constraint(spark, root, "v_pos", "v >= 0")
    with pytest.raises(ConstraintViolationError):
        update_versioned(spark, root, {"v": "-1.0"}, where="k = 3", mode="dv")
    # nothing published
    assert _vals(spark, root, 3) == {3: 3.0}
    # NULL-pk rows cannot be dv-updated
    root2 = str(tmp_path / "t2")
    df = spark.createDataFrame(
        [(1, 1.0, "a"), (None, 2.0, "b")], "k long, v double, name string"
    )
    write_versioned_table(df, root2, "k", n_buckets=1)
    with pytest.raises(ValueError, match="NULL"):
        update_versioned(spark, root2, {"v": "0.0"}, mode="dv")


def test_dv_update_conflicts_with_racing_rewrite(spark, versioned_layouts):
    for lay in versioned_layouts:
        lay.write(_frame(spark), "k", n_buckets=1)
        base = lay.manifest()["token"]
        # a rewrite lands after the dv-update's snapshot was read
        lay.update({"v": "v + 100"}, where="k = 5")
        with pytest.raises(C.ConcurrentMergeError):
            lay.update(
                {"v": "v * 10"}, where="k = 5", mode="dv", base_token=base
            )


def test_vacuum_restore_clone_carry_overlays(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=2)
    m1 = update_versioned(
        spark, root, {"v": "v * 10"}, where="k = 3", mode="dv"
    )
    # churn some rewrites so vacuum has something to reclaim, keeping
    # the patched snapshot inside the retention window
    for i in range(3):
        update_versioned(spark, root, {"v": "v"}, where=f"k = {40 + i}")
    vacuum_versioned(root, keep_last=10)
    # the overlay generation survived retention
    assert _vals(spark, root, 3) == {3: 30.0}
    # restore to the patched snapshot re-publishes its overlay map
    restore_versioned(root, m1["token"])
    assert _bucket_manifest(root).get("patch")
    assert _vals(spark, root, 3) == {3: 30.0}
    # clone links overlay sidecars
    dst = str(tmp_path / "c")
    clone_versioned(root, dst)
    assert _vals(spark, dst, 3) == {3: 30.0}
    assert read_versioned_table(spark, dst).count() == 80


def test_optimize_min_dv_frac_threshold(spark, tmp_path):
    """OPTIMIZE's merge-on-read materialization floor: a bucket with
    a sub-threshold vector is left alone (no rewrite, entry kept); a
    bucket above it materializes — decided from parquet footer
    metadata only."""
    root = str(tmp_path / "t")
    # one bucket, one file, 100 rows; DV away 2 rows => 2% invalidated
    # (coalesced so the max_files fragmentation rule stays quiet and
    # the threshold is the only thing deciding)
    write_versioned_table(
        _frame(spark, 100).coalesce(1), root, "k", n_buckets=1
    )
    delete_from_versioned(
        spark, root, spark.createDataFrame([(1,), (2,)], "k long"),
        "k", mode="dv",
    )
    files_before = _data_files(root)
    m, compacted = optimize_versioned(spark, root, min_dv_frac=0.10)
    assert compacted == [] and m.get("dv")  # below floor: untouched
    assert _data_files(root) == files_before  # zero bytes rewritten
    # push past the floor (12% dead) — now it materializes
    delete_from_versioned(
        spark, root,
        spark.createDataFrame([(k,) for k in range(3, 13)], "k long"),
        "k", mode="dv",
    )
    m, compacted = optimize_versioned(spark, root, min_dv_frac=0.10)
    assert compacted == [0] and not m.get("dv")
    assert read_versioned_table(spark, root).count() == 88
    # overlays count toward the fraction too
    update_versioned(
        spark, root, {"v": "v*2"}, where="k >= 50 AND k < 70", mode="dv"
    )
    m, compacted = optimize_versioned(spark, root, min_dv_frac=0.10)
    assert compacted == [0] and not m.get("patch") and not m.get("dv")
    # default threshold 0.0 keeps always-materialize semantics
    delete_from_versioned(
        spark, root, spark.createDataFrame([(99,)], "k long"),
        "k", mode="dv",
    )
    m, compacted = optimize_versioned(spark, root)
    assert compacted == [0] and not m.get("dv")


def test_db_layout_dv_update(spark, tmp_path):
    db = str(tmp_path / "db")
    write_versioned_db(
        spark, db,
        {"a": _frame(spark, 50), "b": _frame(spark, 30)},
        {"a": "k", "b": "k"}, n_buckets={"a": 4, "b": 2},
    )
    m = update_versioned_db(
        spark, db,
        {
            "a": {"set": {"v": "v*10"}, "where": "k IN (3, 7)"},
            "b": {"set": {"v": "v+5"}, "where": "k = 2"},
        },
        mode="dv",
    )
    ta = m["tables"]["a"]
    assert ta.get("patch") and ta.get("dv")
    ra = read_versioned_db(spark, db, "a")
    assert ra.count() == 50
    assert {x.k: x.v for x in ra.where("k IN (3,7)").collect()} == {
        3: 30.0, 7: 70.0,
    }
    assert read_versioned_db(spark, db, "b").where("k=2").first().v == 7.0
    # head == mirror through the transactional dv update
    with open(os.path.join(db, "_MANIFEST.json")) as f:
        mirror = json.load(f)
    mirror.pop("committed_at")
    assert C._commit_chain_head(db)[1] == mirror
