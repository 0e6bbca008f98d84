"""Merge-on-read DELETE via deletion vectors (Delta/Iceberg's DV
idea on the bucket layout): ``delete_from_versioned(mode="dv")``
writes one small parquet of deleted pks per affected bucket — NO data
file rewrites — and the manifest's ``dv`` map points readers at it.
Every read anti-joins; any rewrite of a bucket materializes the
delete and sheds its entry atomically in the same commit; DV and
rewrite commits on the same bucket conflict symmetrically."""

import glob
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from amaxa_spark.sources.catalog import (
    ConcurrentMergeError,
    alter_versioned_rename_column,
    delete_from_versioned,
    delete_from_versioned_db,
    diff_versioned,
    export_snapshot,
    manifest_to_sql,
    merge_into_versioned,
    merge_into_versioned_db,
    optimize_versioned,
    optimize_versioned_db,
    read_versioned_db,
    read_versioned_table,
    update_versioned,
    vacuum_versioned,
    write_versioned_db,
    write_versioned_table,
    _bucket_manifest,
    _db_manifest,
)


def _frame(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )


def _keys(spark, *ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def _data_files(root):
    return sorted(glob.glob(os.path.join(root, "gen-*", "*=*", "*.parquet")))


def test_dv_delete_writes_no_data_files(spark, tmp_path):
    root = str(tmp_path / "t")
    m0 = write_versioned_table(_frame(spark), root, "k", n_buckets=4)
    before = _data_files(root)
    m1 = delete_from_versioned(spark, root, _keys(spark, 3, 7, 100), "k", mode="dv")
    assert m1["dv"]
    # original data files byte-identical; the only new files are the
    # tiny DV sidecars of the new generation
    assert [p for p in _data_files(root) if p in before] == before
    r = read_versioned_table(spark, root)
    assert r.count() == 38 and r.where("k IN (3, 7)").count() == 0
    # pre-delete token still shows everything
    assert read_versioned_table(spark, root, token=m0["token"]).count() == 40


def test_dv_union_and_idempotent_replay(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=4)
    delete_from_versioned(spark, root, _keys(spark, 3, 7), "k", mode="dv")
    m2 = delete_from_versioned(spark, root, _keys(spark, 5, 3), "k", mode="dv")
    r = read_versioned_table(spark, root)
    assert r.count() == 37 and r.where("k IN (3, 5, 7)").count() == 0
    # a replay whose keys are all already dead commits nothing
    m3 = delete_from_versioned(spark, root, _keys(spark, 3, 7), "k", mode="dv")
    assert m3["token"] == m2["token"]


def test_rewrites_materialize_and_shed_dv(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=4)
    delete_from_versioned(spark, root, _keys(spark, 3, 5, 7), "k", mode="dv")
    # MERGE with insert resurrects the key as a NEW row and sheds the
    # rewritten bucket's DV; other dead keys stay dead
    up = spark.createDataFrame([(3, 99.0)], "k long, v double")
    merge_into_versioned(spark, root, up, "k", ["v"], not_matched="insert")
    r = read_versioned_table(spark, root)
    assert r.where("k = 3").select("v").first()[0] == 99.0
    assert r.count() == 38 and r.where("k IN (5, 7)").count() == 0
    # a full-table UPDATE rewrites every bucket -> every DV sheds,
    # and none of the dead rows come back
    update_versioned(spark, root, {"v": F.lit(-1.0)}, where="k >= 0")
    assert not _bucket_manifest(root).get("dv")
    r = read_versioned_table(spark, root)
    assert r.count() == 38 and r.where("k IN (5, 7)").count() == 0


def test_optimize_picks_and_materializes_dv_buckets(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=4)
    delete_from_versioned(spark, root, _keys(spark, 10, 11), "k", mode="dv")
    # max_files high: ONLY the dv'd buckets qualify
    m, compacted = optimize_versioned(spark, root, max_files=999)
    assert compacted
    assert not _bucket_manifest(root).get("dv")
    r = read_versioned_table(spark, root)
    assert r.count() == 38 and r.where("k IN (10, 11)").count() == 0


def test_dv_external_sql_and_export(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=4)
    delete_from_versioned(spark, root, _keys(spark, 2, 9), "k", mode="dv")
    sql = manifest_to_sql(root)
    con = duckdb.connect()
    n, dead = con.execute(
        f"SELECT count(*), count(*) FILTER (k IN (2, 9)) FROM ({sql})"
    ).fetchone()
    con.close()
    assert (n, dead) == (38, 0)
    # a zero-copy link export would resurrect the deleted rows
    with pytest.raises(ValueError, match="deletion vector"):
        export_snapshot(root, str(tmp_path / "out0"))
    rec = export_snapshot(root, str(tmp_path / "out1"), spark=spark)
    assert rec["mode"] == "materialized"
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/out1/*.parquet')"
    ).fetchone()[0]
    con.close()
    assert n == 38


def test_dv_skipping_stays_exact(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(
        _frame(spark), root, "k", n_buckets=4, stats_cols=["v"]
    )
    delete_from_versioned(spark, root, _keys(spark, 35, 36), "k", mode="dv")
    # stats were harvested pre-delete (upper bounds); the pruned read
    # must still be exact because the DV filter applies after skipping
    assert read_versioned_table(
        spark, root, prune=[("v", 30.0, None)]
    ).count() == 8
    assert read_versioned_table(spark, root, pk_in=[35, 20]).count() == 1


def test_dv_diff_and_cdc_replay(spark, tmp_path):
    root = str(tmp_path / "t")
    m0 = write_versioned_table(_frame(spark, 12), root, "k", n_buckets=2)
    m1 = delete_from_versioned(spark, root, _keys(spark, 4, 8), "k", mode="dv")
    dd = diff_versioned(spark, root, m0["token"], m1["token"])
    rows = dd.select("k", "_change_type").collect()
    assert {r.k for r in rows} == {4, 8}
    assert {r["_change_type"] for r in rows} == {"delete"}
    # the feed replays onto a rewrite-layout replica
    from amaxa_spark.sources.catalog import apply_changes_versioned

    replica = str(tmp_path / "r")
    write_versioned_table(
        read_versioned_table(spark, root, token=m0["token"]).drop("__mb"),
        replica, "k", n_buckets=3,
    )
    apply_changes_versioned(spark, replica, dd.drop("__mb"))
    assert read_versioned_table(spark, replica).count() == 10


def test_dv_conflicts_are_symmetric(spark, versioned_layouts):
    for lay in versioned_layouts:
        m0 = lay.write(_frame(spark, 12), "k", n_buckets=2)
        lay.delete(_keys(spark, 1), "k", mode="dv")
        # a rewrite whose snapshot predates the DV must not land (it
        # would resurrect the deleted row)
        up = spark.createDataFrame([(1, 50.0)], "k long, v double")
        with pytest.raises(ConcurrentMergeError, match="deletion vector"):
            lay.merge(up, "k", ["v"], base_token=m0["token"])
        # and a DV whose snapshot predates a rewrite must not land either
        mh = lay.manifest()
        lay.merge(
            spark.createDataFrame([(2, 9.0)], "k long, v double"),
            "k", ["v"],
        )
        with pytest.raises(ConcurrentMergeError):
            lay.delete(
                _keys(spark, 2), "k", mode="dv", base_token=mh["token"]
            )


def test_dv_vacuum_keeps_referenced_sidecars(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=2)
    delete_from_versioned(spark, root, _keys(spark, 1), "k", mode="dv")
    # churn a few commits so older generations age out
    for i in range(3):
        up = spark.createDataFrame([(30 + i, 0.0)], "k long, v double")
        merge_into_versioned(spark, root, up, "k", ["v"])
    vacuum_versioned(root, keep_last=1)
    r = read_versioned_table(spark, root)
    assert r.where("k = 1").count() == 0 and r.count() == 39


def test_dv_db_transactional(spark, tmp_path):
    root = str(tmp_path / "db")
    a = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"))
    b = spark.range(10).select(
        F.col("id").alias("pk"), F.concat(F.lit("x"), F.col("id")).alias("label")
    )
    write_versioned_db(
        spark, root, {"ta": a, "tb": b}, {"ta": "k", "tb": "pk"}, n_buckets=2
    )
    delete_from_versioned_db(spark, root, {
        "ta": spark.createDataFrame([(4,)], "k long"),
        "tb": spark.createDataFrame([(4,)], "pk long"),
    }, mode="dv")
    assert read_versioned_db(spark, root, "ta").where("k = 4").count() == 0
    assert read_versioned_db(spark, root, "tb").where("pk = 4").count() == 0
    m = _db_manifest(root)
    assert m["tables"]["ta"].get("dv") and m["tables"]["tb"].get("dv")
    # resurrect on ta via insert-merge; tb's DV survives untouched
    up = spark.createDataFrame([(4, -1.0)], "k long, v double")
    merge_into_versioned_db(
        spark, root, {"ta": up}, {"ta": ["v"]}, not_matched="insert"
    )
    assert read_versioned_db(spark, root, "ta").where(
        "k = 4"
    ).select("v").first()[0] == -1.0
    assert read_versioned_db(spark, root, "tb").where("pk = 4").count() == 0
    # db optimize materializes tb's DV
    optimize_versioned_db(spark, root, max_files=999)
    assert not _db_manifest(root)["tables"]["tb"].get("dv")
    assert read_versioned_db(spark, root, "tb").count() == 9


def test_dv_composes_with_rename(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=2)
    alter_versioned_rename_column(root, "v", "score", spark)
    delete_from_versioned(spark, root, _keys(spark, 6), "k", mode="dv")
    r = read_versioned_table(spark, root)
    assert r.count() == 39 and "score" in r.columns
    # UPDATE through both features at once
    update_versioned(spark, root, {"score": F.lit(0.0)}, where="k = 7")
    r = read_versioned_table(spark, root)
    assert r.where("k = 6").count() == 0
    assert r.where("k = 7").select("score").first()[0] == 0.0


def test_dv_metadata_stats_stay_exact_or_none(spark, tmp_path):
    from amaxa_spark.sources.catalog import versioned_table_stats

    root = str(tmp_path / "t")
    write_versioned_table(
        _frame(spark), root, "k", n_buckets=2, stats_cols=["v"]
    )
    s0 = versioned_table_stats(root)
    assert s0["rows"] == 40
    delete_from_versioned(spark, root, _keys(spark, 1), "k", mode="dv")
    # harvested numbers are now upper bounds for the DV'd bucket —
    # the metadata answer must be None, never a wrong number
    s1 = versioned_table_stats(root)
    assert s1["rows"] is None
    assert s1["dv_buckets"]  # operator visibility: which buckets
    # materializing restores exact metadata answers
    optimize_versioned(spark, root, max_files=999)
    s2 = versioned_table_stats(root)
    assert s2["rows"] == 39


def test_stream_merge_retries_bounded(spark, tmp_path, monkeypatch):
    import amaxa_spark.streaming.merge_stream as MS
    from amaxa_spark.sources.catalog import (
        ConcurrentMergeError as CME,
        merge_into_versioned as real_merge,
    )
    from amaxa_spark.streaming.merge_stream import upsert_batch

    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark, 10), root, "k", n_buckets=2)
    calls = {"n": 0}

    def flaky(*a, **kw):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise CME("synthetic rename/DV/rewrite race")
        return real_merge(*a, **kw)

    monkeypatch.setattr(MS, "merge_into_versioned", flaky)
    batch = spark.createDataFrame([(1, 5.0, 1)], "k long, v double, seq long")
    # default contract unchanged: no retries -> the conflict surfaces
    with pytest.raises(CME):
        upsert_batch(
            spark, root, batch, "k", ["v"], "seq",
            stream_id="s", batch_id=0,
        )
    # bounded in-place retry rides out the race and commits
    calls["n"] = 0
    m = upsert_batch(
        spark, root, batch, "k", ["v"], "seq",
        stream_id="s", batch_id=0, merge_retries=2,
    )
    assert m is not None and calls["n"] == 3
    assert read_versioned_table(spark, root).where(
        "k = 1"
    ).select("v").first()[0] == 5.0
    # exhausted retries still raise (never an infinite loop)
    def always(*a, **kw):
        raise CME("permanent")

    monkeypatch.setattr(MS, "merge_into_versioned", always)
    with pytest.raises(CME):
        upsert_batch(
            spark, root, batch, "k", ["v"], "seq",
            stream_id="s", batch_id=1, merge_retries=2,
        )


def test_dv_clone_and_restore(spark, tmp_path):
    from amaxa_spark.sources.catalog import (
        clone_versioned,
        restore_versioned,
    )

    root = str(tmp_path / "t")
    m0 = write_versioned_table(_frame(spark), root, "k", n_buckets=2)
    m1 = delete_from_versioned(spark, root, _keys(spark, 3, 8), "k", mode="dv")
    # a shallow clone must carry the DV sidecars or it would
    # resurrect the deleted rows
    clone = str(tmp_path / "c")
    clone_versioned(root, clone)
    rc = read_versioned_table(spark, clone)
    assert rc.count() == 38 and rc.where("k IN (3, 8)").count() == 0
    # divergence: deleting more on the clone leaves the source alone
    delete_from_versioned(spark, clone, _keys(spark, 9), "k", mode="dv")
    assert read_versioned_table(spark, clone).count() == 37
    assert read_versioned_table(spark, root).count() == 38
    # RESTORE re-publishes the DV state of the target token
    merge_into_versioned(
        spark, root,
        spark.createDataFrame([(3, 0.0)], "k long, v double"),
        "k", ["v"], not_matched="insert",
    )
    assert read_versioned_table(spark, root).where("k = 3").count() == 1
    restore_versioned(root, m1["token"])
    r = read_versioned_table(spark, root)
    assert r.count() == 38 and r.where("k IN (3, 8)").count() == 0
    restore_versioned(root, m0["token"])
    assert read_versioned_table(spark, root).count() == 40


def test_dv_mode_validation(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark, 10), root, "k", n_buckets=2)
    with pytest.raises(ValueError, match="mode"):
        delete_from_versioned(spark, root, _keys(spark, 1), "k", mode="x")
    # keys that miss entirely commit nothing
    m = _bucket_manifest(root)
    m2 = delete_from_versioned(spark, root, _keys(spark, 999), "k", mode="dv")
    assert m2["token"] == m["token"]
