"""Metadata-only ALTER RENAME COLUMN via Delta-style column mapping:
parquet files keep a column's ORIGINAL physical name forever; the
manifest's ``column_map`` records logical→physical; readers translate
after the scan, every rewrite verb translates back before the write.
Zero parquet rewrites at any table size, pre-rename tokens time-travel
with the old name, and immutable sidecars (file stats, blooms) stay
keyed by the stable physical name."""

import glob
import os

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from amaxa_spark.sources.catalog import (
    ConcurrentMergeError,
    MERGE_BUCKET_COL,
    alter_versioned_add_columns,
    alter_versioned_add_constraint,
    alter_versioned_db_rename_column,
    alter_versioned_drop_columns,
    alter_versioned_rename_column,
    delete_from_versioned,
    diff_versioned,
    manifest_to_sql,
    merge_into_versioned,
    merge_into_versioned_db,
    optimize_versioned,
    read_versioned_db,
    read_versioned_table,
    update_versioned,
    write_versioned_db,
    write_versioned_table,
    _bucket_manifest,
)


def _frame(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.0).alias("v"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )


def _physical_names(root: str) -> set:
    names = set()
    for p in glob.glob(os.path.join(root, "gen-*", "*=*", "*.parquet")):
        names |= set(pq.read_schema(p).names)
    return names


def test_rename_is_metadata_only_and_time_travels(spark, tmp_path):
    root = str(tmp_path / "t")
    m0 = write_versioned_table(_frame(spark), root, "k", n_buckets=4)
    files_before = sorted(
        glob.glob(os.path.join(root, "gen-*", "*=*", "*.parquet"))
    )
    m1 = alter_versioned_rename_column(root, "v", "score", spark)
    assert m1["column_map"] == {"score": "v"}
    # zero parquet rewrites
    assert files_before == sorted(
        glob.glob(os.path.join(root, "gen-*", "*=*", "*.parquet"))
    )
    r = read_versioned_table(spark, root)
    assert set(r.columns) == {"k", "score", "name", MERGE_BUCKET_COL}
    assert r.where("k = 3").select("score").first()[0] == 3.0
    # pre-rename token reads with the old name
    r0 = read_versioned_table(spark, root, token=m0["token"])
    assert "v" in r0.columns and "score" not in r0.columns


def test_rewrites_keep_physical_name(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=4)
    alter_versioned_rename_column(root, "v", "score", spark)
    update_versioned(spark, root, {"score": F.lit(-1.0)}, where="k = 5")
    up = spark.range(3).select(
        F.col("id").alias("k"),
        F.lit(99.0).alias("score"),
        F.lit("zz").alias("name"),
    )
    merge_into_versioned(spark, root, up, "k", ["score", "name"])
    delete_from_versioned(
        spark, root, spark.range(39, 40).select(F.col("id").alias("k")), "k"
    )
    r = read_versioned_table(spark, root)
    assert r.count() == 39
    assert r.where("k = 5").select("score").first()[0] == -1.0
    assert r.where("k = 1").select("score").first()[0] == 99.0
    # every generation — pre- and post-rename — carries the ORIGINAL
    # physical name, so mergeSchema never sees two names for one column
    names = _physical_names(root)
    assert "v" in names and "score" not in names


def test_skipping_exact_under_new_name(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(
        _frame(spark), root, "k", n_buckets=4,
        stats_cols=["v"], bloom_cols=["name"], file_stats=True,
    )
    alter_versioned_rename_column(root, "v", "score", spark)
    # range prune + residual stay exact with the logical name
    assert read_versioned_table(
        spark, root, prune=[("score", 30.0, None)]
    ).count() == 10
    # bloom equality on an untouched column
    assert read_versioned_table(spark, root, eq=[("name", "n7")]).count() == 1
    # a rewrite harvests fresh stats under the new LOGICAL key and
    # fresh sidecars under the stable PHYSICAL key
    update_versioned(spark, root, {"score": F.lit(0.5)}, where="k = 35")
    m = _bucket_manifest(root)
    cols = set()
    for ent in m["bucket_stats"].values():
        cols |= set(ent.get("cols") or {})
    assert "score" in cols and "v" not in cols
    import json

    gen = m["buckets"][
        next(iter(m["buckets"]))
    ]
    with open(os.path.join(root, gen, "_filestats.json")) as f:
        sc = json.load(f)
    side_cols = set()
    for files in sc.values():
        for ent in files.values():
            side_cols |= set(ent.get("cols") or {})
    assert "v" in side_cols and "score" not in side_cols
    assert read_versioned_table(
        spark, root, prune=[("score", 30.0, None)]
    ).count() == 9  # k=35 moved to 0.5


def test_rename_added_column_and_drop_renamed(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=2)
    alter_versioned_add_columns(root, {"tier": ("string", "std")}, spark)
    alter_versioned_rename_column(root, "tier", "grade", spark)
    r = read_versioned_table(spark, root)
    assert r.where("k = 1").select("grade").first()[0] == "std"
    # a rewrite materializes the renamed added column under its
    # ADD-TIME physical name
    up = spark.range(1).select(
        F.col("id").alias("k"), F.lit("gold").alias("grade")
    )
    merge_into_versioned(spark, root, up, "k", ["grade"])
    assert read_versioned_table(spark, root).where(
        "k = 0"
    ).select("grade").first()[0] == "gold"
    names = _physical_names(root)
    assert "tier" in names and "grade" not in names
    # dropping by the CURRENT name works; by the old physical name is
    # refused with the pointer
    with pytest.raises(ValueError, match="renamed to 'grade'"):
        alter_versioned_drop_columns(root, ["tier"], spark)
    alter_versioned_drop_columns(root, ["grade"], spark)
    assert "grade" not in read_versioned_table(spark, root).columns
    # the freed logical name cannot be re-used while bytes remain
    with pytest.raises(ValueError, match="re-init"):
        alter_versioned_rename_column(root, "name", "grade", spark)


def test_rename_refusals(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=2)
    with pytest.raises(ValueError, match="no-op"):
        alter_versioned_rename_column(root, "v", "v", spark)
    with pytest.raises(ValueError, match="key column"):
        alter_versioned_rename_column(root, "k", "id", spark)
    with pytest.raises(ValueError, match="reserved"):
        alter_versioned_rename_column(root, "v", MERGE_BUCKET_COL, spark)
    with pytest.raises(ValueError, match="already exists"):
        alter_versioned_rename_column(root, "v", "name", spark)
    with pytest.raises(ValueError, match="no column"):
        alter_versioned_rename_column(root, "ghost", "x", spark)
    alter_versioned_add_constraint(spark, root, "pos_v", "v >= 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        alter_versioned_rename_column(root, "v", "score", spark)


def test_chained_renames_and_rename_back(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=2)
    alter_versioned_rename_column(root, "v", "a1", spark)
    alter_versioned_rename_column(root, "a1", "a2", spark)
    m = _bucket_manifest(root)
    assert m["column_map"] == {"a2": "v"}  # always the ORIGINAL name
    assert read_versioned_table(spark, root).where(
        "k = 2"
    ).select("a2").first()[0] == 2.0
    # renaming back to the original physical name clears the map
    m2 = alter_versioned_rename_column(root, "a2", "v", spark)
    assert "column_map" not in m2
    assert read_versioned_table(spark, root).where(
        "k = 2"
    ).select("v").first()[0] == 2.0


def test_external_sql_and_optimize_after_rename(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(
        _frame(spark), root, "k", n_buckets=2, stats_cols=["v"]
    )
    alter_versioned_rename_column(root, "v", "score", spark)
    update_versioned(spark, root, {"score": F.lit(-3.0)}, where="k = 7")
    sql = manifest_to_sql(root)
    con = duckdb.connect()
    got = dict(con.execute(f"SELECT k, score FROM ({sql})").fetchall())
    con.close()
    assert got[7] == -3.0 and got[1] == 1.0
    # OPTIMIZE clusters by the LOGICAL name and writes physical files
    m, compacted = optimize_versioned(
        spark, root, max_files=1, cluster_by=["score"]
    )
    r = read_versioned_table(spark, root)
    assert r.count() == 40
    assert r.where("k = 7").select("score").first()[0] == -3.0
    assert "score" not in _physical_names(root)


def test_concurrent_rename_conflicts_rewrites(spark, versioned_layouts):
    for lay in versioned_layouts:
        m0 = lay.write(_frame(spark), "k", n_buckets=2)
        lay.rename("v", "score")
        # a merge whose snapshot predates the rename must NOT rebase:
        # its stats/expressions used the old logical namespace
        up = spark.range(1).select(
            F.col("id").alias("k"),
            F.lit(0.0).alias("v"),
            F.lit("x").alias("name"),
        )
        with pytest.raises(ConcurrentMergeError, match="renamed"):
            lay.merge(up, "k", ["v", "name"], base_token=m0["token"])


def test_diff_across_rename_boundary(spark, tmp_path):
    root = str(tmp_path / "t")
    m0 = write_versioned_table(
        spark.range(12).select(F.col("id").alias("k"), F.col("id").alias("c")),
        root, "k", n_buckets=2,
    )
    m1 = alter_versioned_rename_column(root, "c", "c2", spark)
    # metadata-only rename: the bytes did not change, so no diff rows
    assert diff_versioned(spark, root, m0["token"], m1["token"]).count() == 0
    up = spark.range(1).select(
        F.col("id").alias("k"), F.lit(100).cast("long").alias("c2")
    )
    m2 = merge_into_versioned(spark, root, up, "k", ["c2"])
    dd = diff_versioned(spark, root, m0["token"], m2["token"])
    assert "c2" in dd.columns and "c" not in dd.columns
    pre = dd.where("_change_type = 'update_preimage'")
    assert pre.count() == 1 and pre.select("c2").first()[0] == 0


def test_db_rename_twin(spark, tmp_path):
    root = str(tmp_path / "db")
    a = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    b = spark.range(10).select(
        F.col("id").alias("pk"),
        F.concat(F.lit("x"), F.col("id")).alias("label"),
    )
    write_versioned_db(
        spark, root, {"ta": a, "tb": b}, {"ta": "k", "tb": "pk"},
        n_buckets=2,
    )
    alter_versioned_db_rename_column(root, "ta", "v", "value", spark)
    r = read_versioned_db(spark, root, "ta")
    assert "value" in r.columns and "v" not in r.columns
    up = spark.range(2).select(
        F.col("id").alias("k"), F.lit(-7.0).alias("value")
    )
    merge_into_versioned_db(spark, root, {"ta": up}, {"ta": ["value"]})
    assert read_versioned_db(spark, root, "ta").where(
        "k = 0"
    ).select("value").first()[0] == -7.0
    # the sibling table is untouched
    assert read_versioned_db(spark, root, "tb").count() == 10
    with pytest.raises(ValueError, match="no table"):
        alter_versioned_db_rename_column(root, "ghost", "v", "x", spark)


def test_reinit_resets_column_map(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=2)
    alter_versioned_rename_column(root, "v", "score", spark)
    # a full-rewrite re-init writes the CURRENT logical names
    # physically — fresh baseline, map cleared
    cur = read_versioned_table(spark, root).drop(MERGE_BUCKET_COL)
    write_versioned_table(cur, root, "k", n_buckets=2)
    m = _bucket_manifest(root)
    assert "column_map" not in m
    assert "score" in _physical_names(root)
    assert read_versioned_table(spark, root).where(
        "k = 2"
    ).select("score").first()[0] == 2.0


def test_export_materializes_renamed_table(spark, tmp_path):
    from amaxa_spark.sources.catalog import export_snapshot

    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark, 10), root, "k", n_buckets=2)
    alter_versioned_rename_column(root, "v", "score", spark)
    # a zero-copy link export would expose PHYSICAL names — refused
    # without a session, materialized with one
    with pytest.raises(ValueError, match="renamed"):
        export_snapshot(root, str(tmp_path / "out0"))
    out = str(tmp_path / "out1")
    rec = export_snapshot(root, out, spark=spark)
    assert rec["mode"] == "materialized"
    con = duckdb.connect()
    cols = {
        r[0]
        for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{out}/*.parquet')"
        ).fetchall()
    }
    got = dict(
        con.execute(
            f"SELECT k, score FROM read_parquet('{out}/*.parquet')"
        ).fetchall()
    )
    con.close()
    assert "score" in cols and "v" not in cols
    assert got[3] == 3.0


def test_cli_rename_column(spark, tmp_path, capsys):
    from amaxa_spark.__main__ import main

    root = str(tmp_path / "t")
    write_versioned_table(_frame(spark), root, "k", n_buckets=2)
    assert main(["table", "rename-column", root, "v", "score"]) == 0
    assert "renamed v -> score" in capsys.readouterr().out
    assert "score" in read_versioned_table(spark, root).columns
    root2 = str(tmp_path / "db")
    write_versioned_db(
        spark, root2,
        {"ta": _frame(spark, 10)}, {"ta": "k"}, n_buckets=2,
    )
    assert main(
        ["table", "rename-column", root2, "v", "score", "--db",
         "--table", "ta"]
    ) == 0
    assert "score" in read_versioned_db(spark, root2, "ta").columns
