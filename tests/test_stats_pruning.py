"""Manifest-level data skipping over the versioned bucket layout:
per-bucket column stats committed with the data, exact pk-hash bucket
pruning for point lookups, clustering compaction, and the pruned
external (DuckDB) scan.

The invariant every test leans on: pruning is an OPTIMIZATION, never a
semantics change — a pruned read must equal the unpruned read with the
same predicate applied, on every snapshot, after every kind of commit.
"""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from amaxa_spark.sources.catalog import (
    MERGE_BUCKET_COL,
    apply_changes_versioned,
    delete_from_versioned,
    manifest_to_sql,
    merge_into_versioned,
    optimize_versioned,
    pk_value_buckets,
    read_versioned_table,
    stats_prune_buckets,
    write_versioned_table,
    _bucket_manifest,
    _commit_db_update,
    _publish_manifest,
)


def _frame(spark, n=400, n_buckets=8):
    """Rows whose `v` value is DERIVED from the pk-hash bucket
    (v = bucket*1000 + i), so bucket stats genuinely discriminate —
    the correlated-column case where stats pruning pays."""
    base = spark.range(n).select(
        F.concat(F.lit("k"), F.col("id")).alias("Id"),
        F.col("id").alias("i"),
    )
    b = F.pmod(F.xxhash64(F.col("Id").cast("string")), F.lit(n_buckets))
    return base.select(
        "Id",
        (b * 1000 + F.col("i")).cast("long").alias("v"),
        F.concat(F.lit("s"), b.cast("string")).alias("tag"),
        F.when(b == 0, F.lit(None).cast("double"))
        .otherwise(F.col("i").cast("double") / 10)
        .alias("score"),
    )


def _rows(df):
    return sorted(
        (r.Id, r.v, r.tag, r.score)
        for r in df.select("Id", "v", "tag", "score").collect()
    )


def _read_buckets(df):
    """Bucket dirs actually wired into the scan."""
    out = set()
    for f in df.inputFiles():
        for part in f.split(os.sep):
            if part.startswith(f"{MERGE_BUCKET_COL}="):
                out.add(int(part.split("=", 1)[1]))
    return out


def test_init_records_stats_and_prunes_buckets(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _frame(spark)
    mf = write_versioned_table(df, path, "Id", 8, stats_cols=["v", "score"])
    assert mf["stats_cols"] == ["v", "score"]
    assert set(mf["bucket_stats"]) == set(mf["buckets"])
    for b, ent in mf["bucket_stats"].items():
        lo, hi = int(b) * 1000, int(b) * 1000 + 999
        assert lo <= ent["cols"]["v"]["min"] <= ent["cols"]["v"]["max"] <= hi
        assert ent["rows"] > 0

    # a one-bucket-wide range: exactly one bucket survives pruning
    prune = [("v", 3000, 3400)]
    assert stats_prune_buckets(mf, prune) == ["3"] or set(
        stats_prune_buckets(mf, prune)
    ) == {"3"}
    pruned = read_versioned_table(spark, path, prune=prune)
    full = read_versioned_table(spark, path).where(
        F.col("v").isNotNull() & (F.col("v") >= 3000) & (F.col("v") <= 3400)
    )
    assert _rows(pruned) == _rows(full)
    assert _read_buckets(pruned) == {3}

    # unbounded side + all-null bucket: score is all-null in bucket 0,
    # so (score, None, None) — IS NOT NULL — prunes it
    pr2 = read_versioned_table(spark, path, prune=[("score", None, None)])
    assert 0 not in _read_buckets(pr2)
    assert _rows(pr2) == _rows(
        read_versioned_table(spark, path).where(F.col("score").isNotNull())
    )


def test_prune_is_conservative_without_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    mf = write_versioned_table(_frame(spark), path, "Id", 8)  # no stats_cols
    assert "bucket_stats" not in mf
    assert set(stats_prune_buckets(mf, [("v", 0, 1)])) == set(mf["buckets"])
    # string-typed bound against numeric stats is incomparable → keep
    mf2 = write_versioned_table(
        _frame(spark), str(tmp_path / "t2"), "Id", 8, stats_cols=["v"]
    )
    assert set(stats_prune_buckets(mf2, [("v", "zzz", None)])) == set(
        mf2["buckets"]
    )


def test_merge_refreshes_stats_only_for_affected_buckets(spark, tmp_path):
    path = str(tmp_path / "t")
    mf0 = write_versioned_table(
        _frame(spark), path, "Id", 8, stats_cols=["v", "score"]
    )
    # push one key's v far outside its bucket's old range
    upd = spark.createDataFrame([Row(Id="k0", v=999_999)])
    mf1 = merge_into_versioned(spark, path, upd, "Id", ["v"])
    (hot,) = {
        b for b in mf1["buckets"] if mf1["buckets"][b] != mf0["buckets"][b]
    }
    assert mf1["bucket_stats"][hot]["cols"]["v"]["max"] == 999_999
    for b in mf1["buckets"]:
        if b != hot:
            assert mf1["bucket_stats"][b] == mf0["bucket_stats"][b]
    # pruning now finds the outlier only in its bucket
    out = read_versioned_table(spark, path, prune=[("v", 900_000, None)])
    assert [r.Id for r in out.collect()] == ["k0"]
    assert _read_buckets(out) == {int(hot)}
    # and the pre-merge snapshot prunes with the OLD stats
    old = read_versioned_table(
        spark, path, token=mf0["token"], prune=[("v", 900_000, None)]
    )
    assert old.count() == 0


def test_upsert_insert_extends_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    write_versioned_table(_frame(spark), path, "Id", 8, stats_cols=["v"])
    upd = spark.createDataFrame([Row(Id="brand-new", v=-5)])
    mf = merge_into_versioned(
        spark, path, upd, "Id", ["v"], not_matched="insert"
    )
    got = read_versioned_table(spark, path, prune=[("v", None, -1)])
    assert [(r.Id, r.v) for r in got.collect()] == [("brand-new", -5)]
    assert len(_read_buckets(got)) == 1
    # the insert's bucket carries fresh stats including the new min
    (b,) = _read_buckets(got)
    assert mf["bucket_stats"][str(b)]["cols"]["v"]["min"] == -5


def test_delete_and_apply_changes_maintain_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    mf0 = write_versioned_table(
        _frame(spark, n=40, n_buckets=4), path, "Id", 4, stats_cols=["v"]
    )
    full = read_versioned_table(spark, path)
    # delete every key of one bucket → its stats entry disappears
    victim = next(iter(mf0["buckets"]))
    keys = full.where(
        F.col(MERGE_BUCKET_COL) == int(victim)
    ).select("Id")
    mf1 = delete_from_versioned(spark, path, keys, "Id")
    assert victim not in mf1["buckets"]
    assert victim not in mf1["bucket_stats"]
    survivors = set(mf1["buckets"]) - {victim}
    for b in survivors:
        assert mf1["bucket_stats"][b] == mf0["bucket_stats"][b]

    # CDC-apply with an upsert refreshes the touched bucket's stats
    feed = spark.createDataFrame(
        [Row(Id="k1", v=777_777, tag="x", score=1.0,
             _change_type="update_postimage")]
    )
    mf2 = apply_changes_versioned(spark, path, feed)
    got = read_versioned_table(spark, path, prune=[("v", 700_000, None)])
    assert [r.Id for r in got.collect()] == ["k1"]
    assert len(_read_buckets(got)) == 1
    assert mf2["seq"] == mf1["seq"] + 1


def test_stale_stats_impossible_without_harvest(spark, tmp_path):
    """A bucket-rewriting commit that harvests nothing must PURGE the
    bucket's stats, not inherit the superseded entry (which would
    prune live rows)."""
    path = str(tmp_path / "t")
    mf0 = write_versioned_table(
        _frame(spark, n=40, n_buckets=4), path, "Id", 4, stats_cols=["v"]
    )
    victim = next(iter(mf0["buckets"]))
    # simulate a raw committer: rewrite the bucket with NO our_stats
    import shutil

    gen = "gen-rawcommit0001"
    src = os.path.join(path, mf0["buckets"][victim],
                       f"{MERGE_BUCKET_COL}={victim}")
    dst = os.path.join(path, gen, f"{MERGE_BUCKET_COL}={victim}")
    shutil.copytree(src, dst)
    mf1 = _commit_db_update(path, mf0, {None: {victim: gen}}, "rawcommit0001")
    _publish_manifest(path, mf1)
    assert victim not in mf1["bucket_stats"]
    # the un-harvested bucket is now always read (conservative)
    assert victim in stats_prune_buckets(mf1, [("v", 10**9, None)])


def test_pk_in_point_lookup_reads_only_hashed_buckets(spark, tmp_path):
    path = str(tmp_path / "t")
    mf = write_versioned_table(_frame(spark), path, "Id", 8)
    want = ["k3", "k17", "k333"]
    got = read_versioned_table(spark, path, pk_in=want + ["missing", None])
    assert sorted(r.Id for r in got.collect()) == sorted(want)
    expect_buckets = set(pk_value_buckets(spark, mf, want + ["missing"]))
    assert _read_buckets(got) <= expect_buckets
    assert len(_read_buckets(got)) <= 4
    # composes with stats pruning
    both = read_versioned_table(
        spark, path, prune=[("v", 0, 10**7)], pk_in=["k3"]
    )
    assert [r.Id for r in both.collect()] == ["k3"]
    # empty / all-null value lists read nothing but stay typed
    none = read_versioned_table(spark, path, pk_in=[])
    assert none.count() == 0 and "v" in none.columns


def test_prune_to_empty_returns_typed_frame(spark, tmp_path):
    path = str(tmp_path / "t")
    write_versioned_table(_frame(spark), path, "Id", 8, stats_cols=["v"])
    out = read_versioned_table(spark, path, prune=[("v", 10**9, None)])
    assert out.count() == 0
    assert [f for f in out.columns if f != MERGE_BUCKET_COL] == [
        "Id", "v", "tag", "score"
    ]


def test_optimize_cluster_by_sorts_and_keeps_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _frame(spark).repartition(6)  # multiple files per bucket
    write_versioned_table(df, path, "Id", 4, stats_cols=["v"])
    mf, compacted = optimize_versioned(
        spark, path, cluster_by=["score"]
    )
    assert sorted(compacted) == sorted(int(b) for b in mf["buckets"])
    assert mf["clustered_by"] == ["score"]
    # stats survived the rewrite and row content is identical
    assert set(mf["bucket_stats"]) == set(mf["buckets"])
    clustered = read_versioned_table(spark, path)
    assert _rows(clustered) == _rows(
        read_versioned_table(spark, path, token=_pre_token(path, mf))
    )
    # one file per bucket, rows inside sorted by the cluster column
    for b, gen in mf["buckets"].items():
        bdir = os.path.join(path, gen, f"{MERGE_BUCKET_COL}={b}")
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        assert len(files) == 1
        import pyarrow.parquet as pq

        scores = pq.read_table(
            os.path.join(bdir, files[0]), columns=["score"]
        )["score"].to_pylist()
        nn = [s for s in scores if s is not None]
        assert nn == sorted(nn)


def _pre_token(path, mf):
    gens = sorted(
        os.listdir(os.path.join(path, ".manifests"))
    )
    toks = [g[:-5] for g in gens if g.endswith(".json")]
    return [t for t in toks if t != mf["token"]][0]


def test_rebase_carries_both_writers_stats(spark, tmp_path):
    """Two merges from the same snapshot into DISJOINT buckets: the
    loser rebases, and the committed manifest carries BOTH writers'
    fresh stats plus the untouched buckets' originals."""
    path = str(tmp_path / "t")
    mf0 = write_versioned_table(
        _frame(spark), path, "Id", 8, stats_cols=["v"]
    )
    tok = mf0["token"]
    a = spark.createDataFrame([Row(Id="k0", v=111_111)])
    b = spark.createDataFrame([Row(Id="k1", v=222_222)])
    # different buckets by construction of the fixture keys?
    # derive and assert, then run both merges pinned to the SAME base
    ba = pk_value_buckets(spark, mf0, ["k0"])[0]
    bb = pk_value_buckets(spark, mf0, ["k1"])[0]
    assert ba != bb
    merge_into_versioned(spark, path, a, "Id", ["v"], base_token=tok)
    mf2 = merge_into_versioned(spark, path, b, "Id", ["v"], base_token=tok)
    assert mf2["bucket_stats"][str(ba)]["cols"]["v"]["max"] == 111_111
    assert mf2["bucket_stats"][str(bb)]["cols"]["v"]["max"] == 222_222
    for bk in mf2["buckets"]:
        if bk not in (str(ba), str(bb)):
            assert mf2["bucket_stats"][bk] == mf0["bucket_stats"][bk]


def test_string_and_timestamp_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            Row(Id="a", name="apple", ts="2024-01-01 00:00:00"),
            Row(Id="b", name="pear", ts="2024-06-01 00:00:00"),
            Row(Id="c", name="zebra", ts="2024-12-31 23:59:59"),
        ]
    ).withColumn("ts", F.to_timestamp("ts"))
    mf = write_versioned_table(df, path, "Id", 2, stats_cols=["name", "ts"])
    # string range that excludes some bucket unless both words share it
    out = read_versioned_table(spark, path, prune=[("name", "z", None)])
    assert [r.Id for r in out.collect()] == ["c"]
    full = read_versioned_table(spark, path)
    assert _read_buckets(out) <= _read_buckets(full)
    # ISO-encoded timestamp bounds prune chronologically
    import datetime

    late = read_versioned_table(
        spark, path,
        prune=[("ts", datetime.datetime(2024, 7, 1), None)],
    )
    assert [r.Id for r in late.collect()] == ["c"]


def test_xxh64_matches_spark_xxhash64(spark):
    """The pure-Python XXH64 fast path must agree with Spark's
    xxhash64 expression bit-for-bit — every length class (empty,
    tails, 4-byte word, 8-byte word, full 32-byte stripes) and
    non-ASCII UTF-8."""
    import random

    from amaxa_spark.sources.catalog import _xxh64

    rng = random.Random(8)
    cases = ["", "a", "abc", "abcd", "abcdefg", "abcdefgh",
             "0123456789abcdef0123456789abcdef",  # exactly 32
             "x" * 33, "y" * 100, "naïve-héllo-日本語-🚀"]
    cases += [
        "".join(rng.choice("abcdefghij0123456789-_ é日")
                for _ in range(rng.randrange(0, 80)))
        for _ in range(120)
    ]
    got = [
        r.h for r in spark.createDataFrame(
            [(c,) for c in cases], ["s"]
        ).select(F.xxhash64(F.col("s")).alias("h")).collect()
    ]
    for c, h_spark in zip(cases, got):
        h = _xxh64(c.encode("utf-8"))
        signed = h - (1 << 64) if h >= (1 << 63) else h
        assert signed == h_spark, (c, signed, h_spark)


def test_pk_value_buckets_fast_path_matches_spark_job(spark, tmp_path):
    path = str(tmp_path / "t")
    mf = write_versioned_table(_frame(spark), path, "Id", 8)
    keys = [f"k{i}" for i in range(0, 400, 7)] + ["ünïcode-日本", ""]
    fast = pk_value_buckets(spark, mf, keys)
    slow = pk_value_buckets(spark, mf, keys + [0])  # int forces the job
    # the int 0 casts to "0", same as... no k-prefix: hash separately;
    # compare on the common (string) keys via a pure-string job run
    df = spark.createDataFrame([(k,) for k in keys], ["Id"])
    via_job = sorted(
        r.b for r in df.select(
            F.pmod(F.xxhash64(F.col("Id").cast("string")),
                   F.lit(mf["n_buckets"])).cast("int").alias("b")
        ).distinct().collect()
    )
    assert fast == via_job
    assert set(fast) <= set(slow)


def test_manifest_to_sql_prune_matches_native_read(spark, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    path = str(tmp_path / "t")
    write_versioned_table(
        _frame(spark), path, "Id", 8, stats_cols=["v"]
    )
    prune = [("v", 3000, 3400)]
    sql = manifest_to_sql(path, prune=prune)
    # the pruned SQL lists fewer files than the full emission
    assert sql.count(".parquet") < manifest_to_sql(path).count(".parquet")
    got = duckdb.sql(sql).df().sort_values("Id").reset_index(drop=True)
    want = (
        read_versioned_table(spark, path, prune=prune)
        .drop(MERGE_BUCKET_COL)
        .toPandas()
        .sort_values("Id")
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], want[sorted(want.columns)]
    )
    # prune-to-empty emits a typed empty relation
    empty_sql = manifest_to_sql(path, prune=[("v", 10**9, None)])
    assert duckdb.sql(empty_sql).df().shape[0] == 0


def test_mixed_granularity_temporal_bounds_never_lose_rows(spark, tmp_path):
    """A datetime bound on a DATE stats column (and vice versa) must
    compare temporally, not lexicographically — '2024-07-01' vs
    '2024-07-01 00:00:00' pruned a MATCHING bucket before the
    midnight-padding fix in _stats_cmp."""
    import datetime

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(Id=f"d{i}") for i in range(10)]
    ).withColumn("d", F.lit(datetime.date(2024, 7, 1)))
    write_versioned_table(df, path, "Id", 4, stats_cols=["d"])
    bound = datetime.datetime(2024, 7, 1)
    pruned = read_versioned_table(spark, path, prune=[("d", bound, None)])
    full = read_versioned_table(spark, path).where(F.col("d") >= F.lit(bound))
    assert pruned.count() == full.count() == 10
    # the reverse granularity: date bound against TIMESTAMP stats
    path2 = str(tmp_path / "t2")
    df2 = spark.createDataFrame(
        [Row(Id=f"d{i}") for i in range(10)]
    ).withColumn("ts", F.to_timestamp(F.lit("2024-07-01 00:00:00")))
    write_versioned_table(df2, path2, "Id", 4, stats_cols=["ts"])
    dbound = datetime.date(2024, 7, 1)
    p2 = read_versioned_table(spark, path2, prune=[("ts", None, dbound)])
    f2 = read_versioned_table(spark, path2).where(
        F.col("ts") <= F.lit(dbound)
    )
    assert p2.count() == f2.count() == 10


def test_manifest_to_sql_prune_on_alter_added_column(spark, tmp_path):
    """The residual WHERE must filter the PROJECTED default-on-read
    columns: appended to the inner SELECT it binds the raw parquet
    column and drops every row whose value IS the ALTER default."""
    duckdb = pytest.importorskip("duckdb")
    from amaxa_spark.sources.catalog import alter_versioned_add_columns

    path = str(tmp_path / "t")
    write_versioned_table(
        _frame(spark, n=20, n_buckets=4), path, "Id", 4, stats_cols=["v"]
    )
    alter_versioned_add_columns(path, {"w": ("int", 7)}, spark=spark)
    merge_into_versioned(
        spark,
        path,
        spark.createDataFrame([Row(Id="k0", w=50)]),
        "Id",
        ["w"],
    )
    prune = [("w", 5, 60)]
    native = (
        read_versioned_table(spark, path, prune=prune)
        .drop(MERGE_BUCKET_COL)
        .toPandas()
        .sort_values("Id")
        .reset_index(drop=True)
    )
    got = (
        duckdb.sql(manifest_to_sql(path, prune=prune))
        .df()
        .sort_values("Id")
        .reset_index(drop=True)
    )
    assert len(native) == 20  # default 7 is inside [5, 60]
    import pandas as pd

    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], native[sorted(native.columns)]
    )


def test_pk_in_casts_to_recorded_pk_type(spark, tmp_path):
    """The layout hashes the pk's STRING RENDERING under the COLUMN
    type; a literal whose inferred type renders differently (long
    5 vs double 5.0, decimal 5.00 vs 5.000000000000000000) must be
    cast to the recorded type before hashing or the lookup silently
    misses existing rows."""
    path = str(tmp_path / "t")
    df = spark.range(0, 50).selectExpr(
        "cast(id as decimal(10,2)) + 0.25 as pk", "id as v"
    )
    write_versioned_table(df, path, "pk", 8)
    import decimal

    got = read_versioned_table(
        spark, path, pk_in=[decimal.Decimal("3.25"), 7.25]
    )
    assert sorted(float(r.pk) for r in got.collect()) == [3.25, 7.25]
    # long pk looked up with float/str literals
    path2 = str(tmp_path / "t2")
    write_versioned_table(
        spark.range(0, 50).selectExpr("id as pk", "id as v"),
        path2, "pk", 8,
    )
    got2 = read_versioned_table(spark, path2, pk_in=[3.0, "7"])
    assert sorted(r.pk for r in got2.collect()) == [3, 7]


def test_t_separator_timestamp_bounds_never_lose_rows(spark, tmp_path):
    """datetime.isoformat() renders 'T'-separated; the engine's stats
    render space-separated. Lexicographically ' ' < 'T', which pruned
    a MATCHING bucket; under the agree-or-inconclusive rule the
    bucket is read and the residual filter decides."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(Id=f"d{i}") for i in range(10)]
    ).withColumn("ts", F.to_timestamp(F.lit("2024-07-01 23:00:00")))
    write_versioned_table(df, path, "Id", 4, stats_cols=["ts"])
    bound = "2024-07-01T12:34:56"  # datetime.isoformat() shape
    pruned = read_versioned_table(spark, path, prune=[("ts", bound, None)])
    full = read_versioned_table(spark, path).where(F.col("ts") >= bound)
    assert pruned.count() == full.count() == 10
    # T-separated bound against a DATE stat column
    import datetime

    path2 = str(tmp_path / "t2")
    df2 = spark.createDataFrame(
        [Row(Id=f"d{i}") for i in range(10)]
    ).withColumn("d", F.lit(datetime.date(2024, 7, 1)))
    write_versioned_table(df2, path2, "Id", 4, stats_cols=["d"])
    b2 = "2024-07-01T00:00:00"
    p2 = read_versioned_table(spark, path2, prune=[("d", None, b2)])
    f2 = read_versioned_table(spark, path2).where(F.col("d") <= b2)
    assert p2.count() == f2.count() == 10


def test_stats_cmp_agreement_rule():
    """Unit coverage of the dual-interpretation comparison: verdicts
    both readings agree on pass through; disagreements are None."""
    from amaxa_spark.sources.catalog import _stats_cmp

    # plain strings: raw lexicographic
    assert _stats_cmp("apple", "pear") == -1
    # same-separator timestamps: unambiguous
    assert _stats_cmp("2024-07-01 23:00:00", "2024-07-01 12:00:00") == 1
    # cross-separator where both readings agree (different days)
    assert _stats_cmp("2024-07-02 01:00:00", "2024-07-01T23:00:00") == 1
    # cross-separator same-day flip: inconclusive
    assert _stats_cmp("2024-07-01 23:00:00", "2024-07-01T12:34:56") is None
    # date vs its own midnight: temporally equal, raw strict — None
    assert _stats_cmp("2024-07-01", "2024-07-01 00:00:00") is None
    assert _stats_cmp("2024-07-01", "2024-07-01T00:00:00") is None
    # date vs a LATER timestamp: both readings agree
    assert _stats_cmp("2024-07-01", "2024-07-01 10:00:00") == -1


def _db_tables(spark):
    a = _frame(spark, n=200, n_buckets=4)
    b = spark.range(100).select(
        F.concat(F.lit("u"), F.col("id")).alias("uid"),
        (F.col("id") * 10).alias("amt"),
    )
    return {"a": a, "b": b}, {"a": "Id", "b": "uid"}


def test_db_layout_stats_skipping_twin(spark, tmp_path):
    """The transactional layout gets the same opt-in skipping: stats
    ride the shared-token commits per table, prune/pk_in compose on
    read_versioned_db, and every db commit kind maintains them."""
    from amaxa_spark.sources.catalog import (
        db_manifest_to_sql,
        delete_from_versioned_db,
        merge_into_versioned_db,
        optimize_versioned_db,
        read_versioned_db,
        write_versioned_db,
    )

    path = str(tmp_path / "db")
    tables, pks = _db_tables(spark)
    mf = write_versioned_db(
        spark, path, tables, pks, n_buckets=4,
        stats_cols={"a": ["v"], "b": ["amt"]},
    )
    for t in ("a", "b"):
        assert set(mf["tables"][t]["bucket_stats"]) == set(
            mf["tables"][t]["buckets"]
        )
    # pruned read == full read + where, on both tables
    pruned = read_versioned_db(spark, path, "a", prune=[("v", 2000, 2199)])
    full = read_versioned_db(spark, path, "a").where(
        F.col("v").between(2000, 2199)
    )
    assert sorted(r.Id for r in pruned.collect()) == sorted(
        r.Id for r in full.collect()
    )
    assert _read_buckets(pruned) == {2}
    # transactional merge refreshes ONLY the touched tables' buckets
    mf1 = merge_into_versioned_db(
        spark, path,
        {"b": spark.createDataFrame([Row(uid="u3", amt=999_999)])},
        {"b": ["amt"]},
    )
    assert mf1["tables"]["a"]["bucket_stats"] == mf["tables"]["a"]["bucket_stats"]
    hot = read_versioned_db(spark, path, "b", prune=[("amt", 900_000, None)])
    assert [r.uid for r in hot.collect()] == ["u3"]
    assert len(_read_buckets(hot)) == 1
    # pk_in point lookup on the db layout
    got = read_versioned_db(spark, path, "a", pk_in=["k7", "missing"])
    assert [r.Id for r in got.collect()] == ["k7"]
    # delete one whole bucket of `a` -> its stats entry disappears
    victim = next(iter(mf1["tables"]["a"]["buckets"]))
    keys = read_versioned_db(spark, path, "a").where(
        F.col(MERGE_BUCKET_COL) == int(victim)
    ).select("Id")
    mf2 = delete_from_versioned_db(spark, path, {"a": keys})
    assert victim not in mf2["tables"]["a"]["bucket_stats"]
    # optimize keeps stats coverage on every surviving bucket
    mf3, compacted = optimize_versioned_db(spark, path)
    for t in ("a", "b"):
        assert set(mf3["tables"][t]["bucket_stats"]) == set(
            mf3["tables"][t]["buckets"]
        )
    # external emission with per-table prune matches the native read
    duckdb = pytest.importorskip("duckdb")
    sqls = db_manifest_to_sql(path, prune={"a": [("v", 2000, 2199)]})
    got_ext = sorted(duckdb.sql(sqls["a"]).df()["Id"])
    want_ext = sorted(
        r.Id for r in read_versioned_db(
            spark, path, "a", prune=[("v", 2000, 2199)]
        ).collect()
    )
    assert got_ext == want_ext


def test_db_reinit_inherits_stats_cols(spark, tmp_path):
    from amaxa_spark.sources.catalog import (
        read_versioned_db,
        write_versioned_db,
    )

    path = str(tmp_path / "db")
    tables, pks = _db_tables(spark)
    write_versioned_db(
        spark, path, tables, pks, n_buckets=4, stats_cols={"a": ["v"]}
    )
    tables2, _ = _db_tables(spark)
    mf = write_versioned_db(spark, path, tables2, pks, n_buckets=4)
    assert mf["tables"]["a"]["stats_cols"] == ["v"]
    assert set(mf["tables"]["a"]["bucket_stats"]) == set(
        mf["tables"]["a"]["buckets"]
    )
    assert "stats_cols" not in mf["tables"]["b"]
    out = read_versioned_db(spark, path, "a", prune=[("v", 0, 999)])
    assert _read_buckets(out) == {0}


def test_db_manifest_to_sql_rejects_unknown_prune_keys(spark, tmp_path):
    from amaxa_spark.sources.catalog import (
        db_manifest_to_sql,
        write_versioned_db,
    )

    path = str(tmp_path / "db")
    tables, pks = _db_tables(spark)
    write_versioned_db(
        spark, path, tables, pks, n_buckets=4, stats_cols={"a": ["v"]}
    )
    with pytest.raises(ValueError, match="prune/eq keys"):
        db_manifest_to_sql(path, prune={"A": [("v", 0, 1)]})
    with pytest.raises(ValueError, match="prune/eq keys"):
        db_manifest_to_sql(path, tables=["b"], prune={"a": [("v", 0, 1)]})


def test_optimize_zorder_multi_dim_locality(spark, tmp_path):
    """Z-order rewrite: rows identical, metadata recorded, and parquet
    row groups become tight in BOTH dimensions — the area covered by
    an average row group's (x-span × y-span) must shrink by an order
    of magnitude vs the unsorted layout (a linear cluster_by only
    tightens the first column)."""
    import pyarrow.parquet as pq

    from amaxa_spark.sources.catalog import optimize_versioned

    path = str(tmp_path / "t")
    n = 40_000
    df = (
        spark.range(n)
        .select(
            F.concat(F.lit("k"), F.col("id")).alias("Id"),
            F.pmod(F.xxhash64(F.concat(F.lit("x"), F.col("id"))), F.lit(10**6))
            .cast("double").alias("x"),
            F.pmod(F.xxhash64(F.concat(F.lit("y"), F.col("id"))), F.lit(10**6))
            .cast("double").alias("y"),
        )
    )
    hconf = spark._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 32 * 1024)
    try:
        write_versioned_table(df, path, "Id", 4)
        before = _rg_area(path, "x", "y")
        rows0 = sorted(
            (r.Id, r.x, r.y)
            for r in read_versioned_table(spark, path).collect()
        )
        mf, compacted = optimize_versioned(spark, path, zorder_by=["x", "y"])
        assert mf["cluster_kind"] == "zorder"
        assert mf["clustered_by"] == ["x", "y"]
        assert sorted(compacted) == sorted(int(b) for b in mf["buckets"])
        rows1 = sorted(
            (r.Id, r.x, r.y)
            for r in read_versioned_table(spark, path).collect()
        )
        assert rows0 == rows1
        after = _rg_area(path, "x", "y")
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)
    assert after < before / 2, (before, after)
    # the structural claim vs a LINEAR sort: BOTH dimensions tighten
    # (cluster_by x leaves y-spans at ~domain width)
    sx, sy = _rg_spans(path, "x"), _rg_spans(path, "y")
    assert sx < 0.75 and sy < 0.75, (sx, sy)
    # non-scalable column types refuse loudly
    with pytest.raises(TypeError, match="non-range-scalable"):
        optimize_versioned(spark, path, zorder_by=["Id"])
    with pytest.raises(ValueError, match="mutually exclusive"):
        optimize_versioned(
            spark, path, cluster_by=["x"], zorder_by=["y"]
        )


def _rg_spans(path, c):
    """Mean normalized single-column row-group span of the HEAD
    generation."""
    import pyarrow.parquet as pq

    mf = _bucket_manifest(path)
    spans = []
    for b, gen in mf["buckets"].items():
        bdir = os.path.join(path, gen, f"{MERGE_BUCKET_COL}={b}")
        for fname in os.listdir(bdir):
            if not fname.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(bdir, fname)).metadata
            idx = {
                meta.row_group(0).column(i).path_in_schema: i
                for i in range(meta.row_group(0).num_columns)
            }
            for g in range(meta.num_row_groups):
                st = meta.row_group(g).column(idx[c]).statistics
                spans.append((st.max - st.min) / 1e6)
    return sum(spans) / len(spans)


def _rg_area(path, cx, cy):
    """Mean normalized (x-span × y-span) across all row groups of the
    HEAD generation — 1.0 means every row group spans the full 2-d
    domain (no locality), ~0 means tight boxes."""
    import pyarrow.parquet as pq

    mf = _bucket_manifest(path)
    areas = []
    for b, gen in mf["buckets"].items():
        bdir = os.path.join(path, gen, f"{MERGE_BUCKET_COL}={b}")
        for fname in os.listdir(bdir):
            if not fname.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(bdir, fname)).metadata
            idx = {
                meta.row_group(0).column(i).path_in_schema: i
                for i in range(meta.row_group(0).num_columns)
            }
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                sx = rg.column(idx[cx]).statistics
                sy = rg.column(idx[cy]).statistics
                areas.append(
                    (sx.max - sx.min) * (sy.max - sy.min) / 1e12
                )
    return sum(areas) / len(areas)


def test_zorder_edge_cases(spark, tmp_path):
    """Bit-budget, date scaling, NaN robustness, and the stale
    cluster_kind label — the review-reproduced edges."""
    import datetime

    from amaxa_spark.sources.catalog import (
        _zorder_expr,
        optimize_versioned,
    )

    # 4+ columns: bits/dim shrink so no bit touches the sign position
    df4 = spark.range(1000).select(
        F.concat(F.lit("k"), F.col("id")).alias("Id"),
        (F.col("id") % 7).cast("double").alias("a"),
        (F.col("id") % 11).cast("double").alias("b"),
        (F.col("id") % 13).cast("double").alias("c"),
        (F.col("id") % 17).cast("double").alias("d"),
        (F.col("id") % 19).cast("double").alias("e"),
    )
    keys = df4.select(
        _zorder_expr(df4, ["a", "b", "c", "d", "e"]).alias("k")
    ).agg(F.min("k"), F.max("k")).collect()[0]
    assert 0 <= keys[0] <= keys[1] < (1 << 62)

    # dates range-scale (no AnalysisException), NaN rows code first,
    # and a NaN does NOT zero the dimension for the finite rows
    rows = [
        Row(Id="a", d=datetime.date(2024, 1, 1), v=1.0),
        Row(Id="b", d=datetime.date(2024, 6, 1), v=float("nan")),
        Row(Id="c", d=datetime.date(2024, 12, 31), v=2.0),
    ]
    dfd = spark.createDataFrame(rows)
    got = dfd.select(
        F.col("Id"), _zorder_expr(dfd, ["d", "v"]).alias("k")
    ).collect()
    ks = {r.Id: r.k for r in got}
    assert ks["a"] >= 0 and ks["c"] > ks["a"]  # dates discriminate
    # the NaN row contributes code 0 on v but its date bits remain
    assert ks["b"] >= 0

    # linear-after-zorder relabels cluster_kind
    path = str(tmp_path / "t")
    write_versioned_table(
        spark.range(100).selectExpr(
            "cast(id as string) Id", "cast(id as double) x",
            "cast(id % 9 as double) y",
        ),
        path, "Id", 4,
    )
    mf_z, _ = optimize_versioned(spark, path, zorder_by=["x", "y"])
    assert mf_z["cluster_kind"] == "zorder"
    mf_l, _ = optimize_versioned(spark, path, cluster_by=["y"])
    assert mf_l["cluster_kind"] == "linear"
    assert mf_l["clustered_by"] == ["y"]


def test_bloom_equality_skipping(spark, tmp_path):
    """Bloom bucket skipping for equality on a non-pk column: pruned
    read == full read + WHERE, buckets actually read shrink, blooms
    ride merges through the same commit loop, and all-null buckets
    prune via the empty bitset."""
    from amaxa_spark.sources.catalog import (
        bloom_prune_buckets,
        _bloom_lookup_hashes,
    )

    path = str(tmp_path / "t")
    # `tag` has one distinct value per row — bucket-uncorrelated and
    # uniform, so range stats would never discriminate; only a bloom
    # answers `tag = 'v373'`
    df = spark.range(400).select(
        F.concat(F.lit("k"), F.col("id")).alias("Id"),
        F.concat(F.lit("v"), F.col("id")).alias("tag"),
        F.col("id").alias("v"),
    )
    mf = write_versioned_table(df, path, "Id", 8, bloom_cols=["tag"])
    # blooms live in per-generation SIDECARS, not the manifest (its
    # size must stay O(buckets))
    gen = next(iter(mf["buckets"].values()))
    assert os.path.exists(os.path.join(path, gen, "_bloom-tag.json"))
    assert "blooms" not in next(iter(mf["bucket_stats"].values()))
    got = read_versioned_table(spark, path, eq=[("tag", "v373")])
    assert [(r.Id, r.tag) for r in got.collect()] == [("k373", "v373")]
    full = read_versioned_table(spark, path)
    assert len(_read_buckets(got)) < len(_read_buckets(full))
    # a value that exists nowhere: typed-empty result, usually 0 buckets
    miss = read_versioned_table(spark, path, eq=[("tag", "nope")])
    assert miss.count() == 0
    # merge refreshes ONLY the touched bucket's bloom
    mf1 = merge_into_versioned(
        spark, path,
        spark.createDataFrame([Row(Id="k0", tag="rewritten")]),
        "Id", ["tag"],
    )
    hit = read_versioned_table(spark, path, eq=[("tag", "rewritten")])
    assert [r.Id for r in hit.collect()] == ["k0"]
    assert len(_read_buckets(hit)) == 1
    # the OLD value of the rewritten row no longer matches any row
    gone = read_versioned_table(spark, path, eq=[("tag", "v0")])
    assert gone.count() == 0
    # time travel prunes with the OLD blooms and still finds v0
    old = read_versioned_table(
        spark, path, token=mf["token"], eq=[("tag", "v0")]
    )
    assert [r.Id for r in old.collect()] == ["k0"]
    # lookup-side hashing matches build-side hashing by construction
    h1, h2 = _bloom_lookup_hashes(spark, mf1, "tag", "v373")
    assert str(_read_buckets(got).pop()) in bloom_prune_buckets(
        path, mf1, "tag", h1, h2
    )
    # IS NULL (value None) is residual-only and exact
    assert read_versioned_table(
        spark, path, eq=[("tag", None)]
    ).count() == 0


def test_bloom_all_null_and_metadata_stats(spark, tmp_path):
    from amaxa_spark.sources.catalog import versioned_table_stats

    path = str(tmp_path / "t")
    df = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id")).alias("Id"),
        F.when(F.col("id") < 0, F.concat(F.lit("x"), F.col("id")))
        .alias("tag"),  # all null
        F.col("id").alias("v"),
    )
    write_versioned_table(
        df, path, "Id", 4, stats_cols=["v"], bloom_cols=["tag"]
    )
    # equality on an all-null column prunes EVERY bucket (empty bitsets)
    got = read_versioned_table(spark, path, eq=[("tag", "x1")])
    assert got.count() == 0 and _read_buckets(got) == set()
    # metadata-only aggregates: exact count and v bounds, zero scans
    st = versioned_table_stats(path)
    assert st["rows"] == 100
    assert st["cols"]["v"] == {"min": 0, "max": 99, "nulls": 0}
    # a raw commit that harvests nothing purges its bucket's entry —
    # metadata aggregates must degrade to None, never a wrong number
    import shutil

    mf = _bucket_manifest(path)
    victim = next(iter(mf["buckets"]))
    gen = "gen-rawstat0001"
    src = os.path.join(path, mf["buckets"][victim],
                       f"{MERGE_BUCKET_COL}={victim}")
    shutil.copytree(src, os.path.join(path, gen,
                                      f"{MERGE_BUCKET_COL}={victim}"))
    mf2 = _commit_db_update(path, mf, {None: {victim: gen}}, "rawstat0001")
    _publish_manifest(path, mf2)
    st2 = versioned_table_stats(path)
    assert st2["rows"] is None and st2["cols"] == {"v": None}


def test_db_bloom_twin(spark, tmp_path):
    from amaxa_spark.sources.catalog import (
        read_versioned_db,
        write_versioned_db,
    )

    path = str(tmp_path / "db")
    tables, pks = _db_tables(spark)
    write_versioned_db(
        spark, path, tables, pks, n_buckets=4,
        bloom_cols={"a": ["tag"]},
    )
    got = read_versioned_db(spark, path, "a", eq=[("tag", "s2")])
    want = read_versioned_db(spark, path, "a").where(F.col("tag") == "s2")
    assert sorted(r.Id for r in got.collect()) == sorted(
        r.Id for r in want.collect()
    )
    assert _read_buckets(got) <= _read_buckets(want)


def test_eq_native_semantics_and_family_gate(spark, tmp_path):
    """eq is DEFINED as full read + .where(col == lit(value)) under
    Spark's native promotion semantics. Cross-family literals (int on
    a string column: Spark promotes the COLUMN, so '05' = 5 is true)
    skip bloom pruning — a finite bloom cannot enumerate the matching
    strings — but stay exact through the residual; a lossy same-family
    literal (5.7 on an int column) must match nothing, never the
    truncated value."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(Id="a", tag="05", v=5), Row(Id="b", tag="5", v=6),
         Row(Id="c", tag="6", v=7)]
    )
    write_versioned_table(df, path, "Id", 2, bloom_cols=["tag", "v"])
    # cross-family: native promotion matches BOTH '05' and '5'
    got = read_versioned_table(spark, path, eq=[("tag", 5)])
    want = read_versioned_table(spark, path).where(F.col("tag") == 5)
    assert sorted(r.Id for r in got.collect()) == sorted(
        r.Id for r in want.collect()
    ) == ["a", "b"]
    # same-family string literal: bloom prunes, exact
    got_s = read_versioned_table(spark, path, eq=[("tag", "5")])
    assert [r.Id for r in got_s.collect()] == ["b"]
    # lossy same-family numeric literal matches NOTHING (an
    # unconditional cast-to-int residual wrongly matched v=5 here)
    assert read_versioned_table(
        spark, path, eq=[("v", 5.7)]
    ).count() == 0
    # lossless numeric widening matches exactly
    assert [
        r.Id for r in read_versioned_table(
            spark, path, eq=[("v", 5.0)]
        ).collect()
    ] == ["a"]
    # eq on a column WITHOUT blooms: no hash job needed, still exact
    got2 = read_versioned_table(spark, path, eq=[("Id", "c")])
    assert [r.tag for r in got2.collect()] == ["6"]


def test_manifest_to_sql_eq_bloom_matches_native(spark, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    from amaxa_spark.sources.catalog import manifest_to_sql

    path = str(tmp_path / "t")
    df = spark.range(300).select(
        F.concat(F.lit("k"), F.col("id")).alias("Id"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
        F.col("id").alias("v"),
    )
    write_versioned_table(df, path, "Id", 8, bloom_cols=["name"])
    sql = manifest_to_sql(path, eq=[("name", "n123")], spark=spark)
    # the bloom shrinks the emitted file list below the full emission
    assert sql.count(".parquet") < manifest_to_sql(path).count(".parquet")
    got = duckdb.sql(sql).df()
    native = read_versioned_table(
        spark, path, eq=[("name", "n123")]
    ).drop(MERGE_BUCKET_COL).toPandas()
    assert list(got["Id"]) == list(native["Id"]) == ["k123"]
    # without a session the emission stays exact, just unshrunk
    sql2 = manifest_to_sql(path, eq=[("name", "n123")])
    assert list(duckdb.sql(sql2).df()["Id"]) == ["k123"]
    # cross-family literals refuse to leave the engine
    with pytest.raises(ValueError, match="type family"):
        manifest_to_sql(path, eq=[("name", 5)], spark=spark)


def test_external_eq_validation_edges(spark, tmp_path):
    """Upfront validation of external eq emissions: ALTER-added
    columns are emittable (the renderer projects them), typo'd
    columns fail loudly even for IS NULL probes, and family-sound
    but non-renderable literals (dates, NaN) are rejected BEFORE any
    Spark work with a clear message."""
    import datetime

    from amaxa_spark.sources.catalog import (
        alter_versioned_add_columns,
        manifest_to_sql,
        merge_into_versioned,
    )

    duckdb = pytest.importorskip("duckdb")
    path = str(tmp_path / "t")
    df = spark.range(40).select(
        F.concat(F.lit("k"), F.col("id")).alias("Id"),
        F.col("id").alias("v"),
    )
    write_versioned_table(df, path, "Id", 4)
    alter_versioned_add_columns(path, {"flag": ("string", "x")}, spark=spark)
    merge_into_versioned(
        spark, path, spark.createDataFrame([Row(Id="k3", flag="y")]),
        "Id", ["flag"],
    )
    # eq on the ALTER-added column: exact against the native read
    sql = manifest_to_sql(path, eq=[("flag", "y")], spark=spark)
    got = sorted(duckdb.sql(sql).df()["Id"])
    want = sorted(
        r.Id for r in read_versioned_table(
            spark, path, eq=[("flag", "y")]
        ).collect()
    )
    assert got == want == ["k3"]
    # default-valued rows survive the projected residual
    sql_x = manifest_to_sql(path, eq=[("flag", "x")], spark=spark)
    assert len(duckdb.sql(sql_x).df()) == 39
    # typo'd column fails loudly even as an IS NULL probe
    with pytest.raises(ValueError, match="unknown column"):
        manifest_to_sql(path, eq=[("naem", None)])
    # family-sound but non-renderable literals are rejected upfront
    with pytest.raises(ValueError, match="no.*rendering|rendering"):
        manifest_to_sql(path, eq=[("v", float("nan"))], spark=spark)
    path2 = str(tmp_path / "t2")
    write_versioned_table(
        df.withColumn("d", F.lit(datetime.date(2024, 1, 1))),
        path2, "Id", 2,
    )
    with pytest.raises(ValueError, match="rendering"):
        manifest_to_sql(path2, eq=[("d", datetime.date(2024, 1, 1))])
