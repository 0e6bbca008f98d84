"""Skew utilities, error formatter, incremental extract."""

from pyspark.sql import functions as F

from amaxa_spark.functions.scalars import format_errors
from amaxa_spark.operators.skew import salted_join, two_stage_agg
from amaxa_spark.streaming.incremental import incremental_extract
from amaxa_spark.tpch import tpch_catalog


def test_salted_join_matches_plain_join(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = {
        (r.o_orderkey, r.c_name)
        for r in orders.join(cust, "o_custkey").collect()
    }
    salted = {
        (r.o_orderkey, r.c_name)
        for r in salted_join(orders, cust, "o_custkey", salt_buckets=8).collect()
    }
    assert salted == plain


def test_two_stage_agg_matches_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plain = {
        (r.l_returnflag, r.cnt, round(r.s, 4))
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    staged = {
        (r.l_returnflag, r.count_l_quantity, round(r.sum_l_quantity, 4))
        for r in two_stage_agg(li, "l_returnflag", {"l_quantity": "sum"}, 8)
        .join(
            two_stage_agg(li, "l_returnflag", {"l_quantity": "count"}, 8),
            "l_returnflag",
        )
        .collect()
    }
    assert staged == plain


def test_format_errors(spark):
    df = spark.createDataFrame(
        [("DUP", "duplicate value", ["Name", "Email"]), ("REQ", "missing", [])],
        "code: string, message: string, fields: array<string>",
    )
    out = [
        r.e
        for r in df.select(
            format_errors(F.col("code"), F.col("message"), F.col("fields")).alias("e")
        ).collect()
    ]
    assert out == ["DUP: duplicate value (Name, Email)", "REQ: missing"]


def test_incremental_extract_watermark(spark, sf_dir):
    ev = tpch_catalog(spark, sf_dir)["events"]
    full = incremental_extract(ev, None)
    assert full.count() == ev.count()
    mid = ev.agg(F.expr("percentile_approx(unix_millis(ts), 0.5)")).collect()[0][0]
    inc = incremental_extract(ev, mid)
    n = inc.count()
    assert 0 < n < ev.count()
    assert inc.agg(F.min(F.unix_millis("ts"))).collect()[0][0] > mid


def test_hierarchy_roots_pointer_doubling(spark):
    from amaxa_spark.operators.graph import component_sizes, hierarchy_roots

    # two trees + an isolated node + a dangling parent ref
    rows = [
        ("1", None), ("2", "1"), ("3", "2"), ("4", "2"),
        ("10", None), ("11", "10"),
        ("20", None),
        ("30", "999"),  # dangling parent -> own root
    ]
    df = spark.createDataFrame(rows, "Id: string, ParentId: string")
    roots = {r.Id: r.root for r in hierarchy_roots(df, "Id", "ParentId").collect()}
    assert roots == {
        "1": "1", "2": "1", "3": "1", "4": "1",
        "10": "10", "11": "10", "20": "20", "30": "30",
    }
    sizes = {r.root: r.size for r in component_sizes(df, "Id", "ParentId").collect()}
    assert sizes == {"1": 4, "10": 2, "20": 1, "30": 1}


def test_pointer_seed_hits_downward_closure(spark):
    from amaxa_spark.operators.graph import pointer_seed_hits

    # deep chain + branch + separate tree + dangling parent
    rows = [
        ("1", None), ("2", "1"), ("3", "2"), ("4", "3"), ("5", "4"),
        ("6", "2"),
        ("10", None), ("11", "10"),
        ("30", "999"),  # dangling parent -> chain start
        ("31", "30"),
    ]
    nodes = spark.createDataFrame(rows, "node: string, parent: string")
    # dangling parents resolve to null first (callers' contract)
    pks = nodes.select(F.col("node").alias("__p"))
    resolved = (
        nodes.join(pks, F.col("parent") == F.col("__p"), "left_outer")
        .select(
            "node",
            F.when(F.col("__p").isNotNull(), F.col("parent")).alias("parent"),
        )
    )
    seeds = spark.createDataFrame([("2",), ("30",)], "node: string")
    hits, converged = pointer_seed_hits(resolved, seeds)
    assert converged
    got = {r.node for r in hits.where("hit").collect()}
    # descendants-or-self of 2 and of 30
    assert got == {"2", "3", "4", "5", "6", "30", "31"}

    # a power-of-two cycle stabilizes under doubling with EXACT hits
    # (the covered window wraps the whole cycle on convergence)
    cyc2 = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("c", "a"), ("d", "c")],
        "node: string, parent: string",
    )
    seeds2 = spark.createDataFrame([("a",)], "node: string")
    hits2, converged2 = pointer_seed_hits(cyc2, seeds2)
    assert converged2
    assert {r.node for r in hits2.where("hit").collect()} == {
        "a", "b", "c", "d",
    }

    # a 3-cycle never stabilizes: rounds stop at the log2(n) bound,
    # and the partial hit set stays a subset of the closure
    # containing every seed (the caller's BFS fallback contract)
    cyc3 = spark.createDataFrame(
        [("a", "c"), ("b", "a"), ("c", "b"), ("d", "c")],
        "node: string, parent: string",
    )
    seeds3 = spark.createDataFrame([("a",)], "node: string")
    hits3, converged3 = pointer_seed_hits(cyc3, seeds3)
    assert not converged3
    got3 = {r.node for r in hits3.where("hit").collect()}
    assert "a" in got3 and got3 <= {"a", "b", "c", "d"}


def test_pointer_roots_stops_at_round_bound_on_odd_cycle(spark, monkeypatch):
    # a 3-cycle never stabilizes under doubling: pointer_roots must
    # give up after ceil(log2 n) + 2 rounds, not its 40-round ceiling,
    # and report non-convergence so the caller falls back to BFS
    import math

    from amaxa_spark.operators import graph

    cyc3 = spark.createDataFrame(
        [("a", "c"), ("b", "a"), ("c", "b"), ("d", "c")],
        "node: string, parent: string",
    )
    checkpoints = []
    real = graph.observed_checkpoint

    def counting(df, *metrics):
        checkpoints.append(1)
        return real(df, *metrics)

    monkeypatch.setattr(graph, "observed_checkpoint", counting)
    _, converged = graph.pointer_roots(cyc3)
    assert not converged
    # one checkpoint sizes the pointer frame, then one per round
    assert len(checkpoints) - 1 == math.ceil(math.log2(4)) + 2


def test_canon_stream_order_independent_and_sensitive():
    # the --stream comparator must be a pure multiset hash: invariant
    # under row order, sensitive to any value change, and aligned with
    # the sorted-path canonicalization rules (floats, bools, nulls)
    import importlib.util, os

    spec = importlib.util.spec_from_file_location(
        "ccheck",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "check_correctness.py"),
    )
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)

    rows = [(1, 2.5, True, None), (2, 3.5, False, "x"), (3, 0.1 + 0.2, True, "y")]
    cols = ["b_num", "a_val", "flag", "note"]
    n1, c1, h1 = cc.canon_stream(iter(rows), cols)
    n2, c2, h2 = cc.canon_stream(iter(reversed(rows)), cols)
    assert (n1, c1, h1) == (n2, c2, h2)
    assert c1 == sorted(x.lower() for x in cols)
    mutated = [rows[0], rows[1], (3, 0.1 + 0.2 + 1e-4, True, "y")]
    assert cc.canon_stream(iter(mutated), cols)[2] != h1
    # float canon matches the sorted path: 6-decimal fixed format
    tiny = [(0.3000000001,)]
    same = [(0.3,)]
    assert (
        cc.canon_stream(iter(tiny), ["v"])[2]
        == cc.canon_stream(iter(same), ["v"])[2]
    )


def test_pq_encode_carry_cols_rides_codes(spark):
    """carry_cols passengers land on the code rows untouched and the
    codes themselves are identical to the no-carry call — the IVF-PQ
    path relies on this to drop the codes⋈(id→cid) re-attachment
    join (an all-corpus shuffle of the code table at scale)."""
    from amaxa_spark.operators.similarity import pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    tagged = emb.withColumn("cell", F.pmod(F.col("vec_id"), F.lit(7)))
    codes, _ = pq_encode(
        tagged, "embedding", "vec_id", dim=64, m=8, k=16,
        carry_cols=["cell"],
    )
    assert set(codes.columns) == {"vec_id", "seg", "code", "cell"}
    rows = codes.collect()
    assert all(r.cell == r.vec_id % 7 for r in rows)
    plain, _ = pq_encode(emb, "embedding", "vec_id", dim=64, m=8, k=16)
    assert {(r.vec_id, r.seg): r.code for r in rows} == {
        (r.vec_id, r.seg): r.code for r in plain.collect()
    }


def test_collect_group_means_two_level_merge_matches_direct(spark):
    """Above _PARTIAL_MERGE_MAX_PARTS input partitions the grouped
    partials re-aggregate in-plan before the collect (driver volume
    bounded by keys x dim regardless of partition count); the merged
    means must equal the direct-collect means. Values are small
    integers so every partial sum is exact regardless of merge order
    - the equality is strict, not rounding-absorbed."""
    from amaxa_spark.operators import similarity as sim

    rows = [(i, i % 5, [float(i % 7), float(i % 3), 1.0]) for i in range(500)]
    df = spark.createDataFrame(
        rows, "id long, cid long, __v array<double>"
    )
    direct = sim._collect_group_means(
        df.coalesce(2), ["cid"], "__v"
    )
    assert df.repartition(100).rdd.getNumPartitions() > sim._PARTIAL_MERGE_MAX_PARTS
    merged = sim._collect_group_means(
        df.repartition(100), ["cid"], "__v"
    )
    assert merged == direct
    assert set(merged) == {(c,) for c in range(5)}


def test_pq_encode_seed_vecs_matches_inline_collect(spark):
    """The collect-fusion seam: passing the k lowest-id vectors as
    seed_vecs must reproduce the exact codebooks and codes of the
    inline TakeOrdered seed collect (byte-identical doubles)."""
    from amaxa_spark.operators.similarity import pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    seeds = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.orderBy("vec_id").limit(16).collect()
    ]
    codes_a, cb_a = pq_encode(emb, "embedding", "vec_id", dim=64, m=8, k=16)
    codes_b, cb_b = pq_encode(
        emb, "embedding", "vec_id", dim=64, m=8, k=16, seed_vecs=seeds
    )
    assert cb_a._amaxa_pq_rows == cb_b._amaxa_pq_rows
    assert {(r.vec_id, r.seg): r.code for r in codes_a.collect()} == {
        (r.vec_id, r.seg): r.code for r in codes_b.collect()
    }


def test_kmeans_seed_rows_matches_inline_collect(spark):
    """Same seam for the coarse codebook: driver-provided seed rows
    reproduce the inline-collected codebook exactly."""
    from amaxa_spark.operators.similarity import kmeans_codebook, _rows_of

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("__v"),
    )
    seeds = [
        (int(r["vec_id"]), [float(x) for x in r["__v"]])
        for r in base.orderBy("vec_id").limit(16).collect()
    ]
    a = _rows_of(kmeans_codebook(base, 16, iters=2, id_col="vec_id"))
    b = _rows_of(
        kmeans_codebook(base, 16, iters=2, id_col="vec_id", seed_rows=seeds)
    )
    assert a == b


def test_cluster_duplicates_distributed_label_doubling(spark):
    """The distributed connected-components loop (above the driver
    union-find gate) uses label pointer-doubling: a 100-node chain
    (diameter 99) must converge within max_rounds=10 ~ log2(99)+3 -
    plain one-hop min-label propagation would need ~99 rounds and
    leave wrong labels at this budget. Results must equal the driver
    union-find path exactly."""
    from amaxa_spark.operators.dedup import cluster_duplicates

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "id_a long, id_b long"
    )
    dist = {
        (r.id, r.cluster_id)
        for r in cluster_duplicates(
            pairs, max_rounds=10, driver_max_pairs=0
        ).collect()
    }
    assert dist == {(i, 0) for i in range(100)}
    drv = {
        (r.id, r.cluster_id) for r in cluster_duplicates(pairs).collect()
    }
    assert dist == drv
    # two components + an isolated pair keep exact min-id labels
    pairs2 = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 11), (7, 7)], "id_a long, id_b long"
    )
    got = {
        (r.id, r.cluster_id)
        for r in cluster_duplicates(
            pairs2, max_rounds=8, driver_max_pairs=0
        ).collect()
    }
    assert got == {(3, 3), (5, 3), (9, 3), (11, 11), (20, 11), (7, 7)}
