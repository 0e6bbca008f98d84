"""Extract-engine semantics against the sf0.001 TPC-H catalog and
small in-memory hierarchies. Assertions are unordered row-set
comparisons (SURVEY §2.4: output order is not semantically
significant)."""

import pytest
from pyspark.sql import functions as F

from amaxa_spark.metadata import SchemaRegistry, TableMeta
from amaxa_spark.operators.extract import ExtractError, ExtractOperation
from amaxa_spark.plans.plan import (
    ExtractScope,
    ExtractStepPlan,
    OutsideLookupBehavior,
    SelfLookupBehavior,
)
from amaxa_spark.sources.catalog import TableCatalog
from amaxa_spark.tpch import tpch_catalog, tpch_registry


def run_extract(spark, sf_dir, steps):
    op = ExtractOperation(spark, tpch_catalog(spark, sf_dir), tpch_registry(), steps)
    return op.run()


def test_query_plus_descendents(spark, sf_dir):
    steps = [
        ExtractStepPlan("customer", ExtractScope.QUERY, where="c_mktsegment = 'BUILDING'"),
        ExtractStepPlan("orders", ExtractScope.DESCENDENTS),
    ]
    res = run_extract(spark, sf_dir, steps)
    custs = {r.c_custkey for r in res["customer"].select("c_custkey").collect()}
    cat = tpch_catalog(spark, sf_dir)
    expected_c = {
        r.c_custkey
        for r in cat["customer"].filter("c_mktsegment = 'BUILDING'").collect()
    }
    assert custs == expected_c
    ords = {r.o_orderkey for r in res["orders"].select("o_orderkey").collect()}
    expected_o = {
        r.o_orderkey
        for r in cat["orders"].join(
            cat["customer"].filter("c_mktsegment = 'BUILDING'"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        ).collect()
    }
    assert ords == expected_o and len(ords) > 0


def test_dependency_resolution_parents(spark, sf_dir):
    # orders first (root), customer later: o_custkey is a dependent
    # lookup → customers referenced by extracted orders get fetched
    steps = [
        ExtractStepPlan("orders", ExtractScope.QUERY, where="o_totalprice > 400000"),
        ExtractStepPlan("customer", ExtractScope.DESCENDENTS),
    ]
    res = run_extract(spark, sf_dir, steps)
    cat = tpch_catalog(spark, sf_dir)
    expected = {
        r.o_custkey
        for r in cat["orders"].filter("o_totalprice > 400000").select("o_custkey").collect()
    }
    got = {r.c_custkey for r in res["customer"].select("c_custkey").collect()}
    assert got == expected and len(got) > 0


def test_selected_ids_and_missing(spark, sf_dir):
    steps = [ExtractStepPlan("part", ExtractScope.SELECTED_IDS, ids=[1, 2, 3])]
    res = run_extract(spark, sf_dir, steps)
    assert {r.p_partkey for r in res["part"].collect()} == {1, 2, 3}

    bad = [ExtractStepPlan("part", ExtractScope.SELECTED_IDS, ids=[1, 10**9])]
    with pytest.raises(ExtractError, match="do not exist"):
        run_extract(spark, sf_dir, bad)


def test_field_scope_projection_keeps_pk(spark, sf_dir):
    steps = [
        ExtractStepPlan("customer", ExtractScope.ALL_RECORDS, fields=["c_name"]),
    ]
    res = run_extract(spark, sf_dir, steps)
    assert res["customer"].columns == ["c_custkey", "c_name"]


def _hier_catalog(spark):
    """Small Account-style hierarchy: 1 ← 2 ← 3, 4 ← 5; 6 isolated."""
    rows = [
        ("1", None),
        ("2", "1"),
        ("3", "2"),
        ("4", None),
        ("5", "4"),
        ("6", None),
    ]
    df = spark.createDataFrame(rows, "Id: string, ParentId: string")
    cat = TableCatalog(spark, "/tmp/none")
    cat.register("Account", df)
    reg = SchemaRegistry([TableMeta("Account", lookups={"ParentId": ["Account"]})])
    return cat, reg


def test_self_lookup_closure_up_and_down(spark):
    cat, reg = _hier_catalog(spark)
    steps = [ExtractStepPlan("Account", ExtractScope.SELECTED_IDS, ids=["2"])]
    op = ExtractOperation(spark, cat, reg, steps)
    res = op.run()
    # closure from 2: parent 1, child 3 — full hierarchy
    assert {r.Id for r in res["Account"].collect()} == {"1", "2", "3"}


def test_self_lookup_trace_none(spark):
    cat, reg = _hier_catalog(spark)
    steps = [
        ExtractStepPlan(
            "Account",
            ExtractScope.SELECTED_IDS,
            ids=["2"],
            self_lookup_behavior=SelfLookupBehavior.TRACE_NONE,
        )
    ]
    res = ExtractOperation(spark, cat, reg, steps).run()
    assert {r.Id for r in res["Account"].collect()} == {"2"}


def test_outside_lookup_drop_field(spark, sf_dir):
    steps = [
        ExtractStepPlan("customer", ExtractScope.QUERY, where="c_custkey <= 10"),
        ExtractStepPlan(
            "orders",
            ExtractScope.QUERY,
            where="o_custkey <= 20",
            outside_lookup_behavior={"o_custkey": OutsideLookupBehavior.DROP_FIELD},
        ),
    ]
    res = run_extract(spark, sf_dir, steps)
    rows = res["orders"].select("o_custkey").collect()
    kept = {r.o_custkey for r in rows if r.o_custkey is not None}
    assert kept <= set(range(0, 11))
    assert any(r.o_custkey is None for r in rows)


def test_outside_lookup_error(spark, sf_dir):
    steps = [
        ExtractStepPlan("customer", ExtractScope.QUERY, where="c_custkey <= 10"),
        ExtractStepPlan(
            "orders",
            ExtractScope.QUERY,
            where="o_custkey <= 20",
            outside_lookup_behavior={"o_custkey": OutsideLookupBehavior.ERROR},
        ),
    ]
    with pytest.raises(ExtractError, match="outside"):
        run_extract(spark, sf_dir, steps)


def test_descendent_chain_three_levels(spark, sf_dir):
    steps = [
        ExtractStepPlan("customer", ExtractScope.QUERY, where="c_custkey <= 25"),
        ExtractStepPlan("orders", ExtractScope.DESCENDENTS),
        ExtractStepPlan("lineitem", ExtractScope.DESCENDENTS),
    ]
    res = run_extract(spark, sf_dir, steps)
    cat = tpch_catalog(spark, sf_dir)
    expected = (
        cat["lineitem"]
        .join(
            cat["orders"].filter("o_custkey <= 25"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .count()
    )
    assert res["lineitem"].count() == expected > 0


def test_self_closure_parent_cycle_falls_back_to_bfs(spark):
    """Pointer doubling cannot converge on a parent cycle; the closure
    must detect that and fall back to BFS, still returning the full
    mutually-reachable set — for a 2-cycle and for an odd (3-)cycle,
    which never stops moving under doubling."""
    cases = [
        (
            [
                ("a", "b"),  # a <-> b cycle
                ("b", "a"),
                ("c", "a"),  # child of the cycle
                ("x", None),  # unrelated tree
                ("y", "x"),
            ],
            "c",
            {"a", "b", "c"},
        ),
        (
            [
                ("a", "c"),  # a -> c -> b -> a: a 3-cycle
                ("b", "a"),
                ("c", "b"),
                ("d", "a"),  # child of the cycle
                ("x", None),  # unrelated tree
                ("y", "x"),
            ],
            "d",
            {"a", "b", "c", "d"},
        ),
    ]
    reg = SchemaRegistry([TableMeta("Account", lookups={"ParentId": ["Account"]})])
    for rows, seed, want in cases:
        df = spark.createDataFrame(rows, "Id: string, ParentId: string")
        cat = TableCatalog(spark, "/tmp/none")
        cat.register("Account", df)
        steps = [ExtractStepPlan("Account", ExtractScope.SELECTED_IDS, ids=[seed])]
        res = ExtractOperation(spark, cat, reg, steps).run()
        assert {r.Id for r in res["Account"].collect()} == want, seed


def test_extract_query_filter_pushed_to_scan(spark, sf_dir):
    """The QUERY scope's predicate must reach the parquet scan as a
    pushed filter — at 100 TB this is the difference between reading
    one row group and reading the table."""
    cat = tpch_catalog(spark, sf_dir)
    df = cat["customer"].filter("c_custkey = 7")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1][:200]
    assert "c_custkey" in pushed


def test_closure_correct_under_frontier_shuffle_fallback(spark, monkeypatch):
    """J3 scale contract: with the frontier broadcast gate forced off,
    the BFS falls back to plain semi-joins and produces the identical
    closure (and the pointer-doubling accelerator disabled too, so the
    BFS path itself is exercised)."""
    import amaxa_spark.operators.extract as ex_mod

    monkeypatch.setattr(ex_mod, "_FRONTIER_BROADCAST_MAX", -1)
    monkeypatch.setattr(ex_mod, "_DOUBLING_MAX_EDGES", -1)
    cat, reg = _hier_catalog(spark)
    steps = [ExtractStepPlan("Account", ExtractScope.SELECTED_IDS, ids=["2"])]
    res = ExtractOperation(spark, cat, reg, steps).run()
    assert {r.Id for r in res["Account"].collect()} == {"1", "2", "3"}


def test_per_field_self_lookup_trace_none_skips_upward_only(spark):
    """Reference parity (`amaxa/amaxa.py:638-646,735-745`): a
    field-level trace-none excludes that self-lookup from UPWARD
    (parent) tracing, while the downward children pass still runs."""
    cat, reg = _hier_catalog(spark)
    steps = [
        ExtractStepPlan(
            "Account",
            ExtractScope.SELECTED_IDS,
            ids=["2"],
            self_lookup_overrides={
                "ParentId": SelfLookupBehavior.TRACE_NONE
            },
        )
    ]
    res = ExtractOperation(spark, cat, reg, steps).run()
    # from 2: child 3 found (downward), parent 1 NOT traced (upward off)
    assert {r.Id for r in res["Account"].collect()} == {"2", "3"}


def test_per_field_self_lookup_behavior_parses_from_config(spark):
    from amaxa_spark.config.loader import load_extract_config

    steps = load_extract_config(
        {
            "version": 2,
            "operation": [
                {
                    "table": "Account",
                    "extract": {"all": True},
                    "fields": [
                        {"field": "ParentId", "self-lookup-behavior": "trace-none"}
                    ],
                }
            ],
        }
    )
    assert steps[0].self_behavior_for("ParentId") is SelfLookupBehavior.TRACE_NONE
    assert steps[0].self_behavior_for("Other") is SelfLookupBehavior.TRACE_ALL


def test_missing_dependency_error_fused_check(spark):
    """The missing-dependency check rides the step's eager-checkpoint
    job as an Observation (no dedicated count action) — the error
    string and fail-stop timing must be identical to the old
    dedicated-action path."""
    child = spark.createDataFrame(
        [("c1", "p1"), ("c2", "pX"), ("c3", None)],
        "Id: string, ParentRef: string",
    )
    parent = spark.createDataFrame([("p1",), ("p2",)], "Id: string")
    cat = TableCatalog(spark, "/tmp/none")
    cat.register("Child", child)
    cat.register("Parent", parent)
    reg = SchemaRegistry([
        TableMeta("Child", lookups={"ParentRef": ["Parent"]}),
        TableMeta("Parent"),
    ])
    steps = [
        ExtractStepPlan("Child", ExtractScope.ALL_RECORDS),
        ExtractStepPlan("Parent", ExtractScope.DESCENDENTS),
    ]
    with pytest.raises(
        ExtractError,
        match=r"Parent: 1 required dependency IDs could not be "
              r"resolved \(sample: \['pX'\]\)",
    ):
        ExtractOperation(spark, cat, reg, steps).run()

    # happy path through the same fused check: drop the dangling row
    ok_child = child.where("Id <> 'c2'")
    cat2 = TableCatalog(spark, "/tmp/none")
    cat2.register("Child", ok_child)
    cat2.register("Parent", parent)
    res = ExtractOperation(spark, cat2, reg, steps).run()
    assert {r.Id for r in res["Parent"].collect()} == {"p1"}


def test_selected_ids_existence_fused_check(spark, sf_dir):
    """A CONSUMED SELECTED_IDS step rides its all-IDs-exist check on
    the step's eager-checkpoint job as an Observation (no dedicated
    count action) — error string and fail-stop timing identical to the
    dedicated-action path (which terminal steps keep, covered by
    test_selected_ids_and_missing)."""
    bad = [
        ExtractStepPlan("customer", ExtractScope.SELECTED_IDS, ids=[1, 10**9]),
        ExtractStepPlan("orders", ExtractScope.DESCENDENTS),
    ]
    with pytest.raises(
        ExtractError, match=r"customer: 1 of 2 requested IDs do not exist"
    ):
        run_extract(spark, sf_dir, bad)

    # happy path: the fused check passes and the consumer step sees
    # the checkpointed ID frame
    ok = [
        ExtractStepPlan("customer", ExtractScope.SELECTED_IDS, ids=[1, 2]),
        ExtractStepPlan("orders", ExtractScope.DESCENDENTS),
    ]
    res = run_extract(spark, sf_dir, ok)
    assert {r.c_custkey for r in res["customer"].collect()} == {1, 2}
    cat = tpch_catalog(spark, sf_dir)
    expected_o = {
        r.o_orderkey
        for r in cat["orders"].where(F.col("o_custkey").isin([1, 2])).collect()
    }
    got_o = {r.o_orderkey for r in res["orders"].select("o_orderkey").collect()}
    assert got_o == expected_o
