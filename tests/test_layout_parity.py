"""Parity pins for the two versioned storage layouts.

The single-table layout and the multi-table (db) layout share one
commit protocol, so a fixed verb sequence must commit the same kind
of manifest on both, commit after commit. The golden file records
every manifest of that sequence on both layouts; generation tokens
and commit timestamps are normalised so the comparison is
deterministic. Re-record it (only when a manifest change is
intended) with ``python tests/test_layout_parity.py``.
"""

import glob
import json
import os
import re
import sys

import pytest
from pyspark.sql import functions as F

GOLDEN = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "golden", "layout_manifests.json"
)
_TOKEN = re.compile(r"(?<![0-9a-f])[0-9a-f]{12}(?![0-9a-f])")


def _frame(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.0).alias("v"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )


def _normalise(manifests: list) -> list:
    """Drop commit timestamps and rename every 12-hex token to ``T<i>``
    in order of first appearance across the whole sequence, so a
    bucket that keeps its generation keeps its placeholder."""
    names: dict[str, str] = {}

    def strip(o):
        if isinstance(o, dict):
            return {k: strip(v) for k, v in o.items() if k != "committed_at"}
        if isinstance(o, list):
            return [strip(v) for v in o]
        return o

    text = json.dumps(strip(manifests), sort_keys=True)
    return json.loads(
        _TOKEN.sub(lambda m: names.setdefault(m[0], f"T{len(names)}"), text)
    )


def _run_sequence(spark, lay) -> list:
    """merge (upsert), DV delete, rewrite update, DV update, CDC apply
    and a clustering optimize, in that order — every manifest each
    verb committed."""
    out = [lay.write(_frame(spark), "k", n_buckets=4, stats_cols=["v"])]
    out.append(lay.merge(
        spark.createDataFrame(
            [(1, 10.0, "m1"), (2, 20.0, "m2"), (100, 1.0, "m100")],
            "k long, v double, name string",
        ),
        "k", ["v", "name"], not_matched="insert",
    ))
    out.append(lay.delete(
        spark.createDataFrame([(3,), (5,), (7,)], "k long"), "k", mode="dv"
    ))
    out.append(lay.update({"v": "v * 2"}, where="k < 6"))
    out.append(lay.update({"v": "-1.0"}, where="k = 20", mode="dv"))
    out.append(lay.apply_changes(spark.createDataFrame(
        [
            (200, 2.0, "c200", "insert"),
            (21, 0.5, "c21", "update_postimage"),
            (22, None, None, "delete"),
        ],
        "k long, v double, name string, _change_type string",
    )))
    m, compacted = lay.optimize(cluster_by=["v"])
    out.append({"manifest": m, "compacted": compacted})
    return out


def test_verb_sequence_commits_golden_manifests(spark, versioned_layouts):
    with open(GOLDEN) as f:
        want = json.load(f)
    for lay in versioned_layouts:
        got = _normalise(_run_sequence(spark, lay))
        assert len(got) == len(want[lay.kind]), lay
        for i, (g, w) in enumerate(zip(got, want[lay.kind])):
            assert g == w, (lay, i)


def test_cdc_post_image_and_delete_guard_commits_nothing(
    spark, versioned_layouts
):
    feed = spark.createDataFrame(
        [(4, 9.0, "x", "update_postimage"), (4, None, None, "delete")],
        "k long, v double, name string, _change_type string",
    )
    for lay in versioned_layouts:
        lay.write(_frame(spark), "k", n_buckets=4)
        before = lay.manifest()
        gen_glob = os.path.join(
            lay.root, lay.TABLE if lay.db else "", "gen-*"
        )
        gens = sorted(glob.glob(gen_glob))
        with pytest.raises(
            ValueError, match="BOTH a post-image and a delete for pk 4"
        ):
            lay.apply_changes(feed)
        after = lay.manifest()
        assert (after["seq"], after["token"]) == (
            before["seq"], before["token"]
        ), lay
        assert sorted(glob.glob(gen_glob)) == gens, lay
        assert lay.read().where("k = 4").first().v == 4.0, lay


if __name__ == "__main__":
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from conftest import VersionedLayout

    from amaxa_spark.session import get_spark

    spark = get_spark("layout_parity_golden", cpus=2)
    with tempfile.TemporaryDirectory() as d:
        golden = {
            kind: _normalise(_run_sequence(
                spark, VersionedLayout(spark, kind, os.path.join(d, kind))
            ))
            for kind in ("table", "db")
        }
    with open(GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
