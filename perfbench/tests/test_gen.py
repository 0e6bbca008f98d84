import os

import pytest

import gen


def _files(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                # operation files name their inputs by absolute path
                out[os.path.relpath(path, root)] = fh.read().replace(root.encode(), b"<root>")
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_identical_inputs(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(workload, 7, a)
    gen.generate(workload, 7, b)
    gen.generate(workload, 8, c)
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert fa == fb
    assert fa.keys() == fc.keys() and fa != fc


def test_recorded_properties(tmp_path):
    d = gen.generate("slice_roundtrip", 3, str(tmp_path / "sl"))
    assert d["properties"]["hierarchy_depth"] == gen.HIERARCHY_DEPTH
    assert d["properties"]["root_share"] == 0.4  # 2 of 5 equal segments
    assert 0.08 <= d["properties"]["changed_share"] <= 0.12
    assert all(v["rows"] > 0 and v["bytes"] > 0 for v in d["inputs"].values())


def test_part_hierarchy_is_a_forest_of_stated_depth(tmp_path):
    import pyarrow.parquet as pq

    d = gen.generate("slice_roundtrip", 5, str(tmp_path / "sl"))
    part = pq.read_table(f"{d['data_dir']}/part.parquet").to_pydict()
    parent = dict(zip(part["p_partkey"], part["p_parentkey"]))
    depths = []
    for k in parent:
        hops, cur = 0, k
        while parent[cur] is not None:
            hops += 1
            cur = parent[cur]
            assert hops <= len(parent), "parent cycle"
        depths.append(hops)
    assert max(depths) == gen.HIERARCHY_DEPTH
