"""Seeded input generator for the benchmark workloads.

Every input the program sees is written here from ``--seed`` alone:
the same seed gives byte-identical files (``test_gen.py`` asserts it).
Sizes are constants, so every seed does comparable work; the seed
chooses keys, row order, the extracted market segments, the selected
hierarchy IDs, the changed rows, the document permutations and the
ANN query IDs.

``generate(workload, seed, out_dir)`` returns a JSON-able description:
each input's rows and bytes, the workload properties (root share,
hierarchy depth, changed share, ...) and the parameters the workload
driver needs (paths, ID lists).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_STATUS = ["F", "O", "P"]
N_REGION, N_NATION = 5, 25

# self-lookup hierarchy: each part tree has one root and
# LEVEL_WIDTH nodes on each of HIERARCHY_DEPTH further levels, so a
# leaf sits exactly HIERARCHY_DEPTH parent hops below its root
HIERARCHY_DEPTH = 8
LEVEL_WIDTH = 2
TREE_SIZE = 1 + LEVEL_WIDTH * HIERARCHY_DEPTH

# slice_roundtrip sizes
SLICE = dict(customers=2000, suppliers=100, trees=120, sellable_trees=30,
             orders_per_customer=5, max_lines=7, selected_ids=6, n_buckets=4)
# extract: the root, its descendents, the part hierarchy and the
# dependencies; load: the root, its descendents and the
# self-referencing part table out of that slice
EXTRACT_ORDER = ["customer", "orders", "lineitem", "part", "supplier", "nation", "region"]
LOAD_ORDER = ["customer", "part", "orders", "lineitem"]
# corpus_curate sizes
CURATE = dict(docs=400, near_dup_share=0.15, emb_rows=600, emb_dim=32,
              emb_clusters=24, emb_dup_share=0.05, queries=8)

GOPHER_REQUIRED = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per purpose: adding a draw to one table
    # does not shift the values of another
    key = [seed & 0xFFFFFFFF, *stream.encode()]
    return np.random.default_rng(np.random.SeedSequence(key))


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _write_csv(columns: dict[str, list], path: str) -> None:
    names = list(columns)
    rows = zip(*(columns[n] for n in names))
    with open(path, "w", newline="") as f:
        f.write(",".join(names) + "\n")
        for r in rows:
            f.write(",".join("" if v is None else str(v) for v in r) + "\n")


def _file_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _star(seed: int, sizes: dict) -> dict[str, dict[str, np.ndarray]]:
    """TPC-H-like star schema plus an acyclic part hierarchy, as column
    arrays in seeded row order."""
    r = _rng(seed, "star")
    n_c, n_s, n_t = sizes["customers"], sizes["suppliers"], sizes["trees"]

    region = {"r_regionkey": np.arange(N_REGION, dtype=np.int64),
              "r_name": np.array([f"REGION{i}" for i in range(N_REGION)])}
    nation = {"n_nationkey": np.arange(N_NATION, dtype=np.int64),
              "n_name": np.array([f"NATION{i}" for i in range(N_NATION)]),
              "n_regionkey": r.integers(0, N_REGION, N_NATION).astype(np.int64)}
    customer = {
        "c_custkey": r.permutation(n_c).astype(np.int64) + 1,
        "c_name": None,
        "c_nationkey": r.integers(0, N_NATION, n_c).astype(np.int64),
        "c_acctbal": np.round(r.uniform(-999.0, 9999.0, n_c), 2),
        # exactly n_c / 5 customers per segment: every seed's root
        # query selects the same share
        "c_mktsegment": np.array(SEGMENTS)[r.permutation(n_c) % len(SEGMENTS)],
    }
    customer["c_name"] = np.array([f"Customer#{k:09d}" for k in customer["c_custkey"]])
    supplier = {
        "s_suppkey": r.permutation(n_s).astype(np.int64) + 1,
        "s_name": None,
        "s_nationkey": r.integers(0, N_NATION, n_s).astype(np.int64),
        "s_acctbal": np.round(r.uniform(-999.0, 9999.0, n_s), 2),
    }
    supplier["s_name"] = np.array([f"Supplier#{k:09d}" for k in supplier["s_suppkey"]])

    # part forest: tree t owns keys t*TREE_SIZE+1 .. (t+1)*TREE_SIZE;
    # node j of a tree sits on level ceil(j / LEVEL_WIDTH) and points
    # at a random node of the level above
    n_p = n_t * TREE_SIZE
    pkey = np.arange(n_p, dtype=np.int64) + 1
    parent = np.full(n_p, -1, dtype=np.int64)
    for t in range(n_t):
        base = t * TREE_SIZE
        for lvl in range(1, HIERARCHY_DEPTH + 1):
            lo = 1 + (lvl - 1) * LEVEL_WIDTH
            above = [0] if lvl == 1 else list(range(lo - LEVEL_WIDTH, lo))
            for j in range(lo, lo + LEVEL_WIDTH):
                parent[base + j] = pkey[base + above[r.integers(0, len(above))]]
    # sellable trees: lineitems reference only their parts, so the
    # hierarchy closure has trees no lineitem reaches
    sellable = np.sort(r.choice(n_t, sizes["sellable_trees"], replace=False))
    sellable_parts = (sellable[:, None] * TREE_SIZE + np.arange(TREE_SIZE)).ravel() + 1
    order = r.permutation(n_p)
    part = {
        "p_partkey": pkey[order],
        "p_name": np.array([f"part {k}" for k in pkey[order]]),
        "p_retailprice": np.round(r.uniform(900.0, 2100.0, n_p), 2)[order],
        "p_parentkey": parent[order],
    }

    n_o = n_c * sizes["orders_per_customer"]
    okey = r.permutation(n_o).astype(np.int64) + 1
    orders = {
        "o_orderkey": okey,
        "o_custkey": customer["c_custkey"][r.integers(0, n_c, n_o)],
        "o_orderstatus": np.array(ORDER_STATUS)[r.integers(0, 3, n_o)],
        "o_totalprice": np.round(r.uniform(800.0, 500000.0, n_o), 2),
        "o_orderdate": np.datetime64("1992-01-01")
        + r.integers(0, 2400, n_o).astype("timedelta64[D]"),
    }
    lines = r.integers(1, sizes["max_lines"] + 1, n_o)
    l_order = np.repeat(okey, lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_l = len(l_order)
    lorder = r.permutation(n_l)
    lineitem = {
        # single-column key: (orderkey, linenumber) packed into one id
        "l_lineid": (l_order * 8 + l_num)[lorder],
        "l_orderkey": l_order[lorder],
        "l_partkey": sellable_parts[r.integers(0, len(sellable_parts), n_l)],
        "l_suppkey": supplier["s_suppkey"][r.integers(0, n_s, n_l)],
        "l_linenumber": l_num[lorder].astype(np.int64),
        "l_quantity": r.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 100000.0, n_l), 2),
        "l_discount": np.round(r.uniform(0.0, 0.1, n_l), 2),
    }
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


# table -> (pk, {fk column: parent table}); the FK graph both the
# program's registry and the checkers are built from
STAR_SCHEMA = {
    "region": ("r_regionkey", {}),
    "nation": ("n_nationkey", {"n_regionkey": "region"}),
    "customer": ("c_custkey", {"c_nationkey": "nation"}),
    "supplier": ("s_suppkey", {"s_nationkey": "nation"}),
    "part": ("p_partkey", {"p_parentkey": "part"}),
    "orders": ("o_orderkey", {"o_custkey": "customer"}),
    "lineitem": ("l_lineid", {"l_orderkey": "orders", "l_partkey": "part",
                              "l_suppkey": "supplier"}),
}


def schema(tables: list[str]) -> dict[str, tuple[str, dict[str, str]]]:
    """STAR_SCHEMA restricted to ``tables``: an FK to a table outside
    the set is a plain column."""
    return {t: (STAR_SCHEMA[t][0],
                {c: p for c, p in STAR_SCHEMA[t][1].items() if p in tables})
            for t in tables}


def _registry(tables: list[str]) -> dict:
    return {"tables": [
        {"name": t, "pk": pk, "lookups": {c: [p] for c, p in fks.items()}}
        for t, (pk, fks) in schema(tables).items()
    ]}


def _write_json(doc, path: str) -> None:
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)


def _arrow(cols: dict[str, np.ndarray]) -> pa.Table:
    out = {}
    for name, arr in cols.items():
        if name == "p_parentkey":
            out[name] = pa.array(arr, mask=arr < 0)
        else:
            out[name] = pa.array(arr)
    return pa.table(out)


def _gen_slice_roundtrip(seed: int, out: str) -> dict:
    star = _star(seed, SLICE)
    r = _rng(seed, "slice")
    data = os.path.join(out, "data")
    os.makedirs(data)
    inputs = {}
    for t, cols in star.items():
        path = os.path.join(data, f"{t}.parquet")
        _write_parquet(_arrow(cols), path)
        inputs[t] = {"rows": len(next(iter(cols.values()))), "bytes": _file_bytes(path)}
    segments = sorted(r.choice(SEGMENTS, 2, replace=False).tolist())
    # selected hierarchy IDs: leaves of trees no lineitem reaches, so
    # each one adds a whole tree through the closure loop alone
    sold = set(star["lineitem"]["l_partkey"].tolist())
    leaves = np.sort(star["part"]["p_partkey"][
        (star["part"]["p_partkey"] - 1) % TREE_SIZE >= TREE_SIZE - LEVEL_WIDTH
    ])
    unsold = [int(k) for k in leaves if int(k) not in sold]
    selected = sorted(int(k) for k in r.choice(unsold, SLICE["selected_ids"], replace=False))
    _write_json(_registry(EXTRACT_ORDER), os.path.join(out, "registry.json"))
    _write_json(_registry(LOAD_ORDER), os.path.join(out, "load_registry.json"))
    seg_sql = ", ".join(f"'{s}'" for s in segments)
    op = {"version": 2, "operation": [
        {"table": "customer", "extract": {"query": f"c_mktsegment IN ({seg_sql})"}},
        {"table": "orders", "extract": {"descendents": True}},
        {"table": "lineitem", "extract": {"descendents": True}},
        {"table": "part", "extract": {"ids": selected}},
        {"table": "supplier", "extract": {"descendents": True}},
        {"table": "nation", "extract": {"descendents": True}},
        {"table": "region", "extract": {"descendents": True}},
    ]}
    _write_json(op, os.path.join(out, "extract.json"))
    os.makedirs(os.path.join(out, "empty"))
    # the seeded changed share of the extracted roots and their orders,
    # keyed by source ID: one merge transaction after the load
    share = float(np.round(r.uniform(0.08, 0.12), 4))
    roots = np.isin(star["customer"]["c_mktsegment"], segments)
    root_keys = star["customer"]["c_custkey"][roots]
    order_keys = star["orders"]["o_orderkey"][np.isin(star["orders"]["o_custkey"], root_keys)]
    updates = {}
    for t, key, col, keys, values in (
        ("customer", "c_custkey", "c_acctbal", root_keys,
         lambda n: [f"{v:.2f}" for v in np.round(r.uniform(-999.0, 9999.0, n), 2)]),
        ("orders", "o_orderkey", "o_orderstatus", order_keys,
         lambda n: np.array(ORDER_STATUS)[r.integers(0, 3, n)].tolist()),
    ):
        n = int(round(share * len(keys)))
        picked = np.sort(r.choice(keys, n, replace=False)).tolist()
        path = os.path.join(out, f"updates_{t}.csv")
        _write_csv({key: picked, col: values(n)}, path)
        inputs[f"updates_{t}"] = {"rows": n, "bytes": _file_bytes(path)}
        updates[t] = {"path": path, "pk": key, "set_col": col}
    return {
        "inputs": inputs,
        "properties": {"root_share": round(float(roots.mean()), 4),
                       "hierarchy_depth": HIERARCHY_DEPTH,
                       "changed_share": share, "segments": segments,
                       "selected_part_ids": selected},
        "extract_tables": EXTRACT_ORDER, "load_tables": LOAD_ORDER,
        "data_dir": data, "empty_dir": os.path.join(out, "empty"),
        "registry": os.path.join(out, "registry.json"),
        "load_registry": os.path.join(out, "load_registry.json"),
        "operation": os.path.join(out, "extract.json"),
        "updates": updates, "n_buckets": SLICE["n_buckets"], "read_table": "customer",
    }


def _words(r: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < n:
        k = int(r.integers(3, 10))
        out.add("".join(letters[r.integers(0, 26, k)]))
    return sorted(out)


def _documents(seed: int) -> tuple[dict, int]:
    r = _rng(seed, "docs")
    vocab = _words(r, 600)
    n = CURATE["docs"]
    n_dup = int(n * CURATE["near_dup_share"])
    texts = []
    for _ in range(n - n_dup):
        length = int(r.integers(10, 150))
        # a third of the documents use no stopwords, so the required-
        # stopword rule has something to reject
        p_stop = 0.0 if r.random() < 1 / 3 else 0.2
        words = [
            GOPHER_REQUIRED[r.integers(0, len(GOPHER_REQUIRED))]
            if r.random() < p_stop else vocab[r.integers(0, len(vocab))]
            for _ in range(length)
        ]
        texts.append(" ".join(words))
    # near-duplicates: a copy of an earlier document with ~3% of its
    # words replaced, so n-gram Jaccard clustering has work to do
    for _ in range(n_dup):
        words = texts[int(r.integers(0, n - n_dup))].split(" ")
        for i in np.nonzero(r.random(len(words)) < 0.03)[0]:
            words[i] = vocab[r.integers(0, len(vocab))]
        texts.append(" ".join(words))
    ids = r.permutation(n).astype(np.int64) * 7 + 3
    docs = {
        "doc_id": ids,
        "text": np.array(texts, dtype=object),
        "lang": np.array(["en"] * n),
        "source": np.array([f"src{i % 5}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    return docs, n


def _embeddings(seed: int) -> dict:
    r = _rng(seed, "emb")
    n, dim, k = CURATE["emb_rows"], CURATE["emb_dim"], CURATE["emb_clusters"]
    centers = r.normal(size=(k, dim))
    n_dup = int(n * CURATE["emb_dup_share"])
    base = centers[r.integers(0, k, n - n_dup)] + 0.6 * r.normal(size=(n - n_dup, dim))
    src = r.integers(0, n - n_dup, n_dup)
    dups = base[src] + 0.01 * r.normal(size=(n_dup, dim))
    vecs = np.vstack([base, dups]).astype(np.float32)
    order = r.permutation(n)
    return {"vec_id": np.arange(n, dtype=np.int64)[order] * 3 + 1,
            "embedding": vecs[order],
            "label": np.concatenate([np.zeros(n - n_dup), np.ones(n_dup)]).astype(np.int32)[order]}


def _gen_corpus_curate(seed: int, out: str) -> dict:
    data = os.path.join(out, "data")
    os.makedirs(data)
    r = _rng(seed, "curate")
    docs, n = _documents(seed)
    inputs = {}
    # two seeded row permutations of one corpus: ops alternate between
    # them and their curated output must be identical
    for name in ("documents_a", "documents_b"):
        perm = r.permutation(n)
        table = pa.table({c: pa.array(v[perm]) for c, v in docs.items()})
        path = os.path.join(data, f"{name}.parquet")
        _write_parquet(table, path)
        inputs[name] = {"rows": n, "bytes": _file_bytes(path)}
    emb = _embeddings(seed)
    dim = CURATE["emb_dim"]
    table = pa.table({
        "vec_id": pa.array(emb["vec_id"]),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb["embedding"].ravel()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(emb["label"]),
    })
    path = os.path.join(data, "embeddings.parquet")
    _write_parquet(table, path)
    inputs["embeddings"] = {"rows": len(emb["vec_id"]), "bytes": _file_bytes(path)}
    queries = sorted(int(q) for q in r.choice(emb["vec_id"], CURATE["queries"], replace=False))
    return {
        "inputs": inputs,
        "properties": {"near_dup_share": CURATE["near_dup_share"],
                       "embedding_dup_share": CURATE["emb_dup_share"],
                       "query_ids": queries},
        "data_dir": data, "doc_tables": ["documents_a", "documents_b"],
        "embeddings": path, "query_ids": queries, "emb_dim": dim,
    }


GENERATORS = {
    "slice_roundtrip": _gen_slice_roundtrip,
    "corpus_curate": _gen_corpus_curate,
}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's inputs for ``seed`` under ``out_dir`` (which
    must not exist) and return their description."""
    os.makedirs(out_dir)
    desc = GENERATORS[workload](seed, out_dir)
    desc["workload"], desc["seed"] = workload, seed
    _write_json(desc, os.path.join(out_dir, "inputs.json"))
    return desc
