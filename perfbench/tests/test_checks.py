"""The checkers accept a correct output and reject corrupted ones.

Correct outputs are built here with DuckDB from the generated inputs,
without Spark, then corrupted one way at a time."""

import os

import pandas as pd
import pytest

import checks
import gen
from gen import schema


@pytest.fixture
def con(tmp_path):
    c = checks.connect(str(tmp_path))
    yield c
    c.close()


def _write_extract(con, desc, out, edit=None):
    """Write the expected extract as Spark-style CSV directories;
    ``edit`` maps a table to a SQL filter/projection that corrupts it."""
    fmt = {"segments": ", ".join(f"'{s}'" for s in desc["properties"]["segments"]),
           "selected": ", ".join(map(str, desc["properties"]["selected_part_ids"]))}
    tables = schema(desc["extract_tables"])
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW in_{t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(desc['data_dir'], t + '.parquet')}')")
    for t, sql in checks.EXTRACT_EXPECTED.items():
        con.execute(f"CREATE OR REPLACE TEMP TABLE exp_{t} AS {sql.format(**fmt)}")
    for t, (pk, _) in tables.items():
        os.makedirs(os.path.join(out, f"{t}.csv"))
        rows = f"SELECT * FROM in_{t} WHERE {pk} IN (SELECT k FROM exp_{t})"
        if edit and t in edit:
            rows = edit[t].format(rows=rows)
        con.execute(f"COPY ({rows}) TO '{os.path.join(out, t + '.csv', 'part-00000.csv')}' (HEADER)")


@pytest.fixture(scope="module")
def extract_desc(tmp_path_factory):
    return gen.generate("slice_roundtrip", 11, str(tmp_path_factory.mktemp("ex") / "in"))


def test_extract_checker_accepts_expected_output(con, extract_desc, tmp_path):
    _write_extract(con, extract_desc, str(tmp_path / "out"))
    facts = checks.check_extract(con, extract_desc, str(tmp_path / "out"))
    assert facts["rows_out"] > 0


@pytest.mark.parametrize("edit, message", [
    ({"lineitem": "SELECT * FROM ({rows}) WHERE l_lineid <> (SELECT min(l_lineid) FROM ({rows}))"},
     "lineitem row set"),
    ({"orders": "SELECT * REPLACE (CASE WHEN o_orderkey = (SELECT min(o_orderkey) FROM ({rows})) "
                "THEN -1 ELSE o_custkey END AS o_custkey) FROM ({rows})"},
     "orders.o_custkey"),
    ({"part": "SELECT * FROM ({rows}) WHERE p_parentkey IS NOT NULL"}, "part row set"),
    ({"customer": "SELECT * FROM ({rows}) UNION ALL (SELECT * FROM ({rows}) LIMIT 1)"},
     "customer: 1 duplicate"),
])
def test_extract_checker_rejects_corruption(con, extract_desc, tmp_path, edit, message):
    _write_extract(con, extract_desc, str(tmp_path / "out"), edit)
    with pytest.raises(checks.CheckError, match=message):
        checks.check_extract(con, extract_desc, str(tmp_path / "out"))


def _write_load(con, desc, out, wrong_fk=False, drop_row=False):
    """Write what a correct extract, load and merge leave: the slice,
    the result maps under the database directory, and each loaded
    table's expected snapshot as a CSV the checker reads in place of the
    versioned layout."""
    slice_dir, db = os.path.join(out, "slice"), os.path.join(out, "db")
    _write_extract(con, desc, slice_dir)
    tables = schema(desc["load_tables"])
    for t, (pk, _) in tables.items():
        con.execute(f"CREATE OR REPLACE TEMP TABLE src_{t} AS SELECT * FROM read_csv("
                    f"'{os.path.join(slice_dir, t + '.csv', 'part-00000.csv')}', header = true, "
                    "all_varchar = true)")
        os.makedirs(os.path.join(db, f"{t}.results.csv"))
        con.execute(f"""COPY (SELECT {pk} AS "Original Id", 'N' || {pk}
                        AS "New Id", NULL AS "Error" FROM src_{t})
                        TO '{os.path.join(db, t + '.results.csv', 'part-00000.csv')}' (HEADER)""")
        con.execute(f"""CREATE OR REPLACE TEMP TABLE map_{t} AS SELECT {pk} AS old,
                        'N' || {pk} AS new FROM src_{t}""")
    for t, u in desc["updates"].items():
        con.execute(f"CREATE OR REPLACE TEMP TABLE upd_{t} AS SELECT * FROM "
                    f"read_csv('{u['path']}', header = true, all_varchar = true)")
    sql = {}
    for t in tables:
        path = os.path.join(db, f"{t}.snapshot.csv")
        rows = f"SELECT * FROM ({checks._upserted(tables, t, desc['updates'].get(t))})"
        if wrong_fk and t == "lineitem":
            rows = f"SELECT * REPLACE ('N1' AS l_partkey) FROM ({rows})"
        if drop_row and t == "orders":
            rows = f"SELECT * FROM ({rows}) LIMIT (SELECT count(*) - 1 FROM src_orders)"
        con.execute(f"COPY ({rows}) TO '{path}' (HEADER)")
        sql[t] = f"SELECT * FROM read_csv('{path}', header = true, all_varchar = true)"
    readback = con.execute(
        f"SELECT * FROM ({checks._upserted(tables, 'customer', desc['updates']['customer'])})").df()
    return slice_dir, db, sql, readback


def test_load_checker_accepts_expected_output(con, extract_desc, tmp_path):
    slice_dir, db, sql, readback = _write_load(con, extract_desc, str(tmp_path))
    facts = checks.check_load(con, extract_desc, slice_dir, db, readback, sql)
    assert facts["rows_out"] > 0
    # the next op is checked on the same connection
    checks.check_extract(con, extract_desc, slice_dir)
    checks.check_load(con, extract_desc, slice_dir, db, readback, sql)


@pytest.mark.parametrize("kw, message", [
    ({"wrong_fk": True}, "lineitem.l_partkey"),
    ({"drop_row": True}, "orders: .* rows loaded"),
])
def test_load_checker_rejects_corruption(con, extract_desc, tmp_path, kw, message):
    slice_dir, db, sql, readback = _write_load(con, extract_desc, str(tmp_path), **kw)
    with pytest.raises(checks.CheckError, match=message):
        checks.check_load(con, extract_desc, slice_dir, db, readback, sql)


def test_load_checker_rejects_wrong_readback(con, extract_desc, tmp_path):
    slice_dir, db, sql, readback = _write_load(con, extract_desc, str(tmp_path))
    readback = readback.copy()
    readback.loc[0, "c_acctbal"] = "0.01"
    with pytest.raises(checks.CheckError, match="read-back"):
        checks.check_load(con, extract_desc, slice_dir, db, pd.DataFrame(readback), sql)


@pytest.fixture(scope="module")
def curate_desc(tmp_path_factory):
    return gen.generate("corpus_curate", 11, str(tmp_path_factory.mktemp("cc") / "in"))


def _write_curate(desc, out, bad_gate=False, random_neighbours=False):
    """Write curate, semantic-dedup and IVF-PQ outputs that pass the
    checks: half the documents kept, no duplicates flagged, exact
    cosine neighbours."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def put(name, cols):
        os.makedirs(os.path.join(out, name))
        pq.write_table(pa.table(cols), os.path.join(out, name, "part-0.parquet"))

    docs = pq.read_table(os.path.join(desc["data_dir"], "documents_a.parquet")).to_pydict()
    ids = sorted(docs["doc_id"])
    keep = [1 if n % 2 == 0 else 0 for n in range(len(ids))]
    kept = [i for i, k in zip(ids, keep) if k or (bad_gate and i == ids[1])]
    put("curate/flags.parquet", {"doc_id": ids, "keep": keep})
    put("curate/kept.parquet", {"doc_id": kept})
    put("curate/splits.parquet", {"id": kept, "split": ["train"] * len(kept)})
    emb = pq.read_table(desc["embeddings"]).to_pydict()
    vec_ids = np.array(emb["vec_id"])
    unit = np.array(emb["embedding"], dtype=np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    put("semdedup.parquet", {"vec_id": vec_ids, "cid": [0] * len(vec_ids), "dup": [False] * len(vec_ids)})
    rows = {"query_id": [], "neighbor_id": [], "rank": []}
    for q in desc["query_ids"]:
        j = int(np.nonzero(vec_ids == q)[0][0])
        sims = unit @ unit[j]
        sims[j] = -np.inf
        # the least similar vectors, or the exact top 5 (self sorts last)
        best = np.argsort(sims)[1:6] if random_neighbours else np.argsort(-sims)[:5]
        for r, b in enumerate(best):
            rows["query_id"].append(q)
            rows["neighbor_id"].append(int(vec_ids[b]))
            rows["rank"].append(r + 1)
    put("ivfpq.parquet", rows)


@pytest.mark.parametrize("kw, message", [
    ({}, None),
    ({"bad_gate": True}, "failed the quality gate"),
    ({"random_neighbours": True}, "recall"),
])
def test_curate_checker(con, curate_desc, tmp_path, kw, message):
    _write_curate(curate_desc, str(tmp_path), **kw)
    stdout = "curated documents_a: kept 200/400, leaking clusters 0\n"
    if message is None:
        facts = checks.check_curate(con, curate_desc, str(tmp_path), stdout, None, 5)
        assert facts["recall_at_k"] == 1.0 and facts["kept_ratio"] == 0.5
        with pytest.raises(checks.CheckError, match="leakage"):
            checks.check_curate(con, curate_desc, str(tmp_path), "leaking clusters 3", None, 5)
    else:
        with pytest.raises(checks.CheckError, match=message):
            checks.check_curate(con, curate_desc, str(tmp_path), stdout, None, 5)
