"""Output checks: each op's outputs against an independent DuckDB or
NumPy recomputation from the generated inputs.

Every check raises ``CheckError`` on the first mismatch and otherwise
returns the facts it measured (row counts, kept share, recall), which
the traced run reports as layer metrics.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np

from gen import schema


class CheckError(AssertionError):
    pass


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckError(msg)


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    return con


def _csv_dir(path: str) -> str:
    files = sorted(glob.glob(os.path.join(path, "*.csv")))
    _require(bool(files), f"{path}: no CSV part files")
    listed = ", ".join(f"'{f}'" for f in files)
    return f"read_csv([{listed}], header = true, all_varchar = true)"


def _one(con, sql: str):
    return con.execute(sql).fetchone()[0]


def _same_rows(con, a: str, b: str, what: str) -> None:
    extra = _one(con, f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))")
    missing = _one(con, f"SELECT count(*) FROM (({b}) EXCEPT ALL ({a}))")
    _require(extra == 0 and missing == 0,
             f"{what}: {extra} unexpected rows, {missing} missing rows")


# --- slice_roundtrip: the extract ------------------------------------------

EXTRACT_EXPECTED = {
    "customer": "SELECT c_custkey AS k FROM in_customer WHERE c_mktsegment IN ({segments})",
    "orders": "SELECT o_orderkey AS k FROM in_orders WHERE o_custkey IN (SELECT k FROM exp_customer)",
    "lineitem": "SELECT l_lineid AS k FROM in_lineitem WHERE l_orderkey IN (SELECT k FROM exp_orders)",
    # trace-all self lookup: every part connected to a selected or a
    # lineitem-referenced part through parent links, in either direction
    "part": """
        WITH RECURSIVE
          e(a, b) AS (
            SELECT p_partkey, p_parentkey FROM in_part WHERE p_parentkey IS NOT NULL
            UNION ALL
            SELECT p_parentkey, p_partkey FROM in_part WHERE p_parentkey IS NOT NULL),
          cl(k) AS (
            SELECT unnest([{selected}]::BIGINT[])
            UNION
            SELECT l_partkey FROM in_lineitem WHERE l_lineid IN (SELECT k FROM exp_lineitem)
            UNION
            SELECT e.b FROM cl JOIN e ON e.a = cl.k)
        SELECT k FROM cl""",
    "supplier": "SELECT DISTINCT l_suppkey AS k FROM in_lineitem WHERE l_lineid IN (SELECT k FROM exp_lineitem)",
    "nation": """SELECT c_nationkey AS k FROM in_customer WHERE c_custkey IN (SELECT k FROM exp_customer)
                 UNION SELECT s_nationkey FROM in_supplier WHERE s_suppkey IN (SELECT k FROM exp_supplier)""",
    "region": "SELECT DISTINCT n_regionkey AS k FROM in_nation WHERE n_nationkey IN (SELECT k FROM exp_nation)",
}


def check_extract(con, desc: dict, out_dir: str) -> dict:
    """The extracted CSVs hold exactly the recomputed row set of each
    table, no duplicate rows, and every FK resolves inside the slice."""
    data = desc["data_dir"]
    props = desc["properties"]
    fmt = {"segments": ", ".join(f"'{s}'" for s in props["segments"]),
           "selected": ", ".join(str(k) for k in props["selected_part_ids"])}
    tables = schema(desc["extract_tables"])
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW in_{t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    for t, sql in EXTRACT_EXPECTED.items():
        con.execute(f"CREATE OR REPLACE TEMP TABLE exp_{t} AS {sql.format(**fmt)}")
    rows_out = 0
    for t, (pk, fks) in tables.items():
        con.execute(f"CREATE OR REPLACE TEMP TABLE out_{t} AS SELECT * FROM "
                    f"{_csv_dir(os.path.join(out_dir, t + '.csv'))}")
        n, n_keys = con.execute(
            f"SELECT count(*), count(DISTINCT {pk}) FROM out_{t}").fetchone()
        _require(n == n_keys, f"{t}: {n - n_keys} duplicate rows")
        _same_rows(con, f"SELECT CAST({pk} AS BIGINT) FROM out_{t}",
                   f"SELECT k FROM exp_{t}", f"{t} row set")
        rows_out += n
    for t, (pk, fks) in tables.items():
        for col, parent in fks.items():
            dangling = _one(con, f"""
                SELECT count(*) FROM out_{t} WHERE {col} IS NOT NULL AND {col} NOT IN
                (SELECT {tables[parent][0]} FROM out_{parent})""")
            _require(dangling == 0, f"{t}.{col}: {dangling} references leave the slice")
    return {"rows_out": rows_out}


# --- slice_roundtrip: the load, merge and read-back -----------------------

def _upserted(tables: dict, t: str, upd: dict | None) -> str:
    """Input rows of ``t`` with the update file applied, PK and FKs
    mapped to new IDs through the result maps: what the database must
    hold after the op."""
    pk, fks = tables[t]
    sel = [f"m.new AS {pk}"]
    joins = [f"JOIN map_{t} m ON m.old = i.{pk}"]
    for j, (col, parent) in enumerate(fks.items()):
        joins.append(f"LEFT JOIN map_{parent} f{j} ON f{j}.old = i.{col}")
        sel.append(f"f{j}.new AS {col}")
    if upd is not None:
        joins.append(f"LEFT JOIN upd_{t} u ON u.{pk} = i.{pk}")
        sel.append(f"coalesce(u.{upd['set_col']}, i.{upd['set_col']}) AS {upd['set_col']}")
    exclude = [pk, *fks] + ([upd["set_col"]] if upd else [])
    return (f"SELECT i.* EXCLUDE ({', '.join(exclude)}), {', '.join(sel)} "
            f"FROM src_{t} i {' '.join(joins)}")


def check_load(con, desc: dict, slice_dir: str, db_dir: str, readback,
               table_sql: dict[str, str]) -> dict:
    """The load of the CSV slice under ``slice_dir`` into ``db_dir``:
    every loaded table has its input's rows; the ID maps are total
    bijections; every rewritten FK equals its parent's new ID; the
    committed snapshot equals the inputs with the update files applied;
    and the read-back table equals the same DuckDB upsert.
    ``table_sql`` holds one DuckDB query per table of the committed
    snapshot (``catalog.db_manifest_to_sql``)."""
    tables = schema(desc["load_tables"])
    for t in tables:
        con.execute(f"CREATE OR REPLACE TEMP TABLE src_{t} AS SELECT * FROM "
                    f"{_csv_dir(os.path.join(slice_dir, t + '.csv'))}")
        con.execute(f"""CREATE OR REPLACE TEMP TABLE map_{t} AS SELECT "Original Id" AS old,
                        "New Id" AS new, "Error" AS err FROM
                        {_csv_dir(os.path.join(db_dir, t + '.results.csv'))}""")
    for t, u in desc["updates"].items():
        con.execute(f"CREATE OR REPLACE TEMP TABLE upd_{t} AS SELECT * FROM "
                    f"read_csv('{u['path']}', header = true, all_varchar = true)")
    _require(set(table_sql) == set(tables), f"database tables {sorted(table_sql)}")
    rows_out = 0
    for t, (pk, fks) in tables.items():
        con.execute(f"CREATE OR REPLACE TEMP TABLE db_{t} AS SELECT * FROM ({table_sql[t]})")
        n_in = _one(con, f"SELECT count(*) FROM src_{t}")
        n_db = _one(con, f"SELECT count(*) FROM db_{t}")
        _require(n_db == n_in, f"{t}: {n_db} rows loaded, {n_in} in input")
        n_map, n_new, n_err = con.execute(
            f"SELECT count(*), count(DISTINCT new), count(err) FROM map_{t}").fetchone()
        _require(n_map == n_in and n_new == n_in and n_err == 0,
                 f"{t}: ID map has {n_map} rows, {n_new} distinct new IDs, {n_err} errors")
        unmapped = _one(con, f"SELECT count(*) FROM src_{t} WHERE {pk} NOT IN (SELECT old FROM map_{t})")
        _require(unmapped == 0, f"{t}: {unmapped} input rows have no new ID")
        for col, parent in fks.items():
            wrong = _one(con, f"""
                SELECT count(*) FROM db_{t} d
                JOIN map_{t} m ON m.new = d.{pk}
                JOIN src_{t} i ON i.{pk} = m.old
                LEFT JOIN map_{parent} p ON p.old = i.{col}
                WHERE d.{col} IS DISTINCT FROM p.new
                   OR (i.{col} IS NOT NULL AND p.new IS NULL)""")
            _require(wrong == 0, f"{t}.{col}: {wrong} FKs differ from the parent's new ID")
        cols = ", ".join(r[0] for r in con.execute(f"DESCRIBE src_{t}").fetchall())
        _same_rows(con, f"SELECT {cols} FROM db_{t}",
                   f"SELECT {cols} FROM ({_upserted(tables, t, desc['updates'].get(t))})",
                   f"{t} snapshot vs upsert")
        rows_out += n_db
    t = desc["read_table"]
    cols = [r[0] for r in con.execute(f"DESCRIBE src_{t}").fetchall()]
    con.register("readback_df", readback)
    sel = ", ".join(cols)
    _same_rows(con, f"SELECT {sel} FROM readback_df",
               f"SELECT {sel} FROM ({_upserted(tables, t, desc['updates'].get(t))})",
               f"{t} read-back vs upsert")
    con.unregister("readback_df")
    return {"rows_out": rows_out}


# --- corpus_curate ---------------------------------------------------------

IVFPQ_RECALL_FLOOR = 0.35  # the IVF-PQ recall floor tests/test_r11_ops.py asserts


def _parquet(path: str) -> str:
    return f"read_parquet('{os.path.join(path, '*.parquet')}')"


def check_curate(con, desc: dict, out_dir: str, stdout: str, ref: dict | None,
                 k: int) -> dict:
    """Curation: zero leakage, every doc judged once, kept docs passed
    the gate, each kept doc split once, a kept share above 0, and the
    same kept set and splits for either input permutation. Semantic
    dedup: every vector once, each duplicate has a cluster-mate at
    cosine >= 0.95. IVF-PQ: ``k`` distinct non-self neighbours per
    query and recall@k against exact cosine at least the tested floor.
    ``ref`` is the first op's result, which every later op must match."""
    cur = os.path.join(out_dir, "curate")
    _require("leaking clusters 0" in stdout, f"curate leakage: {stdout.strip()[-200:]}")
    n_docs = desc["inputs"]["documents_a"]["rows"]
    n, n_ids, n_pass = con.execute(
        f"SELECT count(*), count(DISTINCT doc_id), sum(keep) FROM "
        f"{_parquet(os.path.join(cur, 'flags.parquet'))}").fetchone()
    _require(n == n_docs and n_ids == n_docs, f"flags: {n} rows, {n_ids} ids for {n_docs} docs")
    kept = sorted(r[0] for r in con.execute(
        f"SELECT doc_id FROM {_parquet(os.path.join(cur, 'kept.parquet'))}").fetchall())
    splits = sorted(con.execute(
        f"SELECT id, split FROM {_parquet(os.path.join(cur, 'splits.parquet'))}").fetchall())
    _require(len(kept) > 0, "no document kept")
    _require(len(set(kept)) == len(kept), "kept has duplicate documents")
    _require([i for i, _ in splits] == kept, "splits do not cover the kept documents once each")
    failed_gate = _one(con, f"""
        SELECT count(*) FROM {_parquet(os.path.join(cur, 'kept.parquet'))} k
        JOIN {_parquet(os.path.join(cur, 'flags.parquet'))} f USING (doc_id) WHERE f.keep = 0""")
    _require(failed_gate == 0, f"{failed_gate} kept documents failed the quality gate")

    emb = con.execute(f"SELECT vec_id, embedding FROM read_parquet('{desc['embeddings']}')").fetchall()
    ids = np.array([r[0] for r in emb])
    vecs = np.array([r[1] for r in emb], dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    row_of = {int(i): j for j, i in enumerate(ids)}

    sd = con.execute(f"SELECT vec_id, cid, dup FROM "
                     f"{_parquet(os.path.join(out_dir, 'semdedup.parquet'))} ORDER BY vec_id").fetchall()
    _require(len(sd) == len(ids) and len({r[0] for r in sd}) == len(ids),
             f"semantic dedup: {len(sd)} rows for {len(ids)} vectors")
    by_cid: dict[int, list[int]] = {}
    for vid, cid, _ in sd:
        by_cid.setdefault(cid, []).append(row_of[int(vid)])
    for vid, cid, dup in sd:
        if dup:
            mates = [j for j in by_cid[cid] if j != row_of[int(vid)]]
            best = np.round(unit[mates] @ unit[row_of[int(vid)]], 6).max() if mates else -1
            _require(best >= 0.95, f"semantic dedup: vector {vid} flagged without a near duplicate")
    dups = sorted(int(r[0]) for r in sd if r[2])

    nn = con.execute(f"SELECT query_id, neighbor_id, rank FROM "
                     f"{_parquet(os.path.join(out_dir, 'ivfpq.parquet'))}").fetchall()
    got: dict[int, set] = {}
    for q, nb, _ in nn:
        got.setdefault(int(q), set()).add(int(nb))
    hits = 0
    for q in desc["query_ids"]:
        nbs = got.get(q, set())
        _require(len(nbs) == k and q not in nbs, f"ivfpq: query {q} has neighbours {sorted(nbs)}")
        sims = unit @ unit[row_of[q]]
        sims[row_of[q]] = -np.inf
        exact = {int(ids[j]) for j in np.argsort(-sims, kind="stable")[:k]}
        hits += len(exact & nbs)
    recall = hits / (k * len(desc["query_ids"]))
    _require(len(nn) == k * len(desc["query_ids"]), f"ivfpq: {len(nn)} rows")
    _require(recall >= IVFPQ_RECALL_FLOOR, f"ivfpq recall@{k} {recall:.3f} below {IVFPQ_RECALL_FLOOR}")

    facts = {"kept": kept, "splits": splits, "dups": dups,
             "kept_ratio": len(kept) / n_docs, "recall_at_k": recall,
             "pairs_out": len(dups) + (n_pass - len(kept))}
    if ref is not None:
        for key in ("kept", "splits", "dups"):
            _require(facts[key] == ref[key], f"{key} differ between runs on permuted inputs")
    return facts
