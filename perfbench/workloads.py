"""The workloads: what one op does, and how its outputs are checked.

An op goes through the entry points a user calls: the in-process CLI
``amaxa_spark.__main__.main(argv)``, and the public ``sources.catalog``
and operator functions where the CLI has no mode. Each op writes to a
fresh directory; no state is reused between ops.
"""

from __future__ import annotations

import contextlib
import io
import json
import os

import checks

# curate gate: the CLI defaults (50 words, 2 required stopwords) would
# also keep a share of this corpus, but 30/2 keeps about half of it, so
# the near-dup clustering downstream sees a large input
CURATE_GATE = ["--min-words", "30", "--min-required-hits", "2"]
# the LLM-pipeline operators run at small, fixed operating points: each
# Lloyd iteration is a Spark job, and the run has a time budget
SEMDEDUP = dict(n_centroids=8, kmeans_iters=2)
IVFPQ = dict(k_top=5, n_centroids=8, nprobe=2, coarse_iters=1, m=8, k=16,
             pq_iters=1, oversample=2)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _cli(argv: list[str]) -> str:
    """Run the CLI in-process; return what it printed. A non-zero exit
    code fails the op."""
    from amaxa_spark import __main__ as cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    if rc != 0:
        raise checks.CheckError(f"CLI {argv[0]} exited {rc}: {buf.getvalue()[-300:]}")
    return buf.getvalue()


class Workload:
    """One workload over generated inputs ``desc``. ``sink`` wraps the
    benchmark's own final actions; the traced run makes it open the
    ``bench.sink`` span."""

    def __init__(self, desc: dict, spark, ops_dir: str):
        self.desc = desc
        self.spark = spark
        self.ops_dir = ops_dir
        self.sink = contextlib.nullcontext
        # (op index, seconds or None if it raised, run's result) per op
        self.attempted: list[tuple[int, float | None, object]] = []
        # CPU seconds per op index, and the JIT compiler's part of them
        self.cpu_s: dict[int, float] = {}
        self.jit_s: dict[int, float] = {}
        # rows and bytes the program reads in one op
        self.input_rows = sum(v["rows"] for v in desc["inputs"].values())
        self.input_bytes = sum(v["bytes"] for v in desc["inputs"].values())

    def out(self, i: int) -> str:
        return os.path.join(self.ops_dir, f"op{i:03d}")

    def run(self, i: int):
        """Run op ``i``; return what ``check`` needs besides the files."""
        raise NotImplementedError

    def check(self, con, i: int, result) -> dict:
        raise NotImplementedError

    def stored_bytes(self, i: int) -> int:
        return dir_bytes(self.out(i))


class SliceRoundtrip(Workload):
    """Extract a slice to CSV, load part of it into a fresh versioned
    database, merge the changed rows in one transaction, read a table
    back."""

    def run(self, i):
        from pyspark.sql import functions as F

        from amaxa_spark.sources import catalog

        d = self.desc
        out = self.out(i)
        slice_dir, db = os.path.join(out, "slice"), os.path.join(out, "db")
        _cli(["extract", d["operation"], "--data-dir", d["data_dir"],
              "--registry", d["registry"], "--out", slice_dir])
        # the load operation names this op's extract output as its input
        load_op = os.path.join(out, "load.json")
        with open(load_op, "w") as f:
            json.dump({"version": 1, "operation": [
                {"sobject": t, "file": os.path.join(slice_dir, f"{t}.csv")}
                for t in d["load_tables"]]}, f)
        _cli(["load", load_op, "--data-dir", d["empty_dir"], "--registry", d["load_registry"],
              "--out", db, "--merge-db", str(d["n_buckets"])])
        read = self.spark.read.option("header", True)
        updates, set_cols = {}, {}
        for t, u in d["updates"].items():
            # the update files are keyed by source ID: map them to the
            # loaded IDs through the load's own result file
            with self.sink():  # a CSV read with a header runs a job
                ids = read.csv(os.path.join(db, f"{t}.results.csv"))
                upd = read.csv(u["path"])
            updates[t] = upd.join(ids, upd[u["pk"]] == ids["Original Id"]).select(
                F.col("New Id").alias(u["pk"]), u["set_col"])
            set_cols[t] = [u["set_col"]]
        catalog.merge_into_versioned_db(self.spark, db, updates, set_cols=set_cols)
        df = catalog.read_versioned_db(self.spark, db, d["read_table"])
        with self.sink():
            return df.toPandas()

    def check(self, con, i, result):
        from amaxa_spark.sources.catalog import db_manifest_to_sql

        out = self.out(i)
        slice_dir, db = os.path.join(out, "slice"), os.path.join(out, "db")
        facts = checks.check_extract(con, self.desc, slice_dir)
        loaded = checks.check_load(con, self.desc, slice_dir, db, result, db_manifest_to_sql(db))
        return {"extract_rows_out": facts["rows_out"], "load_rows_out": loaded["rows_out"]}


class CorpusCurate(Workload):
    def __init__(self, *args):
        super().__init__(*args)
        # the two document permutations are two copies of one corpus;
        # an op reads one of them
        self.input_rows -= self.desc["inputs"]["documents_b"]["rows"]
        self.input_bytes -= self.desc["inputs"]["documents_b"]["bytes"]
        self.ref = None

    def run(self, i):
        from amaxa_spark.operators import dedup, similarity

        out = self.out(i)
        table = self.desc["doc_tables"][i % 2]
        printed = _cli(["curate", table, "--data-dir", self.desc["data_dir"],
                        "--out", os.path.join(out, "curate"), *CURATE_GATE])
        with self.sink():
            emb = self.spark.read.parquet(self.desc["embeddings"])
        sd = dedup.semantic_dedup(emb, **SEMDEDUP)
        with self.sink():
            sd.write.parquet(os.path.join(out, "semdedup.parquet"))
            emb = self.spark.read.parquet(self.desc["embeddings"])
        nn = similarity.ivfpq_cosine_topk(emb, query_ids=self.desc["query_ids"],
                                          dim=self.desc["emb_dim"], **IVFPQ)
        with self.sink():
            nn.write.parquet(os.path.join(out, "ivfpq.parquet"))
        return printed

    def check(self, con, i, result):
        facts = checks.check_curate(con, self.desc, self.out(i), result, self.ref,
                                    IVFPQ["k_top"])
        if self.ref is None:
            self.ref = facts
        return facts


WORKLOADS = {
    "slice_roundtrip": SliceRoundtrip,
    "corpus_curate": CorpusCurate,
}
