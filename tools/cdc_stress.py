"""Multi-process stress for the CDC/DELETE surface of the versioned
layouts — the cas_stress.py sibling for the write paths that
otherwise have only in-process tests: MERGE, DELETE, UPDATE and
CDC-apply racing on ONE table from SEPARATE OS processes (each with
its own SparkSession/JVM, so nothing is serialized by a shared driver
lock). The race runs once per storage layout: the ``table`` leg calls
the single-table verbs (`merge_into_versioned`, ...), the ``db`` leg
their `*_db` twins, each op a one-table transaction on table ``t`` of
a database that also holds an untouched sibling table (which must read
back unchanged). Both legs commit through the same CAS loop.

Each worker owns a DISJOINT key range and interleaves the three op
kinds over it, retrying `ConcurrentMergeError` rebases like a real
writer; cross-worker contention is therefore pure chain/bucket
contention, and the expected final state is computable exactly (each
worker's ops are sequential over its own keys). Afterwards the driver
asserts the protocol's whole contract:

- chain integrity: seqs dense 0..K (no holes — a hole would let a
  stale writer claim a vacated seq), every head bucket's generation
  directory present on disk,
- state correctness: the head table equals the union of every
  worker's independently-tracked expected dict,
- replica equality: a fresh replica seeded from the PRE-chaos
  snapshot and fed the computed change feed (`diff_versioned`
  init→head, applied via `apply_changes_versioned`, or their db
  twins) hash-matches the head — i.e. the CDF of a heavily contended
  history is replayable.

The table leg also races partition evolution (`rebucket_versioned`,
which has no db twin); both legs race chain compaction.

Usage: python tools/cdc_stress.py [n_procs] [ops_per_proc]
(default: 3 12); both legs always run. Each worker JVM takes
AMAXA_SPARK_DRIVER_MEM (default 4g) of driver heap.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYS_PER_WORKER = 60
DB_TABLE = "t"


def dml_verbs(layout: str) -> dict:
    """The four raced verbs of one layout, each with the single-table
    argument shape; on the db layout each call is a one-table
    transaction on ``DB_TABLE``."""
    from amaxa_spark.sources import catalog as C

    t = DB_TABLE
    if layout == "db":
        return {
            "merge": lambda spark, path, upd: C.merge_into_versioned_db(
                spark, path, {t: upd}, {t: ["v"]}, not_matched="insert"
            ),
            "delete": lambda spark, path, keys, mode: C.delete_from_versioned_db(
                spark, path, {t: keys}, mode=mode
            ),
            "update": lambda spark, path, sets, where, mode: C.update_versioned_db(
                spark, path, {t: {"set": sets, "where": where}}, mode=mode
            ),
            "apply": lambda spark, path, feed: C.apply_changes_versioned_db(
                spark, path, {t: feed}
            ),
        }
    return {
        "merge": lambda spark, path, upd: C.merge_into_versioned(
            spark, path, upd, pk="pk", set_cols=["v"], not_matched="insert"
        ),
        "delete": lambda spark, path, keys, mode: C.delete_from_versioned(
            spark, path, keys, pk="pk", mode=mode
        ),
        "update": lambda spark, path, sets, where, mode: C.update_versioned(
            spark, path, sets, where=where, mode=mode
        ),
        "apply": lambda spark, path, feed: C.apply_changes_versioned(
            spark, path, feed
        ),
    }


def worker(path: str, layout: str, wid: int, n_ops: int, outdir: str) -> None:
    os.environ.setdefault("AMAXA_SPARK_DRIVER_MEM", "4g")
    from amaxa_spark.session import get_spark
    from amaxa_spark.sources.catalog import ConcurrentMergeError

    verbs = dml_verbs(layout)
    spark = get_spark(f"cdc_stress_{layout}_w{wid}", cpus=4)
    base = wid * 1000
    # the worker's model of its own keys: pk -> v, mirrored op by op
    model = {base + k: f"init{base + k}" for k in range(KEYS_PER_WORKER)}
    retries = 0
    for i in range(n_ops):
        kind = i % 4
        lo = base + (i * 7) % (KEYS_PER_WORKER - 10)
        keys = list(range(lo, lo + 10))
        if kind == 3:  # UPDATE the slice in place (round-9 verb) —
            # alternating copy-on-write rewrite vs merge-on-read
            # DV + UPDATE overlay (round-11): same visible semantics,
            # so the shared model verifies both paths under contention
            from pyspark.sql import functions as F

            umode = "dv" if (i // 4) % 2 else "rewrite"
            while True:
                try:
                    verbs["update"](
                        spark, path, {"v": F.lit(f"w{wid}u{i}")},
                        f"pk >= {lo} AND pk < {lo + 10}", umode,
                    )
                    break
                except ConcurrentMergeError:
                    retries += 1
            for k in keys:
                if k in model:
                    model[k] = f"w{wid}u{i}"
            continue
        if kind == 0:  # MERGE upsert: 8 updates + 2 brand-new keys
            new = [base + KEYS_PER_WORKER + (i * 2) % 40,
                   base + KEYS_PER_WORKER + (i * 2 + 1) % 40]
            rows = [(k, f"w{wid}m{i}") for k in keys + new]
            upd = spark.createDataFrame(rows, "pk long, v string")
            while True:
                try:
                    verbs["merge"](spark, path, upd)
                    break
                except ConcurrentMergeError:
                    retries += 1
            for k, v in rows:
                model[k] = v
        elif kind == 1:  # DELETE half the slice — alternating physical
            # strategy: copy-on-write rewrite vs merge-on-read DELETION
            # VECTOR (round-10). Same visible semantics, so the shared
            # expected-state model and the CDF replica replay verify
            # both paths under cross-process contention.
            dels = keys[::2]
            kf = spark.createDataFrame([(k,) for k in dels], "pk long")
            dmode = "dv" if (i // 4) % 2 else "rewrite"
            while True:
                try:
                    verbs["delete"](spark, path, kf, dmode)
                    break
                except ConcurrentMergeError:
                    retries += 1
            for k in dels:
                model.pop(k, None)
        else:  # CDC apply: mixed insert / post-image / delete feed
            feed_rows = []
            for j, k in enumerate(keys):
                if j % 3 == 0:
                    feed_rows.append((k, f"w{wid}c{i}", "update_postimage"
                                      if k in model else "insert"))
                elif j % 3 == 1 and k in model:
                    feed_rows.append((k, None, "delete"))
            if not feed_rows:
                continue
            feed = spark.createDataFrame(
                feed_rows, "pk long, v string, _change_type string"
            )
            while True:
                try:
                    verbs["apply"](spark, path, feed)
                    break
                except ConcurrentMergeError:
                    retries += 1
            for k, v, ct in feed_rows:
                if ct == "delete":
                    model.pop(k, None)
                else:
                    model[k] = v
    with open(os.path.join(outdir, f"w{wid}.json"), "w") as f:
        json.dump({"retries": retries,
                   "model": {str(k): v for k, v in model.items()}}, f)
    spark.stop()


def rebucket_worker(path: str, attempts: int, outdir: str) -> None:
    """PARTITION EVOLUTION under chaos: keep trying to rebucket the
    contended table (16 <-> 24) while the DML workers commit. Every
    attempt either lands cleanly (the chain was quiet across the
    whole snapshot-read + rewrite window) or raises
    ConcurrentMergeError (round-10 conflict detection) — it must
    never silently drop a racing commit, which the driver's final
    state check would catch as missing rows."""
    os.environ.setdefault("AMAXA_SPARK_DRIVER_MEM", "4g")
    from amaxa_spark.session import get_spark
    from amaxa_spark.sources.catalog import (
        ConcurrentMergeError,
        rebucket_versioned,
    )

    spark = get_spark("cdc_stress_rebucket", cpus=4)
    landed, conflicts = 0, 0
    for i in range(attempts):
        try:
            rebucket_versioned(spark, path, 24 if i % 2 == 0 else 16)
            landed += 1
        except ConcurrentMergeError:
            conflicts += 1
    with open(os.path.join(outdir, "rebucket.json"), "w") as f:
        json.dump({"landed": landed, "conflicts": conflicts}, f)
    spark.stop()


def fold_worker(path: str, attempts: int, outdir: str) -> None:
    """CHAIN COMPACTION under chaos: repeatedly fold the commit-chain
    prefix into a checkpoint while the DML workers commit. Every fold
    must preserve the head exactly (the driver's state check would
    catch a torn manifest) and must never let a racing claim vanish
    into a deleted seq — the FLOOR protocol retracts such claims onto
    the ordinary rebase path, so the final expected-union assert
    doubles as the lost-update detector. No SparkSession needed:
    folding is pure chain metadata."""
    from amaxa_spark.sources.catalog import compact_commit_chain

    folds, skips = 0, 0
    for _ in range(attempts):
        try:
            res = compact_commit_chain(path, keep_last=4)
            folds += 1 if res["folded_at"] is not None else 0
            skips += 1 if res["folded_at"] is None else 0
        except RuntimeError:
            skips += 1  # lock contention
        # the writer JVMs take tens of seconds to start — pace the
        # attempts across the whole chaos window, not just its head
        time.sleep(3.0)
    with open(os.path.join(outdir, "fold.json"), "w") as f:
        json.dump({"folds": folds, "skips": skips}, f)


def run_leg(spark, layout: str, n_procs: int, n_ops: int) -> dict:
    """Race the workers on one layout and check the whole contract;
    returns the leg's summary."""
    from amaxa_spark.sources import catalog as C

    db = layout == "db"
    tmp = tempfile.mkdtemp(prefix=f"cdc_stress_{layout}_")
    path = os.path.join(tmp, "src")
    replica = os.path.join(tmp, "replica")
    rows = [
        (w * 1000 + k, f"init{w * 1000 + k}")
        for w in range(n_procs)
        for k in range(KEYS_PER_WORKER)
    ]
    base = spark.createDataFrame(rows, "pk long, v string")
    side_rows = [(k, f"side{k}") for k in range(20)]
    if db:
        side = spark.createDataFrame(side_rows, "pk long, v string")
        m0 = C.write_versioned_db(
            spark, path, {DB_TABLE: base, "side": side},
            {DB_TABLE: "pk", "side": "pk"}, n_buckets=16,
        )
        # replica starts at the pre-chaos snapshot, DIFFERENT bucket count
        C.write_versioned_db(
            spark, replica, {DB_TABLE: base}, {DB_TABLE: "pk"}, n_buckets=5
        )
    else:
        m0 = C.write_versioned_table(base, path, pk="pk", n_buckets=16)
        C.write_versioned_table(base, replica, pk="pk", n_buckets=5)

    ctx = mp.get_context("spawn")  # no forked JVM state
    procs = [
        ctx.Process(target=worker, args=(path, layout, w, n_ops, tmp))
        for w in range(n_procs)
    ]
    if not db:
        # one extra process races PARTITION EVOLUTION against the DML
        # — a successful rebucket must carry every committed row; a
        # losing one must raise, never silently supersede
        procs.append(
            ctx.Process(target=rebucket_worker, args=(path, 6, tmp))
        )
    # and one keeps folding the chain prefix into checkpoint commits
    # while everyone writes — reads, rebases, and the final CDF replay
    # must be unaffected (the FLOOR protocol's live-fire test)
    procs.append(
        ctx.Process(target=fold_worker, args=(path, 20, tmp))
    )
    t0 = time.time()
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    wall = time.time() - t0
    dead = [p.pid for p in procs if p.exitcode != 0]
    assert not dead, f"worker process(es) died: {dead}"

    out = {"layout": layout}
    if not db:
        with open(os.path.join(tmp, "rebucket.json")) as f:
            rb = json.load(f)
        # a guaranteed-quiet final rebucket: post-evolution reads must
        # equal the pre-evolution state exactly (checked below via the
        # same expected-union and replica-CDF asserts)
        final_m = C.rebucket_versioned(spark, path, 32)
        assert final_m["n_buckets"] == 32
        out.update({
            "rebuckets_landed": rb["landed"],
            "rebucket_conflicts": rb["conflicts"],
            "final_n_buckets": final_m["n_buckets"],
            "post_rebucket_read_equal": True,
        })

    # --- chain integrity (floor-aware: folding deletes the prefix
    # below FLOOR; above it the chain must stay dense) ---
    seqs = sorted(
        int(f[: -len(".json")])
        for f in os.listdir(os.path.join(path, C.COMMITS_DIR))
        if f.endswith(".json")
    )
    floor = C._chain_floor(path) or 0
    assert seqs == list(range(floor, floor + len(seqs))), (
        f"chain has holes above floor {floor}: {seqs[:10]}..."
    )
    if db:
        manifest = C._db_manifest(path)
        entry = manifest["tables"][DB_TABLE]
        root = os.path.join(path, DB_TABLE)
        head = C.read_versioned_db(spark, path, DB_TABLE)
    else:
        manifest = entry = C._bucket_manifest(path)
        root = path
        head = C.read_versioned_table(spark, path)
    for b, gen in entry["buckets"].items():
        leaf = os.path.join(root, gen, f"{C.MERGE_BUCKET_COL}={b}")
        assert os.path.isdir(leaf), f"missing bucket dir {leaf}"

    # --- state correctness vs the union of worker models ---
    expected = {}
    retries = {}
    for w in range(n_procs):
        with open(os.path.join(tmp, f"w{w}.json")) as f:
            rec = json.load(f)
        retries[w] = rec["retries"]
        expected.update({int(k): v for k, v in rec["model"].items()})
    got = {r.pk: r.v for r in head.select("pk", "v").collect()}
    missing = {k for k in expected if k not in got}
    extra = {k for k in got if k not in expected}
    wrong = {k for k in expected if k in got and got[k] != expected[k]}
    assert not (missing or extra or wrong), (
        f"state divergence: missing={sorted(missing)[:5]} "
        f"extra={sorted(extra)[:5]} wrong={sorted(wrong)[:5]}"
    )

    # --- replica equality via the computed CDF of the whole chaos ---
    if db:
        feed = C.diff_versioned_db(
            spark, path, DB_TABLE, m0["token"], manifest["token"]
        )
        C.apply_changes_versioned_db(spark, replica, {DB_TABLE: feed})
        rep = C.read_versioned_db(spark, replica, DB_TABLE)
        # the sibling table no transaction touched reads back unchanged
        side_now = sorted(
            (r.pk, r.v)
            for r in C.read_versioned_db(spark, path, "side").collect()
        )
        assert side_now == side_rows, "untouched sibling table changed"
        out["sibling_unchanged"] = True
    else:
        feed = C.diff_versioned(spark, path, m0["token"], manifest["token"])
        C.apply_changes_versioned(spark, replica, feed)
        rep = C.read_versioned_table(spark, replica)
    have = sorted((r.pk, r.v) for r in rep.select("pk", "v").collect())
    assert have == sorted(got.items()), (
        "replica diverged from source after CDF apply"
    )

    with open(os.path.join(tmp, "fold.json")) as f:
        fold = json.load(f)

    out.update({
        "procs": n_procs, "ops_per_proc": n_ops,
        # head seq == total commits after the init
        "commits": seqs[-1], "wall_s": round(wall, 1),
        "chain_files": len(seqs), "chain_floor": floor,
        "folds_landed": fold["folds"],
        "rebase_retries": retries,
        "final_rows": len(got),
        "chain_dense": True, "state_exact": True, "replica_equal": True,
    })
    return out


def main() -> None:
    n_procs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    n_ops = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    os.environ.setdefault("AMAXA_SPARK_DRIVER_MEM", "4g")
    from amaxa_spark.session import get_spark

    spark = get_spark("cdc_stress_driver", cpus=8)
    for layout in ("table", "db"):
        print(json.dumps(run_leg(spark, layout, n_procs, n_ops)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
