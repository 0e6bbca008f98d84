"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One client in one process runs ops of
the workload back to back at ``local[N]``, N = min(2, cpus): a closed
loop. It prints a human-readable summary on stderr and, as the last
line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics: setup is timed twice,
each time in a fresh JVM, then the CPU seconds of one cold op and of
warm ops for ``--seconds`` (at least one).
``--trace 1`` reports the per-layer metrics: one JVM with the Spark
event log on; after the cold op, warm ops alternate between spans off
and spans on around the program's entry points.
``trace.overhead_ratio`` is the median op time with spans over the
median without.

Every op's outputs are checked after the timed loop; an op that
raises or fails its check counts in ``failed``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

# setup is timed in this many fresh JVMs per run; a third launch would
# cost another ~5.5 s per run, and a full measurement (48 runs) must
# finish within 3,420 s
SETUP_REPEATS = 2
# two task slots: the ops are driver-bound (about 75 ms of planning and
# scheduling per Spark job), and the JVM's compiler, GC and Spark's own
# threads need cores of their own on a shared host
CPUS = min(2, os.cpu_count() or 1)
# the JVM heap cap; the inputs are a few MB, and the machine is shared
DRIVER_MEM = "2g"


def _program_root() -> str:
    """The checkout root holding ``amaxa_spark``; exit 2 without it, so
    the benchmark never measures some other installed copy."""
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "amaxa_spark", "__main__.py")):
        print(f"perfbench: no amaxa_spark package under {root}; run from the "
              "repository root", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, root)
    return root


class Jvm:
    """Launches and stops Spark's JVM inside this process, so setup can
    be timed more than once and the traced phase gets a JVM whose launch
    environment turns the event log on."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self, event_log_dir: str | None = None) -> float:
        from amaxa_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # all JIT compiler threads from the start: with threads added
        # on demand, how much one op compiles depended on when they
        # started (warm op CPU over five seeds: IQR / median 0.14,
        # against 0.05 and 0.09 in two sets with fixed threads); fixed
        # threads also live as long as the JVM, so their CPU can be
        # read per thread
        java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                     "-XX:-UseDynamicNumberOfCompilerThreads")
        args = [f'--driver-java-options "{java_opts}"',
                "--conf spark.ui.showConsoleProgress=false"]
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            args += ["--conf spark.eventLog.enabled=true",
                     f"--conf spark.eventLog.dir=file://{event_log_dir}",
                     "--conf spark.eventLog.compress=false",
                     "--conf spark.eventLog.rolling.enabled=false"]
        os.environ.update({
            "PYSPARK_SUBMIT_ARGS": " ".join(args + ["pyspark-shell"]),
            # the JVM spark-submit starts to build the driver command
            "SPARK_LAUNCHER_OPTS": java_opts,
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "SPARK_GRAFT_CPUS": str(CPUS),
            "AMAXA_SPARK_DRIVER_MEM": DRIVER_MEM,
        })
        t0 = time.perf_counter()
        self.spark = get_spark("amaxa_spark_cli", cpus=CPUS)
        return time.perf_counter() - t0

    def pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers it started) to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def tree_cpu_s(root: int) -> tuple[float, float]:
    """CPU seconds (user + system) of ``root`` and every live
    descendant, plus the children each of them has reaped: this process,
    its JVM and the Python workers the JVM starts. Returns (all, JIT):
    JIT is the part the JVM's compiler threads used."""
    tick = os.sysconf("SC_CLK_TCK")

    def seconds(stat_path: str, fields: slice) -> tuple[int, float]:
        with open(stat_path) as f:
            stat = f.read()
        rest = stat[stat.rfind(")") + 2:].split()
        return int(rest[1]), sum(int(x) for x in rest[fields]) / tick

    children, cpu = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid, cpu[int(name)] = seconds(f"/proc/{name}/stat", slice(11, 15))
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(name))
    total = jit = 0.0
    todo = [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo += children.get(pid, [])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        continue
                jit += seconds(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))[1]
            except OSError:
                pass
    return total, jit


class RssSampler:
    """Peak of (driver + JVM) resident set size, sampled from /proc."""

    def __init__(self, pids: list[int], period: float = 0.05):
        self.pids, self.period = pids, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self) -> int:
        total = 0
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._rss())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._rss())


def run_ops(wl, seconds: float, log, on_op=lambda i: None, min_warm: int = 1):
    """One cold op, then warm ops until ``seconds`` have passed since the
    first warm op started (at least ``min_warm`` of them). Appends (op index, seconds or None if it raised,
    result) per op to ``wl.attempted``; returns this call's entries and
    the warm-phase wall time. ``wl.cpu_s[i]`` gets op i's CPU seconds,
    ``wl.jit_s[i]`` the part of them the JIT compiler used."""
    done = []

    def one():
        i = len(wl.attempted)
        on_op(i)
        c0, j0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            res = wl.run(i)
            dt = time.perf_counter() - t0
        except Exception:
            log(traceback.format_exc())
            res, dt = None, None
        c1, j1 = tree_cpu_s(os.getpid())
        wl.cpu_s[i], wl.jit_s[i] = c1 - c0, j1 - j0
        done.append((i, dt, res))
        wl.attempted.append(done[-1])

    one()
    t_warm = time.perf_counter()
    while len(done) < 1 + min_warm or time.perf_counter() - t_warm < seconds:
        one()
    return done, time.perf_counter() - t_warm


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    root = _program_root()

    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    def log(msg):
        print(msg, file=sys.stderr, flush=True)

    work = os.path.join(root, "perfbench", ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    jvm = Jvm(work)
    try:
        desc = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
        if args.trace:
            result = traced(args, desc, work, jvm, log)
        else:
            result = untraced(args, desc, work, jvm, log)
    finally:
        jvm.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _workload(args, desc, jvm, work):
    from workloads import WORKLOADS

    return WORKLOADS[args.workload](desc, jvm.spark, os.path.join(work, "ops"))


def _check_all(wl, work, log) -> tuple[int, list[dict]]:
    import checks

    failed, facts = 0, []
    con = checks.connect(os.path.join(work, "tmp"))
    try:
        for i, dt, res in wl.attempted:
            if dt is None:
                failed += 1
                continue
            try:
                facts.append(wl.check(con, i, res))
            except checks.CheckError as e:
                log(f"op {i}: check failed: {e}")
                failed += 1
    finally:
        con.close()
    return failed, facts


def _summary(log, args, desc, metric_values, attempted, failed):
    log(f"workload {args.workload} seed {args.seed}: inputs "
        + ", ".join(f"{k}={v['rows']} rows/{v['bytes']} B" for k, v in desc["inputs"].items()))
    log(f"  properties: {json.dumps(desc['properties'])}")
    log(f"  failed_op_ratio = {failed}/{attempted} = {failed / attempted:.3f}")
    for name, m in metric_values.items():
        log(f"  {name} = {m['value']:.6g} {m['unit']}")


def untraced(args, desc, work, jvm, log) -> dict:
    setups = []
    for k in range(SETUP_REPEATS):
        if k:
            jvm.stop()
        setups.append(jvm.start())
    wl = _workload(args, desc, jvm, work)
    done, warm_wall = run_ops(wl, args.seconds, log)
    cold, warm = done[0], done[1:]
    warm_s = [dt for _, dt, _ in warm if dt is not None]
    warm_cpu = [wl.cpu_s[i] for i, dt, _ in warm if dt is not None]
    stored = [wl.stored_bytes(i) for i, dt, _ in done if dt is not None]
    failed, _ = _check_all(wl, work, log)
    values = {
        "setup_s": _median(setups),
        "cold_op_cpu_s": wl.cpu_s[cold[0]] if cold[1] is not None else float("nan"),
        "op_cpu_s": _median(warm_cpu),
        "rows_per_cpu_s": (wl.input_rows * len(warm_cpu) / sum(warm_cpu)
                           if warm_cpu else float("nan")),
        "stored_bytes_per_input_byte": _median(stored) / wl.input_bytes,
    }
    out = {k: {"value": v, "unit": metrics.END_TO_END[k]} for k, v in values.items()}
    attempted = len(wl.attempted)
    _summary(log, args, desc, out, attempted, failed)
    log(f"  setups {[round(s, 3) for s in setups]} s; cold op {cold[1]} s wall, "
        f"{wl.jit_s[cold[0]]:.2f} of its CPU s in the JIT; {len(warm_s)} warm ops "
        f"{[round(s, 3) for s in warm_s]} s wall over {warm_wall:.2f} s, "
        f"{[round(wl.jit_s[i], 2) for i, _, _ in warm]} of their CPU s in the JIT; "
        f"{wl.input_rows} input rows/op, {wl.input_bytes} input bytes/op")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def _install_spans(tracer):
    from amaxa_spark import __main__ as cli
    from amaxa_spark.operators import curate, dedup, extract, load, similarity
    from amaxa_spark.sources import catalog

    tracer.install(cli, "main", "cli.main")
    tracer.install(cli, "load_extract_config", "config.parse")
    tracer.install(cli, "load_load_config", "config.parse")
    tracer.install(cli, "write_extract_csv", "catalog.write_extract_csv", path_arg=1)
    tracer.install(extract.ExtractOperation, "run", "extract.run")
    tracer.install(load.LoadOperation, "run", "load.run")
    tracer.install(catalog, "write_versioned_db", "catalog.write_versioned_db", path_arg=1)
    tracer.install(catalog, "merge_into_versioned_db", "catalog.merge_into_versioned_db",
                   path_arg=1)
    tracer.install(catalog, "read_versioned_db", "catalog.read_versioned_db")
    tracer.install(curate, "curate_corpus", "curate.curate_corpus")
    tracer.install(dedup, "cluster_duplicates", "dedup.cluster_duplicates")
    tracer.install(dedup, "semantic_dedup", "dedup.semantic_dedup")
    tracer.install(similarity, "ivfpq_cosine_topk", "similarity.ivfpq_cosine_topk")


def traced(args, desc, work, jvm, log) -> dict:
    """One JVM with the event log on. Ops alternate between spans off
    (even ops, the cold op among them) and spans on (odd ops); the
    per-layer numbers are medians over the ops with spans on."""
    from spans import Group, Tracer, read_event_logs, span_rows

    event_dir = os.path.join(work, "eventlog")
    get_spark_s = jvm.start(event_log_dir=event_dir)
    tracer = Tracer(jvm.spark)
    wl = _workload(args, desc, jvm, work)

    starts = {}

    def on_op(i):
        starts[i] = time.time()
        tracer.uninstall()
        wl.sink = contextlib.nullcontext
        tracer.op = i
        if i % 2:
            _install_spans(tracer)
            wl.sink = lambda: tracer.span("bench.sink")

    try:
        with RssSampler([os.getpid(), jvm.pid()]) as rss:
            done, _ = run_ops(wl, args.seconds, log, on_op=on_op, min_warm=2)
    finally:
        tracer.uninstall()
    windows = [(starts[i], starts.get(i + 1, time.time())) for i in starts if i % 2]
    jvm.stop()  # closes the event log
    ok = [(i, dt) for i, dt, _ in done[1:] if dt is not None]
    traced_ops = [i for i, _ in ok if i % 2]
    plain_s = [dt for i, dt in ok if not i % 2]
    traced_s = [dt for i, dt in ok if i % 2]

    failed, facts = _check_all(wl, work, log)
    groups = read_event_logs(event_dir)
    rows = span_rows(tracer.spans, groups)

    def outermost(s):
        # a span nested in a span of the same name is already counted
        p = s.parent
        while p is not None:
            if tracer.spans[p].name == s.name:
                return False
            p = tracer.spans[p].parent
        return True

    per_op: dict[int, dict[str, float]] = {i: {} for i in traced_ops}
    for s, row in zip(tracer.spans, rows):
        if row["op"] not in per_op or not outermost(s):
            continue
        acc = per_op[row["op"]]
        for q in metrics.SPAN_QUANTITIES:
            key = f"{row['name']}.{q}"
            acc[key] = acc.get(key, 0) + row[q]
        acc["catalog.files_written"] = acc.get("catalog.files_written", 0) + row["files"]
        acc["catalog.bytes_written"] = acc.get("catalog.bytes_written", 0) + row["bytes"]

    values = {k: _median([per_op[i].get(k, 0) for i in traced_ops])
              for k in metrics.PER_LAYER}
    values["session.get_spark.wall_s"] = get_spark_s
    # outcome counts from the output checks; 0 where the workload
    # does not run the layer
    for key, fact in (("extract.rows_out", "extract_rows_out"),
                      ("load.rows_out", "load_rows_out"),
                      ("dedup.pairs_out", "pairs_out"),
                      ("curate.kept_ratio", "kept_ratio"),
                      ("similarity.recall_at_k", "recall_at_k")):
        seen = [f[fact] for f in facts if fact in f]
        values[key] = _median(seen) if seen else 0
    values["trace.overhead_ratio"] = _median(traced_s) / _median(plain_s)
    # wall-clock op latency: here, not among the end-to-end metrics,
    # because on a shared host it measures the other tenants too
    values["bench.op_wall_s"] = _median(plain_s)
    values["bench.cold_op_wall_s"] = done[0][1] if done[0][1] is not None else float("nan")
    values["bench.op_jit_cpu_s"] = _median([wl.jit_s[i] for i, dt in ok if not i % 2])
    # the Java heap grows in steps when G1 decides to, which depends on
    # GC timing: two runs of one seed can differ by 300 MB
    values["bench.peak_rss_mb"] = rss.peak / 2**20
    # jobs of a traced op that no span claimed: work the spans miss
    ungrouped = sum(1 for t0, _ in groups.get("", Group()).jobs
                    if any(a <= t0 < b for a, b in windows))
    out = {k: {"value": values[k], "unit": u} for k, u in metrics.PER_LAYER.items()}
    attempted = len(wl.attempted)
    _summary(log, args, desc, out, attempted, failed)
    log(f"  warm ops without spans {[round(x, 3) for x in plain_s]}, with spans "
        f"{[round(x, 3) for x in traced_s]}; {ungrouped} jobs of traced ops ran outside every span")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


if __name__ == "__main__":
    sys.exit(main())
