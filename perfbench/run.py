"""Benchmark for the mydatalake_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in this process as a closed loop with one client on
Spark ``local[nproc]`` (shuffle partitions = nproc). Set-up generates
the inputs from ``--seed``, starts the session and runs one untimed
warm pass that also checks every output. The timed part then runs as
many passes over the workload's ops, in a seeded order, as take
``--seconds`` on an unloaded host. ``--trace 0`` prints the end-to-end
metrics, whose op costs are CPU seconds (wall-clock figures go on ``#``
lines); ``--trace 1`` runs one untraced pass, then traced passes, and
prints the per-layer metrics and the tracing overhead. The last line of
standard output is one JSON object. Workloads, metrics and the layer
each metric belongs to are described in perfbench/NOTES.md.

Every run keeps its inputs, warehouse, event log and Spark local dirs
in a fresh directory under ``.perfbench_tmp/`` at the checkout root and
removes it at exit; a traced run also writes its spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

END_TO_END = [
    ("pass_cpu_s", "s"), ("op_cpu_p50_s", "s"), ("op_cpu_tail_s", "s"),
    ("pass_ratio", "ratio"), ("peak_rss_mb", "MB"), ("write_amp", "ratio"),
    ("space_amp", "ratio"), ("setup_s", "s"),
]
PER_LAYER = [
    ("entry.build_s", "s"), ("entry.build_jobs", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"), ("exec.task_gc_s", "s"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("jobs.run_s", "s"), ("jobs.self_s", "s"),
    ("ingest.load_s", "s"), ("ingest.save_s", "s"), ("ingest.upsert_s", "s"),
    ("sources.read_s", "s"), ("plans.run_sql_s", "s"), ("merge.build_s", "s"),
    ("catalog.read_s", "s"), ("catalog.overwrite_s", "s"),
    ("catalog.staging_commit_s", "s"), ("catalog.calls", "count"),
    ("catalog.files_written", "count"), ("catalog.bytes_written", "B"),
    ("catalog.meta_files", "count"),
    ("quality.annotate_table_s", "s"), ("quality.compile_results_s", "s"),
    ("quality.save_results_s", "s"), ("quality.aggregate_results_s", "s"),
    ("quality.upsert_history_s", "s"), ("quality.result_rows", "count"),
    ("neardup.s", "s"), ("similarity.s", "s"), ("semdedup.s", "s"),
    ("caching.live_after_op", "count"), ("trace.overhead", "ratio"),
]
# per-layer time metric -> span name it sums (per pass)
SPAN_TOTALS = {
    "entry.build_s": "entry.build", "exec.s": "exec", "jobs.run_s": "jobs.run",
    "ingest.load_s": "ingest.load", "ingest.save_s": "ingest.save",
    "ingest.upsert_s": "ingest.upsert", "sources.read_s": "sources.read",
    "plans.run_sql_s": "plans.run_sql", "merge.build_s": "merge.build",
    "catalog.read_s": "catalog.read", "catalog.overwrite_s": "catalog.overwrite",
    "catalog.staging_commit_s": "catalog.staging_commit",
    "quality.annotate_table_s": "quality.annotate_table",
    "quality.compile_results_s": "quality.compile_results",
    "quality.save_results_s": "quality.save_results",
    "quality.aggregate_results_s": "quality.aggregate_results",
    "quality.upsert_history_s": "quality.upsert_history",
    "neardup.s": "neardup", "similarity.s": "similarity",
    "semdedup.s": "semdedup",
}
CATALOG_CALLS = ("catalog.read", "catalog.exists", "catalog.overwrite",
                 "catalog.staging_commit", "catalog.commit_token")


class Context:
    """What a workload needs from the run: session, dirs, tracing."""

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.spark = None
        self.entry = None
        self.tracer = None
        path = os.path.join(ROOT, "scripts", "compare_oracle.py")
        spec = importlib.util.spec_from_file_location("compare_oracle", path)
        self._oracle = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self._oracle)

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return _span(self.tracer, name)

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    def same_rows(self, con, sql: str | None, cols, rows) -> bool:
        """The rows equal ``sql``'s result under compare_oracle's rule:
        same columns, same count, same order-insensitive value hash."""
        if sql is None:
            return False
        cur = con.execute(sql)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        vh = self._oracle.value_hash
        return (sorted(cols) == sorted(ocols) and len(rows) == len(orows)
                and vh(cols, rows) == vh(ocols, orows))


@contextlib.contextmanager
def _span(tracer, name: str):
    sp = tracer.open(name)
    try:
        yield sp
    finally:
        tracer.close(sp)


def _proc_field(pid: int, fname: str, key: str) -> int:
    with open(f"/proc/{pid}/{fname}") as fh:
        for line in fh:
            if line.startswith(key):
                return int(line.split()[1])
    raise KeyError(key)


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a /proc stat file."""
    with open(path) as fh:
        head, rest = fh.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


TICK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the Spark JVM without
    its JIT compiler threads, and the processes the JVM started (Python
    workers; reaped ones through their parent's cutime/cstime). CPU time
    leaves out what the hypervisor steals, which moved wall times of
    identical runs by 30-50% on the shared host; JIT compilation is
    warm-up that lands on whichever op is running when it happens."""
    ticks = 0
    for pid in (jvm_pid, *_descendants(jvm_pid)):
        with contextlib.suppress(OSError):
            ticks += sum(int(x) for x in _stat(f"/proc/{pid}/stat")[1][11:15])
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        with contextlib.suppress(OSError):
            comm, f = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
            if comm.startswith(JIT_THREADS):
                ticks -= int(f[11]) + int(f[12])
    return ticks / TICK + time.process_time()


def steal_seconds() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / TICK


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    try:  # a zombie has ended
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and the Python workers it started,
    and wait until each has ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def start_spark(run_dir: str, trace: bool):
    from mydatalake_spark.session import get_spark

    cpus = os.cpu_count() or 1
    # A fixed 4 GB heap with a fixed young generation: under the
    # engine's 16 GB ceiling G1's adaptive sizing moved peak_rss_mb by
    # 20-30% between identical runs. No perf-data file in /tmp. JIT
    # compiler threads stay alive, so cpu_seconds can leave them out.
    conf = {"spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
                "-XX:-UsePerfData -Xms4g -Xmn1g "
                "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                     "spark.eventLog.compress": "false"})
        os.makedirs(conf["spark.eventLog.dir"])
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf,
                      warehouse_dir=os.path.join(run_dir, "spark-warehouse"))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tail(xs: list[float]) -> tuple[float, str]:
    """(value, what): the value at the highest percentile with at least
    10 samples beyond it. Under 40 samples that percentile is p75 or
    below, so the tail is then p75, with n/4 samples beyond it."""
    xs = sorted(xs)
    n = len(xs)
    if n >= 40:
        return xs[n - 11], f"p{100.0 * (n - 10) / n:.1f} of {n} ops"
    if n == 1:
        return xs[0], "the only op"
    return statistics.quantiles(xs, n=4)[2], f"p75 of {n} ops"


class Loop:
    """Closed loop, one client, over the workload's passes."""

    def __init__(self, ctx, wl, jvm_pid: int):
        self.ctx, self.wl, self.jvm_pid = ctx, wl, jvm_pid
        self.pass_walls: list[float] = []
        self.pass_kinds: list[str] = []
        # (kind, measured, wall s, cpu s) of every op run
        self.ops: list[tuple[str, bool, float, float]] = []
        self.attempted = self.failed = 0
        self.written = self.input_bytes = 0.0
        self.live_after_op = 0
        self.known_bad: set[str] = set()

    def run_op(self, op, tracer=None) -> None:
        w0 = _proc_field(self.jvm_pid, "io", "wchar")
        c0 = cpu_seconds(self.jvm_pid)
        if tracer is not None:
            root = tracer.op(op.name)
            t0 = root.start
        else:
            t0 = time.perf_counter()
        ok = True
        try:
            op.fn()
        except Exception:
            ok = False
            self.ctx.log(f"FAIL {op.name}:\n{traceback.format_exc()}")
        if tracer is not None:
            tracer.end_op(root)
            t1 = root.end
        else:
            t1 = time.perf_counter()
        cpu = cpu_seconds(self.jvm_pid) - c0
        if tracer is not None:
            sc = self.ctx.spark.sparkContext
            self.live_after_op = max(self.live_after_op,
                                     sc._jsc.getPersistentRDDs().size())
        self.ctx.log(f"op {op.name} {t1 - t0:.3f} s, cpu {cpu:.3f} s")
        self.attempted += 1
        self.failed += (not ok) or op.name in self.known_bad
        self.ops.append((op.kind, op.measured, t1 - t0, cpu))
        if op.measured:
            self.written += _proc_field(self.jvm_pid, "io", "wchar") - w0
            self.input_bytes += op.input_bytes

    def run_pass(self, rng, tracer=None) -> None:
        ops = self.wl.pass_ops(rng)
        self.pass_kinds = [op.kind for op in ops]
        start = time.perf_counter()
        for op in ops:
            self.run_op(op, tracer)
        self.pass_walls.append(time.perf_counter() - start)

    def run(self, rng, seconds: float, tracer=None) -> None:
        """As many whole passes as take ``seconds`` on an unloaded host
        (at least one), stopping early past twice ``seconds``. Op costs
        keep falling for ten passes as the JIT catches up, so a run that
        fitted more passes into a fixed time read lower; a fixed count
        times the same stretch of that warm-up in every run."""
        start = time.perf_counter()
        for _ in range(max(1, round(seconds / self.wl.pass_seconds))):
            self.run_pass(rng, tracer)
            if time.perf_counter() - start >= 2 * seconds:
                return


def end_to_end(loop: Loop, wl, setup_s: float, steal_s: float,
               timed_s: float, jvm_pid: int) -> dict:
    import workloads

    by_kind: dict[str, list[float]] = {}
    for kind, _m, _w, cpu in loop.ops:
        by_kind.setdefault(kind, []).append(cpu)
    cpu = [c for _k, m, _w, c in loop.ops if m]
    wall = [w for _k, m, w, _c in loop.ops if m]
    cpu_tail, what = tail(cpu)
    wall_tail, _ = tail(wall)
    wh = wl.warehouse()
    footprint = wl.input_bytes + (workloads.tree_bytes(wh) if wh else 0)
    rss_mb = (_proc_field(jvm_pid, "status", "VmHWM") / 1024
              + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
    print(f"# op_cpu_tail_s is the {what}")
    print(f"# fail_ratio is {loop.failed / loop.attempted:.4f} "
          f"({loop.failed} of {loop.attempted} ops failed)")
    print(f"# wall clock: pass {statistics.median(loop.pass_walls):.4f} s "
          f"(median of {len(loop.pass_walls)}), op p50 "
          f"{statistics.median(wall):.4f} s, op tail {wall_tail:.4f} s")
    print(f"# the hypervisor stole {steal_s:.2f} CPU-s over the "
          f"{timed_s:.2f} s timed part")
    return {
        "pass_cpu_s": sum(statistics.median(by_kind[k])
                          for k in loop.pass_kinds),
        "op_cpu_p50_s": statistics.median(cpu),
        "op_cpu_tail_s": cpu_tail,
        "pass_ratio": (loop.attempted - loop.failed) / loop.attempted,
        "peak_rss_mb": rss_mb,
        "write_amp": loop.written / loop.input_bytes,
        "space_amp": footprint / wl.input_bytes,
        "setup_s": setup_s,
    }


def per_layer(tracer, loop: Loop, overhead: float, wl, result_rows: int,
              log_dir: str) -> dict:
    """Per-pass layer totals over the traced passes."""
    import tracing

    passes = len(loop.pass_walls)
    spans = tracer.spans
    total, selft = tracing.layer_times(spans)
    out = {m: total.get(s, 0.0) / passes for m, s in SPAN_TOTALS.items()}
    out["jobs.self_s"] = selft.get("jobs.run", 0.0) / passes
    owner = tracing.attribute_jobs(spans)
    # a job belongs to the build unless a materializing action inside
    # the build launched it
    build = [j for j, sp in owner.items()
             if sp.name == "entry.build" or (
                 sp.name != "exec" and tracing.under(sp, "entry.build")
                 and not tracing.under(sp, "exec"))]
    other = sorted(set(owner) - set(build))
    job_stages, stages = tracing.read_event_log(log_dir)
    ex = tracing.exec_metrics(other, job_stages, stages)
    out.update({k: v / passes for k, v in ex.items()})
    out["entry.build_jobs"] = len(build) / passes
    out["catalog.calls"] = sum(1 for sp in spans
                               if sp.name in CATALOG_CALLS) / passes
    out["catalog.files_written"] = tracer.files_written / passes
    out["catalog.bytes_written"] = tracer.bytes_written / passes
    out["catalog.meta_files"] = meta_files(wl.warehouse())
    out["quality.result_rows"] = result_rows
    out["caching.live_after_op"] = loop.live_after_op
    out["trace.overhead"] = overhead
    for name in sorted(selft):
        if selft[name] < 0:
            raise AssertionError(f"negative self time in {name}")
        print(f"# self time of {name}: {selft[name] / passes:.4f} s per pass")
    print(f"# tracing overhead: traced / untraced pass wall = {overhead:.4f}")
    return out


def meta_files(warehouse: str | None) -> int:
    """Non-parquet side-book files under the warehouse's tables."""
    if not warehouse:
        return 0
    skip = (".parquet", ".crc")
    return sum(1 for _d, _s, files in os.walk(warehouse) for f in files
               if not f.endswith(skip) and f != "_SUCCESS")


def write_spans(tracer, workload: str, seed: int) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    ids = {id(sp): i for i, sp in enumerate(tracer.spans)}
    rows = [{"id": ids[id(sp)], "name": sp.name, "start": sp.start,
             "end": sp.end, "parent": ids.get(id(sp.parent)), "op": sp.label,
             "jobs": [sp.job_lo, sp.job_hi]} for sp in tracer.spans]
    with open(os.path.join(out, f"spans_{workload}_{seed}.json"), "w") as fh:
        json.dump(rows, fh)


def run(args, run_dir: str) -> dict:
    import numpy as np

    import tracing
    import workloads

    ctx = Context(args.seed, run_dir)
    build, default_sf = workloads.WORKLOADS[args.workload]
    wl = build(ctx, args.sf or default_sf)
    ctx.spark = start_spark(run_dir, args.trace)
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
    ctx.entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ctx.entry)
    jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
    loop = Loop(ctx, wl, jvm_pid)
    rng = np.random.default_rng(args.seed)
    try:
        loop.known_bad, check_s = wl.warm_and_check()
        loop.attempted, loop.failed = wl.warm_ops, len(loop.known_bad)
        for _ in range(wl.settle_passes):
            settle = Loop(ctx, wl, jvm_pid)
            settle.known_bad = loop.known_bad
            settle.run_pass(rng)
            loop.attempted += settle.attempted
            loop.failed += settle.failed
        if not args.trace:
            setup_s = time.perf_counter() - T0 - check_s
            steal0, start = steal_seconds(), time.perf_counter()
            loop.run(rng, args.seconds)
            metrics = end_to_end(loop, wl, setup_s, steal_seconds() - steal0,
                                 time.perf_counter() - start, jvm_pid)
        else:
            # untraced passes before and after the traced ones, so a
            # drift over the run cancels out of the overhead ratio
            loop.run_pass(rng)
            ds = ctx.spark.sparkContext._jsc.sc().dagScheduler()
            ctx.tracer = tracing.Tracer(ds.nextJobId)
            ctx.tracer.install([ctx.entry])
            loop.run(rng, args.seconds, ctx.tracer)
            ctx.tracer.uninstall()
            loop.run_pass(rng)
            untraced = (loop.pass_walls[0] + loop.pass_walls[-1]) / 2
            loop.pass_walls = loop.pass_walls[1:-1]
            overhead = statistics.median(loop.pass_walls) / untraced
            result_rows = wl.result_rows()
            write_spans(ctx.tracer, args.workload, args.seed)
    finally:
        stop_spark(ctx.spark)
    if args.trace:
        metrics = per_layer(ctx.tracer, loop, overhead, wl, result_rows,
                            os.path.join(run_dir, "eventlog"))
    units = dict(PER_LAYER if args.trace else END_TO_END)
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    return {"correct": loop.failed == 0, "attempted": loop.attempted,
            "failed": loop.failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["analytics", "medallion_cdc", "llm_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor override (the self-check's tiny runs)")
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("__spark_entry__.py", "mydatalake_spark",
                 os.path.join("scripts", "compare_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found in {ROOT}", file=sys.stderr)
            return 2
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run_", dir=tmp_root)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ.update({"TMPDIR": os.path.join(run_dir, "tmp"), "TZ": "UTC",
                       "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local")})
    time.tzset()
    tempfile.tempdir = None
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(tmp_root)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
