"""Engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Runs one ``local[nproc]`` Spark session in this process, builds the
workload's inputs from ``--seed``, warms up, then repeats the workload's
operation in a closed loop (one client) for ``--seconds`` and at least
two operations. Every operation's output is checked. The last stdout
line is the result: ``{"correct", "attempted", "failed", "metrics"}`` —
the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it holds context fields (host probe, wall-clock figures,
op counts), which are not metrics. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import multiprocessing  # noqa: E402
from multiprocessing import resource_tracker  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "1g"
SAMPLE_INTERVAL_S = 0.25
STOP_TIMEOUT_S = 30
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # HotSpot thread names, cut to 15 chars

# Timings are CPU seconds of the process tree (this process, the driver
# JVM, the Python workers; see tree_cpu_s), not wall seconds: on a host
# whose hypervisor steals CPU, wall time per operation moved 1.7x between
# runs minutes apart while CPU time per operation moved far less. A run
# holds two ingest passes or two serve cycles, too few for a p90, so the
# p90 and the wall-clock figures are printed as context.
END_TO_END = {
    "setup_s": "s",
    "work_per_cpu_s": "1/s",
    "op_cpu_p50_s": "s",
    "stored_bytes_per_input_byte": "B/B",
    "peak_rss_mb": "MB",
}

APPEND_TABLES = (
    "features", "rollup", "rollup_quantiles", "chunks", "metrics", "rollup_continuous",
    "dp_losers", "dp_pairs", "dp_metrics", "dp_clean", "dp_doc_status", "dp_stats",
)
DOC_STAGES = ("exact", "pairs", "clusters", "filters", "finalize")

PER_LAYER = {
    "plans.salting.repartition_s": "s",
    "plans.salting.partition_bytes_max_over_median": "ratio",
    "operators.features.extract_s": "s",
    "operators.rollup.tiers_arrays_s": "s",
    "operators.rollup.quantiles_arrays_s": "s",
    "operators.compress.encode_s": "s",
    "operators.compress.bytes_out": "B",
    "operators.compress.bytes_out_per_token_byte": "B/B",
    "operators.compress.decode_s": "s",
    **{f"sources.catalog.append_s.{t}": "s" for t in APPEND_TABLES},
    "sources.catalog.bytes_written": "B",
    "sources.catalog.read_s": "s",
    "sources.catalog.files_scanned_per_read": "count",
    "sources.catalog.rows_scanned_per_row_returned": "ratio",
    "operators.retention.apply_s": "s",
    "operators.gapfill.regrid_s": "s",
    "operators.downsample.lttb_s": "s",
    "streaming.incremental.fold_s": "s",
    "streaming.incremental.retract_s": "s",
    "streaming.incremental.state_read_s": "s",
    "streaming.incremental.state_rows": "count",
    "operators.rollup.tiers_relational_s": "s",
    "operators.rollup.retract_s": "s",
    "operators.rollup.retract_stages": "count",
    **{f"plans.doc_pipeline.stage_s.{s}": "s" for s in DOC_STAGES},
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.candidate_precision": "ratio",
    "dedup_planted_recall": "ratio",
    "plans.caching.cached_bytes_peak": "B",
    "spark.tasks_per_stage_min": "count",
    "spark.executor_cpu_util": "ratio",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_fetch_wait_ms": "ms",
    "spark.spill_bytes": "B",
    "spark.gc_ms": "ms",
    "spark.arrow_bytes_in": "B",
    "spark.arrow_bytes_out": "B",
    "spark.python_exec_ms": "ms",
    "op_failure_rate": "ratio",
    "tracing_overhead": "ratio",
}

# span name -> per-layer metric giving its mean seconds per call
SPAN_METRICS = {
    "plans.salting.repartition": "plans.salting.repartition_s",
    "operators.features.extract": "operators.features.extract_s",
    "operators.rollup.tiers_arrays": "operators.rollup.tiers_arrays_s",
    "operators.rollup.quantiles_arrays": "operators.rollup.quantiles_arrays_s",
    "operators.compress.encode": "operators.compress.encode_s",
    "operators.compress.decode": "operators.compress.decode_s",
    "operators.retention.apply": "operators.retention.apply_s",
    "operators.gapfill.regrid": "operators.gapfill.regrid_s",
    "operators.downsample.lttb": "operators.downsample.lttb_s",
    "streaming.incremental.fold": "streaming.incremental.fold_s",
    "streaming.incremental.retract": "streaming.incremental.retract_s",
    "streaming.incremental.state_read": "streaming.incremental.state_read_s",
    "operators.rollup.tiers_relational": "operators.rollup.tiers_relational_s",
    "operators.rollup.retract": "operators.rollup.retract_s",
    **{f"sources.catalog.append.{t}": f"sources.catalog.append_s.{t}" for t in APPEND_TABLES},
}


# -- host -------------------------------------------------------------------


def _burn(_):
    """One pure-CPU task (no Spark, no memory traffic): its wall time
    moves only with the CPU the host delivers."""
    t0 = time.perf_counter()
    x = 0.0
    for i in range(400_000):
        x += math.sin(i * 0.001)
    return time.perf_counter() - t0


def host_probe(nproc: int) -> dict:
    """bench.py's ``_host_probe`` method with a shorter burn: per-task
    wall when ``nproc`` processes burn at once vs one at a time."""
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(1) as p:
        serial = p.map(_burn, range(4))
    with ctx.Pool(nproc) as p:
        p.map(_burn, range(nproc), chunksize=1)  # every worker started
        packed = p.map(_burn, range(max(nproc, 4)), chunksize=1)
    base = sum(serial) / len(serial)
    per = sum(packed) / len(packed)
    return {"serial_per_task_s": round(base, 4), "packed_per_task_s": round(per, 4), "inflation": round(per / base, 3)}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        st = _stat(f"/proc/{name}/stat") if name.isdigit() else None
        if st is not None:
            kids.setdefault(int(st[1][1]), []).append(int(name))
    return kids


def tree_pss_bytes(pid: int) -> int:
    """Proportional resident bytes of ``pid`` and all its descendants
    (driver JVM, Python workers), from /proc. PSS rather than RSS: the
    Python workers are forked from one daemon and share its pages, which
    a sum of RSS would count once per worker."""
    kids = _children()
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo += kids.get(p, [])
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class Sampler:
    """Background sampler of the process tree's memory and, once a Spark
    context is attached, of the bytes Spark reports as cached (storage
    info read from outside the library).

    The driver heap is fixed and pre-touched (see pin_environment), so
    all of it is resident from the start and its PSS never moves. Each
    sample therefore counts the tree's PSS outside the heap plus the heap
    bytes outside the young generation's eden (the JVM's memory pool
    MXBeans, through py4j): what survived a collection — cached blocks,
    broadcasts, operator state — shows, while short-lived garbage and
    when the collector grows the heap do not. Heap bytes in use with
    eden reached 955 of 1024 MB in serve and fold runs: the collector
    lets eden fill the heap, so they could not show a change."""

    def __init__(self):
        self.peak_rss = 0
        self.phase = "setup"
        self.phase_peaks: dict[str, int] = {}  # context: where the peak fell
        self.peak_heap = 0
        self.peak_cached = 0
        self.sc = None
        self.heap = None  # (MemoryMXBean, surviving heap pools) once attached
        self._lock = threading.Lock()  # sample() also runs on the main thread
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def attach(self, jvm) -> None:
        """Read the heap of the JVM behind ``jvm`` from now on, and start."""
        mf = jvm.java.lang.management.ManagementFactory
        pools = [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory" and "Eden" not in p.getName()]
        self.heap = (mf.getMemoryMXBean(), pools)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()

    def sample(self) -> None:
        from py4j.protocol import Py4JError

        mem = tree_pss_bytes(os.getpid())
        used = cached = 0
        heap, sc = self.heap, self.sc
        try:
            if heap is not None:
                bean, pools = heap
                used = sum(p.getUsage().getUsed() for p in pools)
                mem += used - bean.getHeapMemoryUsage().getCommitted()
            if sc is not None:
                infos = sc._jsc.sc().getRDDStorageInfo()  # noqa: SLF001 — no Python API
                cached = sum(i.memSize() + i.diskSize() for i in infos)
        except Py4JError:
            return  # the context is stopping
        with self._lock:
            self.peak_rss = max(self.peak_rss, mem)
            self.phase_peaks[self.phase] = max(self.phase_peaks.get(self.phase, 0), mem)
            self.peak_heap = max(self.peak_heap, used)
            self.peak_cached = max(self.peak_cached, cached)

    def reset_cached(self) -> None:
        with self._lock:
            self.peak_cached = 0

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)
        self.sc = None
        self.heap = None


def pin_environment(work: str) -> dict[str, str]:
    """Host settings the library leaves to its caller: driver memory
    below physical RAM, the package on the Python workers' path, Spark
    scratch and temp files inside this run's work directory."""
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too: temp files here, and no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the heap's resident size then does not
        # depend on when the collector chose to grow it, and Sampler can
        # swap it for the heap bytes that survived a collection; compiler
        # threads that never exit, so tree_cpu_s can subtract them
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    }


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, or None if gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``pid`` and its live descendants, from /proc, less the JVM's JIT
    compiler threads. Time the hypervisor steals from the guest is not in
    it. JIT compilation is excluded because it is warm-up work whose
    amount depends on how long the JVM has run, not on the operation: it
    was over a third of the JVM's CPU while serve requests ran after 36
    warm-up requests, and still falling."""
    total = 0
    for p in {pid} | _descendants(pid):
        st = _stat(f"/proc/{p}/stat")
        if st is None:
            continue
        total += sum(int(x) for x in st[1][11:15])  # utime stime cutime cstime
        if st[0] == "java":
            for t in os.listdir(f"/proc/{p}/task"):
                ts = _stat(f"/proc/{p}/task/{t}/stat")
                if ts is not None and ts[0].startswith(JIT_THREADS):
                    total -= int(ts[1][11]) + int(ts[1][12])  # utime stime
    return total / os.sysconf("SC_CLK_TCK")


def _descendants(pid: int) -> set[int]:
    kids, out, todo = _children(), set(), [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.add(k)
            todo.append(k)
    return out


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, then wait until the JVM and
    every process under it (the Python daemon and workers) has exited,
    killing any still alive after ``STOP_TIMEOUT_S``."""
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None)
    started = {proc.pid} | _descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if gw is not None:
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while True:
        alive = {p for p in started if _state(p) != "Z"}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + STOP_TIMEOUT_S
        time.sleep(0.1)


def _state(pid: int) -> str:
    st = _stat(f"/proc/{pid}/stat")
    return "Z" if st is None else st[1][0]


# -- measurement ------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def run_loop(workload, tracer, seconds: float, trace: bool) -> list[dict]:
    """Closed loop, one client: the next operation starts when the last
    one ends. The loop runs for ``seconds`` and for at least two
    operations, so a median never rests on a single one. In a traced run
    even-numbered operations are traced and odd-numbered ones are not,
    which gives the tracing overhead."""
    log = []
    ops = workload.ops()
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < seconds or len(log) < 2:
        op = next(ops)
        traced = trace and len(log) % 2 == 0
        tracer.enabled = traced
        ok = True
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op.{op.kind}"):
                res = op.run()
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - c0
        tracer.enabled = False
        if ok:
            try:
                ok = bool(op.check(res))
            except Exception:  # noqa: BLE001 — a check that raises fails
                traceback.print_exc()
                ok = False
        if not ok:
            print(f"operation {len(log)} ({op.kind}) failed its check", file=sys.stderr)
        log.append({"kind": op.kind, "s": dt, "cpu_s": cpu, "items": op.items, "ok": ok, "traced": traced})
    return log


def end_to_end_metrics(log: list[dict], setup_cpu_s: float, workload, sampler: Sampler) -> dict:
    cpu = [e["cpu_s"] for e in log]
    return {
        "setup_s": setup_cpu_s,
        "work_per_cpu_s": sum(e["items"] for e in log) / sum(cpu),
        "op_cpu_p50_s": statistics.median(cpu),
        "stored_bytes_per_input_byte": workload.stored_bytes_per_input_byte(),
        "peak_rss_mb": sampler.peak_rss / 2**20,
    }


def wall_context(log: list[dict], setup_wall_s: float, steal_share: float) -> dict:
    """The p90 and the wall-clock figures of the run, printed as context,
    not metrics."""
    lat = [e["s"] for e in log]
    return {
        "op_cpu_p90_s": percentile([e["cpu_s"] for e in log], 0.9),
        "setup_wall_s": round(setup_wall_s, 3),
        "throughput_per_wall_s": sum(e["items"] for e in log) / sum(lat),
        "op_p50_wall_s": percentile(lat, 0.5),
        "op_p90_wall_s": percentile(lat, 0.9),
        "host_steal_share": round(steal_share, 4),
    }


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def per_layer_metrics(log, ctx, tracer, groups, sampler, nproc, attempted, failed) -> dict:
    from tracing import per_span, spark_counters

    out = {k: 0.0 for k in PER_LAYER}
    for span, metric in SPAN_METRICS.items():
        n = tracer.n_spans(span)
        if n:
            out[metric] = tracer.busy_s(span) / n
    op_roots = [s for s in tracer.roots() if s["name"].startswith("op.")]
    n_ops = max(len(op_roots), 1)
    out["sources.catalog.bytes_written"] = tracer.counters["sources.catalog.bytes_written"] / n_ops
    sums = per_span(tracer, groups, {"sources.catalog.read", "operators.retention.apply",
                                     "operators.gapfill.regrid", "operators.downsample.lttb",
                                     "operators.compress.decode", "operators.rollup.retract"})
    reads = tracer.n_spans("sources.catalog.read")
    if reads:
        scan = {k: sum(sums[s].get(k, 0.0) for s in sums if s != "operators.rollup.retract")
                for k in ("scan_files", "scan_rows", "scan_ms")}
        out["sources.catalog.read_s"] = (tracer.busy_s("sources.catalog.read") + scan["scan_ms"] / 1000) / reads
        out["sources.catalog.files_scanned_per_read"] = scan["scan_files"] / reads
        returned = tracer.counters["sources.catalog.rows_returned"]
        out["sources.catalog.rows_scanned_per_row_returned"] = scan["scan_rows"] / max(returned, 1)
    n_retract = tracer.n_spans("operators.rollup.retract")
    if n_retract:
        out["operators.rollup.retract_stages"] = sums["operators.rollup.retract"].get("stages", 0.0) / n_retract
    out["plans.caching.cached_bytes_peak"] = float(sampler.peak_cached)
    out.update(spark_counters(tracer, groups, op_roots, nproc))
    out.update({k: v for k, v in ctx.layer.items() if k in PER_LAYER})
    out["op_failure_rate"] = failed / attempted
    traced = [e["s"] for e in log if e["traced"]]
    plain = [e["s"] for e in log if not e["traced"]]
    out["tracing_overhead"] = percentile(traced, 0.5) / percentile(plain, 0.5)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    sys.path[:0] = [ROOT, HERE]
    try:
        import light_curve_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    conf = pin_environment(work)
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + evdir,
                     "spark.eventLog.compress": "false"})
    context = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": nproc,
               "master": f"local[{nproc}]", "host_probe_before": host_probe(nproc)}

    from light_curve_spark.session import build_session
    from tracing import Tracer, parse_event_log

    sampler = Sampler()
    spark = None
    try:
        t_setup, cpu_setup = time.perf_counter(), tree_cpu_s(os.getpid())
        spark = build_session(app_name=f"perfbench-{args.workload}", master=f"local[{nproc}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        sampler.attach(spark.sparkContext._jvm)  # noqa: SLF001 — no Python API for the MXBeans
        if trace:
            sampler.sc = spark.sparkContext
        tracer = Tracer(spark, enabled=False)
        ctx = workloads.Ctx(spark=spark, seed=args.seed, work=work, tracer=tracer, nproc=nproc, lap_start=t_setup)
        ctx.lap("session")
        workload = workloads.WORKLOADS[args.workload](ctx)
        workload.setup()
        setup_wall_s = time.perf_counter() - t_setup
        setup_cpu_s = tree_cpu_s(os.getpid()) - cpu_setup

        steal0, total0 = _cpu_ticks()
        sampler.reset_cached()  # cached_bytes_peak covers the operations, not set-up
        sampler.phase = "loop"
        log = run_loop(workload, tracer, args.seconds, trace)
        steal1, total1 = _cpu_ticks()
        context.update(wall_context(log, setup_wall_s, (steal1 - steal0) / max(total1 - total0, 1)))
        attempted, failed = len(log), sum(not e["ok"] for e in log)
        sampler.phase = "final"
        final = getattr(workload, "final_check", None)
        if final is not None:
            attempted += 1
            if not final():
                print("final state check failed", file=sys.stderr)
                failed += 1
        if trace:
            tracer.enabled = True
            workload.layer_passes()
            tracer.enabled = False
        sampler.sample()
        sampler.stop()  # before the JVM goes: a sample without its heap figures would count the whole heap
        stop_spark(spark)
        spark = None
        if trace:
            groups = parse_event_log(evdir)
            metrics = per_layer_metrics(log, ctx, tracer, groups, sampler, nproc, attempted, failed)
            units = PER_LAYER
            tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = end_to_end_metrics(log, setup_cpu_s, workload, sampler)
            units = END_TO_END
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    context["setup_phases_s"] = ctx.phases
    context["peak_heap_surviving_mb"] = round(sampler.peak_heap / 2**20, 1)
    context["peak_mb_by_phase"] = {k: round(v / 2**20, 1) for k, v in sampler.phase_peaks.items()}
    context["host_probe_after"] = host_probe(nproc)
    # the spawn pools started multiprocessing's resource tracker; stop it
    # and wait for it, so no process of this run outlives the run
    resource_tracker._resource_tracker._stop()  # noqa: SLF001 — no public API
    context["ops"] = {k: sum(e["kind"] == k for e in log) for k in sorted({e["kind"] for e in log})}
    context["wall_s"] = round(time.perf_counter() - T_PROCESS, 3)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
