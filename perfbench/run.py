"""Benchmark of the engine: one workload, one seed, one run.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload curation --seed 1 --seconds 5 --trace 0

The run makes its inputs from the seed under ``.perfbench/`` in the
checkout, sets the engine up once (``setup_s`` counts from process start
and leaves out the input generation), warms up with one untimed pass and
then drives the workload from one closed-loop client: a pass runs every op
of the workload once, in an order the seed permutes, and whole passes run
until ``--seconds`` of op time have been measured.
Every op's output is checked after it returns, outside the timed span.
Each op is timed on the wall clock and in CPU seconds of the whole process
tree (the Python driver, the JVM and the Python workers), less the JVM's
JIT compiler threads.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics of the traced
ones, with the difference between the two kinds as ``trace.overhead_frac``.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The spans and a run
record go to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import importlib.util
import json
import math
import os
import pkgutil
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not __package__:  # run as a script: import from the checkout root
    sys.path[0] = ROOT

from perfbench import eventlog, workloads  # noqa: E402 - needs ROOT on sys.path
from perfbench.spans import Tracer, covered, self_times  # noqa: E402
from perfbench.stats import median, tail  # noqa: E402

ENGINE = "pretalx_hub_etl_spark"
#: Spark local mode width: at most the cores this process may use
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}
#: printed with the end-to-end metrics and kept in the run record, but not
#: reported in the result. The wall-clock op times follow the load other
#: tenants put on a shared host (they spread by up to 0.4 of their median
#: between runs of the same code there), and op_cpu_s follows it less;
#: op_tail_s needs 20 ops to differ from the median, failed_ops_frac is the
#: result's failed/attempted, and the rest exist on schedule_sync only
EXTRA = {
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "failed_ops_frac": "ratio",
    "commit_p50_s": "s",
    "read_p50_s": "s",
    "storage_amp": "ratio",
}
#: public llm functions the curation ops call, reported as llm.<name>_s
LLM_FUNCTIONS = (
    "minhash_signatures", "minhash_near_duplicates", "ngram_jaccard_pairs",
    "duplicate_clusters", "exact_dedup", "semantic_dedup", "knn_graph",
    "cosine", "pq_train", "pq_encode", "pq_topk", "bm25_scores",
    "text_quality", "stratified_sample", "attach_avi_media", "decode_video",
)
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.import_s": "s",
    "queries.load_all_s": "s",
    "plans.build_self_s": "s",
    "plans.eager_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_p50_ms": "ms",
    "spark.task_busy_s": "s",
    "spark.task_gc_s": "s",
    "spark.idle_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "arrow.python_stage_s": "s",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "arrow.rows_from_python": "count",
    "jvm.jit_cpu_s": "s",
    **{f"llm.{f}_s": "s" for f in LLM_FUNCTIONS},
    "llm.candidate_rows_per_pair": "ratio",
    "lakehouse_sql.statement_self_s": "s",
    "lakehouse_sql.statements": "count",
    "sinks.commit_s": "s",
    "sinks.commit_driver_s": "s",
    "sinks.publish_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written_per_row_changed": "bytes",
    "sinks.manifest_bytes": "bytes",
    "sinks.compaction_s": "s",
    "sinks.bytes_rewritten": "bytes",
    "sources.schedule_read_s": "s",
    "sources.files_read": "count",
    "sources.files_skipped_frac": "ratio",
    "sources.delta_files_per_read": "count",
    "spark.persisted_rdds_after_op": "count",
    "tmp.dirs_left": "count",
    "commit_p50_s": "s",
    "read_p50_s": "s",
    "storage_amp": "ratio",
    "failed_ops_frac": "ratio",
    "trace.overhead_frac": "ratio",
}

#: engine functions and methods wrapped in spans in traced passes
WRAP_PREFIXES = ("llm.", "plans.", "sinks.", "sources.")
SQL_SPAN = "plans.lakehouse_sql.LakehouseSqlCatalog.sql"
COMMIT_SPANS = frozenset({
    "sinks.merge.MergeSink.merge", "sinks.mor.MorTable.merge",
    "sinks.merge.MergeSink.append", "sinks.merge.MergeSink.replace_where",
    "sinks.merge.MergeSink.delete_where", "sinks.merge.MergeSink.update_where",
    "sinks.mor.MorTable.delete_where", "sinks.mor.MorTable.delete_positions",
})
COMPACTION_SPANS = frozenset({
    "sinks.mor.MorTable.compact", "sinks.merge.MergeSink.optimize",
    "sinks.merge.MergeSink.compact_small",
})
PUBLISH_SPAN = "sinks.manifest.CommitLog.publish"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# --- process bookkeeping -------------------------------------------------------


def process_start() -> float:
    """Wall-clock start time of this process, from /proc."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> dict[int, int]:
    """Every descendant of ``pid``, mapped to its parent."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = {}, [pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p:
                out[c] = p
                frontier.append(c)
    return out


def resident_pages(tree: dict[int, int | None], statm: dict[int, str]) -> int:
    """Resident pages of a process tree (pid -> parent) from each process's
    ``statm``. A child whose ``statm`` equals its parent's still shares the
    parent's address space: it was spawned and has not run exec yet, as when
    the JVM starts a helper. Its pages are the parent's and count once."""
    return sum(
        int(s.split()[1]) for p, s in statm.items() if s != statm.get(tree[p])
    )


def _stat_ticks(path: str, fields: slice) -> tuple[str, int]:
    """Command name and the summed clock ticks of ``fields`` (counted from
    the state field) of a ``/proc`` stat file."""
    with open(path) as fh:
        raw = fh.read()
    comm, rest = raw[raw.index("(") + 1:].rsplit(")", 1)
    return comm, sum(int(x) for x in rest.split()[fields])


def tree_cpu_s(pid: int) -> tuple[float, float]:
    """CPU seconds, user and system, that a process tree has used (each
    process's own time plus that of the children it has reaped), and the
    part of it spent in JIT compiler threads. The JVM runs with a fixed
    set of compiler threads, so none of their time leaves with a thread."""
    total = jit = 0
    for p in (pid, *descendants(pid)):
        try:
            total += _stat_ticks(f"/proc/{p}/stat", slice(11, 15))[1]
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                comm, ticks = _stat_ticks(f"/proc/{p}/task/{t}/stat", slice(11, 13))
            except OSError:
                continue
            if "CompilerThre" in comm:
                jit += ticks
    tick = os.sysconf("SC_CLK_TCK")
    return total / tick, jit / tick


def steal_s() -> float:
    """CPU seconds the hypervisor has given to others, all CPUs together."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(pid: int) -> float:
    tree = {pid: None, **descendants(pid)}
    statm = {}
    for p in tree:
        try:
            with open(f"/proc/{p}/statm") as fh:
                statm[p] = fh.read()
        except OSError:
            continue
    return resident_pages(tree, statm) * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler(threading.Thread):
    """Peak resident memory of this process and everything it started."""

    def __init__(self, period: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.period, self.peak = period, 0.0
        #: CPU seconds the sampler itself has used
        self.cpu = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self.cpu = time.thread_time()
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak


def reap(timeout: float = 20.0) -> None:
    """Stop every process this one started and wait until each is gone."""
    deadline = time.time() + timeout
    kids = list(descendants(os.getpid()))
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in kids:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        while kids and time.time() < deadline:
            for p in kids:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            kids = [p for p in kids if os.path.exists(f"/proc/{p}")
                    and not _zombie(p)]
            if kids:
                time.sleep(0.1)
        deadline = time.time() + timeout


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# --- engine set-up -------------------------------------------------------------


def events_dir(work: str) -> str:
    return os.path.join(work, "events")


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap, so resident memory does not follow the
        # collector's decisions to grow or shrink it
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} "
            # compiler threads that never exit, so their CPU time stays
            # readable per thread
            "-XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events_dir(work),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def set_up(workload, work: str, traced: bool) -> tuple:
    """The engine set-up: engine import, session, ``load_all`` and the
    workload's state. Returns the op context, its end time and the time
    of each step."""
    t0 = time.time()
    session = importlib.import_module(f"{ENGINE}.session")
    queries = importlib.import_module(f"{ENGINE}.queries")
    t1 = time.time()
    os.makedirs(events_dir(work), exist_ok=True)
    spark = session.get_spark("perfbench", extra_conf=spark_conf(work, traced))
    t2 = time.time()
    registry = queries.load_all()
    t3 = time.time()
    ctx = workloads.Ctx(spark=spark, tracer=None, registry=registry, work=work)
    workload.setup(ctx)
    t4 = time.time()
    times = {
        "app_id": spark.sparkContext.applicationId,
        "session.import_s": t1 - t0,
        "session.get_spark_s": t2 - t1,
        "queries.load_all_s": t3 - t2,
        "state_s": t4 - t3,
    }
    return ctx, t4, times


def source_digest() -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, ENGINE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


# --- the run -------------------------------------------------------------------


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    for mod in (ENGINE, "pyspark", "duckdb", "pyarrow", "numpy"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: cannot import {mod!r} from {ROOT}", file=sys.stderr)
            return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    for d in ("tmp", "spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    import tempfile

    tempfile.tempdir = None
    sampler = RssSampler()
    sampler.start()
    try:
        return run(args, work, out_dir, sampler)
    finally:
        sampler.stop()
        try:
            from pyspark import SparkContext

            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
        except Exception as exc:  # noqa: BLE001 - shutdown must go on
            print(f"perfbench: session shutdown: {exc!r}", file=sys.stderr)
        reap()
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, out_dir: str, sampler: RssSampler) -> int:
    started = process_start()
    traced = bool(args.trace)
    loadavg_before = os.getloadavg()
    workload = workloads.make(args.workload)

    t0 = time.time()
    inputs = workload.generate(work, args.seed)
    gen_s = time.time() - t0

    ctx, t_ready, setup = set_up(workload, work, traced)
    # from process start to the first op, less the input generation
    setup["setup_s"] = t_ready - started - gen_s
    spark = ctx.spark
    tracer = Tracer()
    ctx.tracer = tracer
    if traced:
        from pyspark import cloudpickle

        by_value = set(getattr(cloudpickle.cloudpickle, "_PICKLE_BY_VALUE_MODULES", ()))
        skip = by_value | {
            f"{ENGINE}.llm.{c}" for c in ("avi_codec", "jpeg_codec", "png_codec", "wav_codec")
        } | {f"{ENGINE}.sources.avro_ocf"}
        for prefix in WRAP_PREFIXES:
            pkg = importlib.import_module(f"{ENGINE}.{prefix.rstrip('.')}")
            for info in pkgutil.iter_modules(pkg.__path__, pkg.__name__ + "."):
                importlib.import_module(info.name)
        tracer.wrap_functions(ENGINE, WRAP_PREFIXES, skip)

    rng = random.Random(args.seed)
    passes = workload.passes(rng)
    records: list[dict] = []
    problems: list[str] = []
    tmp_dir = os.environ["TMPDIR"]
    tmp_before = set(os.listdir(tmp_dir))
    op_id = 0

    def one_op(name: str, key: int, pass_no: int, trace_on: bool) -> None:
        nonlocal op_id
        op_id += 1
        workload.before(name)
        tracer.active = trace_on
        tracer.op = op_id
        if traced:
            spark.sparkContext.setJobGroup(f"op-{op_id}", name)
        ctx.phases = {}
        # CPU of the op: the tree's, less the JIT compiler's and the sampler's
        (cpu0, jit0), own0, steal0 = tree_cpu_s(os.getpid()), sampler.cpu, steal_s()
        t_wall = time.time()
        a = time.perf_counter()
        result, error = None, None
        try:
            with tracer.span("op"):
                result = workload.run(ctx, name)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            error = f"{name}: {type(exc).__name__}: {str(exc)[:300]}"
        latency = time.perf_counter() - a
        t_end = time.time()
        cpu1, jit1 = tree_cpu_s(os.getpid())
        jit = jit1 - jit0
        cpu = cpu1 - cpu0 - jit - (sampler.cpu - own0)
        steal = steal_s() - steal0
        tracer.active = False
        problem = error or workload.check(name, result)
        rec = {
            "id": op_id, "op": name, "key": key, "pass": pass_no,
            "traced": trace_on, "start": t_wall, "end": t_end,
            "latency_s": latency, "cpu_s": cpu, "jit_s": jit, "steal_s": steal,
            "ok": problem is None,
        }
        if problem:
            rec["problem"] = problem
            problems.append(problem)
        if isinstance(result, dict):  # schedule_sync: one entry per table
            rec["commit_s"] = [c["commit_s"] for c in result.values()]
            rec["read_s"] = [c["read_s"] for c in result.values()]
        if trace_on:
            rec["phases"] = dict(ctx.phases)
            if isinstance(result, tuple):
                rec["rows"] = len(result[1])
            if isinstance(result, dict):
                rec["table_files"] = [c["files"] for c in result.values()]
                rec["writes"] = workload.writes(name, result)
            gc.collect()
            spark._jvm.java.lang.System.gc()
            rec["persisted_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
            rec["tmp_left"] = len(set(os.listdir(tmp_dir)) - tmp_before)
        records.append(rec)

    t_warm = time.time()
    warmup = warm_up(workload, ctx, next(passes))
    warmup_s = time.time() - t_warm

    sampler.peak = 0.0  # peak memory of the timed phase only
    measured, pass_no = 0.0, 0
    while measured < args.seconds or (traced and pass_no < 2):
        pass_no += 1
        for name, key in op_keys(next(passes)):
            # a traced run traces half of each pass, the other half of the
            # ops in the next one, so both halves see the same warm-up state
            one_op(name, key, pass_no, traced and (key + pass_no) % 2 == 0)
            measured += records[-1]["latency_s"]
    tracer.unwrap()

    plain = [r for r in records if not r["traced"]]
    lat = [r["latency_s"] for r in plain]
    tail_s, tail_pct = tail(lat)
    master = spark.sparkContext.master
    # the session stops here so the event log is complete on disk
    spark.stop()
    peak_rss = sampler.stop()

    e2e = {
        "setup_s": setup["setup_s"],
        "op_cpu_s": sum(r["cpu_s"] for r in plain) / len(plain),
        "peak_rss_mb": peak_rss,
    }
    failed = len(problems)
    extra = {
        "ops_per_s": len(lat) / sum(lat),
        "op_p50_s": op_median(plain),
        "op_tail_s": tail_s,
        "failed_ops_frac": failed / len(records),
    }
    if isinstance(workload, workloads.ScheduleSync):
        extra.update({
            "commit_p50_s": median([t for r in plain for t in r["commit_s"]]),
            "read_p50_s": median([t for r in plain for t in r["read_s"]]),
            "storage_amp": workload.storage_amp(),
        })
    layers = None
    if traced:
        layers = per_layer(tracer, records, setup, work, extra)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_sha": git_sha(), "source_digest": source_digest(),
        "nproc": os.cpu_count(), "cores_used": CORES,
        "spark_master": master,
        "conf_digest": hashlib.sha256(json.dumps(
            sorted(spark_conf("", traced).items())
            + [("cores", CORES), ("driver_memory", DRIVER_MEMORY)]
        ).encode()).hexdigest()[:16],
        "loadavg_before": loadavg_before, "loadavg_after": os.getloadavg(),
        "inputs": inputs, "input_gen_s": gen_s, "setup": setup,
        "warmup_s": warmup_s, "warmup": warmup, "passes": pass_no, "timed_ops": len(records),
        "tail_percentile": tail_pct, "tail_samples": len(lat),
        "end_to_end": e2e, "extra": extra, "per_layer": layers,
        "problems": problems, "ops": records,
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if traced:
        with open(os.path.join(out_dir, stem + "-spans.json"), "w") as fh:
            json.dump(tracer.to_json(), fh)

    shown = {**e2e, **extra} if not traced else layers
    units = {**END_TO_END, **EXTRA, **PER_LAYER}
    for k, v in shown.items():
        note = f"  (p{tail_pct:.1f} of {len(lat)} ops)" if k == "op_tail_s" else ""
        print(f"{args.workload} {k} = {v:.6g} {units[k]}{note}")
    for p in problems[:10]:
        print(f"FAILED {p}")
    metrics = (
        {k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
        if traced else
        {k: {"value": e2e[k], "unit": END_TO_END[k]} for k in END_TO_END}
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def warm_up(workload, ctx, ops: list[str]) -> list[dict]:
    """One untimed pass to fill the JVM's and Spark's caches and start the
    Python workers. The workload's independent groups of ops run in
    parallel threads; outputs are checked as in the timed passes, but a
    problem here is only recorded: the timed passes count failures."""

    def run_group(group: list[str]) -> list[dict]:
        out = []
        for name in group:
            workload.before(name)
            a = time.perf_counter()
            try:
                problem = workload.check(name, workload.run(ctx, name))
            except Exception as exc:  # noqa: BLE001 - recorded, see above
                problem = f"{name}: {type(exc).__name__}: {str(exc)[:300]}"
            out.append({
                "op": name, "latency_s": time.perf_counter() - a, "problem": problem,
            })
        return out

    groups = workload.warmup_groups(ops)
    with ThreadPoolExecutor(max_workers=CORES) as pool:
        done = [f.result() for f in [pool.submit(run_group, g) for g in groups]]
    return [r for group in done for r in group]


def per_layer(tracer: Tracer, records, setup: dict, work: str, extra: dict) -> dict:
    """Per-op means of the per-layer numbers over the traced ops."""
    log = eventlog.parse(eventlog.read_events(events_dir(work)))
    ops = [r for r in records if r["traced"]]
    plain = [r for r in records if not r["traced"]]
    sums: dict[str, float] = defaultdict(float)
    pair_ratios = []
    #: hub-table reads of schedule_sync, averaged per read
    per_read: dict[str, list[float]] = defaultdict(list)
    for r in ops:
        jobs = eventlog.jobs_of(log, f"op-{r['id']}", r["start"], r["end"])
        for j in jobs:
            tracer.add_span(r["id"], "spark.job", j.submit, j.end or r["end"])
        spans = [s for s in tracer.spans if s.op == r["id"]]
        st = self_times(spans)
        spans_by_id = {s.sid: s for s in spans}

        def inside(span_names, s):
            """Whether ``s`` is nested under a span named in ``span_names``."""
            p = s.parent
            while p is not None:
                if spans_by_id[p].name in span_names:
                    return True
                p = spans_by_id[p].parent
            return False

        job_spans = [s for s in spans if s.name == "spark.job"]
        build = {"plans.build", "sync.build"}
        for s in spans:
            if s.name == "plans.build" or s.name.startswith("plans.pretalx."):
                sums["plans.build_self_s"] += st[s.sid]
            if s.name.startswith("llm."):
                fn = s.name.rsplit(".", 1)[1]
                if fn in LLM_FUNCTIONS:
                    sums[f"llm.{fn}_s"] += st[s.sid]
            if s.name == SQL_SPAN:
                sums["lakehouse_sql.statement_self_s"] += st[s.sid]
                if not inside({SQL_SPAN}, s):
                    sums["lakehouse_sql.statements"] += 1
            if s.name in COMMIT_SPANS and not inside(COMMIT_SPANS, s):
                sums["sinks.commit_s"] += s.duration
                sums["sinks.commit_driver_s"] += s.duration - covered(
                    ((j.start, j.end) for j in job_spans), s.start, s.end
                )
            if s.name in COMPACTION_SPANS and not inside(COMPACTION_SPANS, s):
                sums["sinks.compaction_s"] += s.duration
            if s.name == PUBLISH_SPAN:
                sums["sinks.publish_s"] += s.duration
            if s.name == "sources.json_doc.read_schedule_json":
                sums["sources.schedule_read_s"] += s.duration
        sums["plans.eager_jobs"] += sum(1 for j in job_spans if inside(build, j))
        for phase in ("analysis", "optimization", "planning"):
            sums[f"catalyst.{phase}_ms"] += r["phases"].get(phase, 0.0)
        summ = eventlog.summarize(log, jobs, r["start"], r["end"])
        for k in ("jobs", "stages", "tasks", "task_p50_ms", "task_busy_s",
                  "task_gc_s", "idle_s", "shuffle_write_bytes", "input_bytes"):
            sums[f"spark.{k}"] += summ[k]
        for k in ("python_stage_s", "bytes_to_python", "bytes_from_python",
                  "rows_from_python"):
            sums[f"arrow.{k}"] += summ[k]
        if r["op"] in workloads.PAIR_QUERIES and r.get("rows"):
            pair_ratios.append(summ["join_rows_out"] / r["rows"])
        if "writes" in r:
            w = r["writes"]
            sums["sinks.files_written"] += w["files_written"]
            sums["sinks.bytes_written_per_row_changed"] += (
                w["bytes_written"] / max(1, w["rows_changed"])
            )
            sums["sinks.manifest_bytes"] += w["manifest_bytes"]
            sums["sinks.bytes_rewritten"] += w["bytes_rewritten"]
            reads = [s for s in spans if s.name == "sync.read"]
            for span, (live, deltas) in zip(reads, r["table_files"]):
                rj = [j for j in jobs if span.start <= j.submit <= span.end]
                n = eventlog.summarize(log, rj, span.start, span.end)["files_read"]
                per_read["sources.files_read"].append(n)
                per_read["sources.delta_files_per_read"].append(deltas)
                per_read["sources.files_skipped_frac"].append(
                    max(0.0, 1.0 - n / live) if live else 0.0
                )
        sums["spark.persisted_rdds_after_op"] += r["persisted_rdds"]
        sums["jvm.jit_cpu_s"] += r["jit_s"]
    n = max(1, len(ops))
    out = {k: 0.0 for k in PER_LAYER}
    out.update({k: v / n for k, v in sums.items()})
    for k in ("session.get_spark_s", "session.import_s", "queries.load_all_s"):
        out[k] = setup[k]
    out["llm.candidate_rows_per_pair"] = median(pair_ratios)
    out.update({k: sum(v) / len(v) for k, v in per_read.items()})
    out["tmp.dirs_left"] = float(ops[-1]["tmp_left"]) if ops else 0.0
    out.update({k: extra.get(k, 0.0) for k in
                ("commit_p50_s", "read_p50_s", "storage_amp", "failed_ops_frac")})
    out["trace.overhead_frac"] = overhead(ops, plain)
    return out


def op_median(records: list[dict]) -> float:
    """Median over the workload's ops of each op's median latency. Every
    pass holds each op once, so this is the median op latency with the
    passes' warm-up drift averaged within each op first."""
    by_key = defaultdict(list)
    for r in records:
        by_key[r["key"]].append(r["latency_s"])
    return median([median(v) for v in by_key.values()])


def op_keys(ops: list[str]) -> list[tuple[str, int]]:
    """Each op of a pass with a number that is the same for the same op in
    every pass: its rank among the pass's (name, occurrence) pairs."""
    seen: dict[str, int] = defaultdict(int)
    pairs = []
    for name in ops:
        pairs.append((name, seen[name]))
        seen[name] += 1
    rank = {p: i for i, p in enumerate(sorted(pairs))}
    return [(name, rank[p]) for name, p in zip(ops, pairs)]


def overhead(traced: list[dict], plain: list[dict]) -> float:
    """Geometric mean over ops of traced over untraced latency, minus one."""
    t, u = defaultdict(list), defaultdict(list)
    for r in traced:
        t[r["key"]].append(r["latency_s"])
    for r in plain:
        u[r["key"]].append(r["latency_s"])
    logs = [
        math.log(median(t[k]) / median(u[k])) for k in t.keys() & u.keys()
    ]
    return math.exp(sum(logs) / len(logs)) - 1.0 if logs else 0.0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
