"""Seeded end-to-end benchmark for esper_tv_spark.

    python3 perfbench/run.py --workload explore --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one closed-loop client on
``local[nproc]``: each operation starts after the previous one returned.
The seed drives query order, query vectors and insert/delete batches; the
program sees only the generated inputs. Every answer is checked after the
timed phase (DuckDB oracle or exact numpy cosine); a wrong answer counts
as a failed operation.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
interleaves untraced and traced rounds and prints the per-layer metrics
plus the tracing overhead. The last line of stdout is the result JSON; the
lines before it are a human-readable report. Run records (provenance,
every operation, spans) are kept under ``.perfbench_work/records/``.
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# process tree accounting (/proc)
# --------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, stat fields after the command name)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rindex(")") + 2 :].split()
        out[int(d)] = (int(rest[1]), rest)
    return out


def _descendants(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _r) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in table:
            out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _cpu_s(rest: list[str]) -> float:
    # utime + stime + cutime + cstime: children that exited and were
    # reaped are folded into their parent's c* fields, so nothing is lost
    return sum(int(rest[i]) for i in (11, 12, 13, 14)) / CLK_TCK


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine: steal is time the
    hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def _jit_cpu_s(pid: int) -> float:
    """CPU of a JVM's JIT compiler threads (HotSpot names them "C1
    CompilerThread<n>" and "C2 CompilerThread<n>"; the kernel keeps 15
    characters)."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        if s[s.index("(") + 1 : s.rindex(")")].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            rest = s[s.rindex(")") + 2 :].split()
            total += (int(rest[11]) + int(rest[12])) / CLK_TCK
    return total


def _kb_field(path: str, field: str) -> int:
    """A `Name:   123 kB` field of a /proc file, in bytes (0 if gone)."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcTree:
    """CPU and memory of this process and every descendant (JVM, Python
    workers), read from /proc."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.worker_peak = 0

    def _workers(self, table) -> set[int]:
        daemons = [p for p in _descendants(table, self.root) if "pyspark.daemon" in _cmdline(p)]
        return {q for d in daemons for q in _descendants(table, d)}

    def cpu_s(self) -> dict[str, float]:
        """CPU seconds of the driver, the JVM, the JVM's JIT compiler
        threads and the Python workers (the pyspark daemon subtree); the
        parts sum to the whole tree's. The "jvm" part leaves the JIT out."""
        t = _proc_table()
        workers = self._workers(t)
        out = {"driver": 0.0, "jvm": 0.0, "jit": 0.0, "workers": 0.0}
        for p in _descendants(t, self.root):
            part = "driver" if p == self.root else "workers" if p in workers else "jvm"
            out[part] += _cpu_s(t[p][1])
            if part == "jvm":
                jit = _jit_cpu_s(p)
                out["jvm"] -= jit
                out["jit"] += jit
        return out

    def sample_workers(self) -> None:
        """Keep the largest summed PSS of the pyspark daemon subtree seen so
        far. The workers fork from one daemon; PSS splits each shared page
        among the processes that map it, so the sum counts it once."""
        t = _proc_table()
        pss = sum(_kb_field(f"/proc/{p}/smaps_rollup", "Pss:") for p in self._workers(t))
        self.worker_peak = max(self.worker_peak, pss)

    def peak_rss(self) -> dict[str, int]:
        """Peak RSS (the kernel's VmHWM) of the driver and of the JVM, and
        the largest sampled PSS of the Python workers (sample_workers)."""
        t = _proc_table()
        workers = self._workers(t)
        jvm = sum(_kb_field(f"/proc/{p}/status", "VmHWM:")
                  for p in _descendants(t, self.root) if p not in workers and p != self.root)
        return {
            "driver": _kb_field(f"/proc/{self.root}/status", "VmHWM:"),
            "jvm": jvm,
            "workers": self.worker_peak,
        }


# --------------------------------------------------------------------------
# operations, tracing and the closed loop
# --------------------------------------------------------------------------


class Outcome:
    __slots__ = (
        "op", "op_id", "tag", "latency", "result", "error", "ok", "recall", "layer",
    )

    def __init__(self, op, op_id, tag):
        self.op, self.op_id, self.tag = op, op_id, tag
        self.latency = 0.0
        self.result = self.error = self.recall = None
        self.ok = False
        self.layer: dict[str, float] = {}


class Tracer:
    """Spans kept in memory (run -> op -> entry.build / plan.optimize /
    exec.collect) plus the per-op counters read at the same boundaries."""

    def __init__(self, spark, tree: ProcTree) -> None:
        self.spark, self.tree = spark, tree
        self.spans: list[dict] = []
        self._q = spark.sparkContext._gateway.new_array(spark.sparkContext._jvm.double, 0)

    def span(self, name: str, op_id: str, parent: str | None, t0: float, t1: float) -> None:
        self.spans.append(
            {"name": name, "op": op_id, "parent": parent, "start": t0, "end": t1}
        )

    def stage_counters(self, group: str) -> dict[str, float]:
        """Spark's own metrics for the jobs of ONE op (its job group), read
        right after the op: deltas over the whole stage list go wrong once
        Spark evicts stages past its retention limit."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = sorted({s for j in jobs for s in (st.getJobInfo(j).stageIds or ())})
        store = sc._jsc.sc().statusStore()
        c = dict.fromkeys(
            (
                "tasks", "cpu_ms", "run_ms", "gc_ms", "input_bytes", "input_records",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            ),
            0.0,
        )
        ran = 0
        for sid in stages:
            seq = store.stageData(sid, False, sc._jvm.java.util.ArrayList(), False, self._q)
            for i in range(seq.size()):
                d = seq.apply(i)
                if str(d.status()) == "SKIPPED":
                    continue
                ran += 1
                c["tasks"] += d.numTasks()
                c["cpu_ms"] += d.executorCpuTime() / 1e6
                c["run_ms"] += d.executorRunTime()
                c["gc_ms"] += d.jvmGcTime()
                c["input_bytes"] += d.inputBytes()
                c["input_records"] += d.inputRecords()
                c["shuffle_read_bytes"] += d.shuffleReadBytes()
                c["shuffle_write_bytes"] += d.shuffleWriteBytes()
                c["spill_bytes"] += d.diskBytesSpilled() + d.memoryBytesSpilled()
        c["jobs"], c["stages"] = float(len(jobs)), float(ran)
        return c


def _result_rows(result) -> int:
    if isinstance(result, tuple) and len(result) == 2 and isinstance(result[1], list):
        return len(result[1])
    return 1


def execute(spark, op, op_id: str, tag: str, tracer: Tracer | None, tree: ProcTree) -> Outcome:
    from pyspark.sql import DataFrame

    from esper_tv_spark.plans.introspect import count_shuffles

    out = Outcome(op, op_id, tag)
    if op.prepare is not None:
        op.prepare()
    sc = spark.sparkContext
    if tracer is not None:
        sc.setJobGroup(op_id, op.name, False)
        py0 = tracer.tree.cpu_s()["workers"]
    t0 = time.perf_counter()
    t1 = t2 = None
    df = None
    try:
        obj = op.build()
        t1 = time.perf_counter()
        if isinstance(obj, DataFrame):
            df = obj
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            obj = (df.columns, df.collect())
        out.result = obj
    except Exception as e:  # a failed op is counted, the loop goes on
        out.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
    t3 = time.perf_counter()
    out.latency = t3 - t0
    if tracer is not None:
        t1 = t1 or t3
        t2 = t2 or t1
        tracer.span("op", op_id, "run", t0, t3)
        tracer.span("entry.build", op_id, "op", t0, t1)
        if df is not None:
            tracer.span("plan.optimize", op_id, "op", t1, t2)
            tracer.span("exec.collect", op_id, "op", t2, t3)
        c = tracer.stage_counters(op_id)
        c["pyworker_cpu_s"] = tracer.tree.cpu_s()["workers"] - py0
        c["build_s"], c["optimize_s"], c["collect_s"] = t1 - t0, t2 - t1, t3 - t2
        c["exchanges"] = float(count_shuffles(df)) if df is not None and out.error is None else 0.0
        c["result_rows"] = float(_result_rows(out.result)) if out.error is None else 0.0
        out.layer = c
        sc.setLocalProperty("spark.jobGroup.id", None)
    if op.after is not None and out.error is None:
        op.after(out.result)
    tree.sample_workers()
    return out


def check_all(outcomes: list[Outcome]) -> None:
    for o in outcomes:
        if o.error is not None:
            continue
        try:
            o.ok, o.recall = o.op.check(o.result)
        except Exception as e:  # a check that cannot run is a failed answer
            o.ok, o.error = False, f"check raised {type(e).__name__}: {e}"
        if not o.ok and o.error is None:
            o.error = "wrong answer"
        o.result = None  # rows are not kept in the record


def failed_count(outcomes: list[Outcome]) -> int:
    return sum(1 for o in outcomes if not o.ok)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """p90 by nearest rank. Returns (value, percentile, samples beyond it)."""
    s = sorted(latencies)
    i = math.ceil(0.9 * len(s)) - 1
    return s[i], 90.0, len(s) - 1 - i


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


# --------------------------------------------------------------------------
# session and environment
# --------------------------------------------------------------------------


def _git_head(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def isolate(root: str, work: str) -> None:
    """Per-run TMPDIR (the entry module's index caches live under
    tempfile.gettempdir(), so they never reuse another run's state) and a
    PYTHONPATH that lets Spark's Python workers import the program from
    any working directory."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    if root not in sys.path:
        sys.path.insert(0, root)


def start_spark(work: str, nproc: int):
    from esper_tv_spark import get_spark

    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    # one shuffle partition per core, as the test session runs; a 2 GB
    # driver heap, all of it committed at start, with a fixed young
    # generation and a fixed marking threshold: left to grow the heap and
    # size the young generation by GC time, G1 moved the JVM's peak RSS by
    # up to a quarter of its median between runs
    spark = get_spark(
        "perfbench",
        cpus=nproc,
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
                " -Xms2g -Xmn384m -XX:-G1UseAdaptiveIHOP"
                # compiler threads live as long as the JVM, so their CPU
                # can be told apart from the rest (cpu_s_per_op)
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, tree: ProcTree) -> None:
    """Stop the session, the JVM and every Python worker, and wait for
    each to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 20
    while True:
        left = [p for p in _descendants(_proc_table(), tree.root) if p != tree.root]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            for p in left:
                try:
                    os.waitpid(p, 0)
                except ChildProcessError:
                    pass
            return
        time.sleep(0.2)


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

# the end-to-end metrics BENCHMARK.json gates; wall-clock latency and
# throughput are reported beside them (see README.md, "Noise")
END_TO_END = {"setup_s": "s", "cpu_s_per_op": "s", "peak_rss_mb": "MB"}
REPORTED = {
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "failed_ratio": "ratio",
    "recall_at_10": "ratio",
    "read_p50_s": "s",
    "write_p50_s": "s",
    "cpu_s_per_op_driver": "s",
    "cpu_s_per_op_jvm": "s",
    "cpu_s_per_op_jit": "s",
    "cpu_s_per_op_workers": "s",
    "peak_rss_driver_mb": "MB",
    "peak_rss_jvm_mb": "MB",
    "peak_rss_workers_mb": "MB",
}


def layer_metrics(
    setup: dict, traced: list[Outcome], counters: dict, persisted: int, tmp_entries: int
) -> dict:
    """Per-layer metrics (BENCHMARK.json `per_layer`) from the traced pass;
    a layer a workload does not exercise reports 0."""
    lay = [o.layer for o in traced if o.layer]

    def per_op(key: str) -> float:
        return mean([c[key] for c in lay])

    def lat(kinds: tuple[str, ...], f=mean) -> float:
        return f([o.latency for o in traced if o.op.kind in kinds])

    rows = sum(c["result_rows"] for c in lay)
    recalls = [o.recall for o in traced if o.recall is not None]
    return {
        "entry.build_s": (per_op("build_s"), "s"),
        "plan.optimize_s": (per_op("optimize_s"), "s"),
        "exec.collect_s": (per_op("collect_s"), "s"),
        "plan.jobs": (per_op("jobs"), "count"),
        "plan.stages": (per_op("stages"), "count"),
        "plan.exchanges": (per_op("exchanges"), "count"),
        "exec.tasks": (per_op("tasks"), "count"),
        "exec.cpu_ms": (per_op("cpu_ms"), "ms"),
        "exec.run_ms": (per_op("run_ms"), "ms"),
        "exec.wait_ms": (per_op("run_ms") - per_op("cpu_ms"), "ms"),
        "exec.gc_ms": (per_op("gc_ms"), "ms"),
        "exec.input_bytes": (per_op("input_bytes"), "bytes"),
        "exec.shuffle_read_bytes": (per_op("shuffle_read_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (per_op("shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (per_op("spill_bytes"), "bytes"),
        "exec.rows_read_per_result": (
            sum(c["input_records"] for c in lay) / rows if rows else 0.0, "ratio",
        ),
        "pyworker.cpu_s": (per_op("pyworker_cpu_s"), "s"),
        "entry.index_build_s": (setup.get("entry_index_build_s", 0.0), "s"),
        "entry.index_builds_timed": (float(tmp_entries), "count"),
        "similarity.build_s": (setup.get("similarity_build_s", 0.0), "s"),
        "similarity.index_bytes_per_vector_byte": (
            setup.get("index_bytes_per_vector_byte", 0.0), "ratio",
        ),
        "similarity.probe_s": (lat(("probe",)), "s"),
        "similarity.join_s": (lat(("join",)), "s"),
        "similarity.recall_at_10": (mean(recalls), "ratio"),
        "ann.insert_s": (lat(("insert",)), "s"),
        "ann.delete_s": (lat(("delete",)), "s"),
        "ann.compact_s": (lat(("compact",)), "s"),
        "ann.read_p50_s": (lat(("probe", "join"), p50), "s"),
        "ann.write_p50_s": (lat(("insert", "delete", "compact"), p50), "s"),
        "ann.fragments_per_cell": (counters.get("ann.fragments_per_cell", 0.0), "count"),
        "ann.bytes_written_per_input_byte": (
            counters.get("ann.bytes_written_per_input_byte", 0.0), "ratio",
        ),
        "cache.persisted_bytes": (float(persisted), "bytes"),
    }


def run(args, root: str, work: str) -> dict:
    import random

    import workloads

    nproc = len(os.sched_getaffinity(0))
    prov = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_head": _git_head(root),
        "nproc": nproc,
        "load1_start": os.getloadavg()[0],
    }
    tree = ProcTree()
    rng = random.Random(args.seed)
    wl = workloads.WORKLOADS[args.workload](root, work, rng)
    tmp = os.environ["TMPDIR"]

    # ---- set-up: session start, fixtures, index builds, one warm pass
    wl.fixtures()
    spark = start_spark(work, nproc)
    try:
        setup = wl.setup(spark)
        tree.sample_workers()
        warm = []
        setup["entry_index_build_s"] = 0.0
        for i, op in enumerate(wl.warm_ops()):
            before = set(os.listdir(tmp))
            warm.append(execute(spark, op, f"warm-{i}", "warm", None, tree))
            if set(os.listdir(tmp)) - before:  # this op built an entry index cache
                setup["entry_index_build_s"] += warm[-1].latency
        setup_s = time.perf_counter() - T_START

        # ---- timed phase: fixed work, so every commit runs the same ops
        rounds = max(1, math.ceil(args.seconds / wl.nominal_round_s))
        before = set(os.listdir(tmp))
        steal0 = _cpu_ticks()
        cpu0 = tree.cpu_s()
        tracer = Tracer(spark, tree) if args.trace else None
        timed, traced = [], []
        wall = {False: 0.0, True: 0.0}
        t_run0 = time.perf_counter()
        for r in range(rounds * (2 if args.trace else 1)):
            # a traced run interleaves untraced and traced rounds, so the
            # overhead comparison is not skewed by warm-up order
            use_trace = bool(args.trace) and r % 2 == 1
            t_r = time.perf_counter()
            for j, op in enumerate(wl.round_ops()):
                o = execute(spark, op, f"r{r}-{j}", "traced" if use_trace else "timed",
                            tracer if use_trace else None, tree)
                (traced if use_trace else timed).append(o)
            wall[use_trace] += time.perf_counter() - t_r
        t_run1 = time.perf_counter()
        cpu1 = tree.cpu_s()
        steal1 = _cpu_ticks()
        peak_rss = tree.peak_rss()
        new_tmp = len([n for n in set(os.listdir(tmp)) - before if n.startswith("esper_tv_")])
        if tracer is not None:
            tracer.span("run", "run", None, t_run0, t_run1)
            storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            persisted = sum(info.memSize() + info.diskSize() for info in storage)
    finally:
        stop_spark(spark, tree)

    # ---- checks, outside every timed window
    wl.prepare_checks()
    everything = timed + traced
    check_all(everything)
    wl.check_run(everything)
    check_all(warm)
    lat = [o.latency for o in timed]
    tail_v, tail_pct, tail_beyond = tail(lat)
    failed = failed_count(everything)
    recalls = [o.recall for o in timed if o.recall is not None]
    reads = [o.latency for o in timed if o.op.kind in ("probe", "join", "query")]
    writes = [o.latency for o in timed if o.op.kind in ("insert", "delete", "compact")]
    e2e = {
        "setup_s": setup_s,
        # JIT compilation is warm-up a long-lived session pays once; it
        # is a quarter of the JVM's CPU after one warm pass, and the share
        # that falls in the timed phase varies from run to run
        "cpu_s_per_op": sum(cpu1[k] - cpu0[k] for k in cpu0 if k != "jit") / len(everything),
        "peak_rss_mb": sum(peak_rss.values()) / 2**20,
    }
    report = {
        "op_p50_s": p50(lat),
        "op_tail_s": tail_v,
        "ops_per_s": len(timed) / wall[False],
        "failed_ratio": failed / len(everything),
        "recall_at_10": mean(recalls) if recalls else None,
        "read_p50_s": p50(reads) if reads else None,
        "write_p50_s": p50(writes) if writes else None,
        "op_tail_percentile": tail_pct,
        "op_tail_samples_beyond": tail_beyond,
        **{f"peak_rss_{k}_mb": v / 2**20 for k, v in peak_rss.items()},
        **{f"cpu_s_per_op_{k}": (cpu1[k] - cpu0[k]) / len(everything) for k in cpu0},
        "samples": len(lat),
        "rounds": rounds,
        "warm_failed": failed_count(warm),
        "entry.index_builds_timed": new_tmp,
    }
    prov["load1_end"] = os.getloadavg()[0]
    prov["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    if args.trace:
        layers = layer_metrics(setup, traced, wl.layer_counters(), persisted, new_tmp)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        metrics["trace.overhead_ratio"] = {
            "value": wall[True] / wall[False] - 1.0, "unit": "ratio",
        }
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    correct = failed == 0 and report["warm_failed"] == 0 and new_tmp == 0

    record = {
        "provenance": prov,
        "end_to_end": e2e,
        "report": report,
        "metrics": metrics,
        "ops": [
            {
                "id": o.op_id, "name": o.op.name, "kind": o.op.kind, "pass": o.tag,
                "latency_s": o.latency, "ok": o.ok, "recall": o.recall,
                "error": o.error, **({"layer": o.layer} if o.tag == "traced" else {}),
            }
            for o in warm + everything
        ],
        "spans": tracer.spans if tracer is not None else [],
    }
    rec_dir = os.path.join(root, ".perfbench_work", "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    )
    with open(rec, "w") as f:
        json.dump(record, f, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} head={prov['git_head'][:12]} "
          f"nproc={nproc} load1={prov['load1_start']:.2f}->{prov['load1_end']:.2f} "
          f"steal={prov['cpu_steal_share']:.3f}")
    for k, v in [*e2e.items(), *report.items()]:
        if v is None:
            continue
        unit = END_TO_END.get(k) or REPORTED.get(k, "")
        print(f"  {k:<28} {v:12.4f} {unit}" if isinstance(v, float) else f"  {k:<28} {v:>12}")
    for o in everything + warm:
        if not o.ok:
            print(f"  FAILED {o.op_id} {o.op.name}: {o.error}")
    if args.trace:
        for k, v in metrics.items():
            print(f"  {k:<40} {v['value']:14.4f} {v['unit']}")
    print(f"  record {os.path.relpath(rec, root)}")
    return {
        "correct": correct,
        "attempted": len(everything),
        "failed": failed,
        "metrics": metrics,
    }


def main() -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    missing = [
        p for p in ("__spark_entry__.py", "esper_tv_spark", "tools/make_scale.py", "tools/check.py")
        if not os.path.exists(os.path.join(root, p))
    ]
    if missing:
        print(f"perfbench: run from a checkout root; missing {', '.join(missing)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    isolate(root, work)
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
