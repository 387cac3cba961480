"""Run plumbing shared by the workloads: fitting the Spark session to the
host, the closed loop, per-operation records, and what a ``--trace 1``
run collects after each operation.
"""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass, field

from metrics import gmean, median
from tracing import StageStats, Tracer, covered, group_stats, plan_shape


def host_mem_bytes() -> int:
    """Physical memory, capped by the cgroup limit when one is set."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            total = min(total, int(raw))
    except (OSError, ValueError):
        pass
    return total


def driver_heap_gb(mem_bytes: int) -> int:
    """A quarter of host memory, 1-8 GiB: the whole local[n] cluster
    lives in this one heap, and the host is shared."""
    return max(1, min(8, mem_bytes // (4 << 30)))


def fit_env(work: str) -> dict:
    """Environment for ``hbase_spark.sources.tables.get_spark``: cores
    from the affinity mask, heap from host memory, and every Spark,
    JVM and Python scratch directory inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    heap = driver_heap_gb(host_mem_bytes())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: both JVMs (spark-class's launcher and the
        # driver) would otherwise write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
        "PYARROW_IGNORE_TIMEZONE": "1",
    }
    os.environ.update(env)
    return {"cpus": cpus, "heap_gb": heap}


def start_session():
    from hbase_spark.sources.tables import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_live_heap_mb(spark) -> float:
    """Heap in use after full collections, once it stops shrinking: what
    the session retains (plans, memos, stored blocks, status data) when
    the run's work is done.  G1 resizes the heap by GC timing, so peak
    RSS moves between identical runs; the live set does not.  Between
    collections Python's GC drops DataFrame handles and Spark's
    ContextCleaner releases the RDDs, shuffles and blocks behind them."""
    import gc

    jvm = spark._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    seen = []
    while len(seen) < 10:
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        seen.append(mem.getHeapMemoryUsage().getUsed())
        if len(seen) >= 3 and max(seen[-3:]) - min(seen[-3:]) < 2**20:
            break
    return seen[-1] / 2**20


def _descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass  # exited while listing
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def stop_session(spark) -> None:
    """Stop the session and wait until the JVM and the Python workers it
    forked have exited."""
    import signal

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = gw.proc
    workers = _descendants(proc.pid)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [w for w in workers if os.path.exists(f"/proc/{w}")]
        time.sleep(0.1)
    for w in workers:
        os.kill(w, signal.SIGKILL)


@dataclass
class Op:
    kind: str
    seconds: float
    stats: StageStats | None = None
    extra: dict = field(default_factory=dict)


class Run:
    """One benchmark process: session, tracer, op records, checks."""

    def __init__(self, spark, work: str, seed: int, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.trace = trace
        self.tracer = Tracer(False)
        self.ops: list[Op] = []
        self.checks = 0
        self.failed_checks = 0
        self.failures: list[str] = []
        self.collect_s = 0.0
        self._next_op = 0

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failed_checks += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    # -- operations ------------------------------------------------------

    def op(self, kind: str, fn, *, plan_of=None, groups_of=None):
        """Run one client operation ``fn()``, timed; return its result.

        Traced, the op gets its own job group, an op span,
        and afterwards (outside the timing) the stage metrics of its
        jobs, plus those of the job groups ``groups_of(result)`` names
        (a streaming query runs its micro-batches under its own group),
        and, with ``plan_of(result)`` giving the op's DataFrame, the
        shape of its executed plan."""
        op_id = self._next_op
        self._next_op += 1
        group = f"perfbench-op-{op_id}"
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, kind)
        w0 = time.time()
        t0 = time.perf_counter()
        with self.tracer.span(f"op.{kind}", op_id):
            out = fn()
        dt = time.perf_counter() - t0
        w1 = time.time()
        rec = Op(kind, dt)
        if self.trace:
            c0 = time.perf_counter()
            groups = [group] + (groups_of(out) if groups_of else [])
            rec.stats = group_stats(self.spark, groups)
            rec.extra["driver_only_s"] = max(
                0.0, (w1 - w0) - covered(rec.stats.intervals, w0, w1)
            )
            if plan_of is not None:
                plan = plan_of(out)._jdf.queryExecution().executedPlan()
                rec.extra["shape"] = plan_shape(plan)
            self.spark.sparkContext.setJobGroup("perfbench-idle", "between ops")
            self.collect_s += time.perf_counter() - c0
        self.ops.append(rec)
        return out

    def span(self, name: str):
        return self.tracer.span(name)

    def loop(self, seconds: float, step) -> None:
        """Closed loop, one client: run whole ``step()`` cycles until
        ``seconds`` have passed; a traced run traces every op.  Ops of
        a warm-up before the loop are dropped (their checks count)."""
        self.tracer = Tracer(self.trace)
        self.ops = []
        self.collect_s = 0.0
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            step()

    # -- summaries -------------------------------------------------------

    def end_to_end(self, setup_s: float, read_kinds, write_kinds) -> dict:
        return {
            "setup_s": setup_s,
            "read_p50_gmean_ms": self.p50_gmean_ms(read_kinds),
            "write_p50_gmean_ms": self.p50_gmean_ms(write_kinds),
            "jvm_live_heap_mb": jvm_live_heap_mb(self.spark),
        }

    def p50_gmean_ms(self, kinds) -> float:
        """Geometric mean over ``kinds`` of each kind's median latency: a
        factor r on one of k kinds moves it by r**(1/k), whatever the
        kinds' absolute times."""
        return 1e3 * gmean(median(self.kind_seconds(k)) for k in kinds)

    def kind_seconds(self, kind: str) -> list[float]:
        return [o.seconds for o in self.ops if o.kind == kind]

    def spark_layer(self, read_kinds, write_kinds) -> dict:
        """``spark.*`` per op of a traced run, and what tracing cost: the
        traced run's op latencies (compare an untraced run's
        ``read_p50_gmean_ms`` / ``write_p50_gmean_ms``) and the post-op
        collection time as a share of op time."""
        ops = self.ops
        n = len(ops)
        op_s = sum(o.seconds for o in ops)
        return {
            "spark.jobs": sum(o.stats.jobs for o in ops) / n,
            "spark.stages": sum(o.stats.stages for o in ops) / n,
            "spark.tasks": sum(o.stats.tasks for o in ops) / n,
            "spark.executor_run_ms": sum(o.stats.run_ms for o in ops) / n,
            "spark.executor_cpu_ms": sum(o.stats.cpu_ms for o in ops) / n,
            "spark.gc_ms": sum(o.stats.gc_ms for o in ops) / n,
            "spark.spill_bytes": sum(o.stats.spill_bytes for o in ops) / n,
            "spark.task_skew": median(s for o in ops for s in o.stats.skews),
            "spark.driver_only_ms": 1e3 * median(o.extra["driver_only_s"] for o in ops),
            "spark.jvm_rss_peak_mb": jvm_peak_rss_mb(self.spark),
            "trace.read_p50_gmean_ms": self.p50_gmean_ms(read_kinds),
            "trace.write_p50_gmean_ms": self.p50_gmean_ms(write_kinds),
            "trace.overhead_pct": 100 * self.collect_s / op_s,
            "trace.collect_ms_per_op": 1e3 * self.collect_s / n,
            "trace.spans": len(self.tracer.spans),
        }


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's _SUCCESS markers and
    .crc sidecars are not data files."""
    total, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            if n.endswith(".parquet"):
                files += 1
    return total, files
