"""Engine-side plumbing for the benchmark: Spark session lifecycle in a
private scratch directory, process-tree memory and CPU-steal sampling, the
span tracer, and Spark/JVM counters read from outside the program (status
tracker, status store, ``CodegenMetrics`` and JVM MX beans).
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict, deque
from contextlib import contextmanager

SETUP_CYCLES = 2  # set-ups per run; the median is reported
DRIVER_MEM = "2g"


def configure_env(work: str) -> dict[str, str]:
    """Point every temp/scratch location of Spark, the JVM and the Python
    workers inside ``work``; return the Spark conf the session must get."""
    for d in ("local", "tmp", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # HotSpot writes /tmp/hsperfdata_<user>/<pid> regardless of
    # java.io.tmpdir; switch it off for the launcher JVM and the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'derby')}"
    )
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }


def start_session(conf: dict[str, str]):
    """Fresh JVM + SparkSession through the program's own factory; returns
    once a first job has run, i.e. when the session can serve."""
    from nilm_data_framework_spark.session import get_session

    spark = get_session(app_name="perfbench", extra_conf=conf)
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session AND its JVM, so the next ``start_session`` pays the
    full cold start a user pays."""
    spark.stop()
    kill_jvm()


def kill_jvm() -> None:
    """Stop any SparkContext and the JVM behind it, waiting for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def java_version(spark) -> str:
    return spark.sparkContext._jvm.java.lang.System.getProperty("java.version")


# ---------------------------------------------------------------------------
# process tree sampling
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def tree_pids(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = _children_map() if kids is None else kids
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_anon_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss_Anon:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_memory_kb(pids: list[int], jvm: set[int]) -> int:
    """Anonymous memory of a process tree, counted once. File-backed pages
    (mapped jars, shuffle and Parquet files) are droppable page cache. The
    JVM's own pages are its RssAnon (cheap to read). A child the JVM is
    spawning (Hadoop shelling out to ls/chmod) shares the JVM's address
    space until it execs, so any other process still running the java
    binary is skipped; forked Python workers share pages with their daemon,
    so they count proportionally (Pss_Anon)."""
    java = {_exe(p) for p in jvm}
    kb = 0
    for p in pids:
        if p in jvm:
            kb += _status_kb(p, "RssAnon:")
        elif _exe(p) not in java:
            kb += _pss_anon_kb(p)
    return kb


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by every process below this one."""
    ticks = sum(_cpu_ticks(p) for p in tree_pids(os.getpid())[1:])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class TreeSampler:
    """Samples the memory of the JVM and its Python workers (every process
    below this one) while running, plus the tree's CPU time and the
    machine's CPU-steal share over the interval.

    Peak memory is split so that it follows the program rather than when G1
    happens to commit heap or how large it sizes the young generation: the
    peak heap the program retains over the interval (peak usage of the
    survivor and old pools, reset at the start; eden only fills to whatever
    size G1 chose before each collection), plus the peak of everything
    else (the JVM's anonymous resident memory minus its committed heap,
    i.e. metaspace, code cache, thread stacks and direct buffers, plus the
    workers). Every pool's peak and the plain peak anonymous memory of the
    tree are kept too, for the report.

    G1 lowers its committed size first and uncommits the pages afterwards,
    concurrently, so for a moment after a heap shrink the pages are still
    resident but no longer counted as committed; subtracting the current
    committed size would then add the whole shrink to the peak (once a
    340 MB spike in a ~500 MB figure). The largest committed size of the
    last UNCOMMIT_LAG_S seconds is subtracted instead."""

    UNCOMMIT_LAG_S = 2.0

    def __init__(self, spark, period: float = 0.2):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._heap_bean = mf.getMemoryMXBean()
        pools = mf.getMemoryPoolMXBeans()
        self._pools = [pools.get(i) for i in range(pools.size())
                       if pools.get(i).getType().name() == "HEAP"]
        self.period = period
        self.peak_kb = 0
        self.peak_rest_kb = 0
        self._committed: deque[tuple[float, int]] = deque()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        kids = _children_map()
        pids = tree_pids(os.getpid(), kids)[1:]  # exclude the benchmark process
        jvm = set(kids.get(os.getpid(), []))  # spark-submit execs the JVM
        now = time.perf_counter()
        self._committed.append((now, self._heap_bean.getHeapMemoryUsage().getCommitted() // 1024))
        while self._committed[0][0] < now - self.UNCOMMIT_LAG_S:
            self._committed.popleft()
        committed_kb = max(c for _, c in self._committed)
        kb = tree_memory_kb(pids, jvm)
        self.peak_kb = max(self.peak_kb, kb)
        self.peak_rest_kb = max(self.peak_rest_kb, kb - committed_kb)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self):
        for p in self._pools:
            p.resetPeakUsage()
        self.steal0 = cpu_times()
        self.cpu0 = tree_cpu_s()
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        self.pool_peak_kb = {p.getName(): p.getPeakUsage().getUsed() // 1024 for p in self._pools}
        self.heap_peak_kb = sum(kb for name, kb in self.pool_peak_kb.items() if "Eden" not in name)
        self.cpu_s = tree_cpu_s() - self.cpu0
        steal1 = cpu_times()
        dt = steal1[1] - self.steal0[1]
        self.steal_share = (steal1[0] - self.steal0[0]) / dt if dt else 0.0

    @property
    def peak_mb(self) -> float:
        return (self.heap_peak_kb + self.peak_rest_kb) / 1024.0


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans at the layer boundaries of the benchmark's own code.

    Each span records name, start, end, parent span and op id; spans live in
    memory until the run ends. With ``enabled`` false every call is a no-op.
    When enabled, each span also becomes the Spark job group of the calling
    thread, so jobs (and their stages/tasks) are attributed to the innermost
    span that launched them; JVM-global counters are sampled at op
    boundaries and split evenly between the ops in flight."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._inflight: dict[int, str] = {}
        self._last = None
        self.jvm_by_op: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not getattr(self._local, "active", False):
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        op = op if op is not None else (self.spans[parent]["op"] if parent is not None else -1)
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"name": name, "op": op, "parent": parent, "start": time.perf_counter()})
        stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{sid}", name)
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.perf_counter()
            stack.pop()
            if stack:
                sc.setJobGroup(f"span-{stack[-1]}", self.spans[stack[-1]]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def op(self, op_id: int, kind: str, traced: bool = True):
        """Root span of one op. With tracing enabled, JVM-global counters are
        sampled at every op boundary and split evenly between the ops in
        flight; only an op with ``traced`` true records spans and job groups,
        so traced and untraced ops of one run give the tracing overhead."""
        if not self.enabled:
            yield
            return
        self._jvm_event(op_id, kind, start=True)
        self._local.active = traced
        try:
            with self.span(kind, op=op_id):
                yield
        finally:
            self._local.active = False
            self._jvm_event(op_id, kind, start=False)

    def _jvm_event(self, op_id: int, kind: str, start: bool) -> None:
        with self._lock:
            now = jvm_counters(self.spark)
            if self._last is not None and self._inflight:
                share = 1.0 / len(self._inflight)
                for o in self._inflight:
                    for k, v in now.items():
                        self.jvm_by_op[o][k] += (v - self._last[k]) * share
            self._last = now
            if start:
                self._inflight[op_id] = kind
            else:
                self._inflight.pop(op_id, None)

    # --- reading the spans back -------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def self_time(self, sid: int) -> float:
        """Span time minus the union of the intervals its children cover."""
        s = self.spans[sid]
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == sid and "end" in c
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    def summary(self) -> dict[str, tuple[int, float, float]]:
        """Per span name: count, median duration and median self time (s)."""
        by_name: dict[str, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if "end" in s:
                by_name[s["name"]].append(i)
        return {
            name: (len(ids), median([self.spans[i]["end"] - self.spans[i]["start"] for i in ids]),
                   median([self.self_time(i) for i in ids]))
            for name, ids in by_name.items()
        }

    def job_ids(self, sid: int) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(f"span-{sid}"))

    def op_spans(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            out[s["op"]].append(i)
        return out


def jvm_counters(spark) -> dict[str, float]:
    """JVM-global counters: codegen compilations, JIT ms, GC ms."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    return {
        "codegen_compiles": jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
        "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        "gc_ms": sum(gcs.get(i).getCollectionTime() for i in range(gcs.size())),
    }


def _ms(opt_date) -> float | None:
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


def job_stats(spark, job_ids: list[int]) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle bytes written, task CPU and
    submit-to-first-task wait of the given jobs, from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = defaultdict(float)
    for j in job_ids:
        try:
            jd = store.job(j)
        except Exception:  # evicted from the store: count the job only
            out["spark_jobs"] += 1
            continue
        out["spark_jobs"] += 1
        submitted = _ms(jd.submissionTime())
        first_launch = None
        sids = jd.stageIds()
        for i in range(sids.size()):
            try:
                sd = store.lastStageAttempt(sids.apply(i))
            except Exception:
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["spark_stages"] += 1
            out["spark_tasks"] += sd.numCompleteTasks()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["cpu_ms"] += sd.executorCpuTime() / 1e6
            launched = _ms(sd.firstTaskLaunchedTime())
            if launched is not None and (first_launch is None or launched < first_launch):
                first_launch = launched
        if submitted is not None and first_launch is not None:
            out["task_wait_ms"] += max(0.0, first_launch - submitted)
    return out


def map_stage_seconds(spark, job_ids: list[int]) -> float:
    """Wall seconds of the shuffle-map stages of the given jobs (the scan +
    parse side of a write, ahead of its repartition)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    total = 0.0
    for j in job_ids:
        sids = store.job(j).stageIds()
        for i in range(sids.size()):
            sd = store.lastStageAttempt(sids.apply(i))
            if sd.status().toString() == "COMPLETE" and sd.shuffleWriteBytes() > 0:
                a, b = _ms(sd.submissionTime()), _ms(sd.completionTime())
                if a is not None and b is not None:
                    total += (b - a) / 1000.0
    return total


def scan_metrics(spark, job_ids: list[int]) -> tuple[float, float]:
    """(files read, rows output) of every Parquet scan in the SQL
    executions that ran the given jobs, from the SQL status store."""
    sql = spark._jsparkSession.sharedState().statusStore()
    jobs = set(job_ids)
    n = sql.executionsCount()
    execs = sql.executionsList(max(0, n - 200), 200)
    files = rows = 0.0
    for i in range(execs.size()):
        e = execs.apply(i)
        if not _scala_keys(e.jobs()) & jobs:
            continue
        metrics = sql.executionMetrics(e.executionId())
        nodes = sql.planGraph(e.executionId()).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if not node.name().startswith("Scan parquet"):
                continue
            ms = node.metrics()
            for m in range(ms.size()):
                pm = ms.apply(m)
                v = metrics.get(pm.accumulatorId())
                if not v.isDefined():
                    continue
                val = _metric_number(v.get())
                if pm.name() == "number of files read":
                    files += val
                elif pm.name() == "number of output rows":
                    rows += val
    return files, rows


def _scala_keys(m) -> set[int]:
    it = m.keysIterator()
    out = set()
    while it.hasNext():
        out.add(int(it.next()))
    return out


def _metric_number(s: str) -> float:
    head = s.strip().split("\n")[-1].split(" ")[0]
    return float(head.replace(",", "")) if head.replace(",", "").replace(".", "").isdigit() else 0.0


def overhead_pct(measured: list[dict], kind: str) -> float:
    traced = [r["latency"] for r in measured if r["kind"] == kind and r["ok"] and r["traced"]]
    plain = [r["latency"] for r in measured if r["kind"] == kind and r["ok"] and not r["traced"]]
    if not traced or not plain:
        return 0.0
    return (median(traced) - median(plain)) / median(plain) * 100


ENGINE_KEYS = ("spark_jobs", "spark_stages", "spark_tasks", "shuffle_write_bytes", "task_wait_ms",
               "codegen_compiles", "jit_ms", "gc_ms", "cpu_ms")
KINDS = ("meter_query", "late_upsert", "pass")


def engine_rows(spark, tr, measured) -> dict:
    """Per op kind: median over traced ops of the op's Spark job totals and
    its share of the JVM-global counters."""
    by_op = tr.op_spans()
    per_kind = {k: [] for k in KINDS}
    for r in measured:
        if not r["traced"] or not r["ok"]:
            continue
        jobs = [j for sid in by_op[r["op_id"]] for j in tr.job_ids(sid)]
        stats = dict(job_stats(spark, jobs))
        for k in ("codegen_compiles", "jit_ms", "gc_ms"):
            stats[k] = tr.jvm_by_op[r["op_id"]][k]
        per_kind[r["kind"]].append(stats)
    out = {}
    for kind in KINDS:
        for key in ENGINE_KEYS:
            out[f"{kind}.{key}"] = median([s.get(key, 0.0) for s in per_kind[kind]])
    return out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
