"""Shared machinery for the benchmark: scratch root, memory sampler,
span tracer, Spark session and status-store reader, timed-pass loop.

Nothing here imports the package under test; the workload modules do.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

MB = 1e6


def median(values):
    return statistics.median(values) if values else 0.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def physical_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def dir_bytes(path: str, suffixes=(".parquet", ".fpsc")) -> int:
    """Bytes of the data files under ``path`` (manifests excluded)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if f.endswith(suffixes))
    return total


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    """The fields of a /proc stat file after the command name (field 3
    of proc(5) first), or None when the process is gone."""
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers it forks), sampled from /proc; and
    the CPU time the same process tree has used.

    Each process counts its proportional set size: the forked Python
    workers share most of their pages with the daemon they fork from,
    and summing plain RSS would count those pages once per worker."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._own_ticks = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def cpu_s(self) -> float:
        """User + system seconds used so far by the process tree, the
        children it has reaped included, less the sampler's own."""
        ticks = 0
        for pid in self._tree():
            f = _stat_fields(f"/proc/{pid}/stat")
            if f:
                # utime, stime, cutime, cstime (fields 14-17 of proc(5))
                ticks += sum(int(v) for v in f[11:15])
        return (ticks - self._own_ticks) / CLK_TCK

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        tree, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        return tree

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        own = f"/proc/self/task/{threading.get_native_id()}/stat"
        while not self._stop.wait(self.interval):
            self.sample()
            f = _stat_fields(own)
            self._own_ticks = int(f[11]) + int(f[12])


class Tracer:
    """In-memory spans: name, layer, operation id, parent, start, end.

    A disabled tracer records nothing and costs one branch per span, so
    the untraced passes run the same code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "layer": name.split(".", 1)[0], "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self, rec: dict) -> float:
        """Duration minus the union of the intervals its children cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == rec["id"] and s["end"] is not None)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            rec = dict(s)
            rec["self"] = self.self_time(s)
            rec["start"] -= t0
            rec["end"] -= t0
            out.append(rec)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(out, fh, indent=0, default=str)


class Bench:
    """Runs a workload's operations in passes and records what they
    cost.

    Every operation is attempted once per pass; its result is checked
    outside its timed interval.  A raised exception or a failed check
    counts in ``failed`` and is reported on stderr, never dropped.  In a
    traced run the passes alternate untraced / traced: untraced passes
    give the timings, traced passes record spans and Spark's counters,
    and the two together give the tracing overhead."""

    def __init__(self, seconds: float, trace: bool, cpu_clock):
        self.seconds = seconds
        self.trace = trace
        self.cpu_clock = cpu_clock
        self.tracer = Tracer(trace)
        self.status: SparkStatus | None = None
        self.attempted = 0
        self.failed = 0
        self.op_secs: dict[str, list[float]] = {}
        self.op_cpu: dict[str, list[float]] = {}
        self.traced_secs: dict[str, list[float]] = {}
        self.pass_s: list[float] = []
        self.traced_pass_s: list[float] = []
        self.spark_ops: dict[str, list[dict]] = {}
        self.spark_passes: list[dict] = []
        self._recording = False
        self._pass_sum = 0.0
        self._pass_cpu = 0.0
        self._pass_counters: dict = {}
        self._warm_up: list | None = None
        self._pool: ThreadPoolExecutor | None = None

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"FAILED {what}: {detail}", file=sys.stderr)

    def check(self, what: str, ok: bool, detail: str) -> None:
        """Record a correctness check made after the fact."""
        self.attempted += 1
        if not ok:
            self.fail(what, detail)

    def op(self, name: str, span: str, fn, check=None):
        """Time ``fn()`` as operation ``name`` inside a span named after
        the layer entry point it calls; then run ``check(result)``
        (returns an error string or None).  Returns the result, or None
        when the operation failed.  During the warm-up the operation is
        only submitted, and None is returned."""
        self.attempted += 1
        if self._warm_up is not None:
            self._warm_up.append((name, self._pool.submit(fn), check))
            return None
        traced = self.tracer.enabled and self._recording
        if traced and self.status is not None:
            self.status.mark()
        c0 = self.cpu_clock()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span, op=name):
                result = fn()
        except Exception:  # a failing operation is a measured outcome
            self.fail(name, traceback.format_exc(limit=4))
            return None
        secs = time.perf_counter() - t0
        cpu = self.cpu_clock() - c0
        if traced and self.status is not None:
            counters = self.status.collect()
            self.spark_ops.setdefault(name, []).append(counters)
            add_counters(self._pass_counters, counters)
        if not self._checked(name, check, result):
            return None
        if self._recording:
            book = self.traced_secs if traced else self.op_secs
            book.setdefault(name, []).append(secs)
            if not traced:
                self.op_cpu.setdefault(name, []).append(cpu)
            self._pass_sum += secs
            self._pass_cpu += cpu
        return result

    def _checked(self, name: str, check, result) -> bool:
        if check is None:
            return True
        try:
            err = check(result)
        except Exception:
            err = traceback.format_exc(limit=4)
        if err:
            self.fail(name, err)
        return not err

    def warm_up(self, run_pass, threads: int | None = None) -> None:
        """One untimed pass (part of set-up) that starts the workers,
        loads the code paths and fills the caches.  Its operations run
        on ``threads`` threads (default one per core): Spark's cold
        costs (class loading, compilation, worker start-up) are mostly
        single-threaded, so a concurrent cold pass takes about half as
        long as a sequential one.  The checks run afterwards, one at a
        time, so an operation's ``fn`` and ``check`` must not depend on
        variables that change later in the pass."""
        enabled, self.tracer.enabled = self.tracer.enabled, False
        self._warm_up = []
        with ThreadPoolExecutor(threads or cores()) as self._pool:
            run_pass(-1)
        submitted, self._warm_up, self._pool = self._warm_up, None, None
        for name, fut, check in submitted:
            try:
                result = fut.result()
            except Exception:
                self.fail(name, traceback.format_exc(limit=4))
                continue
            self._checked(name, check, result)
        self.tracer.enabled = enabled

    def passes(self, run_pass, min_passes: int, max_passes: int = 50) -> None:
        """Run ``run_pass(i)`` until the run's seconds have elapsed and
        at least ``min_passes`` passes are done.  A traced run makes at
        least two and traces the odd ones."""
        need = max(2, min_passes) if self.trace else min_passes
        t_end = time.perf_counter() + self.seconds
        i = 0
        self._recording = True
        while i < max_passes and (i < need or time.perf_counter() < t_end):
            traced = self.trace and i % 2 == 1
            self.tracer.enabled = traced
            self._pass_sum, self._pass_cpu, self._pass_counters = 0.0, 0.0, {}
            with self.tracer.span("pass", op=f"pass{i}"):
                run_pass(i)
            if traced:
                self.traced_pass_s.append(self._pass_sum)
            else:
                self.pass_s.append(self._pass_sum)
            print(f"pass {i}{' (traced)' if traced else ''}: "
                  f"{self._pass_sum:.3f} s in operations, "
                  f"{self._pass_cpu:.3f} s of CPU", file=sys.stderr)
            if traced and self._pass_counters:
                self.spark_passes.append(self._pass_counters)
            i += 1
        self._recording = False
        self.tracer.enabled = self.trace

    def op_median(self, name: str, traced: bool = False) -> float:
        """Median seconds of operation ``name`` over the timed passes."""
        secs = (self.traced_secs if traced else self.op_secs).get(name)
        if not secs:
            raise RuntimeError(f"no '{name}' operation succeeded")
        return median(secs)

    def op_sum(self, book: dict[str, list[float]] | None = None) -> float:
        """Sum over the operation kinds of each kind's median seconds over
        the timed (untraced) passes: one execution of every kind, so each
        kind weighs by its time, however often a pass repeats it.  Wall
        seconds, or with ``book=self.op_cpu`` the process tree's CPU
        seconds."""
        meds = [median(v) for v in (self.op_secs if book is None else book).values() if v]
        if not meds:
            raise RuntimeError("no operation succeeded")
        return sum(meds)

    def spark_layer(self, op_names: dict[str, str]) -> dict:
        """Per-layer Spark metrics: per-pass totals, and per operation
        (``op_names`` maps the operation to its metric prefix) the
        median over its traced executions."""
        m = {}
        if self.spark_passes:
            for k in SPARK_COUNTERS:
                m[f"spark.{k}"] = median([p.get(k, 0.0) for p in self.spark_passes])
        for op, prefix in op_names.items():
            runs = self.spark_ops.get(op)
            if runs:
                for k in ("jobs", "stages", "tasks", "task_run_s"):
                    m[f"spark.{prefix}.{k}"] = median([r[k] for r in runs])
        return m

    def overhead_share(self) -> float:
        """Traced pass time over untraced pass time, minus one."""
        if not self.pass_s or not self.traced_pass_s:
            return 0.0
        return median(self.traced_pass_s) / median(self.pass_s) - 1.0


# ---------------------------------------------------------------- Spark ---
def make_spark(root: str, scratch: str):
    """local[nproc] session sized to this machine, with every temporary
    directory under the per-run scratch root and the package shipped to
    the Python workers through the environment, not the cwd."""
    from pyspark.sql import SparkSession

    n = cores()
    mem_gb = max(1, min(2, physical_ram_bytes() // (4 << 30)))
    tmp = os.path.join(scratch, "tmp")
    builder = (SparkSession.builder.master(f"local[{n}]")
               .appName("perfbench")
               .config("spark.sql.shuffle.partitions", str(n))
               .config("spark.sql.adaptive.enabled", "true")
               .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
               .config("spark.sql.python.filterPushdown.enabled", "true")
               .config("spark.driver.memory", f"{mem_gb}g")
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false")
               .config("spark.local.dir", os.path.join(scratch, "spark-local"))
               .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
               # C1 only: a run's JVM lives about a minute, and C2's
               # compiler threads then compete with the tasks for the
               # cores.  Measured against the default tiered JIT: set-up
               # 5-10 s shorter, encodes 15-30% faster, queries level.
               # It slows Spark's JVM scan more than the Python fps path,
               # so sources.fps_vs_native reads lower than it would under
               # the default JIT (perfbench/README.md)
               .config("spark.driver.extraJavaOptions",
                       f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1")
               .config("spark.executorEnv.PYTHONPATH", root)
               .config("spark.executorEnv.TMPDIR", tmp)
               .config("spark.executorEnv.FPS_NATIVE_CACHE",
                       os.environ["FPS_NATIVE_CACHE"]))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


class SparkStatus:
    """Reads Spark's status store from outside the program: the jobs
    started since the last mark, their stages and task metrics."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_q = gw.new_array(gw.jvm.double, 0)
        self._next_job = self._job_counter()

    def _job_counter(self) -> int:
        """The id the scheduler gives the next job (ids are sequential)."""
        return self._jsc.dagScheduler().nextJobId()

    def mark(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        self._next_job = self._job_counter()

    def collect(self) -> dict:
        """Counters of the jobs since the last mark (then re-marks)."""
        self._jsc.listenerBus().waitUntilEmpty()
        end = self._job_counter()
        jobs = [self._store.job(i) for i in range(self._next_job, end)]
        stage_ids = set()
        for j in jobs:
            seq = j.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        out["jobs"] = float(len(jobs))
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, self._no_status,
                                             False, self._no_q)
            ran = False
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                ran = True
                out["tasks"] += sd.numTasks()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += (sd.memoryBytesSpilled()
                                    + sd.diskBytesSpilled()) / MB
            out["stages"] += ran
        self._next_job = end
        return out


def add_counters(acc: dict, c: dict) -> None:
    for k, v in c.items():
        acc[k] = acc.get(k, 0.0) + v
