"""Per-layer probes, read from outside the engine.

Everything here goes through public entry points of the package under
test (module attributes it already exports), Spark's own status stores
and listener APIs, and ``/proc``. Nothing in the engine is edited.
"""

from __future__ import annotations

import gc
import os
import re
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc


@dataclass
class Proc:
    pid: int
    ppid: int
    comm: str
    own_cpu_s: float  # user+system time of the process itself
    cpu_s: float  # own time plus that of its reaped children


def _read_stat(pid: int) -> Proc | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # comm may hold spaces and parentheses; the fields after it do not
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2 :].split()
    own, children = int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])
    return Proc(pid, int(rest[1]), raw[lpar + 1 : rpar], own / _CLK, (own + children) / _CLK)


def process_tree(root_pid: int) -> list[Proc]:
    """``root_pid`` and all its live descendants."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            p = _read_stat(int(d))
            if p is not None:
                procs[p.pid] = p
    kids: dict[int, list[int]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
            todo.extend(kids.get(pid, ()))
    return out


def _io_bytes(pid: int) -> tuple[int, int]:
    try:
        fields = dict(
            line.split(": ") for line in Path(f"/proc/{pid}/io").read_text().splitlines()
        )
    except OSError:
        return 0, 0
    return int(fields.get("read_bytes", 0)), int(fields.get("write_bytes", 0))


def _peak_rss_mb(pid: int) -> float:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


@dataclass
class TreeSample:
    """CPU and I/O of the benchmark's process tree at one instant."""

    tree_cpu_s: float
    driver_py_cpu_s: float
    jvm_cpu_s: float
    py_worker_cpu_s: float
    read_bytes: int
    write_bytes: int
    peak_rss_mb: float


def sample_tree(driver_pid: int, jvm_pid: int | None, detail: bool = False) -> TreeSample:
    """Sum CPU over the tree rooted at this process. With ``detail`` also
    split it by process kind and read I/O and peak RSS."""
    tree = process_tree(driver_pid)
    total = sum(p.cpu_s for p in tree)
    if not detail:
        return TreeSample(total, 0.0, 0.0, 0.0, 0, 0, 0.0)
    own = jvm = workers = 0.0
    rd = wr = 0
    rss = 0.0
    jvm_side = {p.pid for p in process_tree(jvm_pid)} if jvm_pid else set()
    for p in tree:
        r, w = _io_bytes(p.pid)
        rd, wr, rss = rd + r, wr + w, rss + _peak_rss_mb(p.pid)
        if p.pid == driver_pid:
            own = p.own_cpu_s
        elif p.pid == jvm_pid:
            jvm = p.cpu_s
        elif p.pid in jvm_side and p.comm.startswith("python"):
            workers += p.cpu_s
    return TreeSample(total, own, jvm, workers, rd, wr, rss)


def host_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) from the aggregate line of /proc/stat."""
    first = Path("/proc/stat").read_text().splitlines()[0].split()[1:]
    vals = [int(x) for x in first]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def loadavg() -> float:
    return float(Path("/proc/loadavg").read_text().split()[0])


# ------------------------------------------------------------- JVM side


def jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def live_heap_mb(spark, tries: int = 12, min_rounds: int = 5, pause_s: float = 0.3) -> float:
    """Heap in use after a full GC: the lowest reading of at least
    ``min_rounds`` rounds, repeated until two readings agree.

    Each round first collects Python garbage (a DataFrame the driver no
    longer references pins its JVM objects until py4j detaches them) and
    pauses after the JVM collection, so Spark's ContextCleaner can drop the
    broadcast, shuffle and persisted-RDD state that collection released.
    That clean-up lags: two early readings can agree while it is pending,
    so a few rounds are always made and the lowest reading is kept."""
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for i in range(tries):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(pause_s)
        readings.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
        if i + 1 >= min_rounds and abs(readings[-1] - readings[-2]) <= 0.005 * readings[-1]:
            break
    return min(readings)


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE_RE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")


def _size_metric(text: str | None) -> float:
    """Bytes in a rendered SQL size metric: ``"1.5 MiB"``, or a
    ``"total (min, med, max ...)\\n1.5 MiB (...)"`` summary, whose first
    figure is the total."""
    if not text:
        return 0.0
    m = _SIZE_RE.search(text)
    return float(m.group(1)) * _SIZE[m.group(2)] if m else 0.0


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


@dataclass
class SparkCounts:
    sql_executions: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exchanges: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    task_gc_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    scan_bytes: float = 0.0
    arrow_bytes_to_py: float = 0.0
    arrow_bytes_from_py: float = 0.0


class StatusReader:
    """Reads job, stage and SQL-execution counters for a set of job groups
    from the JVM status stores (works with the UI disabled)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_exec_id = self._max_exec_id()

    def _max_exec_id(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        return self.sql.executionsList(n - 1, 1).apply(0).executionId()

    def new_executions(self) -> list:
        """SQL executions recorded since the previous call."""
        n = self.sql.executionsCount()
        window = 500
        seq = self.sql.executionsList(max(0, n - window), window)
        out = [seq.apply(i) for i in range(seq.size())]
        out = [e for e in out if e.executionId() > self.last_exec_id]
        if out:
            self.last_exec_id = max(e.executionId() for e in out)
        return out

    def read(self, groups: list[str], executions: list) -> SparkCounts:
        """Counters of the jobs in ``groups``, and of those ``executions``
        that ran any of them."""
        c = SparkCounts()
        tracker = self.sc.statusTracker()
        job_ids: set[int] = set()
        for g in groups:
            job_ids.update(tracker.getJobIdsForGroup(g))
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        c.jobs = len(job_ids)
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a stage skipped before submission has no record
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            c.stages += 1
            c.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
            c.task_run_s += sd.executorRunTime() / 1e3
            c.task_cpu_s += sd.executorCpuTime() / 1e9
            c.task_gc_s += sd.jvmGcTime() / 1e3
            c.shuffle_write_bytes += sd.shuffleWriteBytes()
            c.shuffle_read_bytes += sd.shuffleReadBytes()
            c.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            c.scan_bytes += sd.inputBytes()
        for e in executions:
            jobs = e.jobs()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            c.sql_executions += 1
            self._plan_counts(e.executionId(), c)
        return c

    def _plan_counts(self, exec_id: int, c: SparkCounts) -> None:
        graph = self.sql.planGraph(exec_id)
        values = self.sql.executionMetrics(exec_id)
        nodes = graph.allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name() == "Exchange":
                c.exchanges += 1
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() not in (_PY_SENT, _PY_RECV):
                    continue
                opt = values.get(m.accumulatorId())
                text = opt.get() if opt.isDefined() else None
                if m.name() == _PY_SENT:
                    c.arrow_bytes_to_py += _size_metric(text)
                else:
                    c.arrow_bytes_from_py += _size_metric(text)


# ------------------------------------------------------ streaming progress


@dataclass
class StreamTotals:
    microbatches: int = 0
    input_rows: int = 0
    trigger_s: float = 0.0
    add_batch_s: float = 0.0
    planning_s: float = 0.0
    commit_s: float = 0.0
    state_rows: int = 0
    state_bytes: int = 0


def make_stream_listener():
    """A StreamingQueryListener that keeps every progress event by runId,
    plus the order in which runs started."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.started: list[str] = []
            self.progress: dict[str, list] = {}

        def onQueryStarted(self, event):
            self.started.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.setdefault(str(p.runId), []).append(
                (p.numInputRows, dict(p.durationMs or {}),
                 [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators])
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take_runs(self) -> list[str]:
            runs, self.started = self.started, []
            return runs

        def totals(self, run_ids: list[str]) -> StreamTotals:
            t = StreamTotals()
            for rid in run_ids:
                last_state = (0, 0)
                for rows, dur, states in self.progress.pop(rid, []):
                    if rows == 0 and not dur.get("addBatch"):
                        continue  # an idle trigger that planned no batch
                    t.microbatches += 1
                    t.input_rows += rows
                    t.trigger_s += dur.get("triggerExecution", 0) / 1e3
                    t.add_batch_s += dur.get("addBatch", 0) / 1e3
                    t.planning_s += dur.get("queryPlanning", 0) / 1e3
                    t.commit_s += (dur.get("walCommit", 0) + dur.get("commitOffsets", 0)) / 1e3
                    last_state = (sum(s[0] for s in states), sum(s[1] for s in states))
                t.state_rows += last_state[0]
                t.state_bytes += last_state[1]
            return t

    return Listener()


# ---------------------------------------------------- engine entry wrappers


@dataclass
class Spans:
    """Spans kept in memory and written out when the run ends."""

    items: list[dict] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)

    def open(self, name: str, **attrs) -> int:
        sid = len(self.items)
        self.items.append({
            "id": sid, "name": name, "start": time.perf_counter(), "end": None,
            "parent": self.stack[-1] if self.stack else None, **attrs,
        })
        self.stack.append(sid)
        return sid

    def close(self, sid: int) -> float:
        span = self.items[sid]
        span["end"] = time.perf_counter()
        self.stack.remove(sid)
        return span["end"] - span["start"]


@dataclass
class StagingCounts:
    builds: int = 0
    hits: int = 0
    build_s: float = 0.0
    builds_timed: int = 0


class EntryWrappers:
    """Counting wrappers around ``staging.staged`` and the two stream
    drains, bound wherever the package holds a reference to them."""

    PKG = "dataengineerchallenge_spark"

    def __init__(self, spans: Spans):
        self.spans = spans
        self.staging = StagingCounts()
        self.timed = False  # set while a timed pass runs

    def install(self) -> None:
        """Bind the wrappers; call once, after the registry has loaded."""
        import importlib

        staging = importlib.import_module(f"{self.PKG}.staging")
        runner = importlib.import_module(f"{self.PKG}.streaming.runner")
        self._orig = {
            "staged": staging.staged,
            "run_to_batch": runner.run_to_batch,
            "drain_foreach_batch": runner.drain_foreach_batch,
        }
        repl = {
            "staged": self._staged,
            "run_to_batch": self._drain("run_to_batch"),
            "drain_foreach_batch": self._drain("drain_foreach_batch"),
        }
        # Bind over every module-level name (``from … import staged``
        # included); function-local imports read the module attribute.
        for mod in [m for n, m in sys.modules.items() if n.startswith(self.PKG)]:
            for attr, orig in self._orig.items():
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, repl[attr])

    def _staged(self, spark, prefix, src, salt, build):
        built: list[float] = []

        def timed_build(out):
            sid = self.spans.open(f"staging.build:{prefix}")
            try:
                build(out)
            finally:
                built.append(self.spans.close(sid))

        path = self._orig["staged"](spark, prefix, src, salt, timed_build)
        if built:
            self.staging.builds += 1
            self.staging.build_s += built[0]
            self.staging.builds_timed += int(self.timed)
        else:
            self.staging.hits += 1
        return path

    def _drain(self, attr: str):
        def wrapper(*args, **kwargs):
            sid = self.spans.open(f"streaming.{attr}")
            try:
                return self._orig[attr](*args, **kwargs)
            finally:
                self.spans.close(sid)

        return wrapper


# --------------------------------------------------------- session hygiene


def hygiene_snapshot(spark) -> dict:
    return {
        "persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "temp_views": sorted(t.name for t in spark.catalog.listTables() if t.isTemporary),
        "streams": len(spark.streams.active),
        "conf": dict(spark.conf.getAll),
    }


def hygiene_delta(before: dict, after: dict) -> dict:
    keys = set(before["conf"]) | set(after["conf"])
    return {
        "persisted_rdds_leaked": max(0, after["persisted_rdds"] - before["persisted_rdds"]),
        "temp_views_leaked": len(set(after["temp_views"]) - set(before["temp_views"])),
        "streams_left_active": max(0, after["streams"] - before["streams"]),
        "conf_keys_changed": sum(
            before["conf"].get(k) != after["conf"].get(k) for k in keys
        ),
    }
