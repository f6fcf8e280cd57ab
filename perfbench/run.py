"""Closed-loop benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 27 --trace 0

Run from the root of a repository checkout. One run is one fresh process:
it writes its own seeded copy of the input tables, starts a session with
the engine's configuration on ``local[<cores>]``, runs every query of the
workload once as warm-up and checks each result against its DuckDB oracle
(outside any timer), reads the live heap, makes an untimed settle pass,
then runs timed passes for ``--seconds``. The last
line of standard output is one JSON object with the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``). A human summary
and the run record (environment, per-query checks, tail percentile) go to
standard error and to ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shlex
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import fixture  # noqa: E402
import probes  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DRIVER_MEMORY = "4g"
# Untimed passes after the checked warm-up pass. The live heap is read
# before the last one, whose queries run slower after the full collections.
# More settle passes would cut the fall of pass times over a run (a quarter
# to a third over the first ten passes), but the run budget is better spent
# on a longer timed window: host slowdowns come and go within a run.
SETTLE_PASSES = 1
E2E_UNITS = {
    "setup_s": "s",
    "throughput_qpm": "q/min",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cpu_s_per_query": "s",
    "live_heap_mb": "MB",
}
# per-layer metrics: name -> unit; every one is reported on every workload
LAYER_UNITS = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "spark.sql_executions": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exchanges": "count",
    "spark.exec_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_gc_s": "s",
    "spark.slot_util": "ratio",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.scan_bytes": "B",
    "jvm.cpu_s": "s",
    "jvm.gc_s": "s",
    "driver_py.cpu_s": "s",
    "jvm.live_heap_mb": "MB",
    "host.peak_rss_mb": "MB",
    "functions.py_worker_cpu_s": "s",
    "functions.arrow_bytes_to_py": "B",
    "functions.arrow_bytes_from_py": "B",
    "staging.builds": "count",
    "staging.hits": "count",
    "staging.build_s": "s",
    "staging.bytes": "B",
    "staging.builds_timed": "count",
    "streaming.microbatches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "io.read_bytes": "B",
    "io.write_bytes": "B",
    "session.persisted_rdds_leaked": "count",
    "session.temp_views_leaked": "count",
    "session.streams_left_active": "count",
    "session.conf_keys_changed": "count",
    "host.steal_frac": "ratio",
    "host.loadavg": "1",
    "traced.setup_s": "s",
    "traced.throughput_qpm": "q/min",
    "traced.latency_p50_s": "s",
    "traced.cpu_s_per_query": "s",
}
ALL_QUERIES = [q for qs in WORKLOADS.values() for q in qs]
for _q in ALL_QUERIES:
    LAYER_UNITS[f"q.{_q}.latency_s"] = "s"


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(root: Path, run_dir: Path) -> None:
    """Point every scratch location of the engine, Spark and the JVM into
    ``run_dir``; must run before the JVM starts."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # -XX:-UsePerfData: a JVM would otherwise write /tmp/hsperfdata_<user>;
    # the launcher JVM that spark-submit starts first takes its own options
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    java_opts = shlex.quote(jvm_opts)
    warehouse = run_dir / "warehouse"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY}"
        f" --driver-java-options {java_opts}"
        f" --conf {shlex.quote(f'spark.sql.warehouse.dir={warehouse}')}"
        " --conf spark.ui.showConsoleProgress=false"
        " pyspark-shell"
    )


def _stop_spark(spark, tree_pids: list[int]) -> None:
    """Stop the session and the JVM, and wait until every process the run
    started has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(30)
                except Exception:  # noqa: BLE001 - escalate, then wait for the kill
                    proc.kill()
                    proc.wait(30)
    deadline = time.time() + 30
    live = [p for p in tree_pids if p != os.getpid()]
    while live and time.time() < deadline:
        live = [p for p in live if Path(f"/proc/{p}").exists() and not _zombie(p)]
        time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _du(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) if path.exists() else 0


class Run:
    def __init__(self, root: Path, run_dir: Path, cache_dir: Path, args):
        self.root, self.run_dir, self.cache_dir = root, run_dir, cache_dir
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.trace = args.seconds, bool(args.trace)
        self.names = WORKLOADS[args.workload]
        self.failures: dict[str, str] = {}
        self.attempted = self.failed = 0
        self.record: dict = {"workload": self.workload, "seed": self.seed, "trace": int(self.trace)}
        self._ticks0 = probes.host_ticks()

    # ----------------------------------------------------------- phases

    def run(self) -> dict:
        data_dir = self.run_dir / "data"
        t0 = time.perf_counter()
        fixture.write(data_dir, self.seed)
        self.data_dir = str(data_dir)
        self.phases = {"inputs_s": time.perf_counter() - t0}

        t_setup = time.perf_counter()
        from dataengineerchallenge_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.conf.set("spark_graft.staging_root", str(self.run_dir / "staging"))
        self.spark = spark
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.phases["session_s"] = time.perf_counter() - t_setup
        try:
            return self._run_in_session(t_setup)
        finally:
            tree = [p.pid for p in probes.process_tree(os.getpid())]
            _stop_spark(spark, tree)

    def _run_in_session(self, t_setup: float) -> dict:
        spark = self.spark
        if self.trace:
            self.spans = probes.Spans()
            setup_span = self.spans.open("setup")
            self.wrappers = probes.EntryWrappers(self.spans)
            self.listener = probes.make_stream_listener()
            spark.streams.addListener(self.listener)
        import __spark_entry__ as entry

        queries, oracles = entry.queries(), entry.oracle_sql()
        if self.trace:
            self.wrappers.install()
        self.queries = queries

        from oracle import Oracle

        oracle = Oracle(self.root, Path(self.data_dir), self.cache_dir,
                        fixture.fingerprint(), fixture.TABLES)
        rng = random.Random(self.seed)

        # warm-up pass: staged builds, caches and JIT, with every result
        # checked against its oracle (the checks are not part of set-up)
        check_s = 0.0
        self.record["checks"] = checks = {}
        for name in rng.sample(self.names, len(self.names)):
            self.attempted += 1
            if self.trace:
                warm_span = self.spans.open(f"warm:{name}")
            t0 = time.perf_counter()
            try:
                got = queries[name](spark, self.data_dir).toArrow()
            except Exception as ex:  # noqa: BLE001 - one failing query must not stop the run
                self._fail(name, ex)
                continue
            finally:
                if self.trace:
                    self.spans.close(warm_span)
            warm_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            try:
                sql = oracles.get(name)
                why = "no oracle" if sql is None else oracle.compare(got, sql)
            except Exception as ex:  # noqa: BLE001
                why = f"oracle: {type(ex).__name__}: {ex}"
            del got
            check_s += time.perf_counter() - t0
            checks[name] = {"warm_s": warm_s, "check": why or "ok"}
            if why:
                self.failed += 1
                self.failures[name] = why
        oracle.close()
        heap_read_s = 0.0
        self.record["settle_pass_s"] = settle_s = []
        for settle in range(SETTLE_PASSES):
            if settle == SETTLE_PASSES - 1:
                # the live heap is read after a fixed amount of work, not at
                # the end of the timed passes: their number grows with
                # throughput, and a query that leaks adds to the heap on
                # every pass
                t0 = time.perf_counter()
                self.heap_mb = probes.live_heap_mb(spark)
                heap_read_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            for name in rng.sample(self.names, len(self.names)):
                if name in self.failures:
                    continue
                self.attempted += 1
                try:
                    queries[name](spark, self.data_dir).write.format("noop").mode("overwrite").save()
                except Exception as ex:  # noqa: BLE001 - one failing query must not stop the run
                    self._fail(name, ex)
            settle_s.append(time.perf_counter() - t0)
        setup_s = time.perf_counter() - t_setup - check_s - heap_read_s
        self.phases["check_s"] = check_s
        self.phases["heap_read_s"] = heap_read_s
        if self.trace:
            self.spans.close(setup_span)
            self.setup_layer = self._setup_layer()

        lat, passes = self._timed_passes(rng)
        return self._metrics(setup_s, lat, passes)

    def _fail(self, name: str, ex: BaseException) -> None:
        self.failed += 1
        self.failures.setdefault(name, f"{type(ex).__name__}: {str(ex)[:300]}")
        _log(f"perfbench: {name} failed: {traceback.format_exc(limit=3)}")

    def _timed_passes(self, rng: random.Random):
        """Complete passes until ``seconds`` of query time has elapsed."""
        spark = self.spark
        lat: list[float] = []
        per_q: dict[str, list[float]] = {n: [] for n in self.names}
        passes: list[dict] = []
        timed = 0.0
        t_loop = time.perf_counter()
        cpu0 = probes.sample_tree(os.getpid(), self.jvm_pid).tree_cpu_s
        while True:
            order = rng.sample(self.names, len(self.names))
            p = {"wall_s": 0.0, "done": 0, "layer": {}}
            if self.trace:
                pass_span = self.spans.open(f"pass:{len(passes)}")
                self._pass_begin(p)
            for i, name in enumerate(order):
                if name in self.failures:
                    continue  # its result is already known to be wrong
                self.attempted += 1
                dt = self._timed_query(name, len(passes), i, p)
                if dt is None:
                    continue
                lat.append(dt)
                per_q[name].append(dt)
                p["wall_s"] += dt
                p["done"] += 1
            if self.trace:
                self.spans.close(pass_span)
                self._pass_end(p)
            passes.append(p)
            timed += p["wall_s"]
            if timed >= self.seconds or not p["done"]:
                break
        cpu1 = probes.sample_tree(os.getpid(), self.jvm_pid).tree_cpu_s
        self.cpu_timed_s = cpu1 - cpu0
        self.phases["timed_wall_s"] = time.perf_counter() - t_loop
        self.per_q = per_q
        return lat, passes

    def _timed_query(self, name: str, pass_no: int, i: int, p: dict) -> float | None:
        sc = self.spark.sparkContext
        if self.trace:
            gid = f"perfbench-{os.getpid()}-{pass_no}-{i}"
            before = probes.hygiene_snapshot(self.spark)
            sid = self.spans.open(f"query:{name}", group=gid)
            phase = self.spans.open("build")
            sc.setJobGroup(gid + "-build", name)
        t0 = time.perf_counter()
        try:
            df = self.queries[name](self.spark, self.data_dir)
            t1 = time.perf_counter()
            if self.trace:
                self.spans.close(phase)
                phase = self.spans.open("exec")
                sc.setJobGroup(gid + "-exec", name)
            df.write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001 - one failing query must not stop the run
            if self.trace:
                self.spans.close(phase)
                self.spans.close(sid)
            self._fail(name, ex)
            return None
        t2 = time.perf_counter()
        if self.trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.close(phase)
            self.spans.close(sid)
            self._query_layer(name, gid, t1 - t0, t2 - t1, before, p)
        return t2 - t0

    # ---------------------------------------------------------- tracing

    def _setup_layer(self) -> dict:
        probes.drain_listener_bus(self.spark)
        self.listener.take_runs()
        self.listener.progress.clear()
        self.status = probes.StatusReader(self.spark)
        w = self.wrappers.staging
        return {
            "staging.builds": w.builds,
            "staging.build_s": w.build_s,
            "staging.bytes": _du(self.run_dir / "staging"),
        }

    def _pass_begin(self, p: dict) -> None:
        self.wrappers.timed = True
        p["t0"] = probes.sample_tree(os.getpid(), self.jvm_pid, detail=True)
        p["gc0"] = probes.jvm_gc_s(self.spark)
        p["ticks0"] = probes.host_ticks()
        p["hits0"] = self.wrappers.staging.hits
        p["layer"] = {k: 0.0 for k in LAYER_UNITS if not k.startswith(("q.", "traced."))}

    def _query_layer(self, name, gid, build_s, exec_s, before, p) -> None:
        spark = self.spark
        probes.drain_listener_bus(spark)
        runs = self.listener.take_runs()
        execs = self.status.new_executions()
        # stream micro-batches run inside the query call, under their runId
        build = self.status.read([gid + "-build"] + runs, execs)
        c = self.status.read([gid + "-exec"], execs)
        for f in vars(build):
            setattr(c, f, getattr(c, f) + getattr(build, f))
        st = self.listener.totals(runs)
        hyg = probes.hygiene_delta(before, probes.hygiene_snapshot(spark))
        layer = p["layer"]
        layer["queries.build_s"] += build_s
        layer["queries.build_jobs"] += build.jobs
        layer["spark.exec_s"] += exec_s
        for f in ("sql_executions", "jobs", "stages", "tasks", "exchanges", "task_run_s",
                  "task_cpu_s", "task_gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_bytes", "scan_bytes"):
            layer[f"spark.{f}"] += getattr(c, f)
        layer["functions.arrow_bytes_to_py"] += c.arrow_bytes_to_py
        layer["functions.arrow_bytes_from_py"] += c.arrow_bytes_from_py
        for f in vars(st):
            layer[f"streaming.{f}"] += getattr(st, f)
        for f, v in hyg.items():
            layer[f"session.{f}"] += v
        self.record.setdefault("per_query", []).append({
            "query": name, "group": gid, "build_s": build_s, "exec_s": exec_s,
            "stream_runs": runs, "spark": vars(c), "streaming": vars(st), "hygiene": hyg,
        })

    def _pass_end(self, p: dict) -> None:
        spark = self.spark
        self.wrappers.timed = False
        t1 = probes.sample_tree(os.getpid(), self.jvm_pid, detail=True)
        t0 = p.pop("t0")
        steal0, all0 = p.pop("ticks0")
        steal1, all1 = probes.host_ticks()
        layer = p["layer"]
        layer["jvm.cpu_s"] = t1.jvm_cpu_s - t0.jvm_cpu_s
        layer["jvm.gc_s"] = probes.jvm_gc_s(spark) - p.pop("gc0")
        layer["driver_py.cpu_s"] = t1.driver_py_cpu_s - t0.driver_py_cpu_s
        layer["functions.py_worker_cpu_s"] = t1.py_worker_cpu_s - t0.py_worker_cpu_s
        layer["io.read_bytes"] = t1.read_bytes - t0.read_bytes
        layer["io.write_bytes"] = t1.write_bytes - t0.write_bytes
        layer["host.peak_rss_mb"] = t1.peak_rss_mb
        layer["host.steal_frac"] = (steal1 - steal0) / max(1, all1 - all0)
        layer["host.loadavg"] = probes.loadavg()
        layer["staging.hits"] = self.wrappers.staging.hits - p.pop("hits0")
        layer["spark.slot_util"] = layer["spark.task_run_s"] / max(1e-9, p["wall_s"] * _cores())

    # ---------------------------------------------------------- results

    def _metrics(self, setup_s: float, lat: list[float], passes: list[dict]) -> dict:
        if not lat:
            raise RuntimeError("no query completed in the timed passes")
        wall = sum(p["wall_s"] for p in passes)
        pct, tail, n = stats.tail_percentile(lat)
        heap = self.heap_mb
        e2e = {
            "setup_s": setup_s,
            "throughput_qpm": len(lat) / wall * 60.0,
            "latency_p50_s": stats.median(lat),
            "latency_tail_s": tail,
            "cpu_s_per_query": self.cpu_timed_s / len(lat),
            "live_heap_mb": heap,
        }
        steal0, all0 = self._ticks0
        steal1, all1 = probes.host_ticks()
        self.record.update({
            "env": self._env(),
            "host.steal_frac": (steal1 - steal0) / max(1, all1 - all0),
            "phases": self.phases,
            "passes": len(passes),
            "live_heap_after_passes": SETTLE_PASSES,
            "queries_timed": len(lat),
            "latency_s": self.per_q,
            "latency_tail": {"percentile": pct, "n": n, "value_s": tail},
            "failed_frac": self.failed / max(1, self.attempted),
            "failures": self.failures,
            "end_to_end": e2e,
        })
        if not self.trace:
            metrics = {k: stats.metric(v, E2E_UNITS[k]) for k, v in e2e.items()}
        else:
            layer = {k: stats.median([p["layer"][k] for p in passes]) for k in passes[0]["layer"]}
            layer.update(self.setup_layer)
            layer["staging.builds_timed"] = float(self.wrappers.staging.builds_timed)
            layer["jvm.live_heap_mb"] = heap
            for q in ALL_QUERIES:
                vals = self.per_q.get(q) or [0.0]  # 0: not part of this workload
                layer[f"q.{q}.latency_s"] = stats.median(vals)
            for k in ("setup_s", "throughput_qpm", "latency_p50_s", "cpu_s_per_query"):
                layer[f"traced.{k}"] = e2e[k]
            metrics = {k: stats.metric(layer[k], LAYER_UNITS[k]) for k in LAYER_UNITS}
            self.record["spans"] = self.spans.items
        self.record["metrics"] = metrics
        return metrics

    def _env(self) -> dict:
        spark = self.spark
        jvm = spark.sparkContext._jvm
        return {
            "cores": _cores(),
            "master": spark.sparkContext.master,
            "driver_memory": DRIVER_MEMORY,
            "max_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
            "spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "scale": fixture.SCALE,
            "rows": fixture.ROWS,
            "fixture": fixture.fingerprint(),
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "__spark_entry__.py").is_file() or not (
        root / "dataengineerchallenge_spark" / "__init__.py"
    ).is_file():
        _log(f"perfbench: {root} holds no engine checkout (no __spark_entry__.py "
             "or dataengineerchallenge_spark/); run from the repository root")
        return 2
    stats.check_names(list(E2E_UNITS) + list(LAYER_UNITS))

    state = root / ".perfbench"
    run_dir = state / f"run-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    _isolate(root, run_dir)
    sys.path.insert(0, str(root))
    run = Run(root, run_dir, state / "oracle-cache", args)
    try:
        metrics = run.run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    records = state / "records"
    records.mkdir(parents=True, exist_ok=True)
    rec_path = records / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    rec_path.write_text(json.dumps(run.record, indent=1, default=str))
    for k, m in metrics.items():
        if not k.startswith("q."):
            _log(f"{k:34s} {m['value']:14.4f} {m['unit']}")
    lt = run.record["latency_tail"]
    _log(f"latency tail: p{lt['percentile']:.1f} of n={lt['n']}; "
         f"failed_frac {run.record['failed_frac']:.4f} "
         f"({run.failed}/{run.attempted}); record {rec_path.relative_to(root)}")
    # the result line carries only the metrics BENCHMARK.json names; the
    # steal of the whole run goes here and into the record
    _log(f"host.steal_frac {run.record['host.steal_frac']:.6f}")
    for name, why in run.failures.items():
        _log(f"FAILED {name}: {why}")
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
