"""Seeded benchmark of the linear-quadtree engine on ``local[nproc]``.

    python3 perfbench/run.py --workload selective|bulk_join \\
        --seed N --seconds S --trace 0|1

One client runs the workload's operations in a closed loop: each operation
is planned (the public call that returns the DataFrame), executed (one
action) and checked against an answer computed with numpy, then the next
one starts. Whole rounds of the workload's operation mix run until
``--seconds`` have passed. Set-up (session start, then building the
table with ``LQTTable.build`` and caching it) runs three times, each on a
new Spark session, and its median is reported. The sessions share one
JVM, launched by the first set-up. The checks of the built table follow,
untimed. No query runs before the timed loop, so each run times the same
thing: the first queries of a session whose JVM has built three tables.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop with Spark's event log on (session conf only) and prints per-layer
metrics: every operation runs under its own job group, so the log
attributes jobs, stages, task time, Python-worker time, Arrow bytes,
shuffle, sort, aggregation, spill and memory to the call that caused
them. The line before the last is a record with the environment, the
per-operation latencies and every per-operation metric by name; the last
line is the result object.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
from collections import Counter
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3
OP_IDS = ("build", "bbox", "pip", "knn", "knn_bulk", "dj", "pip_bulk", "tiles")
#: Per-operation end-to-end metrics: the median latency of each operation.
OP_METRICS = {"bbox": "bbox_p50_s", "pip": "pip_p50_s", "knn": "knn_p50_s",
              "knn_bulk": "knn_bulk_s", "dj": "distance_join_s",
              "pip_bulk": "pip_bulk_s", "tiles": "tile_stats_s"}
MB = float(1 << 20)


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants, found through /proc."""
    tree, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        tree.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    frontier.extend(int(c) for c in f.read().split())
        except (OSError, ValueError):
            pass
    return tree


def cpu_seconds(pid: int) -> float:
    """CPU time used so far by this process, by ``pid`` and its
    descendants, and by their exited children."""
    tick = os.sysconf("SC_CLK_TCK")
    t = os.times()
    total = t.user + t.system
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15]) / tick
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of a process and all its descendants (the
    driver JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, pid: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self.done = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        rss = 0
        for p in process_tree(self.pid):
            try:
                with open(f"/proc/{p}/statm") as f:
                    rss += int(f.read().split()[1]) * self.page
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, rss)

    def run(self) -> None:
        while not self.done.is_set():
            self.sample()
            self.done.wait(self.interval)

    def stop(self) -> float:
        self.done.set()
        self.join(timeout=10)
        self.sample()
        return self.peak / MB


def quantile_tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and its
    value (percentile 0, the fastest sample, below 11 samples)."""
    s = sorted(values)
    idx = max(len(s) - 11, 0)
    return 100.0 * idx / max(len(s) - 1, 1), s[idx]


class Bench:
    def __init__(self, args, work: Path):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.master = f"local[{self.cores}]"
        t0 = time.perf_counter()
        self.wl = WORKLOADS[args.workload](args.seed, self.cores)
        self.phases = {"answers_s": time.perf_counter() - t0}
        self.spark = None
        self.rss = None
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.lat: dict[str, list[float]] = {}
        self.plan_s: dict[str, list[float]] = {}
        self.exec_s: dict[str, list[float]] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.layer: dict[str, list[float]] = {}
        self.rounds = 0
        self.tail = None
        self.mix: Counter | None = None

    # ------------------------------------------------------------- session
    def start_session(self):
        from pyspark import SparkContext

        from linear_quadtree_spark.session import get_spark

        conf = {
            "spark.ui.enabled": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # no hsperfdata file under /tmp: the run writes only in the checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "eventlog"),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}", master=self.master,
            shuffle_partitions=self.cores, extra_conf=conf,
        )
        if self.rss is None:
            self.rss = RssSampler(SparkContext._gateway.proc.pid)
            self.rss.start()

    def stop_session(self) -> None:
        """Stop the Spark session; the JVM keeps running for the next."""
        from linear_quadtree_spark.cache import release_caches

        self.wl.teardown()
        release_caches()
        self.spark.stop()
        self.spark = None

    def group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        else:
            sc.setJobGroup(name, name)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = gw.proc
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None

    # --------------------------------------------------------------- phases
    def setup(self) -> None:
        """Each rep starts a new session and builds the table on it. A JVM
        launch costs ~6 s and a cold first build ~12 s more on a 4-core
        host; three of those would not fit a run, so only the first rep
        launches the JVM (its time is in the record) and the median is a
        rep on a running JVM. The checks of the table run once, after the
        last rep, under their own job group."""
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.stop_session()
            t0 = time.perf_counter()
            self.start_session()
            self.session_s.append(time.perf_counter() - t0)
            self.group("build")
            plan_s, exec_s = self.wl.setup(self.spark)
            self.group(None)
            self.setup_s.append(time.perf_counter() - t0)
            self.plan_s.setdefault("build", []).append(plan_s)
            self.exec_s.setdefault("build", []).append(exec_s)
        if self.args.trace:
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            self.note("build.cache_mb", sum(i.memSize() + i.diskSize() for i in infos) / MB)
        t0 = time.perf_counter()
        self.group("setup")
        self.failures += self.wl.verify_setup()
        self.group(None)
        self.phases["verify_s"] = time.perf_counter() - t0

    def run_op(self, op, seq: int) -> None:
        """Plan, execute and check one operation under its own job group."""
        from linear_quadtree_spark.cache import release_caches

        self.attempted += 1
        self.group(f"{op.name}#{seq}")
        try:
            t0 = time.perf_counter()
            df = op.plan()
            t1 = time.perf_counter()
            got = op.act(df)
            t2 = time.perf_counter()
        except Exception as exc:  # a failed operation is counted, not fatal
            self.group(None)
            self.failures.append(f"{op.name}#{seq}: {type(exc).__name__}: {exc}"[:300])
            return
        self.group(None)
        if not op.check(got):
            self.failures.append(f"{op.name}#{seq}: wrong answer")
        self.lat.setdefault(op.name, []).append(t2 - t0)
        self.plan_s.setdefault(op.name, []).append(t1 - t0)
        self.exec_s.setdefault(op.name, []).append(t2 - t1)
        if "rounds" in op.stats:
            self.note(f"{op.name}.rounds", op.stats["rounds"])
        if self.args.trace:
            self.trace_op(op, got)
        release_caches()

    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def trace_op(self, op, got) -> None:
        """Untimed per-operation probes that need no Spark job."""
        if op.rect is not None:
            from pyspark.sql import functions as F

            from linear_quadtree_spark.plans.cover import ranges_to_predicate

            t0 = time.perf_counter()
            ranges = self.wl.tbl.cover(*op.rect, max_level=10)
            t1 = time.perf_counter()
            ranges_to_predicate(ranges, F.col("zs"))
            t2 = time.perf_counter()
            self.note("cover.rect_s", t1 - t0)
            self.note("cover.predicate_s", t2 - t1)
            self.note("cover.ranges", len(ranges))
            self.note("bbox.result_rows", got[0])

    def loop(self) -> float:
        seq = 0
        cpu_start = cpu_seconds(self.rss.pid)
        t_start = time.perf_counter()
        while True:
            ops = self.wl.round(self.rounds)
            self.mix = self.mix or Counter(op.name for op in ops)
            for op in ops:
                self.run_op(op, seq)
                seq += 1
            self.rounds += 1
            if time.perf_counter() - t_start >= self.args.seconds:
                self.round_cpu_s = (cpu_seconds(self.rss.pid) - cpu_start) / self.rounds
                return time.perf_counter() - t_start

    # -------------------------------------------------------------- metrics
    def op_metrics(self) -> dict[str, float]:
        """The workload's latencies by name: each operation's median, and
        ``round_s``, one pass over the operation mix with each operation at
        its median latency."""
        med = {op: median(v) for op, v in self.lat.items()}
        out = {name: med[op] for op, name in OP_METRICS.items() if op in med}
        out["round_s"] = sum(n * med[op] for op, n in self.mix.items())
        selective = [v for op in ("bbox", "pip", "knn") for v in self.lat.get(op, [])]
        if selective:
            pct, out["selective_tail_s"] = quantile_tail(selective)
            self.tail = {"percentile": pct, "samples": len(selective)}
        out["ops_failed_frac"] = len(self.failures) / max(self.attempted, 1)
        return out

    def end_to_end(self) -> dict[str, float]:
        """The bounded metrics. ``build_rows_per_s`` is the table's rows
        over the median wall time of its build in set-up (the
        ``LQTTable.build`` call and the counts that materialize and cache
        it). ``round_cpu_s`` is the CPU time that one pass over the
        workload's operation mix costs the driver, the JVM with its
        executors and the Python workers: the latencies are first runs of
        Py4J- and scheduling-bound queries and swing with host contention
        (over ten seeded runs on a 4-core VM their quartiles spread by up
        to a third of the median), while the CPU they cost does not."""
        build_s = [p + e for p, e in zip(self.plan_s["build"], self.exec_s["build"])]
        return {
            "setup_s": median(self.setup_s),
            "build_rows_per_s": self.wl.rows / median(build_s),
            "round_cpu_s": self.round_cpu_s,
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self, round_s: float) -> dict[str, float]:
        """Per-layer counters of the traced run; ``trace.round_s`` and
        ``trace.round_cpu_s`` against the untraced run's give the tracing
        overhead."""
        from perfbench.eventlog import app_log_path, read_events, summarize

        groups = summarize(read_events(app_log_path(str(self.work / "eventlog"), self.app_id)))
        by_op: dict[str, list] = {op: [] for op in OP_IDS}
        for key, g in groups.items():
            if key is not None:
                by_op.setdefault(key.split("#")[0], []).append(g)
        out: dict[str, float] = {}
        total_run = total_cpu = 0.0
        for op in OP_IDS:
            gs, n = by_op[op], max(len(self.lat.get(op, [])), 1)
            sql = lambda name: sum(g.sql.get(name, 0) for g in gs)  # noqa: E731
            run_s = sum(g.run_ms for g in gs) / 1e3
            cpu_s = sum(g.cpu_ns for g in gs) / 1e9
            total_run, total_cpu = total_run + run_s, total_cpu + cpu_s
            out.update({
                f"{op}.plan_s": median(self.plan_s.get(op, [0.0])),
                f"{op}.exec_s": median(self.exec_s.get(op, [0.0])),
                f"{op}.jobs": sum(g.jobs for g in gs) / n,
                f"{op}.stages": sum(g.stages for g in gs) / n,
                f"{op}.run_s": run_s / n,
                f"{op}.cpu_s": cpu_s / n,
                f"{op}.gc_s": sum(g.gc_ms for g in gs) / 1e3 / n,
                f"{op}.shuffle_write_mb": sum(g.shuffle_write_bytes for g in gs) / MB / n,
                f"{op}.sort_s": sql("sort time") / 1e3 / n,
                f"{op}.agg_s": sql("time in aggregation build") / 1e3 / n,
                f"{op}.spill_mb": sql("spill size") / MB / n,
                f"{op}.peak_mem_mb": max((g.peak_exec_mem_bytes for g in gs), default=0) / MB,
            })
        # the encode UDF runs only in the table build
        py = lambda name: sum(g.sql.get(name, 0) for g in by_op["build"])  # noqa: E731
        layer = {k: v for k, v in self.layer.items()}
        rows = sum(layer.get("bbox.result_rows", []))
        out.update({
            "session.start_s": median(self.session_s),
            "encode.kernel_ns_per_row": self.kernel_ns_per_row(),
            "encode.py_start_s": py("time to start Python workers") / 1e3,
            "encode.py_init_s": py("time to initialize Python workers") / 1e3,
            "encode.py_run_s": py("time to run Python workers") / 1e3,
            "encode.bytes_to_py_mb": py("data sent to Python workers") / MB,
            "encode.bytes_from_py_mb": py("data returned from Python workers") / MB,
            "build.task_skew": median([g.python_stage_skew() for g in by_op["build"]] or [0.0]),
            "build.cache_mb": median(layer.get("build.cache_mb", [0.0])),
            "cover.rect_s": median(layer.get("cover.rect_s", [0.0])),
            "cover.predicate_s": median(layer.get("cover.predicate_s", [0.0])),
            "cover.ranges": sum(layer.get("cover.ranges", [0])) / max(len(layer.get("cover.ranges", [])), 1),
            "bbox.rows_examined_per_result": (
                sum(g.scan_rows for g in by_op["bbox"]) / rows if rows else 0.0
            ),
            "knn.rounds": median(layer.get("knn.rounds", [0])),
            "knn_bulk.rounds": median(layer.get("knn_bulk.rounds", [0])),
            "exec.cpu_ratio": total_cpu / total_run if total_run else 0.0,
            "trace.round_s": round_s,
            "trace.round_cpu_s": self.round_cpu_s,
            "trace.unattributed_jobs": groups[None].jobs if None in groups else 0,
        })
        return out

    def kernel_ns_per_row(self) -> float:
        """``zorder_encode_np`` called directly on one seeded 65,536-row
        batch: median of five calls."""
        import numpy as np

        from linear_quadtree_spark import DEFAULT_BOUNDS
        from linear_quadtree_spark.functions.encode import zorder_encode_np

        rng = np.random.default_rng(self.args.seed)
        x = rng.uniform(1000.0, 1100.0, 65_536).astype(np.float32)
        y = rng.uniform(1000.0, 1100.0, 65_536).astype(np.float32)
        times = []
        for _ in range(5):
            t0 = time.perf_counter_ns()
            zorder_encode_np(x, y, DEFAULT_BOUNDS)
            times.append(time.perf_counter_ns() - t0)
        return median(times) / 65_536

    def run(self) -> dict:
        self.setup()
        measured = self.loop()
        self.app_id = self.spark.sparkContext.applicationId
        t0 = time.perf_counter()
        self.shutdown()
        self.phases["shutdown_s"] = time.perf_counter() - t0
        self.peak_rss_mb = self.rss.stop()
        e2e, named = self.end_to_end(), self.op_metrics()
        metrics = self.per_layer(named["round_s"]) if self.args.trace else e2e
        import numpy
        import pyarrow
        import pyspark

        record = {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "nproc": self.cores, "master": self.master,
            "rows": self.wl.rows, "rounds": self.rounds, "measured_s": measured,
            "versions": {"pyspark": pyspark.__version__, "numpy": numpy.__version__,
                         "pyarrow": pyarrow.__version__},
            "phases": self.phases, "setup_s_reps": self.setup_s,
            "session_s_reps": self.session_s,
            "ops": {op: {"n": len(v), "p50_s": median(v), "min_s": min(v)}
                    for op, v in self.lat.items()},
            "metrics": {k: {"value": v, "unit": unit(k)}
                        for k, v in {**e2e, **named}.items()},
            "selective_tail": self.tail, "failures": self.failures,
        }
        print(json.dumps({"record": record}))
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
        }


def unit(name: str) -> str:
    for suffix, u in (("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"), ("_ns_per_row", "ns")):
        if name.endswith(suffix):
            return u
    return "count" if name.endswith(("jobs", "stages", "rounds", "ranges")) else "1"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("selective", "bulk_join"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not (ROOT / "linear_quadtree_spark" / "__init__.py").is_file():
        print(f"linear_quadtree_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for sub in ("local", "tmp", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # Python workers do not inherit the driver's sys.path: hand them the
    # checkout through the environment the JVM (and so every worker) sees.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    sys.path.insert(0, str(ROOT))
    bench = None
    try:
        bench = Bench(args, work)
        result = bench.run()
    finally:
        if bench is not None:  # a no-op after a run that stopped the JVM
            try:
                bench.shutdown()
            except Exception:
                pass
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
