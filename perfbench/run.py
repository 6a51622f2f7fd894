#!/usr/bin/env python3
"""Benchmark of the osm_hadoop_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload planet_snapshots --seed 1 --seconds 24 --trace 0

One run starts one SparkSession at local[k] (k = min(2, nproc)), generates
its input from the seed, runs untimed warm-up iterations, then timed warm
iterations for --seconds, each starting with nothing persisted. It checks
every result against the warm-up's and, once, against an independent twin.
The last stdout line is one JSON object: correct, attempted, failed and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1). The
line before it holds the host facts and the raw samples. See NOTES.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import probes  # noqa: E402
from workloads import SHUFFLE_PARTITIONS, SPLIT_CONF, WORKLOADS, docs_file, generate_docs  # noqa: E402

MAX_CORES = 2  # task slots: the JVM's own threads and the Python workers need the rest
DRIVER_MEM = "2g"
# C1 only: the JIT reaches its plateau within the warm-up and its compiler
# threads stop competing with the timed iterations (see NOTES.md)
JIT_OPTS = "-XX:TieredStopAtLevel=1"
MIN_TIMED = 3  # timed iterations, even when --seconds runs out first
UNTRACED_ITERATIONS = 2  # a traced run's baseline for the tracing overhead
TRACED_ITERATIONS = 1
TREND_LIMIT = 0.10  # flag a fitted decline over the timed window above this share

END_TO_END = [
    ("docs_per_s", "1/s"), ("job_s", "s"), ("cpu_s", "s"), ("shuffle_write_mb", "MB"),
    ("peak_rss_mb", "MB"), ("setup_s", "s"), ("success_rate", "ratio"),
]


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def trend(walls: list[float]) -> float:
    """Least-squares decline over the window as a share of the median
    (positive = still getting faster)."""
    n = len(walls)
    if n < 2:
        return 0.0
    xm, ym = (n - 1) / 2, statistics.fmean(walls)
    slope = sum((i - xm) * (w - ym) for i, w in enumerate(walls)) / sum((i - xm) ** 2 for i in range(n))
    return -slope * (n - 1) / statistics.median(walls)


class Bench:
    def __init__(self, workload, seed: int, seconds: float, run_dir: str):
        self.wl = workload
        self.seed = seed % (1 << 31)
        self.seconds = seconds
        self.dirs = {k: os.path.join(run_dir, k)
                     for k in ("tmp", "local", "events", "docs", "work", "warehouse")}
        self.spark = None

    # -- one iteration ---------------------------------------------------
    def iterate(self, group: str, docs: str | None = None):
        """Run the chain once with nothing persisted; (result, wall_s, cpu_s)."""
        spark = self.spark
        spark.catalog.clearCache()
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        if persisted:
            raise RuntimeError(f"{persisted} persisted RDDs at the start of {group}")
        work_dir = os.path.join(self.dirs["work"], group)
        spark.sparkContext.setJobGroup(group, group)
        cpu0 = probes.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            result = self.wl.chain(spark, docs or self.dirs["docs"], work_dir)
            return result, time.perf_counter() - t0, probes.tree_cpu_s() - cpu0
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)

    # -- the run -----------------------------------------------------------
    def start(self) -> None:
        for k in ("tmp", "local", "events", "work"):
            os.makedirs(self.dirs[k])
        os.environ["TMPDIR"] = self.dirs["tmp"]
        tempfile.tempdir = None
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = self.dirs["local"]
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        # no hsperfdata files in /tmp from the spark-submit launcher JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData {JIT_OPTS}"
        self.cores = min(MAX_CORES, len(os.sched_getaffinity(0)))

        t0 = time.perf_counter()
        wl = self.wl
        if wl.corpus_seed is None:
            generate_docs(self.dirs["docs"], wl.n_docs, self.seed, None, self.cores)
        else:
            generate_docs(self.dirs["docs"], wl.n_docs, wl.corpus_seed, self.seed, self.cores)
        self.gen_s = time.perf_counter() - t0
        log(f"generated {wl.n_docs} docs (seed {self.seed}) in {self.gen_s:.1f} s")

        from osm_hadoop_spark.session import get_spark

        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": self.dirs["events"],
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
            # a fixed heap (-Xms = -Xmx): the JVM's VmHWM then does not
            # depend on when G1 chose to grow the heap
            "spark.driver.extraJavaOptions": (f"-Xms{DRIVER_MEM} -XX:-UsePerfData {JIT_OPTS} "
                                              f"-Djava.io.tmpdir={self.dirs['tmp']}"),
            **SPLIT_CONF,
            **self.wl.conf,
        }
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.wl.name}", master=f"local[{self.cores}]",
                               shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
        self.session_s = time.perf_counter() - t0
        self.session_gc_s = probes.jvm_gc_s(self.spark)
        self.spark.sparkContext.setLogLevel("ERROR")

    def warm_up(self) -> tuple:
        """A primer on one input file, then the workload's full warm-ups;
        returns the first full result, which every later one must equal.

        The cold first iteration pays codegen, class loading and Python
        worker start-up whatever the input size, but its rows run in the
        interpreter: on 1/8 of the input it costs 5-10 s less."""
        _result, wall, _cpu = self.iterate("primer", docs_file(self.dirs["docs"], 0))
        walls, results = [wall], []
        for i in range(self.wl.warmup):
            result, wall, _cpu = self.iterate(f"warmup-{i}")
            walls.append(wall)
            results.append(result)
        log(f"warm-up {[round(w, 3) for w in walls]} s")
        self.warmup_walls = walls
        self.warmups_agree = all(r == results[0] for r in results)
        return results[0]

    def timed(self, prefix: str, seconds: float, at_least: int, reference: tuple) -> list[dict]:
        """Timed iterations for `seconds`: after the first `at_least`, one
        starts only if an iteration of the median length still ends in time."""
        samples = []
        t_end = time.perf_counter() + seconds
        while len(samples) < at_least or time.perf_counter() + statistics.median(
                s["wall_s"] or 0.0 for s in samples) <= t_end:
            group = f"{prefix}-{len(samples)}"
            try:
                result, wall, cpu = self.iterate(group)
                samples.append({"group": group, "wall_s": wall, "cpu_s": cpu,
                                "ok": result == reference, "result": list(result)})
            except Exception:  # a failed iteration counts against success_rate
                log(f"{group} raised:\n{traceback.format_exc()}")
                samples.append({"group": group, "wall_s": None, "cpu_s": None, "ok": False})
        return samples

    def twin_check(self, reference: tuple) -> bool:
        self.spark.catalog.clearCache()
        self.spark.sparkContext.setJobGroup("twin", "twin")
        try:
            twin = self.wl.twin(self.spark, self.dirs["docs"], os.path.join(self.dirs["work"], "twin"))
        except Exception:
            log(f"twin raised:\n{traceback.format_exc()}")
            return False
        if twin != reference:
            log(f"twin {twin} != measured {reference}")
        return twin == reference

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until every child ended."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        left = probes.wait_for_descendants()
        if left:
            log(f"killed processes left behind: {left}")
        self.spark = None

    def run(self, traced: bool) -> tuple[dict, dict]:
        try:
            self.start()
            host = probes.host_facts(self.spark, self.dirs["local"])
            reference = self.warm_up()
            setup_s = time.perf_counter() - T_START - self.gen_s
            steal0 = probes.host_steal_s()
            if traced:
                samples = self.timed("untraced", 0, UNTRACED_ITERATIONS, reference)
                traces = self.traced(reference)
            else:
                samples = self.timed("timed", self.seconds, MIN_TIMED, reference)
            steal_s = probes.host_steal_s() - steal0
            peak_rss_mb = probes.engine_peak_rss_mb()
            t0 = time.perf_counter()
            twin_ok = self.twin_check(reference)
            twin_s = time.perf_counter() - t0
        finally:
            t0 = time.perf_counter()
            self.stop()
            stop_s = time.perf_counter() - t0
        groups = probes.read_event_log(self.dirs["events"])

        ok = [s for s in samples if s["ok"]]
        correct = twin_ok and self.warmups_agree and len(ok) == len(samples)
        attempted = len(samples)
        failed = attempted if not (twin_ok and self.warmups_agree) else attempted - len(ok)
        walls = [s["wall_s"] for s in samples if s["wall_s"] is not None]
        for s in samples:
            s["shuffle_write_mb"] = groups.get(s["group"], {}).get("shuffle_write_mb", 0.0)
        decline = trend(walls)
        if decline > TREND_LIMIT:
            log(f"timed iterations still trend downward: {decline:.1%} over the window")
        detail = {
            "workload": self.wl.name, "why": self.wl.why, "seed": self.seed,
            "input_docs": self.wl.n_docs, "corpus_seed": self.wl.corpus_seed,
            "host": host, "gen_s": self.gen_s, "session_s": self.session_s,
            "warmup_s": self.warmup_walls, "twin_s": twin_s, "stop_s": stop_s,
            "timed": samples, "steal_s": steal_s, "trend_decline": decline, "trend_flag": decline > TREND_LIMIT,
            "twin_ok": twin_ok, "warmups_agree": self.warmups_agree,
        }
        if traced:
            from tracing import format_table, iteration_layers, layer_table

            per_iter = [iteration_layers(tr, groups) for tr in traces]
            metrics = layer_table(
                per_iter, {"session.start_s": self.session_s, "session.gc_s": self.session_gc_s},
                self.traced_walls, walls)
            detail["spans"] = [tr.spans for tr in traces]
            print(format_table(metrics))
        else:
            job_s = statistics.median(walls)
            values = {
                "docs_per_s": self.wl.n_docs / job_s,
                "job_s": job_s,
                "cpu_s": statistics.median(s["cpu_s"] for s in samples if s["cpu_s"] is not None),
                "shuffle_write_mb": statistics.median(s["shuffle_write_mb"] for s in samples),
                "peak_rss_mb": peak_rss_mb,
                "setup_s": setup_s,
                "success_rate": 1.0 - failed / attempted,
            }
            metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
            detail["samples"] = len(walls)
        final = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        return detail, final

    def traced(self, reference: tuple) -> list:
        from tracing import Tracer, traced_package

        traces, self.traced_walls = [], []
        planet = self.wl.name == "planet_snapshots"
        for i in range(TRACED_ITERATIONS):
            group = f"trace-{i}"
            tr = Tracer(self.spark, f"{group}:")
            self.spark.catalog.clearCache()
            tr.set_group("iteration")
            t0 = time.perf_counter()
            with traced_package(tr, planet), tr.span("iteration"):
                result = self.wl.chain(self.spark, self.dirs["docs"],
                                       os.path.join(self.dirs["work"], group))
            self.traced_walls.append(time.perf_counter() - t0 - tr.aux_s)
            if result != reference:
                raise RuntimeError(f"traced result {result} != untraced {reference}")
            traces.append(tr)
        return traces


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "osm_hadoop_spark", "__init__.py")):
        log("no osm_hadoop_spark package here: run from the root of a checkout")
        return 2
    sys.path.insert(0, root)
    run_dir = os.path.join(root, ".perfbench_run", str(os.getpid()))
    os.makedirs(run_dir)
    try:
        detail, final = Bench(WORKLOADS[args.workload], args.seed, args.seconds, run_dir).run(
            traced=bool(args.trace))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:  # another run is using it
            pass
    print(json.dumps(detail, default=str))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
