"""Harmonization benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload clinical_gdc --seed 1 --seconds 30 --trace 0

One process is one closed-loop client: it sends a request only after the
previous one has finished, for ``--seconds`` seconds, against Spark at
``local[min(nproc, 4)]``. Every request's outputs are checked; a failed
check counts the operation as failed. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
metrics with ``--trace 1``).

Everything the run writes goes under ``.perfbench/`` in the checkout: its
scratch directory (removed at exit), the spans of a traced run and a
record of the run's environment, input sizes and kernel choices.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "biomedical_data_integration_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench")
SETUP_ROUNDS = 3


def cores() -> int:
    return min(len(os.sched_getaffinity(0)), 4)


def configure_environment(work: str, n: int) -> None:
    """Spark conf of the run, passed at JVM launch so every session of the
    run (the package builds them) inherits it. Scratch stays in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.master": f"local[{n}]",
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the JVM's share of peak RSS then does
        # not depend on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too: temp files in ``work``,
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    # Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def import_package(fresh: bool):
    import importlib

    if fresh:
        for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
            del sys.modules[name]
    return importlib.import_module(PACKAGE)


def cpu_ticks():
    """(all, steal) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    def __init__(self, workload_cls, seed: int, work: str, trace: bool):
        from spans import Tracer

        self.n = cores()
        self.trace = trace
        self.tracer = Tracer(active=trace)
        configure_environment(work, self.n)
        t0 = time.perf_counter()
        self.wl = workload_cls(seed, work, self.tracer)
        self.gen_s = time.perf_counter() - t0
        self.spark = None
        self.rounds_s = []
        self.warmup_s = 0.0
        self.steal_frac = 0.0

    def setup_round(self, r: int) -> None:
        """Package import, session start and GDC load. Rounds after the
        first stop the session, re-import the package and start a new
        session in the same JVM."""
        tr = self.tracer
        if self.spark is not None:
            self.spark.stop()
            tr.bind(None)
        t0 = time.perf_counter()
        with tr.span("setup", round=r):
            bdi = import_package(fresh=r > 0)
            with tr.span("session.start"):
                spark = bdi.get_spark(master=f"local[{self.n}]", shuffle_partitions=self.n)
            spark.sparkContext.setLogLevel("ERROR")
            tr.bind(spark.sparkContext)
            with tr.span("standards.load"):
                bdi.get_standard("gdc").to_wide_df(spark)
        self.rounds_s.append(time.perf_counter() - t0)
        self.wl.bind(bdi, spark)
        self.spark = spark

    def warmup(self) -> None:
        """One request on a small input, run once after the last round."""
        t0 = time.perf_counter()
        with self.tracer.span("warmup"):
            self.wl.warmup()
        self.warmup_s = time.perf_counter() - t0
        self.spark.catalog.clearCache()

    def setup_s(self) -> float:
        return statistics.median(self.rounds_s) + self.warmup_s

    def measure(self, seconds: float):
        from workloads import Request

        reqs = []
        ticks0 = cpu_ticks()
        deadline = time.perf_counter() + seconds
        i = 0
        while not reqs or time.perf_counter() < deadline:
            self.tracer.request = i
            t0 = time.perf_counter()
            try:
                req = self.wl.request(i)
            except Exception:  # a failed request is a result, not a crash
                traceback.print_exc(file=sys.stderr)
                req = Request(latency_s=time.perf_counter() - t0, ops=1, failed=1,
                              problems=["request raised"])
            reqs.append(req)
            for p in req.problems:
                print(f"check failed: request {i}: {p}", file=sys.stderr)
            self.spark.catalog.clearCache()
            i += 1
        ticks1 = cpu_ticks()
        # share of CPU time the hypervisor gave to other guests while
        # measuring: the usual cause of runs slower than their neighbours
        self.steal_frac = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
        return reqs

    def peak_rss_mb(self) -> dict:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid)}

    def environment(self) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        return {
            "cores": self.n,
            "nproc": len(os.sched_getaffinity(0)),
            "spark_conf": dict(sorted(sc.getConf().getAll())),
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
        }

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM's gateway server exits on EOF
            proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def tail(latencies) -> float:
    """p90 of the run's request latencies, interpolated between samples.
    A run holds 1-7 requests, so no percentile has ten samples beyond it;
    p90 is steadier than the maximum and still tracks the slowest
    requests."""
    if len(latencies) < 2:
        return latencies[0]
    return statistics.quantiles(latencies, n=10, method="inclusive")[-1]


def end_to_end(bench: Bench, reqs) -> dict:
    lat = [r.latency_s for r in reqs]
    attempted = sum(r.ops for r in reqs)
    failed = sum(r.failed for r in reqs)
    return {
        "setup_s": (bench.setup_s(), "s"),
        "request_p50_s": (statistics.median(lat), "s"),
        "request_tail_s": (tail(lat), "s"),
        "rows_per_s": (sum(r.rows for r in reqs) / sum(lat), "rows/s"),
        "accuracy": (sum(r.correct for r in reqs) / max(1, sum(r.judged for r in reqs)),
                     "fraction"),
        "ops_ok_frac": (1.0 - failed / attempted, "fraction"),
        "peak_rss_mb": (sum(bench.peak_rss_mb().values()), "MB"),
    }


def per_layer(bench: Bench, reqs) -> dict:
    from spans import job_stats, self_times, span_job_summary

    spans = bench.tracer.spans
    sc = bench.spark.sparkContext
    ui = sc.uiWebUrl.rsplit(":", 1)[-1]
    stats = job_stats(sc.applicationId, f"http://127.0.0.1:{ui}")
    selfs = self_times(spans)
    n = len(reqs)

    def layer(names):
        acc = {"busy_s": 0.0, "driver_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0,
               "failed_tasks": 0, "shuffle_write_bytes": 0}
        for s in spans:
            if s["name"] in names and s["request"] is not None:
                acc["busy_s"] += selfs[s["id"]]
                js = span_job_summary(s, stats)
                for k in ("driver_s", "jobs", "stages", "tasks", "failed_tasks",
                          "shuffle_write_bytes"):
                    acc[k] += js[k]
        return {k: v / n for k, v in acc.items()}

    def setup_median(name):
        vals = [s["end"] - s["start"] for s in spans if s["name"] == name]
        return statistics.median(vals) if vals else 0.0

    sm = layer({"schema_matching"})
    vm = layer({"value_matching"})
    pl = layer({"plans.merge", "plans.build", "plans.write"})
    merge, build, write = (
        layer({x})["busy_s"] for x in ("plans.merge", "plans.build", "plans.write")
    )
    schema_judged = sum(r.schema_judged for r in reqs)
    value_judged = sum(r.value_judged for r in reqs)
    input_bytes = sum(r.input_bytes for r in reqs)
    return {
        "standards.load_s": (setup_median("standards.load"), "s"),
        "session.start_s": (setup_median("session.start"), "s"),
        "schema_matching.busy_s": (sm["busy_s"], "s"),
        "schema_matching.driver_s": (sm["driver_s"], "s"),
        "schema_matching.jobs": (sm["jobs"], "count"),
        "schema_matching.tasks": (sm["tasks"], "count"),
        "schema_matching.accuracy": (
            sum(r.schema_correct for r in reqs) / schema_judged if schema_judged else 0.0,
            "fraction"),
        "value_matching.busy_s": (vm["busy_s"], "s"),
        "value_matching.driver_s": (vm["driver_s"], "s"),
        "value_matching.jobs": (vm["jobs"], "count"),
        "value_matching.stages": (vm["stages"], "count"),
        "value_matching.tasks": (vm["tasks"], "count"),
        "value_matching.failed_tasks": (vm["failed_tasks"], "count"),
        "value_matching.shuffle_write_bytes": (vm["shuffle_write_bytes"], "bytes"),
        "value_matching.coverage": (
            sum(r.matched for r in reqs) / max(1, sum(r.distinct for r in reqs)), "fraction"),
        "value_matching.accuracy": (
            sum(r.value_correct for r in reqs) / value_judged if value_judged else 0.0,
            "fraction"),
        "value_matching.kernel_local_calls": (
            sum(r.kernels.count("local") for r in reqs) / n, "count"),
        "value_matching.kernel_distributed_calls": (
            sum(r.kernels.count("distributed") for r in reqs) / n, "count"),
        "plans.merge_s": (merge, "s"),
        "plans.build_s": (build, "s"),
        "plans.write_s": (write, "s"),
        "plans.jobs": (pl["jobs"], "count"),
        "plans.tasks": (pl["tasks"], "count"),
        "plans.udf_columns": (sum(r.udf_columns for r in reqs) / n, "count"),
        "plans.broadcast_join_columns": (sum(r.broadcast_join_columns for r in reqs) / n,
                                         "count"),
        "writers.bytes_written": (sum(r.bytes_written for r in reqs) / n, "bytes"),
        "writers.bytes_per_input_byte": (
            sum(r.bytes_written for r in reqs) / input_bytes if input_bytes else 0.0,
            "ratio"),
        "tracing.overhead_s": (bench.tracer.overhead_s / n, "s"),
        "tracing.request_p50_s": (statistics.median(r.latency_s for r in reqs), "s"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Harmonization benchmark (see README.md).")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"benchmark: package {PACKAGE!r} not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from pyspark import cloudpickle

    # the user mappers travel to Python workers by value, not by import
    cloudpickle.register_pickle_by_value(workloads)
    WORKLOADS = workloads.WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"benchmark: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    bench = None
    try:
        bench = Bench(WORKLOADS[args.workload], args.seed, work, bool(args.trace))
        for r in range(SETUP_ROUNDS):
            bench.setup_round(r)
        bench.warmup()
        bench.tracer.overhead_s = 0.0
        reqs = bench.measure(args.seconds)
        metrics = per_layer(bench, reqs) if args.trace else end_to_end(bench, reqs)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "environment": bench.environment(),
            "generation_s": bench.gen_s,
            "setup_rounds_s": bench.rounds_s,
            "warmup_s": bench.warmup_s,
            "peak_rss_mb": bench.peak_rss_mb(),
            "host_cpu_steal_frac": bench.steal_frac,
            "input_sizes": bench.wl.input_sizes(),
            "requests": [
                {"latency_s": r.latency_s, "rows": r.rows, "kernels": r.kernels,
                 "ops": r.ops, "failed": r.failed,
                 "problems": r.problems}
                for r in reqs
            ],
            "metrics": metrics,
        }
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"run-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        bench.tracer.dump(os.path.join(OUT_DIR, f"spans-{tag}.json"))
    attempted = sum(r.ops for r in reqs)
    failed = sum(r.failed for r in reqs)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
