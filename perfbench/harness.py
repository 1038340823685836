"""Per-run state shared by the workloads: the Spark session, the work
directory, tracing, Spark counters, operation and failure counts, and
the report."""

from __future__ import annotations

import os
import shutil
import sys
import time
from contextlib import nullcontext

from perfbench import host
from perfbench.sparkstats import SparkCounters, python_worker_s
from perfbench.trace import Tracer

APP = "bigdata-lab4-perfbench"
#: Layers are the package's modules; span names start with the layer.
LAYERS = ("session", "catalog", "queries", "functions", "engine", "ml", "serving", "streaming")
#: Spark driver JVM heap. The workloads fit in it with room to spare;
#: with a larger heap its growth, and so the peak RSS, varied by ~20 %
#: from run to run.
DRIVER_MEM = "1g"


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, root: str) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".bench_out")
        self.cores = host.cores()
        self.tracer = Tracer() if trace else None
        self.spark = None
        self.counters: SparkCounters | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.notes: list[str] = []
        self.setup_samples: list[float] = []
        #: seconds of each set-up spent in the benchmark's own generators
        self.setup_gen_samples: list[float] = []
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)
        # The JVM and the Python workers inherit these at launch; every
        # scratch file stays under the work directory.
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp

    # -- session -------------------------------------------------------

    def start_session(self) -> None:
        """(Re)start the SparkSession through the package's factory. The
        first call launches the JVM; later ones reuse it."""
        from bigdata_lab4_spark import session

        if self.spark is not None:
            self.spark.stop()
        self.spark = session.get_spark(
            app_name=APP,
            extra_conf={
                "spark.local.dir": self.tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counters = SparkCounters(self.spark)

    def close(self) -> None:
        """Stop Spark and its JVM, wait for it, remove the work dir."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    # -- measurement helpers -------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def group(self, name: str):
        """Job group for one operation, only in traced runs with spans on."""
        if self.tracer is not None and self.tracer.enabled:
            return self.counters.group(name)
        return nullcontext()

    def timed_setup(self, fn) -> None:
        """Time one set-up; ``fn`` returns the seconds it spent generating
        inputs, reported as that sample's generator share."""
        t0 = time.perf_counter()
        gen_s = fn()
        self.setup_samples.append(time.perf_counter() - t0)
        self.setup_gen_samples.append(gen_s)

    def fail(self, op_count: int, messages: list[str]) -> None:
        """Record failed checks; ``op_count`` operations produced the bad
        output."""
        if messages:
            self.failed += op_count
            self.failures.extend(messages)

    # -- report --------------------------------------------------------

    def metric(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        self.e2e[name] = (float(value), unit)
        self.notes.append(f"{self.workload} {name} = {value:.6g} {unit}" + (f"  (n={n})" if n else ""))

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    def layer_spans(self) -> dict[str, dict]:
        return self.tracer.by_name() if self.tracer is not None else {}

    def finish_layers(self, groups: list[list[int]], wall_s: float) -> None:
        """Per-layer metrics common to every workload: layer call counts
        and self times from the spans, and Spark counters over the job
        ids of each measured operation."""
        spans = self.layer_spans()
        for layer in LAYERS:
            mine = [v for k, v in spans.items() if k.split(".")[0] == layer]
            self.layer(f"{layer}.calls", sum(v["calls"] for v in mine), "count")
            self.layer(f"{layer}.self_s", sum(v["self_s"] for v in mine), "s")
        self.layer("trace.spans", len(self.tracer.finished()), "count")
        totals = dict.fromkeys(("jobs", "tasks", "run_s", "cpu_s", "gc_s",
                                "shuffle_write_bytes", "input_bytes"), 0.0)
        for jobs in groups:
            for k, v in self.counters.stages(jobs).items():
                totals[k] += v
        py_s = python_worker_s(self.counters.sql_metrics([j for jobs in groups for j in jobs]))
        self.layer("spark.jobs", totals["jobs"], "count")
        self.layer("spark.tasks", totals["tasks"], "count")
        self.layer("spark.executor_run_s", totals["run_s"], "s")
        self.layer("spark.executor_cpu_s", totals["cpu_s"], "s")
        self.layer("spark.gc_s", totals["gc_s"], "s")
        self.layer("spark.shuffle_write_bytes", totals["shuffle_write_bytes"], "bytes")
        self.layer("spark.input_bytes", totals["input_bytes"], "bytes")
        self.layer("spark.python_worker_s", py_s, "s")
        self.layer("spark.core_util", totals["run_s"] / (wall_s * self.cores), "fraction")

    def print_report(self, per_layer_names, e2e_names) -> dict:
        """Print the human-readable report, then return the result object
        (the caller prints it as the last line)."""
        print(f"# workload={self.workload} seed={self.seed} seconds={self.seconds} "
              f"trace={int(self.trace)} cores={self.cores} master=local[{self.cores}]")
        if self.setup_samples:
            print(f"# setup samples (s): {[round(x, 3) for x in self.setup_samples]}; "
                  f"input generation share: "
                  f"{[round(g / x, 3) for g, x in zip(self.setup_gen_samples, self.setup_samples)]}")
        if self.trace:
            print("# traced run: its end-to-end figures include tracing; take them from --trace 0")
        for line in self.notes:
            print(line)
        if self.trace:
            for name in sorted(self.layers):
                v, u = self.layers[name]
                print(f"{self.workload} layer {name} = {v:.6g} {u}")
        print(f"{self.workload} failed_frac = {self.failed / max(1, self.attempted):.6g} "
              f"({self.failed} of {self.attempted} operations)")
        for msg in self.failures:
            print(f"# CHECK FAILED: {msg}")
        names = per_layer_names if self.trace else e2e_names
        source = self.layers if self.trace else self.e2e
        missing = [n for n in names if n not in source]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        return {
            "correct": not self.failures,
            "attempted": int(self.attempted),
            "failed": int(self.failed),
            "metrics": {n: {"value": source[n][0], "unit": source[n][1]} for n in names},
        }
