"""One benchmark run: the Spark session, the tracer, op accounting and
the metrics the run reports."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from spans import Tracer


class Context:
    def __init__(self, run_dir: str, seed: int, seconds: float, trace: bool,
                 t_start: float) -> None:
        from cqlcopy_spark.session import session_builder

        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self._stopped = False
        self.passes: list[float] = []  # wall seconds of each timed pass
        self.op_times: list[float] = []  # wall seconds of each timed op
        self.facts: dict = {}  # what a workload keeps for its per-layer metrics
        self.event_log = os.path.join(run_dir, "eventlog")
        builder = (
            session_builder("perfbench", master=f"local[{self.cores}]",
                            shuffle_partitions=self.cores)
            .config("spark.driver.memory", "3g")
            .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
            .config("spark.ui.showConsoleProgress", "false")
        )
        if trace:
            os.makedirs(self.event_log)
            builder = (
                builder.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", "file://" + self.event_log)
                .config("spark.eventLog.compress", "false")
            )
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t_start
        self.tracer = Tracer(self.spark.sparkContext, trace)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def attempt(self, name: str, fn, *args):
        """Run one op, counting it; an exception marks it failed and is
        printed, and the run goes on. Returns the op's result or None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            print(f"perfbench: op {name} raised:\n{traceback.format_exc()}", flush=True)
            return None

    def check(self, name: str, find_problems) -> bool:
        """Run one output check, ``find_problems()`` returning mismatch
        descriptions; a mismatch, or an exception (an output that is not
        there), is printed and counted."""
        self.attempted += 1
        try:
            problems = find_problems()
        except Exception:
            problems = [f"the check raised:\n{traceback.format_exc()}"]
        if problems:
            self.failed += 1
            print(f"perfbench: check {name} FAILED: " + "; ".join(problems), flush=True)
        return not problems

    def setup_done(self, gen_seconds: list[float], warm_s: float) -> None:
        """Set-up time: session start (imports included) + the median of
        the repeated input generations + the warm pass."""
        self.put("setup_s", self.session_s + statistics.median(gen_seconds) + warm_s, "s")
        print(f"perfbench: setup session={self.session_s:.2f}s "
              f"gen={[round(g, 2) for g in gen_seconds]}s warm={warm_s:.2f}s",
              file=sys.stderr, flush=True)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def put_end_to_end(self) -> None:
        self.put("pass_s", statistics.median(self.passes), "s")
        self.put("op_p50_s", statistics.median(self.op_times), "s")
        self.put("op_success_share", 1 - self.failed / self.attempted, "ratio")

    def put_common_layers(self) -> None:
        """Per-layer metrics every workload reports from its traced run."""
        totals: dict = {}
        for s in self.tracer.spans:
            for k, v in s.counters.items():
                totals[k] = totals.get(k, 0) + v
        self.put("spark.jobs", totals.get("jobs", 0), "count")
        self.put("spark.failed_tasks", totals.get("failed_tasks", 0), "count")
        self.put("trace.pass_s", statistics.median(self.passes), "s")

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self._stopped:
            return
        self._stopped = True
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        if self.trace:
            self.tracer.attach_counters(self.event_log)

    def result(self, spec: dict) -> dict:
        """The result line. ``spec`` is BENCHMARK.json: with tracing off
        the metrics are its end-to-end list, with tracing on its per-layer
        list, where a layer this workload does not exercise reads 0."""
        out = {}
        for m in spec["per_layer" if self.trace else "end_to_end"]:
            name, unit = m["name"], m["unit"]
            value, got_unit = self.metrics.get(name, (0.0, unit))
            if got_unit != unit:
                raise ValueError(f"metric {name}: unit {got_unit} != {unit}")
            out[name] = {"value": value, "unit": unit}
        return {
            "correct": self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": out,
        }
