"""Benchmark of the cqlcopy_spark engine, driven through its public functions.

Run from the root of a checkout:

    python3 perfbench/run.py --workload copy_bulk --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each was chosen; EVIDENCE.md next to
this file has the layer map and the measured run-to-run spreads):

- ``copy_bulk``: CSV export with ``cli read`` and re-import with
  ``cli write --types`` and ``cli write --types --dynamic``.
- ``stream_lifecycle``: documents and embeddings cut into doc_id-ascending
  micro-batches and fed to the curation, minhash and vector-index state
  kernels, then a takedown, a vacuum and the reads behind them.

Inputs are generated from ``--seed`` (perfbench/datagen.py). Every output
is checked against a reference; a failed check or a raised exception
counts the op as failed. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it records the host and the versions used.

All files go to a run directory under ``.perfbench_tmp/`` in the current
directory, which is removed at the end; Spark's scratch space, the
warehouse and Python's temp dir point there too. A traced run keeps one
file there: its spans (name, start, end, parent, job group, self time and
Spark counters), one JSON object per line.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

WORKLOADS = ("copy_bulk", "stream_lifecycle")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _versions(spark) -> dict:
    import duckdb
    import pyspark

    # the same options on the command line rather than in the environment,
    # where the JVM would announce them on the first line of stderr
    env = dict(os.environ)
    options = env.pop("JAVA_TOOL_OPTIONS", "").split()
    java = subprocess.run(
        ["java", *options, "-version"], capture_output=True, text=True, check=False,
        env=env,
    ).stderr.splitlines()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpus_online": os.cpu_count(),
        "spark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "duckdb": duckdb.__version__,
        "master": spark.sparkContext.master,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    t_start = time.perf_counter()
    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    for p in (here, root):
        if p not in sys.path:
            sys.path.insert(0, p)
    try:
        import cqlcopy_spark.cli  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {root}: {e}", file=sys.stderr)
        return 2

    from context import Context

    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM started below (Spark's launcher, the Spark driver, `java
    # -version`) keeps its temp files and perf data out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ctx = None
    try:
        ctx = Context(run_dir, args.seed, args.seconds, bool(args.trace), t_start)
        workload = importlib.import_module(args.workload)
        workload.run(ctx)
        info = _versions(ctx.spark)
        ctx.stop()
        if ctx.trace:
            # job and task counters exist only once the event log is closed
            workload.layer_metrics(ctx)
            spans = os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl")
            ctx.tracer.dump(spans)
            print(f"perfbench: spans written to {spans}", file=sys.stderr)
        with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
            result = ctx.result(json.load(f))
    finally:
        if ctx is not None:
            ctx.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    info.update(workload=args.workload, seed=args.seed, trace=args.trace,
                cores_used=ctx.cores)
    print(json.dumps({"env": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
