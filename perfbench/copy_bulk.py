"""copy_bulk: the paper's own path. A seeded typed table is exported to
CSV with ``cli read`` and re-imported with ``cli write --types``
(schema-first) and ``cli write --types --dynamic`` (Python RFC-4180
parse), pass after pass.

Checks: the dynamic import must equal the generated table exactly; the
schema-first import must equal it with the string ``'NULL'`` mapped to
SQL NULL, the documented limitation of ``read_csv`` (see the
``sinks/csv_sink.py`` docstring). Tables are compared by row count,
per-column non-null counts and an order-insensitive sum of row hashes;
a mismatch prints the differing rows.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import pyarrow.parquet as pq

import datagen

ROWS = 100_000
GEN_REPEATS = 3
WARM_PASSES = 2
COLS = list(datagen.COPY_COLUMNS)
TYPES = ",".join(datagen.COPY_TYPES)


def _digest(df):
    from pyspark.sql import functions as F

    row_hash = F.xxhash64(*COLS).cast("decimal(38,0)")
    aggs = [F.count(F.lit(1)).alias("rows"), F.sum(row_hash).alias("hash_sum")]
    aggs += [F.count(c).alias(f"nonnull_{c}") for c in COLS]
    return df.select(*COLS).agg(*aggs).first().asDict()


def _diff(expected, got) -> list[str]:
    """Mismatch descriptions (empty = equal as multisets of rows)."""
    want, have = _digest(expected), _digest(got)
    if want == have:
        return []
    probs = [f"{k}: expected {want[k]} got {have[k]}" for k in want if want[k] != have[k]]
    missing = expected.select(*COLS).exceptAll(got.select(*COLS))
    extra = got.select(*COLS).exceptAll(expected.select(*COLS))
    probs += [f"missing row {r.asDict()}" for r in missing.limit(3).collect()]
    probs += [f"unexpected row {r.asDict()}" for r in extra.limit(3).collect()]
    return probs


def _legs(ctx, src: str, tag: str) -> dict[str, tuple[str, list[str]]]:
    """(output path, cli argv) of each leg of one pass."""
    csv_dir = ctx.path(f"csv-{tag}")
    return {
        "export": (csv_dir, ["read", "copy_src", *COLS, "--path", src, "--output", csv_dir]),
        "import": (ctx.path(f"import-{tag}"), [
            "write", "copy_dst", *COLS, "--input", csv_dir, "--types", TYPES,
            "--path", ctx.path(f"import-{tag}"),
        ]),
        "import_dynamic": (ctx.path(f"dynamic-{tag}"), [
            "write", "copy_dst", *COLS, "--input", csv_dir, "--types", TYPES,
            "--dynamic", "--path", ctx.path(f"dynamic-{tag}"),
        ]),
    }


def _run_pass(ctx, src: str, tag: str) -> dict[str, float]:
    from cqlcopy_spark import cli

    times = {}
    for leg, (_, argv) in _legs(ctx, src, tag).items():
        with ctx.tracer.span(f"{tag}.cli.{leg}") as s:
            ctx.attempt(f"copy.{leg}", cli.main, argv, ctx.spark)
        times[leg] = s.seconds
        ctx.spark.catalog.clearCache()
    return times


def _check_pass(ctx, src: str, tag: str) -> None:
    from pyspark.sql import functions as F

    spark = ctx.spark
    table = spark.read.parquet(src)
    legs = _legs(ctx, src, tag)
    nulled = table.withColumn(
        "note", F.when(F.col("note") == "NULL", F.lit(None)).otherwise(F.col("note"))
    )
    ctx.check(f"copy.import[{tag}]",
              lambda: _diff(nulled, spark.read.parquet(legs["import"][0])))
    ctx.check(f"copy.import_dynamic[{tag}]",
              lambda: _diff(table, spark.read.parquet(legs["import_dynamic"][0])))


def run(ctx) -> None:
    gen = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        src = ctx.path("copy_src.parquet")
        pq.write_table(datagen.copy_table(ROWS, ctx.seed), src)
        gen.append(time.perf_counter() - t0)
    # warm-up: untimed COPY round trips of the same table, so the JIT has
    # compiled the per-row loops before the timed passes; after a single
    # warm pass the next pass still ran ~25% slower than the ones after it
    t0 = time.perf_counter()
    for i in range(WARM_PASSES):
        _run_pass(ctx, src, f"warm{i}")
    ctx.setup_done(gen, time.perf_counter() - t0)

    while sum(ctx.passes) < ctx.seconds:
        tag = f"p{len(ctx.passes)}"
        legs = _run_pass(ctx, src, tag)
        ctx.passes.append(sum(legs.values()))
        ctx.op_times.extend(legs.values())
        print(f"perfbench: pass {tag} {legs}", file=sys.stderr, flush=True)
        _check_pass(ctx, src, tag)
        if ctx.trace:
            _isolate_layers(ctx, src, tag)
    ctx.put_end_to_end()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, files in os.walk(path) for f in files if f.startswith("part-")
    )


def _isolate_layers(ctx, src: str, tag: str) -> None:
    """Traced run only: time each layer on its own, with the same input
    the CLI legs used, each forced to a noop write."""
    from cqlcopy_spark.cli import _schema_from_types
    from cqlcopy_spark.config import DEFAULT_CONFIG as cfg
    from cqlcopy_spark.progress import ProgressReporter
    from cqlcopy_spark.sinks.csv_sink import write_csv
    from cqlcopy_spark.sources.csv_source import cast_dynamic, parse_csv_dynamic, read_csv

    spark = ctx.spark
    csv_dir = ctx.path(f"csv-{tag}")
    schema = _schema_from_types(COLS, TYPES)

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    def instrumented():
        with ProgressReporter(spark.sparkContext, report=lambda _: None) as rep:
            noop(rep.instrument(read_csv(spark, csv_dir, schema, cfg)))

    layers = {
        "sinks.csv_sink.write_csv":
            lambda: write_csv(spark.read.parquet(src), ctx.path(f"sink-{tag}"), cfg),
        "sources.csv_source.read_csv": lambda: noop(read_csv(spark, csv_dir, schema, cfg)),
        "progress.instrumented_read_csv": instrumented,
        "sources.csv_source.parse_csv_dynamic": lambda: noop(
            cast_dynamic(parse_csv_dynamic(spark, csv_dir, COLS, cfg), schema, cfg)),
    }
    for name, fn in layers.items():
        with ctx.tracer.span(f"{tag}.{name}"):
            ctx.attempt(name, fn)
    spark.catalog.clearCache()


def layer_metrics(ctx) -> None:
    tr = ctx.tracer

    def med(name: str, key=None) -> float:
        """Median over the timed passes (the warm passes' spans carry
        the tags ``warm<i>``)."""
        vals = [
            (tr.subtree(i).get(key, 0) if key else s.seconds)
            for i, s in enumerate(tr.spans)
            if s.name.split(".", 1)[-1] == name and not s.name.startswith("warm")
        ]
        return statistics.median(vals) if vals else 0.0

    for leg, metric in (("export", "copy.export_rows_per_s"),
                        ("import", "copy.import_rows_per_s"),
                        ("import_dynamic", "copy.import_dynamic_rows_per_s")):
        ctx.put(metric, ROWS / med(f"cli.{leg}"), "1/s")
    ctx.put("copy.csv_bytes_per_row", _dir_bytes(ctx.path("csv-p0")) / ROWS, "B")
    ctx.put("copy.import_shuffle_write_bytes", med("cli.import", "shuffle_write_bytes"), "B")
    ctx.put("sinks.csv_sink.write_csv_s", med("sinks.csv_sink.write_csv"), "s")
    read_s = med("sources.csv_source.read_csv")
    ctx.put("sources.csv_source.read_csv_s", read_s, "s")
    ctx.put("progress.instrument_s", med("progress.instrumented_read_csv") - read_s, "s")
    ctx.put("sources.csv_source.parse_csv_dynamic_s",
            med("sources.csv_source.parse_csv_dynamic"), "s")
    ctx.put_common_layers()

