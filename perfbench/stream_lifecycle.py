"""stream_lifecycle: the write side. Seeded documents and embeddings are
cut into doc_id-ascending micro-batches at seeded cut points and fed to
the three state kernels: ``curation_apply_batch``, ``minhash_apply_batch``
and ``vector_index_build`` / ``vector_index_append`` (the vector base
slice is the first third of the vec_ids, as in the registry). Then every
id = 3 (mod 7) is taken down in all three roots, all three are vacuumed,
and the reads behind them run: the packed curation survivors, the
canonical minhash pairs and a vector search. Each run uses fresh state
directories.

The first ``WARM_BATCHES`` batches are the warm-up: they run the same
kernels untimed, on the same state roots. The rest of the lifecycle is
one timed pass; it outlasts ``--seconds``, so a run makes one pass.

Checks: the packed survivors must equal the registry oracle of
``stream_curation_vacuum``, the pairs that of ``stream_minhash_vacuum``;
the index codes must hold each surviving vec_id exactly once, and the
search must return no deleted id and at most top-k rows per query.
"""

from __future__ import annotations

import collections
import os
import statistics
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import datagen

SF = 0.01
GEN_REPEATS = 3
BATCHES = 6
# with one warm batch, the first timed batch still ran ~20% slower than
# the ones after it
WARM_BATCHES = 2
ROOTS = ("curation", "minhash", "vector_index")


def _cuts(rng, lo: int, hi: int, parts: int) -> list[tuple[int, int]]:
    """``parts`` half-open id ranges covering [lo, hi), cut at seeded
    distinct points."""
    inner = sorted(rng.choice(np.arange(lo + 1, hi), parts - 1, replace=False).tolist())
    edges = [lo, *inner, hi]
    return list(zip(edges[:-1], edges[1:]))


def _compactions(root: str) -> set[str]:
    return {r for r, _, _ in os.walk(root) if os.path.basename(r).startswith("v=")}


def _files(root: str) -> list[str]:
    return [os.path.join(r, f) for r, _, fs in os.walk(root) for f in fs]


def run(ctx) -> None:
    from pyspark.sql import functions as F

    from cqlcopy_spark.operators import vector_index as vi
    from cqlcopy_spark.streaming import sinks

    spark = ctx.spark
    sf_dir = ctx.path("sf")
    gen = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        counts = datagen.write_fixture(sf_dir, SF, ctx.seed)
        gen.append(time.perf_counter() - t0)
    t_setup = time.perf_counter()
    state = {r: ctx.path("state", r) for r in ROOTS}
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text", "n_chars"
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    rng = np.random.default_rng([ctx.seed, 99])
    n_docs, n_vec = counts["documents"], counts["embeddings"]
    base_hi = (n_vec - 1) // 3 + 1  # vec_id <= max // 3, as in the registry
    doc_cuts = _cuts(rng, 0, n_docs, BATCHES)
    vec_cuts = [(0, base_hi), *_cuts(rng, base_hi, n_vec, BATCHES - 1)]

    def in_range(df, key, lo_hi):
        return df.filter((F.col(key) >= lo_hi[0]) & (F.col(key) < lo_hi[1]))

    facts = ctx.facts
    facts["batches"] = []  # (span, compacted, documents) of each timed batch
    timed = False
    # file-system bookkeeping inside the timed pass, for the per-layer
    # metrics: the same in traced and untraced runs, and not timed
    untimed_s = 0.0

    def call(name, fn, *args):
        """One public call, in a span of its own; a timed one is an op
        sample."""
        with ctx.tracer.span(name) as s:
            out = ctx.attempt(name, fn, *args)
        if timed:
            ctx.op_times.append(s.seconds)
        return out

    for b in range(BATCHES):
        if b == WARM_BATCHES:
            ctx.setup_done(gen, time.perf_counter() - t_setup)
            t_pass, timed = time.perf_counter(), True
        before = {r: _compactions(state[r]) for r in ROOTS}
        d, e = in_range(docs, "doc_id", doc_cuts[b]), in_range(emb, "vec_id", vec_cuts[b])
        with ctx.tracer.span("batch") as s:
            call("streaming.sinks.curation_apply_batch", sinks.curation_apply_batch,
                 d, b, state["curation"])
            call("streaming.sinks.minhash_apply_batch", sinks.minhash_apply_batch,
                 d.select("doc_id", "text"), b, state["minhash"])
            if b == 0:
                call("operators.vector_index.build", vi.vector_index_build,
                     e, state["vector_index"], 0)
            else:
                call("operators.vector_index.append", vi.vector_index_append,
                     e, b, state["vector_index"])
        compacted = any(_compactions(state[r]) - before[r] for r in ROOTS)
        if timed:
            facts["batches"].append((s, compacted, doc_cuts[b][1] - doc_cuts[b][0]))
        print(f"perfbench: batch {b} {s.seconds:.2f}s compacted={compacted}",
              file=sys.stderr, flush=True)
    t0 = time.perf_counter()
    facts["census"] = _state_census(state)
    untimed_s += time.perf_counter() - t0

    doomed = docs.select("doc_id").filter(F.col("doc_id") % 7 == 3)
    with ctx.tracer.span("maintenance.takedown"):
        call("curation_takedown_batch", sinks.curation_takedown_batch,
             doomed, BATCHES, state["curation"])
        call("minhash_takedown_batch", sinks.minhash_takedown_batch,
             doomed, BATCHES, state["minhash"])
        call("vector_index_delete", vi.vector_index_delete,
             emb.select("vec_id").filter(F.col("vec_id") % 7 == 3), BATCHES,
             state["vector_index"])
    with ctx.tracer.span("maintenance.vacuum") as vacuum:
        facts["pruned"] = [
            call("curation_vacuum", sinks.curation_vacuum, spark, state["curation"]),
            call("minhash_vacuum", sinks.minhash_vacuum, spark, state["minhash"]),
            call("vector_index_vacuum", vi.vector_index_vacuum, spark,
                 state["vector_index"]),
        ]
    t0 = time.perf_counter()
    facts["rewritten"] = _rows_written_since(state, vacuum.start)
    untimed_s += time.perf_counter() - t0
    outputs = _reads(ctx, state, emb)
    ctx.passes.append(time.perf_counter() - t_pass - untimed_s)
    _check(ctx, sf_dir, state, emb, outputs)
    ctx.put_end_to_end()


def _reads(ctx, state, emb) -> dict:
    """The three reads, each forced with a noop write; returns the frames
    for the checks."""
    from cqlcopy_spark.operators.dedup import _canonical_pairs
    from cqlcopy_spark.operators.similarity import _collect_queries
    from cqlcopy_spark.operators.text import _PACK_BUDGET, _pack_from_toks
    from cqlcopy_spark.operators.vector_index import vector_index_search
    from cqlcopy_spark.streaming.sinks import read_curation_survivors, read_minhash_pairs

    spark = ctx.spark
    reads = {
        "survivors": lambda: _pack_from_toks(
            read_curation_survivors(spark, state["curation"]), _PACK_BUDGET),
        "pairs": lambda: _canonical_pairs(read_minhash_pairs(spark, state["minhash"])),
        "search": lambda: vector_index_search(
            spark, state["vector_index"], _collect_queries(emb)),
    }
    out = {}

    modules = {"survivors": "text", "pairs": "dedup", "search": "vector_index"}

    def read_and_force(name):
        with ctx.tracer.span(f"build.{modules[name]}"):
            df = reads[name]()
        with ctx.tracer.span("exec"):
            df.write.mode("overwrite").format("noop").save()
        return df

    for name in reads:
        with ctx.tracer.span(f"read.{name}") as s:
            out[name] = ctx.attempt(f"read.{name}", read_and_force, name)
        ctx.op_times.append(s.seconds)
    return out


def _check(ctx, sf_dir, state, emb, outputs) -> None:
    from cqlcopy_spark.plans import registry
    from tests.oracle_harness import compare, run_oracle

    registry.all_queries()
    for read, op in (("survivors", "stream_curation_vacuum"),
                     ("pairs", "stream_minhash_vacuum")):
        df = outputs.get(read)
        if df is not None:
            oracle = registry._REGISTRY[op].oracle
            ctx.check(f"{read} vs {op} oracle",
                      lambda: compare(df, run_oracle(oracle, sf_dir)))
    ctx.check("vector index codes and search",
              lambda: _index_problems(ctx, state, emb, outputs.get("search")))


def _index_problems(ctx, state, emb, search) -> list[str]:
    from pyspark.sql import functions as F

    from cqlcopy_spark.operators.similarity import _TOP_K
    from cqlcopy_spark.operators.vector_index import read_index_codes

    problems = []
    codes = collections.Counter(
        r.vec_id for r in read_index_codes(ctx.spark, state["vector_index"])
        .select("vec_id").collect()
    )
    want = {r.vec_id for r in emb.select("vec_id").filter(F.col("vec_id") % 7 != 3).collect()}
    if set(codes) != want:
        problems.append(f"codes hold {len(set(codes) - want)} unexpected and miss "
                        f"{len(want - set(codes))} surviving vec_ids")
    dupes = [v for v, n in codes.items() if n != 1]
    if dupes:
        problems.append(f"{len(dupes)} vec_ids held more than once, e.g. {dupes[:3]}")
    if search is not None:
        hits = search.select("q_id", "n_id").collect()
        deleted = [r.n_id for r in hits if r.n_id % 7 == 3]
        if deleted:
            problems.append(f"search returned deleted ids {deleted[:5]}")
        per_q = collections.Counter(r.q_id for r in hits)
        over = {q: n for q, n in per_q.items() if n > _TOP_K}
        if over:
            problems.append(f"search returned more than {_TOP_K} rows for {over}")
        if not hits:
            problems.append("search returned no rows")
    return problems


def _state_census(state) -> dict:
    """Files per root and bytes per admitted document after the ingest,
    from the file system alone. The admitted documents are the rows of
    the curation root's raw ``ths/delta=<b>`` files (parquet footer
    counts): each batch's admitted rows, disjoint across batches."""
    files = {r: _files(state[r]) for r in ROOTS}
    admitted = sum(
        pq.ParquetFile(f).metadata.num_rows for f in files["curation"]
        if f.endswith(".parquet")
        and os.path.basename(os.path.dirname(os.path.dirname(f))) == "ths"
        and os.path.basename(os.path.dirname(f)).startswith("delta=")
    )
    total = sum(os.path.getsize(f) for fs in files.values() for f in fs)
    return {"admitted": admitted, "files": {r: len(fs) for r, fs in files.items()},
            "bytes": total}


def _rows_written_since(state, t0: float) -> int:
    """Rows in the parquet files the vacuum wrote (footer counts)."""
    rows = 0
    for r in ROOTS:
        for f in _files(state[r]):
            if f.endswith(".parquet") and os.path.getmtime(f) >= t0:
                rows += pq.ParquetFile(f).metadata.num_rows
    return rows


def layer_metrics(ctx) -> None:
    tr, facts = ctx.tracer, ctx.facts
    per_kernel = collections.defaultdict(list)
    batches = {"compaction": [], "plain": []}
    for s, compacted, _ in facts["batches"]:
        batches["compaction" if compacted else "plain"].append(s.seconds)
        for j, k in enumerate(tr.spans):
            if k.parent == s.idx:
                per_kernel[k.name].append((k.seconds, tr.subtree(j).get("jobs", 0)))
    for name in ("streaming.sinks.curation_apply_batch",
                 "streaming.sinks.minhash_apply_batch",
                 "operators.vector_index.append"):
        vals = per_kernel[name]
        ctx.put(f"{name}_s", statistics.median(v for v, _ in vals), "s")
        ctx.put(f"{name}_jobs", statistics.median(j for _, j in vals), "count")
    ctx.put("stream.ingest_docs_per_s",
            sum(n for _, _, n in facts["batches"])
            / sum(s.seconds for s, _, _ in facts["batches"]), "1/s")
    for kind, vals in batches.items():
        ctx.put(f"state.{kind}_batch_s", statistics.mean(vals) if vals else 0.0, "s")
    census = facts["census"]
    ctx.put("state.bytes_per_admitted_doc", census["bytes"] / max(1, census["admitted"]), "B")
    for r, n in census["files"].items():
        ctx.put(f"state.{r}_files", n, "count")
    for s in tr.spans:
        if s.name in ("maintenance.takedown", "maintenance.vacuum") or s.name.startswith("read."):
            ctx.put(f"{s.name}_s", s.seconds, "s")
    _operator_layers(ctx)
    pruned = sum(p or 0 for p in facts["pruned"])
    ctx.put("maintenance.vacuum_rows_pruned_per_row_rewritten",
            pruned / max(1, facts["rewritten"]), "ratio")
    ctx.put_common_layers()


def _operator_layers(ctx) -> None:
    """The reads as operators: plan-build time per operator module, the
    jobs the builds ran eagerly, and the execution layer's time and
    counters."""
    tr = ctx.tracer
    totals: dict[str, float] = collections.defaultdict(float)
    for i, s in enumerate(tr.spans):
        if s.name.startswith("build."):
            totals[f"operators.{s.name[len('build.'):]}.build_s"] += s.seconds
            totals["operators.build_jobs"] += tr.subtree(i).get("jobs", 0)
        elif s.name == "exec":
            totals["exec.exec_s"] += s.seconds
            c = tr.subtree(i)
            for k in ("jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes"):
                totals[f"exec.{k}"] += c.get(k, 0)
    for key, v in totals.items():
        unit = "s" if key.endswith("_s") else "B" if key.endswith("_bytes") else "count"
        ctx.put(key, v, unit)
