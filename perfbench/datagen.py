"""Seeded generator for the benchmark's input tables.

Writes the ``documents`` and ``embeddings`` tables of the LLM-data
operators as one parquet file each (``<dir>/<table>.parquet``), with
the schemas and the cost-driving distributions of the engine's fixture
tables (perfbench/shape.py measures both; EVIDENCE.md sets them side by
side). The same ``(sf, seed)`` always gives the same tables.

It also builds the typed COPY table (``copy_table``) that the COPY
workload exports and re-imports.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cqlcopy_spark.catalog import TABLES

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "big stream group vector filter"
).split()


def _pick(rng, choices, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(_WORDS, dtype=object)
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(vocab), int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(vocab[words[e - k:e]]) for e, k in zip(ends, lengths)]
    # near duplicates: 5% of the documents become a copy of another
    # document plus one marker word; copies of copies and identical
    # copies of one source happen as in the fixture corpus
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = ("en", "es", "zh", "de", "fr")
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": _pick(rng, langs, n, p=(0.41, 0.1475, 0.1475, 0.1475, 0.1475)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n).astype("int32")),
    })


#: The tables the stream workload reads. The engine's catalog names more
#: (TPC-H and events); the benchmark writes those as one-row placeholders,
#: because the oracle harness declares a view over every catalog table.
STREAM_TABLES = ("documents", "embeddings")
_BUILDERS = {
    "documents": lambda rng, sf: _documents(rng, max(500, round(50_000 * sf))),
    "embeddings": lambda rng, sf: _embeddings(rng, max(500, round(20_000 * sf))),
}


def fixture_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The stream tables at scale factor ``sf``. Each table draws from
    its own seeded stream, keyed by its position in the catalog."""
    return {
        name: _BUILDERS[name](np.random.default_rng([seed, TABLES.index(name)]), sf)
        for name in STREAM_TABLES
    }


def write_fixture(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the stream tables, and a placeholder for every other catalog
    table, under ``out_dir``; returns the stream tables' row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in fixture_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    for name in TABLES:
        if name not in STREAM_TABLES:
            pq.write_table(pa.table({"placeholder": [0]}),
                           os.path.join(out_dir, f"{name}.parquet"))
    return counts


COPY_COLUMNS = ("id", "qty", "price", "flag", "ts", "note")
COPY_TYPES = ("long", "int", "double", "bool", "timestamp", "string")


def copy_table(n: int, seed: int) -> pa.Table:
    """The typed COPY table: long, int, double, bool, whole-second
    timestamp, and a string column whose payloads carry ``"`` and ``,``,
    with ~2% literal ``"NULL"`` strings and ~2% SQL NULLs. The other
    non-key columns hold ~1% SQL NULLs each. The timestamp column is
    UTC-adjusted, so Spark reads it as TIMESTAMP, the type ``--types
    timestamp`` declares."""
    rng = np.random.default_rng([seed, len(TABLES)])
    pool = np.asarray(
        _WORDS + ['say "hi"', "a,b", '"q",x', 'x, "y"', "NULLS", "null"],
        dtype=object,
    )
    lens = rng.integers(1, 6, n)
    picks = rng.integers(0, len(pool), int(lens.sum()))
    ends = np.cumsum(lens)
    notes = np.asarray(
        [" ".join(pool[picks[e - k:e]]) for e, k in zip(ends, lens)], dtype=object
    )
    kind = rng.random(n)
    notes[kind < 0.02] = "NULL"
    notes[(kind >= 0.02) & (kind < 0.04)] = None

    def nulls(values, dtype):
        return pa.array(values, dtype, mask=rng.random(n) < 0.01)

    # mostly cents, with ~10% full-precision doubles to pin the
    # shortest-round-trip rendering
    price = rng.normal(0, 1e4, n)
    cents = rng.random(n) < 0.9
    price[cents] = np.round(price[cents], 2)
    base = np.datetime64("2015-01-01T00:00:00", "s").astype("int64")
    return pa.table({
        "id": pa.array(np.arange(n, dtype="int64") * 7919 + rng.integers(0, 7919, n)),
        "qty": nulls(rng.integers(-(2**31), 2**31, n).astype("int32"), pa.int32()),
        "price": nulls(price, pa.float64()),
        "flag": nulls(rng.random(n) < 0.5, pa.bool_()),
        "ts": nulls((base + rng.integers(0, 10 * 365 * 86400, n)) * 1_000_000,
                    pa.timestamp("us", tz="UTC")),
        "note": pa.array(notes, pa.string()),
    })
