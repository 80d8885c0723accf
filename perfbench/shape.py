"""Print the statistics that drive the stream workload's cost, for the
generated documents and, when given, for a directory of fixture tables,
so the two can be set side by side:

    python3 perfbench/shape.py --sf 0.01 --seed 1 [--fixture-dir DIR]

Statistics: documents and embeddings per run, text length in words and
characters (p10/p50/p90), the share of documents that are a copy of
another plus the marker word ``dup``, exact duplicate pairs, documents
the curation gate admits, candidate pairs (documents sharing a word
3-gram) and near-duplicate pairs (3-gram Jaccard >= 0.5) of the minhash
path, and the rows the lifecycle's two oracles return after the
takedown. Runs DuckDB only; Spark is not started.
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb


def _stats(con) -> dict:
    from cqlcopy_spark.operators import dedup, text
    from cqlcopy_spark.plans import registry

    registry.all_queries()

    def one(sql: str):
        return con.sql(sql).fetchone()[0]

    def q(expr: str, p: float):
        return one(f"SELECT quantile_disc({expr}, {p}) FROM documents")

    words = "len(string_split(text, ' '))"
    candidates = dedup._NGRAM_ORACLE.split("SELECT d1, d2,")[0] + "SELECT count(*) FROM pairs"
    return {
        "documents": one("SELECT count(*) FROM documents"),
        "embeddings": one("SELECT count(*) FROM embeddings"),
        "words p10/p50/p90": "/".join(str(q(words, p)) for p in (0.1, 0.5, 0.9)),
        "chars p10/p50/p90": "/".join(str(q("length(text)", p)) for p in (0.1, 0.5, 0.9)),
        "dup-marked share": round(one(
            "SELECT avg(CAST(text LIKE '% dup' AS DOUBLE)) FROM documents"), 4),
        "exact dup pairs": one(
            "SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) FROM "
            "(SELECT count(*) AS n FROM documents GROUP BY text)"),
        "admitted docs": one(
            text._capstone_survivor_ctes() + " SELECT count(*) FROM survivors"),
        "candidate pairs": one(candidates),
        "near-dup pairs": one(f"SELECT count(*) FROM ({dedup._NGRAM_ORACLE})"),
        "survivor packs after takedown": one(
            f"SELECT count(*) FROM ({registry._REGISTRY['stream_curation_vacuum'].oracle})"),
        "pairs after takedown": one(
            f"SELECT count(*) FROM ({registry._REGISTRY['stream_minhash_vacuum'].oracle})"),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf", type=float, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--fixture-dir", help="directory holding documents.parquet "
                   "and embeddings.parquet")
    args = p.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    import datagen

    columns = {}
    con = duckdb.connect()
    for name, table in datagen.fixture_tables(args.sf, args.seed).items():
        con.register(name, table)
    columns[f"generated sf{args.sf} seed {args.seed}"] = _stats(con)
    if args.fixture_dir:
        con = duckdb.connect()
        for name in datagen.STREAM_TABLES:
            path = os.path.join(args.fixture_dir, f"{name}.parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        columns["fixture"] = _stats(con)
    heads = list(columns)
    print("| statistic | " + " | ".join(heads) + " |")
    print("|---" * (len(heads) + 1) + "|")
    for key in columns[heads[0]]:
        print(f"| {key} | " + " | ".join(str(columns[h][key]) for h in heads) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
