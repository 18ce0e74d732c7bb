"""Local replica of the driver's correctness gate: run every queries()
entry and its oracle_sql() twin on the same sf dir, compare row count,
column names, and order-insensitive values. Usage:

    python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path
import time

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from distributed_pagerank_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


# The driver's value hash is DTYPE-SENSITIVE across pandas KIND (r4:
# DuckDB windowed sum(BIGINT) returns HUGEINT, which pandas renders as
# float/object while Spark emits int64 — values identical, hash red), but
# tolerant of signed-int WIDTH (corpus_quota_select shipped Spark int32
# rank vs DuckDB BIGINT and stayed green). Map both engines' column types
# onto the pandas-kind tier and flag only cross-kind drift.
_SPARK_TIER = {
    "bigint": "int", "long": "int", "int": "int", "integer": "int",
    "smallint": "int", "tinyint": "int", "double": "f64", "float": "f32",
    "string": "str", "boolean": "bool", "date": "date",
}
_DUCK_TIER = {
    "BIGINT": "int", "HUGEINT": "i128", "INTEGER": "int", "SMALLINT": "int",
    "TINYINT": "int", "UBIGINT": "u64", "DOUBLE": "f64", "FLOAT": "f32",
    "VARCHAR": "str", "BOOLEAN": "bool", "DATE": "date",
}


def _tier(mapping, t):
    t = str(t)
    if t.lower().startswith("timestamp") or t.upper().startswith("TIMESTAMP"):
        return "ts"
    if t.lower().startswith("decimal") or t.upper().startswith("DECIMAL"):
        return "dec"
    return mapping.get(t, mapping.get(t.upper(), t))


def dtype_mismatches(scols, stypes, dcols, dtypes):
    spark_t = {c.lower(): _tier(_SPARK_TIER, t) for c, t in zip(scols, stypes)}
    duck_t = {c.lower(): _tier(_DUCK_TIER, t) for c, t in zip(dcols, dtypes)}
    return [
        (c, spark_t[c], duck_t[c])
        for c in sorted(set(spark_t) & set(duck_t))
        if spark_t[c] != duck_t[c]
    ]


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(norm_cell(r[i]) for i in idx) for r in rows
    )


def main():
    argv = [a for a in sys.argv[1:] if a != "--plain"]
    plain = "--plain" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if plain:
        # replicate the DRIVER's environment: a bare session with none of
        # get_spark's side effects (no checkpoint dir, no UTC timezone,
        # default shuffle partitions) — catches environmental failures.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("contract_plain")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    else:
        spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark raised {type(ex).__name__}: {str(ex)[:200]}")
            failures.append(name)
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(srows)} rows ({dt:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb raised {type(ex).__name__}: {str(ex)[:200]}")
            failures.append(name)
            continue
        ok = True
        if sorted(c.lower() for c in scols) != sorted(dcols):
            print(f"FAIL {name}: columns {scols} vs {dcols}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(drows)}")
            ok = False
        else:
            a = norm_rows([c.lower() for c in scols], srows)
            b = norm_rows(dcols, drows)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
                print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
                ok = False
            else:
                bad = dtype_mismatches(
                    scols, [t for _, t in sdf.dtypes],
                    rel.columns, [str(t) for t in rel.types],
                )
                if bad:
                    print(f"FAIL {name}: dtype tier mismatch {bad} "
                          "(driver hash is dtype-sensitive)")
                    ok = False
        if ok:
            print(f"ok   {name}: {len(srows)} rows match oracle ({dt:.1f}s)")
        else:
            failures.append(name)
    print("\nFAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
