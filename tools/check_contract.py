"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql() twin
on DuckDB over the same parquet tables, then compares row count, sorted
schema, and an order-insensitive value hash. Usage:

    python tools/check_contract.py [sf_dir] [name ...]

``tests/test_contract_oracles.py`` runs the same comparison (``compare``)
over every entry at sf0.01.
"""

from __future__ import annotations

import hashlib
import sys

import duckdb

TABLES = ["documents", "embeddings", "events"]  # every table an oracle reads


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _lines(rows, columns) -> list[str]:
    """Rows as sorted canonical lines: columns in name order, values
    formatted engine-independently."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def fmt(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            return f"{v:.9g}"
        return str(v)

    return sorted(",".join(fmt(r[i]) for i in order) for r in rows)


def value_hash(rows, columns) -> str:
    """Order-insensitive: sort columns by name, format values canonically,
    sort rows, sha256."""
    return hashlib.sha256("\n".join(_lines(rows, columns)).encode()).hexdigest()


def compare(s_rows, s_cols, d_rows, d_cols) -> list[str]:
    """The gate's check of one entry: Spark rows/columns against DuckDB's.
    Returns the problems found (empty when the two agree); a value mismatch
    also names the first differing line of each side."""
    problems = []
    if len(s_rows) != len(d_rows):
        problems.append(f"rows {len(s_rows)} != {len(d_rows)}")
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in d_cols):
        problems.append(f"schema {sorted(s_cols)} != {sorted(d_cols)}")
    if not problems and value_hash(s_rows, s_cols) != value_hash(d_rows, d_cols):
        problems.append("value hash mismatch")
        for a, b in zip(_lines(s_rows, s_cols), _lines(d_rows, d_cols)):
            if a != b:
                problems.append(f"  spark : {a}")
                problems.append(f"  duckdb: {b}")
                break
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, ".")  # the checkout root: __spark_entry__ and the package
    import __spark_entry__ as entrymod
    from dense_retriever_spark.session import get_spark

    spark = get_spark(app_name="check-contract", master="local[8]",
                      shuffle_partitions=8)
    con = connect(sf_dir)

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_rows = [tuple(r) for r in sdf.collect()]
            s_cols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(s_rows)} (no oracle, rows-only check)")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = compare(s_rows, s_cols, d_rows, d_cols)
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"ok    {name}: rows={len(s_rows)}")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES")
        return 1
    print("\nALL OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
