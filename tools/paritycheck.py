"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column set and (order-insensitively) every value.
Exact comparison — no tolerance — because the engine's float-parity
discipline (functions/scalars.py) is supposed to make results
bit-identical.

Usage: python tools/paritycheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duckdb_memory_limit() -> str:
    """DuckDB ``memory_limit``: half of this host's physical RAM — the
    Spark JVM and its Python workers run beside the oracle and need the
    rest."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{ram // 2 // 2**20}MB"


def _canon(v):
    """Canonicalize a cell for order-insensitive comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None  # pandas NaN == SQL NULL for compare purposes
        return v
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def _rows(df_pandas) -> list[tuple]:
    cols = sorted(df_pandas.columns)
    recs = [
        tuple(_canon(v) for v in row)
        for row in df_pandas[cols].itertuples(index=False, name=None)
    ]
    recs.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return recs


def compare(name: str, spark_pd, oracle_pd) -> list[str]:
    problems = []
    sc, oc = sorted(spark_pd.columns), sorted(oracle_pd.columns)
    if sc != oc:
        problems.append(f"columns differ: spark={sc} oracle={oc}")
        return problems
    if len(spark_pd) != len(oracle_pd):
        problems.append(f"row count: spark={len(spark_pd)} oracle={len(oracle_pd)}")
        return problems
    srows, orows = _rows(spark_pd), _rows(oracle_pd)
    n_bad = 0
    for i, (a, b) in enumerate(zip(srows, orows)):
        if a != b:
            n_bad += 1
            if n_bad <= 3:
                problems.append(f"row {i}: spark={a} oracle={b}")
    if n_bad:
        problems.append(f"{n_bad}/{len(srows)} rows differ")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from haensel_ams_data_engineer_challenge_spark.session import get_spark

    spark = get_spark("paritycheck")

    def fresh_con():
        # one connection PER QUERY: a long-lived connection accumulates
        # allocator state across the 50 oracles and was observed to die
        # with "Allocation failure" on the heaviest query late in the
        # run, even though that query needs <4GB standalone; the
        # explicit limit + spill dir make each oracle self-contained
        c = duckdb.connect()
        c.execute(f"SET memory_limit='{duckdb_memory_limit()}'")
        c.execute("SET temp_directory='/tmp/paritycheck_duckdb_spill'")
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        return c

    qs, oracles = E.queries(), E.oracle_sql()
    failed, passed, rows_only = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pd = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"ROWS  {name}: {len(spark_pd)} rows (no oracle)")
            continue
        try:
            con = fresh_con()
            try:
                oracle_pd = con.execute(oracles[name]).fetchdf()
            finally:
                con.close()
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL  {name}: oracle error: {exc}")
            continue
        problems = compare(name, spark_pd, oracle_pd)
        if problems:
            failed.append(name)
            print(f"FAIL  {name}:")
            for p in problems:
                print(f"      {p}")
        else:
            passed.append(name)
            print(f"OK    {name}: {len(spark_pd)} rows")

    print(
        f"\n{len(passed)} ok, {len(rows_only)} rows-only, {len(failed)} failed "
        f"(sf_dir={sf_dir})"
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
