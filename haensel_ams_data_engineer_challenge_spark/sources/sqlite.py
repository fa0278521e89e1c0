"""SQLite source/sink — the reference's native storage
(db_utils.get_db_connection:16-39, challenge_db_create.sql).

Read path: rowid-range partitioned scans. The driver reads only
PRAGMA metadata + min/max rowid; each Spark task opens the database
file read-only (stdlib sqlite3, no JDBC needed) and scans its rowid
slice — the same pattern as JDBC predicate partitioning, so a large
table parallelizes across the cluster as long as the file is on
shared storage.

Write path: INSERT OR IGNORE batches — the reference's PK-dedup upsert
(db_utils.py:201-204) executed literally. SQLite is a single-file
single-writer store, so the writer funnels through the driver by
design; it exists for drop-in compatibility, not scale (the parquet
sinks in operators/sinks.py are the scale path).
"""

from __future__ import annotations

import sqlite3
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_frame

_TYPE_MAP = {
    "TEXT": "string",
    "REAL": "double",
    "INTEGER": "bigint",
    "BLOB": "binary",
}


def _validate_table(conn: sqlite3.Connection, table: str) -> None:
    """Reject table names that are not actual tables/views in the
    database — names are interpolated into SQL (sqlite3 cannot
    parameterize identifiers), so unvalidated input would be an
    injection vector."""
    names = {
        r[0]
        for r in conn.execute(
            "SELECT name FROM sqlite_master WHERE type IN ('table', 'view')"
        )
    }
    if table not in names:
        raise ValueError(f"table {table!r} not found; available: {sorted(names)}")


def _has_rowid(conn: sqlite3.Connection, table: str) -> bool:
    """False for WITHOUT ROWID tables (their PK replaces the implicit
    rowid, so rowid-range scans would fail)."""
    try:
        conn.execute(f"SELECT rowid FROM {table} LIMIT 1").fetchall()
        return True
    except sqlite3.OperationalError:
        return False


def sqlite_schema(db_path: str, table: str) -> list[tuple[str, str]]:
    """[(column, spark_type)] from PRAGMA table_info."""
    with sqlite3.connect(f"file:{db_path}?mode=ro", uri=True) as conn:
        _validate_table(conn, table)
        info = conn.execute(f"PRAGMA table_info({table})").fetchall()
    if not info:
        raise ValueError(f"table {table!r} not found in {db_path}")
    out = []
    for _cid, name, decl_type, *_ in info:
        spark_type = _TYPE_MAP.get((decl_type or "TEXT").upper().split("(")[0], "string")
        out.append((name, spark_type))
    return out


def read_sqlite(
    spark: SparkSession,
    db_path: str,
    table: str,
    num_partitions: int = 8,
) -> DataFrame:
    """Parallel scan of a SQLite table as a DataFrame."""
    schema = sqlite_schema(db_path, table)
    ddl = ", ".join(f"{name} {t}" for name, t in schema)
    cols = [name for name, _ in schema]

    with sqlite3.connect(f"file:{db_path}?mode=ro", uri=True) as conn:
        _validate_table(conn, table)
        if not _has_rowid(conn, table):
            # WITHOUT ROWID table: no implicit rowid to slice on —
            # fall back to a single full scan (PK-range partitioning
            # would need type-aware PK bucketing; these tables are
            # small PK-lookup tables in practice)
            lo = hi = None
            rowid_ok = False
        else:
            rowid_ok = True
            row = conn.execute(
                f"SELECT min(rowid), max(rowid) FROM {table}"
            ).fetchone()
            lo, hi = row if row else (None, None)
            if lo is None and rowid_ok:
                return local_frame(spark, [], ddl)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for r_lo, r_hi in zip(pdf["lo"], pdf["hi"]):
                with sqlite3.connect(f"file:{db_path}?mode=ro", uri=True) as conn:
                    if int(r_lo) < 0:  # full-scan sentinel (no rowid)
                        out = pd.read_sql_query(
                            f"SELECT {', '.join(cols)} FROM {table}", conn
                        )
                    else:
                        out = pd.read_sql_query(
                            f"SELECT {', '.join(cols)} FROM {table} "
                            f"WHERE rowid BETWEEN ? AND ?",
                            conn,
                            params=(int(r_lo), int(r_hi)),
                        )
                yield out

    if not rowid_ok:
        ranges = [(-1, -1)]
        n = 1
    else:
        span = hi - lo + 1
        n = max(1, min(num_partitions, span))
        step = (span + n - 1) // n
        ranges = [(lo + i * step, min(hi, lo + (i + 1) * step - 1)) for i in range(n)]

    # repartitionByRange on the slice start gives exactly one contiguous
    # slice per task — hash repartition could land several slices in one
    # task (and leave others empty), silently losing scan parallelism
    ranges_df = local_frame(
        spark, ranges, "lo long, hi long"
    ).repartitionByRange(n, "lo")
    return ranges_df.mapInPandas(scan, ddl)


def write_sqlite_insert_or_ignore(
    df: DataFrame, db_path: str, table: str, batch_size: int = 10_000
) -> int:
    """S5 on native storage: INSERT OR IGNORE every row (PK dedup done
    by SQLite itself, exactly db_utils.insert_attribution_results).
    Returns the number of rows actually inserted."""
    cols = df.columns
    placeholders = ", ".join("?" for _ in cols)
    sql = f"INSERT OR IGNORE INTO {table} ({', '.join(cols)}) VALUES ({placeholders})"
    inserted = 0
    with sqlite3.connect(db_path) as conn:
        _validate_table(conn, table)
        before = conn.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        batch: list[tuple] = []
        for row in df.toLocalIterator():
            batch.append(tuple(row))
            if len(batch) >= batch_size:
                conn.executemany(sql, batch)
                batch = []
        if batch:
            conn.executemany(sql, batch)
        conn.commit()
        inserted = conn.execute(f"SELECT count(*) FROM {table}").fetchone()[0] - before
    return inserted
