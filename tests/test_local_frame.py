"""session.local_frame: driver-built frames plan a LocalTableScan and
start no Python worker; the persisted Bloom state, whose words it
serves, stays one file; and no other package code builds a frame from
a driver list or an RDD."""

from __future__ import annotations

import ast
import glob
import os
import re
from pathlib import Path

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from haensel_ams_data_engineer_challenge_spark.session import local_frame

PACKAGE = (
    Path(__file__).resolve().parent.parent
    / "haensel_ams_data_engineer_challenge_spark"
)

_SCHEMA = StructType([
    StructField("id", LongType(), False),
    StructField("name", StringType(), True),
    StructField("score", LongType(), True),
])
_ROWS = [(1, "a", 10), (2, None, None), (3, "ü中😀", -(2 ** 62))]


def _lineage(df) -> str:
    return df._jdf.rdd().toDebugString()


def test_local_frame_starts_no_python_worker(spark):
    assert "PythonRDD" not in _lineage(
        local_frame(spark, _ROWS, "id long, name string, score long")
    )
    # the form it replaces: a list-backed frame runs through a PythonRDD
    assert "PythonRDD" in _lineage(
        spark.createDataFrame(_ROWS, "id long, name string, score long")
    )


@pytest.mark.parametrize(
    "schema", [_SCHEMA, "id long, name string, score long"],
    ids=["structtype", "ddl"],
)
@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "empty"])
def test_local_frame_round_trips(spark, schema, rows):
    df = local_frame(spark, rows, schema)
    want = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    assert df.schema == want
    assert sorted(tuple(r) for r in df.collect()) == sorted(rows)
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_persisted_state_tables_stay_one_file(spark, tmp_path):
    """The driver-built Bloom state persists as one file: the committed
    manifest carries m_bits, k and the words; no parquet table."""
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        _BloomState,
    )

    words = {i: (i * 0x9E3779B97F4A7C15) & 0x7FFFFFFFFFFFFFFF for i in range(64)}
    path = str(tmp_path / "bloom")
    state = _BloomState(path, 4096, 3)
    state.words = dict(words)
    state.commit(spark)
    # (the local filesystem client adds a hidden .crc beside it)
    (only,) = [n for n in os.listdir(path) if not n.startswith(".")]
    assert only.startswith("_manifest_v") and only.endswith(".json")
    loaded = _BloomState(path, 4096, 3)
    loaded.load(spark)
    assert loaded.words == words


#: a frame built from a driver list or an RDD: Spark plans a PythonRDD
_PYTHON_RDD_FRAME = re.compile(r"\.parallelize\(|createDataFrame\(")


def test_package_builds_driver_frames_only_through_local_frame():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        allowed: set[int] = set()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed.update(range(node.lineno, node.end_lineno + 1))
        for no, line in enumerate(src.splitlines(), 1):
            if _PYTHON_RDD_FRAME.search(line) and no not in allowed:
                offenders.append(f"{path.relative_to(PACKAGE)}:{no}: {line.strip()}")
    assert not offenders, (
        "build driver-side frames with session.local_frame; list- and "
        "RDD-backed frames start a Python worker per partition:\n"
        + "\n".join(offenders)
    )
