"""SparkSession factory and engine configuration.

Scale posture (SURVEY.md §7 M6): AQE handles runtime re-planning,
partition coalescing and skew-join splitting; dynamic partition
overwrite gives idempotent date-partitioned report rebuilds
(reference delete-and-replace semantics, reporting.py:36-50); UTC
session timezone keeps timestamp semantics deterministic across
engines; Arrow speeds the few pandas boundaries (grouped-map UDFs).

``spark.sql.legacy.parquet.nanosAsLong`` is required because the
driver testdata stores ``events.ts`` as parquet TIMESTAMP(NANOS),
which Spark otherwise refuses to read; ``sources.tables`` converts
the raw nanos to microsecond ``timestamp_ntz`` (exactly what DuckDB
does when reading the same file).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Confs that are runtime-settable (SQLConf) — safe to apply to an
#: externally created session (the verify driver builds its own).
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # dims up to 64 MiB broadcast: at 100 TB the fact side dwarfs every
    # dimension table; broadcasting avoids shuffling the fact table.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # AQE numbers codegen stages in the order it creates query stages,
    # which follows the order concurrent stages finish; with the number
    # in the class name, one generated body gets a new class per
    # ordering and an identical query recompiles (DESIGN.md,
    # "Generated-code reuse").  Off, identical bodies share one class.
    "spark.sql.codegen.useIdInClassName": "false",
}


#: Static confs (session-build time only — CANNOT_MODIFY_STATIC_CONFIG
#: at runtime, so these go through the builder, not ensure_engine_confs).
#: dataFrameDebugging: PySpark 4's per-DataFrame-API-call site capture
#: (error-context aid) costs ~3 extra py4j round-trips per API call on
#: the driver — measured 2x the construction-time socket traffic of
#: every large query build (text_stats: 7786 -> 3416 round-trips/call;
#: optimization guide §5: the driver should do almost no work).  The
#: cost scales with query-graph size, not data size, so turning it off
#: is a production setting, not a local tune; error messages lose only
#: the Python call-site annotation.
#: codegen.cache.maxEntries: the JVM-wide LRU cache of compiled
#: generated classes (default 100) must hold the engine's plan working
#: set, or an identical operation recompiles classes it already had and
#: they start again in the interpreter.  Distinct classes one process
#: needs, measured with an unbounded cache and useIdInClassName off (4
#: cores, sf0.1, perfbench seed 7): a full bench.py registry pass 1073
#: (1329 with stage ids in class names), one perfbench ingest_search
#: run 355, one attribution_x2 run 122.  Those two runs compiled 694
#: and 290 classes at 100 entries, and 353 and 122 at 2000.
STATIC_CONFS: dict[str, str] = {
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def default_parallelism() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or 0) or (os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


#: Runtime conf: partition width for explicit scan-layout re-spreads
#: (sources.tables._SPREAD_TABLES, the corpus spine's post-window
#: repartition).  Unset -> local default_parallelism.
RESPREAD_CONF = "spark.haenselams.respreadPartitions"


def respread_width(spark: SparkSession) -> int:
    """Width for the explicit ``repartition(n)`` layout repairs.

    These repairs exist because AQE rightly coalesces tiny shuffles to
    ~1 partition by byte count, which serializes CPU-heavy downstream
    work (trigram explodes) at local SF.  The right width is
    data-dependent on a real cluster, so it is conf-driven
    (``spark.haenselams.respreadPartitions``) rather than hardcoded to
    the local machine's CPU count; the local default keeps every core
    busy, which is the only regime where the repair matters — at real
    scale AQE never coalesces below real parallelism and the re-spread
    is one extra narrow pass at whatever width is configured.
    """
    try:
        width = int(spark.conf.get(RESPREAD_CONF, "") or 0)
    except ValueError:
        width = 0
    return width if width > 0 else default_parallelism()


def get_spark(app_name: str = "haensel-ams-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's configuration."""
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        shuffle_partitions = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in STATIC_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    # static conf: catalog tables (bucketed layouts) land here, not in cwd
    import tempfile

    builder = builder.config(
        "spark.sql.warehouse.dir",
        os.environ.get(
            "SPARK_WAREHOUSE_DIR", f"{tempfile.gettempdir()}/spark-warehouse-{os.getpid()}"
        ),
    )
    spark = builder.getOrCreate()
    return spark


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to a session we did not build.

    The correctness driver passes its own SparkSession into
    ``__spark_entry__.entry/queries``; without ``nanosAsLong`` reading
    ``events.parquet`` raises PARQUET_TYPE_ILLEGAL, so loaders call this
    defensively before every read.

    ``STATIC_CONFS`` cannot be applied here: Spark fixes them when the
    session is built, so they hold only for sessions built by
    :func:`get_spark`.  A session the caller built keeps Spark's
    defaults: the 100-entry codegen class cache, and
    ``dataFrameDebugging`` on.
    """
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf builds
            # deliberately swallow-and-continue: the wording of the
            # "cannot modify at runtime" error varies across Spark
            # builds (error-class vs legacy vs connect), so matching
            # on it would turn a tolerable static-conf refusal into a
            # startup crash; the loader that actually NEEDS the conf
            # raises its own targeted error (e.g. PARQUET_TYPE_ILLEGAL
            # names the nanosAsLong flag)
            continue
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``
    order; ``schema`` is a DDL string or a StructType).

    The rows travel as one Arrow table, so Spark plans a
    ``LocalTableScan`` and no Python worker runs.  ``createDataFrame``
    over a list or a ``parallelize`` RDD instead plans a PythonRDD,
    which starts a Python worker per partition: 2.0 s against 0.22 s
    to count 2,048 rows in a fresh JVM.  A ``LocalTableScan`` splits
    its rows into up to ``defaultParallelism`` slices; ``coalesce(1)``
    the frame before a write that must stay one file.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


#: AnalysisException conditions that mean "nothing written here yet";
#: any other read failure re-raises.
_ABSENT = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}


def try_read_parquet(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet data at ``path``, or None when the path is absent or
    holds no parquet yet.  The schema is resolved here, so an empty or
    unreadable path surfaces at this call, not at the first action."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
        df.schema
        return df
    except AnalysisException as e:
        if e.getCondition() in _ABSENT:
            return None
        raise
