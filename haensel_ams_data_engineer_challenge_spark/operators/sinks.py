"""Write-side operators (SURVEY.md §2.1 S4-S8).

The reference's write-side contract:
- DDL bootstrap + schema verification (create_db.py:4-44)          -> S4
- INSERT OR IGNORE primary-key upsert (db_utils.py:185-225)        -> S5
- DELETE + INSERT date-range rebuild (reporting.py:34-98)          -> S6
- CSV / JSON export (reporting.py:164-168, api_utils.py:215-244)   -> S7/S8

Spark has no PK enforcement or row-level DELETE on plain parquet, so:
- S5 = dropDuplicates(keys) + left_anti against the committed sink
  contents + a manifest-committed append
  (``manifest_sink.manifest_insert_if_absent``) — exactly INSERT OR
  IGNORE semantics, idempotent under re-runs (the reference's
  incremental story, main.py:332-353).  This module holds the writer
  lease every sink mutation runs under.
- S6 = dynamic partition overwrite (partitionOverwriteMode=dynamic is
  set by the session factory): writing a date-subset replaces exactly
  those date partitions, the reference's delete-and-replace.

Scale: both are metadata-bounded — the anti-join touches only the keys
column of the existing sink (column pruning), partition overwrite
rewrites only affected partitions.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..session import ensure_engine_confs, local_frame

#: the five attribution tables (challenge_db_create.sql:1-43).
ATTRIBUTION_DDL: dict[str, str] = {
    "conversions": "conv_id string, user_id string, conv_date string, conv_time string, revenue double",
    "session_costs": "session_id string, cost double",
    "session_sources": (
        "session_id string, user_id string, event_date string, event_time string, "
        "channel_name string, holder_engagement int, closer_engagement int, "
        "impression_interaction int"
    ),
    "attribution_customer_journey": "conv_id string, session_id string, ihc double",
    "channel_reporting": "channel_name string, date string, cost double, ihc double, ihc_revenue double",
}


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-aware existence probe through the Hadoop FileSystem API
    (works on HDFS/S3/ABFS exactly like the reads do — NOT os.path,
    which is always False off-box)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def create_tables(spark: SparkSession, base_path: str) -> None:
    """S4: DDL bootstrap — empty parquet datasets with declared schemas
    (CREATE TABLE IF NOT EXISTS semantics: existing data is kept)."""
    ensure_engine_confs(spark)
    for name, ddl in ATTRIBUTION_DDL.items():
        path = f"{base_path}/{name}"
        if hadoop_path_exists(spark, path):
            continue  # exists -> IF NOT EXISTS no-op
        local_frame(spark, [], ddl).write.mode("overwrite").parquet(path)


def verify_tables(spark: SparkSession, base_path: str) -> dict[str, str]:
    """S4 check (create_db.py:19-44): table -> schema DDL actually on disk;
    raises if any expected table is missing or mis-typed."""
    out = {}
    for name, ddl in ATTRIBUTION_DDL.items():
        schema = spark.read.parquet(f"{base_path}/{name}").schema
        expected = StructType.fromDDL(ddl)
        if [f.dataType for f in schema] != [f.dataType for f in expected] or [
            f.name for f in schema
        ] != [f.name for f in expected]:
            raise ValueError(f"{name}: schema {schema.simpleString()} != {expected.simpleString()}")
        out[name] = schema.simpleString()
    return out


class ConcurrentWriterError(RuntimeError):
    """A second writer holds the sink's lease — refusing loudly instead
    of racing the read->anti-join->append window."""


#: a lease older than this is presumed abandoned (crashed writer) and
#: may be taken over.  Generous: longer than any sane insert, far
#: shorter than an operator's pager response.
LEASE_TTL_MS = 15 * 60 * 1000

#: lease file BESIDE the sink dir (``{path}__lease``), NOT inside it:
#: readers and the vacuum, which list the dir, never see it, and no
#: operation on the dir can vacate it while held.
_LEASE_SUFFIX = "__lease"


def _lease_path(path: str) -> str:
    return path.rstrip("/") + _LEASE_SUFFIX


class HadoopLeaseBackend:
    """Default lease primitives over the Hadoop FileSystem API.

    ``create_exclusive`` maps to ``fs.create(path, overwrite=false)`` —
    atomic on HDFS/ABFS/local.  On plain S3 that call is BEST-EFFORT
    (no atomic create-exclusive); the round-11 escape hatch is this
    very seam: pass a backend implementing ``create_exclusive`` via the
    store's conditional put (``If-None-Match: *``, which S3 supports
    since 2024) and ``touch`` via a token-guarded re-put — every lease
    function below takes ``backend=``, and only these six primitives
    are required:

    - ``create_exclusive(path, token) -> bool`` — atomically create
      ``path`` holding ``token``; False when it already exists.
    - ``stat_mtime_ms(path) -> int | None`` — last-modified epoch ms.
    - ``read_token(path) -> str | None``.
    - ``rename(src, dst) -> bool`` — atomic, never-overwrite.
    - ``delete(path) -> None``.
    - ``touch(path) -> None`` — bump mtime (lease renewal).
    - ``now_ms() -> int`` — the clock ``stat_mtime_ms`` is compared to.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._jvm = spark.sparkContext._jvm
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, path: str):
        return self._p(path).getFileSystem(self._conf)

    def create_exclusive(self, path: str, token: str) -> bool:
        from py4j.protocol import Py4JJavaError

        p, fs = self._p(path), self._fs(path)
        try:
            out = fs.create(p, False)
            out.write(bytearray(token.encode("utf-8")))
            out.close()
            return True
        except Py4JJavaError as e:
            if "FileAlreadyExistsException" not in str(e.java_exception):
                raise
            return False

    def stat_mtime_ms(self, path: str) -> int | None:
        p, fs = self._p(path), self._fs(path)
        if not fs.exists(p):
            return None
        return int(fs.getFileStatus(p).getModificationTime())

    def read_token(self, path: str) -> str | None:
        p, fs = self._p(path), self._fs(path)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def rename(self, src: str, dst: str) -> bool:
        fs = self._fs(src)
        return bool(fs.rename(self._p(src), self._p(dst)))

    def delete(self, path: str) -> None:
        self._fs(path).delete(self._p(path), False)

    def touch(self, path: str) -> None:
        # setTimes(mtime, atime); atime=-1 leaves access time unchanged
        self._fs(path).setTimes(self._p(path), self.now_ms(), -1)

    def now_ms(self) -> int:
        return int(self._jvm.java.lang.System.currentTimeMillis())


def _lease_backend(spark: SparkSession, backend) -> HadoopLeaseBackend:
    return HadoopLeaseBackend(spark) if backend is None else backend


def acquire_writer_lease(
    spark: SparkSession,
    path: str,
    ttl_ms: int = LEASE_TTL_MS,
    backend=None,
) -> str:
    """Exclusively create ``{path}__lease`` and return its token.

    The reference got single-writer safety for free from SQLite's
    file lock + PRIMARY KEY (db_utils.py:201-204); plain parquet has
    neither, and two simultaneous inserts could both pass the
    anti-join and double-append.  The lease makes the
    single-writer assumption ENFORCED.  ``backend`` plugs alternative
    lease primitives (see :class:`HadoopLeaseBackend` for the contract
    and the S3 conditional-put story).

    Stale-lease takeover (a plain stat->delete->create sequence would
    be a TOCTOU: two racers could each observe a stale lease and each
    delete the OTHER's freshly created lease):

    1. a lease older than ``ttl_ms`` by mtime is presumed abandoned;
    2. the taker CLAIMS it with an atomic rename to a unique sibling
       (``{lease}.takeover.{token}``) — exactly one racer's rename
       succeeds, and rename preserves mtime;
    3. the claimed file is re-verified: if it turns out FRESH (another
       writer replaced the stale lease between stat and rename), it is
       renamed straight back and this writer refuses — a live writer's
       lease is never destroyed;
    4. only a verified-stale claim is deleted, then the taker goes
       through the same exclusive create as everyone else (so a third
       racer can still win — at most one writer ever holds the lease).

    Long-running writers should renew (:func:`renew_writer_lease`) or
    use :func:`hold_writer_lease`, whose heartbeat renews at TTL/3 —
    a LIVE writer then never looks stale no matter how long its job
    runs.
    """
    import uuid
    import warnings

    be = _lease_backend(spark, backend)
    lease = _lease_path(path)
    token = uuid.uuid4().hex
    for attempt in (0, 1):
        try:
            created = be.create_exclusive(lease, token)
        except Exception:
            with _HELD_LEASES_LOCK:
                _TORN_CREATES[lease] = token
            raise
        if created:
            return token
        mtime = be.stat_mtime_ms(lease)
        if mtime is None:
            # vanished between create and stat (owner released): retry
            if attempt == 0:
                continue
        elif attempt == 0 and _reclaim_own_orphan(be, lease):
            # the lease belongs to a DEAD thread of THIS process (a
            # killed foreachBatch callback that never unwound — the
            # kill-and-resume streaming shape); waiting out the TTL
            # would stall every restart for 15 minutes on a lease no
            # live writer holds.  Strictly safer than the TTL
            # takeover below: the owner is provably this process and
            # provably dead, not merely presumed-crashed.  (round 16)
            continue
        elif attempt == 0 and be.now_ms() - mtime > ttl_ms:
            claim = f"{lease}.takeover.{token}"
            if not be.rename(lease, claim):
                continue  # another taker claimed first; retry the create
            claimed_mtime = be.stat_mtime_ms(claim)
            if (
                claimed_mtime is not None
                and be.now_ms() - claimed_mtime <= ttl_ms
            ):
                # we grabbed a FRESH lease (replaced between stat and
                # rename) — hand it straight back and refuse
                if not be.rename(claim, lease):
                    be.delete(claim)
                    warnings.warn(
                        f"lease takeover race on {path}: claimed a fresh "
                        "lease and could not restore it (a third writer "
                        "re-created the lease path); the claimed lease "
                        "was dropped — its writer's release will no-op",
                        stacklevel=2,
                    )
                raise ConcurrentWriterError(
                    f"another writer holds the lease on {path} "
                    "(it renewed during this takeover attempt)"
                )
            age_s = (
                (be.now_ms() - claimed_mtime) / 1000.0
                if claimed_mtime is not None
                else float("nan")
            )
            warnings.warn(
                f"taking over stale writer lease at {path} "
                f"(age {age_s:.0f}s > ttl {ttl_ms / 1000:.0f}s — presumed "
                "crashed writer)",
                stacklevel=2,
            )
            be.delete(claim)
            continue
        raise ConcurrentWriterError(
            f"another writer holds the lease on {path} "
            f"({_lease_path(path)} exists and is fresh); concurrent "
            "insert/compaction would race the "
            "read->anti-join->append window. Retry after it "
            "finishes, or delete the lease if its writer is dead."
        )
    raise ConcurrentWriterError(f"lost the takeover race on {path}")


def renew_writer_lease(
    spark: SparkSession, path: str, token: str, backend=None
) -> bool:
    """Bump the lease's mtime so a LIVE long-running writer never
    crosses the stale threshold.  Returns False (without touching
    anything) when the lease no longer carries ``token`` — the writer
    has been taken over and must treat its lease as lost."""
    be = _lease_backend(spark, backend)
    lease = _lease_path(path)
    if be.read_token(lease) != token:
        return False
    be.touch(lease)
    return True


def release_writer_lease(
    spark: SparkSession, path: str, token: str, backend=None
) -> None:
    """Delete the lease IF it still carries ``token`` — after a
    stale-lease takeover the original (slow, presumed-dead) writer may
    wake up and must not release the new owner's lease."""
    be = _lease_backend(spark, backend)
    lease = _lease_path(path)
    held = be.read_token(lease)
    if held is None:
        return
    if held == token:
        be.delete(lease)
    else:
        import warnings

        warnings.warn(
            f"not releasing lease at {path}: it was taken over by "
            "another writer (this writer exceeded the TTL)",
            stacklevel=2,
        )


#: heartbeat period as a fraction of the TTL: three missed beats before
#: a live writer can ever look stale.
_LEASE_HEARTBEAT_FRACTION = 3.0

#: In-process lease ownership registry: lease path -> (token, owner
#: thread).  Lets a successor in the SAME process reclaim a lease
#: whose owner thread died without unwinding (a killed foreachBatch
#: callback — the kill-and-resume streaming shape) instead of waiting
#: out the 15-minute crash TTL.  Registered by hold_writer_lease,
#: removed on release.  (round 16)
_HELD_LEASES: dict[str, tuple[str, threading.Thread]] = {}
_HELD_LEASES_LOCK = threading.Lock()

#: lease path -> token of a create in this process that raised part-way.
#: Stopping a streaming query interrupts the JVM thread its foreachBatch
#: callback calls through, and an interrupt inside ``fs.create`` can
#: leave the lease file on disk before the token is written: an empty
#: lease that no writer holds and that looks fresh for the whole TTL.
_TORN_CREATES: dict[str, str] = {}


def _reclaim_own_orphan(be, lease: str) -> bool:
    """Delete ``lease`` iff it carries a token registered to a DEAD
    thread of this process, or it is what a failed create in this
    process left (empty, or holding that create's token); True when
    reclaimed."""
    import warnings

    with _HELD_LEASES_LOCK:
        torn = _TORN_CREATES.pop(lease, None)
    if torn is not None and be.read_token(lease) in ("", torn):
        warnings.warn(
            f"reclaiming writer lease at {lease}: a create of it in this "
            "process failed before it returned (interrupted mid-create)",
            stacklevel=3,
        )
        be.delete(lease)
        return True
    with _HELD_LEASES_LOCK:
        rec = _HELD_LEASES.get(lease)
    if rec is None:
        return False
    token, owner = rec
    if owner.is_alive():
        return False
    if be.read_token(lease) != token:
        # someone else's lease now (or already released) — forget ours
        with _HELD_LEASES_LOCK:
            if _HELD_LEASES.get(lease) == rec:
                del _HELD_LEASES[lease]
        return False
    warnings.warn(
        f"reclaiming writer lease at {lease}: its owner thread in this "
        "process is dead (killed mid-callback) and never released",
        stacklevel=3,
    )
    be.delete(lease)
    with _HELD_LEASES_LOCK:
        if _HELD_LEASES.get(lease) == rec:
            del _HELD_LEASES[lease]
    return True


@contextmanager
def hold_writer_lease(
    spark: SparkSession,
    path: str,
    ttl_ms: int = LEASE_TTL_MS,
    heartbeat: bool = True,
    backend=None,
):
    """Acquire the writer lease and keep it ALIVE for the duration of
    the block: a daemon thread renews the lease every TTL/3, so a
    legitimate writer running longer than the TTL is never mistaken
    for a crashed one (round 11 — previously a >15-min compaction
    looked abandoned and could be taken over mid-write).  The
    heartbeat never raises into the job; if the lease is lost to a
    takeover anyway (e.g. the driver was suspended past the TTL), the
    loss is warned and release no-ops on exit."""
    import threading
    import warnings

    token = acquire_writer_lease(spark, path, ttl_ms, backend)
    stop = threading.Event()
    owner = threading.current_thread()
    lease = _lease_path(path)
    with _HELD_LEASES_LOCK:
        _HELD_LEASES[lease] = (token, owner)

    def _beat() -> None:
        while not stop.wait(ttl_ms / (_LEASE_HEARTBEAT_FRACTION * 1000.0)):
            if not owner.is_alive():
                # round 14 (review of a kill-and-resume flake): the
                # owning thread died WITHOUT unwinding (a killed
                # foreachBatch callback) — keep renewing and the
                # orphaned lease looks fresh forever, blocking every
                # restart in this process; stop beating so the TTL
                # can lapse and a successor can take over
                return
            try:
                if not renew_writer_lease(spark, path, token, backend):
                    warnings.warn(
                        f"writer lease on {path} was taken over mid-job "
                        "(driver stalled past the TTL?); this writer's "
                        "results may race the new owner",
                        stacklevel=2,
                    )
                    return
            except Exception:
                # round-11 review fix: a TRANSIENT renewal failure (one
                # flaky FS call) must not end the heartbeat — exiting
                # here silently re-exposed the long writer to the very
                # stale-takeover race the heartbeat exists to prevent.
                # Keep beating; three consecutive failures within one
                # TTL is what it takes to actually go stale.
                continue

    t = None
    if heartbeat:
        t = threading.Thread(
            target=_beat, name=f"lease-heartbeat-{path}", daemon=True
        )
        t.start()
    try:
        yield token
    finally:
        stop.set()
        if t is not None:
            t.join(timeout=5)
        with _HELD_LEASES_LOCK:
            if _HELD_LEASES.get(lease) == (token, owner):
                del _HELD_LEASES[lease]
        release_writer_lease(spark, path, token, backend)


def overwrite_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """S6: delete-and-replace by partition — dynamic partition
    overwrite rewrites exactly the partitions present in ``df``."""
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def export_csv(
    df: DataFrame,
    path: str,
    max_single_file_rows: int = 1_000_000,
    n_rows: int | None = None,
) -> str:
    """S7: CSV export with header (reference channel_reporting.csv).

    Small reports (the reference's case — a few hundred rows) write as
    a SINGLE file via coalesce(1).  That tail is inherently
    non-scalable — one task serializes everything — so past
    ``max_single_file_rows`` the sink falls back LOUDLY (warning) to a
    partitioned CSV directory instead of silently funneling a huge
    result through one task.  Returns "single" or "partitioned".

    Pass ``n_rows`` when the caller already counted (the pipeline
    does) to avoid a second count action.
    """
    n = df.count() if n_rows is None else n_rows
    if n > max_single_file_rows:
        import warnings

        warnings.warn(
            f"export_csv: {n} rows exceeds max_single_file_rows="
            f"{max_single_file_rows}; writing partitioned CSV instead "
            f"of a single file",
            stacklevel=2,
        )
        df.write.mode("overwrite").option("header", True).csv(path)
        return "partitioned"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    return "single"


def export_json(df: DataFrame, path: str) -> None:
    """S8: JSON-lines export (training-journey dumps)."""
    df.write.mode("overwrite").json(path)


def journeys_as_api_payload(journeys_flagged: DataFrame) -> DataFrame:
    """C11: journeys grouped into the IHC API wire shape
    (journey_builder.py:168-177): one row per conversion with the
    session array as JSON."""
    record = F.struct(
        F.col("conv_id").alias("conversion_id"),
        F.col("session_id"),
        F.concat_ws(" ", "event_date", "event_time").alias("timestamp"),
        F.col("channel_name").alias("channel_label"),
        F.col("holder_engagement"),
        F.col("closer_engagement"),
        F.col("conversion"),
        F.col("impression_interaction"),
    )
    return (
        journeys_flagged.withColumn("__r", record)
        .groupBy("conv_id")
        .agg(F.sort_array(F.collect_list(F.struct(F.col("ts"), F.col("__r")))).alias("__rs"))
        .select(
            "conv_id",
            F.to_json(F.transform("__rs", lambda x: x["__r"])).alias("journey_json"),
        )
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str = "seq_id",
    token_col: str | None = None,
) -> DataFrame:
    """Trainer-ready sharded output — the last mile after
    ``pack.pack_sequences``: land the packed sequences in ``n_shards``
    balanced, DETERMINISTIC shards a data loader can map to workers.

    - shard assignment is CONTENT-ADDRESSED: ``pmod(xxhash64(key),
      n_shards)`` — identical across re-runs, partitionings and
      cluster layouts.  Spark's own ``df.repartition(n)`` round-robins
      by task and is NOT reproducible; a resumed or re-run job would
      scatter rows differently, breaking any loader that checkpoints
      by (shard, offset).
    - one ``repartition`` on the shard column puts each shard in ~one
      task, so each shard dir holds ~one parquet file (the loader-
      friendly layout); xxhash64 balance makes the shards equal-sized
      to binomial noise.
    - a MANIFEST is written beside the shards and returned:
      (shard, n_rows[, n_tokens], content_hash) where content_hash is
      an order-insensitive ``bit_xor`` of per-row xxhash64 over every
      column — cheap integrity verification for the loader, and
      bit-identical across re-runs, so a writer restart is detectable
      as "manifest unchanged".

    Layout: ``{path}/shards/shard={i}/*.parquet`` + ``{path}/manifest``.
    Empty shards (n_shards ≫ rows) simply have no dir and no manifest
    row — loaders iterate the manifest, not range(n_shards).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    cols = df.columns
    sharded = df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int")
    )
    sharded.repartition(n_shards, F.col("shard")).write.mode(
        "overwrite"
    ).partitionBy("shard").parquet(f"{path}/shards")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    if token_col is not None:
        aggs.append(F.sum(token_col).cast("long").alias("n_tokens"))
    aggs.append(F.expr("bit_xor(__h)").alias("content_hash"))
    manifest = (
        sharded.withColumn("__h", F.xxhash64(*[F.col(c) for c in cols]))
        .groupBy("shard")
        .agg(*aggs)
        .orderBy("shard")
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(f"{path}/manifest")
    return manifest
