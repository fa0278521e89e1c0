"""Manifest-committed parquet sink: the one write protocol of every
keyed sink (the attribution sink, the admitted stores of the ingest
streams, the media vectors side-store).

The reference commits each run's rows with one INSERT OR IGNORE into a
SQLite table (db_utils.py:185-225); SQLite's single-file atomicity is
what this module rebuilds on a distributed file system, in the
mini-Delta shape: data part files accumulate in the sink directory
under unique names, and a versioned MANIFEST file — the only thing a
reader resolves — lists exactly the committed files.  Every state
change is ONE atomic manifest write:

- ``{path}/part-*.parquet`` — data files.  Spark's commit protocol
  already generates collision-free names; files NOT listed in a
  manifest are invisible to readers (uncommitted or superseded).
- ``{path}/_manifest_v{N}.json`` — version-numbered manifests; readers
  resolve the highest N.  Underscore-prefixed, so Spark's own listing
  skips them.
- commit = write ``_manifest_v{N+1}`` beside the data via a unique tmp
  name + one atomic rename.  Readers observe either vN or vN+1, never
  an absent sink and never a partial file set.
- compaction rewrites the rows into fresh part files, commits a
  manifest listing ONLY those, and leaves the old files on disk —
  a reader that resolved vN mid-compaction still reads every vN file.
  Superseded files are removed by :func:`manifest_vacuum` only once
  they are referenced by NEITHER the latest NOR the previous manifest
  (one-generation retention), which runs under the writer lease at the
  start of every mutating operation.

The supported read path is :func:`read_manifest_sink`.  A plain
``spark.read.parquet(path)`` lists every data file in the directory,
so it double-counts after a compaction (superseded files stay for a
generation or the retention floor) and after a crash between the file
moves and the commit (moved files that were never committed).  Plain
readers of a compacted sink are unsupported.

One-generation retention has a hazard for LONG-RUNNING readers: a
reader that resolved vN keeps a complete file set across ONE
concurrent mutation, but two quick mutations (insert then compact)
age vN out and its superseded files become vacuum-eligible mid-scan.
Deployments with slow readers pass ``min_retention_minutes`` (threaded
through every mutating op): vacuum then also keeps every manifest —
and all files it references — younger than the floor, so a reader is
safe for at least that long after resolving.  The CLI mutation paths
(pipeline/ingest ``--compact-sink``, the minhash-index compaction)
default to ``DEFAULT_RETENTION_MINUTES``.  The trade is DISK, bounded
and brief — superseded generations persist up to the floor, so worst
case is (mutations within the floor) x (sink size);
``--retention-minutes 0`` restores pure one-generation retention.

Appended files are recorded EXPLICITLY, never inferred: each insert
writes its part files to a private staging directory and moves exactly
those into the sink — a stray file dropped into the sink dir by a
process bypassing the lease is never silently adopted as committed
content (it is vacuumed as an orphan).

A LEGACY directory (data files, no manifest: a sink written before
this protocol, or the empty tables of ``sinks.create_tables``) is read
as its plain file listing and adopted in place by the first mutating
operation, whose commit writes v1 listing those files.

Crash matrix (all under the heartbeat writer lease,
:func:`.sinks.hold_writer_lease`, so no second writer interleaves;
readers take no lease):

- die after data append, before manifest commit: readers keep vN; the
  orphan files are vacuumed by the next mutating run.
- die mid-manifest-write: the tmp file is ignored by version
  resolution and vacuumed later.
- die after commit: done — the commit IS the rename.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .sinks import ConcurrentWriterError, hold_writer_lease

_MANIFEST_RE = re.compile(r"^_manifest_v(\d{12})\.json$")

#: the CLI mutation paths' retention floor: long enough for any sane
#: reader scan, short enough that superseded generations never pile up
#: (module docstring on the disk trade).
DEFAULT_RETENTION_MINUTES = 30.0


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())


def _jpath(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path)


def _list_names(spark: SparkSession, path: str) -> list[str]:
    """Basenames in the sink dir ([] when the dir does not exist)."""
    jvm, fs = _fs(spark, path)
    p = _jpath(jvm, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def _data_files(names: list[str]) -> set[str]:
    return {
        n
        for n in names
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    }


def _manifest_versions(names: list[str]) -> list[int]:
    out = []
    for n in names:
        m = _MANIFEST_RE.match(n)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _manifest_name(version: int) -> str:
    return f"_manifest_v{version:012d}.json"


def _read_manifest(spark: SparkSession, path: str, version: int) -> dict:
    jvm, fs = _fs(spark, path)
    p = _jpath(jvm, f"{path}/{_manifest_name(version)}")
    stream = fs.open(p)
    try:
        raw = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(raw)


def _commit_json(spark: SparkSession, path: str, version: int, body: dict) -> None:
    """Write a JSON manifest body under a unique tmp name, then ONE
    atomic rename to its final versioned name — the commit point.  The
    rename target never pre-exists (versions are allocated under the
    writer lease), so never-overwrite rename semantics suffice
    everywhere.  Shared by the sink manifest and the multi-table
    artifact manifest (artifact_manifest.py)."""
    import uuid

    jvm, fs = _fs(spark, path)
    raw = json.dumps(body, sort_keys=True)
    tmp = f"{path}/.manifest_tmp_{uuid.uuid4().hex}"
    out = fs.create(_jpath(jvm, tmp), False)
    out.write(bytearray(raw.encode("utf-8")))
    out.close()
    final = f"{path}/{_manifest_name(version)}"
    if not fs.rename(_jpath(jvm, tmp), _jpath(jvm, final)):
        fs.delete(_jpath(jvm, tmp), False)
        raise IOError(
            f"manifest commit failed: could not rename to {final} "
            "(a manifest with this version already exists — was the "
            "writer lease bypassed?)"
        )


def _commit_manifest(
    spark: SparkSession, path: str, version: int, files: list[str], schema
) -> None:
    _commit_json(
        spark,
        path,
        version,
        {
            "version": version,
            "files": sorted(files),
            "n_files": len(files),
            "schema": schema.jsonValue(),
        },
    )


def _snapshot(
    spark: SparkSession, path: str
) -> tuple[list[str], int, dict | None]:
    """(names, latest version, latest manifest) from ONE listing of the
    sink dir; version 0 and None when it has no manifest."""
    names = _list_names(spark, path)
    versions = _manifest_versions(names)
    if not versions:
        return names, 0, None
    return names, versions[-1], _read_manifest(spark, path, versions[-1])


def _resolve_latest(
    spark: SparkSession, path: str
) -> tuple[int, dict] | None:
    """(version, manifest) of the highest committed manifest, or None
    when the sink has never been manifest-committed."""
    _, version, man = _snapshot(spark, path)
    return None if man is None else (version, man)


def _adopt_or_latest(
    snap: tuple[list[str], int, dict | None]
) -> tuple[int, list[str], StructType | None]:
    """(latest_version, committed_files, schema) of a :func:`_snapshot`.
    A LEGACY sink (data files but no manifest) is treated as an
    implicit version 0 whose every data file is committed; the caller's
    next commit writes v1 including them.  A missing or data-less path
    is version 0 with no files."""
    names, version, man = snap
    if man is None:
        return 0, sorted(_data_files(names)), None
    return version, list(man["files"]), StructType.fromJson(man["schema"])


def _read_files(
    spark: SparkSession, path: str, files: list[str], schema: StructType | None
) -> DataFrame:
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*[f"{path}/{name}" for name in files])


def read_manifest_sink(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame | None:
    """The read path of every keyed sink: EXACTLY the files of the
    latest manifest, or, for a legacy sink with no manifest, its plain
    data-file listing (the set its adoption will commit).  Read with
    ``schema`` when given, else with the manifest's recorded schema; an
    empty committed file list reads as an empty DataFrame.  Returns
    None when the path holds no data.  Readers take no lease:
    resolution is one atomic listing, and superseded files survive one
    further generation (see module docstring), so a resolved snapshot
    stays readable across a concurrent compaction."""
    version, files, committed_schema = _adopt_or_latest(_snapshot(spark, path))
    if version == 0 and not files:
        return None
    schema = schema or committed_schema
    if not files:
        from ..session import local_frame

        return local_frame(spark, [], schema)
    return _read_files(spark, path, files, schema)


def manifest_vacuum(
    spark: SparkSession, path: str, min_retention_minutes: float = 0.0
) -> int:
    """Delete data files referenced by NEITHER the latest NOR the
    previous manifest (crash orphans + files superseded two commits
    ago), stale manifest tmp files, and manifests older than the
    previous.  Returns the number of files deleted.  MUST run under
    the writer lease — mutating operations call it on entry; standalone
    callers get their own lease via :func:`manifest_maintain`.

    ``min_retention_minutes`` > 0 adds a TIME floor for long-running
    readers (module docstring: the two-quick-commits hazard): any
    manifest whose file modification time is within the floor is kept
    along with every file it references, regardless of how many
    generations have superseded it."""
    return _vacuum(spark, path, _snapshot(spark, path), min_retention_minutes)


def _vacuum(
    spark: SparkSession,
    path: str,
    snap: tuple[list[str], int, dict | None],
    min_retention_minutes: float,
) -> int:
    """:func:`manifest_vacuum` over a :func:`_snapshot` the caller just
    took under its lease: the mutation's own listing and latest
    manifest, not a second round trip."""
    names, latest, latest_man = snap
    versions = _manifest_versions(names)
    if not versions:
        return 0
    keep_versions = set(versions[-2:])
    jvm, fs = _fs(spark, path)
    if min_retention_minutes > 0:
        import time

        floor_ms = (time.time() - min_retention_minutes * 60.0) * 1000.0
        for v in versions[:-2]:
            st = fs.getFileStatus(_jpath(jvm, f"{path}/{_manifest_name(v)}"))
            if st.getModificationTime() >= floor_ms:
                keep_versions.add(v)
    referenced: set[str] = set()
    for v in keep_versions:
        man = latest_man if v == latest else _read_manifest(spark, path, v)
        referenced.update(man["files"])
    deleted = 0
    for n in names:
        doomed = False
        if n in _data_files([n]) and n not in referenced:
            doomed = True
        elif n.startswith(".manifest_tmp_"):
            doomed = True
        else:
            m = _MANIFEST_RE.match(n)
            if m and int(m.group(1)) not in keep_versions:
                doomed = True
        if doomed:
            fs.delete(_jpath(jvm, f"{path}/{n}"), False)
            deleted += 1
    return deleted


def manifest_maintain(
    spark: SparkSession, path: str, min_retention_minutes: float = 0.0
) -> int:
    """Standalone vacuum under its own writer lease."""
    with hold_writer_lease(spark, path):
        return manifest_vacuum(spark, path, min_retention_minutes)


def _move_staged_files(spark: SparkSession, stage: str, path: str) -> list[str]:
    """Move every data file from the private staging dir into the sink
    (per-file rename, same filesystem) and return their names — the
    EXPLICIT record of what this job wrote.  All moves happen before
    any manifest commit, so a failure here is pre-commit: nothing is
    visible, the staging dir is deleted, and the caller dies clean."""
    jvm, fs = _fs(spark, path)
    staged = sorted(_data_files(_list_names(spark, stage)))
    for name in staged:
        if not fs.rename(
            _jpath(jvm, f"{stage}/{name}"), _jpath(jvm, f"{path}/{name}")
        ):
            fs.delete(_jpath(jvm, stage), True)
            raise IOError(
                f"manifest commit: failed to move staged file {name} "
                f"into {path}"
            )
    fs.delete(_jpath(jvm, stage), True)
    return staged


def manifest_insert_if_absent(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    min_retention_minutes: float = 0.0,
    lease_wait_ms: int = 0,
) -> int:
    """INSERT OR IGNORE (the reference's db_utils.py:185-225): append
    the rows of ``df`` whose key is not already committed, and return
    how many were appended.  Duplicate keys within ``df`` keep one
    row.  The new part files become visible only at the single atomic
    manifest rename.

    - Rows with a NULL in any key column are REJECTED: the key models
      the reference's PRIMARY KEY (challenge_db_create.sql:29-34), and
      a NULL key never matches a left_anti condition, so keeping such
      rows would re-append them on every run.
    - The appended count comes from an ``Observation`` on the single
      write action, so the plan (scan + anti-join included) runs once.
    - A run that appends ZERO rows to a committed sink commits nothing:
      its staging directory is deleted, so identical re-runs leave the
      manifest version and the file list unchanged.  A fresh sink
      still commits v1 with its one schema-bearing file, so the path is
      readable with a stable schema after any run.
    - The appended part files are written to a PRIVATE staging
      directory and moved in: the committed file set is the explicit
      list of what this job wrote, never a before/after listing diff.
    - A legacy sink at ``path`` (data, no manifest) is ADOPTED: its
      files become the base content of the first manifest.

    The whole read->anti-join->append window runs under the writer
    lease (:func:`.sinks.hold_writer_lease`); a concurrent second
    writer raises :class:`.sinks.ConcurrentWriterError`.
    ``lease_wait_ms`` is bounded patience for a held lease: retry
    until the deadline instead of failing fast.  A concurrent writer
    from a different pipeline is a configuration error, and failing
    fast (the default 0) is right there; a checkpointed streaming
    restart can race the killed run's lease release, and there a short
    wait is the correct semantics."""
    import time
    import uuid
    from contextlib import ExitStack

    from pyspark.sql import Observation

    fresh = df.dropDuplicates(keys)
    for k in keys:
        fresh = fresh.filter(F.col(k).isNotNull())
    lease = ExitStack()
    deadline = time.monotonic() + lease_wait_ms / 1000.0
    while True:
        try:
            lease.enter_context(hold_writer_lease(spark, path))
            break
        except ConcurrentWriterError:
            if time.monotonic() >= deadline:
                raise
            time.sleep(0.25)
    with lease:
        snap = _snapshot(spark, path)
        version, committed, schema = _adopt_or_latest(snap)
        if version > 0:
            _vacuum(spark, path, snap, min_retention_minutes)
            # vacuum never touches the latest two manifests' files, so
            # re-resolving is unnecessary: `committed` is still exact
        if committed:
            existing = _read_files(spark, path, committed, schema)
            fresh = fresh.join(existing.select(*keys), keys, "left_anti")
        stage = f"{path}__append_{uuid.uuid4().hex}"
        obs = Observation()
        # REBALANCE before the staged write (guide §6): size the
        # appended files to AQE's advisory target instead of one
        # fragment per upstream partition
        fresh.hint("rebalance").observe(
            obs, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").parquet(stage)
        n = int(obs.get["n"])
        if n == 0 and version > 0:
            jvm, fs = _fs(spark, stage)
            fs.delete(_jpath(jvm, stage), True)
            return 0
        new_files = _move_staged_files(spark, stage, path)
        _commit_manifest(
            spark, path, version + 1, committed + new_files, fresh.schema
        )
        # same-session readers may hold a cached listing of the path
        spark.catalog.refreshByPath(path)
        return n


def manifest_compact(
    spark: SparkSession,
    path: str,
    target_partitions: int | None = None,
    min_retention_minutes: float = 0.0,
) -> int:
    """Reader-stable compaction: rewrite the committed rows as
    ``target_partitions`` fresh part files (default: AQE-rebalanced to
    advisory-sized files) and commit a manifest listing only them —
    readers holding the previous manifest keep a complete row set (its
    files stay on disk for one more generation).  Returns the number
    of rows compacted.

    The compacted files are written to a sibling staging dir and
    MOVED (per-file rename, same filesystem) into the sink under
    their unique Spark-generated names before the commit.

    A COMMITTED sink whose file list is empty is a successful no-op
    returning 0 (the pipeline CLI compacts after a date-range run that
    may admit zero rows); a path with no manifest and no data raises."""
    import uuid

    from pyspark.sql import Observation

    with hold_writer_lease(spark, path):
        snap = _snapshot(spark, path)
        version, committed, schema = _adopt_or_latest(snap)
        if not committed:
            if version > 0:
                # committed-but-empty: nothing to rewrite, nothing to
                # gain — succeed without burning a manifest generation
                import warnings

                warnings.warn(
                    f"manifest sink at {path} is committed but empty; "
                    "compaction is a no-op",
                    stacklevel=2,
                )
                return 0
            raise ValueError(
                f"nothing to compact at {path} (no committed data files)"
            )
        _vacuum(spark, path, snap, min_retention_minutes)
        rows = _read_files(spark, path, committed, schema)
        # default layout: size-targeted REBALANCE — a fixed
        # shuffle.partitions count would fragment an already-compact
        # generation
        if target_partitions is not None:
            rows = rows.repartition(int(target_partitions))
        else:
            rows = rows.hint("rebalance")
        stage = f"{path}__stage_{uuid.uuid4().hex}"
        obs = Observation()
        rows.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(stage)
        n_rows = int(obs.get["n"])
        staged = _move_staged_files(spark, stage, path)
        _commit_manifest(spark, path, version + 1, staged, rows.schema)
        # same-session readers may hold a cached listing of the path
        spark.catalog.refreshByPath(path)
        return n_rows
