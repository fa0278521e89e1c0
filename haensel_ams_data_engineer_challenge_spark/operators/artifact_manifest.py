"""Manifest-committed multi-table artifacts: the on-disk format of
every persisted index (IVF, LSH, MinHash bands), encoder and model (NB,
LM), its one reader and its mutations.

Layout:

- data files live under ``{path}/{table}/part-*.parquet`` (one subdir
  per logical table: ``bands``; ``assignments``/``centroids``/
  ``vectors``; ``terms``/``classes``; ...);
- ``{path}/_manifest_v{N}.json`` is the commit record:
  ``{"params": {...}, "tables": {t: {"files": [...], "schema":
  {...}}}}`` — the params and the file set commit together in one
  atomic rename.

Reading.  :func:`artifact_open` is the one read entry point: it lists
the artifact root once, reads the latest manifest, and returns an
:class:`ArtifactSnapshot` — the version, the params and each table's
committed file list.  An operation opens ONE snapshot and serves
every table, param and hyperparameter check from it, so a request
never pairs one generation's assignments with another's centroids.
Worker closures (the encoder seam) receive the snapshot's file lists;
workers never resolve a manifest themselves, so they encode with the
generation the driver validated.  Files outside the latest manifest
(a crashed commit's orphans, a superseded generation kept for its
readers) are never read.

Mutating.  Build/overwrite, append and compact run under the sink's
heartbeat writer lease (:func:`.sinks.hold_writer_lease`; readers take
no lease).  A mutation names the snapshot it was computed from; under
the lease it lists the root once, and if another generation committed
since, it raises :class:`.sinks.ConcurrentWriterError` and leaves the
artifact unchanged.  Otherwise it vacuums from that same listing,
stages its part files in a private ``.stage_*`` dir, moves exactly
those in, and commits manifest vN+1.  A reader that resolved vN keeps
a complete table set: files survive one further generation (or the
retention floor), the sink's rule, reclaimed by the vacuum.  Crash
matrix = the sink's: die before the move → stage orphans (vacuumed);
after the move, before the commit → invisible data-file orphans
(vacuumed); after the commit → committed.

LEGACY artifacts (a ``params`` parquet table + bare table dirs) are
resolved by the same :func:`artifact_open`: with no manifest, each
table is its dir's data files and the params are the ``params`` table
(read only when the listing shows one).  The first mutation ADOPTS
such an artifact: its files become committed content, its params ride
into the manifest body, and the ``params`` dir is deleted under the
same lease.  No code writes the legacy layout.
"""

from __future__ import annotations

import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .manifest_sink import (
    _MANIFEST_RE,
    _commit_json,
    _data_files,
    _fs,
    _jpath,
    _list_names,
    _manifest_name,
    _manifest_versions,
    _read_manifest,
)
from .sinks import ConcurrentWriterError, hold_writer_lease

#: a legacy table dir name (hidden, underscore and file names excluded)
_TABLE_DIR_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_]*$")


@dataclass(frozen=True)
class ArtifactSnapshot:
    """One resolved generation of the artifact at ``path``.

    ``version`` is the manifest version (0 for the legacy layout);
    ``params`` the committed params (string values); ``tables`` maps
    each table to ``{"files": [names], "schema": json}`` (schema None
    for a legacy table, whose files carry it)."""

    spark: SparkSession
    path: str
    version: int
    params: dict
    tables: dict

    def files(self, table: str) -> list[str]:
        """Committed file names of ``table``, relative to
        ``{path}/{table}``."""
        entry = self.tables.get(table)
        if entry is None:
            raise ValueError(
                f"artifact at {self.path} has no table {table!r} "
                f"(has: {sorted(self.tables)})"
            )
        return list(entry["files"])

    def table(self, table: str) -> DataFrame:
        """Exactly the committed files of ``table``; an empty committed
        file list reads as an empty frame with the recorded schema."""
        paths = [f"{self.path}/{table}/{n}" for n in self.files(table)]
        raw = self.tables[table]["schema"]
        if raw is None:
            return self.spark.read.parquet(*paths)
        schema = StructType.fromJson(raw)
        if not paths:
            from ..session import local_frame

            return local_frame(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(*paths)


def _open(
    spark: SparkSession, path: str
) -> tuple[list[str], ArtifactSnapshot | None]:
    """(root listing, snapshot) from ONE listing of the artifact root."""
    names = _list_names(spark, path)
    versions = _manifest_versions(names)
    if versions:
        man = _read_manifest(spark, path, versions[-1])
        if "tables" not in man:
            raise ValueError(
                f"{path} holds a SINK manifest, not an artifact one — "
                "these layouts must not share a directory"
            )
        return names, ArtifactSnapshot(
            spark, path, versions[-1], dict(man["params"]), man["tables"]
        )
    # legacy layout: the params table was written LAST, so without one
    # the dir holds nothing committed (a torn legacy build, or a
    # manifest build that crashed before its first commit)
    pfiles = (
        sorted(_data_files(_list_names(spark, f"{path}/params")))
        if "params" in names else []
    )
    if not pfiles:
        return names, None
    params = {
        r["key"]: r["value"]
        for r in spark.read.parquet(
            *[f"{path}/params/{n}" for n in pfiles]
        ).collect()
    }
    tables = {}
    for t in names:
        if t != "params" and _TABLE_DIR_RE.match(t):
            files = sorted(_data_files(_list_names(spark, f"{path}/{t}")))
            if files:
                tables[t] = {"files": files, "schema": None}
    return names, ArtifactSnapshot(spark, path, 0, params, tables)


def artifact_open(spark: SparkSession, path: str) -> ArtifactSnapshot | None:
    """The latest committed generation of the artifact at ``path``, or
    None when the path is absent or holds nothing committed."""
    return _open(spark, path)[1]


def artifact_check(snap: ArtifactSnapshot | None, expect: dict) -> bool:
    """True when ``snap`` holds committed params matching ``expect``;
    False when nothing is committed; ValueError when the artifact was
    built differently (silently serving an artifact trained with other
    hyperparameters would change results without any visible signal).

    Subset match on ``expect``'s keys: bookkeeping keys like the
    append-bumped ``version`` ride in the same params without breaking
    the check."""
    got = snap.params if snap is not None else {}
    if not got:
        return False
    exp = {k: str(v) for k, v in expect.items()}
    if {k: got.get(k) for k in exp} != exp:
        raise ValueError(
            f"artifact at {snap.path} was built with {got}; caller "
            f"expects {exp} — use a different path or delete the artifact"
        )
    return True


def _stage_table(
    spark: SparkSession, df: DataFrame, path: str, table: str
) -> tuple[list[str], dict]:
    """Write ``df`` to a private staging dir and move its part files
    into ``{path}/{table}/`` (per-file rename, same filesystem).
    Returns (file names, schema json) — the EXPLICIT record of what
    this job wrote; nothing is visible until the manifest commit."""
    stage = f"{path}/.stage_{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(stage)
    jvm, fs = _fs(spark, path)
    fs.mkdirs(_jpath(jvm, f"{path}/{table}"))
    staged = sorted(_data_files(_list_names(spark, stage)))
    for name in staged:
        if not fs.rename(
            _jpath(jvm, f"{stage}/{name}"),
            _jpath(jvm, f"{path}/{table}/{name}"),
        ):
            fs.delete(_jpath(jvm, stage), True)
            raise IOError(
                f"artifact commit: failed to move staged file {name} "
                f"into {path}/{table}"
            )
    fs.delete(_jpath(jvm, stage), True)
    return staged, df.schema.jsonValue()


def _vacuum(
    snap: ArtifactSnapshot, names: list[str], min_retention_minutes: float
) -> int:
    """Delete table files referenced by NEITHER the latest NOR the
    previous manifest, orphan staging dirs, stale manifest tmp files,
    and manifests older than the previous — over the listing and
    snapshot the caller resolved under its lease.

    ``min_retention_minutes`` > 0 adds the sink vacuum's TIME floor:
    any superseded manifest modified within the floor is kept with
    every file it references, so a reader that resolved it before two
    quick mutations still scans a complete artifact."""
    spark, path = snap.spark, snap.path
    versions = _manifest_versions(names)
    if not versions:
        return 0
    keep_versions = set(versions[-2:])
    jvm, fs = _fs(spark, path)
    if min_retention_minutes > 0:
        floor_ms = (time.time() - min_retention_minutes * 60.0) * 1000.0
        for v in versions[:-2]:
            st = fs.getFileStatus(_jpath(jvm, f"{path}/{_manifest_name(v)}"))
            if st.getModificationTime() >= floor_ms:
                keep_versions.add(v)
    referenced: set[str] = set()  # "table/name"
    tables: set[str] = set()
    for v in keep_versions:
        kept = (
            snap.tables if v == snap.version
            else _read_manifest(spark, path, v).get("tables", {})
        )
        for t, entry in kept.items():
            tables.add(t)
            referenced.update(f"{t}/{n}" for n in entry["files"])
    deleted = 0
    for n in names:
        if n.startswith((".manifest_tmp_", ".stage_")):
            fs.delete(_jpath(jvm, f"{path}/{n}"), True)
            deleted += 1
            continue
        mm = _MANIFEST_RE.match(n)
        if mm and int(mm.group(1)) not in keep_versions:
            fs.delete(_jpath(jvm, f"{path}/{n}"), False)
            deleted += 1
    for t in tables:
        for n in _data_files(_list_names(spark, f"{path}/{t}")):
            if f"{t}/{n}" not in referenced:
                fs.delete(_jpath(jvm, f"{path}/{t}/{n}"), False)
                deleted += 1
    return deleted


def artifact_vacuum(
    spark: SparkSession, path: str, min_retention_minutes: float = 0.0
) -> int:
    """Standalone :func:`_vacuum` over a fresh listing; MUST run under
    the writer lease (every mutation vacuums on entry by itself)."""
    names, snap = _open(spark, path)
    return 0 if snap is None else _vacuum(snap, names, min_retention_minutes)


def _relist(
    spark: SparkSession, path: str, base: ArtifactSnapshot | None
) -> tuple[list[str], ArtifactSnapshot | None]:
    """The artifact as it stands under the lease; ConcurrentWriterError
    when a generation other than ``base`` (None = nothing committed)
    is latest — the mutation was computed from stale reads."""
    names, cur = _open(spark, path)
    want = base.version if base is not None else 0
    have = cur.version if cur is not None else 0
    if have != want:
        raise ConcurrentWriterError(
            f"artifact at {path} is at v{have}, but this mutation was "
            f"computed from v{want}; re-open it and retry"
        )
    return names, cur


def _entries(snap: ArtifactSnapshot) -> dict:
    """Manifest table entries of ``snap``; a legacy table's schema is
    read from its files (its adoption commit records it)."""
    return {
        t: {
            "files": list(e["files"]),
            "schema": e["schema"] if e["schema"] is not None
            else snap.table(t).schema.jsonValue(),
        }
        for t, e in snap.tables.items()
    }


def _commit(
    spark: SparkSession,
    path: str,
    names: list[str],
    version: int,
    params: dict,
    tables: dict,
) -> ArtifactSnapshot:
    """Commit manifest ``version`` and drop a legacy ``params`` dir the
    listing showed (one source of truth); returns the committed
    generation as a snapshot."""
    params = {k: str(v) for k, v in params.items()}
    _commit_json(
        spark, path, version,
        {"version": version, "params": params, "tables": tables},
    )
    if "params" in names:
        jvm, fs = _fs(spark, path)
        fs.delete(_jpath(jvm, f"{path}/params"), True)
    # same-session readers may hold a cached listing of the path
    spark.catalog.refreshByPath(path)
    return ArtifactSnapshot(spark, path, version, params, tables)


def artifact_overwrite(
    spark: SparkSession,
    path: str,
    tables: dict[str, DataFrame],
    params: dict,
    base: ArtifactSnapshot | None,
) -> ArtifactSnapshot:
    """Build/rebuild: stage every table, move the files in, commit a
    manifest listing ONLY them (+ ``params``).  ``base`` is the
    generation the build was decided from (None: nothing committed).
    Supersedes it atomically — a reader holding it keeps its complete
    file set for one more generation.  Returns the new generation."""
    with hold_writer_lease(spark, path):
        names, cur = _relist(spark, path, base)
        if cur is not None:
            _vacuum(cur, names, 0.0)
        body = {}
        for t, df in tables.items():
            files, schema = _stage_table(spark, df, path, t)
            body[t] = {"files": files, "schema": schema}
        version = cur.version if cur is not None else 0
        return _commit(spark, path, names, version + 1, params, body)


def artifact_append(
    base: ArtifactSnapshot,
    tables: dict[str, DataFrame],
    params: dict,
) -> ArtifactSnapshot:
    """Append rows to some tables of the generation ``base`` (the one
    the rows were computed against): stage, move, commit vN+1 listing
    old + new files with the (caller-updated) ``params``.  Tables not
    in ``tables`` carry over unchanged; a legacy ``base`` is adopted.
    Returns the new generation."""
    spark, path = base.spark, base.path
    with hold_writer_lease(spark, path):
        names, cur = _relist(spark, path, base)
        if cur is None:
            raise ValueError(f"no committed artifact at {path} to append to")
        _vacuum(cur, names, 0.0)
        body = _entries(cur)
        for t, df in tables.items():
            files, schema = _stage_table(spark, df, path, t)
            prev = body.get(t, {"files": [], "schema": schema})
            body[t] = {
                "files": sorted(prev["files"] + files),
                "schema": prev["schema"] if prev["files"] else schema,
            }
        return _commit(spark, path, names, cur.version + 1, params, body)


def artifact_compact(
    spark: SparkSession,
    path: str,
    target_partitions: int | None = None,
    min_retention_minutes: float = 0.0,
) -> int:
    """Reader-stable compaction of EVERY table: rewrite each table's
    committed rows as ``target_partitions`` fresh files, one manifest
    commit covering all of them (a legacy artifact is adopted by the
    same commit).  Returns total rows compacted.  Compaction moves
    rows without interpreting them, so it resolves the artifact under
    its own lease.  A reader holding the previous manifest keeps
    complete tables (files survive one generation — or for
    ``min_retention_minutes``, whichever is longer)."""
    n_parts = target_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    total = 0
    with hold_writer_lease(spark, path):
        names, cur = _open(spark, path)
        if cur is None or not cur.tables:
            raise ValueError(f"no committed artifact at {path}")
        _vacuum(cur, names, min_retention_minutes)
        body = {}
        for t, entry in _entries(cur).items():
            if not entry["files"]:
                body[t] = entry
                continue
            rows = cur.table(t)
            total += rows.count()
            files, schema = _stage_table(
                spark, rows.repartition(int(n_parts)), path, t
            )
            body[t] = {"files": files, "schema": schema}
        _commit(spark, path, names, cur.version + 1, cur.params, body)
    return total
