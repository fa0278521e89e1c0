"""Manifest-committed MULTI-TABLE index artifacts (round 12, r11
verdict task 4): one commit protocol for every artifact.

Round 11 gave the attribution sink the manifest protocol
(:mod:`.manifest_sink`) precisely to remove the reader-gap class of
bug swap/marker commits carry; the index artifacts (ANN IVF/LSH,
MinHash bands) kept the OLDER marker+version-bump protocol with its
own compaction swaps — two protocols doing the same job, one of them
retaining the bug the other was built to kill (a reader mid-compaction
could observe a marker-less or half-swapped store).  This module ports
the index artifacts onto manifests:

- data files live under ``{path}/{table}/part-*.parquet`` (one subdir
  per logical table: ``bands``; ``assignments``/``centroids``/
  ``vectors``);
- ``{path}/_manifest_v{N}.json`` is the ONLY thing a reader resolves:
  ``{"params": {...}, "tables": {t: {"files": [...], "schema":
  {...}}}}`` — the params marker and the file set commit together in
  one atomic rename (no params-written-last ordering to reason about);
- every mutation (build/overwrite, append, compact) stages its part
  files in a private ``.stage_*`` dir, moves exactly those in, and
  commits manifest vN+1 — a mid-compaction reader that resolved vN
  keeps a complete table set (files survive one further generation,
  the sink's retention rule, reclaimed by :func:`artifact_vacuum`);
- crash matrix = the sink's: die before the move → stage orphans
  (vacuumed); after the move, before the commit → invisible data-file
  orphans (vacuumed); after the commit → committed.

LEGACY artifacts (params parquet table + bare table dirs, rounds
6-11) stay readable: resolution falls back to the old layout, and the
first mutating operation ADOPTS them — current table files become the
first manifest's content, the legacy params ride into the manifest
body, and the legacy ``params`` dir is deleted under the same lease
(two sources of truth would diverge).

Single-writer per artifact is enforced by the sink's heartbeat lease
(:func:`.sinks.hold_writer_lease`); readers take no lease.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import try_read_parquet
from .manifest_sink import (
    _commit_json,
    _data_files,
    _fs,
    _jpath,
    _list_names,
    _manifest_versions,
    _read_manifest,
)
from .sinks import hold_writer_lease


def artifact_resolve(
    spark: SparkSession, path: str
) -> tuple[int, dict] | None:
    """(version, manifest) of the highest committed ARTIFACT manifest,
    or None when the path has never been manifest-committed (legacy
    layout or empty)."""
    versions = _manifest_versions(_list_names(spark, path))
    if not versions:
        return None
    v = versions[-1]
    man = _read_manifest(spark, path, v)
    if "tables" not in man:
        raise ValueError(
            f"{path} holds a SINK manifest, not an index-artifact one "
            "— these layouts must not share a directory"
        )
    return v, man


def artifact_params(spark: SparkSession, path: str) -> dict:
    """The committed params from the latest artifact manifest ({} when
    none) — manifest-first identity resolution; legacy fallback lives
    in similarity._read_index_params."""
    got = artifact_resolve(spark, path)
    return dict(got[1]["params"]) if got is not None else {}


def artifact_table(
    spark: SparkSession, path: str, table: str
) -> DataFrame | None:
    """Manifest-resolved read of one table: EXACTLY the committed
    files.  None when the artifact has no manifest (caller falls back
    to the legacy layout); an empty committed file list returns an
    empty frame with the recorded schema."""
    got = artifact_resolve(spark, path)
    if got is None:
        return None
    _, man = got
    entry = man["tables"].get(table)
    if entry is None:
        raise ValueError(
            f"artifact at {path} has no table {table!r} "
            f"(has: {sorted(man['tables'])})"
        )
    schema = StructType.fromJson(entry["schema"])
    if not entry["files"]:
        from ..session import local_frame

        return local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(
        *[f"{path}/{table}/{n}" for n in entry["files"]]
    )


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


def artifact_vacuum(
    spark: SparkSession, path: str, min_retention_minutes: float = 0.0
) -> int:
    """Delete table files referenced by NEITHER the latest NOR the
    previous manifest, orphan staging dirs, stale manifest tmp files,
    and manifests older than the previous.  The sink vacuum's rules
    over the table-dir layout; MUST run under the writer lease (the
    mutating ops call it on entry).

    ``min_retention_minutes`` > 0 adds the sink vacuum's TIME floor
    (round 13): any superseded manifest modified within the floor is
    kept with every file it references, so a reader that resolved it
    before two quick mutations still scans a complete artifact."""
    names = _list_names(spark, path)
    versions = _manifest_versions(names)
    if not versions:
        return 0
    keep_versions = set(versions[-2:])
    if min_retention_minutes > 0:
        import time

        jvm0, fs0 = _fs(spark, path)
        floor_ms = (time.time() - min_retention_minutes * 60.0) * 1000.0
        for v in versions[:-2]:
            st = fs0.getFileStatus(
                _jpath(jvm0, f"{path}/_manifest_v{v:012d}.json")
            )
            if st.getModificationTime() >= floor_ms:
                keep_versions.add(v)
    referenced: set[str] = set()  # "table/name"
    tables: set[str] = set()
    for v in keep_versions:
        man = _read_manifest(spark, path, v)
        for t, entry in man.get("tables", {}).items():
            tables.add(t)
            referenced.update(f"{t}/{n}" for n in entry["files"])
    jvm, fs = _fs(spark, path)
    deleted = 0
    for n in names:
        if n.startswith((".manifest_tmp_", ".stage_")):
            fs.delete(_jpath(jvm, f"{path}/{n}"), True)
            deleted += 1
            continue
        mm = re.match(r"^_manifest_v(\d{12})\.json$", n)
        if mm and int(mm.group(1)) not in keep_versions:
            fs.delete(_jpath(jvm, f"{path}/{n}"), False)
            deleted += 1
    for t in tables:
        for n in _list_names(spark, f"{path}/{t}"):
            if n in _data_files([n]) and f"{t}/{n}" not in referenced:
                fs.delete(_jpath(jvm, f"{path}/{t}/{n}"), False)
                deleted += 1
    return deleted


def _adopt_legacy(
    spark: SparkSession, path: str, tables: tuple[str, ...]
) -> tuple[dict, dict]:
    """(adopted_tables, legacy_params) for a pre-manifest artifact:
    every current data file of each present legacy table dir becomes
    committed content; the legacy params parquet (if any) rides into
    the manifest body and its dir is DELETED by the caller's commit
    path (one source of truth)."""
    adopted: dict = {}
    for t in tables:
        names = sorted(_data_files(_list_names(spark, f"{path}/{t}")))
        if names:
            df = spark.read.parquet(f"{path}/{t}")
            adopted[t] = {"files": names, "schema": df.schema.jsonValue()}
    pdf = try_read_parquet(spark, f"{path}/params")
    legacy_params = (
        {} if pdf is None else {r["key"]: r["value"] for r in pdf.collect()}
    )
    return adopted, legacy_params


def _drop_legacy_marker(spark: SparkSession, path: str) -> None:
    jvm, fs = _fs(spark, path)
    fs.delete(_jpath(jvm, f"{path}/params"), True)


def artifact_adopt(
    spark: SparkSession, path: str, adopt_tables: tuple[str, ...]
) -> bool:
    """Upgrade a LEGACY artifact in place: commit a first manifest over
    its current table files and params, then drop the legacy marker.
    True when a manifest exists afterwards (already-manifest or
    adopted); False when there was nothing to adopt."""
    with hold_writer_lease(spark, path):
        if artifact_resolve(spark, path) is not None:
            return True
        base, legacy = _adopt_legacy(spark, path, adopt_tables)
        if not base:
            return False
        _commit_json(
            spark, path, 1,
            {"version": 1, "params": legacy, "tables": base},
        )
        _drop_legacy_marker(spark, path)
        spark.catalog.refreshByPath(path)
        return True


def artifact_overwrite(
    spark: SparkSession,
    path: str,
    tables: dict[str, DataFrame],
    params: dict,
) -> None:
    """Build/rebuild: stage every table, move the files in, commit a
    manifest listing ONLY them (+ ``params``).  Supersedes any prior
    generation atomically — a reader holding the previous manifest
    keeps its complete file set for one more generation; there is no
    marker-tear window (the force-rebuild dance the marker protocol
    needed is just... a commit)."""
    with hold_writer_lease(spark, path):
        got = artifact_resolve(spark, path)
        version = got[0] if got is not None else 0
        if version > 0:
            artifact_vacuum(spark, path)
        body_tables = {}
        for t, df in tables.items():
            files, schema = _stage_table(spark, df, path, t)
            body_tables[t] = {"files": files, "schema": schema}
        _commit_json(
            spark, path, version + 1,
            {
                "version": version + 1,
                "params": {k: str(v) for k, v in params.items()},
                "tables": body_tables,
            },
        )
        _drop_legacy_marker(spark, path)
        spark.catalog.refreshByPath(path)


def artifact_append(
    spark: SparkSession,
    path: str,
    tables: dict[str, DataFrame],
    params: dict,
    adopt_tables: tuple[str, ...] = (),
) -> None:
    """Append rows to some tables of a committed artifact: stage, move,
    commit vN+1 listing old + new files with the (caller-updated)
    ``params``.  Tables not in ``tables`` carry over unchanged.  A
    LEGACY artifact (no manifest) is adopted first via
    ``adopt_tables`` — its current files become base content and its
    params table is absorbed then deleted."""
    with hold_writer_lease(spark, path):
        got = artifact_resolve(spark, path)
        if got is not None:
            version, man = got
            artifact_vacuum(spark, path)
            base = {
                t: dict(entry) for t, entry in man["tables"].items()
            }
        else:
            base, _legacy = _adopt_legacy(spark, path, adopt_tables)
            version = 0
            if not base:
                raise ValueError(
                    f"no committed artifact at {path} to append to"
                )
        for t, df in tables.items():
            files, schema = _stage_table(spark, df, path, t)
            prev = base.get(t, {"files": [], "schema": schema})
            base[t] = {
                "files": sorted(prev["files"] + files),
                "schema": prev["schema"] if prev["files"] else schema,
            }
        _commit_json(
            spark, path, version + 1,
            {
                "version": version + 1,
                "params": {k: str(v) for k, v in params.items()},
                "tables": base,
            },
        )
        _drop_legacy_marker(spark, path)
        spark.catalog.refreshByPath(path)


def artifact_compact(
    spark: SparkSession,
    path: str,
    target_partitions: int | None = None,
    min_retention_minutes: float = 0.0,
) -> int:
    """Reader-stable compaction of EVERY table: rewrite each table's
    committed rows as ``target_partitions`` fresh files, one manifest
    commit covering all of them.  Returns total rows compacted.  No
    marker tear, no swap window: a reader holding the previous
    manifest keeps complete tables (files survive one generation —
    or for ``min_retention_minutes``, whichever is longer)."""
    n_parts = target_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    total = 0
    with hold_writer_lease(spark, path):
        got = artifact_resolve(spark, path)
        if got is None:
            raise ValueError(f"no committed artifact manifest at {path}")
        version, man = got
        artifact_vacuum(spark, path, min_retention_minutes)
        body_tables = {}
        for t, entry in man["tables"].items():
            if not entry["files"]:
                body_tables[t] = entry
                continue
            rows = spark.read.schema(
                StructType.fromJson(entry["schema"])
            ).parquet(*[f"{path}/{t}/{n}" for n in entry["files"]])
            total += rows.count()
            files, schema = _stage_table(
                spark, rows.repartition(int(n_parts)), path, t
            )
            body_tables[t] = {"files": files, "schema": schema}
        _commit_json(
            spark, path, version + 1,
            {
                "version": version + 1,
                "params": man["params"],
                "tables": body_tables,
            },
        )
        spark.catalog.refreshByPath(path)
    return total
