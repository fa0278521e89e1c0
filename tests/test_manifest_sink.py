"""Manifest-committed sink (operators/manifest_sink.py, round 11):
reader-stable inserts/compaction, crash matrix, legacy adoption,
generation-based vacuum."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from haensel_ams_data_engineer_challenge_spark.operators import (
    manifest_sink as M,
)
from haensel_ams_data_engineer_challenge_spark.operators import sinks


def _df(spark, ids):
    return spark.createDataFrame(
        [(str(i), float(i)) for i in ids], "k string, v double"
    )


def _keys(spark, path):
    df = M.read_manifest_sink(spark, path)
    return sorted(r["k"] for r in df.collect())


def test_insert_roundtrip_and_idempotence(spark, tmp_path):
    path = str(tmp_path / "sink")
    assert M.manifest_insert_if_absent(spark, _df(spark, [1, 2]), path, ["k"]) == 2
    assert _keys(spark, path) == ["1", "2"]
    # INSERT OR IGNORE: overlap appends only the novel key
    assert M.manifest_insert_if_absent(spark, _df(spark, [2, 3]), path, ["k"]) == 1
    assert _keys(spark, path) == ["1", "2", "3"]
    # full replay is a no-op
    assert M.manifest_insert_if_absent(spark, _df(spark, [1, 2, 3]), path, ["k"]) == 0
    assert _keys(spark, path) == ["1", "2", "3"]
    # NULL keys rejected (the PK-model contract, same as the swap sink)
    nulls = spark.createDataFrame([(None, 9.0)], "k string, v double")
    assert M.manifest_insert_if_absent(spark, nulls, path, ["k"]) == 0


def test_insert_lists_the_sink_once(spark, tmp_path, monkeypatch):
    """One insert into a committed sink lists the sink directory once
    and reads its latest manifest once: the entry vacuum reuses the
    snapshot the insert resolved under its lease."""
    path = str(tmp_path / "sink")
    M.manifest_insert_if_absent(spark, _df(spark, [1]), path, ["k"])
    M.manifest_insert_if_absent(spark, _df(spark, [2]), path, ["k"])
    listed, read = [], []
    real_list, real_read = M._list_names, M._read_manifest

    def list_names(ss, p):
        listed.append(p)
        return real_list(ss, p)

    def read_manifest(ss, p, v):
        read.append((p, v))
        return real_read(ss, p, v)

    monkeypatch.setattr(M, "_list_names", list_names)
    monkeypatch.setattr(M, "_read_manifest", read_manifest)
    assert M.manifest_insert_if_absent(spark, _df(spark, [3]), path, ["k"]) == 1
    assert listed.count(path) == 1
    assert read.count((path, 2)) == 1
    assert _keys(spark, path) == ["1", "2", "3"]


def test_reader_mid_compaction_sees_complete_rows(spark, tmp_path):
    """The gap this protocol closes: a reader that RESOLVED the sink
    before compaction still collects a complete row set after the
    compaction commits (swap-based sinks crash such readers — the dir
    is renamed out from under them).  The previous generation's files
    stay on disk until they age out of the retention window."""
    path = str(tmp_path / "sink")
    for batch in ([1, 2], [3, 4], [5, 6]):
        M.manifest_insert_if_absent(spark, _df(spark, batch), path, ["k"])
    reader = M.read_manifest_sink(spark, path)  # resolves v3's files
    n = M.manifest_compact(spark, path, target_partitions=1)
    assert n == 6
    # the pre-compaction snapshot still reads completely
    assert sorted(r["k"] for r in reader.collect()) == [str(i) for i in range(1, 7)]
    # and the post-compaction read too, from fewer files
    assert _keys(spark, path) == [str(i) for i in range(1, 7)]
    latest = M._resolve_latest(spark, path)
    assert latest is not None and len(latest[1]["files"]) == 1


def test_crash_before_manifest_commit_loses_nothing(spark, tmp_path):
    """Crash matrix, insert side: data files appended but the manifest
    never committed — readers keep the previous version; the next
    insert vacuums the orphans and proceeds."""
    path = str(tmp_path / "sink")
    M.manifest_insert_if_absent(spark, _df(spark, [1, 2]), path, ["k"])

    # simulate the crash: monkeypatch-free — append data directly
    # without committing a manifest (exactly what a killed job leaves)
    _df(spark, [98, 99]).write.mode("append").parquet(path)
    assert _keys(spark, path) == ["1", "2"]  # uncommitted = invisible

    # the next mutating op vacuums the orphans, then appends cleanly
    n_files_before = len(M._data_files(M._list_names(spark, path)))
    M.manifest_insert_if_absent(spark, _df(spark, [3]), path, ["k"])
    assert _keys(spark, path) == ["1", "2", "3"]
    committed = set(M._resolve_latest(spark, path)[1]["files"])
    on_disk = M._data_files(M._list_names(spark, path))
    assert committed == on_disk  # orphans gone, nothing extra
    assert len(on_disk) < n_files_before + 2


def test_crash_during_compaction_stage_or_commit(spark, tmp_path):
    """Crash matrix, compaction side: dying before the manifest rename
    leaves the old version fully readable; dying after = committed."""
    path = str(tmp_path / "sink")
    for batch in ([1, 2], [3, 4]):
        M.manifest_insert_if_absent(spark, _df(spark, batch), path, ["k"])
    v_before = M._resolve_latest(spark, path)[0]

    # crash BEFORE commit: make _commit_manifest raise mid-compaction
    real_commit = M._commit_manifest

    def boom(*a, **kw):
        raise RuntimeError("injected crash before manifest rename")

    M._commit_manifest = boom
    try:
        with pytest.raises(RuntimeError, match="injected"):
            M.manifest_compact(spark, path, target_partitions=1)
    finally:
        M._commit_manifest = real_commit
    # nothing lost, nothing visible from the dead compaction
    assert M._resolve_latest(spark, path)[0] == v_before
    assert _keys(spark, path) == ["1", "2", "3", "4"]
    # a stale lease from the crashed holder must not deadlock later
    # writers forever — here the context manager released it on unwind
    assert not Path(path + "__lease").exists()

    # crash AFTER commit is just... committed; rerun compacts again
    assert M.manifest_compact(spark, path, target_partitions=1) == 4
    assert _keys(spark, path) == ["1", "2", "3", "4"]


def test_vacuum_retention_is_two_generations(spark, tmp_path):
    """Files superseded by a compaction survive exactly one further
    generation (readers of the previous manifest stay whole), then are
    vacuumed; old manifests beyond the previous are removed too."""
    path = str(tmp_path / "sink")
    M.manifest_insert_if_absent(spark, _df(spark, [1, 2]), path, ["k"])
    gen1_files = set(M._resolve_latest(spark, path)[1]["files"])
    M.manifest_compact(spark, path, target_partitions=1)  # v2
    on_disk = M._data_files(M._list_names(spark, path))
    assert gen1_files <= on_disk  # retained for v1 readers
    M.manifest_insert_if_absent(spark, _df(spark, [3]), path, ["k"])  # v3
    M.manifest_insert_if_absent(spark, _df(spark, [4]), path, ["k"])  # v4 (+vacuum)
    on_disk = M._data_files(M._list_names(spark, path))
    assert not (gen1_files & on_disk)  # aged out
    # vacuum runs at op START, so v2 lingers until the next maintenance
    assert M._manifest_versions(M._list_names(spark, path)) == [2, 3, 4]
    assert M.manifest_maintain(spark, path) >= 1
    assert M._manifest_versions(M._list_names(spark, path)) == [3, 4]
    assert _keys(spark, path) == ["1", "2", "3", "4"]


def test_legacy_swap_sink_adopts_in_place(spark, tmp_path):
    """A pre-manifest sink (a plain parquet directory) reads as its
    file listing and upgrades in place: its files become the first
    manifest's base content and the anti-join still sees them."""
    path = str(tmp_path / "sink")
    _df(spark, [1, 2]).write.parquet(path)
    assert M._resolve_latest(spark, path) is None  # not yet adopted
    assert _keys(spark, path) == ["1", "2"]  # the one reader sees it
    n = M.manifest_insert_if_absent(spark, _df(spark, [2, 3]), path, ["k"])
    assert n == 1  # the legacy row '2' was seen by the anti-join
    assert _keys(spark, path) == ["1", "2", "3"]


def test_empty_sink_reads_with_schema(spark, tmp_path):
    """A first insert where nothing survives the filters still commits
    a manifest carrying the schema — the sink is readable with a
    stable schema after any run."""
    path = str(tmp_path / "sink")
    nulls = spark.createDataFrame([(None, 1.0)], "k string, v double")
    assert M.manifest_insert_if_absent(spark, nulls, path, ["k"]) == 0
    df = M.read_manifest_sink(spark, path)
    assert df is not None and df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "v"]


def test_zero_row_insert_commits_nothing(spark, tmp_path):
    """An insert that appends nothing to a committed sink deletes its
    staging dir and commits no manifest: identical replays leave the
    version, the committed file list and the directory unchanged."""
    path = str(tmp_path / "sink")
    M.manifest_insert_if_absent(spark, _df(spark, [1, 2]), path, ["k"])
    v1 = M._resolve_latest(spark, path)
    on_disk = sorted(M._list_names(spark, path))
    assert M.manifest_insert_if_absent(spark, _df(spark, [1, 2]), path, ["k"]) == 0
    assert M._resolve_latest(spark, path) == v1
    assert sorted(M._list_names(spark, path)) == on_disk
    assert [p.name for p in tmp_path.iterdir()] == ["sink"]  # no stage left
    assert M.read_manifest_sink(spark, str(tmp_path / "missing")) is None


def test_concurrent_writer_refused_by_lease(spark, tmp_path):
    path = str(tmp_path / "sink")
    M.manifest_insert_if_absent(spark, _df(spark, [1]), path, ["k"])
    token = sinks.acquire_writer_lease(spark, path)
    with pytest.raises(sinks.ConcurrentWriterError):
        M.manifest_insert_if_absent(spark, _df(spark, [2]), path, ["k"])
    with pytest.raises(sinks.ConcurrentWriterError):
        M.manifest_compact(spark, path)
    sinks.release_writer_lease(spark, path, token)
    assert M.manifest_insert_if_absent(spark, _df(spark, [2]), path, ["k"]) == 1


def test_manifest_is_hidden_from_plain_readers(spark, tmp_path):
    """The manifest and tmp files are underscore/dot-prefixed, so a
    legacy plain spark.read.parquet(path) still parses (it sees only
    data files — possibly MORE than committed, which is exactly why
    the supported read path is read_manifest_sink)."""
    path = str(tmp_path / "sink")
    M.manifest_insert_if_absent(spark, _df(spark, [1, 2]), path, ["k"])
    assert spark.read.parquet(path).count() == 2
    man = json.loads(
        (tmp_path / "sink" / M._manifest_name(1)).read_text()
    )
    assert man["n_files"] == len(man["files"])


def test_compact_empty_manifest_is_a_noop(spark, tmp_path):
    """Round-12 (r11 advice): a committed manifest whose file list is
    EMPTY (a zero-row first run) compacts as a successful no-op
    returning 0 — the pipeline CLI compacts after date-range runs that
    may legitimately admit nothing.  A never-committed path (no
    manifest, no data) still refuses with the clean ValueError."""
    from pyspark.sql.types import StructType

    path = str(tmp_path / "sink")
    (tmp_path / "sink").mkdir()
    M._commit_manifest(
        spark, path, 1, [], StructType.fromDDL("k string, v double")
    )
    assert M.read_manifest_sink(spark, path).count() == 0
    with pytest.warns(UserWarning, match="committed but empty"):
        assert M.manifest_compact(spark, path) == 0
    # no manifest generation burned by the no-op
    assert M._resolve_latest(spark, path)[0] == 1

    never = str(tmp_path / "never")
    with pytest.raises(ValueError, match="nothing to compact"):
        M.manifest_compact(spark, never)


def test_stray_file_is_not_adopted_as_committed(spark, tmp_path):
    """Round-12 (r11 advice): the insert records its OWN staged files
    explicitly — a data file dropped into the sink dir by a process
    bypassing the lease never becomes committed content (and is
    vacuumed as an orphan by the next mutating op)."""
    path = str(tmp_path / "sink")
    M.manifest_insert_if_absent(spark, _df(spark, [1]), path, ["k"])
    # a stray spark.write.parquet lands DURING the append window's
    # worst case: simulated by dropping the file before the next insert
    _df(spark, [77]).write.mode("append").parquet(path)
    M.manifest_insert_if_absent(spark, _df(spark, [2]), path, ["k"])
    assert _keys(spark, path) == ["1", "2"]  # 77 never adopted
    committed = set(M._resolve_latest(spark, path)[1]["files"])
    on_disk = M._data_files(M._list_names(spark, path))
    assert committed == on_disk  # stray vacuumed, not retained


def test_vacuum_retention_floor_keeps_young_generations(spark, tmp_path):
    """Round-12 (r11 advice): with ``min_retention_minutes`` set, a
    manifest younger than the floor — and every file it references —
    survives vacuum even after two quick subsequent mutations, so a
    long-running reader that resolved it keeps a complete file set."""
    path = str(tmp_path / "sink")
    M.manifest_insert_if_absent(spark, _df(spark, [1, 2]), path, ["k"])
    v1_files = set(M._resolve_latest(spark, path)[1]["files"])
    # two quick mutations age v1 out of the two-generation window
    M.manifest_compact(spark, path, target_partitions=1)
    M.manifest_insert_if_absent(spark, _df(spark, [3]), path, ["k"])
    # floor: everything committed in the last hour stays readable
    with sinks.hold_writer_lease(spark, path):
        deleted = M.manifest_vacuum(spark, path, min_retention_minutes=60.0)
    on_disk = M._data_files(M._list_names(spark, path))
    assert v1_files <= on_disk, "retention floor must keep v1's files"
    # ... and v1 itself is still resolvable for a reader holding it
    assert set(M._read_manifest(spark, path, 1)["files"]) == v1_files
    # without the floor the same vacuum reclaims v1's superseded files
    with sinks.hold_writer_lease(spark, path):
        deleted = M.manifest_vacuum(spark, path)
    assert deleted > 0
    versions = M._manifest_versions(M._list_names(spark, path))
    assert 1 not in versions  # v1 aged out once the floor is dropped
    kept = set()
    for v in versions:
        kept.update(M._read_manifest(spark, path, v)["files"])
    assert M._data_files(M._list_names(spark, path)) <= kept
    assert M.read_manifest_sink(spark, path).count() == 3


def test_default_floor_threads_through_mutation_entry_vacuums(
    spark, tmp_path
):
    """Round-13 (r12 advice): the CLI mutation paths pass
    DEFAULT_RETENTION_MINUTES into every mutating op, so a reader that
    resolved v1 before THREE quick mutations — enough to age v1 out of
    the two-generation window at the third's ENTRY vacuum — still
    scans a complete file set, with no standalone vacuum call anywhere."""
    path = str(tmp_path / "sink")
    r = M.DEFAULT_RETENTION_MINUTES
    assert r >= 30.0
    M.manifest_insert_if_absent(
        spark, _df(spark, [1, 2]), path, ["k"], min_retention_minutes=r
    )
    v1_files = set(M._resolve_latest(spark, path)[1]["files"])
    M.manifest_compact(spark, path, target_partitions=1,
                       min_retention_minutes=r)
    M.manifest_insert_if_absent(
        spark, _df(spark, [3]), path, ["k"], min_retention_minutes=r
    )
    M.manifest_compact(spark, path, target_partitions=1,
                       min_retention_minutes=r)
    on_disk = M._data_files(M._list_names(spark, path))
    assert v1_files <= on_disk, (
        "a reader holding v1 lost files inside the retention floor"
    )
    assert set(M._read_manifest(spark, path, 1)["files"]) == v1_files
    # the v1 reader's rows are complete AND the latest view is right
    v1_rows = sorted(
        r["k"]
        for r in spark.read.parquet(
            *[f"{path}/{n}" for n in v1_files]
        ).collect()
    )
    assert v1_rows == ["1", "2"]
    assert _keys(spark, path) == ["1", "2", "3"]


def test_artifact_compact_retention_floor(spark, tmp_path):
    """The index-compaction side of the same guarantee: an artifact
    reader holding v1 across append + two retention-floored compacts
    keeps its complete table files."""
    from haensel_ams_data_engineer_challenge_spark.operators import (
        artifact_manifest as AM,
    )

    path = str(tmp_path / "art")
    v1 = AM.artifact_overwrite(
        spark, path, {"bands": _df(spark, [1, 2])}, {"kind": "test"}, None
    )
    v1_files = {f"bands/{n}" for n in v1.files("bands")}
    AM.artifact_append(v1, {"bands": _df(spark, [3])}, {"kind": "test"})
    AM.artifact_compact(spark, path, 1, min_retention_minutes=60.0)
    AM.artifact_compact(spark, path, 1, min_retention_minutes=60.0)
    on_disk = {
        f"bands/{n}"
        for n in M._list_names(spark, f"{path}/bands")
        if n in M._data_files([n])
    }
    assert v1_files <= on_disk, "v1's table files vacuumed inside floor"
    # without the floor, a further compact reclaims them
    AM.artifact_compact(spark, path, 1)
    on_disk = {
        f"bands/{n}"
        for n in M._list_names(spark, f"{path}/bands")
        if n in M._data_files([n])
    }
    assert not (v1_files & on_disk)
