"""Manifest-committed artifacts (operators/artifact_manifest.py): the
test_manifest_sink matrix applied to the ANN and MinHash index kinds,
plus legacy-layout adoption and the one-reader contract.

Mid-compaction readers and torn builds are pinned in
test_minhash_index.py / test_ann_index.py next to their operators;
this file pins the protocol itself: crash-before-commit atomicity,
generation vacuum, the legacy (params-parquet + bare table dirs)
upgrade path, one listing per request and per mutation, and the
stale-snapshot refusal."""

from __future__ import annotations

import glob

import pytest

from haensel_ams_data_engineer_challenge_spark.operators import (
    artifact_manifest as AM,
)
from haensel_ams_data_engineer_challenge_spark.operators import (
    minhash_index as MI,
)
from haensel_ams_data_engineer_challenge_spark.operators import (
    similarity as S,
)
from haensel_ams_data_engineer_challenge_spark.sources import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write_legacy_params(spark, path: str, params: dict) -> None:
    """The legacy commit marker: a one-file ``params`` parquet table of
    (key, value) strings, written after the table dirs."""
    spark.createDataFrame(
        [(k, str(v)) for k, v in sorted(params.items())],
        "key string, value string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def _legacy_lsh_artifact(spark, vecs, path, tables=8, planes=6):
    """Hand-build a legacy LSH artifact: bare table dir + params
    parquet written last (the old marker protocol)."""
    S.banded_bucket_rows(
        vecs, "vec_id", "embedding", tables, planes
    ).write.mode("overwrite").parquet(f"{path}/buckets")
    _write_legacy_params(
        spark, path,
        {
            "kind": "lsh", "tables": tables, "planes_per_table": planes,
            "id_col": "vec_id", "vec_col": "embedding",
            "quantized": "false", "version": 1,
        },
    )


def test_legacy_lsh_artifact_readable_and_upgraded_by_append(
    spark, sf_dir, tmp_path
):
    """Old-layout artifacts stay readable; the first mutating op adopts
    them in place — current files become manifest content, the legacy
    params ride into the manifest body, the legacy marker dir is
    dropped, and the grown store equals a from-scratch rebuild."""
    vecs = load_table(spark, sf_dir, "embeddings")
    old = vecs.filter("vec_id % 5 != 0")
    new = vecs.filter("vec_id % 5 = 0")
    path = str(tmp_path / "legacy_lsh")
    _legacy_lsh_artifact(spark, old, path)

    # readable as-is: the snapshot resolves the legacy layout — params
    # from the params table, the table from its bare dir
    snap = AM.artifact_open(spark, path)
    assert snap.version == 0  # not yet adopted
    assert snap.params["kind"] == "lsh"
    n_legacy = snap.table("buckets").count()
    assert n_legacy > 0

    # persistent() serves the committed legacy artifact without rebuild
    served = S.lsh_index_persistent(old, path, tables=8, planes_per_table=6)
    assert served.count() == n_legacy

    # the append ADOPTS: manifest appears, params carried, marker gone
    S.lsh_index_append(
        new, AM.artifact_open(spark, path), tables=8, planes_per_table=6
    )
    snap = AM.artifact_open(spark, path)
    assert snap.version == 1
    assert snap.params["kind"] == "lsh"
    assert int(snap.params["version"]) == 2
    assert not glob.glob(f"{path}/params/*")  # legacy marker dropped

    scratch = str(tmp_path / "scratch_lsh")
    S.lsh_index_persistent(vecs, scratch, tables=8, planes_per_table=6)
    assert _rows(AM.artifact_open(spark, path).table("buckets")) == _rows(
        AM.artifact_open(spark, scratch).table("buckets")
    )


def test_legacy_minhash_compact_adopts_then_compacts(spark, tmp_path):
    """Compacting an old-layout MinHash artifact upgrades it in place
    first (adoption commit), then compacts under the manifest — rows
    identical, one file, no torn window."""
    docs = spark.createDataFrame(
        [(i, f"doc {i} " + " ".join(f"w{i}{k}" for k in range(12)))
         for i in range(30)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "legacy_mh")
    from haensel_ams_data_engineer_challenge_spark.operators.dedup import (
        minhash_bands,
    )

    minhash_bands(docs, "text", "doc_id").write.mode("overwrite").parquet(
        f"{path}/bands"
    )
    _write_legacy_params(
        spark, path,
        {"kind": "minhash", "k": 12, "band_size": 3, "shingle_n": 3},
    )
    before = _rows(AM.artifact_open(spark, path).table("bands"))
    n = MI.minhash_index_compact(spark, path, target_partitions=1)
    assert n == len(before)
    snap = AM.artifact_open(spark, path)
    assert len(snap.files("bands")) == 1
    assert snap.params["kind"] == "minhash"
    assert not glob.glob(f"{path}/params/*")  # legacy marker dropped
    assert _rows(AM.artifact_open(spark, path).table("bands")) == before


def test_build_crash_before_commit_leaves_nothing_visible(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash matrix, build side: dying before the manifest rename
    leaves NO committed artifact (staged/moved files are invisible
    orphans); the retry builds cleanly and vacuums them."""
    vecs = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_crash")

    real = AM._commit_json

    def boom(*a, **kw):
        raise RuntimeError("injected crash before manifest rename")

    monkeypatch.setattr(AM, "_commit_json", boom)
    with pytest.raises(RuntimeError, match="injected"):
        S.ivf_index_persistent(vecs, path, k=5)
    monkeypatch.setattr(AM, "_commit_json", real)

    assert AM.artifact_open(spark, path) is None
    # retry: clean build over the orphans; reads resolve exactly the
    # committed files (orphans invisible, then vacuumed)
    a, c = S.ivf_index_persistent(vecs, path, k=5)
    assert a.count() == vecs.count()
    committed = {
        f"assignments/{n}"
        for n in AM.artifact_open(spark, path).files("assignments")
    }
    on_disk = {
        f"assignments/{p.rsplit('/', 1)[-1]}"
        for p in glob.glob(f"{path}/assignments/*.parquet")
    }
    assert committed <= on_disk  # orphans may linger until a mutation
    # a lease-holding vacuum reclaims them
    from haensel_ams_data_engineer_challenge_spark.operators.sinks import (
        hold_writer_lease,
    )

    with hold_writer_lease(spark, path):
        AM.artifact_vacuum(spark, path)
    on_disk_after = {
        f"assignments/{p.rsplit('/', 1)[-1]}"
        for p in glob.glob(f"{path}/assignments/*.parquet")
    }
    assert on_disk_after == committed


def test_vacuum_retains_one_generation(spark, sf_dir, tmp_path):
    """A superseded generation's files survive exactly one further
    mutation (readers of the previous manifest stay whole), then are
    reclaimed — the sink's retention rule on the table-dir layout."""
    vecs = load_table(spark, sf_dir, "embeddings")
    old = vecs.filter("vec_id % 3 = 0")
    path = str(tmp_path / "lsh_gen")
    S.lsh_index_persistent(old, path, tables=4, planes_per_table=6)
    gen1 = set(AM.artifact_open(spark, path).files("buckets"))

    # compact supersedes gen1; its files must survive (v1 readers)
    from haensel_ams_data_engineer_challenge_spark.operators.sinks import (
        hold_writer_lease,
    )

    n = AM.artifact_compact(spark, path, target_partitions=1)
    assert n > 0
    on_disk = {
        p.rsplit("/", 1)[-1] for p in glob.glob(f"{path}/buckets/*.parquet")
    }
    assert gen1 <= on_disk

    # the next mutation ages gen1 out
    S.lsh_index_append(
        vecs.filter("vec_id % 3 = 1"), AM.artifact_open(spark, path),
        tables=4, planes_per_table=6,
    )
    with hold_writer_lease(spark, path):
        AM.artifact_vacuum(spark, path)
    on_disk = {
        p.rsplit("/", 1)[-1] for p in glob.glob(f"{path}/buckets/*.parquet")
    }
    assert not (gen1 & on_disk)
    # and the served store is complete
    served = AM.artifact_open(spark, path).table("buckets")
    assert served.select("vec_id").distinct().count() == (
        vecs.filter("vec_id % 3 = 0").count()
        + vecs.filter("vec_id % 3 = 1").count()
    )


def test_sink_and_artifact_manifests_refuse_to_mix(spark, tmp_path):
    """An index-artifact resolver pointed at a SINK manifest refuses
    loudly instead of misreading the body."""
    from haensel_ams_data_engineer_challenge_spark.operators import (
        manifest_sink as MS,
    )

    path = str(tmp_path / "sink")
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    MS.manifest_insert_if_absent(spark, df, path, ["k"])
    with pytest.raises(ValueError, match="SINK manifest"):
        AM.artifact_open(spark, path)


def _count_root_reads(monkeypatch, path):
    """Record the artifact-root listings and manifest reads the
    artifact layer makes at ``path`` (table sub-dir listings excluded)."""
    listed, read = [], []
    real_list, real_read = AM._list_names, AM._read_manifest

    def list_names(ss, p):
        if p == path:
            listed.append(p)
        return real_list(ss, p)

    def read_manifest(ss, p, v):
        if p == path:
            read.append(v)
        return real_read(ss, p, v)

    monkeypatch.setattr(AM, "_list_names", list_names)
    monkeypatch.setattr(AM, "_read_manifest", read_manifest)
    return listed, read


def _count_root_opens(monkeypatch, path):
    """A callable returning how often the artifact at ``path`` was
    OPENED so far: its root listings minus the one re-listing each
    mutation makes under the writer lease (``_relist``) to refuse a
    stale snapshot."""
    listed, _read = _count_root_reads(monkeypatch, path)
    relisted = []
    real_relist = AM._relist

    def relist(ss, p, base):
        if p == path:
            relisted.append(p)
        return real_relist(ss, p, base)

    monkeypatch.setattr(AM, "_relist", relist)
    return lambda: len(listed) - len(relisted)


def test_ivf_request_resolves_the_artifact_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """One ANN request on a committed index lists the artifact root once
    and reads one manifest: assignments, centroids, stored vectors and
    the params all come from that one snapshot."""
    vecs = load_table(spark, sf_dir, "embeddings")
    q = vecs.filter("vec_id < 3")
    path = str(tmp_path / "ivf")
    S.ivf_index_persistent(vecs, path, k=5)
    listed, read = _count_root_reads(monkeypatch, path)
    hits = S.ann_topk_ivf(vecs, q, cells=5, index_path=path)
    assert hits.count() == 9
    assert len(listed) == 1
    assert len(read) == 1


def test_first_build_reads_no_params_table(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A first build on an empty path never asks Spark for a legacy
    ``{path}/params`` table: the one listing shows there is none."""
    from pyspark.sql.readwriter import DataFrameReader

    vecs = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_first")
    asked = []
    real = DataFrameReader.parquet

    def parquet(self, *paths, **kw):
        asked.extend(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    S.ivf_index_persistent(vecs, path, k=5)
    assert asked, "the build reads its tables back"
    assert not [p for p in asked if p.startswith(f"{path}/params")]


def test_append_lists_the_artifact_once(spark, tmp_path, monkeypatch):
    """One append to a committed artifact lists the artifact root once
    under the lease: the entry vacuum reuses that listing."""
    path = str(tmp_path / "art")
    df = spark.createDataFrame([(1,), (2,)], "k long")
    v1 = AM.artifact_overwrite(spark, path, {"bands": df}, {"kind": "t"}, None)
    v2 = AM.artifact_append(v1, {"bands": df.limit(1)}, {"kind": "t"})
    listed, _read = _count_root_reads(monkeypatch, path)
    v3 = AM.artifact_append(v2, {"bands": df.limit(1)}, {"kind": "t"})
    assert len(listed) == 1
    assert v3.version == 3
    assert v3.table("bands").count() == 4


def test_mutation_from_a_stale_snapshot_refuses(spark, tmp_path):
    """A mutation computed from generation vN commits vN+1 or raises
    ConcurrentWriterError and leaves the artifact unchanged."""
    from haensel_ams_data_engineer_challenge_spark.operators.sinks import (
        ConcurrentWriterError,
    )

    path = str(tmp_path / "art")
    df = spark.createDataFrame([(1,), (2,)], "k long")
    stale = AM.artifact_overwrite(spark, path, {"bands": df}, {"kind": "t"}, None)
    AM.artifact_append(stale, {"bands": df.limit(1)}, {"kind": "t"})
    before = AM.artifact_open(spark, path)
    with pytest.raises(ConcurrentWriterError, match="computed from v1"):
        AM.artifact_append(stale, {"bands": df}, {"kind": "t"})
    with pytest.raises(ConcurrentWriterError):
        AM.artifact_overwrite(spark, path, {"bands": df}, {"kind": "t"}, stale)
    with pytest.raises(ConcurrentWriterError):
        AM.artifact_overwrite(spark, path, {"bands": df}, {"kind": "t"}, None)
    after = AM.artifact_open(spark, path)
    assert (after.version, after.tables) == (before.version, before.tables)
    assert _rows(after.table("bands")) == [(1,), (1,), (2,)]


def test_ivf_append_across_a_concurrent_retrain_refuses(
    spark, sf_dir, tmp_path, monkeypatch
):
    """An IVF append whose anti-join and cell assignment were computed
    against the generation a concurrent retrain superseded must not
    commit assignments from two cell layouts: it refuses and the
    retrained generation stays as committed."""
    from haensel_ams_data_engineer_challenge_spark.operators.sinks import (
        ConcurrentWriterError,
    )

    vecs = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    S.ivf_index_persistent(vecs.filter("vec_id % 2 = 0"), path, k=5)
    real_append = S.artifact_append
    retrained = {}

    def retrain_then_append(base, tables, params):
        retrained.update(S.ivf_index_retrain(vecs, path, k=7))
        return real_append(base, tables, params)

    monkeypatch.setattr(S, "artifact_append", retrain_then_append)
    with pytest.raises(ConcurrentWriterError):
        S.ivf_index_append(vecs.filter("vec_id % 2 = 1"), path, k=5)
    snap = AM.artifact_open(spark, path)
    assert snap.params == retrained and snap.params["k"] == "7"
    assert snap.table("assignments").count() == vecs.count()


def test_ingest_gates_read_only_committed_model_files(
    spark, tmp_path, monkeypatch
):
    """An orphan part file (a crashed commit's leftover: a copy of a
    committed part under a new name) in an NB model's ``terms`` and an
    LM model's ``stats`` changes neither the ingest gates' admitted set
    nor the files they read."""
    import shutil

    from haensel_ams_data_engineer_challenge_spark.operators import (
        classify as C,
    )
    from haensel_ams_data_engineer_challenge_spark.operators import lm as L
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    schema = "doc_id long, text string, lang string, source string, n long"
    good = "spark shuffles partitions and joins columnar parquet scans"
    bad = "buy cheap pills now click here free offer win prize"
    train = spark.createDataFrame(
        [(i, f"{good} {i}", "en", "s", 1) for i in range(6)]
        + [(100 + i, f"{bad} {i}", "spam", "s", 1) for i in range(6)],
        schema,
    )
    nb_dir, lm_dir = str(tmp_path / "nb"), str(tmp_path / "lm")
    C.nb_model_build(train, nb_dir)
    L.lm_model_build(train.filter("lang = 'en'"), lm_dir)
    corpus = str(tmp_path / "corpus")
    train.limit(1).write.parquet(corpus)
    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(200, f"{good} planner", "en", "s", 1),
         (201, f"{bad} today", "en", "s", 1),
         (202, "parquet scans and spark joins", "en", "s", 1)],
        schema,
    ).write.parquet(feed)

    seen = []
    real_nb, real_lm = C.nb_classify_model, L.lm_score_model

    def nb(docs, terms, classes, **kw):
        seen.append(sorted(terms.inputFiles() + classes.inputFiles()))
        return real_nb(docs, terms, classes, **kw)

    def lm(docs, terms, stats, **kw):
        seen.append(sorted(terms.inputFiles() + stats.inputFiles()))
        return real_lm(docs, terms, stats, **kw)

    monkeypatch.setattr(C, "nb_classify_model", nb)
    monkeypatch.setattr(L, "lm_score_model", lm)

    def admitted(run):
        seen.clear()
        run_streaming_ingest(
            spark, corpus, feed, str(tmp_path / f"sink{run}"),
            str(tmp_path / f"ckpt{run}"),
            quality_model_dir=nb_dir, keep_pred=["en"],
            lm_model_dir=lm_dir, max_xent=1e9,
        )
        got = {
            r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / f"sink{run}")).collect()
        }
        return got, list(seen)

    want, want_files = admitted(0)
    assert 201 not in want and want
    assert len(want_files) == 2  # both gates ran
    for model_dir, table in ((nb_dir, "terms"), (lm_dir, "stats")):
        part = sorted(glob.glob(f"{model_dir}/{table}/part-*.parquet"))[0]
        shutil.copy(part, part.replace("part-", "part-99999-orphan-"))
    assert admitted(1) == (want, want_files)
