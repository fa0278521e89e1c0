"""Streaming embedding ingestion (round 9): the vector-modality twin
of the text near-dup tier — persisted bucket index probe + exact
cosine verify + replay-idempotent append."""

from __future__ import annotations

import glob as _glob
import os
import shutil

from pyspark.sql import functions as F

from haensel_ams_data_engineer_challenge_spark.operators.similarity import (
    EMBEDDING_DIM,
    vector_dup_probe,
    lsh_index_persistent,
)

DIM = EMBEDDING_DIM
SCHEMA = "vec_id long, embedding array<double>"


def _axis(i, eps_at=None, eps=0.0):
    v = [0.0] * DIM
    v[i] = 1.0
    if eps_at is not None:
        v[eps_at] = eps
    return v


CORPUS = [(1, _axis(0)), (2, _axis(1)), (3, _axis(2))]


def _vecs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_vector_probe_finds_only_true_dups(spark, tmp_path):
    corpus = _vecs(spark, CORPUS)
    idx = str(tmp_path / "vidx")
    buckets = lsh_index_persistent(
        corpus, idx, tables=8, planes_per_table=3
    )
    batch = _vecs(spark, [
        (101, _axis(0, eps_at=5, eps=0.02)),   # near-dup of 1 (cos ~0.9998)
        (102, _axis(2)),                        # exact dup of 3 (cos 1.0)
        (103, _axis(9)),                        # novel (cos 0 to corpus)
    ])
    got = {
        (r["vec_id"], r["dup_of"])
        for r in vector_dup_probe(batch, buckets, corpus, 0.9).collect()
    }
    assert got == {(101, 1), (102, 3)}
    # orphan index rows (no corpus vector) never cause a false drop
    orphan = buckets.unionByName(
        spark.createDataFrame(
            [(999, b, bu) for b, bu in
             {(r["band"], r["bucket"])
              for r in buckets.filter("vec_id = 3").collect()}],
            "vec_id long, band int, bucket long",
        )
    )
    got2 = {
        (r["vec_id"], r["dup_of"])
        for r in vector_dup_probe(batch, orphan, corpus, 0.9).collect()
    }
    assert got2 == got


def test_streaming_vector_ingest_e2e(spark, tmp_path):
    """(a) within-batch collapse, (b) cross-corpus rejection via the
    persisted index, (c) cross-BATCH rejection via the appended index;
    fresh-checkpoint replay admits nothing and leaves the index
    stable."""
    from haensel_ams_data_engineer_challenge_spark.streaming.vectors import (
        run_streaming_vector_ingest,
    )

    corpus_path = str(tmp_path / "corpus")
    _vecs(spark, CORPUS).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")

    def _drop(rows, name):
        tmp = str(tmp_path / f"__stage_{name}")
        _vecs(spark, rows).repartition(1).write.parquet(tmp)
        os.makedirs(feed, exist_ok=True)
        shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/{name}")

    # batch A: near-dup of corpus 1 (rejected), novel axis-9 vector
    # (admitted) and a within-batch near-dup of it (201 survives)
    _drop([
        (200, _axis(0, eps_at=5, eps=0.02)),
        (201, _axis(9)),
        (202, _axis(9, eps_at=11, eps=0.02)),
    ], "a.parquet")
    # batch B: near-dup of batch A's admitted vector — only the
    # APPENDED index knows about 201
    _drop([(300, _axis(9, eps_at=12, eps=0.03))], "b.parquet")

    sink = str(tmp_path / "admitted")
    idx = str(tmp_path / "vidx")
    run_streaming_vector_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"), idx,
        max_files_per_trigger=1,
    )
    got = {r["vec_id"] for r in spark.read.parquet(sink).collect()}
    assert got == {201}
    idx_ids = {
        r["vec_id"]
        for r in spark.read.parquet(f"{idx}/buckets")
        .select("vec_id").distinct().collect()
    }
    assert idx_ids == {1, 2, 3, 201}

    # replay, fresh checkpoint: idempotent sink AND index
    before = sorted(
        map(tuple, spark.read.parquet(f"{idx}/buckets").collect())
    )
    run_streaming_vector_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt2"), idx,
        max_files_per_trigger=1,
    )
    assert {r["vec_id"] for r in spark.read.parquet(sink).collect()} == {201}
    assert sorted(
        map(tuple, spark.read.parquet(f"{idx}/buckets").collect())
    ) == before


def test_vector_ingest_refuses_ann_layout_index(spark, tmp_path):
    """The params marker pins the band layout: a dir holding the ANN
    top-k index (32x6) cannot silently serve the dedup tier (8x3)."""
    import pytest

    from haensel_ams_data_engineer_challenge_spark.streaming.vectors import (
        run_streaming_vector_ingest,
    )

    corpus_path = str(tmp_path / "corpus")
    _vecs(spark, CORPUS).write.parquet(corpus_path)
    idx = str(tmp_path / "vidx")
    lsh_index_persistent(
        _vecs(spark, CORPUS), idx, tables=32, planes_per_table=6
    )
    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    tmp = str(tmp_path / "__stage")
    _vecs(spark, [(400, _axis(4))]).repartition(1).write.parquet(tmp)
    shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/a.parquet")
    with pytest.raises(Exception, match="built with"):
        run_streaming_vector_ingest(
            spark, corpus_path, feed, str(tmp_path / "admitted"),
            str(tmp_path / "ckpt"), idx,
        )


def test_cli_ingest_vectors(spark, tmp_path, capsys):
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    corpus_path = str(tmp_path / "corpus")
    _vecs(spark, CORPUS).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")
    tmp = str(tmp_path / "__stage")
    _vecs(spark, [
        (500, _axis(1, eps_at=7, eps=0.02)),  # near-dup of corpus 2
        (501, _axis(20)),                      # novel
    ]).repartition(1).write.parquet(tmp)
    os.makedirs(feed, exist_ok=True)
    shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/a.parquet")

    work = str(tmp_path / "wd")
    rc = main([
        "ingest-vectors", "--corpus-parquet", corpus_path,
        "--feed-dir", feed, "--work-dir", work,
    ])
    assert rc == 0
    assert "admitted_total=1" in capsys.readouterr().out
    got = {
        r["vec_id"]
        for r in spark.read.parquet(f"{work}/admitted_vectors").collect()
    }
    assert got == {501}


def test_vector_ingest_manifest_protocol(spark, tmp_path):
    """The vector stream's admitted store is manifest-committed: every
    batch visible at one atomic manifest rename, replay idempotent,
    and a crash before the manifest commit leaves the committed store
    exactly at its previous generation."""
    from haensel_ams_data_engineer_challenge_spark.operators import (
        manifest_sink as MS,
    )
    from haensel_ams_data_engineer_challenge_spark.streaming.vectors import (
        run_streaming_vector_ingest,
    )

    corpus_path = str(tmp_path / "corpus")
    _vecs(spark, CORPUS).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")

    def _drop(rows, name):
        tmp = str(tmp_path / f"__stage_{name}")
        _vecs(spark, rows).repartition(1).write.parquet(tmp)
        os.makedirs(feed, exist_ok=True)
        shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/{name}")

    _drop([
        (200, _axis(0, eps_at=5, eps=0.02)),  # near-dup of corpus 1
        (201, _axis(9)),                       # novel -> admitted
        (202, _axis(9, eps_at=11, eps=0.02)),  # within-batch dup of 201
    ], "a.parquet")
    _drop([(300, _axis(9, eps_at=12, eps=0.03))], "b.parquet")

    sink = str(tmp_path / "admitted_m")
    idx = str(tmp_path / "vidx_m")
    run_streaming_vector_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt_m"), idx,
        max_files_per_trigger=1,
    )
    committed = MS.read_manifest_sink(spark, sink)
    assert committed is not None
    assert {r["vec_id"] for r in committed.collect()} == {201}

    # replay with a fresh checkpoint: idempotent store, same version
    # count discipline as the document stream (anti-join, no re-admit)
    run_streaming_vector_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt_m2"), idx,
        max_files_per_trigger=1,
    )
    assert {
        r["vec_id"]
        for r in MS.read_manifest_sink(spark, sink).collect()
    } == {201}

    # crash matrix: a batch whose manifest never committed is invisible
    # — simulated the monkeypatch-free way (a stray uncommitted append)
    _vecs(spark, [(999, _axis(13))]).write.mode("append").parquet(sink)
    assert {
        r["vec_id"]
        for r in MS.read_manifest_sink(spark, sink).collect()
    } == {201}
    # the next committed batch vacuums the orphan and admits normally
    _drop([(400, _axis(14))], "c.parquet")
    run_streaming_vector_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt_m3"), idx,
        max_files_per_trigger=1,
    )
    assert {
        r["vec_id"]
        for r in MS.read_manifest_sink(spark, sink).collect()
    } == {201, 400}


def test_cli_ingest_vectors_manifest(spark, tmp_path, capsys):
    from haensel_ams_data_engineer_challenge_spark.__main__ import main
    from haensel_ams_data_engineer_challenge_spark.operators import (
        manifest_sink as MS,
    )

    corpus_path = str(tmp_path / "corpus")
    _vecs(spark, CORPUS).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    tmp = str(tmp_path / "__stage")
    _vecs(spark, [(501, _axis(7))]).repartition(1).write.parquet(tmp)
    shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/a.parquet")
    work = str(tmp_path / "wd")
    rc = main([
        "ingest-vectors", "--corpus-parquet", corpus_path,
        "--feed-dir", feed, "--work-dir", work,
    ])
    assert rc == 0
    assert "admitted_total=1" in capsys.readouterr().out
    committed = MS.read_manifest_sink(spark, f"{work}/admitted_vectors")
    assert {r["vec_id"] for r in committed.collect()} == {501}


def _nd(i, dim, eps_at=None, eps=0.0):
    v = [0.0] * dim
    v[i] = 1.0
    if eps_at is not None:
        v[eps_at] = eps
    return v


def test_lsh_family_handles_non_default_dim(spark, tmp_path):
    """Round-12 fix: a non-64-dim vector space under the 64-dim
    hyperplane default collapsed EVERY bucket to 0 (zip_with against a
    wrong-length plane nulls the dot) — correct answers via the exact
    verify, quadratic candidates at scale.  With dim threaded, buckets
    spread; the index marker pins non-default dims so a mismatched
    append refuses."""
    import pytest

    from haensel_ams_data_engineer_challenge_spark.operators.similarity import (
        banded_bucket_rows,
        lsh_index_append,
    )

    DIM = 100
    rows = [(i, _nd(i % DIM, DIM)) for i in range(40)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # the failure mode: default planes -> one bucket for everything
    degenerate = banded_bucket_rows(vecs, bands=4, planes_per_band=3)
    assert degenerate.select("bucket").distinct().count() == 1
    # the fix: dim-sized planes spread the buckets
    spread = banded_bucket_rows(vecs, bands=4, planes_per_band=3, dim=DIM)
    assert spread.select("bucket").distinct().count() > 4

    idx = str(tmp_path / "vidx100")
    buckets = lsh_index_persistent(
        vecs, idx, tables=8, planes_per_table=3, dim=DIM
    )
    assert buckets.select("bucket").distinct().count() > 4
    from haensel_ams_data_engineer_challenge_spark.operators.artifact_manifest import (
        artifact_open,
    )

    assert artifact_open(spark, idx).params["dim"] == str(DIM)
    # appending at the default dim refuses (would poison every probe)
    more = spark.createDataFrame(
        [(1000, _nd(7, DIM))], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dim"):
        lsh_index_append(
            more, artifact_open(spark, idx), tables=8, planes_per_table=3
        )
    lsh_index_append(
        more, artifact_open(spark, idx), tables=8, planes_per_table=3,
        dim=DIM,
    )
    # and a 64-dim index refuses a non-default-dim append
    idx64 = str(tmp_path / "vidx64")
    v64 = spark.createDataFrame(
        [(1, _nd(0, 64))], "vec_id long, embedding array<double>"
    )
    lsh_index_persistent(v64, idx64, tables=8, planes_per_table=3)
    with pytest.raises(ValueError, match="dim"):
        lsh_index_append(
            v64, artifact_open(spark, idx64), tables=8, planes_per_table=3,
            dim=100,
        )
    # the SERVE path refuses too (second review pass: the subset param
    # check is one-directional — a default-dim caller omits the key
    # and would hash its probes with the wrong plane family)
    with pytest.raises(ValueError, match="dim"):
        lsh_index_persistent(vecs, idx, tables=8, planes_per_table=3)


def test_streaming_vector_ingest_non_default_dim(spark, tmp_path):
    """The vector stream probes the corpus dim once driver-side: a
    100-dim feed dedups correctly AND its index buckets spread (not
    the bucket-0 collapse)."""
    import glob as g
    import os as o
    import shutil as sh

    from haensel_ams_data_engineer_challenge_spark.streaming.vectors import (
        run_streaming_vector_ingest,
    )

    DIM = 100
    schema = "vec_id long, embedding array<double>"
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, _nd(i, DIM)) for i in range(3)], schema
    ).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")
    o.makedirs(feed, exist_ok=True)
    tmp = str(tmp_path / "__stage")
    spark.createDataFrame(
        [
            (100, _nd(0, DIM, eps_at=50, eps=0.02)),  # near-dup of 0
            (101, _nd(77, DIM)),                       # novel
        ],
        schema,
    ).repartition(1).write.parquet(tmp)
    sh.copy(g.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/a.parquet")
    sink = str(tmp_path / "admitted")
    idx = str(tmp_path / "vidx")
    run_streaming_vector_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"), idx,
    )
    assert {r["vec_id"] for r in spark.read.parquet(sink).collect()} == {101}
    n_buckets = (
        spark.read.parquet(f"{idx}/buckets")
        .select("bucket").distinct().count()
    )
    assert n_buckets > 4  # spread, not the bucket-0 collapse


def test_streaming_vector_ingest_empty_corpus_bootstrap(spark, tmp_path):
    """Second review pass: an EMPTY corpus must not fall back to the
    64-dim default (that would rebuild the bucket-collapse bug and pin
    a poisoned index) — the plane family sizes from the first batch."""
    import glob as g
    import os as o
    import shutil as sh

    from haensel_ams_data_engineer_challenge_spark.streaming.vectors import (
        run_streaming_vector_ingest,
    )

    DIM = 100
    schema = "vec_id long, embedding array<double>"
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame([], schema).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")
    o.makedirs(feed, exist_ok=True)
    tmp = str(tmp_path / "__stage")
    spark.createDataFrame(
        [(100, _nd(0, DIM)), (101, _nd(0, DIM, eps_at=50, eps=0.02))],
        schema,
    ).repartition(1).write.parquet(tmp)
    sh.copy(g.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/a.parquet")
    sink = str(tmp_path / "admitted")
    idx = str(tmp_path / "vidx")
    run_streaming_vector_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"), idx,
    )
    # within-batch near-dup collapsed; index pinned at the BATCH dim
    assert {r["vec_id"] for r in spark.read.parquet(sink).collect()} == {100}
    from haensel_ams_data_engineer_challenge_spark.operators.artifact_manifest import (
        artifact_open,
    )

    assert artifact_open(spark, idx).params["dim"] == str(DIM)
