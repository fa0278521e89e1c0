"""Streaming MEDIA ingestion (round 12): payload batches embed through
the encoder seam, dedup against corpus + earlier batches via the
persisted LSH index + the vectors side-store; featureless payloads
bypass the semantic tier; the index pins the embedder identity."""

from __future__ import annotations

import glob as _glob
import hashlib
import os
import shutil
import struct

import pytest
from pyspark.sql import functions as F

SCHEMA = "doc_id long, payload binary"


def _wav(samples):
    data = struct.pack(f"<{len(samples)}h", *samples)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _clip(src: int, gain: int = 1) -> list[int]:
    """Distinct-envelope clip per src (md5-weighted bumps): cross-src
    cosine ~0, gain copies scale features exactly."""
    n = 1200 + (src * 37) % 300
    d = hashlib.md5(b"t|%d" % src).digest()
    ws = [1 + d[b] % 7 for b in range(12)]
    half = n // 12
    centers = [(2 * b + 1) * n // 24 for b in range(12)]
    return [
        (((j + src) % 5) - 2)
        * (20 + sum(w * max(0, half - abs(j - c))
                    for w, c in zip(ws, centers)) // 15)
        * gain
        for j in range(n)
    ]


def _media(spark, rows):
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in rows], SCHEMA
    )


def _drop(spark, tmp_path, feed, rows, name):
    tmp = str(tmp_path / f"__stage_{name}")
    _media(spark, rows).repartition(1).write.parquet(tmp)
    os.makedirs(feed, exist_ok=True)
    shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/{name}")


CORPUS = [(1, _wav(_clip(1))), (2, _wav(_clip(2))), (3, _wav(_clip(3)))]
OPUS = b"opus-encoded bytes the stdlib cannot decode"


def _setup(spark, tmp_path):
    from haensel_ams_data_engineer_challenge_spark.multimodal.audioembed import (
        audio_encoder_build,
    )

    corpus_path = str(tmp_path / "corpus")
    _media(spark, CORPUS).write.parquet(corpus_path)
    enc = str(tmp_path / "enc")
    audio_encoder_build(spark, enc)
    feed = str(tmp_path / "feed")
    # batch A: 200 = gain dup of corpus 1 (rejected via the index);
    # 201 = novel; 202 = gain dup of 201 (within-batch, rejected);
    # 203 = silence (featureless -> admitted by contract);
    # 204 = undecodable bytes (fake rung, novel -> admitted)
    _drop(spark, tmp_path, feed, [
        (200, _wav(_clip(1, gain=2))),
        (201, _wav(_clip(9))),
        (202, _wav(_clip(9, gain=3))),
        (203, _wav([0] * 900)),
        (204, OPUS),
    ], "a.parquet")
    # batch B: 300 = gain dup of A's admitted 201 (only the APPENDED
    # index + vectors store know it); 301 = byte-identical re-upload
    # of the undecodable 204 (fake rung cosine 1.0 -> rejected)
    _drop(spark, tmp_path, feed, [
        (300, _wav(_clip(9, gain=2))),
        (301, OPUS),
    ], "b.parquet")
    return corpus_path, enc, feed


def test_streaming_media_ingest_e2e(spark, tmp_path):
    from haensel_ams_data_engineer_challenge_spark.streaming.media import (
        run_streaming_media_ingest,
    )

    corpus_path, enc, feed = _setup(spark, tmp_path)
    sink = str(tmp_path / "admitted")
    idx = str(tmp_path / "midx")
    vecs = str(tmp_path / "mvecs")
    run_streaming_media_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"), idx,
        vecs, enc, max_files_per_trigger=1,
    )
    got = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    assert got == {201, 203, 204}
    # vectors side-store: corpus bootstrap + admitted FEATURED media
    # (silence has no vector; the fake-rung 204 does)
    vec_ids = {r["vec_id"] for r in spark.read.parquet(vecs).collect()}
    assert vec_ids == {1, 2, 3, 201, 204}
    # admitted payloads survive byte-identical (the sink is media)
    by_id = {
        r["doc_id"]: bytes(r["payload"])
        for r in spark.read.parquet(sink).collect()
    }
    assert by_id[201] == _wav(_clip(9)) and by_id[204] == OPUS

    # replay with a fresh checkpoint: everything idempotent
    before = sorted(
        map(tuple, spark.read.parquet(f"{idx}/buckets").collect())
    )
    run_streaming_media_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt2"), idx,
        vecs, enc, max_files_per_trigger=1,
    )
    assert {r["doc_id"] for r in spark.read.parquet(sink).collect()} == got
    assert {r["vec_id"] for r in spark.read.parquet(vecs).collect()} == vec_ids
    assert sorted(
        map(tuple, spark.read.parquet(f"{idx}/buckets").collect())
    ) == before


def test_media_ingest_pins_embedder_identity(spark, tmp_path):
    """An index built under one encoder refuses a run under another —
    mixing vector spaces in one artifact would silently poison every
    probe (the semantic-text-ingest rule)."""
    from haensel_ams_data_engineer_challenge_spark.multimodal.imgembed import (
        image_encoder_build,
    )
    from haensel_ams_data_engineer_challenge_spark.streaming.media import (
        run_streaming_media_ingest,
    )

    corpus_path, enc, feed = _setup(spark, tmp_path)
    sink = str(tmp_path / "admitted")
    idx = str(tmp_path / "midx")
    vecs = str(tmp_path / "mvecs")
    run_streaming_media_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"), idx,
        vecs, enc,
    )
    other = str(tmp_path / "imgenc")
    image_encoder_build(spark, other)
    with pytest.raises(Exception, match="built with"):
        run_streaming_media_ingest(
            spark, corpus_path, feed, sink, str(tmp_path / "ckpt3"), idx,
            vecs, other,
        )
    # and a missing encoder artifact refuses driver-side
    with pytest.raises(ValueError, match="no committed encoder"):
        run_streaming_media_ingest(
            spark, corpus_path, feed, sink, str(tmp_path / "ckpt4"), idx,
            vecs, str(tmp_path / "nope"),
        )


def test_cli_ingest_media(spark, tmp_path, capsys):
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    corpus_path, _enc, feed = _setup(spark, tmp_path)
    work = str(tmp_path / "wd")
    rc = main([
        "ingest-media", "--corpus-parquet", corpus_path,
        "--feed-dir", feed, "--work-dir", work, "--modality", "audio",
        "--max-files-per-trigger", "1",
    ])
    assert rc == 0
    assert "admitted_total=3" in capsys.readouterr().out
    got = {
        r["doc_id"]
        for r in spark.read.parquet(f"{work}/admitted_media").collect()
    }
    assert got == {201, 203, 204}
    # flag pairing: neither --modality nor --encoder-model is an error
    rc = main([
        "ingest-media", "--corpus-parquet", corpus_path,
        "--feed-dir", feed, "--work-dir", str(tmp_path / "wd2"),
    ])
    assert rc == 2


def test_cli_ingest_media_manifest(spark, tmp_path, capsys):
    from haensel_ams_data_engineer_challenge_spark.__main__ import main
    from haensel_ams_data_engineer_challenge_spark.operators.manifest_sink import (
        read_manifest_sink,
    )

    corpus_path, _enc, feed = _setup(spark, tmp_path)
    work = str(tmp_path / "wd")
    rc = main([
        "ingest-media", "--corpus-parquet", corpus_path,
        "--feed-dir", feed, "--work-dir", work, "--modality", "audio",
    ])
    assert rc == 0
    assert "admitted_total=3" in capsys.readouterr().out
    got = {
        r["doc_id"]
        for r in read_manifest_sink(spark, f"{work}/admitted_media").collect()
    }
    assert got == {201, 203, 204}


def test_cli_search_media(spark, tmp_path, capsys):
    """Query-by-example over media (round 12): a gain copy of corpus
    clip 5 finds doc 5 at rank 1 / cosine ~1 through the persistent
    ANN index + the audio-v1 seam; flag misuse errors cleanly."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main
    from haensel_ams_data_engineer_challenge_spark.multimodal.audioembed import (
        audio_encoder_build,
    )

    src = str(tmp_path / "media.parquet")
    _media(
        spark, [(i, _wav(_clip(i))) for i in range(1, 31)]
    ).write.parquet(src)
    enc = str(tmp_path / "enc")
    audio_encoder_build(spark, enc)
    qp = str(tmp_path / "queries.parquet")
    spark.createDataFrame(
        [
            (9001, bytearray(_wav(_clip(5, gain=2)))),
            (9002, bytearray(_wav(_clip(99)))),
        ],
        "query_id long, payload binary",
    ).write.parquet(qp)
    work = str(tmp_path / "wd")
    rc = main([
        "search", "--media-parquet", src, "--work-dir", work,
        "--queries-parquet", qp, "--k", "3", "--method", "ann",
        "--encoder-model", enc,
    ])
    assert rc == 0
    assert "method=ann queries=2" in capsys.readouterr().out
    hits = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in spark.read.parquet(f"{work}/search_hits").collect()
    }
    doc, score = hits[(9001, 1)]
    # the index scores from its stored int8 vectors: ~1, not ==1
    assert doc == 5 and score > 0.9999
    assert hits[(9002, 1)][1] < 0.9  # novel clip matches nothing well

    # flag misuse: media without ann/encoder, or no corpus at all
    assert main([
        "search", "--media-parquet", src, "--work-dir", work,
        "--queries-parquet", qp, "--method", "ann",
    ]) == 2
    assert main([
        "search", "--media-parquet", src, "--work-dir", work,
        "--queries-parquet", qp, "--method", "bm25",
    ]) == 2
    assert main([
        "search", "--work-dir", work, "--queries-parquet", qp,
    ]) == 2


def test_cli_ingest_media_image_modality(spark, tmp_path, capsys):
    """The image side of the same flow: a brightness-shifted PNG
    recolor (feature-identical by the centering identity) rejects
    against the corpus; a novel texture admits; a constant image is
    featureless and admits by contract."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main
    from haensel_ams_data_engineer_challenge_spark.multimodal import phash as PH

    def tex(seed, w=40, h=32, shift=0):
        return [
            (seed * 31 + x * 7 + y * 13 + ((x * y) % 17) * 5) % 200 + shift
            for y in range(h) for x in range(w)
        ]

    corpus_path = str(tmp_path / "icorpus")
    _media(spark, [
        (1, PH.png_encode_gray(tex(1), 40, 32)),
        (2, PH.png_encode_gray(tex(2), 40, 32)),
    ]).write.parquet(corpus_path)
    feed = str(tmp_path / "ifeed")
    _drop(spark, tmp_path, feed, [
        (100, PH.png_encode_gray(tex(1, shift=30), 40, 32)),  # recolor of 1
        (101, PH.png_encode_gray(tex(7), 40, 32)),            # novel
        (102, PH.png_encode_gray([128] * (16 * 16), 16, 16)),  # constant
    ], "a.parquet")
    work = str(tmp_path / "iwd")
    rc = main([
        "ingest-media", "--corpus-parquet", corpus_path,
        "--feed-dir", feed, "--work-dir", work, "--modality", "image",
    ])
    assert rc == 0
    assert "admitted_total=2" in capsys.readouterr().out
    got = {
        r["doc_id"]
        for r in spark.read.parquet(f"{work}/admitted_media").collect()
    }
    assert got == {101, 102}
