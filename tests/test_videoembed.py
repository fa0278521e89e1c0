"""Video sample tier (multimodal/videoembed.py, round 13): MJPEG/AVI
demux + sampled JPEG frame decode -> pooled video-v1 clip features
through the encoder seam — re-encoded / re-graded / trimmed clip
duplicates caught with zero codec libraries."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from haensel_ams_data_engineer_challenge_spark.multimodal import videoembed as V
from haensel_ams_data_engineer_challenge_spark.multimodal.jpeg import (
    jpeg_encode_gray,
)

W, H = 24, 16


def _frame_pixels(src: int, f: int, shift: int = 0) -> list[int]:
    """Textured, src-keyed frame pixels in [60, 179+shift]: the +40
    brightness twin peaks at 219, so DCT ringing never reaches a clamp
    bound in either variant — clamping is the one nonlinearity that
    would break the exact brightness-cancellation identity."""
    fx, fy = 2 + src % 7, 3 + (src * 3) % 11
    return [
        ((x * fx + y * fy + f * 11 + src * 37 + (x * y) % (5 + src % 5))
         % 120)
        + 60 + shift
        for y in range(H)
        for x in range(W)
    ]


def _clip(src: int, quality: int = 85, shift: int = 0, n_frames: int = 3,
          fps: int = 10) -> bytes:
    frames = [
        jpeg_encode_gray(_frame_pixels(src, f, shift), W, H, quality=quality)
        for f in range(n_frames)
    ]
    return V.avi_encode_mjpeg(frames, W, H, fps=fps)


def _cos(a, b) -> float:
    a, b = np.asarray(a), np.asarray(b)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_avi_roundtrip_and_rejections():
    frames = [
        jpeg_encode_gray(_frame_pixels(1, f), W, H, quality=85)
        for f in range(3)
    ]
    avi = V.avi_encode_mjpeg(frames, W, H)
    parsed = V.parse_avi_mjpeg(avi)
    assert parsed is not None
    pw, ph, spans = parsed
    assert (pw, ph) == (W, H) and len(spans) == 3
    for (off, size), f in zip(spans, frames):
        assert avi[off : off + size] == f
    # non-AVI RIFF, non-RIFF, and a foreign codec all fall to None
    assert V.parse_avi_mjpeg(b"RIFF\x10\x00\x00\x00WAVEfmt ") is None
    assert V.parse_avi_mjpeg(b"not a container") is None
    h264 = avi.replace(b"vidsMJPG", b"vidsH264")
    assert V.parse_avi_mjpeg(h264) is None
    # truncated mid-movi: the walker stops at the malformed size and
    # whatever frames are complete still parse — never a raise
    assert V.parse_avi_mjpeg(avi[: len(avi) // 2]) is None or True


def test_sample_frame_indices():
    assert V.sample_frame_indices(3, 4) == [0, 1, 2]  # F <= n: all
    assert V.sample_frame_indices(4, 4) == [0, 1, 2, 3]
    assert V.sample_frame_indices(100, 4) == [0, 25, 50, 75]
    assert V.sample_frame_indices(1, 4) == [0]


def test_duplicate_regimes():
    """The tier's duplicate classes: re-encode ~1, re-grade exactly 1,
    trim high, distinct clip low."""
    base = V.video_features(_clip(1, quality=85))
    reenc = V.video_features(_clip(1, quality=65))
    regrade = V.video_features(_clip(1, quality=85, shift=40))
    trimmed = V.video_features(_clip(1, quality=85, n_frames=2))
    other = V.video_features(_clip(2, quality=85))
    assert base is not None
    assert _cos(base, reenc) > 0.99, "re-encoded clip not near-dup"
    # brightness cancels in the features, but JPEG is lossy: the
    # decoded delta under a +c shift is 8c*t^2 = c +- ~1e-13, so a
    # pixel sitting exactly on a rounding boundary can move one gray,
    # moving one box mean by one and cosine by ~1e-5 (src 5 measures
    # one such pixel; src 1 none) — exactly 1.0 only in the lossless
    # block-constant regime the gate arm pins
    assert _cos(base, regrade) > 0.9999, "re-grade must cancel"
    assert _cos(base, trimmed) > 0.9, "mild trim should degrade gracefully"
    assert _cos(base, other) < 0.8, "distinct clips too close"


def test_constant_frames_have_no_direction():
    frames = [jpeg_encode_gray([128] * (W * H), W, H, 50) for _ in range(2)]
    avi = V.avi_encode_mjpeg(frames, W, H)
    assert V.video_features(avi) is None
    assert V._PreparedVideo(8, 4).encode_payload(avi) is None


def test_fake_rung_for_foreign_containers():
    """A non-MJPEG payload embeds via the byte-keyed fake rung so a
    byte-exact re-upload still lands at cosine 1.0."""
    enc = V._PreparedVideo(8, 4)
    a = enc.encode_payload(b"webm bytes the stdlib cannot decode")
    b = enc.encode_payload(b"webm bytes the stdlib cannot decode")
    c = enc.encode_payload(b"different webm bytes")
    assert a is not None and a == b
    assert _cos(a, c) < 0.99


def test_seam_e2e_and_ladder_refusal(spark, tmp_path):
    from haensel_ams_data_engineer_challenge_spark.operators.artifact_manifest import (
        artifact_overwrite,
    )
    from haensel_ams_data_engineer_challenge_spark.operators.embed import (
        embed_with_model,
    )

    model = str(tmp_path / "videnc")
    V.video_encoder_build(spark, model)
    V.video_encoder_build(spark, model)  # idempotent no-op
    rows = [
        (1, bytearray(_clip(1))),
        (2, bytearray(_clip(1, shift=40))),   # re-graded twin
        (3, bytearray(_clip(7))),
        (4, bytearray(
            V.avi_encode_mjpeg(
                [jpeg_encode_gray([100] * (W * H), W, H, 50)], W, H
            )
        )),                                    # featureless
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in embed_with_model(df, model).collect()
    }
    assert set(vecs) == {1, 2, 3}, "featureless clip must be absent"
    assert _cos(vecs[1], vecs[2]) > 0.9999  # re-grade (see above)
    # worker-side parity with the direct function
    assert vecs[1] == V.video_features(_clip(1))

    old = str(tmp_path / "oldvid")
    artifact_overwrite(
        spark, old, {},
        {"kind": "encoder", "encoder": "video-v1", "dim": 64, "grid": 8,
         "frames": 4, "version": "cafe00000000"},
        None,
    )
    with pytest.raises(ValueError, match="ladder"):
        embed_with_model(df, old).collect()

    with pytest.raises(ValueError, match="dim must equal"):
        V.video_encoder_build(spark, str(tmp_path / "bad"), dim=32)


def test_cli_ingest_media_video_e2e(spark, tmp_path, capsys):
    """ingest-media --modality video: re-encoded corpus dup rejected
    via the persisted index, within-batch re-grade collapsed, novel +
    featureless + foreign-container clips admitted; batch B's dup of
    batch A's admission rejected through the side-store."""
    import glob as _glob
    import os
    import shutil

    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    def drop(feed, rows, name):
        tmp = str(tmp_path / f"__stage_{name}")
        spark.createDataFrame(
            [(i, bytearray(p)) for i, p in rows],
            "doc_id long, payload binary",
        ).repartition(1).write.parquet(tmp)
        os.makedirs(feed, exist_ok=True)
        shutil.copy(
            _glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/{name}"
        )

    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, bytearray(_clip(i))) for i in (1, 2, 3)],
        "doc_id long, payload binary",
    ).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")
    flat = V.avi_encode_mjpeg(
        [jpeg_encode_gray([90] * (W * H), W, H, 50)], W, H
    )
    drop(feed, [
        (200, _clip(1, quality=65)),   # re-encode of corpus 1 -> reject
        (201, _clip(9)),               # novel -> admit
        (202, _clip(9, shift=40)),     # re-grade of 201 -> reject
        (203, flat),                   # featureless -> admit by contract
        (204, b"webm bytes"),          # fake rung, novel -> admit
    ], "a.parquet")
    drop(feed, [
        (300, _clip(9, quality=60)),   # dup of A's 201 via side-store
        (301, b"webm bytes"),          # byte-exact re-upload -> reject
    ], "b.parquet")

    work = str(tmp_path / "work")
    rc = main([
        "ingest-media", "--corpus-parquet", corpus_path,
        "--feed-dir", feed, "--work-dir", work,
        "--modality", "video", "--max-files-per-trigger", "1",
    ])
    assert rc == 0
    assert "admitted_total=3" in capsys.readouterr().out
    got = {
        r["doc_id"]
        for r in spark.read.parquet(f"{work}/admitted_media").collect()
    }
    assert got == {201, 203, 204}


def test_cli_dedup_video_e2e(spark, tmp_path, capsys):
    """Product surface: dedup-video clusters the re-encode and the
    re-grade under the base, keeps the distinct clip, the
    constant-frame clip (no direction -> singleton) and treats a
    non-MJPEG container byte-exactly (its re-upload drops)."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    flat = V.avi_encode_mjpeg(
        [jpeg_encode_gray([90] * (W * H), W, H, 50)], W, H
    )
    rows = [
        (1, bytearray(_clip(1, quality=85))),
        (2, bytearray(_clip(1, quality=65))),   # re-encode
        (3, bytearray(_clip(1, shift=40))),     # re-grade (cosine 1.0)
        (4, bytearray(_clip(7))),               # distinct
        (5, bytearray(flat)),                   # featureless
        (6, bytearray(b"webm bytes")),          # fake rung
        (7, bytearray(b"webm bytes")),          # byte-exact re-upload
    ]
    src = str(tmp_path / "clips.parquet")
    spark.createDataFrame(rows, "doc_id long, payload binary").write.parquet(src)
    work = str(tmp_path / "work")
    rc = main(["dedup-video", "--videos-parquet", src, "--work-dir", work])
    assert rc == 0
    out = capsys.readouterr().out
    assert "method=clip clips=7 survivors=4 dropped=3" in out
    assert "featured=6" in out  # the constant clip has no vector
    surv = {
        r["doc_id"]: r["is_survivor"]
        for r in spark.read.parquet(f"{work}/video_survivors").collect()
    }
    assert surv == {1: True, 2: False, 3: False, 4: True,
                    5: True, 6: True, 7: False}

    # a foreign encoder kind refuses with exit 2
    from haensel_ams_data_engineer_challenge_spark.multimodal.imgembed import (
        image_encoder_build,
    )

    img = str(tmp_path / "imgenc")
    image_encoder_build(spark, img)
    rc = main([
        "dedup-video", "--videos-parquet", src,
        "--work-dir", str(tmp_path / "w2"), "--encoder-model", img,
    ])
    assert rc == 2


def test_cli_search_video_query_by_example(spark, tmp_path, capsys):
    """Query-by-example over VIDEO (round 13): a re-graded copy of
    corpus clip 5 finds doc 5 at rank 1 / cosine 1.0 through the
    persistent ANN index + the video-v1 seam — the encoder-kind-
    generic search surface needed zero changes."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    src = str(tmp_path / "media.parquet")
    spark.createDataFrame(
        [(i, bytearray(_clip(i))) for i in range(1, 25)],
        "doc_id long, payload binary",
    ).write.parquet(src)
    enc = str(tmp_path / "enc")
    V.video_encoder_build(spark, enc)
    qp = str(tmp_path / "queries.parquet")
    spark.createDataFrame(
        [
            (9001, bytearray(_clip(5, shift=40))),   # re-grade of doc 5
            (9002, bytearray(_clip(99))),            # novel
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
    assert doc == 5 and score > 0.9999  # lossy re-grade: ~1, not ==1
    assert hits[(9002, 1)][1] < 0.9


# ---------------------------------------------------------------------------
# round 14 (r13 verdict task 3): animated GIFs are clips
# ---------------------------------------------------------------------------


def _gif_frames(src: int, n_frames: int = 3, shift: int = 0) -> list[list[int]]:
    """Animation frames: a static textured background with a bright
    patch moving one step per frame — only the patch region changes,
    so the delta writer's bounding rect is a REAL sub-rect (the full
    and delta encodings are byte-different)."""
    base = _frame_pixels(src, 0, shift)
    frames = []
    for f in range(n_frames):
        frame = list(base)
        left, top = 2 + 3 * f, 1 + 2 * f
        for dy in range(4):
            for dx in range(4):
                frame[(top + dy) * W + left + dx] = 200 + shift
        frames.append(frame)
    return frames


def _gif_clip(src: int, n_frames: int = 3, delta: bool = True,
              shift: int = 0) -> bytes:
    from haensel_ams_data_engineer_challenge_spark.multimodal.gif import (
        gif_encode_gray_animation,
    )

    return gif_encode_gray_animation(
        _gif_frames(src, n_frames, shift), W, H, delta=delta
    )


def test_gif_animation_duplicate_regimes():
    """Animated GIF clips ride the frame sampler: a delta-optimized
    re-encode of the same animation is byte-different but lands at
    cosine EXACTLY 1 (GIF is lossless, composition identical); a trim
    degrades gracefully; distinct animations stay apart; the
    brightness re-grade cancels exactly (lossless pixels)."""
    base = V.video_features(_gif_clip(1, delta=False))
    reenc = V.video_features(_gif_clip(1, delta=True))
    regrade = V.video_features(_gif_clip(1, delta=False, shift=40))
    trimmed = V.video_features(_gif_clip(1, n_frames=2, delta=False))
    other = V.video_features(_gif_clip(2, delta=False))
    assert base is not None
    assert _gif_clip(1, delta=False) != _gif_clip(1, delta=True)
    assert base == reenc, "delta re-encode must pool identically"
    assert base == regrade, "lossless brightness shift must cancel"
    assert 0.9 < _cos(base, trimmed) < 1.0
    assert _cos(base, other) < 0.8


def test_gif_cross_container_rewrap_near_dup():
    """The same frame sequence wrapped as an animated GIF and as an
    MJPEG AVI lands at high cosine — the cross-container re-wrap the
    shared frame-sampler + pooling design exists to catch (JPEG is
    lossy, so near, not exact)."""
    frames = _gif_frames(3, n_frames=3)
    gif_vec = V.video_features(_gif_clip(3, n_frames=3, delta=False))
    avi = V.avi_encode_mjpeg(
        [jpeg_encode_gray(f, W, H, quality=95) for f in frames], W, H
    )
    avi_vec = V.video_features(avi)
    assert gif_vec is not None and avi_vec is not None
    assert _cos(gif_vec, avi_vec) > 0.99


def test_single_frame_gif_is_not_a_clip():
    """A single-frame GIF belongs to the image tier: video_features
    returns None and the encoder seam routes it to the byte-keyed
    fake rung (not the all-constant-clip absent contract)."""
    from haensel_ams_data_engineer_challenge_spark.multimodal.gif import (
        gif_encode_gray,
        gif_frame_count,
    )

    single = gif_encode_gray(_frame_pixels(1, 0), W, H)
    assert gif_frame_count(single) == 1
    assert V.video_features(single) is None
    enc = V._PreparedVideo(8, 4)
    v1 = enc.encode_payload(single)
    v2 = enc.encode_payload(single)
    assert v1 is not None and v1 == v2  # fake rung, byte-keyed

    # an all-constant ANIMATION is a real clip with no direction
    const = _gif_clip(1, delta=False)
    from haensel_ams_data_engineer_challenge_spark.multimodal.gif import (
        gif_encode_gray_animation,
    )

    const = gif_encode_gray_animation(
        [[128] * (W * H)] * 3, W, H, delta=False
    )
    assert V.video_features(const) is None
    assert enc.encode_payload(const) is None


def test_gif_disposal_composition_matters():
    """Disposal-method composition is live in the clip path: a frame
    drawn with restore-to-background disposal leaves bg for the next
    frame, changing its composed pixels (and the pooled vector) vs
    leave-in-place."""
    from haensel_ams_data_engineer_challenge_spark.multimodal.gif import (
        decode_gif_frames,
    )

    def anim(disposal: int) -> bytes:
        from haensel_ams_data_engineer_challenge_spark.multimodal.gif import (
            _gif_sub_blocks,
            _lzw_encode,
        )
        import struct as _s

        gct = bytes(v for g in range(256) for v in (g, g, g))
        full = _frame_pixels(4, 0)
        patch = [250] * 16  # 4x4 patch frame at (2, 2)
        out = bytearray(
            b"GIF89a" + _s.pack("<HH", W, H) + bytes([0xF7, 7, 0]) + gct
        )
        for k, (l, t, fw, fh, px) in enumerate(
            [(0, 0, W, H, full), (2, 2, 4, 4, patch), (0, 0, 1, 1, [full[0]])]
        ):
            out += (
                b"\x21\xf9\x04"
                + bytes([(disposal if k == 1 else 1) << 2])
                + _s.pack("<H", 4) + bytes([0, 0])
            )
            out += (
                b"\x2c" + _s.pack("<HHHH", l, t, fw, fh) + b"\x00"
                + bytes([8]) + _gif_sub_blocks(_lzw_encode(px, 8))
            )
        out += b"\x3b"
        return bytes(out)

    leave = decode_gif_frames(anim(1))
    tobg = decode_gif_frames(anim(2))
    assert leave is not None and tobg is not None
    # frame 2 (after the patch frame) differs: leave keeps the patch,
    # restore-to-bg wipes it to the background luma (GCT entry 7 = 7)
    f2_leave = leave[2][2]
    f2_tobg = tobg[2][2]
    at = 3 * W + 3  # inside the patch rect
    assert f2_leave[at] == 250
    assert f2_tobg[at] == 7


def test_cli_dedup_video_accepts_gif_animations(spark, tmp_path, capsys):
    """Product surface (r13 verdict task 3): animated GIFs flow
    through dedup-video — the delta re-encode and the lossless
    re-grade cluster under the base; a cross-container MJPEG re-wrap
    of the SAME frames clusters too; a single-frame GIF stays a
    byte-keyed singleton on the fake rung."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main
    from haensel_ams_data_engineer_challenge_spark.multimodal.gif import (
        gif_encode_gray,
    )

    rewrap = V.avi_encode_mjpeg(
        [
            jpeg_encode_gray(f, W, H, quality=95)
            for f in _gif_frames(1, n_frames=3)
        ],
        W, H,
    )
    rows = [
        (1, bytearray(_gif_clip(1, delta=False))),
        (2, bytearray(_gif_clip(1, delta=True))),    # delta re-encode
        (3, bytearray(_gif_clip(1, shift=40))),      # lossless re-grade
        (4, bytearray(rewrap)),                      # GIF -> AVI re-wrap
        (5, bytearray(_gif_clip(6, delta=False))),   # distinct animation
        (6, bytearray(gif_encode_gray(_frame_pixels(1, 0), W, H))),  # single
    ]
    src = str(tmp_path / "gifs.parquet")
    spark.createDataFrame(rows, "doc_id long, payload binary").write.parquet(src)
    work = str(tmp_path / "work")
    rc = main(["dedup-video", "--videos-parquet", src, "--work-dir", work])
    assert rc == 0
    surv = {
        r["doc_id"]: r["is_survivor"]
        for r in spark.read.parquet(f"{work}/video_survivors").collect()
    }
    assert surv[1] is True
    assert surv[2] is False and surv[3] is False  # GIF re-encodes fold in
    assert surv[4] is False                       # cross-container re-wrap
    assert surv[5] is True                        # distinct animation kept
    assert surv[6] is True                        # single-frame GIF: image tier


def test_mp4_mjpeg_sample_tier():
    """r13 verdict task 4: JPEG-coded MP4/MOV clips dedup at frame
    level — the SAME frames wrapped as AVI and as MP4 pool to the
    IDENTICAL vector (byte-identical sampled frames); stco and co64
    parse alike; non-jpeg codecs still fall to the fake rung."""
    frames = [
        jpeg_encode_gray(_frame_pixels(2, f), W, H, quality=85)
        for f in range(5)
    ]
    avi = V.avi_encode_mjpeg(frames, W, H)
    mp4 = V.mp4_encode_mjpeg(frames, W, H)
    mp4_64 = V.mp4_encode_mjpeg(frames, W, H, co64=True)
    va = V.video_features(avi)
    vm = V.video_features(mp4)
    v64 = V.video_features(mp4_64)
    assert va is not None
    assert va == vm == v64, "cross-container re-wrap must pool equally"

    # header metadata tier reads the same payload (codec visible)
    from haensel_ams_data_engineer_challenge_spark.multimodal.binary import (
        parse_video_header,
    )

    hdr = parse_video_header(mp4)
    assert hdr is not None and hdr[0] == "mp4" and "jpeg" in hdr[5]

    # an avc1-coded MP4 has no JPEG samples: fake rung (byte-keyed)
    avc = mp4.replace(b"jpeg", b"avc1")
    assert V.parse_mp4_mjpeg(avc) is None
    enc = V._PreparedVideo(8, 4)
    assert enc.encode_payload(avc) == enc.encode_payload(avc)
    assert enc.encode_payload(avc) is not None

    # a truncated mdat (span past payload) falls out cleanly
    assert V.parse_mp4_mjpeg(mp4[: len(mp4) // 3]) is None


def test_cli_dedup_video_accepts_mp4(spark, tmp_path, capsys):
    """dedup-video clusters an MP4 re-wrap under its AVI base."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    frames = [
        jpeg_encode_gray(_frame_pixels(1, f), W, H, quality=85)
        for f in range(3)
    ]
    rows = [
        (1, bytearray(V.avi_encode_mjpeg(frames, W, H))),
        (2, bytearray(V.mp4_encode_mjpeg(frames, W, H))),  # re-wrap
        (3, bytearray(_clip(7))),                           # distinct
    ]
    src = str(tmp_path / "clips.parquet")
    spark.createDataFrame(rows, "doc_id long, payload binary").write.parquet(src)
    work = str(tmp_path / "work")
    rc = main(["dedup-video", "--videos-parquet", src, "--work-dir", work])
    assert rc == 0
    surv = {
        r["doc_id"]: r["is_survivor"]
        for r in spark.read.parquet(f"{work}/video_survivors").collect()
    }
    assert surv == {1: True, 2: False, 3: True}


def test_cli_ingest_media_accepts_gif_clips(spark, tmp_path, capsys):
    """ingest-media --modality video with GIF payloads (r13 verdict
    task 3): a delta re-encode of a corpus animation is rejected via
    the persisted index, a GIF->AVI cross-container re-wrap of batch
    A's admission is rejected through the side-store, novel
    animations admit."""
    import glob as _glob
    import os
    import shutil

    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    def drop(feed, rows, name):
        tmp = str(tmp_path / f"__stage_{name}")
        spark.createDataFrame(
            [(i, bytearray(p)) for i, p in rows],
            "doc_id long, payload binary",
        ).repartition(1).write.parquet(tmp)
        os.makedirs(feed, exist_ok=True)
        shutil.copy(
            _glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/{name}"
        )

    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, bytearray(_gif_clip(i, delta=False))) for i in (1, 2)],
        "doc_id long, payload binary",
    ).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")
    drop(feed, [
        (200, _gif_clip(1, delta=True)),    # delta re-encode -> reject
        (201, _gif_clip(9, delta=False)),   # novel animation -> admit
    ], "a.parquet")
    rewrap_of_201 = V.avi_encode_mjpeg(
        [
            jpeg_encode_gray(f, W, H, quality=95)
            for f in _gif_frames(9, n_frames=3)
        ],
        W, H,
    )
    drop(feed, [
        (300, rewrap_of_201),               # cross-container dup of 201
        (301, _gif_clip(12, delta=False)),  # novel -> admit
    ], "b.parquet")

    work = str(tmp_path / "work")
    rc = main([
        "ingest-media", "--corpus-parquet", corpus_path,
        "--feed-dir", feed, "--work-dir", work,
        "--modality", "video", "--max-files-per-trigger", "1",
    ])
    assert rc == 0
    got = {
        r["doc_id"]
        for r in spark.read.parquet(f"{work}/admitted_media").collect()
    }
    assert got == {201, 301}


def test_mp4_adversarial_stsc_table_bounded():
    """Review fix: a malformed stsc table (repeating / zero-sample
    runs) used to cost ~4e9 loop iterations; runs must be strictly
    increasing and the walk ends once every sample is placed."""
    import struct as _s
    import time as _t

    from haensel_ams_data_engineer_challenge_spark.multimodal.binary import (
        _FTYP,
        _MVHD_TAIL,
        _mp4_box,
    )

    n_chunks = 65536
    vid = (
        b"\x00" * 6 + _s.pack(">H", 1) + b"\x00" * 16
        + _s.pack(">HH", 24, 16)
        + _s.pack(">II", 0x480000, 0x480000)
        + b"\x00" * 4 + _s.pack(">H", 1) + b"\x00" * 32
        + _s.pack(">Hh", 24, -1)
    )
    stsd = _mp4_box(
        b"stsd",
        b"\x00" * 4 + _s.pack(">I", 1)
        + _s.pack(">I", 8 + len(vid)) + b"jpeg" + vid,
    )
    stsz = _mp4_box(b"stsz", b"\x00" * 4 + _s.pack(">II", 5, 100))
    runs = b"".join(
        _s.pack(">III", (1 if k % 2 == 0 else 65536), 0, 1)
        for k in range(2048)
    )
    stsc = _mp4_box(b"stsc", b"\x00" * 4 + _s.pack(">I", 2048) + runs)
    stco = _mp4_box(
        b"stco",
        b"\x00" * 4 + _s.pack(">I", n_chunks) + b"\x00" * (4 * n_chunks),
    )
    stbl = _mp4_box(b"stbl", stsd + stsz + stsc + stco)
    hdlr = _mp4_box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"\x00")
    mdia = _mp4_box(b"mdia", hdlr + _mp4_box(b"minf", stbl))
    mvhd = _mp4_box(
        b"mvhd",
        b"\x00" * 12 + _s.pack(">II", 10, 5) + _MVHD_TAIL
        + _s.pack(">I", 2),
    )
    evil = _FTYP + _mp4_box(b"moov", mvhd + _mp4_box(b"trak", mdia))
    t0 = _t.perf_counter()
    assert V.parse_mp4_mjpeg(evil) is None
    assert _t.perf_counter() - t0 < 1.0


def test_gif_truncated_after_descriptor_keeps_composed_frames():
    """Review fix: a stream cut exactly after an image descriptor
    returns the frames already composed (every other truncation point
    already did) instead of None — so a byte-keyed fake-rung fallback
    never replaces a decodable poster frame."""
    from haensel_ams_data_engineer_challenge_spark.multimodal.gif import (
        decode_gif_frames,
        gif_encode_gray_animation,
    )

    frames = [
        [(x + y + f) % 256 for y in range(6) for x in range(8)]
        for f in range(2)
    ]
    p = gif_encode_gray_animation(frames, 8, 6, delta=False)

    # structural walk to the SECOND descriptor (0x2C bytes also occur
    # inside LZW data, so index() alone is wrong)
    n, i = len(p), 13
    if p[10] & 0x80:
        i += 3 * (2 << (p[10] & 7))
    pos = []
    while i < n:
        b = p[i]
        if b == 0x21:
            i += 2
            while i < n and p[i] != 0:
                i += 1 + p[i]
            i += 1
        elif b == 0x2C:
            pos.append(i)
            iflags = p[i + 9]
            i += 10
            if iflags & 0x80:
                i += 3 * (2 << (iflags & 7))
            i += 1
            while i < n and p[i] != 0:
                i += 1 + p[i]
            i += 1
        else:
            break
    assert len(pos) == 2
    r = decode_gif_frames(p[: pos[1] + 10])
    assert r is not None
    sw, sh, got = r
    assert len(got) == 1 and got[0] == frames[0]


def _gif_descriptor_positions(p: bytes) -> list[int]:
    """Structural walk returning every image-descriptor offset (0x2C
    bytes inside LZW data make index() wrong)."""
    n, i = len(p), 13
    if p[10] & 0x80:
        i += 3 * (2 << (p[10] & 7))
    pos = []
    while i < n:
        b = p[i]
        if b == 0x21:
            i += 2
            while i < n and p[i] != 0:
                i += 1 + p[i]
            i += 1
        elif b == 0x2C:
            pos.append(i)
            iflags = p[i + 9]
            i += 10
            if iflags & 0x80:
                i += 3 * (2 << (iflags & 7))
            i += 1
            while i < n and p[i] != 0:
                i += 1 + p[i]
            i += 1
        else:
            break
    return pos


def test_gif_clip_image_split_agrees_across_tiers():
    """r14 advice: the metadata ladder (gif_clip_header, descriptor
    count) and the sample tier (_clip_frame_samples) must make the
    SAME clip/image call — a 2-descriptor GIF whose later (or all)
    frames fail LZW is a clip in BOTH tiers, with the sample tier
    falling to in-tier fake frames rather than flipping to image."""
    from haensel_ams_data_engineer_challenge_spark.multimodal.gif import (
        decode_gif_frames,
        gif_clip_header,
        gif_encode_gray_animation,
        gif_frame_count,
    )

    frames = [
        [(x + y + 9 * f) % 256 for y in range(H) for x in range(W)]
        for f in range(2)
    ]
    p = gif_encode_gray_animation(frames, W, H, delta=False)
    pos = _gif_descriptor_positions(p)
    assert len(pos) == 2

    # later frame truncated mid-LZW-data: its descriptor counts but
    # only 1 frame composes — still a clip in BOTH tiers
    cut = p[: pos[1] + 10 + 1 + 3]
    assert gif_frame_count(cut, max_count=2) == 2  # partial count kept
    hdr = gif_clip_header(cut)
    assert hdr is not None and hdr[0] == "gif"
    sampled = V._clip_frame_samples(cut, 8, 4)
    assert sampled is not None and len(sampled) >= 1
    d = decode_gif_frames(cut)
    assert d is not None and sampled[0][2] == d[2][0]  # real frame rode

    # ALL frames' LZW corrupted (structure intact): decode yields
    # nothing, but both tiers still say clip; fake frames, in-tier
    bad = bytearray(p)
    for dpos in pos:
        j = dpos + 10 + 1  # past descriptor + min-code byte
        while j < len(bad) and bad[j] != 0:
            ln = bad[j]
            for k in range(j + 1, min(j + 1 + ln, len(bad))):
                bad[k] = 0xFF
            j += 1 + ln
    bad = bytes(bad)
    assert decode_gif_frames(bad) is None
    assert gif_frame_count(bad, max_count=2) == 2
    assert gif_clip_header(bad) is not None
    sampled = V._clip_frame_samples(bad, 8, 4)
    assert sampled is not None and len(sampled) >= 1
    assert all(len(g) == 64 for _w, _h, g in sampled)

    # the single-frame GIF stays an IMAGE in both tiers
    from haensel_ams_data_engineer_challenge_spark.multimodal.gif import (
        gif_encode_gray,
    )

    single = gif_encode_gray(frames[0], W, H)
    assert gif_clip_header(single) is None
    assert V._clip_frame_samples(single, 8, 4) is None
