"""Baseline-JPEG pixel codec (multimodal/jpeg.py, round 13) and its
integration into the image pixel ladder: re-encoded / resized JPEG
duplicates — the dominant duplicate class of any real crawl — must be
caught by the phash tier and image-v1 embeddings WITHOUT Pillow (this
container has none), via the real stdlib Huffman+IDCT decode."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from haensel_ams_data_engineer_challenge_spark.multimodal import jpeg as J
from haensel_ams_data_engineer_challenge_spark.multimodal import phash as P


def _pattern(w, h):
    """Smooth gradient + blocks — real signal for hashes (the
    test_phash fixture)."""
    return [
        min(255, (x * 255) // w + (80 if (x // 8 + y // 8) % 2 else 0))
        for y in range(h)
        for x in range(w)
    ]


def _psnr(a, b):
    mse = np.mean((np.asarray(a, dtype=np.float64) - np.asarray(b)) ** 2)
    return 10 * np.log10(255.0**2 / max(mse, 1e-12))


# ---------------------------------------------------------------------------
# codec round trips
# ---------------------------------------------------------------------------


def test_block_constant_even_grays_decode_losslessly():
    """THE gate-arm contract: every 8x8 block a constant EVEN gray,
    quality 50 -> bit-exact decode (DC quant divisor 16; jpeg.py
    module docstring derives why)."""
    w, h = 40, 24
    grays = [
        2 * ((3 * (x // 8) + 5 * (y // 8) + 7) % 128)
        for y in range(h)
        for x in range(w)
    ]
    payload = J.jpeg_encode_gray(grays, w, h, quality=J.JPEG_EXACT_QUALITY)
    assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
    assert J.decode_jpeg_pixels(payload) == (w, h, grays)


def test_gray_roundtrip_psnr_and_reencode_stability():
    """General content at quality 90: near-transparent (PSNR > 35 dB),
    and a re-encode at a different quality stays visually identical
    (PSNR of q90-decode vs q75-decode > 30 dB) — the duplicate class
    the phash tier must catch."""
    w, h = 37, 29  # deliberately not multiples of 8
    grays = _pattern(w, h)
    p90 = J.jpeg_encode_gray(grays, w, h, quality=90)
    p75 = J.jpeg_encode_gray(grays, w, h, quality=75)
    assert p90 != p75
    d90 = J.decode_jpeg_pixels(p90)
    d75 = J.decode_jpeg_pixels(p75)
    assert d90 is not None and d75 is not None
    assert d90[:2] == (w, h) and d75[:2] == (w, h)
    assert _psnr(grays, d90[2]) > 35
    assert _psnr(d90[2], d75[2]) > 30


def test_restart_interval_roundtrip():
    """DRI + RSTn markers (the libjpeg-default-adjacent layout many
    crawls carry): decode must resync and reset DC predictors."""
    w, h = 48, 32
    grays = _pattern(w, h)
    plain = J.decode_jpeg_pixels(J.jpeg_encode_gray(grays, w, h, quality=92))
    rst = J.decode_jpeg_pixels(
        J.jpeg_encode_gray(grays, w, h, quality=92, restart_interval=2)
    )
    assert rst is not None
    # identical pixels with and without restarts: DRI changes framing,
    # never the DCT math
    assert rst == plain


@pytest.mark.parametrize("sampling", [(1, 1), (2, 2), (2, 1), (1, 2)])
def test_color_ycbcr_decodes_luma(sampling):
    """3-component YCbCr at every supported sampling: the decoder
    outputs the Y plane (JFIF Y IS the 601 luma the PNG rung
    computes), entropy-decoding chroma to stay in sync."""
    w, h = 41, 26
    y = _pattern(w, h)
    cb = [((x * 3) % 160) + 40 for _ in range(h) for x in range(w)]
    cr = [((x * 5) % 120) + 70 for _ in range(h) for x in range(w)]
    p = J.jpeg_encode_ycbcr(y, cb, cr, w, h, quality=90, sampling=sampling)
    out = J.decode_jpeg_pixels(p)
    assert out is not None and out[:2] == (w, h)
    assert _psnr(y, out[2]) > 32


def test_malformed_payloads_fall_to_none():
    """The never-raise contract: anything the baseline decoder cannot
    read returns None (ladder falls to the fake rung)."""
    w, h = 24, 16
    grays = _pattern(w, h)
    good = J.jpeg_encode_gray(grays, w, h, quality=80)
    assert J.decode_jpeg_pixels(b"") is None
    assert J.decode_jpeg_pixels(b"\xff\xd8\xff\xd9") is None
    assert J.decode_jpeg_pixels(good[: len(good) // 2]) is None  # truncated
    assert J.decode_jpeg_pixels(good[:-20]) is None  # scan cut short
    # SOF0 flipped to SOF2 without progressive scan headers: the
    # baseline scan's Ss..Se=0..63 full-band interleaved form is not
    # a legal progressive scan -> None (round 13: real progressive
    # files decode; see the progressive tests below)
    i = good.index(b"\xff\xc0")
    prog = good[:i] + b"\xff\xc2" + good[i + 2 :]
    assert J.decode_jpeg_pixels(prog) is None
    # desynced entropy data (marker byte unstuffed mid-scan)
    j = good.index(b"\xff\xda") + 30
    bad = good[:j] + b"\xff\xc4" + good[j + 2 :]
    assert J.decode_jpeg_pixels(bad) is None


def test_pixel_ceiling_bounds_cpu():
    """SOF dims are attacker-controlled and gate the Python Huffman
    walk: a frame past the ceiling is rejected BEFORE any entropy
    decoding."""
    p = J.jpeg_encode_gray(_pattern(16, 16), 16, 16, quality=50)
    assert J.decode_jpeg_pixels(p) is not None
    assert J.decode_jpeg_pixels(p, max_pixels=255) is None
    # a declared-huge SOF with a tiny body: rewrite dims to 30000x30000
    i = p.index(b"\xff\xc0")
    huge = (
        p[: i + 5] + struct.pack(">HH", 30000, 30000) + p[i + 9 :]
    )
    assert J.decode_jpeg_pixels(huge) is None


# ---------------------------------------------------------------------------
# ladder integration: phash tier catches JPEG re-encodes/resizes
# ---------------------------------------------------------------------------


def test_ladder_routes_png_jpeg_fake():
    grays = _pattern(32, 24)
    png = P.png_encode_gray(grays, 32, 24)
    jpg = J.jpeg_encode_gray(grays, 32, 24, quality=90)
    assert P.decode_image_pixels(png)[3] == "png"
    assert P.decode_image_pixels(jpg)[3] == "jpeg"
    assert P.decode_image_pixels(b"neither") is None


def test_jpeg_reencode_and_resize_pairs_caught(spark):
    """The headline hole this round closes: a quality-re-encoded JPEG
    and a mildly resized JPEG both land within the phash default
    threshold via decoder='jpeg' — no Pillow anywhere."""
    w, h = 48, 40
    grays = _pattern(w, h)
    up = [
        grays[(y // 2) * w + (x // 2)]
        for y in range(h * 2)
        for x in range(w * 2)
    ]
    other = [(255 - g) for g in grays]
    rows = [
        (1, bytearray(J.jpeg_encode_gray(grays, w, h, quality=90))),
        (2, bytearray(J.jpeg_encode_gray(grays, w, h, quality=75))),  # re-enc
        (3, bytearray(J.jpeg_encode_gray(up, w * 2, h * 2, quality=90))),
        (4, bytearray(J.jpeg_encode_gray(other, w, h, quality=90))),
        (5, bytearray(P.png_encode_gray(grays, w, h))),  # cross-format dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    hashes = P.image_phash(df)
    got = {r["doc_id"]: r for r in hashes.collect()}
    assert {got[i]["decoder"] for i in (1, 2, 3, 4)} == {"jpeg"}
    assert got[5]["decoder"] == "png"
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in P.phash_dup_pairs(hashes).collect()
    }
    assert (1, 2) in pairs, "JPEG re-encode not caught"
    assert (1, 3) in pairs, "JPEG 2x resize not caught"
    assert (1, 5) in pairs, "PNG<->JPEG cross-format duplicate not caught"
    assert not any({a, b} == {1, 4} for a, b in pairs), "inverted image paired"


def test_cli_dedup_images_mixed_png_jpeg(spark, tmp_path, capsys):
    """The product surface over a mixed-format corpus (what a real
    crawl looks like): a JPEG re-encode and a PNG-of-the-same-pixels
    both cluster with the JPEG original; the distinct JPEG survives
    alone.  Decoder counts prove both real codecs ran."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    w, h = 48, 40
    base = _pattern(w, h)
    other = [
        (x * 97 + y * 13 + (x % 3) * 50) % 256
        for y in range(h)
        for x in range(w)
    ]
    rows = [
        (1, bytearray(J.jpeg_encode_gray(base, w, h, quality=90))),
        (2, bytearray(J.jpeg_encode_gray(base, w, h, quality=70))),
        (3, bytearray(P.png_encode_gray(base, w, h))),
        (4, bytearray(J.jpeg_encode_gray(other, w, h, quality=90))),
    ]
    src = str(tmp_path / "images.parquet")
    spark.createDataFrame(rows, "doc_id long, payload binary").write.parquet(src)
    work = str(tmp_path / "work")
    rc = main(["dedup-images", "--images-parquet", src, "--work-dir", work])
    assert rc == 0
    out = capsys.readouterr().out
    assert "images=4 survivors=2 dropped=2" in out
    assert "'jpeg': 3" in out and "'png': 1" in out
    surv = {
        r["doc_id"]: r["is_survivor"]
        for r in spark.read.parquet(f"{work}/image_survivors").collect()
    }
    assert surv == {1: True, 2: False, 3: False, 4: True}


def test_image_v1_embeds_jpeg_payloads(spark, tmp_path):
    """image-v1 through the seam: a JPEG payload now produces box-mean
    features from REAL pixels, consistent across image_hash_embed and
    embed_with_model (the one-vector-per-byte-sequence identity), and
    a JPEG brightness twin still lands at cosine 1.0."""
    from haensel_ams_data_engineer_challenge_spark.multimodal.imgembed import (
        image_encoder_build,
        image_hash_embed,
    )
    from haensel_ams_data_engineer_challenge_spark.operators.embed import (
        embed_with_model,
    )

    w, h = 40, 32
    base = [
        2 * ((3 * (x // 8) + 5 * (y // 8) + 7 * ((x // 8) * (y // 8) % 5)) % 100)
        for y in range(h)
        for x in range(w)
    ]
    shifted = [g + 20 for g in base]  # stays <= 218+20: no clamp
    rows = [
        (1, bytearray(J.jpeg_encode_gray(base, w, h, quality=J.JPEG_EXACT_QUALITY))),
        (2, bytearray(J.jpeg_encode_gray(shifted, w, h, quality=J.JPEG_EXACT_QUALITY))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    model = str(tmp_path / "imgenc")
    image_encoder_build(spark, model)
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"])
        for r in embed_with_model(df, model).collect()
    }
    both = {
        r["doc_id"]: np.asarray(r["embedding"])
        for r in image_hash_embed(df).collect()
    }
    assert set(vecs) == {1, 2}
    for i in (1, 2):
        assert np.array_equal(vecs[i], both[i]), "seam/both-tier drift"
    cos = float(
        vecs[1] @ vecs[2] / (np.linalg.norm(vecs[1]) * np.linalg.norm(vecs[2]))
    )
    assert cos == pytest.approx(1.0, abs=1e-12), "brightness twin not exact"


def test_image_v1_old_ladder_artifact_refuses(spark, tmp_path):
    """An image-v1 artifact committed under the pre-r13 png-only
    ladder must refuse to serve (silently mixing feature spaces in a
    version-keyed index is the failure mode)."""
    from haensel_ams_data_engineer_challenge_spark.operators.artifact_manifest import (
        artifact_overwrite,
    )
    from haensel_ams_data_engineer_challenge_spark.operators.embed import (
        embed_with_model,
    )

    path = str(tmp_path / "oldenc")
    artifact_overwrite(
        spark, path, {},
        {"kind": "encoder", "encoder": "image-v1", "dim": 64, "grid": 8,
         "version": "deadbeef0000"},
        None,
    )
    df = spark.createDataFrame(
        [(1, bytearray(b"x"))], "doc_id long, payload binary"
    )
    with pytest.raises(ValueError, match="ladder"):
        embed_with_model(df, path).collect()


def test_jpeg_arm_synthesizer_matches_formula(spark):
    """The gate arm's Spark side, pinned locally: synthesized blocky
    JPEGs decode to exactly the block formula (the property the DuckDB
    twin assumes), via the REAL codec."""
    df = spark.createDataFrame([(7,), (12,), (123,)], "doc_id long")
    rows = P.synthesize_blocky_jpegs(df).collect()
    for r in rows:
        i = r["doc_id"]
        w, h = P._jpeg_syn_dims(i)
        out = J.decode_jpeg_pixels(bytes(r["payload"]))
        assert out is not None
        ww, hh, grays = out
        assert (ww, hh) == (w, h)
        expect = [
            P._jpeg_block(i, x // 8, y // 8)
            for y in range(h)
            for x in range(w)
        ]
        assert grays == expect, f"doc {i}: decode drifted from formula"


# ---------------------------------------------------------------------------
# progressive (SOF2) — round 13 second half
# ---------------------------------------------------------------------------


def test_progressive_decodes_bit_equal_to_baseline():
    """Progressive encoding is a lossless re-coding of the same
    quantized coefficients: decode(progressive) must BIT-EQUAL
    decode(baseline) for identical pixels+quality, across textures
    that exercise every scan mechanism (random: dense AC; smooth:
    long zero runs; near-constant: maximal EOB runs across blocks)."""
    import math

    rng = np.random.RandomState(11)
    cases = []
    for w, h in ((37, 29), (48, 40), (8, 8)):
        cases.append((w, h, [int(v) for v in rng.randint(0, 256, w * h)]))
    w, h = 48, 40
    cases.append((w, h, [
        int(128 + 60 * math.sin(x / 7) + 40 * math.cos(y / 5))
        for y in range(h) for x in range(w)
    ]))
    flat = [100] * (w * h)
    flat[777] = 180  # one coefficient in a sea of EOB runs
    cases.append((w, h, flat))
    for w, h, img in cases:
        for q in (50, 85, 95):
            base = J.decode_jpeg_pixels(J.jpeg_encode_gray(img, w, h, q))
            prog = J.decode_jpeg_pixels(
                J.jpeg_encode_gray_progressive(img, w, h, q)
            )
            assert prog is not None, f"progressive decode failed {w}x{h} q{q}"
            assert prog == base, f"prog != baseline at {w}x{h} q{q}"


def test_progressive_color_and_ladder():
    """Color progressive (interleaved DC scan + per-component AC
    scans) decodes its Y plane bit-equal to the 4:4:4 baseline; the
    pixel ladder tags it 'jpeg', so a progressive re-save of a
    baseline image is a hamming-0 duplicate in the phash tier."""
    w, h = 33, 18
    rng = np.random.RandomState(5)
    y = [int(v) for v in rng.randint(0, 256, w * h)]
    cb = [120] * (w * h)
    cr = [135] * (w * h)
    base = J.decode_jpeg_pixels(
        J.jpeg_encode_ycbcr(y, cb, cr, w, h, 85, sampling=(1, 1))
    )
    prog = J.decode_jpeg_pixels(
        J.jpeg_encode_ycbcr_progressive(y, cb, cr, w, h, 85)
    )
    assert prog == base
    grays = _pattern(40, 32)
    p = J.jpeg_encode_gray_progressive(grays, 40, 32, quality=90)
    assert P.decode_image_pixels(p)[3] == "jpeg"
    # a progressive re-save hashes identically to its baseline twin
    from haensel_ams_data_engineer_challenge_spark.multimodal.phash import (
        box_grays, dhash_bands,
    )
    b = J.decode_jpeg_pixels(J.jpeg_encode_gray(grays, 40, 32, quality=90))
    q = J.decode_jpeg_pixels(p)
    assert dhash_bands(box_grays(q[2], 40, 32, 9, 8)) == dhash_bands(
        box_grays(b[2], 40, 32, 9, 8)
    )


def test_progressive_malformed_falls_to_none():
    grays = _pattern(24, 16)
    good = J.jpeg_encode_gray_progressive(grays, 24, 16, 80)
    assert J.decode_jpeg_pixels(good) is not None
    assert J.decode_jpeg_pixels(good[: len(good) // 2]) is None  # truncated
    assert J.decode_jpeg_pixels(good[:-4]) is None  # no EOI tail... still


# ---------------------------------------------------------------------------
# GIF rung — round 13 second half (multimodal/gif.py)
# ---------------------------------------------------------------------------


def test_gif_roundtrip_and_cross_format_identity():
    """decode(gif_encode(g)) == g exactly (LZW is lossless and the
    grayscale table's luma is the identity), so a GIF re-save of a
    grayscale PNG hashes identically — the cross-format duplicate."""
    from haensel_ams_data_engineer_challenge_spark.multimodal import gif as G

    w, h = 37, 23
    grays = _pattern(w, h)
    gif = G.gif_encode_gray(grays, w, h)
    assert G.decode_gif_pixels(gif) == (w, h, grays)
    assert P.decode_image_pixels(gif)[3] == "gif"
    png = P.png_encode_gray(grays, w, h)
    assert P.decode_image_pixels(gif)[:3] == P.decode_image_pixels(png)[:3]


def test_gif_interlace_palette_and_composition():
    """Interlaced frames un-shuffle through the 4-pass schedule;
    color palettes map to entry lumas; a sub-screen first frame
    composes onto a background-filled logical screen; out-of-range
    indices and truncated streams fall to None."""
    import struct as _s

    from haensel_ams_data_engineer_challenge_spark.multimodal import gif as G

    # hand-build: 4x4 screen, 2-entry palette, interlaced full frame
    pal = bytes([250, 250, 250, 10, 10, 10])  # lumas 250, 10
    idx_rows = [[0, 1, 0, 1], [1, 1, 1, 1], [0, 0, 0, 0], [1, 0, 1, 0]]
    # interlaced row order for h=4: pass1 row0, pass3 row2, pass4 rows 1,3
    shuffled = idx_rows[0] + idx_rows[2] + idx_rows[1] + idx_rows[3]
    lzw = G._lzw_encode(shuffled, 2)
    gif = (
        b"GIF89a" + _s.pack("<HH", 4, 4) + bytes([0x80, 0, 0]) + pal
        + b"\x2c" + _s.pack("<HHHH", 0, 0, 4, 4)
        + bytes([0x40])  # interlaced, no LCT
        + bytes([2, len(lzw)]) + lzw + b"\x00\x3b"
    )
    expect = [250 if v == 0 else 10 for row in idx_rows for v in row]
    assert G.decode_gif_pixels(gif) == (4, 4, expect)

    # sub-screen frame at (1,1) on a 4x4 screen, bg index 1 (luma 10)
    lzw2 = G._lzw_encode([0, 0, 0, 0], 2)
    gif2 = (
        b"GIF89a" + _s.pack("<HH", 4, 4) + bytes([0x80, 1, 0]) + pal
        + b"\x2c" + _s.pack("<HHHH", 1, 1, 2, 2) + b"\x00"
        + bytes([2, len(lzw2)]) + lzw2 + b"\x00\x3b"
    )
    out = G.decode_gif_pixels(gif2)
    assert out is not None
    grid = [out[2][r * 4 : (r + 1) * 4] for r in range(4)]
    assert grid[1][1] == grid[1][2] == grid[2][1] == grid[2][2] == 250
    assert grid[0] == [10, 10, 10, 10] and grid[3] == [10, 10, 10, 10]

    # index past the palette -> None
    bad_lzw = G._lzw_encode([0, 1, 2, 3], 2)  # indices 2,3 past 2-entry pal
    bad = (
        b"GIF89a" + _s.pack("<HH", 2, 2) + bytes([0x80, 0, 0]) + pal
        + b"\x2c" + _s.pack("<HHHH", 0, 0, 2, 2) + b"\x00"
        + bytes([2, len(bad_lzw)]) + bad_lzw + b"\x00\x3b"
    )
    assert G.decode_gif_pixels(bad) is None
    # no color table at all -> None
    no_tab = (
        b"GIF89a" + _s.pack("<HH", 2, 2) + bytes([0, 0, 0])
        + b"\x2c" + _s.pack("<HHHH", 0, 0, 2, 2) + b"\x00"
        + bytes([2, len(lzw2)]) + lzw2 + b"\x00\x3b"
    )
    assert G.decode_gif_pixels(no_tab) is None


def test_gif_reencode_pair_caught(spark):
    """A GIF re-save of a JPEG (the classic meme-laundering chain)
    clusters with the original through the phash tier."""
    from haensel_ams_data_engineer_challenge_spark.multimodal import gif as G

    w, h = 48, 40
    grays = _pattern(w, h)
    jd = J.decode_jpeg_pixels(J.jpeg_encode_gray(grays, w, h, 90))[2]
    rows = [
        (1, bytearray(J.jpeg_encode_gray(grays, w, h, quality=90))),
        (2, bytearray(G.gif_encode_gray(jd, w, h))),  # gif of the jpeg
        (3, bytearray(G.gif_encode_gray([255 - g for g in grays], w, h))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    hashes = P.image_phash(df)
    got = {r["doc_id"]: r["decoder"] for r in hashes.collect()}
    assert got == {1: "jpeg", 2: "gif", 3: "gif"}
    pairs = {
        (r["id_a"], r["id_b"])
        for r in P.phash_dup_pairs(hashes).collect()
    }
    assert (1, 2) in pairs and not any({a, b} == {1, 3} for a, b in pairs)


def test_gif_background_uses_global_table(tmp_path):
    """r13 advice: the background index refers to the GLOBAL color
    table (GIF89a §18).  A partial first frame with a LOCAL table
    smaller than the GCT must still decode (used to IndexError ->
    None), and the composed background luma must come from the GCT,
    not the local table."""
    import struct as _s

    from haensel_ams_data_engineer_challenge_spark.multimodal import gif as G

    # 4-entry GCT (lumas 0,40,80,120), bg_idx 3 -> luma 120;
    # frame carries a 2-entry LOCAL table (lumas 200,220)
    gct = bytes(v for g in (0, 40, 80, 120) for v in (g, g, g))
    lct = bytes(v for g in (200, 220) for v in (g, g, g))
    lzw = G._lzw_encode([0, 1, 1, 0], 2)
    gif = (
        b"GIF89a" + _s.pack("<HH", 4, 4)
        + bytes([0x81, 3, 0])  # GCT present, 4 entries; bg_idx 3
        + gct
        + b"\x2c" + _s.pack("<HHHH", 1, 1, 2, 2)
        + bytes([0x80])  # LCT present, 2 entries
        + lct
        + bytes([2, len(lzw)]) + lzw + b"\x00\x3b"
    )
    out = G.decode_gif_pixels(gif)
    assert out is not None, "valid GIF fell to the fake rung"
    grid = [out[2][r * 4 : (r + 1) * 4] for r in range(4)]
    # frame pixels map through the LOCAL table
    assert grid[1][1] == 200 and grid[1][2] == 220
    assert grid[2][1] == 220 and grid[2][2] == 200
    # background comes from the GLOBAL table entry 3
    assert grid[0] == [120] * 4 and grid[3] == [120] * 4
    # bg_idx past the GCT -> luma 0, still decodes
    gif_oob = gif[:11] + bytes([250]) + gif[12:]
    out2 = G.decode_gif_pixels(gif_oob)
    assert out2 is not None
    assert out2[2][0] == 0
