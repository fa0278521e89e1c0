"""Audio near-dup through the audio-v1 encoder kind
(multimodal/audioembed.py, round 12).

The headline semantics: a GAIN-scaled copy (re-mastered / volume-
normalized — the audio analogue of the image recolor) lands at cosine
exactly 1.0 by the envelope identity, a small trim degrades gracefully
(the semantic regime), silence has no direction, and every payload —
including undecodable bytes — takes a deterministic rung of the decode
ladder.
"""

from __future__ import annotations

import struct

import pytest

from haensel_ams_data_engineer_challenge_spark.multimodal import audioembed as A
from haensel_ams_data_engineer_challenge_spark.operators import artifact_manifest as AM
from haensel_ams_data_engineer_challenge_spark.operators import embed as E
from haensel_ams_data_engineer_challenge_spark.operators import similarity as S


def _wav(samples, rate=8000, bits=16, channels=1):
    """A real RIFF/WAVE PCM payload (data present)."""
    n = len(samples) // channels
    if bits == 16:
        data = struct.pack(f"<{len(samples)}h", *samples)
    else:
        data = bytes((s + 128) & 0xFF for s in samples)
    block = channels * (bits // 8)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH", 16, 1, channels, rate, rate * block, block, bits
        )
        + b"data"
        + struct.pack("<I", n * block)
        + data
    )


def _clip(n=1000, gain=1, skip=0):
    """Music-like deterministic samples: a short-period tone (period 5
    << the ~31-sample feature windows, so window energy tracks the
    ENVELOPE rather than tone phase) under a smooth triangular
    envelope — the window-scale shape a real track has.  Gain
    multiplies AFTER the floor division, so a gain copy scales every
    sample (and with it the features) exactly."""
    out = []
    for j in range(skip, skip + n):
        tri = j if j < 1000 else abs(2000 - j)
        out.append(((j % 5) - 2) * (100 + tri) // 100 * gain)
    return out


# ---------------------------------------------------------------------------
# decoder unit tests
# ---------------------------------------------------------------------------

def test_decode_16bit_mono_roundtrip():
    samples = _clip(500)
    rate, got = A.decode_wav_samples(_wav(samples))
    assert rate == 8000 and got == samples


def test_decode_stereo_mixdown_channel_sum():
    """Channel-SUM mixdown, not mean: floor-division means would break
    the exact gain identity for stereo re-gains (review fix); the
    channel-count factor cancels in cosine like any gain."""
    left = _clip(300)
    right = [s + 10 for s in left]
    interleaved = [v for pair in zip(left, right) for v in pair]
    _, got = A.decode_wav_samples(_wav(interleaved, channels=2))
    assert got == [a + b for a, b in zip(left, right)]
    # the identity the sum preserves: a 2x-gain STEREO copy decodes to
    # exactly 2x the base mix
    doubled = [2 * v for v in interleaved]
    _, got2 = A.decode_wav_samples(_wav(doubled, channels=2))
    assert got2 == [2 * v for v in got]


def test_decode_8bit_unsigned():
    samples = [(j % 100) - 50 for j in range(400)]
    _, got = A.decode_wav_samples(_wav(samples, bits=8))
    assert got == samples


def test_decode_ladder_rejections():
    # non-WAV, header-only (declared data absent), compressed fmt
    assert A.decode_wav_samples(b"not audio") is None
    samples = _clip(100)
    full = _wav(samples)
    header_only = full[:44]  # data chunk declared but bytes absent
    assert A.decode_wav_samples(header_only) is None
    compressed = bytearray(full)
    compressed[20] = 85  # fmt tag != 1 (PCM)
    assert A.decode_wav_samples(bytes(compressed)) is None


def test_decode_truncated_data_decodes_prefix():
    samples = _clip(200)
    full = _wav(samples)
    cut = full[: 44 + 2 * 150 + 1]  # 150 complete blocks + a torn byte
    _, got = A.decode_wav_samples(cut)
    assert got == samples[:150]


def test_decode_sample_ceiling(monkeypatch):
    """An adversarial payload whose PRESENT samples exceed the ceiling
    falls to None (fake rung upstream) — bounded CPU per payload."""
    monkeypatch.setattr(A, "_WAV_MAX_SAMPLES", 100)
    assert A.decode_wav_samples(_wav(_clip(101))) is None
    assert A.decode_wav_samples(_wav(_clip(100))) is not None


# ---------------------------------------------------------------------------
# feature identities
# ---------------------------------------------------------------------------

def test_gain_scales_features_exactly():
    base = A.audio_features(_clip(1000))
    doubled = A.audio_features(_clip(1000, gain=2))
    assert doubled == [2 * v for v in base]


def test_flat_envelope_has_no_direction():
    assert A.audio_features([0] * 500) is None          # silence
    assert A.audio_features([7] * 640) is None          # DC
    assert A.audio_features([]) is None


# ---------------------------------------------------------------------------
# the encoder seam
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def audio_model(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("audenc") / "model")
    A.audio_encoder_build(spark, path)
    return path


def test_artifact_contract(spark, audio_model, tmp_path):
    params = AM.artifact_open(spark, audio_model).params
    assert params["kind"] == "encoder"
    assert params["encoder"] == E.AUDIO_KIND
    assert int(params["dim"]) == S.EMBEDDING_DIM
    A.audio_encoder_build(spark, audio_model)  # matching rebuild no-op
    with pytest.raises(ValueError, match="dim must equal grid"):
        A.audio_encoder_build(spark, str(tmp_path / "bad"), dim=32, grid=64)
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    E.encoder_model_ensure(docs, audio_model)
    assert AM.artifact_open(spark, audio_model).params["encoder"] == E.AUDIO_KIND


def test_gain_copy_cosine_one_trim_degrades(spark, audio_model):
    """THE audio-dedup case: 1 = base, 2 = gain-doubled copy (cosine
    exactly 1.0), 3 = 2% front trim (high cosine, < 1), 4 = unrelated.
    The LSH pair scan finds (1,2) and (1,3) at the 0.9 bar and never
    pairs 4."""
    rows = [
        (1, _wav(_clip(2000))),
        (2, _wav(_clip(2000, gain=2))),
        (3, _wav(_clip(1960, skip=40))),
        (4, _wav([((j * 37) % 120) - 60 for j in range(2000)])),
    ]
    clips = spark.createDataFrame(rows, "doc_id long, payload binary")
    vecs = E.embed_with_model(clips, audio_model)
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.embedding_dup_pairs_lsh(
            vecs, threshold=0.9, planes_per_band=10,
            max_bucket=S.MAX_VECTOR_BUCKET,
        ).collect()
    }
    # exact feature scaling; the cosine EXPRESSION rounds within 1 ulp
    assert pairs[(1, 2)] >= 1.0 - 1e-12
    assert 0.9 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_fake_rung_and_silence_contract(spark, audio_model):
    """Undecodable payloads embed through the deterministic fake rung
    (byte dups still cosine 1.0); silence is absent."""
    rows = [
        (1, b"opus bytes the stdlib cannot decode"),
        (2, b"opus bytes the stdlib cannot decode"),
        (3, b"different bytes"),
        (4, _wav([0] * 500)),
    ]
    clips = spark.createDataFrame(rows, "doc_id long, payload binary")
    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in E.embed_with_model(clips, audio_model).collect()
    }
    assert set(vecs) == {1, 2, 3}  # silence absent
    assert vecs[1] == vecs[2]
    assert vecs[1] != vecs[3]


def test_planted_twin_synthesis_matches_oracle_shape(spark, sf_dir):
    """The gate arm's synthesizer: every AUD_TWIN_EVERY-th id gets a
    gain-doubled twin, every payload really decodes (decoder='pcm'),
    and the twin's stats are exactly 2x the base's."""
    ids = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    n = A.synthesize_pcm_wavs(ids).count()
    assert n == 12  # 10 base + twins for 5, 10

    rows = A.audio_embed_query(spark, sf_dir).collect()
    assert {r["decoder"] for r in rows} == {"pcm"}
    by_id = {r["doc_id"]: r for r in rows}
    twins = [i for i in by_id if i >= A.AUD_TWIN_OFFSET][:5]
    for t in twins:
        b = by_id[t - A.AUD_TWIN_OFFSET]
        assert by_id[t]["env_total"] == 2 * b["env_total"]
        assert by_id[t]["f0"] == 2 * b["f0"]


def test_cli_dedup_audio_e2e(spark, tmp_path, capsys):
    """Product surface: dedup-audio clusters the gain copy and the
    trim under the base, keeps the unrelated clip and the silent clip
    (no direction -> singleton)."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    rows = [
        (1, bytearray(_wav(_clip(2000)))),
        (2, bytearray(_wav(_clip(2000, gain=3)))),
        (3, bytearray(_wav(_clip(1960, skip=40)))),
        (4, bytearray(_wav([((j * 37) % 120) - 60 for j in range(2000)]))),
        (5, bytearray(_wav([0] * 800))),
    ]
    src = str(tmp_path / "clips.parquet")
    spark.createDataFrame(rows, "doc_id long, payload binary").write.parquet(src)
    work = str(tmp_path / "work")
    rc = main(["dedup-audio", "--audio-parquet", src, "--work-dir", work])
    assert rc == 0
    out = capsys.readouterr().out
    assert "clips=5 survivors=3 dropped=2" in out
    assert "featured=4" in out  # silence carries no features
    surv = {
        r["doc_id"]: (r["component"], r["is_survivor"])
        for r in spark.read.parquet(f"{work}/audio_survivors").collect()
    }
    assert surv == {
        1: (1, True), 2: (1, False), 3: (1, False),
        4: (4, True), 5: (5, True),
    }


def test_cli_dedup_audio_encoder_model_flag(spark, tmp_path, capsys, audio_model):
    """--encoder-model: a committed audio artifact serves the tier
    (same results as the work-dir default here — the stateless kind);
    a non-audio artifact refuses with exit 2."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main
    from haensel_ams_data_engineer_challenge_spark.multimodal.imgembed import (
        image_encoder_build,
    )

    rows = [
        (1, bytearray(_wav(_clip(2000)))),
        (2, bytearray(_wav(_clip(2000, gain=2)))),
    ]
    src = str(tmp_path / "clips.parquet")
    spark.createDataFrame(rows, "doc_id long, payload binary").write.parquet(src)
    work = str(tmp_path / "work")
    rc = main([
        "dedup-audio", "--audio-parquet", src, "--work-dir", work,
        "--encoder-model", audio_model,
    ])
    assert rc == 0
    assert "clips=2 survivors=1 dropped=1" in capsys.readouterr().out

    img = str(tmp_path / "imgenc")
    image_encoder_build(spark, img)
    rc = main([
        "dedup-audio", "--audio-parquet", src,
        "--work-dir", str(tmp_path / "w2"), "--encoder-model", img,
    ])
    assert rc == 2


def _tri_clip(peak_frac, n=2000, gain=1):
    """Triangular envelope peaking at ``peak_frac`` of the clip: peak
    positions 0.3/0.5/0.7 measure pairwise envelope cosines ~0.77/0.35
    — BELOW the 0.9 near-dup bar (the envelope tier admits all three)
    but chained ABOVE the 0.45 SemDeDup bar (one redundant group)."""
    p = int(n * peak_frac)
    return [
        ((j % 5) - 2)
        * (20 + ((j * 100) // max(p, 1) if j < p
                 else ((n - j) * 100) // max(n - p, 1)))
        * gain
        for j in range(n)
    ]


def test_cli_dedup_audio_semdedup_and_both(spark, tmp_path, capsys):
    """Round-13 tier parity (dedup-images --method): a planted
    redundant cluster the near-dup tier ADMITS (three same-song-
    different-mix envelopes at pairwise cosine < 0.9) is pruned to one
    survivor by the SemDeDup tier; --method both is the union of
    drops, so the gain duplicate (envelope tier) AND the redundancy
    (semdedup tier) both go."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    rows = [
        (1, bytearray(_wav(_tri_clip(0.30)))),
        (2, bytearray(_wav(_tri_clip(0.50)))),
        (3, bytearray(_wav(_tri_clip(0.70)))),
        (4, bytearray(_wav(_tri_clip(0.30, gain=2)))),  # gain dup of 1
        (5, bytearray(_wav([((j * 37) % 120 - 60) * (1 + (j // 31) % 7)
                            for j in range(2000)]))),   # unrelated
        (6, bytearray(_wav([0] * 800))),                # silence
    ]
    src = str(tmp_path / "clips.parquet")
    spark.createDataFrame(rows, "doc_id long, payload binary").write.parquet(src)

    # --method both: envelope drops the gain dup, semdedup prunes the
    # redundant cluster to its single most-marginal member
    work = str(tmp_path / "work_both")
    rc = main([
        "dedup-audio", "--audio-parquet", src, "--work-dir", work,
        "--method", "both",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "method=both clips=6 survivors=3 dropped=3" in out
    assert "envelope_pairs=" in out and "semdedup_dropped=3" in out
    surv = {
        r["doc_id"]: r["is_survivor"]
        for r in spark.read.parquet(f"{work}/audio_survivors").collect()
    }
    assert surv[5] and surv[6], "unrelated + silence must survive"
    assert not surv[4], "gain dup must drop"
    kept_cluster = [i for i in (1, 2, 3) if surv[i]]
    assert len(kept_cluster) == 1, (
        f"semdedup must prune the redundant cluster to one, kept "
        f"{kept_cluster}"
    )

    # --method envelope (the default tier) ADMITS the whole redundant
    # cluster — the gap semdedup closes
    work_env = str(tmp_path / "work_env")
    rc = main([
        "dedup-audio", "--audio-parquet", src, "--work-dir", work_env,
    ])
    assert rc == 0
    assert "method=envelope clips=6 survivors=5 dropped=1" in (
        capsys.readouterr().out
    )

    # --method semdedup alone: the diversity rule without the pair tier
    work_sem = str(tmp_path / "work_sem")
    rc = main([
        "dedup-audio", "--audio-parquet", src, "--work-dir", work_sem,
        "--method", "semdedup",
    ])
    assert rc == 0
    assert "method=semdedup clips=6 survivors=3 dropped=3" in (
        capsys.readouterr().out
    )


def _identity_weights(spark, dim=64):
    return spark.createDataFrame(
        [(i, [1.0 if j == i else 0.0 for j in range(dim)])
         for i in range(dim)],
        "row long, vec array<double>",
    )


def test_audio_encoder_import_identity_bit_equal(spark, tmp_path):
    """import-audioenc parity (round 13): the identity projection
    serves BIT-EQUAL vectors to the stateless encoder — the projection
    seam adds exactly nothing when the matrix is I."""
    plain = str(tmp_path / "plain")
    proj = str(tmp_path / "proj")
    A.audio_encoder_build(spark, plain)
    params = A.audio_encoder_import(spark, _identity_weights(spark), proj)
    assert params["dim"] == 64 and params["projected"] == "true"
    rows = [
        (1, bytearray(_wav(_clip(2000)))),
        (2, bytearray(_wav(_clip(2000, gain=2)))),
        (3, bytearray(b"opus bytes")),       # fake rung
        (4, bytearray(_wav([0] * 500))),     # silence: absent both ways
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    a = {r["vec_id"]: list(r["embedding"])
         for r in E.embed_with_model(df, plain).collect()}
    b = {r["vec_id"]: list(r["embedding"])
         for r in E.embed_with_model(df, proj).collect()}
    assert a == b and set(a) == {1, 2, 3}


def test_audio_encoder_import_refusal_matrix(spark, tmp_path):
    import pyspark.sql.functions as F

    good = _identity_weights(spark)
    # ragged / wrong inner dim
    with pytest.raises(ValueError, match="inner dim"):
        A.audio_encoder_import(
            spark,
            good.withColumn("vec", F.slice("vec", 1, 32)),
            str(tmp_path / "w1"),
        )
    # NULL component
    with pytest.raises(ValueError, match="NULL components"):
        A.audio_encoder_import(
            spark,
            good.withColumn(
                "vec",
                F.when(F.col("row") == 3, F.array(
                    *[F.lit(None).cast("double") for _ in range(64)]
                )).otherwise(F.col("vec")),
            ),
            str(tmp_path / "w2"),
        )
    # non-dense row ids
    with pytest.raises(ValueError, match="dense"):
        A.audio_encoder_import(
            spark,
            good.withColumn("row", F.col("row") * 2),
            str(tmp_path / "w3"),
        )
    # empty
    with pytest.raises(ValueError, match="empty"):
        A.audio_encoder_import(
            spark, good.filter("row < 0"), str(tmp_path / "w4")
        )


def test_cli_import_audioenc_and_dedup(spark, tmp_path, capsys):
    """CLI e2e: import a 2-row projection (two envelope contrasts),
    then dedup-audio --encoder-model runs the tier in ITS 2-dim space
    — the gain pair still collapses (projection is linear: gain scales
    the projected vector too)."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    w = spark.createDataFrame(
        [
            (0, [1.0] * 32 + [-1.0] * 32),
            (1, [1.0, -1.0] * 32),
        ],
        "row long, vec array<double>",
    )
    wp = str(tmp_path / "weights.parquet")
    w.write.parquet(wp)
    model = str(tmp_path / "audmodel")
    rc = main([
        "import-audioenc", "--weights-parquet", wp, "--model-dir", model,
    ])
    assert rc == 0
    assert "imported audio projection: dim=2" in capsys.readouterr().out

    rows = [
        (1, bytearray(_wav(_clip(2000)))),
        (2, bytearray(_wav(_clip(2000, gain=3)))),
        (3, bytearray(_wav([((j * 37) % 120 - 60) * (1 + (j // 31) % 7)
                            for j in range(2000)]))),
    ]
    src = str(tmp_path / "clips.parquet")
    spark.createDataFrame(rows, "doc_id long, payload binary").write.parquet(src)
    work = str(tmp_path / "work")
    rc = main([
        "dedup-audio", "--audio-parquet", src, "--work-dir", work,
        "--encoder-model", model,
    ])
    assert rc == 0
    assert "clips=3 survivors=2 dropped=1" in capsys.readouterr().out
    surv = {
        r["doc_id"]: r["is_survivor"]
        for r in spark.read.parquet(f"{work}/audio_survivors").collect()
    }
    assert surv == {1: True, 2: False, 3: True}


def _g711_wav(bytes_data, fmt_tag, rate=8000):
    """A RIFF/WAVE payload with a G.711 fmt chunk (8 bits, 1 ch)."""
    import struct as _s

    return (
        b"RIFF" + _s.pack("<I", 36 + len(bytes_data)) + b"WAVE"
        + b"fmt " + _s.pack("<IHHIIHH", 16, fmt_tag, 1, rate, rate, 1, 8)
        + b"data" + _s.pack("<I", len(bytes_data)) + bytes(bytes_data)
    )


def test_g711_expansion_formulas():
    """Spot-pin the mu-law/A-law expansion against known points of the
    ITU-T G.711 tables."""
    # the canonical g711.c (16-bit-aligned) convention: mu-law spans
    # +-32124, A-law +-32256; 0xFF/0x7F encode +-0
    assert A._g711_ulaw(0xFF) == 0
    assert A._g711_ulaw(0x7F) == 0
    assert A._g711_ulaw(0x00) == -32124  # max negative magnitude
    assert A._g711_ulaw(0x80) == 32124
    assert A._g711_ulaw(0xFE) == 8  # smallest nonzero step
    # A-law sign convention per canonical alaw2linear (r13 advice):
    # after the 0x55 XOR a SET sign bit means POSITIVE
    assert A._g711_alaw(0xD5) == 8  # smallest positive band value
    assert A._g711_alaw(0x55) == -8
    assert A._g711_alaw(0xAA) == 32256  # top band
    assert A._g711_alaw(0x2A) == -32256


def test_g711_wav_decodes_and_dedups(spark, tmp_path):
    """Round 13: mu-law/A-law WAVs decode real samples (decoder no
    longer fake-rungs telephony audio), and the SAME signal companded
    two ways lands at high envelope cosine — the cross-compander
    duplicate, impossible in the byte domain."""
    import numpy as np

    def ulaw_byte(x):
        # standard mu-law compression (for fixture synthesis)
        s = 0x80 if x < 0 else 0
        x = min(abs(x), 8031) + 0x84
        exp = x.bit_length() - 8
        mant = (x >> (exp + 3)) & 0x0F
        return ~(s | (exp << 4) | mant) & 0xFF

    sig = _clip(2000)
    ub = bytes(ulaw_byte(s * 4) for s in sig)  # scale into G.711 range
    wav_u = _g711_wav(ub, 7)
    got = A.decode_wav_samples(wav_u)
    assert got is not None, "mu-law WAV fell to the fake rung"
    _rate, samples = got
    # round trip through compression is lossy but sign/shape-preserving
    assert len(samples) == len(sig)
    ref = np.array([s * 4 for s in sig], dtype=float)
    dec = np.array(samples, dtype=float)
    cos = float(ref @ dec / (np.linalg.norm(ref) * np.linalg.norm(dec)))
    assert cos > 0.99, f"mu-law expansion destroyed the signal: {cos}"

    # the envelope tier pairs the PCM original with its mu-law re-send
    fu = A.audio_features(samples)
    fp = A.audio_features([s * 4 for s in sig])
    cu = float(
        np.dot(fu, fp) / (np.linalg.norm(fu) * np.linalg.norm(fp))
    )
    assert cu > 0.99

    # A-law variant also decodes
    def alaw_byte(x):
        s = 0x80 if x >= 0 else 0
        x = min(abs(x), 0xFFF)
        if x < 256:
            v = x >> 4
            exp = 0
        else:
            exp = x.bit_length() - 8
            v = (x >> (exp + 3)) & 0x0F
        return (s | (exp << 4) | v) ^ 0x55

    ab = bytes(alaw_byte(s * 2) for s in sig)
    assert A.decode_wav_samples(_g711_wav(ab, 6)) is not None
    # unsupported codec tags still fall to None (fake rung)
    assert A.decode_wav_samples(_g711_wav(ub, 2)) is None  # MS ADPCM
    # G.711 with a 16-bit fmt chunk is malformed
    import struct as _s
    bad = (
        b"RIFF" + _s.pack("<I", 36 + 4) + b"WAVE"
        + b"fmt " + _s.pack("<IHHIIHH", 16, 7, 1, 8000, 16000, 2, 16)
        + b"data" + _s.pack("<I", 4) + b"\x00\x01\x02\x03"
    )
    assert A.decode_wav_samples(bad) is None


def test_audio_ladder_refusal(spark, tmp_path):
    """An audio-v1 artifact committed under the pre-G.711 (pcm-only)
    surface refuses to serve; the stateless build self-heals."""
    from haensel_ams_data_engineer_challenge_spark.operators.artifact_manifest import (
        artifact_overwrite,
    )

    old = str(tmp_path / "oldaud")
    artifact_overwrite(
        spark, old, {},
        {"kind": "encoder", "encoder": "audio-v1", "dim": 64, "grid": 64,
         "version": "feed00000000"},
        None,
    )
    df = spark.createDataFrame(
        [(1, bytearray(_wav(_clip(500))))], "doc_id long, payload binary"
    )
    with pytest.raises(ValueError, match="ladder"):
        E.embed_with_model(df, old).collect()
    # the BUILD at the same path self-heals to the current identity
    A.audio_encoder_build(spark, old)
    assert len(E.embed_with_model(df, old).collect()) == 1


def test_ima_adpcm_roundtrip_and_near_dup():
    """r13 verdict task 6: fmt 0x11 decodes real samples; an ADPCM
    re-encode of a PCM clip lands at high envelope cosine (the
    cross-codec duplicate); malformed/truncated payloads fall out."""
    import math

    sig = [
        int(6000 * math.sin(j / 9) + 2500 * math.sin(j / 23))
        for j in range(2000)
    ]
    wav = A.ima_adpcm_encode_wav(sig)
    got = A.decode_wav_samples(wav)
    assert got is not None, "ADPCM WAV fell to the fake rung"
    rate, dec = got
    assert rate == A.AUD_RATE
    assert len(dec) >= len(sig)  # tail block pads with the last sample
    assert max(abs(a - b) for a, b in zip(sig, dec)) < 500

    # near-dup vs the PCM original through the feature contract
    fa = A.audio_features(sig + [sig[-1]] * (len(dec) - len(sig)))
    fb = A.audio_features(dec)
    cos = sum(x * y for x, y in zip(fa, fb)) / math.sqrt(
        sum(x * x for x in fa) * sum(y * y for y in fb)
    )
    assert cos > 0.999

    # a data chunk holding only a PARTIAL block decodes nothing
    hdr_end = wav.index(b"data") + 8
    assert A.decode_wav_samples(wav[: hdr_end + 3]) is None
    # an unsupported codec tag still refuses (fake-rung contract)
    assert A.decode_wav_samples(wav.replace(b"\x11\x00\x01\x00",
                                            b"\x55\x00\x01\x00", 1)) is None


def test_ima_adpcm_stereo_block_channel_sum():
    """Stereo ADPCM: per-channel 4-byte headers, 4-byte-word channel
    interleave, channel-SUM mixdown (the PCM discipline)."""
    import struct as _s

    # two channels, one data word each: all-zero nibbles decay toward
    # the predictor (diff = step>>3 each step, sign +)
    blk = (
        _s.pack("<hBx", 1000, 10) + _s.pack("<hBx", -400, 0)
        + b"\x00" * 4   # channel 0 words
        + b"\x88" * 4   # channel 1: nibble 8 = negative steps
    )
    block_align = len(blk)
    fmt_body = _s.pack(
        "<HHIIHHHH", 0x11, 2, 8000, 8000, block_align, 4, 2, 9,
    )
    wav = (
        b"RIFF" + _s.pack("<I", 4 + 8 + len(fmt_body) + 8 + len(blk))
        + b"WAVE"
        + b"fmt " + _s.pack("<I", len(fmt_body)) + fmt_body
        + b"data" + _s.pack("<I", len(blk)) + blk
    )
    got = A.decode_wav_samples(wav)
    assert got is not None
    _rate, mono = got
    # spb = 1 + (16 - 8) * 2 // 2 = 9 summed samples
    assert len(mono) == 9
    # sample 0 is the header-predictor sum
    assert mono[0] == 1000 - 400
    # ch0 rises (nibble 0 => +step>>3), ch1 falls (nibble 8): verify
    # against a direct per-channel decode
    chans = A._ima_decode_block(wav, wav.index(b"data") + 8, block_align, 2)
    assert chans[0][0] == 1000 and chans[1][0] == -400
    assert all(b >= a for a, b in zip(chans[0], chans[0][1:]))
    assert all(b <= a for a, b in zip(chans[1], chans[1][1:]))
    assert mono == [a + b for a, b in zip(chans[0], chans[1])]


def test_cli_dedup_audio_clusters_adpcm_reencode(spark, tmp_path, capsys):
    """Product surface: an IMA-ADPCM re-encode of a PCM clip clusters
    under it in dedup-audio (the cross-codec duplicate regime)."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    sig = _clip(2000)
    rows = [
        (1, bytearray(_wav(sig))),
        (2, bytearray(A.ima_adpcm_encode_wav(sig))),   # cross-codec dup
        (3, bytearray(_wav([((j * 37) % 120) - 60 for j in range(2000)]))),
    ]
    src = str(tmp_path / "clips.parquet")
    spark.createDataFrame(rows, "doc_id long, payload binary").write.parquet(src)
    work = str(tmp_path / "work")
    rc = main(["dedup-audio", "--audio-parquet", src, "--work-dir", work])
    assert rc == 0
    surv = {
        r["doc_id"]: r["is_survivor"]
        for r in spark.read.parquet(f"{work}/audio_survivors").collect()
    }
    assert surv == {1: True, 2: False, 3: True}
