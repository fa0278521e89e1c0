"""Audio near-dup tier: the ``audio-v1`` encoder kind (round 12).

The audio modality so far stops at HEADER geometry
(:func:`.binary.parse_audio_header` — channels/rate/bits from ranged
reads, the right call when a 100 TB pipeline only needs metadata).
This module adds the SAMPLE tier: a real stdlib PCM decode
(RIFF/WAVE chunk walk + struct unpacking — the audio analogue of
:func:`.phash.decode_png_pixels`) into a gain-invariant energy-envelope
feature vector served through the round-10 encoder seam
(:func:`..operators.embed.embed_with_model`), so the existing
``embedding_dup_pairs_lsh`` / ``semdedup_keep`` / ANN machinery works
on audio unchanged — exactly how the ``image-v1`` kind plugged in.

Feature design (deterministic integer math, so the DuckDB twin
recomputes it bit-for-bit): mix channels to mono (channel SUM —
exact under gain; the count factor cancels in cosine),
partition the sample stream into ``grid`` windows with the shared
integer partition ``(j * grid) // n``, take each window's SUM of
absolute amplitude (the energy envelope — sums, not means: unequal
window lengths under floor-division means would break the exact-gain
identity below), then mean-center without division:
``f[i] = grid * S[i] - sum(S)``.  Properties:

- GAIN (every sample * k, the re-mastered / volume-normalized
  duplicate): |s| scales by k exactly, so S, the total, and f all
  scale by k — the gate arm's planted twins certify the EXACT 2x
  feature relation; the cosine expression lands at 1.0 within one
  ulp (scaled, not bit-equal, vectors);
- a trim/pad shifts every window boundary slightly, so cosine degrades
  gracefully — the semantic regime (pinned by pytest);
- silence (or any flat envelope) has no direction: encoded as absent,
  the zero-token-document contract;
- ``grid`` = 64 = EMBEDDING_DIM, so every embedding consumer (LSH
  banding at the default dim, cosine verify, ANN) composes without a
  dim override.

Scale shape: one Arrow ``mapInPandas`` over (id, payload) — no
shuffle; everything downstream is the banded-LSH pair machinery whose
only wide exchange carries (band, bucket, id).  The sample ceiling
(``_WAV_MAX_SAMPLES``) bounds per-payload CPU the way the PNG pixel
ceiling does: an adversarial header declaring more falls to the fake
rung, degrading that one payload's dedup, never the task.

Reference analogue: none — the reference has no audio tier; the seam
contract cites api_utils.py:68-138 (model at a boundary) like the
text/image encoder kinds.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.artifact_manifest import (
    ArtifactSnapshot,
    artifact_check,
    artifact_open,
    artifact_overwrite,
)
from ..sources import load_table
from .armconf import SAMPLE_ARM_MOD

#: feature grid: 64 energy windows = EMBEDDING_DIM.
AUDIO_GRID = 64

#: per-payload decoded-sample ceiling (~23 s at 44.1 kHz mono): the
#: envelope needs only relative window energies, and an adversarial
#: valid header declaring hours of PCM must not pin an executor task
#: in the pure-Python unpack loop (the PNG _PNG_MAX_PIXELS posture).
_WAV_MAX_SAMPLES = 1 << 20

# -- gate-arm synthesis constants (shared, as integer math, with the
# DuckDB twin): every AUD_TWIN_EVERY-th id gets a gain-doubled twin —
# base amplitude <= 99, so 2x never clips int16.
AUD_SAMPLE_MOD = 199
AUD_TWIN_GAIN = 2
AUD_TWIN_EVERY = 5
AUD_TWIN_OFFSET = 1_000_000_000
AUD_RATE = 8000


def _g711_ulaw(b: int) -> int:
    """ITU-T G.711 mu-law byte -> linear sample (the standard
    expansion: invert, split exponent/mantissa, remove the +33 bias).
    Pure integer formula — no table needed."""
    b = ~b & 0xFF
    sign = b & 0x80
    exp = (b >> 4) & 7
    mant = b & 0x0F
    v = (((mant << 3) + 0x84) << exp) - 0x84
    return -v if sign else v


def _g711_alaw(b: int) -> int:
    """ITU-T G.711 A-law byte -> linear sample (even-bit inversion,
    exponent/mantissa split).  Sign convention per canonical
    alaw2linear (r13 advice): after the 0x55 XOR a SET sign bit means
    POSITIVE — the opposite of mu-law's inverted encoding."""
    b ^= 0x55
    sign = b & 0x80
    exp = (b >> 4) & 7
    mant = b & 0x0F
    if exp == 0:
        v = (mant << 4) + 8
    else:
        v = ((mant << 4) + 0x108) << (exp - 1)
    return v if sign else -v


#: WAVE format tags the sample tier decodes: PCM, the G.711
#: telephony companders (round 13 — 8-bit logarithmic, one byte per
#: sample; the voice-crawl format), and IMA/DVI ADPCM (round 14,
#: r13 verdict task 6 — 4-bit block-compressed, the last common
#: uncompressed-ish WAV variant).
_WAV_FMT_PCM, _WAV_FMT_ALAW, _WAV_FMT_ULAW = 1, 6, 7
_WAV_FMT_IMA_ADPCM = 0x11

#: the decode-ladder identity baked into every audio-v1 artifact
#: (the image-v1 ``ladder`` rule, round 13): adding G.711 changed the
#: feature space for mu-law/A-law bytes (they used to fall to the
#: fake rung), so artifacts committed under the PCM-only surface must
#: refuse to serve.  Round 14 adds IMA-ADPCM — same rule, same bump.
AUD_LADDER = "pcm+g711+adpcm"


#: IMA/DVI ADPCM tables (IMA "Recommended Practices for Enhancing
#: Digital Audio Compatibility", public knowledge — the same 89-entry
#: step table every implementation ships).
_IMA_INDEX_STEP = (-1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
)


def _ima_step(pred: int, idx: int, nib: int) -> tuple[int, int]:
    """One IMA-ADPCM decode step: (new predictor, new step index)."""
    step = _IMA_STEP_TABLE[idx]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    if nib & 8:
        diff = -diff
    pred = max(-32768, min(32767, pred + diff))
    idx = max(0, min(88, idx + _IMA_INDEX_STEP[nib & 7]))
    return pred, idx


def _ima_decode_block(
    payload: bytes, off: int, block: int, ch: int
) -> list[list[int]]:
    """One IMA-ADPCM block -> per-channel samples: 4-byte header per
    channel (predictor i16 + step index u8 + reserved), then nibble
    data in 4-byte words round-robin across channels, low nibble
    first — the standard WAV layout."""
    preds: list[int] = []
    idxs: list[int] = []
    chans: list[list[int]] = []
    for c in range(ch):
        pred, idx = struct.unpack_from("<hBx", payload, off + 4 * c)
        idx = max(0, min(88, idx))
        preds.append(pred)
        idxs.append(idx)
        chans.append([pred])  # the header predictor IS sample 0
    data0 = off + 4 * ch
    for w in range((block - 4 * ch) // 4):
        c = w % ch
        for b in payload[data0 + 4 * w : data0 + 4 * w + 4]:
            for nib in (b & 0x0F, b >> 4):
                preds[c], idxs[c] = _ima_step(preds[c], idxs[c], nib)
                chans[c].append(preds[c])
    return chans


def ima_adpcm_encode_wav(
    samples: list[int], rate: int = AUD_RATE, block_data_bytes: int = 64
) -> bytes:
    """Writer twin: a REAL mono IMA-ADPCM WAV (fmt tag 0x11, 4-bit,
    fmt-chunk extension carrying samples-per-block) — decodable by any
    ADPCM-aware reader.  The encoder is the standard quantize-then-
    track-the-decoder loop, so decode(encode(x)) tracks x within the
    codec's quantization error; a short tail block pads by repeating
    the last sample (constant tail: zero envelope contribution)."""
    if not samples:
        raise ValueError("need at least one sample")
    spb = 1 + block_data_bytes * 2
    block_align = 4 + block_data_bytes
    # initial step index from the first sample delta (the usual
    # encoder warm-start): starting at 0 makes the quantizer slew-rate
    # limited for the first dozens of samples of any hot signal
    first_diff = abs(samples[1] - samples[0]) if len(samples) > 1 else 0
    idx = min(
        range(len(_IMA_STEP_TABLE)),
        key=lambda i: abs(_IMA_STEP_TABLE[i] - first_diff),
    )
    blocks: list[bytes] = []
    k = 0
    samples = [max(-32768, min(32767, int(s))) for s in samples]
    while k < len(samples):
        chunk = samples[k : k + spb]
        if len(chunk) < spb:
            chunk = chunk + [chunk[-1]] * (spb - len(chunk))
        pred = chunk[0]
        header = struct.pack("<hBx", pred, idx)
        nibbles: list[int] = []
        for s in chunk[1:]:
            step = _IMA_STEP_TABLE[idx]
            diff = s - pred
            nib = 0
            if diff < 0:
                nib = 8
                diff = -diff
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            pred, idx = _ima_step(pred, idx, nib)
            nibbles.append(nib)
        data = bytes(
            nibbles[j] | (nibbles[j + 1] << 4)
            for j in range(0, len(nibbles), 2)
        )
        blocks.append(header + data)
        k += spb
    body = b"".join(blocks)
    byte_rate = (rate * block_align + spb - 1) // spb
    fmt_body = struct.pack(
        "<HHIIHHHH",
        _WAV_FMT_IMA_ADPCM, 1, rate, byte_rate, block_align, 4,
        2, spb,  # cbSize=2 + wSamplesPerBlock
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt_body) + 8 + len(body))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt_body))
        + fmt_body
        + b"data"
        + struct.pack("<I", len(body))
        + body
    )


def decode_wav_samples(payload: bytes) -> tuple[int, list[int]] | None:
    """REAL stdlib audio decode: (sample_rate, mono samples) for a
    RIFF/WAVE payload whose data chunk BYTES are present, None
    otherwise (non-WAV, unsupported codecs, header-only, or past the
    sample ceiling — callers fall to the fake rung).

    Unlike :func:`.binary.parse_audio_header` (geometry from declared
    sizes — ranged reads suffice), the sample tier needs the actual
    bytes: only complete blocks present in the payload are decoded
    (``min(declared, available)``), so a truncated object decodes its
    prefix instead of crashing.  16-bit signed and 8-bit unsigned PCM
    (the two classic WAV layouts) plus G.711 mu-law/A-law (round 13 —
    the telephony formats; 8-bit log-companded, expanded by the
    standard integer formulas); multi-channel mixes down by channel
    SUM, not mean — ``(k*a + k*b) // ch`` is not ``k * ((a+b) // ch)``
    under floor division, so a mean mixdown would break the EXACT gain
    identity the feature contract promises for stereo re-gains; the
    sum scales by k exactly, and the constant channel-count factor
    cancels in cosine like any other gain.  (G.711 is logarithmic, so
    a LINEAR-domain gain is not byte-representable — the exact-gain
    identity is a PCM statement; G.711 re-encodes of the same signal
    land near, not at, cosine 1.)"""
    n = len(payload)
    if n < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    fmt = None
    data_off = data_size = None
    i = 12
    while i + 8 <= n:
        cid = payload[i : i + 4]
        (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
        if cid == b"fmt " and size >= 16 and i + 24 <= n:
            audio_fmt, ch, rate, _br, block, bits = struct.unpack(
                "<HHIIHH", payload[i + 8 : i + 24]
            )
            if audio_fmt not in (
                _WAV_FMT_PCM, _WAV_FMT_ALAW, _WAV_FMT_ULAW,
                _WAV_FMT_IMA_ADPCM,
            ):
                return None  # other codecs need real decoders
            fmt = (audio_fmt, ch, rate, block, bits)
        elif cid == b"data":
            data_off, data_size = i + 8, size
        if fmt is not None and data_off is not None:
            break
        i += 8 + size + (size % 2)
    if fmt is None or data_off is None:
        return None
    audio_fmt, ch, rate, block, bits = fmt
    if audio_fmt == _WAV_FMT_IMA_ADPCM:
        # round 14 (r13 verdict task 6): block-compressed 4-bit IMA —
        # per-channel 4-byte headers, 4-byte-word channel interleave;
        # only COMPLETE blocks present in the payload decode (the
        # truncation discipline above), channel-SUM mixdown like PCM
        if bits != 4 or ch == 0 or rate == 0:
            return None
        if block < 4 * ch or (block - 4 * ch) % (4 * ch) != 0:
            return None
        spb = 1 + (block - 4 * ch) * 2 // ch
        avail = min(data_size, max(0, n - data_off))
        n_blocks = avail // block
        if n_blocks == 0 or n_blocks * spb > _WAV_MAX_SAMPLES:
            return None
        mono: list[int] = []
        for kb in range(n_blocks):
            chans = _ima_decode_block(
                payload, data_off + kb * block, block, ch
            )
            if ch == 1:
                mono.extend(chans[0])
            else:
                mono.extend(
                    sum(c[j] for c in chans) for j in range(spb)
                )
        return rate, mono
    if audio_fmt != _WAV_FMT_PCM and bits != 8:
        return None  # G.711 is 8 bits per sample by definition
    if ch == 0 or rate == 0 or block == 0 or bits not in (8, 16):
        return None
    if block != ch * (bits // 8):
        return None
    usable = min(data_size, max(0, n - data_off)) // block
    if usable == 0 or usable > _WAV_MAX_SAMPLES:
        return None
    raw = payload[data_off : data_off + usable * block]
    if audio_fmt == _WAV_FMT_ULAW:
        flat = [_g711_ulaw(b) for b in raw]
    elif audio_fmt == _WAV_FMT_ALAW:
        flat = [_g711_alaw(b) for b in raw]
    elif bits == 16:
        flat = struct.unpack(f"<{usable * ch}h", raw)
    else:
        flat = [b - 128 for b in raw]
    if ch == 1:
        return rate, list(flat)
    return rate, [
        sum(flat[j * ch : (j + 1) * ch]) for j in range(usable)
    ]


def _fake_samples(payload: bytes, n: int) -> list[int]:
    """Deterministic fake sample rung for undecodable payloads: ``n``
    signed values from the payload's chained md5 stream — stable
    across runs/engines/partitionings (the ``_fake_grays``
    discipline), so exact byte duplicates still land at cosine 1.0."""
    out: list[int] = []
    block = 0
    while len(out) < n:
        out.extend(
            b - 128
            for b in hashlib.md5(payload + b"|%d" % block).digest()
        )
        block += 1
    return out[:n]


def audio_features(
    samples: list[int], grid: int = AUDIO_GRID
) -> list[float] | None:
    """Mean-centered energy envelope (module docstring): window SUMS of
    |s| with the shared ``(j * grid) // n`` partition, centered as
    ``f[i] = grid * S[i] - sum(S)`` — integer-valued doubles, the
    repo's fixed-point discipline.  None for a flat envelope
    (silence, DC: f would be the zero vector, which has no
    direction)."""
    n = len(samples)
    if n == 0:
        return None
    sums = [0] * grid
    for j, s in enumerate(samples):
        sums[(j * grid) // n] += s if s >= 0 else -s
    if min(sums) == max(sums):
        return None
    tot = sum(sums)
    return [float(grid * v - tot) for v in sums]


def audio_encoder_build(
    spark: SparkSession,
    path: str,
    dim: int | None = None,
    grid: int = AUDIO_GRID,
) -> ArtifactSnapshot:
    """Commit an ``audio-v1`` encoder artifact at ``path`` (no-op when
    a matching one exists) and return the served generation.  Stateless like ``image-v1``: the artifact
    is the params marker pinning the FEATURE SPACE (kind, dim, grid)
    that index markers and worker caches key on; a learned audio
    encoder adds its weight files beside it and rides the same
    commit."""
    from ..operators.embed import AUDIO_KIND

    if dim is None:
        dim = grid
    if dim != grid:
        raise ValueError(
            f"audio-v1 dim must equal grid ({grid}), got {dim}"
        )
    params = {
        "kind": "encoder",
        "encoder": AUDIO_KIND,
        "dim": dim,
        "grid": grid,
        "ladder": AUD_LADDER,
    }
    snap = artifact_open(spark, path)
    try:
        if artifact_check(snap, params):
            return snap
    except ValueError:
        pass  # older feature-space identity: builds rebuild in place
    # mix=sum entered the content hash when the stereo mixdown moved
    # from integer mean to channel sum (review fix): the mixdown IS
    # part of the feature space for multi-channel payloads, and
    # serving new vectors under an old embedder pin would silently mix
    # two spaces in one index
    content = f"audio-v1|dim={dim}|grid={grid}|mix=sum|ladder={AUD_LADDER}"

    version = hashlib.md5(content.encode("utf-8")).hexdigest()[:12]
    return artifact_overwrite(
        spark, path, {}, {**params, "version": version}, snap
    )


class _PreparedAudio:
    """Worker-side prepared audio encoder: the decode ladder (real PCM
    samples -> deterministic fake rung) + envelope features, optionally
    followed by a LEARNED linear projection (``mat``, D x grid — the
    bring-your-own-weights form an audio embedder's distilled/PCA'd
    head exports; round 13, the _PreparedImage pattern).  The
    once-per-worker cache in embed_with_model gives the loaded matrix
    the right lifetime."""

    __slots__ = ("grid", "mat")

    def __init__(self, grid: int, mat=None):
        self.grid = grid
        self.mat = mat

    def encode_payload(self, payload) -> list[float] | None:
        if payload is None:
            payload = b""
        decoded = decode_wav_samples(bytes(payload))
        if decoded is not None:
            _rate, samples = decoded
        else:
            samples = _fake_samples(bytes(payload), self.grid)
        feats = audio_features(samples, self.grid)
        if feats is None or self.mat is None:
            return feats
        import numpy as np

        out = self.mat @ np.asarray(feats, dtype=np.float64)
        if not out.any():
            # a projection can null a direction the raw features had:
            # no direction -> absent (the zero-vector contract)
            return None
        return [float(v) for v in out]


#: bound on an imported audio projection's OUTPUT dim (the
#: IMG_PROJ_MAX_DIM rationale: past a few thousand rows the broadcast
#: matrix is a model checkpoint, not a projection).
AUD_PROJ_MAX_DIM = 4096


def audio_encoder_import(
    spark: SparkSession,
    weights_df: DataFrame,
    path: str,
    grid: int = AUDIO_GRID,
) -> dict:
    """Commit a PROJECTED ``audio-v1`` encoder (round 13 — the audio
    analogue of ``image_encoder_import``, closing the encoder-import
    parity gap): ``weights_df`` is ``(row long, vec array<double>)``
    — a D x ``grid`` projection matrix applied on top of the stateless
    envelope features.  Output dim = D; every embedding consumer sizes
    itself from the artifact's dim.  Shared validation refuses torn
    exports (``validate_projection_matrix``); the version is a content
    hash over the weights AND the mixdown identity, so a re-import
    never serves a stale space."""
    import hashlib as _hl

    from ..operators.embed import AUDIO_KIND, validate_projection_matrix

    rows, collected, n = validate_projection_matrix(
        weights_df, grid, AUD_PROJ_MAX_DIM, "audio"
    )
    h = _hl.md5()
    h.update(f"mix=sum|grid={grid}|ladder={AUD_LADDER}|".encode())
    for r in collected:
        h.update(repr((r["row"], tuple(r["vec"]))).encode())
    version = h.hexdigest()[:12]
    params = {
        "kind": "encoder",
        "encoder": AUDIO_KIND,
        "dim": n,
        "grid": grid,
        "ladder": AUD_LADDER,
        "projected": "true",
        "version": version,
    }
    artifact_overwrite(
        spark, path, {"weights": rows}, params, artifact_open(spark, path)
    )
    return params


def audio_embed_frame(
    docs: DataFrame,
    snap: ArtifactSnapshot,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    load_log_dir: str | None = None,
) -> DataFrame:
    """The audio branch of ``embed_with_model``: (vec_id, embedding
    array<double>) from an audio-payload frame through one Arrow
    mapInPandas — the same output contract as every other encoder
    kind."""
    from ..operators.embed import _worker_encoder_cache

    model_path, params = snap.path, snap.params
    if params.get("ladder") != AUD_LADDER:
        # committed under an older decode surface (pre-G.711): the
        # same mu-law bytes would embed differently — refuse loudly
        # (the image-v1 ladder rule; builds self-heal, serving refuses)
        raise ValueError(
            f"audio encoder at {model_path} was committed under decode "
            f"ladder {params.get('ladder') or 'pcm-only (pre-r13)'}; "
            f"this build decodes {AUD_LADDER} — rebuild the artifact"
        )
    grid = int(params.get("grid", AUDIO_GRID))
    version = params.get("version", "1")
    projected = params.get("projected") == "true"
    proj_dim = int(params.get("dim", grid))
    weights = snap.files("weights") if projected else []
    src = docs.select(
        F.col(id_col).alias("vec_id"), F.col(payload_col).alias("__p")
    )
    id_type = dict(src.dtypes)["vec_id"]
    cache_key = (model_path, version)

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache = _worker_encoder_cache()
        enc = cache.get(cache_key)
        if enc is None:
            if projected:
                from ..operators.embed import load_projection_matrix

                enc = _PreparedAudio(
                    grid,
                    load_projection_matrix(model_path, weights, proj_dim, grid),
                )
            else:
                enc = _PreparedAudio(grid)
            cache[cache_key] = enc
            if load_log_dir is not None:
                import os
                import uuid

                os.makedirs(load_log_dir, exist_ok=True)
                with open(
                    os.path.join(
                        load_log_dir, f"{uuid.uuid4().hex}-{os.getpid()}.loaded"
                    ),
                    "w",
                ) as fh:
                    fh.write(f"{os.getpid()}\n")
        for pdf in batches:
            ids, vecs = [], []
            for i, p in zip(pdf["vec_id"], pdf["__p"]):
                v = enc.encode_payload(p)
                if v is not None:
                    ids.append(i)
                    vecs.append(v)
            yield pd.DataFrame(
                {
                    "vec_id": pd.Series(ids, dtype=pdf["vec_id"].dtype),
                    "embedding": pd.Series(vecs, dtype=object),
                }
            )

    return src.mapInPandas(_encode, f"vec_id {id_type}, embedding array<double>")


# ---------------------------------------------------------------------------
# gate arm: synthesized REAL 16-bit mono PCM WAVs (base clip per
# doc_id + a planted GAIN-DOUBLED twin for every AUD_TWIN_EVERY-th id
# — exact feature scaling by the envelope identity, so the twin's
# features are exactly 2x the base's and the gate hash certifies the
# relation).  Spark decodes actual RIFF bytes; the DuckDB twin
# re-derives the sample formula — the phash/image-arm scheme, extended
# to the audio modality.
# ---------------------------------------------------------------------------

#: sample formula (integer, shared with the SQL twin): id-keyed,
#: j-varying texture with a quadratic term so the envelope is never
#: flat; amplitude in [-99, 99] so the 2x twin never clips int16.
_SAMPLE_SQL = (
    f"(base_id * 31 + j * 7 + ((j * j) % 23) * 5) % {AUD_SAMPLE_MOD} - 99"
)


def _sample(i: int, j: int) -> int:
    return (i * 31 + j * 7 + ((j * j) % 23) * 5) % AUD_SAMPLE_MOD - 99


def _syn_n(i: int) -> int:
    # id-varied clip length, always >= 400 so all 64 windows are
    # non-empty (the SQL twin groups existing windows only)
    return 400 + (i * 13) % 300


def synthesize_pcm_wavs(
    ids_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, payload): one real 16-bit mono PCM WAV per id from the
    shared integer formula — data chunk PRESENT (the sample tier needs
    bytes, unlike the header fixtures) — plus a gain-doubled twin
    (id + AUD_TWIN_OFFSET) for ids divisible by AUD_TWIN_EVERY."""

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, payloads = [], []
            for i in pdf[id_col]:
                i = int(i)
                n = _syn_n(i)
                variants = [(i, 1)]
                if i % AUD_TWIN_EVERY == 0:
                    variants.append((i + AUD_TWIN_OFFSET, AUD_TWIN_GAIN))
                for vid, gain in variants:
                    samples = [gain * _sample(i, j) for j in range(n)]
                    data = struct.pack(f"<{n}h", *samples)
                    payloads.append(
                        b"RIFF"
                        + struct.pack("<I", 36 + len(data))
                        + b"WAVE"
                        + b"fmt "
                        + struct.pack(
                            "<IHHIIHH",
                            16, 1, 1, AUD_RATE, AUD_RATE * 2, 2, 16,
                        )
                        + b"data"
                        + struct.pack("<I", len(data))
                        + data
                    )
                    out_ids.append(vid)
            yield pd.DataFrame({id_col: out_ids, "payload": payloads})

    return ids_df.select(id_col).mapInPandas(
        _build, f"{id_col} long, payload binary"
    )


def audio_embed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry arm (round 12): synthesized real PCM WAVs -> REAL
    sample decode -> envelope features, certified by per-clip integer
    stats (env_total = total |s|, f0/f_min/f_max = exact feature
    values — any drift anywhere in decode -> mixdown -> window ->
    center moves them).  Every row must come back decoder='pcm' (a
    fake-rung fallback would feature different samples and fail the
    oracle).  The planted gain twins ride along: their stats are
    exactly 2x their base's, so the hash certifies the invariance the
    dedup tier relies on.  Round 14: ids sampled at 1-in-SAMPLE_ARM_MOD
    — the gate certifies the codec, not the corpus (oracle carries the
    same predicate)."""
    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % SAMPLE_ARM_MOD == 0)
    )
    syn = synthesize_pcm_wavs(ids)
    grid = AUDIO_GRID

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [], "decoder": [], "n_samples": [],
                "env_total": [], "f0": [], "f_min": [], "f_max": [],
            }
            for i, p in zip(pdf["doc_id"], pdf["payload"]):
                decoded = decode_wav_samples(bytes(p))
                if decoded is not None:
                    _rate, samples = decoded
                    decoder = "pcm"
                else:
                    samples = _fake_samples(bytes(p), grid)
                    decoder = "fake"
                feats = audio_features(samples, grid)
                sums_total = sum(abs(s) for s in samples)
                rows["doc_id"].append(int(i))
                rows["decoder"].append(decoder)
                rows["n_samples"].append(len(samples))
                rows["env_total"].append(sums_total)
                rows["f0"].append(int(feats[0]) if feats else None)
                rows["f_min"].append(int(min(feats)) if feats else None)
                rows["f_max"].append(int(max(feats)) if feats else None)
            yield pd.DataFrame(rows)

    return syn.mapInPandas(
        _stats,
        "doc_id long, decoder string, n_samples long, env_total long, "
        "f0 long, f_min long, f_max long",
    )


AUDIO_EMBED_SQL = f"""
WITH eids AS (
    SELECT doc_id AS vid, doc_id AS base_id, 1 AS gain FROM documents
    WHERE doc_id % {SAMPLE_ARM_MOD} = 0
    UNION ALL
    SELECT doc_id + {AUD_TWIN_OFFSET}, doc_id, {AUD_TWIN_GAIN}
    FROM documents
    WHERE doc_id % {AUD_TWIN_EVERY} = 0 AND doc_id % {SAMPLE_ARM_MOD} = 0),
edims AS (
    SELECT vid, base_id, gain, 400 + (base_id * 13) % 300 AS n
    FROM eids),
esamp AS (
    SELECT vid, base_id, gain, n, unnest(range(0, n)) AS j
    FROM edims),
eval_ AS (
    SELECT vid, n, gain * ({_SAMPLE_SQL}) AS s, (j * {AUDIO_GRID}) // n AS w
    FROM esamp),
ewin AS (
    SELECT vid, w, SUM(ABS(s)) AS sw
    FROM eval_ GROUP BY vid, w),
etot AS (
    SELECT vid, SUM(sw) AS tot FROM ewin GROUP BY vid)
SELECT w.vid AS doc_id,
       'pcm' AS decoder,
       MAX(d.n) AS n_samples,
       MAX(t.tot) AS env_total,
       MAX(CASE WHEN w.w = 0 THEN {AUDIO_GRID} * w.sw - t.tot END) AS f0,
       MIN({AUDIO_GRID} * w.sw - t.tot) AS f_min,
       MAX({AUDIO_GRID} * w.sw - t.tot) AS f_max
FROM ewin w
JOIN etot t ON t.vid = w.vid
JOIN edims d ON d.vid = w.vid
GROUP BY w.vid"""
