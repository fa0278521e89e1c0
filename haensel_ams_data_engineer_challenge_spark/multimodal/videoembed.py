"""Video near-dup tier: the ``video-v1`` encoder kind (round 13, r12
verdict task 2).

The modality ladder had pixels for images (:mod:`.phash`, :mod:`.jpeg`)
and samples for audio (:mod:`.audioembed`) but stopped at HEADER
metadata for video (:func:`.binary.parse_video_header`) — no
frame-level features, so no video near-dup beyond byte-exact /
metadata matching.  This module adds the honest stdlib-decodable
sample tier: **MJPEG-in-AVI**, where the container is a RIFF chunk
walk (the WAV walker discipline) and every frame is a baseline JPEG
the round-13 codec already decodes.  Non-MJPEG codecs (H.264 etc.)
fall to the fake rung exactly like compressed WAV does — decoding
them requires a codec library this container does not ship.

Feature design: sample up to ``frames`` frames evenly by index
(``(k * F) // n`` — the shared integer partition, deduplicated), run
each through the JPEG pixel decode into the image-v1 box features
(:func:`.imgembed.image_features` — mean-centered integer 8x8 box
means), and pool by elementwise SUM into one fixed ``grid*grid``-dim
clip vector.  Properties:

- a re-encoded clip (same frames, different JPEG quality) moves each
  frame's features slightly — cosine degrades gracefully, exactly the
  image tier's regime;
- a per-frame BRIGHTNESS shift cancels via the image-v1 centering
  identity: EXACTLY (cosine 1.0, equal vectors) in the lossless
  regime the gate arm pins (block-constant even grays, quality 50),
  and to ~1e-5 on general lossy content — the decoded delta under a
  +c shift is 8c*t^2 = c +- ~1e-13, so a pixel sitting exactly on a
  rounding boundary can move one gray and nudge one box mean
  (measured in pytest; still far above any duplicate bar);
- a trim changes which frames are sampled — graceful degradation
  (pinned by pytest);
- SUM pooling (not mean) keeps the vector integer-valued and makes
  the sampled-frame count an explicit scale factor that cancels in
  cosine;
- an all-constant-frames clip has no direction: encoded as absent,
  the zero-token contract.

Scale shape: one Arrow ``mapInPandas`` over (id, payload) — no
shuffle; everything downstream (banded LSH, SemDeDup, ANN, the
streaming media ingest) is the existing vector machinery, unchanged.
Per-payload CPU is bounded twice: the sampled-frame COUNT by
``frames`` and each frame's pixels by the JPEG codec's ceiling.

Reference analogue: none — the reference has no media tier; the seam
contract cites api_utils.py:68-138 (model at a boundary) like every
other encoder kind.
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
from .imgembed import image_features
from .jpeg import JPEG_EXACT_QUALITY, decode_jpeg_pixels, jpeg_encode_gray
from .phash import _fake_grays

#: feature grid: 8x8 box means per frame -> 64 dims = EMBEDDING_DIM.
VID_GRID = 8
#: default sampled-frame budget per clip.
VID_FRAMES = 4
#: RIFF LIST descent bound (the _MP4_MAX_DEPTH discipline): real AVI
#: metadata nests 3 deep (RIFF/hdrl/strl); past 16 is adversarial.
_AVI_MAX_DEPTH = 16
#: the decode-ladder identity baked into every video-v1 artifact
#: version (the image-v1 ``ladder`` rule): frame decode reads
#: progressive JPEGs, and round 14 adds ANIMATED GIFS and JPEG-coded
#: MP4/MOV as clips (both used to fall to the fake rung; they now ride
#: the frame sampler + SUM pooling like MJPEG-in-AVI) — these changes
#: move the feature space for such payloads, hence the ladder bump.
VID_LADDER = "mjpeg+jpeg-prog+gif+mp4j"

# -- gate-arm synthesis constants (shared, as integer math, with the
# DuckDB twin): base block grays on % 110 (even, <= 218) so the +20
# brightness twin never clamps and stays even (the JPEG
# lossless-decode precondition).
VID_PIX_MOD = 110
VID_TWIN_SHIFT = 20
VID_TWIN_EVERY = 5
VID_TWIN_OFFSET = 1_000_000_000


# ---------------------------------------------------------------------------
# RIFF/AVI container: writer twin + MJPEG chunk walk
# ---------------------------------------------------------------------------


def _chunk(cid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return cid + struct.pack("<I", len(body)) + body + pad


def _list(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def avi_encode_mjpeg(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """A REAL (stdlib-only) MJPEG-in-AVI container: RIFF('AVI ') with
    hdrl(avih + strl(strh 'vids'/'MJPG' + strf BITMAPINFOHEADER)),
    movi('00dc' chunks holding the JPEG frame bytes) and an idx1 —
    readable by any AVI demuxer.  The writer twin of
    :func:`parse_avi_mjpeg`, used by the fixture synthesizer and
    tests."""
    if not frames:
        raise ValueError("an MJPEG AVI needs at least one frame")
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // max(1, fps),  # dwMicroSecPerFrame
        0, 0,
        0x10,  # AVIF_HASINDEX
        len(frames), 0, 1,
        max(len(f) for f in frames),
        width, height,
        0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII",
            0, 0, 0, 0,
            1, fps,  # dwScale / dwRate
            0, len(frames),
            max(len(f) for f in frames),
            0xFFFFFFFF, 0,
        )
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_body = b""
    idx = b""
    for f in frames:
        # idx1 offsets are relative to the 'movi' fourcc position
        idx += b"00dc" + struct.pack("<III", 0x10, 4 + len(movi_body), len(f))
        movi_body += _chunk(b"00dc", f)
    movi = _list(b"movi", movi_body)
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_avi_mjpeg(
    payload: bytes,
) -> tuple[int, int, list[tuple[int, int]]] | None:
    """REAL (stdlib-only) AVI demux: (width, height, [(frame_offset,
    frame_size), ...]) for RIFF/AVI payloads whose FIRST video stream
    is MJPEG, None otherwise (non-AVI, non-MJPEG codecs, malformed
    sizes — callers fall to the fake rung, never raise).

    Walks the RIFF LIST tree iteratively (bounded depth, the
    _mp4_boxes discipline): avih gives the declared geometry, the
    strh/strf pair identifies the video stream's codec and INDEX
    (data chunk ids are '##dc'/'##db' keyed on stream order), the
    movi list yields the frame byte spans.  Frame pixels come from
    the JPEG bytes themselves at decode time; the header geometry is
    metadata only."""
    n = len(payload)
    if n < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    width = height = None
    stream_types: list[bytes] = []  # fccType per strh, in file order
    mjpeg_streams: set[int] = set()
    spans: list[tuple[int, int]] = []

    def _chunks(start: int, end: int):
        i = start
        while i + 8 <= end:
            cid = payload[i : i + 4]
            (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
            body = i + 8
            if body + size > end:
                return
            yield cid, body, body + size
            i = body + size + (size % 2)

    stack = [_chunks(12, min(n, 8 + struct.unpack("<I", payload[4:8])[0]))]
    while stack:
        nxt = next(stack[-1], None)
        if nxt is None:
            stack.pop()
            continue
        cid, b0, b1 = nxt
        if cid == b"LIST" and b0 + 4 <= b1:
            if len(stack) < _AVI_MAX_DEPTH:
                stack.append(_chunks(b0 + 4, b1))
        elif cid == b"avih" and b1 - b0 >= 40:
            width, height = struct.unpack("<II", payload[b0 + 32 : b0 + 40])
        elif cid == b"strh" and b1 - b0 >= 8:
            fcc_type = payload[b0 : b0 + 4]
            handler = payload[b0 + 4 : b0 + 8]
            if fcc_type == b"vids" and handler in (b"MJPG", b"mjpg"):
                mjpeg_streams.add(len(stream_types))
            stream_types.append(fcc_type)
        elif (
            len(cid) == 4
            and cid[2:4] in (b"dc", b"db")
            and cid[:2].isdigit()
        ):
            if int(cid[:2]) in mjpeg_streams and b1 > b0:
                spans.append((b0, b1 - b0))
    if width in (None, 0) or height in (None, 0) or not spans:
        return None
    if not mjpeg_streams:
        return None
    return int(width), int(height), spans


# ---------------------------------------------------------------------------
# ISO-BMFF (MP4/MOV) MJPEG sample tier (round 14, r13 verdict task 4):
# the box walk already reads stsd codec fourccs for metadata; this adds
# the stsz/stsc/stco/co64 sample-table walk (ISO 14496-12 sections
# 8.5-8.7) resolving every JPEG-coded sample to its absolute byte span
# — so jpeg-coded MP4/MOV clips dedup at frame level and a
# cross-container re-wrap (same frames, AVI <-> MP4) lands at cosine 1.
# ---------------------------------------------------------------------------

#: stsd sample-entry fourccs whose samples are plain JPEG bitstreams
#: (QuickTime 'jpeg'/'mjpa' photo-JPEG, the 'MJPG' alias some muxers
#: write).  'mjpb' is a nonstandard bitstream and 'avc1' etc. need
#: real codecs: both fall to the fake rung.
_MP4_JPEG_CODECS = frozenset({b"jpeg", b"mjpa", b"MJPG"})

#: sample-count ceiling for the table walk (the GIF_MAX_FRAMES
#: discipline scaled to container indexes: a bomb table costs bounded
#: list work, and the sampler reads at most VID_FRAMES spans anyway).
_MP4_MAX_SAMPLES = 1 << 16


def _trak_jpeg_tables(payload: bytes, t0: int, t1: int):
    """(width, height, sizes, chunk_offsets, stsc_runs) for a trak
    whose FIRST stsd entry is JPEG-coded, else None — bounded DFS over
    the trak subtree collecting the four sample tables."""
    from .binary import _MP4_CONTAINERS, _MP4_MAX_DEPTH, _mp4_boxes

    width = height = None
    fourcc = None
    sizes: list[int] | None = None
    chunk_offsets: list[int] | None = None
    stsc_runs: list[tuple[int, int]] | None = None
    stack = [_mp4_boxes(payload, t0, t1)]
    while stack:
        nxt = next(stack[-1], None)
        if nxt is None:
            stack.pop()
            continue
        btype, b0, b1 = nxt
        if btype == b"stsd" and b0 + 16 <= b1:
            fourcc = payload[b0 + 12 : b0 + 16]
            # video sample entry: width/height at entry offset 32/36
            # (16-byte entry header + 16 bytes of pre_defined/reserved)
            e0 = b0 + 8
            if e0 + 36 <= b1:
                width, height = struct.unpack(
                    ">HH", payload[e0 + 32 : e0 + 36]
                )
        elif btype == b"stsz" and b0 + 12 <= b1:
            fixed, count = struct.unpack(">II", payload[b0 + 4 : b0 + 12])
            if count == 0 or count > _MP4_MAX_SAMPLES:
                return None
            if fixed:
                sizes = [fixed] * count
            else:
                if b0 + 12 + 4 * count > b1:
                    return None
                sizes = list(
                    struct.unpack(
                        f">{count}I", payload[b0 + 12 : b0 + 12 + 4 * count]
                    )
                )
        elif btype in (b"stco", b"co64") and b0 + 8 <= b1:
            (count,) = struct.unpack(">I", payload[b0 + 4 : b0 + 8])
            w = 4 if btype == b"stco" else 8
            if count > _MP4_MAX_SAMPLES or b0 + 8 + w * count > b1:
                return None
            fmt = "I" if btype == b"stco" else "Q"
            chunk_offsets = list(
                struct.unpack(
                    f">{count}{fmt}", payload[b0 + 8 : b0 + 8 + w * count]
                )
            )
        elif btype == b"stsc" and b0 + 8 <= b1:
            (count,) = struct.unpack(">I", payload[b0 + 4 : b0 + 8])
            if count > _MP4_MAX_SAMPLES or b0 + 8 + 12 * count > b1:
                return None
            stsc_runs = [
                struct.unpack(
                    ">II", payload[b0 + 8 + 12 * k : b0 + 16 + 12 * k]
                )
                for k in range(count)
            ]
        elif btype in _MP4_CONTAINERS:
            if len(stack) < _MP4_MAX_DEPTH:
                stack.append(_mp4_boxes(payload, b0, b1))
    if (
        fourcc not in _MP4_JPEG_CODECS
        or None in (width, height, sizes, chunk_offsets, stsc_runs)
        or not chunk_offsets
        or not stsc_runs
    ):
        return None
    return width, height, sizes, chunk_offsets, stsc_runs


def parse_mp4_mjpeg(
    payload: bytes,
) -> tuple[int, int, list[tuple[int, int]]] | None:
    """REAL (stdlib-only) ISO-BMFF sample demux: (width, height,
    [(frame_offset, frame_size), ...]) for MP4/MOV payloads whose
    FIRST JPEG-coded video track has a complete sample table, None
    otherwise (non-BMFF, non-JPEG codecs, malformed tables, spans
    past the payload — callers fall to the fake rung, never raise).

    stsc expansion per ISO 14496-12 §8.7.4: each run (first_chunk,
    samples_per_chunk) applies from its first_chunk until the next
    run's; sample k's offset is its chunk's stco/co64 offset plus the
    cumulative stsz sizes of the samples before it in that chunk."""
    try:
        from .binary import _mp4_boxes

        n = len(payload)
        if n < 16 or payload[4:8] != b"ftyp":
            return None
        for btype, b0, b1 in _mp4_boxes(payload, 0, n):
            if btype != b"moov":
                continue
            for t_type, t0, t1 in _mp4_boxes(payload, b0, b1):
                if t_type != b"trak":
                    continue
                tab = _trak_jpeg_tables(payload, t0, t1)
                if tab is None:
                    continue
                width, height, sizes, chunk_offsets, stsc_runs = tab
                spans: list[tuple[int, int]] = []
                si = 0
                n_chunks = len(chunk_offsets)
                prev_first = 0
                for ri, (first, spc) in enumerate(stsc_runs):
                    # run sanity (review fix: a malformed table with
                    # repeating/zero runs cost ~4e9 loop iterations —
                    # an executor-stalling bomb): first_chunk must be
                    # STRICTLY increasing per ISO 14496-12 §8.7.4, a
                    # zero samples_per_chunk run carries no samples,
                    # and the walk ends once every sample is placed
                    if first <= prev_first or first > n_chunks:
                        return None
                    prev_first = first
                    if spc == 0:
                        continue
                    if si >= len(sizes):
                        break
                    last = (
                        stsc_runs[ri + 1][0] - 1
                        if ri + 1 < len(stsc_runs)
                        else n_chunks
                    )
                    for ck in range(first, min(last, n_chunks) + 1):
                        if si >= len(sizes):
                            break
                        off = chunk_offsets[ck - 1]
                        for _ in range(spc):
                            if si >= len(sizes):
                                break
                            size = sizes[si]
                            if off + size > n:
                                return None  # span past payload
                            spans.append((off, size))
                            off += size
                            si += 1
                if not spans:
                    return None
                return int(width), int(height), spans
        return None
    except (struct.error, IndexError, ValueError, TypeError):
        return None


def mp4_encode_mjpeg(
    frames: list[bytes],
    width: int,
    height: int,
    fps: int = 10,
    co64: bool = False,
) -> bytes:
    """A REAL (stdlib-only) photo-JPEG MP4/MOV: ftyp + mdat (the JPEG
    frame bytes) + moov(mvhd + trak(mdia(hdlr vide + minf(stbl(stsd
    'jpeg' + stsz + stsc + stco/co64))))) — readable by any BMFF
    demuxer.  Frames pack TWO per chunk (a trailing odd chunk gets
    its own stsc run) so the reader's run expansion is exercised on
    real multi-run tables; ``co64=True`` writes 64-bit chunk offsets.
    The writer twin of :func:`parse_mp4_mjpeg`."""
    from .binary import _FTYP, _MVHD_TAIL, _mp4_box

    if not frames:
        raise ValueError("an MJPEG MP4 needs at least one frame")
    mdat = _mp4_box(b"mdat", b"".join(frames))
    base = len(_FTYP) + 8  # first frame byte (mdat body start)
    # chunks of 2 samples; odd count -> final 1-sample run
    chunk_offsets: list[int] = []
    off = base
    k = 0
    while k < len(frames):
        chunk_offsets.append(off)
        take = min(2, len(frames) - k)
        off += sum(len(f) for f in frames[k : k + take])
        k += take
    stsc_runs = [(1, 2, 1)]
    if len(frames) % 2 == 1:
        if len(frames) == 1:
            stsc_runs = [(1, 1, 1)]
        else:
            stsc_runs.append((len(chunk_offsets), 1, 1))
    vid = (
        b"\x00" * 6
        + struct.pack(">H", 1)            # data_ref_index
        + b"\x00" * 16                    # pre_defined / reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)            # frame_count per sample
        + b"\x00" * 32                    # compressor name
        + struct.pack(">Hh", 24, -1)      # depth, color table id
    )
    stsd = _mp4_box(
        b"stsd",
        b"\x00" * 4 + struct.pack(">I", 1)
        + struct.pack(">I", 8 + len(vid)) + b"jpeg" + vid,
    )
    stsz = _mp4_box(
        b"stsz",
        b"\x00" * 4 + struct.pack(">II", 0, len(frames))
        + b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    stsc = _mp4_box(
        b"stsc",
        b"\x00" * 4 + struct.pack(">I", len(stsc_runs))
        + b"".join(struct.pack(">III", *r) for r in stsc_runs),
    )
    if co64:
        stco = _mp4_box(
            b"co64",
            b"\x00" * 4 + struct.pack(">I", len(chunk_offsets))
            + b"".join(struct.pack(">Q", o) for o in chunk_offsets),
        )
    else:
        stco = _mp4_box(
            b"stco",
            b"\x00" * 4 + struct.pack(">I", len(chunk_offsets))
            + b"".join(struct.pack(">I", o) for o in chunk_offsets),
        )
    stbl = _mp4_box(b"stbl", stsd + stsz + stsc + stco)
    hdlr = _mp4_box(
        b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"\x00"
    )
    mdia = _mp4_box(b"mdia", hdlr + _mp4_box(b"minf", stbl))
    mvhd = _mp4_box(
        b"mvhd",
        b"\x00" * 4 + b"\x00" * 8
        + struct.pack(">II", fps, len(frames))
        + _MVHD_TAIL
        + struct.pack(">I", 2),
    )
    moov = _mp4_box(b"moov", mvhd + _mp4_box(b"trak", mdia))
    return _FTYP + mdat + moov


def sample_frame_indices(n_total: int, n_sample: int) -> list[int]:
    """Evenly spaced distinct frame indices — the shared integer
    partition ``(k * F) // n`` deduplicated, so F <= n samples every
    frame exactly once and F > n picks n spread across the clip."""
    return sorted({(k * n_total) // n_sample for k in range(n_sample)})


def video_features(
    payload: bytes, grid: int = VID_GRID, n_sample: int = VID_FRAMES
) -> list[float] | None:
    """The video-v1 feature vector (module docstring): sampled clip
    frames -> pixel decode -> image-v1 box features -> SUM pooling.
    Clip containers: MJPEG-in-AVI (frames demuxed by span, decoded
    per sampled index) and — round 14, r13 verdict task 3 — ANIMATED
    GIFs (>= 2 image descriptors; frames composed per the GIF89a
    disposal model, then sampled — a trimmed or re-encoded animation
    dedups exactly like an MJPEG re-wrap).  None when the payload is
    neither (callers fall to the whole-payload fake rung; a
    SINGLE-frame GIF stays on the image tier) or when every sampled
    frame is featureless (constant: no direction).

    A frame whose JPEG bytes fail to decode contributes the fake-gray
    features of ITS bytes (the _fake_decode discipline scoped to the
    frame) — a byte-exact re-upload of a clip with one corrupt frame
    still lands at cosine 1.0."""
    sampled = _clip_frame_samples(bytes(payload), grid, n_sample)
    if sampled is None:
        return None
    return _pool_frame_features(sampled, grid)


def _clip_frame_samples(
    payload: bytes, grid: int, n_sample: int
) -> list[tuple[int, int, list[int]]] | None:
    """The clip-container dispatch, ONE parse per payload (review fix:
    the encoder seam used to parse every container twice — once in
    video_features and once to distinguish not-a-clip from
    featureless-clip): None means NOT A CLIP (fake rung); a list —
    possibly pooling to nothing — means a real clip's sampled
    (w, h, grays) frames."""
    sampled: list[tuple[int, int, list[int]]] = []
    parsed = parse_avi_mjpeg(payload)
    if parsed is None:
        # round 14 (r13 verdict task 4): JPEG-coded MP4/MOV clips ride
        # the same span path — a cross-container re-wrap of the same
        # frames (AVI <-> MP4) pools identically
        parsed = parse_mp4_mjpeg(payload)
    if parsed is not None:
        _w, _h, spans = parsed
        for idx in sample_frame_indices(len(spans), n_sample):
            off, size = spans[idx]
            frame = payload[off : off + size]
            decoded = decode_jpeg_pixels(frame)
            if decoded is not None:
                sampled.append(decoded)
            else:
                sampled.append(
                    (grid, grid, _fake_grays(frame, grid * grid))
                )
        return sampled
    from .gif import decode_gif_frames, gif_frame_count

    if gif_frame_count(payload, max_count=2) < 2:
        return None  # not a clip: single-frame GIFs are images
    # >=2 image descriptors IS the clip criterion — the same one
    # gif_clip_header (metadata ladder) applies, so the two tiers can
    # never disagree on the clip/image split (r14 advice).  Frames
    # that fail LZW fall to the fake rung PER CLIP, mirroring the
    # MJPEG span path's per-frame _fake_grays fallback.
    decoded_gif = decode_gif_frames(payload)
    if decoded_gif is None or not decoded_gif[2]:
        for _ in range(min(n_sample, 2)):
            sampled.append((grid, grid, _fake_grays(payload, grid * grid)))
        return sampled
    sw, sh, frames = decoded_gif
    for idx in sample_frame_indices(len(frames), n_sample):
        sampled.append((sw, sh, frames[idx]))
    return sampled


def _pool_frame_features(
    sampled: list[tuple[int, int, list[int]]], grid: int
) -> list[float] | None:
    pooled: list[float] | None = None
    for fw, fh, grays in sampled:
        feats = image_features(grays, fw, fh, grid)
        if feats is None:
            continue  # constant frame: zero contribution
        if pooled is None:
            pooled = list(feats)
        else:
            for i, v in enumerate(feats):
                pooled[i] += v
    if pooled is None or not any(pooled):
        return None
    return pooled


def video_encoder_build(
    spark: SparkSession,
    path: str,
    dim: int | None = None,
    grid: int = VID_GRID,
    frames: int = VID_FRAMES,
) -> ArtifactSnapshot:
    """Commit a ``video-v1`` encoder artifact at ``path`` (no-op when
    a matching one exists) and return the served generation.  Stateless like image-v1/audio-v1: the
    artifact is the params marker pinning the FEATURE SPACE (kind,
    dim, grid, sampled-frame budget, pooling, decode ladder) that
    index markers and worker caches key on."""
    from ..operators.embed import VIDEO_KIND

    if dim is None:
        dim = grid * grid
    if dim != grid * grid:
        raise ValueError(
            f"video-v1 dim must equal grid*grid ({grid * grid}), got {dim}"
        )
    if frames < 1:
        raise ValueError(f"video-v1 needs frames >= 1, got {frames}")
    params = {
        "kind": "encoder",
        "encoder": VIDEO_KIND,
        "dim": dim,
        "grid": grid,
        "frames": frames,
        "ladder": VID_LADDER,
    }
    snap = artifact_open(spark, path)
    try:
        if artifact_check(snap, params):
            return snap
    except ValueError:
        pass  # older feature-space identity: builds rebuild in place
    content = (
        f"video-v1|dim={dim}|grid={grid}|frames={frames}"
        f"|pool=sum|ladder={VID_LADDER}"
    )
    version = hashlib.md5(content.encode("utf-8")).hexdigest()[:12]
    return artifact_overwrite(
        spark, path, {}, {**params, "version": version}, snap
    )


class _PreparedVideo:
    """Worker-side prepared video encoder: the MJPEG/AVI ladder (real
    frame decode -> whole-payload fake rung) + pooled box features."""

    __slots__ = ("grid", "frames")

    def __init__(self, grid: int, frames: int):
        self.grid = grid
        self.frames = frames

    def encode_payload(self, payload) -> list[float] | None:
        if payload is None:
            payload = b""
        payload = bytes(payload)
        # ONE container parse (review fix): None = not a clip -> the
        # byte-keyed fake rung; a real clip pools (possibly to None —
        # all-constant frames have no direction, encoded as absent)
        sampled = _clip_frame_samples(payload, self.grid, self.frames)
        if sampled is None:
            return image_features(
                _fake_grays(payload, self.grid * self.grid),
                self.grid, self.grid, self.grid,
            )
        return _pool_frame_features(sampled, self.grid)


def video_embed_frame(
    docs: DataFrame,
    snap: ArtifactSnapshot,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    load_log_dir: str | None = None,
) -> DataFrame:
    """The video branch of ``embed_with_model``: (vec_id, embedding
    array<double>) from a video-payload frame through one Arrow
    mapInPandas — the same output contract as every encoder kind."""
    from ..operators.embed import _worker_encoder_cache

    model_path, params = snap.path, snap.params
    if params.get("ladder") != VID_LADDER:
        raise ValueError(
            f"video encoder at {model_path} was committed under decode "
            f"ladder {params.get('ladder')!r}; this build decodes "
            f"{VID_LADDER} — rebuild the artifact"
        )
    grid = int(params.get("grid", VID_GRID))
    frames = int(params.get("frames", VID_FRAMES))
    version = params.get("version", "1")
    src = docs.select(
        F.col(id_col).alias("vec_id"), F.col(payload_col).alias("__p")
    )
    id_type = dict(src.dtypes)["vec_id"]
    cache_key = (model_path, version)

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache = _worker_encoder_cache()
        enc = cache.get(cache_key)
        if enc is None:
            enc = _PreparedVideo(grid, frames)
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
# gate arm: synthesized REAL MJPEG AVIs whose frames are block-constant
# even-gray JPEGs from an id+frame-keyed integer formula (the
# lossless-decode regime, jpeg.py) — Spark demuxes the actual RIFF
# bytes and Huffman-decodes the actual frames; the DuckDB twin
# re-derives the formula and recomputes the pooled features.  Planted
# per-frame-brightness twins pool to EXACTLY the base's vector (the
# centering identity), certified by the hash.
# ---------------------------------------------------------------------------

#: block-gray formula shared (as integer math) with the SQL twin:
#: f is the frame index, bx/by the 8x8 block coordinates.
_VGRAY_SQL = (
    f"2 * ((base_id * 31 + f * 19 + (x // 8) * 7 + (y // 8) * 13"
    f" + (((x // 8) * (y // 8)) % 17) * 5) % {VID_PIX_MOD}) + shift"
)


def _vgray(i: int, f: int, bx: int, by: int, shift: int) -> int:
    return (
        2 * ((i * 31 + f * 19 + bx * 7 + by * 13 + ((bx * by) % 17) * 5)
             % VID_PIX_MOD)
        + shift
    )


def _vid_syn_geom(i: int) -> tuple[int, int, int]:
    """(n_frames, width, height): 2-4 frames, width 16/24, height 16 —
    multiple blocks per frame, multiple frames per clip, bounded
    oracle pixel expansion."""
    return 2 + i % 3, 8 * (2 + (i * 5) % 2), 16


def synthesize_mjpeg_avis(
    ids_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, payload): one real MJPEG AVI per id (full RIFF structure,
    every frame a real quality-50 baseline JPEG of block-constant even
    grays from the shared formula), plus a BRIGHTNESS-SHIFTED twin
    (+VID_TWIN_SHIFT per pixel in every frame, id + VID_TWIN_OFFSET)
    for ids divisible by VID_TWIN_EVERY."""

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, payloads = [], []
            for i in pdf[id_col]:
                i = int(i)
                nf, w, h = _vid_syn_geom(i)
                variants = [(i, 0)]
                if i % VID_TWIN_EVERY == 0:
                    variants.append((i + VID_TWIN_OFFSET, VID_TWIN_SHIFT))
                for vid, shift in variants:
                    frames = [
                        jpeg_encode_gray(
                            [
                                _vgray(i, f, x // 8, y // 8, shift)
                                for y in range(h)
                                for x in range(w)
                            ],
                            w, h, quality=JPEG_EXACT_QUALITY,
                        )
                        for f in range(nf)
                    ]
                    out_ids.append(vid)
                    payloads.append(avi_encode_mjpeg(frames, w, h))
            yield pd.DataFrame({id_col: out_ids, "payload": payloads})

    return ids_df.select(id_col).mapInPandas(
        _build, f"{id_col} long, payload binary"
    )


def video_embed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry arm (round 13): synthesized real MJPEG AVIs -> REAL
    RIFF demux + JPEG frame decode -> pooled video-v1 features,
    certified by per-clip integer stats (f0 / f_min / f_max of the
    pooled vector — any drift anywhere in demux -> sample -> decode ->
    box -> center -> pool moves them).  Every row must come back
    decoder='mjpeg'; the planted brightness twins' stats are exactly
    their base's (the centering identity), so the hash certifies the
    invariance the dedup tier relies on.  Round 14: ids sampled at
    1-in-SAMPLE_ARM_MOD — the gate certifies the codec, not the corpus
    (oracle carries the same predicate)."""
    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % SAMPLE_ARM_MOD == 0)
    )
    syn = synthesize_mjpeg_avis(ids)
    grid, n_sample = VID_GRID, VID_FRAMES

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [], "decoder": [], "n_frames": [],
                "f0": [], "f_min": [], "f_max": [],
            }
            for i, p in zip(pdf["doc_id"], pdf["payload"]):
                parsed = parse_avi_mjpeg(bytes(p))
                decoder = "mjpeg" if parsed is not None else "fake"
                nf = len(parsed[2]) if parsed is not None else 0
                feats = video_features(bytes(p), grid, n_sample)
                rows["doc_id"].append(int(i))
                rows["decoder"].append(decoder)
                rows["n_frames"].append(nf)
                rows["f0"].append(int(feats[0]) if feats else None)
                rows["f_min"].append(int(min(feats)) if feats else None)
                rows["f_max"].append(int(max(feats)) if feats else None)
            yield pd.DataFrame(rows)

    return syn.mapInPandas(
        _stats,
        "doc_id long, decoder string, n_frames long, "
        "f0 long, f_min long, f_max long",
    )


VIDEO_EMBED_SQL = f"""
WITH vvids AS (
    SELECT doc_id AS vid, doc_id AS base_id, 0 AS shift FROM documents
    WHERE doc_id % {SAMPLE_ARM_MOD} = 0
    UNION ALL
    SELECT doc_id + {VID_TWIN_OFFSET}, doc_id, {VID_TWIN_SHIFT}
    FROM documents
    WHERE doc_id % {VID_TWIN_EVERY} = 0 AND doc_id % {SAMPLE_ARM_MOD} = 0),
vgeom AS (
    SELECT vid, base_id, shift,
           2 + base_id % 3 AS nf,
           8 * (2 + (base_id * 5) % 2) AS w,
           16 AS h
    FROM vvids),
vpix AS (
    SELECT vid, base_id, shift, nf, w, h,
           unnest(range(0, nf * w * h)) // (w * h) AS f,
           (unnest(range(0, nf * w * h)) % (w * h)) % w AS x,
           (unnest(range(0, nf * w * h)) % (w * h)) // w AS y
    FROM vgeom),
vgray AS (
    SELECT vid, nf, f, w, h, x, y, {_VGRAY_SQL} AS g
    FROM vpix),
vbox AS (
    SELECT vid, nf, f,
           (y * {VID_GRID}) // h AS gy, (x * {VID_GRID}) // w AS gx,
           SUM(g) // COUNT(*) AS gray
    FROM vgray GROUP BY vid, nf, f, (y * {VID_GRID}) // h, (x * {VID_GRID}) // w),
vtot AS (
    SELECT vid, f, SUM(gray) AS tot FROM vbox GROUP BY vid, f),
vfeat AS (
    SELECT b.vid, b.nf, b.gy * {VID_GRID} + b.gx AS bidx,
           SUM({VID_GRID * VID_GRID} * b.gray - t.tot) AS pooled
    FROM vbox b JOIN vtot t ON t.vid = b.vid AND t.f = b.f
    GROUP BY b.vid, b.nf, b.gy * {VID_GRID} + b.gx)
SELECT vid AS doc_id,
       'mjpeg' AS decoder,
       MAX(nf) AS n_frames,
       MAX(CASE WHEN bidx = 0 THEN pooled END) AS f0,
       MIN(pooled) AS f_min,
       MAX(pooled) AS f_max
FROM vfeat
GROUP BY vid"""
