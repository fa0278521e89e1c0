"""Image perceptual-hash near-dup tier (round 11, r10 verdict task 4).

Dedup covers text (exact, MinHash, SimHash, substring, semantic) and
generic vectors; this module extends it to IMAGE PAYLOADS themselves —
the LAION-style dedup pass: a perceptual hash over decoded pixels,
banded exactly like SimHash, so re-encoded / resized duplicates
collide while distinct images do not.

Everything here is stdlib-real, not stubbed:

- :func:`decode_png_pixels` is a genuine PNG decoder (zlib inflate +
  per-scanline unfilter, ISO 15948 §9) for 8-bit gray / gray+alpha /
  RGB / RGBA non-interlaced images — the pixel rung the round-9 header
  ladder was missing, with no codec library required.
- :func:`png_encode_gray` is its writer twin (correct CRCs, filter 0),
  used by the fixture synthesizer and tests; any external PNG encoder
  produces payloads this decoder reads.
- grayscale, box-downsample and both hashes (dHash: neighbor
  gradient; aHash: above-mean) are PURE INTEGER math, so the DuckDB
  twin recomputes them bit-for-bit and the gate certifies the real
  decode end-to-end: the synthesizer embeds a pixel FORMULA into real
  PNG bytes, Spark decodes the bytes back, and the oracle re-derives
  the formula — byte-level round-trip pinned by equality (the round-9
  header-arm scheme, extended from headers to pixels).

The decode ladder (round 13 — :func:`decode_image_pixels`): real PNG
decode (decoder='png') -> real baseline-JPEG decode (decoder='jpeg',
:mod:`.jpeg` — closing the dominant-crawl-format hole: a quality-90
JPEG re-encode used to fall to the fake rung whenever Pillow is
absent) -> deterministic fake grays from the payload's md5 stream
(decoder='fake') for formats the container cannot decode — same
contract as decode_image_meta.

Pairing: the 64-bit hash splits into 4 x 16-bit bands; any shared band
is a candidate (a pair within hamming distance t<=... shares at least
one exact band whenever its differing bits fall in <=3 bands — the
standard pigeonhole guarantee: hamming <= 3 ALWAYS collides), then
the exact hamming distance (bit_count of xor, per band) keeps pairs
at <= max_hamming.  Shape: the only shuffle carries (band_value, id);
no all-pairs path exists.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources import load_table
from .armconf import SAMPLE_ARM_MOD

#: dHash grid: 9x8 grays -> 8x8 horizontal-gradient bits.
DHASH_GRID_W, DHASH_GRID_H = 9, 8
#: aHash grid: 8x8 grays -> above-mean bits.
AHASH_GRID = 8
#: default pair threshold: <=10/64 differing bits is the conventional
#: "same image" band for dHash (re-encode: 0; mild resize: 0-6).
#: HONEST RECALL NOTE (round 12, r11 advice): the 4x16-bit banding's
#: pigeonhole guarantee only covers hamming <= 3 — a pair at distance
#: 4-10 is found iff its differing bits leave at least one band
#: untouched, which for the re-encode/resize regime (localized bit
#: flips) is the common case but NOT a guarantee.  BASELINE.md (phash
#: max_hamming knob) records the measured recall knee at t=10.
PHASH_MAX_HAMMING = 10

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# ---------------------------------------------------------------------------
# real stdlib PNG codec (pixel rung)
# ---------------------------------------------------------------------------


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def png_encode_gray(
    grays: list[int], width: int, height: int, level: int = 6
) -> bytes:
    """A REAL (stdlib-only) 8-bit grayscale PNG: IHDR + one zlib IDAT
    (filter 0 per scanline) + IEND, CRCs included — decodable by any
    PNG reader.  ``level`` varies the zlib effort: different levels
    produce DIFFERENT bytes for the SAME pixels, which is exactly what
    the re-encoded-duplicate tests exercise."""
    if len(grays) != width * height:
        raise ValueError(f"need {width * height} grays, got {len(grays)}")
    raw = b"".join(
        b"\x00" + bytes(grays[y * width : (y + 1) * width])
        for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, level))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


#: PNG color type -> samples per pixel (8-bit depth only).
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}

#: pixel-count ceiling for the decoder (4.2M px ~ a 2048x2048 image —
#: a 9x8/8x8 hash needs far less, and the pure-Python per-pixel
#: unfilter loop makes admitted pixels CPU, not just memory: a crafted
#: 4096x4096 Paeth-filtered RGBA cost ~10^8 ops/payload at the old
#: 1<<24 ceiling — round-12, r11 advice).  IHDR dims are
#: attacker-controlled and size the bounded inflate, so they get a
#: ceiling of their own; anything larger falls to the fake rung.
_PNG_MAX_PIXELS = 1 << 22


#: legal (color, depth) combinations per ISO 15948 table 11.1.
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}

#: Adam7 pass geometry: (x0, y0, dx, dy) per pass, ISO 15948 §8.2.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_line_grays(
    line: bytes, width: int, ch: int, depth: int, palette
) -> list[int] | None:
    """One unfiltered scanline -> per-pixel grays (round 13: the depth
    ladder).  16-bit samples take their high byte (the standard 8-bit
    downsample); sub-byte grays scale by 255//(2^d - 1) (exact
    left-bit replication since d divides 8); palette indices map to
    precomputed entry lumas — an index past the palette is corrupt."""
    if depth == 8:
        if palette is not None:
            np_ = len(palette)
            out = []
            for idx in line[:width]:
                if idx >= np_:
                    return None
                out.append(palette[idx])
            return out
        if ch == 1:
            return list(line)
        if ch == 2:
            return list(line[0::2])
        stride = width * ch
        return [
            (299 * line[x] + 587 * line[x + 1] + 114 * line[x + 2]) // 1000
            for x in range(0, stride, ch)
        ]
    if depth == 16:
        bpp = 2 * ch
        if ch in (1, 2):
            return list(line[0 : width * bpp : bpp])
        return [
            (299 * line[x] + 587 * line[x + 2] + 114 * line[x + 4]) // 1000
            for x in range(0, width * bpp, bpp)
        ]
    # sub-byte: gray (ch == 1, palette None) or palette indices
    per_byte = 8 // depth
    mask = (1 << depth) - 1
    scale = 255 // mask
    out = []
    for px in range(width):
        b = line[px // per_byte]
        shift = 8 - depth * (px % per_byte + 1)
        v = (b >> shift) & mask
        if palette is not None:
            if v >= len(palette):
                return None
            out.append(palette[v])
        else:
            out.append(v * scale)
    return out


def decode_png_pixels(payload: bytes) -> tuple[int, int, list[int]] | None:
    """REAL PNG pixel decode: (width, height, row-major GRAYSCALE
    values) for every legal (color type, bit depth) combination —
    gray 1/2/4/8/16, gray+alpha 8/16, RGB/RGBA 8/16, palette 1/2/4/8 —
    sequential AND Adam7-interlaced (round 13: the web's full PNG
    surface; formerly 8-bit sequential only).  None for anything else
    (other formats, truncated or corrupt streams — the ladder falls to
    the fake rung, never raises).

    Grayscale conversion is the integer ITU-R 601 luma
    ``(299*r + 587*g + 114*b) // 1000`` — engine-portable exact math;
    16-bit samples take their high byte; sub-byte grays left-bit-
    replicate (v * 255 // (2^d - 1), exact).  Alpha is ignored (hash
    the color, not the transparency).  Palette images decode through
    the mandatory PLTE chunk to per-entry lumas; an out-of-range index
    is corrupt (None).  Interlaced images unfilter each Adam7 pass as
    its own sub-image (per spec) and scatter pixels into place.
    """
    try:
        if payload is None or payload[:8] != _PNG_SIG:
            return None
        i = 8
        width = height = None
        depth = color = ilace = None
        palette = None
        idat = b""
        n = len(payload)
        while i + 8 <= n:
            (clen,) = struct.unpack(">I", payload[i : i + 4])
            ctype = payload[i + 4 : i + 8]
            body = payload[i + 8 : i + 8 + clen]
            if len(body) != clen:
                return None
            if ctype == b"IHDR":
                width, height, depth, color, comp, filt, ilace = struct.unpack(
                    ">IIBBBBB", body
                )
                if (
                    ilace not in (0, 1)
                    or color not in _PNG_DEPTHS
                    or depth not in _PNG_DEPTHS[color]
                ):
                    return None
            elif ctype == b"PLTE":
                if clen % 3 or clen == 0 or clen > 768:
                    return None
                # precomputed per-entry luma: the index stream maps
                # straight to grays with no per-pixel color math
                palette = [
                    (299 * body[3 * k] + 587 * body[3 * k + 1]
                     + 114 * body[3 * k + 2]) // 1000
                    for k in range(clen // 3)
                ]
            elif ctype == b"IDAT":
                idat += body
            elif ctype == b"IEND":
                break
            i += 12 + clen
        if width is None or not idat or width == 0 or height == 0:
            return None
        if color == 3 and palette is None:
            return None  # PLTE is mandatory for color type 3
        if color != 3:
            palette = None  # PLTE is a suggested-quantization hint here
        # attacker-controlled dims bound the inflate below, so THEY
        # need a ceiling first (second review pass: a bomb declaring
        # 40000x40000 made 'expected' itself multi-GB)
        if width * height > _PNG_MAX_PIXELS:
            return None
        ch = 1 if color == 3 else _PNG_CHANNELS[color]
        bpp = max(1, ch * depth // 8)  # filter delta, per spec

        # pass list: one full-frame pass (sequential) or the 7 Adam7
        # sub-images; each pass filters independently
        if ilace == 0:
            passes = [(0, 0, 1, 1, width, height)]
        else:
            passes = [
                (x0, y0, dx, dy,
                 (width - x0 + dx - 1) // dx,
                 (height - y0 + dy - 1) // dy)
                for x0, y0, dx, dy in _ADAM7
            ]
            passes = [p for p in passes if p[4] > 0 and p[5] > 0]

        def _stride(w_p: int) -> int:
            return (w_p * ch * depth + 7) // 8

        expected = sum(h_p * (1 + _stride(w_p))
                       for *_xy, w_p, h_p in passes)
        # bounded inflate (round-11 review fix): the raw size is fully
        # determined by (capped) IHDR, so limit decompression to
        # expected+1 — a decompression-bomb IDAT can no longer
        # allocate gigabytes before the size check.  A valid stream's
        # trailer may sit in unconsumed_tail after the bounded call;
        # draining it (still bounded) reaches eof and verifies the
        # adler32 — a TRUNCATED stream (old zlib.decompress raised)
        # leaves eof False and is rejected, preserving the
        # 'truncated/corrupt -> fake rung' contract.
        d = zlib.decompressobj()
        raw = d.decompress(idat, expected + 1)
        if d.unconsumed_tail:
            raw += d.decompress(d.unconsumed_tail, 2)
        if len(raw) != expected or not d.eof:
            return None

        full = [0] * (width * height) if ilace else None
        grays: list[int] = []
        pos = 0
        for x0, y0, dx, dy, w_p, h_p in passes:
            stride = _stride(w_p)
            prev = bytes(stride)
            for r in range(h_p):
                ftype = raw[pos]
                line = bytearray(raw[pos + 1 : pos + 1 + stride])
                pos += 1 + stride
                if ftype == 1:  # Sub
                    for x in range(bpp, stride):
                        line[x] = (line[x] + line[x - bpp]) & 0xFF
                elif ftype == 2:  # Up
                    for x in range(stride):
                        line[x] = (line[x] + prev[x]) & 0xFF
                elif ftype == 3:  # Average
                    for x in range(stride):
                        a = line[x - bpp] if x >= bpp else 0
                        line[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
                elif ftype == 4:  # Paeth
                    for x in range(stride):
                        a = line[x - bpp] if x >= bpp else 0
                        c = prev[x - bpp] if x >= bpp else 0
                        line[x] = (line[x] + _paeth(a, prev[x], c)) & 0xFF
                elif ftype != 0:
                    return None
                prev = bytes(line)
                row = _png_line_grays(bytes(line), w_p, ch, depth, palette)
                if row is None:
                    return None
                if full is None:
                    grays.extend(row)
                else:
                    base = (y0 + r * dy) * width
                    for c_i, g in enumerate(row):
                        full[base + x0 + c_i * dx] = g
        return int(width), int(height), full if full is not None else grays
    except (zlib.error, struct.error, IndexError, ValueError, TypeError):
        return None


def decode_image_pixels(
    payload: bytes,
) -> tuple[int, int, list[int], str] | None:
    """The image PIXEL ladder (round 13): (width, height, grayscale
    values, decoder tag) through real PNG decode ('png' — the full
    legal surface incl. Adam7 and every depth), real JPEG decode
    ('jpeg', :mod:`.jpeg` — baseline AND progressive), real GIF
    decode ('gif', :mod:`.gif` — LZW + palettes + interlace, first
    frame); None when no codec reads the payload — callers fall to
    the fake rung.  The three signatures are disjoint, so the order
    is cosmetic."""
    if payload is None:
        return None
    decoded = decode_png_pixels(payload)
    if decoded is not None:
        return (*decoded, "png")
    from .jpeg import decode_jpeg_pixels

    decoded = decode_jpeg_pixels(payload)
    if decoded is not None:
        return (*decoded, "jpeg")
    from .gif import decode_gif_pixels

    decoded = decode_gif_pixels(payload)
    if decoded is not None:
        return (*decoded, "gif")
    return None


# ---------------------------------------------------------------------------
# integer box-downsample + hashes (shared by python and the SQL twin)
# ---------------------------------------------------------------------------


def box_grays(
    grays: list[int], width: int, height: int, gw: int, gh: int
) -> list[int]:
    """gw x gh box means over an arbitrary-size image, all-integer:
    pixel (x, y) belongs to box ((x*gw)//width, (y*gh)//height) — the
    exact partition whose boundaries are (k*width)//gw — and each box
    value is ``sum // count``.  Identical in any engine; no float
    resampling kernel to disagree about.

    Images SMALLER than the grid are pixel-replicated up to it first
    (nearest-neighbor, integer factor — round-11 review fix: a 4x4
    icon used to leave empty boxes and divide by zero inside the
    task); replication is deterministic and preserves the hash of the
    already-big form of the same image exactly (each source pixel
    becomes a kxk constant block whose box means equal the original)."""
    if width < gw or height < gh:
        kx = -(-gw // width)  # ceil
        ky = -(-gh // height)
        grays = [
            grays[(y // ky) * width + (x // kx)]
            for y in range(height * ky)
            for x in range(width * kx)
        ]
        width, height = width * kx, height * ky
    sums = [0] * (gw * gh)
    counts = [0] * (gw * gh)
    for y in range(height):
        gy = (y * gh) // height
        base = gy * gw
        row = y * width
        for x in range(width):
            gx = (x * gw) // width
            sums[base + gx] += grays[row + x]
            counts[base + gx] += 1
    return [s // c for s, c in zip(sums, counts)]


def dhash_bands(grays9x8: list[int]) -> list[int]:
    """dHash as four 16-bit band integers (band k = grid rows 2k and
    2k+1): bit ((r%2)*8 + c) of band r//2 is 1 when the right neighbor
    is strictly brighter.  Band-int form keeps every value far inside
    a signed 64-bit range for both engines (a single 64-bit hash would
    overflow BIGINT's sign on bit 63)."""
    bands = [0, 0, 0, 0]
    for r in range(8):
        for c in range(8):
            if grays9x8[r * 9 + c + 1] > grays9x8[r * 9 + c]:
                bands[r // 2] |= 1 << ((r % 2) * 8 + c)
    return bands


def ahash_bands(grays8x8: list[int]) -> list[int]:
    """aHash band ints: bit set when the box gray exceeds the integer
    mean (``sum // 64``) of all 64 boxes."""
    mean = sum(grays8x8) // 64
    bands = [0, 0, 0, 0]
    for r in range(8):
        for c in range(8):
            if grays8x8[r * 8 + c] > mean:
                bands[r // 2] |= 1 << ((r % 2) * 8 + c)
    return bands


def _hex16(bands: list[int]) -> str:
    # uppercase: DuckDB's to_hex() is uppercase, and the twin compares
    return "".join(f"{b:04X}" for b in bands)


def _fake_grays(payload: bytes, n: int) -> list[int]:
    """Deterministic fake pixel rung for undecodable payloads: ``n``
    gray values from the payload's chained md5 stream — stable across
    runs/engines/partitionings, the _fake_decode discipline."""
    out: list[int] = []
    block = 0
    while len(out) < n:
        out.extend(
            hashlib.md5(payload + b"|%d" % block).digest()
        )
        block += 1
    return out[:n]


def image_phash(
    binary_df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(id, phash, ahash, p0..p3, decoder): perceptual hashes per image
    payload through the decode ladder (real PNG/baseline-JPEG pixels,
    decoder='png'/'jpeg' -> deterministic fake grays, decoder='fake').
    ``p0..p3`` are the dHash band integers the pair scan joins on;
    ``phash``/``ahash`` are their 16-hex-digit spellings.
    Arrow-batched mapInPandas, no shuffle."""
    schema = (
        f"{id_col} long, phash string, ahash string, "
        "p0 long, p1 long, p2 long, p3 long, decoder string"
    )
    if passthrough:
        fields = dict(
            (f.name, f.dataType.simpleString()) for f in binary_df.schema.fields
        )
        schema += ", " + ", ".join(f"{c} {fields[c]}" for c in passthrough)

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(payload: bytes):
            if payload is None:
                payload = b""  # NULL payload: fake rung, never a crash
            decoded = decode_image_pixels(payload)
            if decoded is not None:
                w, h, grays, decoder = decoded
            else:
                w, h = DHASH_GRID_W, DHASH_GRID_H
                grays = _fake_grays(payload, w * h)
                decoder = "fake"
            d_bands = dhash_bands(
                box_grays(grays, w, h, DHASH_GRID_W, DHASH_GRID_H)
            )
            a_bands = ahash_bands(
                box_grays(grays, w, h, AHASH_GRID, AHASH_GRID)
            )
            return (_hex16(d_bands), _hex16(a_bands), *d_bands, decoder)

        for pdf in batches:
            meta = [one(p) for p in pdf[payload_col]]
            out = {
                id_col: pdf[id_col].values,
                "phash": [m[0] for m in meta],
                "ahash": [m[1] for m in meta],
                "p0": [m[2] for m in meta],
                "p1": [m[3] for m in meta],
                "p2": [m[4] for m in meta],
                "p3": [m[5] for m in meta],
                "decoder": [m[6] for m in meta],
            }
            for c in passthrough:
                out[c] = pdf[c].values
            yield pd.DataFrame(out)

    return binary_df.mapInPandas(_hash, schema)


#: band-bucket flood cap: near-uniform images (solid backgrounds,
#: blank scans) pile thousands of ids onto band value 0 — the same
#: correlated-input failure the vector LSH paths cap.  A flooded
#: bucket is skipped (recall loss on degenerate images only, loudly
#: bounded work), exactly the MAX_VECTOR_BUCKET discipline.
PHASH_MAX_BAND_BUCKET = 1024


def phash_dup_pairs(
    hashes: DataFrame,
    max_hamming: int = PHASH_MAX_HAMMING,
    id_col: str = "doc_id",
    max_bucket: int | None = PHASH_MAX_BAND_BUCKET,
    pre_materialized: bool = False,
    n_bands: int = 4,
) -> DataFrame:
    """(id_a, id_b, hamming) near-duplicate image pairs from
    :func:`image_phash` output: candidates share at least one exact
    dHash band, verified by the exact 64-bit hamming distance.

    ``n_bands`` picks the banding layout (round 13, r12 verdict task
    4) — both derive from the SAME stored p0..p3 ints, so no re-decode:

    - 4 (default): 16-bit bands (two adjacent hash rows each).
      Pigeonhole-GUARANTEED recall only at hamming <= 3; a pair at
      4..max_hamming whose differing bits spread across all four
      bands is missed.  The re-encode/resize regime flips SPATIALLY
      CLUSTERED bits, which is why measured recall at the t=10
      default stays high (BASELINE.md, round-13 banding layouts).
    - 8: 8-bit bands (one hash row each) — hamming <= 7 is
      pigeonhole-GUARANTEED to collide, covering most of the t=10
      default with a hard guarantee (measured: resize recall 0.78 ->
      0.97 on the knob-bench corpus) at ~13x the candidate volume.
      SCALE CAVEAT: an 8-bit band has only 256 values, so average
      bucket occupancy is n/256 — past ~256*max_bucket images every
      bucket floods and the tier degrades to nothing; use 8 bands for
      recall-critical passes over BOUNDED partitions (a shard, a
      cluster re-scan), 4 bands for corpus-scale sweeps.  That
      occupancy wall is why 4 stays the default.

    Shape: one (band, value) explode + self-join per band via a UNION
    — the SimHash banding plan verbatim, with the repo's flood cap
    (``max_bucket``, round-11 review fix: without it a corpus of
    near-uniform images turns the self-join O(n^2) in one bucket);
    candidate pairs then fetch their 4 band ints by id and verify
    with bit_count(xor).  No all-pairs path at any scale.

    ``hashes`` is materialized once (lineage truncation): it feeds
    the band stream AND both verify sides, and its lineage carries
    the per-pixel Python decode — re-running that 4x was the dominant
    cost (review fix, the embed-arm diamond rule).  Callers whose
    frame is ALREADY cheap to rescan (a parquet read-back, an outer
    materialize) pass ``pre_materialized=True`` to skip the redundant
    second checkpoint."""
    from ..checkpoint import materialize

    if n_bands not in (4, 8):
        raise ValueError(f"n_bands must be 4 or 8, got {n_bands}")
    if not pre_materialized:
        hashes = materialize(hashes)
    if n_bands == 4:
        band_structs = [
            F.struct(F.lit(k).alias("band"), F.col(f"p{k}").alias("v"))
            for k in range(4)
        ]
    else:
        # 8x8-bit: band 2k = rows 2k (low byte of p_k), band 2k+1 =
        # row 2k+1 (high byte) — pure bit math on the stored ints
        band_structs = [
            s
            for k in range(4)
            for s in (
                F.struct(
                    F.lit(2 * k).alias("band"),
                    F.col(f"p{k}").bitwiseAND(F.lit(255)).alias("v"),
                ),
                F.struct(
                    F.lit(2 * k + 1).alias("band"),
                    F.shiftright(F.col(f"p{k}"), 8)
                    .bitwiseAND(F.lit(255))
                    .alias("v"),
                ),
            )
        ]
    bands = hashes.select(
        F.col(id_col),
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.v").alias("v"))
    if max_bucket is not None:
        flooded = (
            bands.groupBy("band", "v")
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") > max_bucket)
            .select("band", "v")
        )
        # flooded buckets are FEW by construction (count > cap over a
        # bounded band space) — broadcast the anti side
        bands = bands.join(F.broadcast(flooded), ["band", "v"], "left_anti")
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.v") == F.col("y.v"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    a = hashes.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"p{k}").alias(f"a{k}") for k in range(4)],
    )
    b = hashes.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"p{k}").alias(f"b{k}") for k in range(4)],
    )
    ham = sum(
        F.expr(f"bit_count(a{k} ^ b{k})") for k in range(4)
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# gate arm: synthesized REAL PNGs whose pixels follow an id-derived
# integer formula; Spark decodes the actual bytes, the oracle
# re-derives the formula — the whole real pixel path is hash-checked.
# ---------------------------------------------------------------------------

#: pixel formula shared (as integer math) by the synthesizer and the
#: DuckDB twin: varied enough that distinct ids produce distinct
#: hashes, structured enough (x*y interaction) that gradients exist.
_PIX_SQL = "(doc_id * 31 + x * 7 + y * 13 + ((x * y) % 17) * 5) % 256"


def _pix(i: int, x: int, y: int) -> int:
    return (i * 31 + x * 7 + y * 13 + ((x * y) % 17) * 5) % 256


def _syn_dims(i: int) -> tuple[int, int]:
    return 18 + (i * 5) % 30, 16 + (i * 3) % 17


def synthesize_pixel_pngs(
    ids_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL grayscale PNG per id (full IDAT, correct CRCs), pixels
    from the shared integer formula at id-varied non-grid-aligned
    dimensions (18-47 x 16-32) — so the gate exercises the general
    integer box partition, not a lucky multiple."""

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                i = int(i)
                w, h = _syn_dims(i)
                grays = [
                    _pix(i, x, y) for y in range(h) for x in range(w)
                ]
                payloads.append(png_encode_gray(grays, w, h))
            yield pd.DataFrame({id_col: pdf[id_col].values, "payload": payloads})

    return ids_df.select(id_col).mapInPandas(
        _build, f"{id_col} long, payload binary"
    )


def phash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry arm (round 11): synthesized real PNGs -> REAL pixel
    decode -> dHash/aHash; every row must come back decoder='png'
    (a fake-rung fallback would hash different grays and fail the
    oracle).  Round 14: ids sampled at 1-in-SAMPLE_ARM_MOD — the gate
    certifies the codec, not the corpus (oracle carries the same
    predicate)."""
    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % SAMPLE_ARM_MOD == 0)
    )
    return image_phash(synthesize_pixel_pngs(ids)).select(
        "doc_id", "phash", "ahash", "p0", "p1", "p2", "p3", "decoder"
    )


def _band_hex_sql(table: str, pfx: str) -> str:
    """SELECT doc_id, band hex + band ints from a (doc_id, band, bits)
    relation pivoted wide."""
    cols = ", ".join(
        f"MAX(CASE WHEN band = {k} THEN bits END) AS {pfx}{k}"
        for k in range(4)
    )
    return f"SELECT doc_id, {cols} FROM {table} GROUP BY doc_id"


def _hash_chain_sql(pre_ctes: str, decoder: str) -> str:
    """The shared dHash/aHash DuckDB chain (round 13: factored out of
    the PNG arm so the JPEG arm reuses it verbatim): ``pre_ctes`` must
    end with a CTE ``pgray(doc_id, w, h, x, y, g)`` holding the
    per-pixel grays the oracle re-derived from the arm's integer
    formula; the chain recomputes box means, band bits, hex spellings
    — the exact integer math :func:`image_phash` runs on the REAL
    decoded bytes Spark-side."""
    return f"""
WITH {pre_ctes},
dbox AS (
    SELECT doc_id, (y * {DHASH_GRID_H}) // h AS gy, (x * {DHASH_GRID_W}) // w AS gx,
           SUM(g) // COUNT(*) AS gray
    FROM pgray GROUP BY doc_id, (y * {DHASH_GRID_H}) // h, (x * {DHASH_GRID_W}) // w),
dbits AS (
    SELECT l.doc_id, l.gy // 2 AS band,
           SUM(CASE WHEN r.gray > l.gray
                    THEN 1 << ((l.gy % 2) * 8 + l.gx) ELSE 0 END) AS bits
    FROM dbox l JOIN dbox r
      ON r.doc_id = l.doc_id AND r.gy = l.gy AND r.gx = l.gx + 1
    WHERE l.gx < 8
    GROUP BY l.doc_id, l.gy // 2),
abox AS (
    SELECT doc_id, (y * {AHASH_GRID}) // h AS gy, (x * {AHASH_GRID}) // w AS gx,
           SUM(g) // COUNT(*) AS gray
    FROM pgray GROUP BY doc_id, (y * {AHASH_GRID}) // h, (x * {AHASH_GRID}) // w),
amean AS (
    SELECT doc_id, SUM(gray) // 64 AS mean FROM abox GROUP BY doc_id),
abits AS (
    SELECT b.doc_id, b.gy // 2 AS band,
           SUM(CASE WHEN b.gray > m.mean
                    THEN 1 << ((b.gy % 2) * 8 + b.gx) ELSE 0 END) AS bits
    FROM abox b JOIN amean m ON m.doc_id = b.doc_id
    GROUP BY b.doc_id, b.gy // 2),
dwide AS ({_band_hex_sql('dbits', 'p')}),
awide AS ({_band_hex_sql('abits', 'a')})
SELECT d.doc_id AS doc_id,
       lpad(to_hex(p0), 4, '0') || lpad(to_hex(p1), 4, '0')
           || lpad(to_hex(p2), 4, '0') || lpad(to_hex(p3), 4, '0') AS phash,
       lpad(to_hex(a0), 4, '0') || lpad(to_hex(a1), 4, '0')
           || lpad(to_hex(a2), 4, '0') || lpad(to_hex(a3), 4, '0') AS ahash,
       CAST(p0 AS BIGINT) AS p0, CAST(p1 AS BIGINT) AS p1,
       CAST(p2 AS BIGINT) AS p2, CAST(p3 AS BIGINT) AS p3,
       '{decoder}' AS decoder
FROM dwide d JOIN awide a ON a.doc_id = d.doc_id"""


PHASH_SQL = _hash_chain_sql(
    f"""pdims AS (
    SELECT doc_id,
           18 + (doc_id * 5) % 30 AS w,
           16 + (doc_id * 3) % 17 AS h
    FROM documents WHERE doc_id % {SAMPLE_ARM_MOD} = 0),
ppix AS (
    SELECT doc_id, w, h,
           unnest(range(0, w * h)) % w AS x,
           unnest(range(0, w * h)) // w AS y
    FROM pdims),
pgray AS (
    SELECT doc_id, w, h, x, y, {_PIX_SQL} AS g
    FROM ppix)""",
    "png",
)


# ---------------------------------------------------------------------------
# gate arm (round 13): synthesized REAL baseline JPEGs whose 8x8
# blocks are constant even grays from an id-derived integer formula —
# at quality 50 the decode is bit-exact (jpeg.py module docstring), so
# Spark runs the actual marker->Huffman->dequant->IDCT path on the
# actual bytes and the DuckDB twin re-derives the block formula; the
# shared hash chain certifies the whole JPEG pixel rung end-to-end.
# ---------------------------------------------------------------------------

#: block-gray formula shared (as integer math) with the DuckDB twin:
#: bx/by are the 8x8 block coordinates; doubling keeps every gray EVEN
#: (the lossless-decode precondition) and in [0, 254].
_JPEG_BLOCK_SQL = (
    "2 * ((doc_id * 31 + (x // 8) * 7 + (y // 8) * 13"
    " + (((x // 8) * (y // 8)) % 17) * 5) % 128)"
)


def _jpeg_block(i: int, bx: int, by: int) -> int:
    return 2 * ((i * 31 + bx * 7 + by * 13 + ((bx * by) % 17) * 5) % 128)


def _jpeg_syn_dims(i: int) -> tuple[int, int]:
    # block-aligned, id-varied: 16-40 x 16-32 — multiple MCUs in both
    # dimensions without blowing up the oracle's pixel expansion
    return 8 * (2 + (i * 5) % 4), 8 * (2 + (i * 3) % 3)


def synthesize_blocky_jpegs(
    ids_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL baseline JPEG per id (Annex K tables, full Huffman
    scan) whose 8x8 blocks are constant even grays from the shared
    integer formula at quality 50 — the exact-decode regime, so the
    gate pins the real codec's output bit-for-bit."""
    from .jpeg import JPEG_EXACT_QUALITY, jpeg_encode_gray

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                i = int(i)
                w, h = _jpeg_syn_dims(i)
                grays = [
                    _jpeg_block(i, x // 8, y // 8)
                    for y in range(h)
                    for x in range(w)
                ]
                payloads.append(
                    jpeg_encode_gray(grays, w, h, quality=JPEG_EXACT_QUALITY)
                )
            yield pd.DataFrame({id_col: pdf[id_col].values, "payload": payloads})

    return ids_df.select(id_col).mapInPandas(
        _build, f"{id_col} long, payload binary"
    )


def jpeg_pixels_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry arm (round 13): synthesized real baseline JPEGs ->
    REAL Huffman+IDCT decode -> dHash/aHash; every row must come back
    decoder='jpeg' (a fake-rung fallback — or any drift anywhere in
    the codec — hashes different grays and fails the oracle).
    Round 14: 1-in-SAMPLE_ARM_MOD id sample, mirrored in the oracle."""
    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % SAMPLE_ARM_MOD == 0)
    )
    return image_phash(synthesize_blocky_jpegs(ids)).select(
        "doc_id", "phash", "ahash", "p0", "p1", "p2", "p3", "decoder"
    )


JPEG_PIXELS_SQL = _hash_chain_sql(
    f"""pdims AS (
    SELECT doc_id,
           8 * (2 + (doc_id * 5) % 4) AS w,
           8 * (2 + (doc_id * 3) % 3) AS h
    FROM documents WHERE doc_id % {SAMPLE_ARM_MOD} = 0),
ppix AS (
    SELECT doc_id, w, h,
           unnest(range(0, w * h)) % w AS x,
           unnest(range(0, w * h)) // w AS y
    FROM pdims),
pgray AS (
    SELECT doc_id, w, h, x, y, {_JPEG_BLOCK_SQL} AS g
    FROM ppix)""",
    "jpeg",
)


# ---------------------------------------------------------------------------
# gate arm (round 13, second half): synthesized REAL GIFs — LZW is
# LOSSLESS and the writer twin's grayscale table is the identity, so
# ANY pixel formula decodes to exactly itself; Spark runs the real
# sub-block/LZW/palette path on the actual bytes and the DuckDB twin
# re-derives the formula through the shared hash chain.
# ---------------------------------------------------------------------------

#: pixel formula shared (as integer math) with the DuckDB twin — no
#: evenness/blockiness constraints needed: GIF decode is exact.
_GIF_PIX_SQL = "(doc_id * 37 + x * 11 + y * 23 + ((x + y) % 29) * 3) % 256"


def _gif_pix(i: int, x: int, y: int) -> int:
    return (i * 37 + x * 11 + y * 23 + ((x + y) % 29) * 3) % 256


def _gif_syn_dims(i: int) -> tuple[int, int]:
    return 20 + (i * 7) % 25, 14 + (i * 5) % 19


def synthesize_formula_gifs(
    ids_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One REAL single-frame GIF89a per id (full LZW stream, 256-entry
    grayscale table) whose pixels follow the shared integer formula at
    id-varied dimensions."""
    from .gif import gif_encode_gray

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                i = int(i)
                w, h = _gif_syn_dims(i)
                grays = [
                    _gif_pix(i, x, y) for y in range(h) for x in range(w)
                ]
                payloads.append(gif_encode_gray(grays, w, h))
            yield pd.DataFrame({id_col: pdf[id_col].values, "payload": payloads})

    return ids_df.select(id_col).mapInPandas(
        _build, f"{id_col} long, payload binary"
    )


def gif_pixels_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry arm (round 13): synthesized real GIFs -> REAL LZW
    decode -> dHash/aHash; every row must come back decoder='gif'
    (a fake-rung fallback — or any drift in the LZW/palette path —
    hashes different grays and fails the oracle).
    Round 14: 1-in-SAMPLE_ARM_MOD id sample, mirrored in the oracle."""
    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % SAMPLE_ARM_MOD == 0)
    )
    return image_phash(synthesize_formula_gifs(ids)).select(
        "doc_id", "phash", "ahash", "p0", "p1", "p2", "p3", "decoder"
    )


GIF_PIXELS_SQL = _hash_chain_sql(
    f"""pdims AS (
    SELECT doc_id,
           20 + (doc_id * 7) % 25 AS w,
           14 + (doc_id * 5) % 19 AS h
    FROM documents WHERE doc_id % {SAMPLE_ARM_MOD} = 0),
ppix AS (
    SELECT doc_id, w, h,
           unnest(range(0, w * h)) % w AS x,
           unnest(range(0, w * h)) // w AS y
    FROM pdims),
pgray AS (
    SELECT doc_id, w, h, x, y, {_GIF_PIX_SQL} AS g
    FROM ppix)""",
    "gif",
)


# ---------------------------------------------------------------------------
# fused pixel gate arm (round 14, r13 verdict task 1): the three pixel
# rungs (PNG, baseline JPEG, GIF) certified through ONE synth
# mapInPandas + ONE hash mapInPandas instead of three chains of each.
# Measured: the codec CPU itself is milliseconds-per-core at sf0.1
# (500 GIF encode+decodes = 0.55 s single-threaded) — per-arm cost was
# ~1 s of FIXED Python-worker/stage floors per chain, so fusing the
# chains is the real lever.  Output rows are identical to the three
# separate arms (method tag from the synthesized kind), so the oracle
# twins (PHASH_SQL / JPEG_PIXELS_SQL / GIF_PIXELS_SQL) are unchanged.
# ---------------------------------------------------------------------------


def synthesize_pixel_arm_payloads(
    ids_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(method, id, payload): per id, one REAL PNG ('phash'), one REAL
    baseline JPEG ('jpeg') and one REAL GIF ('gif') from the three
    arms' shared integer formulas — one Arrow stage for all three."""
    from .gif import gif_encode_gray
    from .jpeg import JPEG_EXACT_QUALITY, jpeg_encode_gray

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            methods: list[str] = []
            out_ids: list[int] = []
            payloads: list[bytes] = []
            for i in pdf[id_col]:
                i = int(i)
                w, h = _syn_dims(i)
                payloads.append(
                    png_encode_gray(
                        [_pix(i, x, y) for y in range(h) for x in range(w)],
                        w, h,
                    )
                )
                methods.append("phash")
                out_ids.append(i)
                w, h = _jpeg_syn_dims(i)
                payloads.append(
                    jpeg_encode_gray(
                        [
                            _jpeg_block(i, x // 8, y // 8)
                            for y in range(h)
                            for x in range(w)
                        ],
                        w, h, quality=JPEG_EXACT_QUALITY,
                    )
                )
                methods.append("jpeg")
                out_ids.append(i)
                w, h = _gif_syn_dims(i)
                payloads.append(
                    gif_encode_gray(
                        [_gif_pix(i, x, y) for y in range(h) for x in range(w)],
                        w, h,
                    )
                )
                methods.append("gif")
                out_ids.append(i)
            yield pd.DataFrame(
                {"method": methods, id_col: out_ids, "payload": payloads}
            )

    return ids_df.select(id_col).mapInPandas(
        _build, f"method string, {id_col} long, payload binary"
    )


def pixel_arms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused registry arm: synth (one stage) -> image_phash (one
    stage) with the method tag passed through.  Every row must come
    back on its own decoder ('png'/'jpeg'/'gif' per method) — a fake
    fall or cross-format confusion hashes different grays and fails
    the oracle exactly as the separate arms did."""
    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % SAMPLE_ARM_MOD == 0)
    )
    return image_phash(
        synthesize_pixel_arm_payloads(ids), passthrough=("method",)
    ).select(
        "method", "doc_id", "phash", "ahash",
        "p0", "p1", "p2", "p3", "decoder",
    )
