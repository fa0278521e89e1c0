"""Semantic image dedup: the ``image-v1`` encoder kind (round 12,
r11 verdict task 2).

The phash tier (:mod:`.phash`) catches re-encodes and mild resizes —
near-exact duplicates whose dHash stays within a small hamming ball.
It structurally MISSES the semantic regime: a crop shifts the 8x8
sampling grid and scrambles the binarized neighbor-sign bits (measured
hamming 14+ at a 20% crop, far past the t=10 default), even though the
image is "the same picture".  LAION-style semantic image dedup runs on
EMBEDDINGS instead, where a crop moves the vector a little, not the
bits a lot.

This module produces that embedding WITHOUT changing any consumer: an
``image-v1`` artifact served by :func:`..operators.embed.embed_with_model`
(the round-10 encoder seam — same commit marker, same once-per-worker
cache, same (vec_id, embedding) output), feeding the existing
``embedding_dup_pairs_lsh`` / ``semdedup_keep`` machinery unchanged.
A production CLIP-style image encoder drops into exactly this plug
point (load weights in ``_PreparedImage``, run the model in
``encode_payload``); the shipped reference features keep the seam
hash-gatable end-to-end.

Feature design (deterministic integer math, so the DuckDB twin
recomputes it bit-for-bit): decode the payload through the pixel
ladder (:func:`.phash.decode_png_pixels` -> fake-gray rung), box-mean
down to an 8x8 integer grid (:func:`.phash.box_grays` — the exact
integer partition both engines share), then MEAN-CENTER without
division: ``f[i] = 64 * g[i] - sum(g)``.  Properties:

- brightness shift (+c per pixel) cancels exactly: box means shift by
  c, ``64*(g+c) - (sum + 64c) = f`` — a recolored duplicate lands at
  cosine 1.0 (the gate arm's planted pair);
- contrast scale (*k) scales f by k — cosine-invariant;
- a crop of a SMOOTH image perturbs each box mean slightly, so cosine
  degrades gracefully (measured 0.92 at a 20% crop where dHash is
  already at hamming 14) — the case the phash tier cannot catch,
  pinned by pytest with the planted crop pair;
- a constant image has f = 0 (no direction): encoded as absent, the
  zero-token-document contract.

Scale shape: one Arrow ``mapInPandas`` over (id, payload) — no
shuffle; everything downstream is the banded-LSH pair machinery whose
only wide exchange carries (band, bucket, id).

Reference analogue: the reference has no image tier at all; the seam
contract cites api_utils.py:68-138 (model at a boundary) like the text
encoder kinds.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..operators.artifact_manifest import (
    ArtifactSnapshot,
    artifact_check,
    artifact_open,
    artifact_overwrite,
)
from ..operators.embed import IMAGE_KIND, _worker_encoder_cache
from ..operators.similarity import EMBEDDING_DIM
from .phash import (
    _fake_grays,
    box_grays,
    decode_image_pixels,
    png_encode_gray,
)

#: the pixel-decode ladder version baked into every image-v1 identity
#: (round 13): every rung/capability addition changes the feature
#: space for SOME byte sequences (payloads that used to fall to the
#: fake rung now decode), so artifacts committed under an older
#: ladder must REFUSE, not silently mix spaces — the `mix=sum`
#: discipline from audio-v1.  Current surface: full-legal PNG
#: (Adam7 + all depths), JPEG baseline + progressive, GIF with the
#: GIF89a rendering model (round 14 bump, review fix: the animation
#: decoder changed single-frame GCE semantics too — transparent
#: pixels now compose as background instead of their palette luma,
#: and a transparent out-of-range index no longer drops the payload
#: to the fake rung — so pre-r14 artifacts must refuse).
IMG_LADDER = "png-full+jpeg-prog+gif89a"

#: feature grid: 8x8 box means -> 64 dims = EMBEDDING_DIM, so every
#: embedding consumer (LSH banding at the default dim, cosine, ANN)
#: composes without a dim override.
IMG_GRID = 8

# -- gate-arm synthesis constants (shared, as integer math, with the
# DuckDB twin): base pixels on % 236 so the +20 brightness twin never
# clamps (exact feature equality needs exact +shift per pixel).
IMG_PIX_MOD = 236
IMG_TWIN_SHIFT = 20
IMG_TWIN_EVERY = 5
IMG_TWIN_OFFSET = 1_000_000_000


def image_features(
    grays: list[int], width: int, height: int, grid: int = IMG_GRID
) -> list[float] | None:
    """Mean-centered integer box means (module docstring): ``f[i] =
    n*g[i] - sum(g)`` with n = grid*grid — integer-valued doubles, the
    repo's fixed-point discipline.  None for a constant image (all
    boxes equal <=> f is the zero vector, which has no direction)."""
    box = box_grays(grays, width, height, grid, grid)
    if min(box) == max(box):
        return None
    tot = sum(box)
    n = grid * grid
    return [float(n * v - tot) for v in box]


def image_encoder_build(
    spark,
    path: str,
    dim: int = EMBEDDING_DIM,
    grid: int = IMG_GRID,
) -> ArtifactSnapshot:
    """Commit an ``image-v1`` encoder artifact at ``path`` (no-op when
    a matching one exists — the encoder_model_build discipline) and
    return the served generation.

    The reference feature extractor is stateless (no trained tables),
    so the artifact is the params marker itself: it pins the FEATURE
    SPACE (kind, dim, grid) that index markers and worker caches key
    on — a learned image encoder adds its weight files beside the
    marker and rides the same commit."""

    if dim != grid * grid:
        raise ValueError(
            f"image-v1 dim must equal grid*grid ({grid * grid}), got {dim}"
        )
    params = {
        "kind": "encoder",
        "encoder": IMAGE_KIND,
        "dim": dim,
        "grid": grid,
        "ladder": IMG_LADDER,
    }
    snap = artifact_open(spark, path)
    try:
        if artifact_check(snap, params):
            return snap
    except ValueError:
        # a committed artifact under an OLDER feature-space identity
        # (e.g. the pre-r13 png-only ladder, round 13): a BUILD call
        # owns the path and asked for THIS space — rebuild in place.
        # SERVING stays strict (embed_with_model refuses old ladders);
        # only the build self-heals.
        pass
    content = f"image-v1|dim={dim}|grid={grid}|ladder={IMG_LADDER}"
    version = hashlib.md5(content.encode("utf-8")).hexdigest()[:12]
    # a zero-table manifest: the commit IS the params (round 12 —
    # unified artifact protocol; weight files would ride as tables)
    return artifact_overwrite(
        spark, path, {}, {**params, "version": version}, snap
    )


class _PreparedImage:
    """Worker-side prepared image encoder: the decode ladder (real PNG
    pixels -> deterministic fake grays) + integer features, optionally
    followed by a LEARNED linear projection (``mat``, D x grid^2 —
    the bring-your-own-weights form a distilled/PCA'd image embedder
    exports; round 12).  The once-per-worker cache in embed_with_model
    gives the loaded matrix the right lifetime."""

    __slots__ = ("grid", "mat")

    def __init__(self, grid: int, mat=None):
        self.grid = grid
        self.mat = mat

    def encode_payload(self, payload) -> list[float] | None:
        if payload is None:
            payload = b""
        decoded = decode_image_pixels(bytes(payload))
        if decoded is not None:
            w, h, grays, _tag = decoded
        else:
            w, h = self.grid, self.grid
            grays = _fake_grays(bytes(payload), w * h)
        feats = image_features(grays, w, h, self.grid)
        if feats is None or self.mat is None:
            return feats
        import numpy as np

        out = self.mat @ np.asarray(feats, dtype=np.float64)
        if not out.any():
            # a projection can null a direction the raw features had:
            # no direction -> absent (the zero-vector contract)
            return None
        return [float(v) for v in out]


#: bound on an imported projection's OUTPUT dim: the matrix broadcasts
#: to every worker (D * grid^2 float64); past a few thousand rows it
#: stops being a projection and starts being a model checkpoint —
#: which belongs behind a real inference seam, not a literal matrix.
IMG_PROJ_MAX_DIM = 4096


def image_encoder_import(
    spark,
    weights_df: DataFrame,
    path: str,
    grid: int = IMG_GRID,
) -> dict:
    """Commit a PROJECTED ``image-v1`` encoder (round 12 — the image
    analogue of ``wordvec_model_import``'s bring-your-own-weights):
    ``weights_df`` is ``(row long, vec array<double>)`` — a D x grid^2
    projection matrix (a PCA basis, a distilled linear head), applied
    on top of the stateless box features.  Output dim = D; every
    embedding consumer sizes itself from the artifact's dim (LSH plane
    family, index markers), so D need not be 64.

    Validation (shared: ``validate_projection_matrix``, round 13)
    refuses ragged inner dims, a wrong inner dim, NULL components,
    duplicate or non-dense row ids, and D past ``IMG_PROJ_MAX_DIM`` —
    a torn export must fail the import, not the first worker batch.
    Version is a content hash, so a re-import with different weights
    serves under a new identity (index dirs keyed on it never mix
    spaces)."""
    import hashlib as _hl

    from ..operators.embed import validate_projection_matrix

    rows, collected, n = validate_projection_matrix(
        weights_df, grid * grid, IMG_PROJ_MAX_DIM, "image"
    )
    h = _hl.md5()
    h.update(f"ladder={IMG_LADDER}|".encode())
    for r in collected:
        h.update(repr((r["row"], tuple(r["vec"]))).encode())
    version = h.hexdigest()[:12]
    params = {
        "kind": "encoder",
        "encoder": IMAGE_KIND,
        "dim": n,
        "grid": grid,
        "ladder": IMG_LADDER,
        "projected": "true",
        "version": version,
    }
    artifact_overwrite(
        spark, path, {"weights": rows}, params, artifact_open(spark, path)
    )
    return params


def _load_prepared_image(
    model_path: str, names: list[str], grid: int, dim: int
) -> _PreparedImage:
    """Worker-side load of a projected image encoder's weight matrix
    from the committed ``weights`` files ``names`` (shared
    ``load_projection_matrix``: pyarrow, torn-table refusal)."""
    from ..operators.embed import load_projection_matrix

    return _PreparedImage(
        grid, load_projection_matrix(model_path, names, dim, grid * grid)
    )


def image_embed_frame(
    docs: DataFrame,
    snap: ArtifactSnapshot,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    load_log_dir: str | None = None,
) -> DataFrame:
    """The image branch of ``embed_with_model`` (which validates the
    snapshot's params and dispatches here): (vec_id, embedding
    array<double>) from an image-payload frame through one Arrow
    mapInPandas — same output contract as every text encoder kind."""
    model_path, params = snap.path, snap.params
    if params.get("ladder") != IMG_LADDER:
        # an artifact committed under an older pixel ladder (png-only)
        # promises a different vector for the same JPEG bytes: serving
        # it would silently mix feature spaces in any index keyed on
        # its version — refuse loudly (round 13, the mix=sum rule)
        raise ValueError(
            f"image encoder at {model_path} was committed under pixel "
            f"ladder {params.get('ladder') or 'png-only (pre-r13)'}; "
            f"this build decodes {IMG_LADDER} — rebuild the artifact"
        )
    grid = int(params.get("grid", IMG_GRID))
    version = params.get("version", "1")
    projected = params.get("projected") == "true"
    proj_dim = int(params.get("dim", grid * grid))
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
                enc = _load_prepared_image(
                    model_path, weights, grid, proj_dim
                )
            else:
                enc = _PreparedImage(grid)
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


def image_hash_embed(
    binary_df: DataFrame,
    grid: int = IMG_GRID,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Both image-dedup tiers' inputs from ONE pixel-decode pass:
    ``(id, phash, ahash, p0..p3, decoder, embedding array<double>)``.

    The tiered CLI (``dedup-images --method both``) needs the dHash
    bands (near-exact tier) AND the box-mean features (semantic tier)
    for every image; decoding the payload twice — once per tier —
    would double the dominant cost (the pure-Python per-pixel
    unfilter).  This runs the decode ladder once per payload and emits
    both representations; ``embedding`` is NULL for a constant image
    (no direction — the zero-vector contract) and for nothing else.

    Output composes unchanged with both pair scanners:
    :func:`.phash.phash_dup_pairs` consumes (id, p0..p3);
    ``embedding_dup_pairs_lsh`` consumes the non-null
    (id, embedding) slice.  Arrow mapInPandas, no shuffle.
    """
    from .phash import (
        AHASH_GRID,
        DHASH_GRID_H,
        DHASH_GRID_W,
        _hex16,
        ahash_bands,
        dhash_bands,
    )

    schema = (
        f"{id_col} long, phash string, ahash string, "
        "p0 long, p1 long, p2 long, p3 long, decoder string, "
        "embedding array<double>"
    )

    def _both(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(payload):
            if payload is None:
                payload = b""
            decoded = decode_image_pixels(bytes(payload))
            if decoded is not None:
                w, h, grays, decoder = decoded
                feats = image_features(grays, w, h, grid)
            else:
                w, h = DHASH_GRID_W, DHASH_GRID_H
                grays = _fake_grays(bytes(payload), w * h)
                decoder = "fake"
                # the EMBEDDING must match _PreparedImage's fake rung
                # (grid x grid fake grays), not the hash ladder's 9x8
                # — the committed image-v1 identity promises one vector
                # per byte sequence across every surface (review fix:
                # box-meaning the 9x8 fakes gave a different vector
                # than the seam for the same undecodable bytes)
                feats = image_features(
                    _fake_grays(bytes(payload), grid * grid),
                    grid, grid, grid,
                )
            d_bands = dhash_bands(box_grays(grays, w, h, DHASH_GRID_W, DHASH_GRID_H))
            a_bands = ahash_bands(box_grays(grays, w, h, AHASH_GRID, AHASH_GRID))
            return (_hex16(d_bands), _hex16(a_bands), *d_bands, decoder, feats)

        for pdf in batches:
            meta = [one(p) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "phash": [m[0] for m in meta],
                    "ahash": [m[1] for m in meta],
                    "p0": [m[2] for m in meta],
                    "p1": [m[3] for m in meta],
                    "p2": [m[4] for m in meta],
                    "p3": [m[5] for m in meta],
                    "decoder": [m[6] for m in meta],
                    "embedding": pd.Series([m[7] for m in meta], dtype=object),
                }
            )

    return binary_df.mapInPandas(_both, schema)


# ---------------------------------------------------------------------------
# gate arm: synthesized REAL PNGs (base image per doc_id + a planted
# BRIGHTNESS-SHIFTED twin for every IMG_TWIN_EVERY-th id — exact
# feature equality by the centering identity, so the twin pair scores
# cosine 1.0 in both engines).  Spark decodes actual bytes; the
# DuckDB twin re-derives the formula — the phash-arm scheme, extended
# from hashes to the embedding space.
# ---------------------------------------------------------------------------

#: pixel formula (integer, shared with the SQL twin): the phash arm's
#: formula on the % 236 grid so the +20 twin shift never clamps.
_PIX_SQL = (
    f"(base_id * 31 + x * 7 + y * 13 + ((x * y) % 17) * 5) % {IMG_PIX_MOD}"
    " + shift"
)


def _pix(i: int, x: int, y: int, shift: int) -> int:
    return (i * 31 + x * 7 + y * 13 + ((x * y) % 17) * 5) % IMG_PIX_MOD + shift


def _syn_dims(i: int) -> tuple[int, int]:
    # the phash synthesizer's id-varied non-grid-aligned dims
    return 18 + (i * 5) % 30, 16 + (i * 3) % 17


def synthesize_embed_pngs(
    ids_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, payload): one real grayscale PNG per id from the shared
    integer formula, PLUS a brightness-shifted twin (+IMG_TWIN_SHIFT
    per pixel, id + IMG_TWIN_OFFSET) for ids divisible by
    IMG_TWIN_EVERY — the planted recolored duplicates the arm must
    find at cosine exactly 1.0."""

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, payloads = [], []
            for i in pdf[id_col]:
                i = int(i)
                w, h = _syn_dims(i)
                variants = [(i, 0)]
                if i % IMG_TWIN_EVERY == 0:
                    variants.append((i + IMG_TWIN_OFFSET, IMG_TWIN_SHIFT))
                for vid, shift in variants:
                    grays = [
                        _pix(i, x, y, shift)
                        for y in range(h)
                        for x in range(w)
                    ]
                    out_ids.append(vid)
                    payloads.append(png_encode_gray(grays, w, h))
            yield pd.DataFrame({id_col: out_ids, "payload": payloads})

    return ids_df.select(id_col).mapInPandas(
        _build, f"{id_col} long, payload binary"
    )


def image_embed_sql(
    pfx: str = "ie", table: str = "documents", grid: int = IMG_GRID
) -> str:
    """DuckDB twin CTE chain ending in ``{pfx}_out`` (vec_id,
    embedding) — re-derives the synthesized base+twin images from the
    pixel formula and computes the identical integer features (boxes
    via the shared ``(coord * grid) // size`` partition, means as
    SUM // COUNT, centering as ``n*g - tot``); constant images drop
    (MIN < MAX guard, the Spark side's None)."""
    n = grid * grid
    return f"""
        {pfx}_ids AS (
            SELECT doc_id AS vid, doc_id AS base_id, 0 AS shift
            FROM {table}
            UNION ALL
            SELECT doc_id + {IMG_TWIN_OFFSET}, doc_id, {IMG_TWIN_SHIFT}
            FROM {table} WHERE doc_id % {IMG_TWIN_EVERY} = 0),
        {pfx}_dims AS (
            SELECT vid, base_id, shift,
                   18 + (base_id * 5) % 30 AS w,
                   16 + (base_id * 3) % 17 AS h
            FROM {pfx}_ids),
        {pfx}_pix AS (
            SELECT vid, base_id, shift, w, h,
                   unnest(range(0, w * h)) % w AS x,
                   unnest(range(0, w * h)) // w AS y
            FROM {pfx}_dims),
        {pfx}_gray AS (
            SELECT vid, w, h, x, y, {_PIX_SQL} AS g
            FROM {pfx}_pix),
        {pfx}_box AS (
            SELECT vid, (y * {grid}) // h AS gy, (x * {grid}) // w AS gx,
                   SUM(g) // COUNT(*) AS gray
            FROM {pfx}_gray
            GROUP BY vid, (y * {grid}) // h, (x * {grid}) // w),
        {pfx}_tot AS (
            SELECT vid, SUM(gray) AS tot, MIN(gray) AS mn, MAX(gray) AS mx
            FROM {pfx}_box GROUP BY vid),
        {pfx}_out AS (
            SELECT b.vid AS vec_id,
                   list(CAST({n} * b.gray - t.tot AS DOUBLE)
                        ORDER BY b.gy * {grid} + b.gx) AS embedding
            FROM {pfx}_box b JOIN {pfx}_tot t ON t.vid = b.vid
            WHERE t.mn < t.mx
            GROUP BY b.vid)"""
