"""Batched model-inference seam: documents -> embeddings through a
PERSISTED ENCODER ARTIFACT loaded once per executor.

The whole semantic tier (SemDeDup, ANN, semantic ingest) previously ran
on :func:`~.similarity.hash_embed` — exact signed bag-of-words, which by
construction cannot see paraphrase duplicates (same meaning, different
words — the actual point of SemDeDup, Abbas et al. 2023 §3 uses model
embeddings).  This module is the missing seam: a pluggable,
deterministic encoder CONTRACT with the executor-side loading/caching
discipline a real learned encoder (fasttext / sentence-transformer
weights on shared storage) needs, so one drops in where ``hash_embed``
sits today without touching any consumer.

Reference analogue: the external-scoring model boundary
(api_utils.py:68-138) — the same "model at a seam" shape the engine
already ships for IHC scoring, applied to embedding inference.

Execution shape (the mapInPandas ladder rule — Python is the right
tool ONLY for the model call itself):

- tokenization stays JVM-side (``search_tokens`` — the exact regex the
  oracle twins share), so no Python lower()/regex dialect can drift the
  gate;
- the encoder state loads from the artifact directory ONCE PER PYTHON
  WORKER (module-level cache keyed by (path, version)), never per task
  or per Arrow batch — pytest pins this with a load log.  The driver
  opens one artifact snapshot and hands its committed file lists to
  the workers, so every task encodes with the generation the driver
  validated;
- encoding runs Arrow-batched over (id, tokens) rows; per-token hash
  work is memoized per worker, so the steady-state cost is one dict
  lookup per token.

The shipped reference encoder ("synproj-v1") keeps the seam
HASH-GATABLE: synonym canonicalization (a tiny built-in table — the
stand-in for "similar meaning -> nearby vector") + a stop list TRAINED
on the corpus (top-N canonical terms by frequency) + the signed
feature-hash projection of the kept canonical tokens.  Every stage is
deterministic integer math the DuckDB twin (:func:`embed_model_sql`)
recomputes bit-for-bit, and the synonym step gives it the one semantic
property ``hash_embed`` provably lacks: synonym-swapped paraphrases
land on the SAME vector (pytest: the paraphrase fixture scores ~1.0
here and below every dup threshold under ``hash_embed``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .artifact_manifest import (
    ArtifactSnapshot,
    artifact_check,
    artifact_open,
    artifact_overwrite,
)
from .retrieval import search_tokens
from .similarity import EMBEDDING_DIM

ENCODER_KIND = "synproj-v1"

#: second encoder kind: a dense (term -> float vector) table with mean
#: pooling — the artifact SHAPE of a real word2vec/fastText export,
#: proving the seam is encoder-agnostic.
WORDVEC_KIND = "wordvec-v1"

#: the wordvec grid denominator: stored components are INTEGER-VALUED
#: doubles (true value = grid / scale).  Integer-valued terms make the
#: mean-pooling sum bit-equal in ANY accumulation order (the repo's
#: fixed-point float discipline), and the scale divides out of cosine.
WORDVEC_SCALE = 1024

#: third encoder kind: image payloads -> deterministic integer pixel
#: features through the same seam (multimodal/imgembed.py — semantic
#: image dedup).
IMAGE_KIND = "image-v1"

#: fourth encoder kind: audio payloads -> gain-invariant
#: energy-envelope features through the same seam (multimodal/
#: audioembed.py — audio near-dup, the sample tier above the
#: header-only audio modality).
AUDIO_KIND = "audio-v1"

#: fifth encoder kind: video payloads -> sampled MJPEG frame
#: decode (multimodal/jpeg.py) -> pooled image-v1 box features
#: through the same seam (multimodal/videoembed.py — the video sample
#: tier above the header-only video modality).
VIDEO_KIND = "video-v1"

#: every encoder kind ``embed_with_model`` can serve.
SUPPORTED_ENCODERS = (
    ENCODER_KIND, WORDVEC_KIND, IMAGE_KIND, AUDIO_KIND, VIDEO_KIND,
)

#: SIF pooling constants (Arora et al. 2017, "A Simple but Tough-to-
#: Beat Baseline"): weight(t) = a / (a + p(t)) with a = 1/SIF_A_DENOM.
#: With p(t) = c/N that is N / (N + SIF_A_DENOM * c) — so the
#: SIF_SCALE-quantized weight floor(SIF_SCALE * N / (N + 1000c)) is
#: ONE integer floor-division, exactly computable in both engines (no
#: float division anywhere in the weight).  At SIF_SCALE = 2^16 the
#: weight is never quantized to zero (that would need c > 65535/1000
#: of the corpus... i.e. impossible since c <= N), so the weighted
#: denominator is always positive.
WORDVEC_SIF_A_DENOM = 1000
WORDVEC_SIF_SCALE = 1 << 16

#: trained stop-list size: the top-N most frequent canonical terms
#: (stopword-class mass) are dropped before projection — the SIF-style
#: "frequent directions dominate cosine" remedy, and the part of the
#: reference encoder that is genuinely TRAINED from the corpus.
ENCODER_STOP_TOP_N = 16

#: the built-in synonym table (variant -> canonical): the deterministic
#: stand-in for "a learned encoder maps similar meanings to nearby
#: vectors".  Single lowercase [a-z0-9]+ tokens only, so every entry is
#: reachable under SEARCH_TOKEN_PATTERN.
DEFAULT_SYNONYMS: dict[str, str] = {
    "quick": "fast", "rapid": "fast", "speedy": "fast", "swift": "fast",
    "jumps": "leaps", "hops": "leaps", "vaults": "leaps",
    "lazy": "idle", "sluggish": "idle",
    "big": "large", "huge": "large", "giant": "large",
    "small": "little", "tiny": "little",
    "happy": "glad", "joyful": "glad",
    "sad": "unhappy", "gloomy": "unhappy",
    "begin": "start", "commence": "start",
    "end": "finish", "conclude": "finish",
    "smart": "clever", "intelligent": "clever",
    "street": "road", "avenue": "road",
    "car": "auto", "automobile": "auto",
    "buy": "purchase", "acquire": "purchase",
}


def _canon_col(synonyms: dict[str, str], term_col: str):
    """``term_col`` canonicalized through the synonym table — a literal
    map lookup (bounded by construction), row-local."""
    if not synonyms:
        return F.col(term_col)
    pairs: list = []
    for k, v in sorted(synonyms.items()):
        pairs.extend([F.lit(k), F.lit(v)])
    return F.coalesce(
        F.element_at(F.create_map(*pairs), F.col(term_col)), F.col(term_col)
    )


def encoder_model_build(
    train_docs: DataFrame,
    path: str,
    dim: int = EMBEDDING_DIM,
    stop_top_n: int = ENCODER_STOP_TOP_N,
    synonyms: dict[str, str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> ArtifactSnapshot:
    """Train and persist the reference encoder artifact (no-op when a
    committed artifact with matching hyperparameters already exists —
    the nb_model_build discipline).  Returns the committed generation.

    Artifact tables (one manifest commit with the params):
    ``synonyms`` (term, canon) and ``stopterms`` (term — the top
    ``stop_top_n`` CANONICAL terms by corpus frequency, ties broken on
    the term string so the list is a total order both engines derive
    identically).

    The trained tables are broadcast-class by construction (|synonyms|
    + stop_top_n rows); a real encoder's weight blobs would ride the
    same commit as further tables.
    """
    return _encoder_build(
        train_docs, path, artifact_open(train_docs.sparkSession, path),
        dim=dim, stop_top_n=stop_top_n, synonyms=synonyms,
        text_col=text_col, tokens_col=tokens_col,
    )


def _encoder_build(
    train_docs: DataFrame,
    path: str,
    base: ArtifactSnapshot | None,
    dim: int = EMBEDDING_DIM,
    stop_top_n: int = ENCODER_STOP_TOP_N,
    synonyms: dict[str, str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> ArtifactSnapshot:
    """:func:`encoder_model_build` over ``base``, the generation the
    caller opened at ``path`` (None: nothing committed); the keywords
    are :func:`encoder_model_build`'s."""
    spark = train_docs.sparkSession
    syn = DEFAULT_SYNONYMS if synonyms is None else synonyms
    params = {
        "kind": "encoder",
        "encoder": ENCODER_KIND,
        "dim": dim,
        "stop_top_n": stop_top_n,
        "n_synonyms": len(syn),
    }
    if artifact_check(base, params):
        return base
    src = (
        F.col(tokens_col) if tokens_col is not None else search_tokens(text_col)
    )
    terms = train_docs.select(F.explode(src).alias("term"))
    canon = terms.select(_canon_col(syn, "term").alias("term"))
    # top-N by (count DESC, term ASC): a LIMIT over a total order —
    # driver-bounded (TakeOrdered over stop_top_n rows), never a window
    stop = (
        canon.groupBy("term")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), F.col("term").asc())
        .limit(int(stop_top_n))
        .select("term")
    )
    # the stop list feeds the content-version collect AND the staged
    # write; it is bounded (stop_top_n rows) — truncate the training
    # lineage once
    from ..checkpoint import materialize

    stop = materialize(stop)
    from ..session import local_frame

    syn_df = local_frame(
        spark, sorted(syn.items()), "term string, canon string"
    ).coalesce(1)
    # version = CONTENT hash of the trained tables (a constant
    # version would make every stale-guard keyed on it a no-op —
    # the per-worker cache and the index markers' embedder pin both
    # need rebuild-from-different-data to CHANGE the version, and an
    # identical retrain to keep it: same tables = same model = same
    # vector space).
    import hashlib

    stop_terms = sorted(r["term"] for r in stop.collect())
    content = "|".join(
        [f"{k}>{v}" for k, v in sorted(syn.items())]
        + stop_terms
        + [f"dim={dim}", f"stop_top_n={stop_top_n}"]
    )
    version = hashlib.md5(content.encode("utf-8")).hexdigest()[:12]
    # one atomic manifest commit: trained tables + params together
    return artifact_overwrite(
        spark, path,
        {"stopterms": stop, "synonyms": syn_df},
        {**params, "version": version},
        base,
    )


def encoder_model_ensure(
    train_docs: DataFrame,
    path: str,
    **build_kwargs,
) -> ArtifactSnapshot:
    """Serve ANY committed supported encoder (synproj-v1 OR
    wordvec-v1) at ``path`` as-is, else
    build one from ``train_docs`` with ``build_kwargs`` — the
    bring-your-own-artifact contract for CLI/ingest surfaces: a user's
    PRE-TRAINED encoder (different stop list, different dim) must not
    be rejected just because it differs from the builder's defaults
    (``encoder_model_build`` pins exact hyperparameters; that is the
    right check for a caller asserting a specific configuration, the
    wrong one for "use the model at this path").  A committed artifact
    of a DIFFERENT kind still raises.  Returns the served generation;
    the path is opened once either way."""
    snap = artifact_open(train_docs.sparkSession, path)
    if snap is not None and snap.params:
        _check_encoder(snap)
        return snap
    return _encoder_build(train_docs, path, snap, **build_kwargs)


def _check_encoder(snap: ArtifactSnapshot) -> dict:
    """The params of a committed supported encoder; ValueError for an
    artifact of another kind."""
    params = snap.params
    if (
        params.get("kind") != "encoder"
        or params.get("encoder") not in SUPPORTED_ENCODERS
    ):
        raise ValueError(
            f"artifact at {snap.path} is not a supported encoder "
            f"({', '.join(SUPPORTED_ENCODERS)}): {params}"
        )
    return params


# --------------------------------------------------------------------------
# executor-side model cache: (artifact path, version) -> prepared
# encoder, surviving ACROSS TASKS on a reused Python worker
# (spark.python.worker.reuse) — the "load the weights once per
# executor, not per batch" discipline a real model seam lives or dies
# by.  The version key (bumped by artifact rebuilds) makes a stale
# cached model unreachable.
#
# The cache CANNOT be a plain module global referenced from the
# mapInPandas closure: cloudpickle serializes referenced globals BY
# VALUE into each task's payload (measured: 16 tasks on one reused
# worker = 16 loads), so every task would see a fresh empty dict.  It
# hangs off ``builtins`` instead — a module that persists in the
# worker's sys.modules for the life of the process, giving true
# once-per-worker semantics (pytest pins this with the load log).
# --------------------------------------------------------------------------
_CACHE_ATTR = "__spark_graft_encoder_cache__"


def _worker_encoder_cache() -> dict:
    import builtins

    cache = getattr(builtins, _CACHE_ATTR, None)
    if cache is None:
        cache = {}
        setattr(builtins, _CACHE_ATTR, cache)
    return cache


class _PreparedEncoder:
    """Worker-side prepared state for the reference encoder: the loaded
    synonym/stop tables plus a per-worker token -> (bucket, sign) memo
    (md5 runs once per DISTINCT canonical term per worker; steady state
    is one dict lookup per token)."""

    __slots__ = ("syn", "stop", "dim", "_memo")

    def __init__(self, syn: dict[str, str], stop: set, dim: int):
        self.syn = syn
        self.stop = stop
        self.dim = dim
        self._memo: dict[str, tuple[int, int]] = {}

    def bucket_sign(self, term: str) -> tuple[int, int]:
        hit = self._memo.get(term)
        if hit is None:
            import hashlib

            b = int(
                hashlib.md5(("em|" + term).encode("utf-8")).hexdigest()[:15], 16
            ) % self.dim
            s = (
                1
                if int(
                    hashlib.md5(("es|" + term).encode("utf-8")).hexdigest()[0], 16
                ) % 2 == 0
                else -1
            )
            hit = (b, s)
            self._memo[term] = hit
        return hit

    def encode(self, tokens) -> list[float] | None:
        """One document: signed feature-hash sum of the kept canonical
        tokens.  None when no token survives the stop filter (the
        zero-token-doc contract: absent, like hash_embed)."""
        acc: dict[int, int] = {}
        syn, stop = self.syn, self.stop
        kept = 0
        for t in tokens:
            c = syn.get(t, t)
            if c in stop:
                continue
            kept += 1
            b, s = self.bucket_sign(c)
            acc[b] = acc.get(b, 0) + s
        if kept == 0:
            return None
        return [float(acc.get(i, 0)) for i in range(self.dim)]


def _worker_table(model_path: str, table: str, names: list[str]) -> pd.DataFrame:
    """One artifact table read on a WORKER (pyarrow — workers have no
    SparkSession; a real encoder loads its weight files the same way,
    directly from shared storage): exactly ``names``, the committed
    files the driver's snapshot resolved.  Workers never resolve a
    manifest themselves, so a generation committed mid-job is never
    cached under the version the driver read.

    Paths resolve through ``pyarrow.fs.FileSystem.from_uri`` (a plain
    glob is driver-local-filesystem-only and would return zero files
    for hdfs:// or s3:// artifact dirs on every worker), falling back
    to the local filesystem for scheme-less paths."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    if not names:
        raise FileNotFoundError(
            f"artifact table missing: {model_path}/{table}"
        )
    if "://" in model_path:
        fs, root = pafs.FileSystem.from_uri(model_path)
    else:
        fs, root = pafs.LocalFileSystem(), model_path
    return pd.concat(
        [
            pq.read_table(f"{root}/{table}/{n}", filesystem=fs).to_pandas()
            for n in names
        ],
        ignore_index=True,
    )


def _load_prepared(
    model_path: str, files: dict[str, list[str]], dim: int
) -> _PreparedEncoder:
    """The reference encoder's synonym and stop tables, read from the
    committed ``files`` (table -> names) of the driver's snapshot."""
    syn_pdf = _worker_table(model_path, "synonyms", files["synonyms"])
    stop_pdf = _worker_table(model_path, "stopterms", files["stopterms"])
    return _PreparedEncoder(
        dict(zip(syn_pdf["term"], syn_pdf["canon"])),
        set(stop_pdf["term"]),
        dim,
    )


def embed_with_model(
    docs: DataFrame,
    model: str | ArtifactSnapshot,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    load_log_dir: str | None = None,
    payload_col: str = "payload",
) -> DataFrame:
    """(vec_id, embedding array<double>) through the persisted encoder
    artifact ``model`` — the batched model-inference seam.  ``model``
    is the artifact dir, or a snapshot of it the calling operation
    already opened (:func:`.artifact_manifest.artifact_open`), so every
    embed of one operation encodes with one generation.

    The artifact params are validated DRIVER-SIDE before any task runs
    (kind/encoder pinned; torn or missing artifacts raise here, not as
    an executor stack trace); the workers receive the snapshot's file
    lists, and its ``version`` rides into the worker cache key so
    rebuilt artifacts can never serve a stale cached model.

    ``load_log_dir`` (tests only): every ACTUAL artifact load appends a
    marker file there — how pytest pins one-load-per-worker.

    Scale shape: tokenize JVM-side, one mapInPandas over (id, tokens)
    — Arrow-batched, no shuffle; the output column set is exactly
    ``hash_embed``'s, so every embedding consumer (LSH banding,
    SemDeDup, ANN index build, streaming probes) composes unchanged.
    """
    snap = (
        model if isinstance(model, ArtifactSnapshot)
        else artifact_open(docs.sparkSession, model)
    )
    if snap is None or not snap.params:
        raise ValueError(
            f"no committed encoder artifact at {model}; build it "
            "first (encoder_model_build)"
        )
    params = _check_encoder(snap)
    encoder = params["encoder"]
    if encoder == IMAGE_KIND:
        # image payloads, not text: the input column is ``payload_col``
        # (binary) and the whole pipeline is one decode+feature
        # mapInPandas — multimodal/imgembed.py owns the branch
        from ..multimodal.imgembed import image_embed_frame

        return image_embed_frame(
            docs, snap,
            id_col=id_col, payload_col=payload_col,
            load_log_dir=load_log_dir,
        )
    if encoder == AUDIO_KIND:
        # audio payloads: real PCM decode -> envelope features, one
        # mapInPandas — multimodal/audioembed.py owns the branch
        from ..multimodal.audioembed import audio_embed_frame

        return audio_embed_frame(
            docs, snap,
            id_col=id_col, payload_col=payload_col,
            load_log_dir=load_log_dir,
        )
    if encoder == VIDEO_KIND:
        # video payloads: MJPEG demux + sampled JPEG frame decode ->
        # pooled box features — multimodal/videoembed.py owns the branch
        from ..multimodal.videoembed import video_embed_frame

        return video_embed_frame(
            docs, snap,
            id_col=id_col, payload_col=payload_col,
            load_log_dir=load_log_dir,
        )
    dim = int(params["dim"])
    scale = float(params.get("scale", WORDVEC_SCALE))
    pooling = params.get("pooling", "mean")
    version = params.get("version", "1")
    model_path = snap.path
    tables = ("vectors",) if encoder == WORDVEC_KIND else (
        "synonyms", "stopterms"
    )
    files = {t: snap.files(t) for t in tables}
    src = (
        F.col(tokens_col) if tokens_col is not None else search_tokens(text_col)
    )
    toked = docs.select(
        F.col(id_col).alias("vec_id"), src.alias("__t")
    ).filter(F.size("__t") > 0)
    id_type = dict(toked.dtypes)["vec_id"]
    cache_key = (model_path, version)

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_cache = _worker_encoder_cache()
        enc = worker_cache.get(cache_key)
        if enc is None:
            if encoder == WORDVEC_KIND:
                enc = _load_prepared_wordvec(
                    model_path, files, dim, scale, pooling
                )
            else:
                enc = _load_prepared(model_path, files, dim)
            worker_cache[cache_key] = enc
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
            for i, toks in zip(pdf["vec_id"], pdf["__t"]):
                v = enc.encode(toks)
                if v is not None:
                    ids.append(i)
                    vecs.append(v)
            # explicit dtypes so an all-filtered (empty) batch still
            # carries Arrow-convertible columns
            yield pd.DataFrame(
                {
                    "vec_id": pd.Series(ids, dtype=pdf["vec_id"].dtype),
                    "embedding": pd.Series(vecs, dtype=object),
                }
            )

    return toked.mapInPandas(
        _encode, f"vec_id {id_type}, embedding array<double>"
    )


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def embed_model_sql(
    token_pattern: str,
    dim: int = EMBEDDING_DIM,
    stop_top_n: int = ENCODER_STOP_TOP_N,
    synonyms: dict[str, str] | None = None,
    pfx: str = "em",
    table: str = "documents",
) -> str:
    """DuckDB twin CTE chain ending in ``{pfx}_out`` (vec_id,
    embedding), stage-for-stage with the synproj-v1 encoder: tokenize,
    synonym-canonicalize, recompute the trained stop list (top-N
    canonical terms by (count DESC, term ASC) — the oracle trains its
    own, the driver-collected-constants discipline), drop stopped
    terms, signed feature-hash projection ('em|'/'es|' md5 streams)."""
    syn = DEFAULT_SYNONYMS if synonyms is None else synonyms
    if syn:
        vals = ", ".join(
            f"({_sql_quote(k)}, {_sql_quote(v)})" for k, v in sorted(syn.items())
        )
        syn_cte = f"{pfx}_syn(term, canon) AS (VALUES {vals})"
    else:
        syn_cte = (
            f"{pfx}_syn(term, canon) AS "
            "(SELECT NULL, NULL WHERE 1=0)"
        )
    return f"""
        {pfx}_tok AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{token_pattern}')) AS term
            FROM {table}),
        {syn_cte},
        {pfx}_can AS (
            SELECT t.doc_id, COALESCE(s.canon, t.term) AS term
            FROM {pfx}_tok t LEFT JOIN {pfx}_syn s ON s.term = t.term),
        {pfx}_stop AS (
            SELECT term FROM (
                SELECT term, COUNT(*) AS c FROM {pfx}_can GROUP BY term)
            ORDER BY c DESC, term ASC LIMIT {stop_top_n}),
        {pfx}_kept AS (
            SELECT c.doc_id, c.term FROM {pfx}_can c
            ANTI JOIN {pfx}_stop st ON st.term = c.term),
        {pfx}_bs AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5('em|' || term), 1, 15))
                        AS BIGINT) % {dim} AS b,
                   CASE WHEN CAST(concat('0x', substr(md5('es|' || term), 1, 1))
                             AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
            FROM {pfx}_kept),
        {pfx}_pb AS (
            SELECT doc_id, b, CAST(SUM(s) AS DOUBLE) AS v
            FROM {pfx}_bs GROUP BY doc_id, b),
        {pfx}_m AS (
            SELECT doc_id, MAP(list(b ORDER BY b), list(v ORDER BY b)) AS m
            FROM {pfx}_pb GROUP BY doc_id),
        {pfx}_out AS (
            SELECT doc_id AS vec_id,
                   list_transform(range(0, {dim}),
                       bb -> CAST(COALESCE(map_extract(m, bb)[1], 0.0)
                                  AS DOUBLE)) AS embedding
            FROM {pfx}_m)"""


# --------------------------------------------------------------------------
# wordvec-v1: the float-weight encoder kind.  The artifact
# is exactly what a real user exports from word2vec/fastText — a dense
# (term, vector) table — plus the same commit marker every other
# artifact rides.  Scoring is pure lookup + mean pooling: NO synonym
# table, no stop logic at inference time (OOV terms — which include
# the builder's stopped terms, simply absent from the table — are
# skipped, standard word-vector semantics), so ANY vector table drops
# in through wordvec_model_import without code changes.
# --------------------------------------------------------------------------


def _wordvec_version(
    vectors: DataFrame, dim: int, scale: int, pooling: str = "mean"
) -> str:
    """Content-hash version for a committed vector table: an
    order-insensitive xxhash64 fold over (term, vec[, cnt]) — one
    aggregate, one collected row — so retraining from different data
    CHANGES the version (unreachable stale worker caches,
    distinguishable index pins) and an identical retrain keeps it."""
    import hashlib

    cols = "xxhash64(term, cast(vec as string))"
    if "cnt" in vectors.columns:
        cols = "xxhash64(term, cast(vec as string), cnt)"
    row = vectors.select(
        F.expr(f"bit_xor({cols})").alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    content = f"{row['h']}|{row['n']}|dim={dim}|scale={scale}|{pooling}"
    return hashlib.md5(content.encode("utf-8")).hexdigest()[:12]


def wordvec_model_build(
    train_docs: DataFrame,
    path: str,
    dim: int = EMBEDDING_DIM,
    stop_top_n: int = ENCODER_STOP_TOP_N,
    synonyms: dict[str, str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    pooling: str = "mean",
) -> None:
    """Train and persist a DETERMINISTIC stand-in word-vector table at
    ``path`` (no-op when a matching committed artifact exists).

    ``pooling``: ``"mean"`` (default) or ``"sif"`` — SIF-weighted
    pooling: the vectors table additionally stores each
    kept surface term's corpus occurrence count, and scoring weights
    every contribution by the integer-quantized SIF weight
    ``floor(SIF_SCALE * N / (N + SIF_A_DENOM * c))`` (see the module
    constants — one integer floor-division, bit-equal in any engine)
    before the single normalizing division.  SIF downweights frequent
    terms continuously, the smooth counterpart of the hard stop-list
    cut (which still applies first).

    Real word vectors place similar meanings nearby; the deterministic
    stand-in gets that property the same way synproj-v1 does — through
    the synonym table — but expressed as GEOMETRY instead of exact
    collision: every surface term's vector is its CANONICAL form's
    md5-derived base direction (weight 8) plus a per-surface-term
    md5-derived noise component (weight 1), so synonym pairs land at
    cosine ~0.99 and unrelated terms near 0.  Terms whose canonical
    form is in the trained stop list (top ``stop_top_n`` by corpus
    frequency — the SIF-style frequent-mass cut) are simply OMITTED
    from the table: at scoring time they are OOV, which is how real
    word-vector pipelines drop stopwords too.

    All vector math is JVM-side integer expression work (md5 -> conv
    -> %), one row per vocab term; the DuckDB twin
    (:func:`wordvec_model_sql`) re-derives the identical table.

    Artifact: ``{path}/vectors`` (term string, vec array<double>,
    integer-valued grid) + params marker (``encoder: wordvec-v1``,
    ``scale``, ``pooling: mean``), version = content hash.
    """
    spark = train_docs.sparkSession
    syn = DEFAULT_SYNONYMS if synonyms is None else synonyms
    params = {
        "kind": "encoder",
        "encoder": WORDVEC_KIND,
        "dim": dim,
        "scale": WORDVEC_SCALE,
        "pooling": pooling,
        "stop_top_n": stop_top_n,
        "n_synonyms": len(syn),
    }
    if pooling not in ("mean", "sif"):
        raise ValueError(f"pooling must be 'mean' or 'sif', got {pooling!r}")
    if pooling == "sif":
        params["sif_scale"] = WORDVEC_SIF_SCALE
        params["sif_a_denom"] = WORDVEC_SIF_A_DENOM
    snap = artifact_open(spark, path)
    if artifact_check(snap, params):
        return
    src = (
        F.col(tokens_col) if tokens_col is not None else search_tokens(text_col)
    )
    terms = train_docs.select(F.explode(src).alias("term"))
    canon_all = terms.select(_canon_col(syn, "term").alias("canon"))
    stop = (
        canon_all.groupBy("canon")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), F.col("canon").asc())
        .limit(int(stop_top_n))
        .select("canon")
    )
    vocab = (
        terms.select("term")
        .distinct()
        .withColumn("canon", _canon_col(syn, "term"))
        .join(F.broadcast(stop), "canon", "left_anti")
    )

    def md5_int(prefix: str, term_col: str, i):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(prefix), F.col(term_col), F.lit("|"),
                        i.cast("string"),
                    )
                ),
                1, 15,
            ),
            16, 10,
        ).cast("long")

    vec = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(dim - 1).cast("long")),
        lambda i: (
            (md5_int("wv|", "canon", i) % 15 - 7) * 8
            + (md5_int("wn|", "term", i) % 3 - 1)
        ).cast("double"),
    )
    vectors = vocab.select("term", vec.alias("vec"))
    if pooling == "sif":
        freq = (
            terms.groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        vectors = vectors.join(freq, "term")
    from ..checkpoint import materialize

    # the vector table feeds the content-version agg AND the staged
    # write — truncate the md5 lattice lineage once
    vectors = materialize(vectors)
    version = _wordvec_version(vectors, dim, WORDVEC_SCALE, pooling)
    artifact_overwrite(
        spark, path, {"vectors": vectors}, {**params, "version": version},
        snap,
    )


def validate_projection_matrix(
    weights_df: DataFrame, inner: int, max_dim: int, label: str
):
    """Shared bring-your-own-weights validation for linear-projection
    encoder imports (the image and audio imports share it):
    ``weights_df`` must be ``(row long, vec array<double>)`` — a D x
    ``inner`` matrix with consistent inner dim, no NULL components,
    dense 0..D-1 row ids,
    and D in 1..``max_dim``.  A torn export must fail the IMPORT, not
    the first worker batch.  Returns (rows_df, collected_rows, D)."""
    rows = weights_df.select(
        F.col("row").cast("long").alias("row"),
        F.col("vec").cast("array<double>").alias("vec"),
    )
    dims = [
        r["d"]
        for r in rows.select(F.size("vec").alias("d")).distinct().collect()
    ]
    if not dims:
        raise ValueError(f"{label} projection is empty (0 rows)")
    if len(dims) != 1 or int(dims[0]) != inner:
        raise ValueError(
            f"{label} projection needs consistent inner dim {inner}; "
            f"got sizes {sorted(dims)}"
        )
    n_null = rows.filter(~F.forall("vec", lambda x: x.isNotNull())).count()
    if n_null:
        raise ValueError(
            f"{label} projection has {n_null} rows with NULL components"
        )
    n = rows.count()
    if n == 0 or n > max_dim:
        raise ValueError(
            f"{label} projection needs 1..{max_dim} rows, got {n}"
        )
    collected = rows.orderBy("row").collect()
    ids = [r["row"] for r in collected]
    if ids != list(range(n)):
        raise ValueError(
            f"{label} projection row ids must be dense 0..{n - 1}; got "
            f"{ids[:5]}..."
        )
    return rows, collected, n


def load_projection_matrix(
    model_path: str, names: list[str], dim: int, inner: int
):
    """Worker-side load of an imported projection's weight matrix from
    the committed ``weights`` files ``names`` of the driver's snapshot;
    refuses a torn/partial weights table rather than serving
    uninitialized rows."""
    import numpy as np

    pdf = _worker_table(model_path, "weights", names).sort_values("row")
    mat = np.zeros((dim, inner), dtype=np.float64)
    seen = set()
    for j, v in zip(pdf["row"], pdf["vec"]):
        mat[int(j), :] = v
        seen.add(int(j))
    if len(seen) != dim:
        raise ValueError(
            f"projected encoder at {model_path} covers "
            f"{len(seen)}/{dim} rows — torn artifact"
        )
    return mat


def wordvec_model_import(
    vectors: DataFrame,
    path: str,
    scale: int = WORDVEC_SCALE,
    term_col: str = "term",
    vec_col: str = "vec",
) -> None:
    """Import a REAL float word-vector table (parsed word2vec/fastText
    export: one row per term, ``array<double>`` vector) as a committed
    wordvec-v1 artifact — the bring-your-own-weights path that makes
    the seam demonstrably encoder-agnostic.

    Components are quantized onto the ``1/scale`` grid
    (``floor(v * scale)``, stored as integer-valued doubles): the
    repo's fixed-point discipline, so downstream pooling sums are
    order-independent and oracle-able.  At the default scale the grid
    error is <0.1% per component — noise relative to any cosine
    threshold.  Rows with a NULL term or vector are rejected; ragged
    dims raise (a vector table with mixed dims is corrupt).
    """
    spark = vectors.sparkSession
    clean = vectors.select(
        F.col(term_col).cast("string").alias("term"),
        F.col(vec_col).alias("__v"),
    ).filter(F.col("term").isNotNull() & F.col("__v").isNotNull())
    dims = [
        r["d"]
        for r in clean.select(F.size("__v").alias("d")).distinct().collect()
    ]
    if len(dims) != 1:
        raise ValueError(
            f"wordvec import needs one consistent vector dim, got {sorted(dims)}"
        )
    dim = int(dims[0])
    quant = F.transform(
        "__v",
        lambda x: F.floor(x * F.lit(float(scale))).cast("double"),
    )
    from ..checkpoint import materialize

    out = materialize(clean.select("term", quant.alias("vec")))
    version = _wordvec_version(out, dim, scale)
    artifact_overwrite(
        spark,
        path,
        {"vectors": out},
        {
            "kind": "encoder",
            "encoder": WORDVEC_KIND,
            "dim": dim,
            "scale": scale,
            "pooling": "mean",
            "source": "import",
            "version": version,
        },
        artifact_open(spark, path),
    )


def _read_first_line(path: str) -> str:
    """First line of a text file via pyarrow fs (works for local and
    scheme'd paths), bounded to 1 MiB — a .vec header or first data
    row is a few KB at most."""
    import pyarrow.fs as pafs

    if "://" in path:
        fs, root = pafs.FileSystem.from_uri(path)
    else:
        fs, root = pafs.LocalFileSystem(), path
    with fs.open_input_stream(root) as f:
        buf = f.read(1 << 20)
    return buf.split(b"\n", 1)[0].decode("utf-8", "replace")


def wordvec_read_vec_text(
    spark, vec_path: str
) -> tuple[DataFrame, DataFrame, dict]:
    """Parse a standard word2vec/fastText TEXT export (the first metre
    of bring-your-own-weights: the file a user actually has is
    ``model.vec``, not parquet).

    Format: optional header line ``"<n_terms> <dim>"``, then one row
    per term: ``term v1 v2 ... vdim`` (whitespace-separated).  GloVe
    exports are the same rows without the header — both are accepted
    (dim is inferred from the first line's arity when it is not a
    two-integer header).

    Returns ``(vectors, quarantine, info)``: ``vectors`` is
    (term string, vec array<double>) ready for
    :func:`wordvec_model_import`; ``quarantine`` holds every malformed
    line VERBATIM (wrong arity, unparseable component, empty term) —
    malformed rows are never silently dropped; ``info`` carries
    ``dim``, ``has_header`` and the header's ``declared_terms`` (None
    without a header) so callers can cross-check for truncation.

    Scale shape: the parse is one distributed ``spark.read.text`` scan
    + JVM split/cast expressions — no driver loop, no Python UDF; only
    the first line is read driver-side (bounded) to fix ``dim``.
    """
    first = _read_first_line(vec_path)
    head_fields = first.split()
    declared: int | None = None
    has_header = False
    if len(head_fields) == 2:
        try:
            declared, dim = int(head_fields[0]), int(head_fields[1])
            has_header = True
        except ValueError:
            declared = None
    if not has_header:
        dim = len(head_fields) - 1
    if dim < 1:
        raise ValueError(
            f"cannot infer a vector dim from the first line of "
            f"{vec_path}: {first[:80]!r}"
        )
    lines = spark.read.text(vec_path)
    # blank lines (a trailing newline is a format artifact, not data)
    # and the exact header line are structural, not malformed
    lines = lines.filter(~F.col("value").rlike(r"^\s*$"))
    if has_header:
        lines = lines.filter(F.col("value") != F.lit(first))
    fields = F.split(F.trim("value"), r"\s+")
    parsed = lines.select(
        "value",
        F.element_at(fields, 1).alias("term"),
        F.transform(
            # try_cast, not cast: ANSI mode makes a plain cast THROW on
            # the malformed component we are trying to quarantine
            F.slice(fields, 2, dim), lambda s: s.try_cast("double")
        ).alias("vec"),
        F.size(fields).alias("__n"),
    )
    is_good = (
        (F.col("__n") == dim + 1)
        & (F.col("term") != "")
        & ~F.exists("vec", lambda x: x.isNull())
    )
    good = parsed.filter(is_good).select("term", "vec")
    quarantine = parsed.filter(~is_good).select("value")
    return good, quarantine, {
        "dim": dim, "has_header": has_header, "declared_terms": declared,
    }


def wordvec_import_vec_file(
    spark,
    vec_path: str,
    model_dir: str,
    scale: int = WORDVEC_SCALE,
    quarantine_dir: str | None = None,
) -> dict:
    """One-call bring-your-own-weights: parse a ``.vec``/GloVe text
    export (:func:`wordvec_read_vec_text`) and commit it as a servable
    wordvec-v1 artifact (:func:`wordvec_model_import`).  Malformed
    lines land verbatim under ``quarantine_dir`` (default
    ``{model_dir}/vec_quarantine`` — written BEFORE the params marker,
    so it rides inside the artifact's commit discipline).  Returns
    stats: imported/quarantined counts, dim, and the header's declared
    term count for truncation cross-checks."""
    good, quarantine, info = wordvec_read_vec_text(spark, vec_path)
    qdir = quarantine_dir or f"{model_dir}/vec_quarantine"
    # the malformed set feeds a count and a write: bounded by
    # construction? No — quarantine verbosity is data-dependent; the
    # write is the record, the count comes from the written store.
    quarantine.write.mode("overwrite").parquet(qdir)
    n_bad = spark.read.parquet(qdir).count()
    n_good = good.count()
    if n_good == 0:
        raise ValueError(
            f"no valid vector rows in {vec_path} "
            f"({n_bad} malformed lines quarantined at {qdir})"
        )
    wordvec_model_import(good, model_dir, scale=scale)
    return {
        "imported": n_good,
        "quarantined": n_bad,
        "quarantine_dir": qdir,
        **info,
    }


class _PreparedWordvec:
    """Worker-side prepared state for a wordvec-v1 artifact: the dense
    (term -> grid row) table as a numpy matrix + index dict.  Encoding
    is lookup + exact integer-valued accumulation + ONE division —
    bit-equal to the DuckDB twin's SUM/divide in any token order.

    ``weights`` (SIF pooling) is the per-term integer SIF weight row
    aligned with ``mat``; None = mean pooling.  SIF accumulation is
    weight * grid — still integer-valued doubles, still exact."""

    __slots__ = ("idx", "mat", "dim", "scale", "weights")

    def __init__(self, terms, mat, dim: int, scale: float, weights=None):
        self.idx = {t: j for j, t in enumerate(terms)}
        self.mat = mat
        self.dim = dim
        self.scale = scale
        self.weights = weights

    def encode(self, tokens) -> list[float] | None:
        acc = None
        idx, mat, w = self.idx, self.mat, self.weights
        denom = 0
        for t in tokens:
            j = idx.get(t)
            if j is None:
                continue  # OOV (includes builder-stopped terms): skip
            if w is None:
                row = mat[j]
                denom += 1
            else:
                wq = int(w[j])
                row = mat[j] * wq
                denom += wq
            acc = row if acc is None else acc + row
        if denom == 0:
            return None
        return (acc / (self.scale * float(denom))).tolist()


def _load_prepared_wordvec(
    model_path: str,
    files: dict[str, list[str]],
    dim: int,
    scale: float,
    pooling: str = "mean",
) -> _PreparedWordvec:
    """Load the committed vector table (``files``: the driver
    snapshot's table -> names) into a numpy matrix — one contiguous
    float64 block, ~dim*8 bytes per term, the memory shape a
    10^6-term vocabulary needs (vs a dict of python lists at ~10x)."""
    import numpy as np

    pdf = _worker_table(model_path, "vectors", files["vectors"])
    mat = np.empty((len(pdf), dim), dtype=np.float64)
    for j, v in enumerate(pdf["vec"]):
        mat[j, :] = v
    weights = None
    if pooling == "sif":
        if "cnt" not in pdf.columns:
            raise ValueError(
                f"wordvec artifact at {model_path} has pooling=sif but "
                "no cnt column — torn or hand-edited artifact"
            )
        cnt = pdf["cnt"].to_numpy(dtype=np.int64)
        n_total = int(cnt.sum())
        # floor(S*N / (N + A*c)): one int64 floor-division per term —
        # exact, and never zero (see the module constants)
        weights = (WORDVEC_SIF_SCALE * n_total) // (
            n_total + WORDVEC_SIF_A_DENOM * cnt
        )
    return _PreparedWordvec(
        list(pdf["term"]), mat, dim, float(scale), weights
    )


def wordvec_model_sql(
    token_pattern: str,
    dim: int = EMBEDDING_DIM,
    scale: int = WORDVEC_SCALE,
    stop_top_n: int = ENCODER_STOP_TOP_N,
    synonyms: dict[str, str] | None = None,
    pfx: str = "wv",
    table: str = "documents",
    pooling: str = "mean",
) -> str:
    """DuckDB twin CTE chain ending in ``{pfx}_out`` (vec_id,
    embedding), stage-for-stage with wordvec_model_build + inference:
    tokenize, re-derive the trained vector table (stop list, canonical
    base + surface noise grid), then per document sum the looked-up
    grid rows (counts folded in as exact integer products) and divide
    once.  ``pooling="mean"`` divides by ``scale * n_found``;
    ``pooling="sif"`` weights every contribution by the integer SIF
    weight floor(S*N/(N + A*c)) and divides by ``scale * sum(w)`` —
    every weight is one BIGINT floor-division, so the whole SIF path
    stays bit-exact cross-engine."""
    if pooling not in ("mean", "sif"):
        raise ValueError(f"pooling must be 'mean' or 'sif', got {pooling!r}")
    syn = DEFAULT_SYNONYMS if synonyms is None else synonyms
    if syn:
        vals = ", ".join(
            f"({_sql_quote(k)}, {_sql_quote(v)})" for k, v in sorted(syn.items())
        )
        syn_cte = f"{pfx}_syn(term, canon) AS (VALUES {vals})"
    else:
        syn_cte = f"{pfx}_syn(term, canon) AS (SELECT NULL, NULL WHERE 1=0)"
    return f"""
        {pfx}_tok AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{token_pattern}')) AS term
            FROM {table}),
        {syn_cte},
        {pfx}_stop AS (
            SELECT canon FROM (
                SELECT COALESCE(s.canon, t.term) AS canon, COUNT(*) AS c
                FROM {pfx}_tok t LEFT JOIN {pfx}_syn s ON s.term = t.term
                GROUP BY 1)
            ORDER BY c DESC, canon ASC LIMIT {stop_top_n}),
        {pfx}_vocab AS (
            SELECT v.term, COALESCE(s.canon, v.term) AS canon
            FROM (SELECT DISTINCT term FROM {pfx}_tok) v
            LEFT JOIN {pfx}_syn s ON s.term = v.term),
        {pfx}_kept AS (
            SELECT k.term, k.canon FROM {pfx}_vocab k
            ANTI JOIN {pfx}_stop st ON st.canon = k.canon),
        {pfx}_vec AS (
            SELECT k.term, r.i,
                   (CAST(concat('0x', substr(md5('wv|' || k.canon || '|'
                        || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT)
                        % 15 - 7) * 8
                   + (CAST(concat('0x', substr(md5('wn|' || k.term || '|'
                        || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT)
                        % 3 - 1) AS g
            FROM {pfx}_kept k CROSS JOIN range(0, {dim}) r(i)),
        {pfx}_cnt AS (
            SELECT doc_id, term, COUNT(*) AS c
            FROM {pfx}_tok GROUP BY doc_id, term),""" + (
        f"""
        {pfx}_n AS (
            SELECT c.doc_id, SUM(c.c) AS n
            FROM {pfx}_cnt c SEMI JOIN {pfx}_kept k ON k.term = c.term
            GROUP BY c.doc_id),
        {pfx}_sum AS (
            SELECT c.doc_id, v.i, CAST(SUM(c.c * v.g) AS DOUBLE) AS sg
            FROM {pfx}_cnt c JOIN {pfx}_vec v ON v.term = c.term
            GROUP BY c.doc_id, v.i),
        {pfx}_out AS (
            SELECT s.doc_id AS vec_id,
                   list(s.sg / (CAST({scale} AS DOUBLE) * n.n) ORDER BY s.i)
                       AS embedding
            FROM {pfx}_sum s JOIN {pfx}_n n ON n.doc_id = s.doc_id
            GROUP BY s.doc_id)"""
        if pooling == "mean"
        else f"""
        {pfx}_freq AS (
            SELECT t.term, COUNT(*) AS fc
            FROM {pfx}_tok t SEMI JOIN {pfx}_kept k ON k.term = t.term
            GROUP BY t.term),
        {pfx}_tot AS (SELECT SUM(fc) AS nn FROM {pfx}_freq),
        {pfx}_w AS (
            SELECT f.term,
                   ({WORDVEC_SIF_SCALE} * t.nn)
                       // (t.nn + {WORDVEC_SIF_A_DENOM} * f.fc) AS w
            FROM {pfx}_freq f CROSS JOIN {pfx}_tot t),
        {pfx}_n AS (
            SELECT c.doc_id, SUM(c.c * w.w) AS n
            FROM {pfx}_cnt c JOIN {pfx}_w w ON w.term = c.term
            GROUP BY c.doc_id),
        {pfx}_sum AS (
            SELECT c.doc_id, v.i,
                   CAST(SUM(c.c * w.w * v.g) AS DOUBLE) AS sg
            FROM {pfx}_cnt c
            JOIN {pfx}_w w ON w.term = c.term
            JOIN {pfx}_vec v ON v.term = c.term
            GROUP BY c.doc_id, v.i),
        {pfx}_out AS (
            SELECT s.doc_id AS vec_id,
                   list(s.sg / (CAST({scale} AS DOUBLE) * n.n) ORDER BY s.i)
                       AS embedding
            FROM {pfx}_sum s JOIN {pfx}_n n ON n.doc_id = s.doc_id
            GROUP BY s.doc_id)"""
    )
