"""Similarity search over embedding columns (array<float>).

Float-parity design: the cosine is built as an EXPLICIT left-associated
sum of 64 per-dimension products over double-cast arrays, generated
once in Python and rendered both as a Spark Column tree and as DuckDB
SQL — the identical IEEE operation order makes scores bit-equal across
engines (library dot-products like DuckDB's list_dot_product accumulate
in a different order and are NOT portable).

Scale design (100 TB):
- brute force is two-stage: per-partition local top-k (the window key
  includes spark_partition_id so no single reducer sees all candidates)
  then a final top-k over <= k * n_partitions survivors — the classic
  distributed TopK, no skewed single-key shuffle.
- the LSH variant buckets vectors by the sign pattern of dot products
  with deterministic pseudo-random hyperplanes (constants derived from
  md5 in plain Python, inlined into both engines), so candidate sets
  shrink by ~2^planes and only same-bucket pairs are scored.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..checkpoint import materialize
from ..functions.scalars import dsum
from .artifact_manifest import (
    ArtifactSnapshot,
    artifact_append,
    artifact_check,
    artifact_open,
    artifact_overwrite,
)

EMBEDDING_DIM = 64
LSH_PLANES = 6


def _d(col: str) -> Column:
    return F.col(col).cast("array<double>")


def dot_expr(col_a: str, col_b: str, dim: int = EMBEDDING_DIM) -> Column:
    """Left-assoc dot product as an array fold.

    ``aggregate(zip_with(a, b, *), 0.0, +)`` adds terms in index order
    starting from +0.0 — bit-identical to the oracle's explicit
    ``t1 + t2 + ...`` chain because ``0.0 + x == x`` in IEEE for every
    x (only -0.0 maps to +0.0, which cannot change a later sum). The
    fold form keeps whole-stage codegen small (a loop, not dim
    unrolled expression nodes — the unrolled form spent seconds in
    Janino at dim=64).
    """
    return F.aggregate(
        F.zip_with(_d(col_a), _d(col_b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_sql(col_a: str, col_b: str, dim: int = EMBEDDING_DIM) -> str:
    """DuckDB twin of ``dot_expr`` — same association order."""
    terms = [f"CAST({col_a}[{i}] AS DOUBLE) * CAST({col_b}[{i}] AS DOUBLE)"
             for i in range(1, dim + 1)]
    return "(" + " + ".join(terms) + ")"


def norm_expr(col: str, dim: int = EMBEDDING_DIM) -> Column:
    return F.sqrt(dot_expr(col, col, dim))


def norm_sql(col: str, dim: int = EMBEDDING_DIM) -> str:
    terms = [f"CAST({col}[{i}] AS DOUBLE) * CAST({col}[{i}] AS DOUBLE)"
             for i in range(1, dim + 1)]
    return "sqrt(" + " + ".join(terms) + ")"


def cosine_expr(col_a: str, col_b: str, dim: int = EMBEDDING_DIM) -> Column:
    return dot_expr(col_a, col_b, dim) / (norm_expr(col_a, dim) * norm_expr(col_b, dim))


def cosine_sql(col_a: str, col_b: str, dim: int = EMBEDDING_DIM) -> str:
    return f"{dot_sql(col_a, col_b, dim)} / ({norm_sql(col_a, dim)} * {norm_sql(col_b, dim)})"


def hyperplanes(planes: int = LSH_PLANES, dim: int = EMBEDDING_DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim.

    Component (p, i) comes from the first 6 hex digits of
    md5(f"{p}|{i}") — reproducible in any engine/language, no RNG
    state to ship.
    """
    out = []
    for p in range(planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{p}|{i}".encode()).hexdigest()[:6]
            row.append(round(int(h, 16) / 0xFFFFFF * 2.0 - 1.0, 6))
        out.append(row)
    return out


def bucket_expr(col: str, planes: list[list[float]]) -> Column:
    """LSH bucket id: bit p set iff dot(vec, plane_p) > 0."""
    total = None
    for p, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(_d(col), F.lit(plane), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        term = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
        total = term if total is None else (total + term)
    return total


def bucket_sql(col: str, planes: list[list[float]]) -> str:
    parts = []
    for p, plane in enumerate(planes):
        terms = " + ".join(
            f"CAST({col}[{i + 1}] AS DOUBLE) * CAST({w!r} AS DOUBLE)"
            for i, w in enumerate(plane)
        )
        parts.append(
            f"CASE WHEN ({terms}) > CAST(0.0 AS DOUBLE) THEN {1 << p} ELSE 0 END"
        )
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


def ann_topk_brute(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query, two-stage distributed.

    ``queries`` (small) is broadcast against every candidate; stage 1
    keeps k survivors per (query, input partition), stage 2 ranks the
    survivors. Output: (query_id, neighbor_id, cosine).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr("__qvec", "__cvec"))
        .withColumn("__pid", F.spark_partition_id())
    )
    local = Window.partitionBy("query_id", "__pid").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    survivors = (
        scored.withColumn("__lrn", F.row_number().over(local))
        .filter(F.col("__lrn") <= k)
    )
    final = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


#: symmetric int8 quantization levels (the FAISS SQ8 convention):
#: q_i = floor(v_i * 127 / max|v|) — per-vector scale, so the scale
#: cancels inside cosine and never needs to ride along for ranking.
QUANT_LEVELS = 127.0


def quantize_embedding(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, embedding) with each component floor-quantized to the
    symmetric int8 grid — the 100 TB ANN memory cut (a scalar-quantized
    index stores 1 byte/component instead of 8: at 64-dim x 10^10
    vectors that is 640 GB of index instead of 5 TB, the difference
    between in-memory cells and disk-bound probes).  Components stay
    integer-VALUED doubles here so every existing consumer (cosine
    tree, banding, IVF) composes unchanged and sums stay exact — a
    storage layer would cast to tinyint + keep the per-vector scale
    column; ranking never needs the scale (it cancels in cosine).

    floor (not round) for cross-engine bit-parity: round-half rules
    differ between engines, floor does not.  The max|v| scale is
    STAGED in its own column before the transform ([[spark-lambda-
    binding]]: a lambda over an inline array_max would recompute the
    max per element).  All-zero vectors quantize to all-zero.
    """
    mx = F.array_max(F.transform(_d(vec_col), lambda x: F.abs(x)))
    staged = vectors.select(
        F.col(id_col), _d(vec_col).alias("__v"), mx.alias("__mx")
    )
    quant = F.when(F.col("__mx") == 0.0, F.col("__v")).otherwise(
        F.transform(
            F.col("__v"),
            lambda x: F.floor(x * F.lit(QUANT_LEVELS) / F.col("__mx"))
            .cast("double"),
        )
    )
    return staged.select(F.col(id_col), quant.alias(vec_col))


def quantize_sql(pfx: str = "qz", table: str = "embeddings") -> str:
    """DuckDB twin CTE chain ending in ``{pfx}_out`` (vec_id,
    embedding) — stage-for-stage with :func:`quantize_embedding`
    (staged max, floor grid, zero-vector passthrough)."""
    return f"""
        {pfx}_mx AS (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(x))) AS mx
            FROM {table}),
        {pfx}_out AS (
            SELECT vec_id,
                   CASE WHEN mx = 0.0 THEN embedding
                        ELSE list_transform(embedding,
                            x -> CAST(floor(x * CAST({QUANT_LEVELS} AS DOUBLE)
                                            / mx)
                                      AS DOUBLE)) END AS embedding
            FROM {pfx}_mx)"""


def quantize_to_storage(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, qvec array<tinyint>, scale double): the 1-byte/component
    STORAGE layout for persisted ANN artifacts — the same
    symmetric floor grid as :func:`quantize_embedding`, actually cast
    to tinyint, plus the per-vector scale (max|v| / 127) a reader
    would need to RECONSTRUCT approximate float components
    (v_i ~ q_i * scale).  Probing never reads ``scale``: cosine is
    scale-invariant, so ranking runs directly on the integer grid
    (``ann_topk_brute_int8`` proves the recall).  All-zero vectors
    store all-zero with scale 0.0."""
    mx = F.array_max(F.transform(_d(vec_col), lambda x: F.abs(x)))
    staged = vectors.select(
        F.col(id_col), _d(vec_col).alias("__v"), mx.alias("__mx")
    )
    qvec = F.when(
        F.col("__mx") == 0.0,
        F.transform(F.col("__v"), lambda x: x.cast("tinyint")),
    ).otherwise(
        F.transform(
            F.col("__v"),
            lambda x: F.floor(x * F.lit(QUANT_LEVELS) / F.col("__mx"))
            .cast("tinyint"),
        )
    )
    return staged.select(
        F.col(id_col),
        qvec.alias("qvec"),
        (F.col("__mx") / F.lit(QUANT_LEVELS)).alias("scale"),
    )


def stored_vectors_as_double(
    stored: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, {vec_col} array<double>) from the quantized storage layout
    — a pure elementwise cast (values stay on the integer grid, NO
    scale multiply: the scale cancels in cosine, and keeping integer-
    valued doubles keeps every downstream sum exact and oracle-able).
    """
    return stored.select(
        F.col(id_col),
        F.transform("qvec", lambda x: x.cast("double")).alias(vec_col),
    )


def ann_topk_brute_int8(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k over the int8-QUANTIZED vectors — the scalar-
    quantization ANN arm: both sides quantize to the symmetric grid,
    then the same two-stage distributed top-k runs on the integer-
    valued vectors (cosine of quantized vectors; the per-vector scale
    cancels).  Measured recall@5 vs full precision: 50/50 (sf0.01),
    49/50 (sf0.1) — the 8x memory cut is essentially free on this
    embedding distribution (BASELINE.md)."""
    return ann_topk_brute(
        quantize_embedding(vectors, id_col, vec_col),
        quantize_embedding(queries, id_col, vec_col),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
    )


#: multi-table ANN LSH layout: single-bucket LSH
#: on near-isotropic embeddings has recall ~0 (measured 0.03 at
#: sf0.01) — the standard fix is L independent tables whose candidate
#: union is scored exactly. 32 tables x 6 planes measure recall@3
#: 0.80-0.83 vs brute force on the driver testdata while examining
#: ~40% of the corpus per query (candidates ~ L * n / 2^P, the
#: tunable scale knob; a clustered real-world corpus needs far fewer
#: tables for the same recall).
ANN_LSH_TABLES = 32
ANN_LSH_PLANES_PER_TABLE = 6

#: Session-scoped LSH table cache — same rationale as
#: ``_IVF_INDEX_CACHE``: the (id, table, bucket) index is a pure
#: deterministic function of the corpus, built once and queried many
#: times in production.
_LSH_INDEX_CACHE: dict[tuple, DataFrame] = {}


def ann_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = ANN_LSH_TABLES,
    planes_per_table: int = ANN_LSH_PLANES_PER_TABLE,
    index_cache_key: str | None = None,
    index_path: str | None = None,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE sign-LSH: a candidate is any
    vector sharing the query's sign-pattern bucket in >= 1 of
    ``tables`` independent hyperplane tables; candidates are then
    scored with the exact cosine and ranked.  Output: (query_id,
    neighbor_id, cosine, rank).

    Scale shape: the only wide representation is the (id, table,
    bucket) stream — same banded layout as ``embedding_dup_pairs_lsh``
    and minhash LSH; the candidate set is deduped BEFORE the exact
    cosine, so each (query, candidate) is scored once however many
    tables agree.  Recall is pinned against brute force by
    tests/test_extensions.py.  Candidates always verify against the
    caller's ``vectors``; a persisted ``index_path`` artifact stores
    bucket rows only.
    """
    # the bucket stream feeds the query-bucket lookup and the
    # candidate side; materialize so the tables x planes dot products
    # run once (same finding as embedding_dup_pairs_lsh).  With an
    # index_cache_key the materialized stream is further reused across
    # calls in this session (built-once/query-many; results identical
    # either way — the stream is a deterministic function of the data).
    # index_path instead loads/creates the cross-session DISK artifact
    # (lsh_index_persistent) — the production index form.
    if index_path is not None:
        wb = lsh_index_persistent(
            vectors, index_path, tables, planes_per_table, id_col, vec_col,
            dim=dim,
        )
    else:
        ck = None
        if index_cache_key is not None:
            ck = (
                vectors.sparkSession.sparkContext.applicationId,
                index_cache_key, tables, planes_per_table, id_col, vec_col,
                dim,
            )
        wb = _LSH_INDEX_CACHE.get(ck) if ck is not None else None
        if wb is None:
            wb = materialize(
                banded_bucket_rows(vectors, id_col, vec_col, tables, planes_per_table, dim)
            )
            if ck is not None:
                _LSH_INDEX_CACHE[ck] = wb
    # ``queries`` is read ONCE: its vectors ride along with the query
    # buckets into the candidate rows (the ann_topk_ivf shape) — two
    # reads of a non-deterministic query frame (an unordered limit, a
    # sample) would pick different queries for the bucket lookup and
    # the scoring, and the probe would return nothing
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    qb = wb.join(
        F.broadcast(qv), F.col(id_col) == F.col("query_id")
    ).select("query_id", "__qvec", "band", "bucket")
    c, q = wb.alias("c"), qb.alias("q")
    cand = (
        c.join(
            F.broadcast(q),
            (F.col("c.band") == F.col("q.band"))
            & (F.col("c.bucket") == F.col("q.bucket"))
            & (F.col(f"c.{id_col}") != F.col("q.query_id")),
        )
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col(f"c.{id_col}").alias("neighbor_id"),
            F.col("q.__qvec").alias("__qvec"),
        )
        # one vector per query id, so this is the (query, neighbor)
        # dedup: each pair is scored once however many tables agree
        .distinct()
    )
    cv = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    scored = cand.join(cv, "neighbor_id").withColumn(
        "cosine", cosine_expr("__qvec", "__cvec")
    )
    final = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_centroids(
    vectors: DataFrame,
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell centroids: (cell, cvec array<double>).

    Per-dimension mean via posexplode + decimal-routed sum/count —
    order-independent, so the centroid is bit-identical to the oracle's
    regardless of partitioning (the parity requirement extends to the
    trained structure, not just the query results).
    """
    per_dim = (
        vectors.select(
            F.col(cell_col).alias("cell"),
            F.posexplode(_d(vec_col)).alias("pos", "v"),
        )
        .groupBy("cell", "pos")
        .agg((dsum("v") / F.count(F.lit(1))).alias("c"))
    )
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
        ).alias("cvec")
    )


#: IVF quantizer layout: the testdata's `label`
#: column is geometrically meaningless (8% of a query's exact top-5
#: share its label — measured), so label-cell IVF had recall ~0.1.
#: The quantizer is now a real deterministic k-means over the vectors
#: themselves: seeds = the k smallest vec_ids, IVF_ITERS Lloyd
#: rounds with cosine assignment (ties -> lowest cell), decimal-routed
#: per-dimension means so the trained centroids are bit-identical to
#: the oracle's.  k=10 cells / 3 iterations / 3 probes measure
#: recall@3 of 0.90-1.00 vs brute force while scanning ~30% of the
#: corpus (n_probe/k of the inverted lists — the tunable scale knob).
IVF_CELLS = 10
IVF_ITERS = 3
IVF_PROBES = 3


def _cos_cell(vec_col: str) -> Column:
    """Cosine between ``vec_col`` and the centroid ``cvec`` from their
    norms, precomputed per row as ``__vnorm`` and ``__cnorm`` before the
    rows are paired: a (vector, cell) pair pays the dot-product fold
    alone.  Same doubles in the same order as ``cosine_expr`` /
    ``cosine_sql``."""
    return dot_expr(vec_col, "cvec") / (F.col("__vnorm") * F.col("__cnorm"))


def _assign_cells(
    vectors: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, cell): nearest centroid by cosine, ties -> lowest cell.

    Each vector's double cast and norm are computed once, before the
    cross join, and each centroid's norm once, on the broadcast side;
    every (vector, cell) pair is scored by :func:`_cos_cell`.  The
    argmax is a map-side-combinable groupBy max over a (cosine, -cell)
    struct — not a window — so a dominant partition never
    single-task-sorts the full crossJoin output.
    """
    scored = (
        vectors.select(F.col(id_col), _d(vec_col).alias(vec_col))
        .withColumn("__vnorm", norm_expr(vec_col))
        .crossJoin(F.broadcast(cents.withColumn("__cnorm", norm_expr("cvec"))))
        .withColumn("__cos", _cos_cell(vec_col))
    )
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("__cos").alias("c"), (-F.col("cell")).alias("negc")
            )
        ).alias("__best")
    )
    return best.select(F.col(id_col), (-F.col("__best.negc")).alias("cell"))


#: Session-scoped IVF index cache: (appId, cache_key, k, iters) ->
#: (assignments, centroids), both lineage-truncated.  Training is
#: deterministic, so caching is pure amortization — identical results,
#: zero re-training — the same pattern as the bucketed-layout catalog
#: guard: at scale the index is built once and queried many times.
_IVF_INDEX_CACHE: dict[tuple, tuple[DataFrame, DataFrame]] = {}


def ivf_suggest_cells(n_vectors: int) -> int:
    """The standard IVF sizing rule: k ~ sqrt(N) balances the two
    per-query costs — probing k centroids vs scanning n_probe * N/k
    inverted-list rows — so both grow as sqrt(N).  At 10^10 vectors
    that is k ~ 10^5 cells (trained on a sample, never the full
    corpus: see ``ivf_kmeans(train_sample_cap=...)``); the gate's
    k=10 over 10^3 test vectors follows the same rule."""
    import math

    return max(1, int(math.isqrt(max(1, int(n_vectors)))))


#: deterministic training-sample hash stream (md5 integer threshold —
#: the repo's engine-portable sampling discipline, sampling.py): a
#: vector is in the training sample iff its id's md5 bucket (of
#: 1e6) falls under cap/N.
_IVF_SAMPLE_MOD = 1_000_000


def _ivf_sample_pred(id_col: str, thresh: int) -> Column:
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ivfs|"), F.col(id_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long") % _IVF_SAMPLE_MOD
    return bucket < F.lit(int(thresh))


def ivf_kmeans(
    vectors: DataFrame,
    k: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: str | None = None,
    train_sample_cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic k-means for the IVF coarse quantizer.

    Seeds are the ``k`` smallest ids (TakeOrdered — no global sort);
    each Lloyd round reassigns by cosine (:func:`_assign_cells`) and
    recomputes decimal-routed per-dimension means
    (``ivf_centroids``); a cell that loses all members keeps its
    previous centroid.  Every step is engine-portable float math in a
    fixed order, so the DuckDB twin (``ivf_kmeans_sql_ctes``)
    reproduces assignments and centroids bit-for-bit.

    The build reads ``vectors`` once: its (id, vector) projection is
    materialized (:func:`_ivf_build_input`) and the seeds, every Lloyd
    round and the final assignment all read that copy, so an embedding
    lineage such as ``hash_embed(docs)`` runs once per build, not once
    per consumer.

    Returns (assignments (id, cell), centroids (cell, cvec)).

    ``cache_key``: when given (callers pass a stable identity for
    ``vectors``, e.g. the sf dir), the trained index is cached for the
    Spark application's lifetime and reused on repeat calls — the
    caller must guarantee the key uniquely names the input data.

    ``train_sample_cap``: Lloyd rounds run over a DETERMINISTIC hash
    sample of ~cap vectors (md5 integer threshold on the id — stable
    across partitionings and sessions) instead of the full corpus; the
    FINAL assignment still covers every vector.  This is the FAISS
    train-on-sample discipline: k-means quality needs a bounded
    multiple of k*dim training points, not the corpus — at 10^10
    vectors, full-corpus Lloyd rounds are k full scans per iteration
    for no recall gain.  Size ``k`` itself by :func:`ivf_suggest_cells`.
    None (the default) trains on everything.
    """
    if cache_key is not None:
        full_key = (
            vectors.sparkSession.sparkContext.applicationId,
            cache_key, k, iters, id_col, vec_col, train_sample_cap,
        )
        hit = _IVF_INDEX_CACHE.get(full_key)
        if hit is not None:
            return hit
    assign, cents = _ivf_train(
        _ivf_build_input(vectors, id_col, vec_col),
        k, iters, id_col, vec_col, train_sample_cap,
    )
    if cache_key is not None:
        assign = materialize(assign)
        _IVF_INDEX_CACHE[full_key] = (assign, cents)
    return assign, cents


def _ivf_build_input(
    vectors: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """The one materialized (id, vector) projection an IVF build reads
    — seeds, Lloyd rounds, final assignment, the quantized ``vectors``
    table and the retrain sizing count all share it (the diamond rule:
    without it the embedding lineage re-runs per consumer)."""
    return materialize(vectors.select(id_col, vec_col))


def _ivf_train(
    base: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    train_sample_cap: int | None,
) -> tuple[DataFrame, DataFrame]:
    """:func:`ivf_kmeans` over an already-materialized
    :func:`_ivf_build_input`.  Returns the final assignment unmaterialized
    and the centroids materialized."""
    train = base
    if train_sample_cap is not None:
        n = base.count()
        if n > train_sample_cap:
            thresh = (_IVF_SAMPLE_MOD * int(train_sample_cap)) // n
            # the sample feeds seeds + every Lloyd round: apply the md5
            # predicate once
            train = materialize(base.filter(_ivf_sample_pred(id_col, thresh)))
    seeds = train.orderBy(id_col).limit(k)
    w = Window.orderBy(id_col)  # k rows — single tiny partition is fine
    cents = materialize(
        seeds.select(
            (F.row_number().over(w) - 1).cast("long").alias("cell"),
            _d(vec_col).alias("cvec"),
        )
    )
    for _ in range(iters):
        assign = _assign_cells(train, cents, id_col, vec_col)
        new_cents = ivf_centroids(
            train.join(assign, id_col).withColumnRenamed("cell", "__cell"),
            "__cell",
            vec_col,
        ).withColumnRenamed("cell", "ncell")
        p, n_ = cents.alias("p"), new_cents.alias("n")
        cents = materialize(
            p.join(n_, F.col("p.cell") == F.col("n.ncell"), "left").select(
                F.col("p.cell").alias("cell"),
                F.coalesce(F.col("n.cvec"), F.col("p.cvec")).alias("cvec"),
            )
        )
    return _assign_cells(base, cents, id_col, vec_col), cents


def ann_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    n_probe: int = IVF_PROBES,
    index_cache_key: str | None = None,
    index_path: str | None = None,
    train_sample_cap: int | None = None,
) -> DataFrame:
    """IVF ANN: k-means coarse quantizer (``ivf_kmeans``), each query
    probes its ``n_probe`` nearest cells, and only those cells'
    inverted lists are scored exactly.  Output: (query_id, cell,
    neighbor_id, cosine, rank) — ``cell`` is the neighbor's cell.

    This is the full IVF path a vector store runs at scale: train-side
    statistics -> multi-probe coarse quantizer -> in-cell exact
    scoring; the corpus-side work is bounded by n_probe/k of the
    inverted lists per query.  Recall vs brute force is pinned by
    tests/test_extensions.py.

    ``index_cache_key``: stable identity of ``vectors`` to amortize
    training across calls in one session (see ``ivf_kmeans``) — the
    production shape, where the index is built once and queried many
    times; results are identical either way (training is
    deterministic).  ``index_path`` goes further: the trained index is
    a cross-session parquet artifact (``ivf_index_persistent``) that
    stores its vectors int8-quantized, and the inverted lists score
    from those stored vectors — ``vectors`` is read only to build an
    absent artifact.  A legacy artifact committed without stored
    vectors scores from ``vectors``.
    """
    corpus = vectors
    if index_path is not None:
        # one snapshot serves the whole request: the assignments, the
        # centroids and the stored vectors are one generation's
        snap = _ivf_open_or_build(
            vectors, index_path, cells, iters, id_col, vec_col,
            train_sample_cap,
        )
        assign, cents = snap.table("assignments"), snap.table("centroids")
        # the committed params pick the scoring side: stored int8
        # vectors (asymmetric — float query vs integer grid; the
        # per-vector scale cancels in cosine), or the caller's corpus
        # for a legacy artifact written without them
        if snap.params.get("quantized") == "true":
            corpus = stored_vectors_as_double(
                snap.table("vectors"), id_col, vec_col
            )
    else:
        assign, cents = ivf_kmeans(
            vectors, cells, iters, id_col, vec_col,
            cache_key=index_cache_key, train_sample_cap=train_sample_cap,
        )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    qc = (
        q.withColumn("__vnorm", norm_expr("__qvec"))
        .crossJoin(F.broadcast(cents.withColumn("__cnorm", norm_expr("cvec"))))
        .withColumn("__cos_c", _cos_cell("__qvec"))
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__cos_c").desc(), F.col("cell").asc()
    )
    probed = (
        qc.withColumn("__rn", F.row_number().over(w_probe))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "__qvec", "cell")
    )
    corpus_side = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec2")
    )
    inverted = corpus_side.join(
        assign.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
    )
    scored = (
        inverted.join(F.broadcast(probed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr("__qvec", "__cvec2"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# persistent index artifacts: production ANN indexes are DISK artifacts
# reusable across jobs, not session caches.  Every build, append and
# retrain commits through artifact_manifest (tables + params in one
# manifest rename), and every operation reads from one ArtifactSnapshot.
# Training is deterministic and parquet round-trips doubles exactly, so
# a fresh session loading the artifact returns bit-identical top-k to
# the training session (pytest-pinned).
# ---------------------------------------------------------------------------

def _cell_profile(assign: DataFrame) -> dict[int, int]:
    """Per-cell member counts — k rows, broadcast-class by
    construction (one map-side-combinable agg)."""
    return {
        int(r["cell"]): int(r["__c"])
        for r in assign.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    }


def _ivf_open_or_build(
    vectors: DataFrame,
    path: str,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    train_sample_cap: int | None,
) -> ArtifactSnapshot:
    """The committed IVF generation at ``path`` matching these
    hyperparameters, trained and committed first when absent
    (:func:`ivf_index_persistent` describes the artifact)."""
    import json

    spark = vectors.sparkSession
    params = {
        "kind": "ivf", "k": k, "iters": iters,
        "id_col": id_col, "vec_col": vec_col,
    }
    if train_sample_cap is not None:
        params["train_sample_cap"] = train_sample_cap
    snap = artifact_open(spark, path)
    if artifact_check(snap, params):
        return snap
    base = _ivf_build_input(vectors, id_col, vec_col)
    assign, cents = _ivf_train(base, k, iters, id_col, vec_col, train_sample_cap)
    # the assignments feed the occupancy profile AND the staged write —
    # truncate the training lineage once
    assign = materialize(assign)
    profile = _cell_profile(assign)
    return artifact_overwrite(
        spark, path,
        {
            "assignments": assign,
            "centroids": cents,
            "vectors": quantize_to_storage(base, id_col, vec_col),
        },
        {
            **params,
            "quantized": "true",
            "version": 1,
            "cell_profile": json.dumps(profile, sort_keys=True),
            "n_train_total": sum(profile.values()),
            "drift_stat": "1.0",
        },
        snap,
    )


def ivf_index_persistent(
    vectors: DataFrame,
    path: str,
    k: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Load the IVF index artifact at ``path``, training and saving it
    first if absent.  Returns (assignments (id, cell), centroids
    (cell, cvec)) READ FROM DISK in both cases — the queried index is
    always the artifact itself (lineage-truncated, identical across
    sessions), never the in-memory training lineage.

    The artifact also stores the corpus vectors int8-quantized
    (:func:`quantize_to_storage` — ``{path}/vectors``: tinyint
    components + per-vector scale; marker ``quantized: true``), so it
    is SELF-CONTAINED: probes score the inverted lists from the
    artifact instead of re-reading the corpus — the FAISS SQ8 shape,
    and an 8x cut in vector storage (at 64 dims x 10^10 vectors, 640 GB
    instead of 5 TB).  Training runs on the FULL-PRECISION vectors
    (train-full/store-compressed), so the centroids and assignments are
    the ones :func:`ivf_kmeans` trains.

    ``train_sample_cap``: train the quantizer on a deterministic hash
    sample (see :func:`ivf_kmeans`) — the production path for corpora
    where full-corpus Lloyd rounds are k full scans per iteration.
    When set, it is pinned in the marker (an artifact trained on a
    sample must not silently serve a caller asserting full training).
    The build also records the TRAINING cell-occupancy profile in the
    marker — the fixed baseline the append-side ``drift_stat``
    compares against (see :func:`ivf_index_append`)."""
    snap = _ivf_open_or_build(
        vectors, path, k, iters, id_col, vec_col, train_sample_cap
    )
    return snap.table("assignments"), snap.table("centroids")


def lsh_index_persistent(
    vectors: DataFrame,
    path: str,
    tables: int = ANN_LSH_TABLES,
    planes_per_table: int = ANN_LSH_PLANES_PER_TABLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_params: dict | None = None,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Load the banded (id, band, bucket) LSH index artifact at
    ``path``, building and saving it first if absent — the ``buckets``
    table of :func:`lsh_index_ensure`'s generation.

    The artifact holds bucket rows only: every caller verifies its
    candidates against the caller's own full-precision vectors."""
    return lsh_index_ensure(
        vectors, path, artifact_open(vectors.sparkSession, path),
        tables, planes_per_table, id_col, vec_col, extra_params, dim,
    ).table("buckets")


def _lsh_params(
    tables: int,
    planes_per_table: int,
    id_col: str,
    vec_col: str,
    extra_params: dict | None,
) -> dict:
    return {
        "kind": "lsh", "tables": tables,
        "planes_per_table": planes_per_table,
        "id_col": id_col, "vec_col": vec_col,
        **(extra_params or {}),
    }


def _check_lsh_dim(snap: ArtifactSnapshot, dim: int) -> None:
    """The subset param check is one-directional (a default-dim caller
    omits the key): refuse an index hashed with another plane family —
    probes would collapse to bucket 0, appended rows would poison every
    later probe."""
    got = snap.params.get("dim", str(EMBEDDING_DIM))
    if got != str(dim):
        raise ValueError(
            f"LSH index at {snap.path} was built at dim={got}; caller "
            f"expects dim={dim}"
        )


def lsh_index_ensure(
    vectors: DataFrame,
    path: str,
    base: ArtifactSnapshot | None,
    tables: int = ANN_LSH_TABLES,
    planes_per_table: int = ANN_LSH_PLANES_PER_TABLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_params: dict | None = None,
    dim: int = EMBEDDING_DIM,
) -> ArtifactSnapshot:
    """The committed LSH index generation at ``path`` matching these
    hyperparameters: ``base`` (the generation the caller opened there,
    None when nothing is committed) when it matches, else one built
    from ``vectors`` and committed over it (see
    :func:`ivf_index_persistent` for the commit protocol).  A caller
    that probes and then appends passes this one snapshot to
    :func:`lsh_index_append`, so the operation opens the artifact once.

    ``extra_params``: extra identity keys pinned in the params and
    checked on reuse — the semantic-ingest tier pins the EMBEDDER
    identity here, because bucket rows from two different encoders in
    one artifact would silently poison every probe (a vector-space
    change is as hard a mismatch as a layout change).  A non-default
    ``dim`` is pinned too; the default stays unpinned, so every
    artifact built before the pin reads as 64-dim."""
    params = _lsh_params(tables, planes_per_table, id_col, vec_col, extra_params)
    if dim != EMBEDDING_DIM:
        params["dim"] = dim
    if not artifact_check(base, params):
        base = artifact_overwrite(
            vectors.sparkSession, path,
            {
                "buckets": banded_bucket_rows(
                    vectors, id_col, vec_col, tables, planes_per_table, dim
                )
            },
            {**params, "version": 1},
            base,
        )
    _check_lsh_dim(base, dim)
    return base


def ivf_index_append(
    new_vectors: DataFrame,
    path: str,
    k: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Grow a committed IVF index WITHOUT retraining — assign each new
    vector to its nearest existing centroid (the FAISS
    ``add()``-after-``train()`` discipline) and append the assignments
    and the int8 stored vectors in one manifest commit.  The centroids
    are FROZEN: queries over the grown index probe the same cells, and
    the appended vectors are exactly as findable as if they had been in
    the training set and landed in the same cell (the probe scans whole
    cells).  Retrain with :func:`ivf_index_retrain` when drift warrants
    it — silently re-running k-means here would invalidate every cached
    cell layout.

    Bounded by the batch, not by what the caller hands over: the ids
    of ``new_vectors`` that the committed assignments already hold are
    anti-joined away BEFORE anything is materialized (Catalyst pushes
    the anti-join below ``hash_embed``'s aggregates), and both staged
    tables come from that one fresh set — so handing over the whole
    corpus (``search --refresh-index``) costs the tokenize scan plus
    O(new rows).  Replay-idempotent for the same reason: a
    crashed-and-replayed append adds the missing remainder.  Both
    tables commit in one manifest rename, so they cannot diverge.  A
    legacy artifact without stored vectors grows its assignments only.
    The params marker's ``version`` is bumped.  Raises if ``path``
    holds no committed index or one built with different
    hyperparameters.

    Drift accounting (the "WHEN to retrain" signal frozen-centroid
    appends lack): after the append, the marker's ``drift_stat`` is
    refreshed to the maximum over cells of ``(current_share /
    training_share)`` — current and training cell occupancy read from
    the assignments and the build's ``cell_profile``.  Uniform growth
    keeps it at ~1.0; appends concentrating in few cells push it up (a
    skewed cell means its inverted list is outgrowing the n_probe/k
    cost model AND the centroid no longer summarizes its members).
    Operators read it via ``search --index-stats`` and retrain past
    their threshold (``search --retrain-if-drift``) — 2x is a
    reasonable default.
    """
    import json

    spark = new_vectors.sparkSession
    params = {
        "kind": "ivf", "k": k, "iters": iters,
        "id_col": id_col, "vec_col": vec_col,
    }
    snap = artifact_open(spark, path)
    if not artifact_check(snap, params):
        raise ValueError(
            f"no committed IVF index at {path}; build it first "
            "(ivf_index_persistent)"
        )
    got = dict(snap.params)
    stores_vectors = got.get("quantized") == "true"
    fresh = new_vectors.join(
        snap.table("assignments").select(id_col), id_col, "left_anti"
    )
    if stores_vectors:
        # both staged tables consume the fresh rows (a 2-consumer
        # diamond whose lineage may carry a Python encode): compute
        # them once
        fresh = materialize(fresh)
    cents = snap.table("centroids")
    # the new assignments feed the staged append AND the drift union
    new_assign = materialize(_assign_cells(fresh, cents, id_col, vec_col))
    tables_to_append = {"assignments": new_assign}
    if stores_vectors:
        tables_to_append["vectors"] = quantize_to_storage(
            fresh, id_col, vec_col
        )
    raw_profile = got.get("cell_profile")
    if raw_profile:
        train_profile = {
            int(c): n for c, n in json.loads(raw_profile).items()
        }
        train_total = max(1, sum(train_profile.values()))
        current = _cell_profile(
            snap.table("assignments")
            .select("cell")
            .unionByName(new_assign.select("cell"))
        )
        cur_total = max(1, sum(current.values()))
        drift = max(
            (n / cur_total) / (max(train_profile.get(c, 0), 1) / train_total)
            for c, n in current.items()
        )
        got["drift_stat"] = f"{drift:.4f}"
    got["version"] = str(int(got.get("version", "1")) + 1)
    artifact_append(snap, tables_to_append, got)


def ivf_index_retrain(
    vectors: DataFrame,
    path: str,
    k: int | None = None,
    iters: int | None = None,
    id_col: str | None = None,
    vec_col: str | None = None,
    train_sample_cap: int | None = None,
) -> dict:
    """Retrain a committed IVF index IN PLACE over the current corpus
    — the operator response to a high ``drift_stat`` (the stat
    :func:`ivf_index_append` maintains says WHEN to retrain; this is
    the HOW).

    Fresh Lloyd rounds over ``vectors`` (every downstream list layout
    is recomputed — appends since the last training stop being
    second-class citizens assigned to frozen centroids), committed as
    one atomic manifest swap (:func:`..artifact_manifest.
    artifact_overwrite`): a reader mid-query keeps its complete old
    generation; there is no delete-then-rebuild gap.  ``k`` defaults
    to ``ivf_suggest_cells(N)`` — drift usually means the corpus
    OUTGREW its cell count, so the rebuild resizes by the sqrt-N rule
    instead of repeating the stale k.  Every OTHER unspecified knob
    inherits the committed marker: ``train_sample_cap`` (a
    sampled-training index stays sampled), ``iters`` and the id/vector
    columns — a retrain changes the cell layout, never the artifact's
    pinned training discipline.  The rebuilt artifact stores its int8
    vectors like every build, so a legacy artifact without them is
    rewritten in the one layout.  The marker's ``version`` bumps so
    every session / worker cache keyed on it refreshes.

    Returns the new marker params (the CLI prints them).  Raises when
    ``path`` holds no committed IVF index — retraining nothing is a
    caller bug, not a build request."""
    import json

    spark = vectors.sparkSession
    snap = artifact_open(spark, path)
    got = snap.params if snap is not None else {}
    if got.get("kind") != "ivf":
        raise ValueError(
            f"no committed IVF index at {path}; build it first "
            "(ivf_index_persistent)"
        )
    # every unspecified knob inherits the COMMITTED marker (callers
    # who pinned e.g. iters=5 at build time keep it) — only k
    # defaults to a recompute, because resizing is retrain's job
    if train_sample_cap is None and got.get("train_sample_cap"):
        train_sample_cap = int(got["train_sample_cap"])
    if iters is None:
        iters = int(got.get("iters", IVF_ITERS))
    if id_col is None:
        id_col = got.get("id_col", "vec_id")
    if vec_col is None:
        vec_col = got.get("vec_col", "embedding")
    # the sizing count, training and the int8 vectors table all read
    # one materialized copy of the corpus lineage
    base = _ivf_build_input(vectors, id_col, vec_col)
    if k is None:
        k = ivf_suggest_cells(base.count())
    assign, cents = _ivf_train(
        base, k, iters, id_col, vec_col, train_sample_cap
    )
    assign = materialize(assign)
    profile = _cell_profile(assign)
    tables = {
        "assignments": assign,
        "centroids": cents,
        "vectors": quantize_to_storage(base, id_col, vec_col),
    }
    params = {
        "kind": "ivf", "k": k, "iters": iters,
        "id_col": id_col, "vec_col": vec_col,
        "quantized": "true",
        "version": int(got.get("version", "1")) + 1,
        "cell_profile": json.dumps(profile, sort_keys=True),
        "n_train_total": sum(profile.values()),
        "drift_stat": "1.0",
        "retrained_from_k": got.get("k"),
    }
    if train_sample_cap is not None:
        params["train_sample_cap"] = train_sample_cap
    return dict(artifact_overwrite(spark, path, tables, params, snap).params)


def lsh_index_append(
    new_vectors: DataFrame,
    index: ArtifactSnapshot | None,
    tables: int = ANN_LSH_TABLES,
    planes_per_table: int = ANN_LSH_PLANES_PER_TABLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_params: dict | None = None,
    dim: int = EMBEDDING_DIM,
) -> ArtifactSnapshot:
    """Grow the committed LSH index generation ``index``: rehash the new
    vectors into bucket rows with the SAME deterministic hyperplanes (a
    pure function of (tables, planes) — no trained state), anti-join
    already-indexed ids, append; returns the new generation.  Unlike
    IVF there is no frozen-vs-retrained gap: the grown artifact is
    bit-identical to a from-scratch rebuild over the union
    (pytest-pinned).  Version bump after the data append;
    replay-idempotent like :func:`ivf_index_append`.  Raises when
    ``index`` is None, was built with other hyperparameters (appending
    under a different ``extra_params`` embedder identity included) or
    at another dim, and (ConcurrentWriterError) when another
    generation committed since ``index`` was opened.
    """
    params = _lsh_params(tables, planes_per_table, id_col, vec_col, extra_params)
    if not artifact_check(index, params):
        raise ValueError(
            "no committed LSH index to append to; build it first "
            "(lsh_index_persistent)"
        )
    _check_lsh_dim(index, dim)
    got = dict(index.params)
    existing = index.table("buckets").select(id_col).distinct()
    fresh = new_vectors.join(existing, id_col, "left_anti")
    got["version"] = str(int(got.get("version", "1")) + 1)
    return artifact_append(
        index,
        {
            "buckets": banded_bucket_rows(
                fresh, id_col, vec_col, tables, planes_per_table, dim
            )
        },
        got,
    )


LSH_DUP_BANDS = 8
LSH_DUP_BAND_PLANES = 3


def banded_bucket_rows(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = LSH_DUP_BANDS,
    planes_per_band: int = LSH_DUP_BAND_PLANES,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """(id, band, bucket) rows: band b's bucket is the sign pattern of
    ``planes_per_band`` dedicated hyperplanes (plane rows b*r ..
    (b+1)*r-1 of the shared deterministic family).

    ``dim`` MUST match the vectors' length: hyperplanes are
    a driver-side literal matrix, and ``zip_with`` against a plane of
    the WRONG length yields null products — every sign reads false and
    every vector collapses into bucket 0, silently turning the banded
    self-join into all-pairs (measured: 100-dim vectors under the
    64-dim default produced constant-zero buckets; the exact-cosine
    verify keeps answers right, so nothing fails loudly — only the
    scale posture dies).  Surfaces serving an encoder artifact pass
    the artifact's ``dim``; the default covers every built-in 64-dim
    space.

    Expression shape matters here: the per-band
    ``bucket_expr`` form builds bands x planes_per_band SEPARATE
    higher-order aggregate expressions — at the ANN layout (32x6 = 192
    folds) the generated code blows past whole-stage-codegen limits
    and execution falls back to interpreted eval (measured 14 s for
    the sf0.1 signature pass). Instead: ONE transform over the literal
    plane matrix computes the 0/1 sign vector, staged as a real column
    so it is evaluated once per row, then a second transform derives
    each band's bucket as a weighted sum of its sign slice (measured
    0.4 s warm for the same pass — 35x). Bit-identical buckets: the
    per-plane dot keeps the same zip_with/aggregate association order,
    and sign > 0 is the same predicate.
    """
    hp = hyperplanes(bands * planes_per_band, dim=dim)
    # one JVM-parsed SQL literal for the whole plane matrix: building
    # it as nested F.array(F.lit(...)) issues one py4j call per
    # component (12,288 at the 32x6 ANN layout) and costs ~8 s of
    # DRIVER-side plan construction per query build — the expression
    # string parses in one call
    planes_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"CAST({w!r} AS DOUBLE)" for w in row) + ")"
            for row in hp
        )
        + ")"
    )
    signs = F.transform(
        planes_lit,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(_d(vec_col), p, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    weights = F.array(*[F.lit(1 << j).cast("long") for j in range(planes_per_band)])
    bands_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.aggregate(
                F.zip_with(
                    F.slice(F.col("__signs"), b * planes_per_band + 1, planes_per_band),
                    weights,
                    lambda s, w: s * w,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("bucket"),
        ),
    )
    return (
        vectors.withColumn("__signs", signs)
        .select(F.col(id_col), F.explode(bands_arr).alias("bb"))
        .select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


def embedding_dup_pairs_lsh(
    vectors: DataFrame,
    threshold: float,
    bands: int = LSH_DUP_BANDS,
    planes_per_band: int = LSH_DUP_BAND_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Banded-LSH near-duplicate pairs: candidates share a sign-pattern
    bucket in ANY band; every candidate is then scored with the exact
    cosine and kept if >= threshold (so false positives are impossible
    — only recall is approximate).

    This is the 100 TB shape: the only wide shuffle carries
    (band, bucket, id); candidate pairs are a tiny fraction of n^2 and
    fetch their vectors by id. Recall per pair at cosine c is
    1 - (1 - p^r)^B with p = 1 - arccos(c)/pi — for true near-dups
    (c >= 0.9, the regime dedup targets) B=8, r=3 gives ~0.996, and
    tests/test_extensions.py (test_embedding_dup_lsh_full_recall_on_
    planted_near_dups) verifies recall 1.0 on planted
    near-identical vectors. At moderate similarity (c ~ 0.45-0.6, the
    only pairs that exist in the synthetic testdata, where max cosine
    is 0.6) the theoretical recall floor is ~0.92; the registered
    oracle mirrors the banded semantics exactly, so parity is
    bit-exact regardless.

    ``max_bucket``: flood cap — drop (band, bucket) cells
    holding more vectors than this before the self-join (groupBy +
    broadcast anti-join, the pinned flood-cap shape).  CORRELATED
    vector sets (e.g. hash-embedded text, where every document shares
    the common-token directions) collapse sign patterns into few
    buckets: measured at sf0.1, one 8-bucket band held 68% of 5000
    hash-embedded vectors and the uncapped candidate set hit 11.9M
    pairs (~26 s; the quadratic cliff).  A capped cell costs only that
    ONE band's vote — a true near-dup pair collides in nearly every
    band — and the exact-cosine verify keeps false positives
    impossible either way.  Size the LAYOUT first (planes_per_band >=
    log2(n / target_occupancy)); the cap backstops what sizing
    misses.
    """
    wb = banded_bucket_rows(vectors, id_col, vec_col, bands, planes_per_band, dim)
    # the bucket stream feeds both sides of the self-join and exchange
    # reuse does not fire across the branches (same finding as
    # dedup.minhash_bands) — without materialization every row's
    # bands x planes_per_band hyperplane dot products compute twice.
    # The stream is (id, band, bucket): far smaller than the vectors.
    wb = materialize(wb)
    if max_bucket is not None:
        wb = _drop_flooded_buckets(wb, max_bucket)
    a, b = wb.alias("a"), wb.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    va = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_expr("__va", "__vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


#: flood cap for the incremental probe's INDEX buckets: a bucket
#: holding more vectors than this is uninformative for near-dup
#: detection here (sign-LSH occupancy ~ corpus / 2^planes_per_band —
#: size the LAYOUT to the corpus first; the cap is the backstop for
#: skewed regions).  Dropping a flooded bucket loses only that ONE
#: band's vote: a true near-identical pair (cos >= 0.99) collides in
#: nearly every band, so its recall survives.
MAX_VECTOR_BUCKET = 1024


def _drop_flooded_buckets(buckets: DataFrame, max_bucket: int) -> DataFrame:
    """The pinned flood-cap shape (one definition for the batch pair
    scan AND the index probe, so the > semantics and their SQL twins
    can never drift): drop every (band, bucket) cell holding more than
    ``max_bucket`` rows — groupBy + broadcast anti-join, never a
    window; the flooded set is tiny by construction."""
    flooded = (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .filter(F.col("__bsz") > max_bucket)
        .select("band", "bucket")
    )
    return buckets.join(F.broadcast(flooded), ["band", "bucket"], "left_anti")


def vector_dup_probe(
    batch: DataFrame,
    index_buckets: DataFrame,
    corpus: DataFrame,
    threshold: float,
    bands: int = LSH_DUP_BANDS,
    planes_per_band: int = LSH_DUP_BAND_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = MAX_VECTOR_BUCKET,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Batch vectors near-duplicate (exact cosine >= threshold) of an
    already-indexed vector — the EMBEDDING twin of
    minhash_index.near_dup_probe: probe the persisted
    ``lsh_index_persistent`` bucket artifact with the batch's bucket
    rows, then exact-verify candidates against the corpus vectors.
    ``bands``/``planes_per_band`` MUST match the index's layout (the
    artifact's params marker enforces it for the build path).

    Output: (vec_id, dup_of, cosine).  The batch bucket rows BROADCAST
    into the index scan (a micro-batch is bounded by contract), so the
    index is never shuffled.  The CANDIDATE volume, however, is
    occupancy-driven — ~ batch x corpus / 2^planes_per_band per band —
    NOT batch-bounded: size the layout so buckets stay small
    (planes_per_band >= log2(corpus / target_occupancy); the streaming
    tier's 16x10 default holds ~corpus/1024 per bucket), the
    ``max_bucket_size`` cap backstops skewed regions (groupBy +
    broadcast anti-join, the minhash shape), and the candidate joins
    deliberately carry NO broadcast hint — a possibly-large set must
    be allowed to shuffle (the BASELINE.md contract-bounded-vs-
    corpus-growing rule; an earlier draft broadcast it and OOMed at
    10x corpus).  A candidate whose vector is absent from ``corpus``
    (orphan index rows from a crash between the index append and the
    sink insert) drops out at the verify join — never a false drop.
    False positives are impossible (exact cosine gate).
    """
    bb = banded_bucket_rows(batch, id_col, vec_col, bands, planes_per_band, dim)
    if max_bucket_size is not None:
        index_buckets = _drop_flooded_buckets(index_buckets, max_bucket_size)
    cand = (
        F.broadcast(bb)
        .join(
            index_buckets.withColumnRenamed(id_col, "__iid"),
            ["band", "bucket"],
        )
        .select(F.col(id_col), F.col("__iid"))
        .distinct()
    )
    # one materialization for the two vector joins below — no
    # broadcast hint: cand is occupancy-driven (see docstring)
    cand = materialize(cand)
    return (
        cand.join(
            batch.select(F.col(id_col), F.col(vec_col).alias("__bv")), id_col
        )
        .join(
            corpus.select(
                F.col(id_col).alias("__iid"), F.col(vec_col).alias("__iv")
            ),
            "__iid",
        )
        .withColumn("cosine", cosine_expr("__bv", "__iv"))
        .filter(F.col("cosine") >= threshold)
        .select(F.col(id_col), F.col("__iid").alias("dup_of"), "cosine")
    )


def semantic_dup_probe(
    batch_docs: DataFrame,
    index_buckets: DataFrame,
    existing_docs: DataFrame,
    threshold: float,
    bands: int,
    planes_per_band: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = MAX_VECTOR_BUCKET,
    embed_fn=None,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Batch DOCUMENTS semantically near-dup (exact cosine of their
    embeddings >= threshold) of an already-indexed document — the TEXT
    twin of :func:`vector_dup_probe`, closing the incremental tier
    set: exact (Bloom), lexical (MinHash bands), semantic (this).
    Output: (id_col, dup_of, cosine).

    ``embed_fn``: docs -> (vec_id, embedding) — the encoder
    behind the tier.  Default is :func:`hash_embed`; pass a
    :func:`~.embed.embed_with_model` partial to run the probe on the
    model seam.  MUST be the same encoder the index was built with
    (the ingest tier pins it in the index marker).

    Same scale shape as the vector probe: the batch's bucket rows
    BROADCAST into the index scan (batch bounded by contract; the
    index is never shuffled), flooded index buckets are capped, and
    false positives are impossible (exact cosine gate).  The one new
    move: corpus-side embeddings are computed for CANDIDATE documents
    only (a semi-join BEFORE hash_embed — the minhash tier's
    candidate-only re-expansion), so a micro-batch never pays an
    O(corpus) tokenize+embed.  Orphan index rows (crash between the
    index append and the sink insert) have no text in
    ``existing_docs`` and vanish at that semi-join — never a false
    drop, exactly the minhash tier's orphan argument.
    """
    if embed_fn is None:
        def embed_fn(d):
            return hash_embed(d, id_col=id_col, text_col=text_col)

    bvecs = materialize(embed_fn(batch_docs))
    bb = banded_bucket_rows(
        bvecs, "vec_id", "embedding", bands, planes_per_band, dim
    )
    if max_bucket_size is not None:
        index_buckets = _drop_flooded_buckets(index_buckets, max_bucket_size)
    cand = materialize(
        F.broadcast(bb)
        .join(
            index_buckets.withColumnRenamed("vec_id", "__iid"),
            ["band", "bucket"],
        )
        .select("vec_id", "__iid")
        .distinct()
    )
    cvecs = embed_fn(
        existing_docs.join(
            cand.select(F.col("__iid").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
    )
    return (
        cand.join(
            bvecs.select("vec_id", F.col("embedding").alias("__bv")),
            "vec_id",
        )
        .join(
            cvecs.select(
                F.col("vec_id").alias("__iid"),
                F.col("embedding").alias("__iv"),
            ),
            "__iid",
        )
        .withColumn("cosine", cosine_expr("__bv", "__iv"))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("vec_id").alias(id_col),
            F.col("__iid").alias("dup_of"),
            "cosine",
        )
    )


def banded_buckets_sql(
    col: str,
    bands: int = LSH_DUP_BANDS,
    planes_per_band: int = LSH_DUP_BAND_PLANES,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of ``banded_bucket_rows`` as a UNION ALL over
    bands: (vec_id, band, bucket) rows from ``table`` (a base table
    or a CTE exposing vec_id + the vector column)."""
    hp = hyperplanes(bands * planes_per_band)
    selects = [
        f"SELECT vec_id, {b} AS band, "
        + bucket_sql(col, hp[b * planes_per_band : (b + 1) * planes_per_band])
        + f" AS bucket FROM {table}"
        for b in range(bands)
    ]
    return "\n    UNION ALL ".join(selects)


def ivf_kmeans_sql_ctes(
    k: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    dim: int = EMBEDDING_DIM,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of ``ivf_kmeans`` as an unrolled CTE chain ending in
    ``km_assign`` (vec_id, cell) and ``km_cents`` (cell, cvec) — every
    step mirrors the Spark operator bit-for-bit (same seeds, same
    cosine association order, same decimal-routed means, same
    empty-cell COALESCE)."""
    cos = cosine_sql("e.embedding", "c.cvec", dim)

    def assign_cte(name: str, cent: str) -> str:
        return (
            f"{name} AS MATERIALIZED (SELECT vec_id, cell FROM ("
            f"SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id "
            f"ORDER BY {cos} DESC, c.cell ASC) AS rn FROM {table} e, {cent} c) t "
            f"WHERE rn = 1)"
        )

    parts = [
        f"km_seeds AS MATERIALIZED (SELECT vec_id, embedding FROM {table} ORDER BY vec_id LIMIT {k})",
        "km_cent0 AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec FROM km_seeds)",
    ]
    prev = "km_cent0"
    for t in range(1, iters + 1):
        parts.append(assign_cte(f"km_assign{t}", prev))
        parts.append(
            f"km_cd{t} AS MATERIALIZED (SELECT a.cell, d.i, "
            f"CAST(SUM(CAST(CAST(e.embedding[d.i] AS DOUBLE) AS DECIMAL(25,6))) AS DOUBLE)"
            f" / COUNT(*) AS c "
            f"FROM {table} e JOIN km_assign{t} a ON a.vec_id = e.vec_id, "
            f"(SELECT unnest(range(1, {dim + 1})) AS i) d GROUP BY a.cell, d.i)"
        )
        parts.append(
            f"km_nc{t} AS MATERIALIZED (SELECT cell, list(c ORDER BY i) AS cvec "
            f"FROM km_cd{t} GROUP BY cell)"
        )
        parts.append(
            f"km_cent{t} AS MATERIALIZED (SELECT p.cell, COALESCE(n.cvec, p.cvec) AS cvec "
            f"FROM {prev} p LEFT JOIN km_nc{t} n ON n.cell = p.cell)"
        )
        prev = f"km_cent{t}"
    parts.append(assign_cte("km_assign", prev))
    parts.append(f"km_cents AS MATERIALIZED (SELECT cell, cvec FROM {prev})")
    return ",\n".join(parts)


def embedding_dup_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold (id_a < id_b).

    Brute all-pairs — correct at any SF but quadratic; the 100 TB path
    first buckets by ``bucket_expr`` and only scores same-bucket pairs
    (same trade as dedup_minhash_lsh)."""
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr("__va", "__vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup for
# web-scale corpora — k-means cluster the embedding space, then score
# pairs ONLY within a cluster (the paper's observation: semantic dups
# land in the same k-means cell, so the n^2 comparison collapses to
# sum(n_c^2) ~ n^2/k).  The engine already has the two halves with
# bit-exact oracle twins: the deterministic Lloyd quantizer
# (``ivf_kmeans`` / ``ivf_kmeans_sql_ctes``) and the IEEE-shared
# cosine (``cosine_expr`` / ``cosine_sql``) — SemDeDup is their
# composition plus the paper's survivor rule (keep the cluster member
# LEAST similar to its centroid: the "edge" example carries the most
# information).
# ---------------------------------------------------------------------------

#: same regime as the raw-embedding near-dup tier: the synthetic
#: testdata's max off-diagonal cosine is ~0.6, so 0.45 is the band
#: where pairs exist at every SF while staying selective.
SEMDEDUP_THRESHOLD = 0.45


def semdedup_pairs(
    vectors: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_cache_key: str | None = None,
    train_vectors: DataFrame | None = None,
) -> DataFrame:
    """Semantic near-dup pairs, cluster-scoped: (id_a, id_b, cell,
    cosine) for same-cell pairs with cosine >= threshold (id_a < id_b).

    ``train_vectors`` (the nb_classify_docs ``train_docs=`` split):
    when given, the Lloyd quantizer trains on THAT frame and the full
    ``vectors`` corpus is only ASSIGNED (one broadcast-centroid pass)
    — the production shape at large k, where training on a sample
    caps the k x n-per-round train cost while the scan still covers
    everything.  When None, train on the corpus itself (the
    hash-gated form).

    Scale shape: one broadcast-centroid assignment pass (the quantizer
    is k rows), then a self-join keyed on ``cell`` — the quadratic
    blowup is bounded per cell at ~(n/k)^2, and **k is the knob**: the
    paper sizes k proportional to n (50k clusters for 600M docs), so
    per-cell cost stays constant as the corpus grows.  At small k the
    join has few distinct keys; at production k the key space is wide
    and AQE's skew split handles lopsided cells.  Nothing here windows
    or collects.

    Deterministic end to end (seeded k-means, quantized ties, shared
    IEEE cosine tree), so the DuckDB twin (``semdedup_pairs_sql``)
    hash-matches, k-means training included.

    ``index_cache_key``: passed through to ``ivf_kmeans`` — the
    quantizer is shared with ``ann_topk_ivf`` (same key, same trained
    index), the built-once/used-everywhere artifact shape.  With
    ``train_vectors`` the key names THAT frame's data.
    """
    if train_vectors is not None:
        _tr, cents = ivf_kmeans(
            train_vectors, k, iters, id_col, vec_col,
            cache_key=index_cache_key,
        )
        assign = _assign_cells(vectors, cents, id_col, vec_col)
    else:
        assign, _cents = ivf_kmeans(
            vectors, k, iters, id_col, vec_col, cache_key=index_cache_key
        )
    tagged = _semdedup_tagged(vectors, assign, id_col, vec_col)
    return _semdedup_pairs_from(tagged, threshold, id_col, vec_col)


def _semdedup_tagged(
    vectors: DataFrame, assign: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """One materialized (id, vec, cell) relation — it feeds both sides
    of the pair self-join AND (in semdedup_keep) the centroid-
    similarity branch (the diamond rule: without it the assignment —
    itself iters+1 passes — re-executes per consumer).  Corpus-sized,
    so deliberately NOT broadcast (the contract-bounded-vs-corpus-
    growing rule from BASELINE.md)."""
    return materialize(
        vectors.select(F.col(id_col), F.col(vec_col)).join(assign, id_col)
    )


def _semdedup_pairs_from(
    tagged: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Same-cell pair scan over the materialized tagged relation."""
    a = tagged.select(
        F.col(id_col).alias("id_a"), "cell", F.col(vec_col).alias("__va")
    )
    b = tagged.select(
        F.col(id_col).alias("id_b"), "cell", F.col(vec_col).alias("__vb")
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr("__va", "__vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cell", "cosine")
    )


def semdedup_pairs_sql(
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    dim: int = EMBEDDING_DIM,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of ``semdedup_pairs``: the unrolled k-means CTE
    chain, then the same-cell pair scan with the shared cosine tree.
    Returns a complete WITH query (no trailing comma needed)."""
    cos = cosine_sql("a.embedding", "b.embedding", dim)
    return f"""WITH {ivf_kmeans_sql_ctes(k, iters, dim, table)},
        sd_tagged AS (
            SELECT e.vec_id, e.embedding, s.cell
            FROM {table} e JOIN km_assign s ON s.vec_id = e.vec_id)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell AS cell,
               {cos} AS cosine
        FROM sd_tagged a JOIN sd_tagged b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {cos} >= CAST({threshold} AS DOUBLE)"""


def semdedup_keep(
    vectors: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_cache_key: str | None = None,
) -> DataFrame:
    """SemDeDup survivor selection, paper rule 2.1: within each group
    of semantic duplicates keep the example with the LOWEST cosine to
    its cluster centroid (the one farthest from the cluster's center
    carries the most marginal information; ties -> lowest id).

    Groups are connected components of the ``semdedup_pairs`` graph
    (a >= threshold chain is one group even when its endpoints are
    < threshold apart — the same canonicalization the MinHash tier
    uses).  Output: every input id with (component, is_survivor) —
    the ``dedup_survivors`` contract.

    Centroid similarity is floor-quantized to 1e-6 before ranking so
    the argmin is bit-stable across engines/partitionings (the
    float-parity discipline); pytest pins the whole rule against an
    in-Python reference.
    """
    assign, cents = ivf_kmeans(
        vectors, k, iters, id_col, vec_col, cache_key=index_cache_key
    )
    # ONE materialized tagged relation feeds the pair scan and the
    # centroid-similarity branch (otherwise the csim branch would
    # recompute the corpus-scale assignment join a second time)
    tagged = _semdedup_tagged(vectors, assign, id_col, vec_col)
    pairs = _semdedup_pairs_from(tagged, threshold, id_col, vec_col)
    csim = (
        tagged.withColumn("__vnorm", norm_expr(vec_col))
        .join(F.broadcast(cents.withColumn("__cnorm", norm_expr("cvec"))), "cell")
        .select(
            F.col(id_col),
            # keep = LOWEST centroid sim -> rank by NEGATED quantized
            # sim under dedup_survivors' keep-the-highest policy
            (-F.floor(_cos_cell(vec_col) * F.lit(1000000.0)))
            .cast("double").alias("__neg_csim"),
        )
    )
    from .components import dedup_survivors

    return dedup_survivors(
        csim, pairs.select("id_a", "id_b"), id_col=id_col,
        order_col="__neg_csim",
    ).drop("__neg_csim")


# ---------------------------------------------------------------------------
# feature-hashing text embedder: documents -> vectors without
# an external model, so the WHOLE embedding tier (banded near-dup, ANN,
# persistent indexes) runs end-to-end from raw text.  The hashing trick
# (Weinberger et al. 2009): each token instance adds ±1 to the bucket
# md5-derived from the token; signs come from an independent md5 stream.
# Components are SIGNED INTEGER COUNTS (never normalized here), so the
# trained vectors are EXACT — integer-valued doubles sum identically in
# any order, no quantization needed; the downstream cosine normalizes
# with the same IEEE expression tree both engines share.
# ---------------------------------------------------------------------------


def hash_embed(
    docs: DataFrame,
    dim: int = EMBEDDING_DIM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(vec_id, embedding array<double>) — feature-hashed bag of
    tokens.  One explode + one map-side-combinable (doc, bucket) sum +
    one per-doc reassembly (state = that doc's <= dim buckets);
    zero-token docs are absent.  Deterministic and order-independent:
    buckets/signs are md5-derived, sums are integer-valued.
    """
    from .retrieval import search_tokens

    ex = docs.select(
        F.col(id_col).alias("__did"),
        F.explode(search_tokens(text_col)).alias("term"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("he|"), F.col("term"))), 1, 15), 16, 10)
        .cast("long") % dim
    )
    sign = F.when(
        F.conv(F.substring(F.md5(F.concat(F.lit("hs|"), F.col("term"))), 1, 1), 16, 10)
        .cast("long") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    per = (
        ex.select("__did", bucket.alias("__b"), sign.alias("__s"))
        .groupBy("__did", "__b")
        .agg(F.sum("__s").cast("double").alias("__v"))
    )
    dense = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(dim - 1).cast("long")),
        lambda b: F.coalesce(F.element_at("__m", b), F.lit(0.0)),
    )
    return (
        per.groupBy("__did")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__b", "__v"))
            ).alias("__m")
        )
        .select(F.col("__did").alias("vec_id"), dense.alias("embedding"))
    )


def hash_embed_sql(
    token_pattern: str, dim: int = EMBEDDING_DIM, pfx: str = "he"
) -> str:
    """DuckDB twin CTE chain ending in ``{pfx}_out``
    (vec_id, embedding), stage-for-stage with :func:`hash_embed` over
    the ``documents`` view."""
    return f"""
        {pfx}_tok AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{token_pattern}')) AS term
            FROM documents),
        {pfx}_bs AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5('he|' || term), 1, 15))
                        AS BIGINT) % {dim} AS b,
                   CASE WHEN CAST(concat('0x', substr(md5('hs|' || term), 1, 1))
                             AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
            FROM {pfx}_tok),
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
