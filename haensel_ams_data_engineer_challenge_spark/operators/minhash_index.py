"""Persisted MinHash band index and the near-dup tier's one pass per
micro-batch.

`dedup_minhash_lsh` finds near-dups WITHIN a frame; ingestion also
needs the cross-batch form — "is this new document a near-duplicate of
anything the corpus already holds?" — without re-banding the corpus
per batch.  The `minhash_bands` output (doc_id, band, band_key) is
persisted as an index artifact under the manifest commit protocol
(artifact_manifest.py, like the ANN indexes), probed with each new
batch's band rows, and the candidates are exact-verified.

One pass per batch (:func:`near_dup_pass`): the batch's signatures are
computed once; ONE candidate set holds the within-batch band pairs
(batch-side flood cap, as `dedup_minhash_lsh`) and the batch x index
band pairs (index-side flood cap); ONE exact-Jaccard verify reads the
shingles of the batch and of the candidate corpus docs only.  The
min-id survivor of each within-batch component is kept
(`dedup_survivors`), every survivor with a verified index pair is
dropped, and the survivors' band rows — derived from the same
signatures — are what :func:`minhash_index_append` commits onto the
snapshot the caller opened.  :func:`near_dup_probe` is the index-pair
view of the same verify.

Cost per batch: the shuffles are O(batch bands) — the batch side
broadcasts into the band equi-join, so the index is never shuffled —
and the corpus text is touched only for the candidate sliver.  Two
index-wide SCANS remain: the index-side flood-cap bucket histogram and
the already-indexed-id anti-join of the append, both
map-side-combined aggregations over the column-pruned band store.  If
they ever dominate, the next step is maintaining the histogram and an
id roster as artifact tables updated at append time, not changing the
probe shape.  The index grows by appended parquet files; correctness
never requires compaction (band rows are immutable facts about a doc),
and `minhash_index_compact` exists for the small-files hygiene.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..checkpoint import materialize
from ..functions.text import word_shingles
from .artifact_manifest import (
    ArtifactSnapshot,
    artifact_append,
    artifact_check,
    artifact_compact,
    artifact_open,
    artifact_overwrite,
)
from .components import dedup_survivors
from .dedup import (
    MAX_BAND_BUCKET,
    MINHASH_BAND_SIZE,
    MINHASH_K,
    drop_flooded_buckets,
    minhash_bands,
)

#: default exact-Jaccard acceptance for the incremental probe — same
#: bar as verify_candidates' full-corpus form.
NEAR_DUP_THRESHOLD = 0.5


def _params(k: int, band_size: int, shingle_n: int) -> dict:
    return {
        "kind": "minhash",
        "k": k,
        "band_size": band_size,
        "shingle_n": shingle_n,
    }


def minhash_index_build(
    docs: DataFrame,
    path: str,
    k: int = MINHASH_K,
    band_size: int = MINHASH_BAND_SIZE,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    force: bool = False,
) -> ArtifactSnapshot:
    """The committed MinHash band index at ``path`` (its ``bands``
    table holds (doc_id, band, band_key)), built from ``docs`` first if
    absent.  ``force=True`` rebuilds unconditionally (the
    bootstrap-from-batch surface: ``corpus --save-near-dup-index``
    snapshots the CURRENT admitted corpus, it must never serve an older
    run's artifact).  Returns the served generation; the caller probes
    and appends through this one snapshot.

    The band files and the params commit in one atomic manifest
    rename, so a torn build (killed mid-save) left no manifest and is
    rebuilt, a committed artifact with different hyperparameters
    raises, and a ``force`` rebuild is just a new generation (readers
    of the previous generation keep a complete band set).  Legacy
    marker-layout artifacts are still served and are upgraded in place
    by their next mutating operation.  Single WRITER per path enforced
    by the heartbeat lease; concurrent readers are safe.
    """
    spark = docs.sparkSession
    params = _params(k, band_size, shingle_n)
    snap = artifact_open(spark, path)
    if force or not artifact_check(snap, params):
        snap = artifact_overwrite(
            spark, path,
            {
                "bands": minhash_bands(
                    docs, text_col, id_col, k, band_size, shingle_n
                )
            },
            {**params, "version": 1},
            snap,
        )
    return snap


def minhash_index_append(
    bands: DataFrame,
    index: ArtifactSnapshot | None,
    k: int = MINHASH_K,
    band_size: int = MINHASH_BAND_SIZE,
    shingle_n: int = 3,
    id_col: str = "doc_id",
) -> ArtifactSnapshot:
    """Append ``bands`` (`minhash_bands` rows computed under ``k``,
    ``band_size`` and ``shingle_n``) to the committed generation
    ``index``; returns the new generation.

    Idempotent under replay: ids already present in the index are
    anti-joined away before the append, so re-running a batch after a
    crash appends exactly the missing remainder (the keyed-sink insert
    discipline, applied to the index artifact).  Raises if ``index``
    is None or was built with other hyperparameters — band rows
    computed under different (k, band_size, shingle_n) would silently
    poison every future probe — and (ConcurrentWriterError) if another
    generation committed since ``index`` was opened.
    """
    if not artifact_check(index, _params(k, band_size, shingle_n)):
        raise ValueError(
            "no committed MinHash index to append to; build it first "
            "(minhash_index_build)"
        )
    existing = index.table("bands").select(id_col).distinct()
    got = dict(index.params)
    got["version"] = str(int(got.get("version", "1")) + 1)
    return artifact_append(
        index, {"bands": bands.join(existing, id_col, "left_anti")}, got
    )


def minhash_index_compact(
    spark,
    path: str,
    target_partitions: int | None = None,
    min_retention_minutes: float = 0.0,
) -> int:
    """Rewrite the append-fragmented band store as ``target_partitions``
    files (default: the session's shuffle parallelism) — the
    small-files remedy for an index that grows by one parquet fragment
    per ingested batch.  Returns the number of band rows compacted.

    The compacted files stage privately, move in under fresh names, and
    ONE manifest rename commits them, so there is no torn window; a
    reader that resolved the previous manifest keeps its complete band
    set for one more generation.  A legacy marker-layout artifact is
    adopted by the same commit.  Compaction is hyperparameter-agnostic
    (it moves rows, it does not interpret them): the only requirement
    is a COMMITTED artifact.
    """
    return artifact_compact(
        spark, path, target_partitions,
        min_retention_minutes=min_retention_minutes,
    )


def _verified_pairs(
    batch: DataFrame,
    batch_bands: DataFrame,
    index_bands: DataFrame,
    corpus: DataFrame,
    threshold: float,
    within: bool,
    shingle_n: int,
    text_col: str,
    id_col: str,
    max_bucket_size: int | None,
) -> DataFrame:
    """(id, dup_of, in_index, jaccard): the candidate pairs of one batch
    whose exact word-shingle Jaccard is >= ``threshold``.

    Candidates: the batch x index band pairs (``in_index``; ``dup_of``
    is an indexed doc, whose text is read from ``corpus``) and, with
    ``within``, the within-batch band pairs (id < dup_of, both batch
    docs).  Each side's flood cap counts that side's buckets: the
    index side as the incremental probe always has, the batch side as
    `dedup_minhash_lsh` does.  A candidate whose text is absent from
    ``corpus`` (orphan index rows from a crash between the index append
    and the sink insert — streaming/ingest.py crash ordering) drops out
    at the verify join: orphan rows cost candidate work, never a false
    drop.
    """

    def capped(bands):
        if max_bucket_size is None:
            return bands
        return drop_flooded_buckets(bands, max_bucket_size)

    # batch band rows BROADCAST against the index: a micro-batch is
    # bounded by contract (the stream's maxFilesPerTrigger / the
    # caller's split), so its ~4 rows/doc band set is broadcast-class —
    # and the alternative shuffles the ENTIRE index per batch, the one
    # thing an O(batch) probe must never do
    cand = (
        F.broadcast(batch_bands)
        .join(
            capped(index_bands).withColumnRenamed(id_col, "dup_of"),
            ["band", "band_key"],
        )
        .select(id_col, "dup_of", F.lit(True).alias("in_index"))
    )
    if within:
        wb = capped(batch_bands)
        a, b = wb.alias("a"), wb.alias("b")
        cand = cand.unionByName(
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            ).select(
                F.col(f"a.{id_col}").alias(id_col),
                F.col(f"b.{id_col}").alias("dup_of"),
                F.lit(False).alias("in_index"),
            )
        )
    # the pair set feeds the corpus-side id list and the verify join;
    # it is small by LSH design (capped buckets bound it by batch bands
    # x MAX_BAND_BUCKET).  Its consumers broadcast it EXPLICITLY:
    # localCheckpoint scans report no size statistics, so AQE would
    # otherwise demote these bounded joins to sort-merge.
    cand = materialize(cand.distinct())

    # exact Jaccard per candidate pair from the two docs' distinct
    # shingle sets: |A n B| by array_intersect, row-local — no shingle
    # explode, no shingle-keyed shuffle.  The batch side is the whole
    # (bounded, materialized) batch; the corpus side only the candidate
    # docs, selected by a broadcast semi-join
    def sets(docs, in_index):
        return docs.select(
            F.lit(in_index).alias("in_index"),
            F.col(id_col).alias("dup_of"),
            word_shingles(text_col, shingle_n).alias("__b"),
        )

    corpus_ids = (
        cand.filter("in_index").select(F.col("dup_of").alias(id_col)).distinct()
    )
    other = sets(batch, False).unionByName(
        sets(corpus.join(F.broadcast(corpus_ids), id_col, "left_semi"), True)
    )
    own = sets(batch, False).select(
        F.col("dup_of").alias(id_col), F.col("__b").alias("__a")
    )
    inter = F.size(F.array_intersect("__a", "__b"))
    return (
        F.broadcast(cand)
        .join(own, id_col)
        .join(other, ["in_index", "dup_of"])
        .withColumn(
            "jaccard",
            inter.cast("double")
            / (F.size("__a") + F.size("__b") - inter).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(id_col, "dup_of", "in_index", "jaccard")
    )


def near_dup_pass(
    batch: DataFrame,
    index: ArtifactSnapshot,
    corpus: DataFrame,
    threshold: float = NEAR_DUP_THRESHOLD,
    k: int = MINHASH_K,
    band_size: int = MINHASH_BAND_SIZE,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = MAX_BAND_BUCKET,
) -> tuple[DataFrame, DataFrame]:
    """(survivors, survivor band rows) of one batch against the index
    generation ``index`` whose docs' text is in ``corpus``.

    Survivors, materialized: the batch rows that are the min-id member
    of their within-batch near-dup component and have no verified
    near-dup in the index — the same set as collapsing the batch with
    `verify_candidates` + `dedup_survivors` and then dropping the
    :func:`near_dup_probe` hits, from one signature pass and one
    verify.  The band rows are the survivors' rows of that one pass,
    ready for :func:`minhash_index_append` onto ``index``.
    """
    bands = minhash_bands(batch, text_col, id_col, k, band_size, shingle_n)
    # the verified pairs feed the component search and the index-hit
    # drop; bounded by the candidate set — materialize once
    pairs = materialize(
        _verified_pairs(
            batch, bands, index.table("bands"), corpus, threshold, True,
            shingle_n, text_col, id_col, max_bucket_size,
        )
    )
    keep = (
        dedup_survivors(
            batch.select(id_col),
            pairs.filter(~F.col("in_index")).select(
                F.col(id_col).alias("id_a"), F.col("dup_of").alias("id_b")
            ),
            id_col=id_col,
        )
        .filter("is_survivor")
        .select(id_col)
        .join(pairs.filter("in_index").select(id_col), id_col, "left_anti")
    )
    survivors = materialize(batch.join(keep, id_col, "left_semi"))
    return survivors, bands.join(survivors.select(id_col), id_col, "left_semi")


def near_dup_probe(
    batch: DataFrame,
    index_bands: DataFrame,
    corpus: DataFrame,
    threshold: float = NEAR_DUP_THRESHOLD,
    k: int = MINHASH_K,
    band_size: int = MINHASH_BAND_SIZE,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Batch docs near-duplicate of an already-indexed doc.

    Output: (doc_id, dup_of, jaccard) — one row per (batch doc,
    indexed doc) pair whose exact word-shingle Jaccard >= threshold;
    callers drop ``doc_id`` (anti-join) to admit only novel text.  The
    index-pair view of :func:`near_dup_pass`'s verify (flood cap on the
    INDEX side only; candidate docs' text only)."""
    return _verified_pairs(
        batch,
        minhash_bands(batch, text_col, id_col, k, band_size, shingle_n),
        index_bands, corpus, threshold, False,
        shingle_n, text_col, id_col, max_bucket_size,
    ).select(id_col, "dup_of", "jaccard")
