"""Streaming EMBEDDING ingestion with incremental near-dup dedup —
the vector-modality twin of streaming/ingest.py's text tier.

New embedding batches land in a feed directory; each micro-batch is
near-dup-collapsed (a) WITHIN itself (embedding_dup_pairs_lsh +
dedup_survivors, min-id keep), (b) against the base corpus and every
earlier admitted batch by probing the PERSISTED banded-LSH bucket
index (similarity.vector_dup_probe — the index is built once from
corpus+sink and then only appended), and (c) the admitted remainder's
bucket rows are appended to the index (lsh_index_append,
replay-idempotent) BEFORE the idempotent sink insert.

Crash ordering is the minhash tier's argument verbatim: orphan bucket
rows (append landed, insert did not) are only false-positive
candidates — the probe's verify join finds no corpus vector for them;
the reverse order would admit vectors no future batch can ever dedup
against.  At-least-once replays compose with the anti-join append and
the keyed sink insert to effectively-once admission, with no
transactional coupling between the two stores.

The index uses the INGEST band layout (VECTOR_DEDUP_BANDS x
VECTOR_DEDUP_PLANES = 16x10 by default), not the small-corpus 8x3
dedup layout or the ANN top-k layout; the committed params pin it, so
pointing a differently-built dir here refuses loudly.  Sizing rule:
bucket occupancy ~ corpus / 2^planes_per_band, and the candidate
volume (the verify-stage cost) is batch x occupancy x bands — pick
planes_per_band >= log2(corpus / target_occupancy).  At 16x10,
recall for a true near-identical pair (cos >= 0.99, the dedup
regime) is ~1.0 (per-band p^10 with p = 1 - arccos(c)/pi; any of 16
bands), and ~0.98 at the threshold's edge cos = 0.9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..checkpoint import materialize
from ..operators.artifact_manifest import artifact_open
from ..operators.components import dedup_survivors
from ..operators.similarity import (
    embedding_dup_pairs_lsh,
    lsh_index_append,
    lsh_index_ensure,
    vector_dup_probe,
)
from ..operators.manifest_sink import manifest_insert_if_absent, read_manifest_sink

#: default exact-cosine acceptance — the near-identical regime vector
#: dedup targets.
VECTOR_DUP_THRESHOLD = 0.9

#: ingest band layout (module docstring sizing rule): 2^10 = 1024
#: buckets per band keeps occupancy — and with it the probe's
#: candidate volume — at corpus/1024 per band.
VECTOR_DEDUP_BANDS = 16
VECTOR_DEDUP_PLANES = 10


def dedup_and_index_batch(
    batch_vecs: DataFrame,
    existing_vecs: DataFrame,
    index_dir: str,
    threshold: float,
    bands: int,
    planes_per_band: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_params: dict | None = None,
    dim: int | None = None,
) -> DataFrame:
    """The vector family's shared dedup core — ONE home for the
    crash-ordering invariant, shared by the vector and media flows:

    (a) within-batch near-dup collapse (min-id survivor),
    (b) probe the persisted LSH index (built-if-absent over
        ``existing_vecs``) + exact-cosine verify against
        ``existing_vecs``,
    (c) append the admitted remainder's bucket rows to the index
        (replay-idempotent) — BEFORE the caller's sink insert, so a
        crash leaves at worst orphan index rows (false-positive
        candidates the verify join discards), never admitted rows no
        future batch can dedup against.

    Returns the admitted vectors, MATERIALIZED (they feed the caller's
    sink insert and any side-store).  ``batch_vecs`` should already be
    materialized by the caller (it is a bounded micro-batch consumed
    several times here).  ``extra_params`` pins extra artifact
    identity (e.g. the embedder) on both the build and the append.
    ``dim`` sizes the hyperplane family (None = the 64-dim default) —
    a wrong dim collapses every bucket to 0 and the banded joins go
    quadratic (see banded_bucket_rows)."""
    from ..operators.similarity import EMBEDDING_DIM

    if dim is None:
        dim = EMBEDDING_DIM
    index = lsh_index_ensure(
        existing_vecs, index_dir,
        artifact_open(existing_vecs.sparkSession, index_dir),
        tables=bands, planes_per_table=planes_per_band,
        id_col=id_col, vec_col=vec_col, extra_params=extra_params,
        dim=dim,
    )
    pairs = embedding_dup_pairs_lsh(
        batch_vecs, threshold, bands, planes_per_band, id_col, vec_col,
        dim=dim,
    )
    keep = (
        dedup_survivors(batch_vecs.select(id_col), pairs, id_col=id_col)
        .filter("is_survivor")
        .select(id_col)
    )
    admitted = batch_vecs.join(keep, id_col, "left_semi")
    dups = vector_dup_probe(
        admitted, index.table("buckets"), existing_vecs, threshold,
        bands, planes_per_band, id_col, vec_col,
        dim=dim,
    )
    admitted = materialize(
        admitted.join(dups.select(id_col).distinct(), id_col, "left_anti")
    )
    lsh_index_append(
        admitted, index,
        tables=bands, planes_per_table=planes_per_band,
        id_col=id_col, vec_col=vec_col, extra_params=extra_params,
        dim=dim,
    )
    return admitted


def run_streaming_vector_ingest(
    spark: SparkSession,
    corpus_path: str,
    feed_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    index_dir: str,
    threshold: float = VECTOR_DUP_THRESHOLD,
    feed_glob: str = "*.parquet",
    max_files_per_trigger: int | None = None,
    bands: int = VECTOR_DEDUP_BANDS,
    planes_per_band: int = VECTOR_DEDUP_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Drain the feed with an availableNow trigger, admitting only
    vectors with no near-duplicate (cosine >= threshold) in the
    corpus, the admitted store, or earlier in their own batch.

    The admitted store is manifest-committed (operators/
    manifest_sink.py): each batch becomes visible at ONE atomic
    manifest rename and is read back committed-rows-only, so a
    concurrent reader never observes a partial append; a legacy
    plain-parquet store is adopted in place by the first batch."""
    corpus = spark.read.parquet(corpus_path)
    # one driver-side probe of the corpus vector dim: raw
    # embedding feeds carry no artifact to read it from, and a
    # non-64-dim corpus under the default plane family would bucket
    # everything to 0 (quadratic candidates, silently).  NULL rows are
    # skipped and an EMPTY corpus defers the probe to the first batch
    # (falling back to 64 here would rebuild the very bug, and pin a
    # poisoned unpinned index a later corpus run refuses).
    from pyspark.sql import functions as _F

    first = (
        corpus.filter(_F.col(vec_col).isNotNull()).select(vec_col).first()
    )
    dim = len(first[0]) if first is not None else None
    reader = (
        spark.readStream.schema(corpus.schema)
        .option("pathGlobFilter", feed_glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    feed = reader.parquet(feed_dir)

    def admit_batch(batch: DataFrame, batch_id: int) -> None:
        ss = batch.sparkSession
        existing = corpus
        sink = read_manifest_sink(ss, sink_path, corpus.schema)
        if sink is not None:
            existing = existing.unionByName(sink)
        # the batch feeds the pair search, the survivor filter, the
        # probe AND the append — materialize the bounded set once,
        # then run the family's shared dedup core (build-if-absent
        # index, within-batch collapse, probe, append-before-insert)
        batch = materialize(batch)
        batch_dim = dim
        if batch_dim is None:
            # empty-corpus bootstrap: size the plane family from the
            # batch itself (bounded; one driver-side first())
            bf = (
                batch.filter(F.col(vec_col).isNotNull())
                .select(vec_col).first()
            )
            if bf is None:
                return  # nothing usable in this batch either
            batch_dim = len(bf[0])
        admitted = dedup_and_index_batch(
            batch, existing, index_dir,
            threshold, bands, planes_per_band, id_col, vec_col,
            dim=batch_dim,
        )
        manifest_insert_if_absent(ss, admitted, sink_path, [id_col])

    (
        feed.writeStream.foreachBatch(admit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
