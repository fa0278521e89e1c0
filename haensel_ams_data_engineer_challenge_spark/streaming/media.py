"""Streaming MEDIA ingestion with semantic near-dup dedup (round 12)
— the payload-modality member of the ingest family (text:
:mod:`.ingest`; precomputed vectors: :mod:`.vectors`).

New media batches — (id, payload binary) parquet files, images or
audio — land in a feed directory; each micro-batch EMBEDS its payloads
through a committed encoder artifact (``image-v1`` / ``audio-v1`` via
:func:`..operators.embed.embed_with_model` — one Arrow decode pass,
the dedup-images/dedup-audio feature space), then near-dup-collapses

(a) WITHIN itself (``embedding_dup_pairs_lsh`` + min-id survivors),
(b) against the base corpus and every earlier admitted batch by
    probing the PERSISTED banded-LSH bucket index
    (``vector_dup_probe``), and
(c) appends the admitted remainder's bucket rows to the index
    BEFORE the sink insert — the family's crash-ordering rule.

Because the payloads themselves are not re-embeddable for free (the
vector flow's ``corpus`` IS its vectors; here re-deriving them means
re-decoding every admitted payload every batch), the flow keeps a
VECTORS SIDE-STORE (``vectors_path``): embeddings of the media corpus
(bootstrapped once, on the first batch) plus every admitted batch.
The probe verifies exact cosine against this store.  Write order per
batch — index append, MEDIA sink insert, vectors insert — makes every
crash window safe under at-least-once replay:

- orphan INDEX rows (append landed, nothing else): candidates whose
  verify join finds no vector in the store — never a false drop; the
  replayed batch re-admits and the anti-joined append is a no-op.
- sink row without its vector (crash between the two inserts): the
  replayed batch re-runs, the probe finds no near-dup (the vector is
  still absent), the media insert anti-joins to a no-op, and the
  vectors insert lands — self-healed.  The store can LAG the sink for
  the duration of a replay, never lead it (a leading "ghost" vector
  would silently drop a future duplicate of a payload that was never
  admitted — the one unrecoverable order).

FEATURELESS payloads (a constant image, digital silence: the feature
vector has no direction, the zero-token contract) bypass the semantic
tier and are admitted by keyed insert alone — two silent clips are
NOT each other's duplicates in envelope space, and pretending
otherwise would cluster every blank scan in the corpus.  Undecodable
payloads are NOT featureless: the fake rung hashes their bytes, so a
byte-exact re-upload still lands at cosine 1.0 and dedups.

The index artifact pins the EMBEDDER identity (``kind@version``) in
its params — a feed probed through a different or rebuilt encoder
refuses loudly instead of silently mixing vector spaces (the
semantic-text-ingest rule, streaming/ingest.py).

Reference analogue: none (the reference ingests rows, not media);
the seam contract cites api_utils.py:68-138 like the encoder kinds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..checkpoint import materialize
from ..operators.artifact_manifest import artifact_open
from ..operators.embed import embed_with_model
from ..operators.manifest_sink import manifest_insert_if_absent, read_manifest_sink
from .vectors import (
    VECTOR_DEDUP_BANDS,
    VECTOR_DEDUP_PLANES,
    VECTOR_DUP_THRESHOLD,
    dedup_and_index_batch,
)


def run_streaming_media_ingest(
    spark: SparkSession,
    corpus_path: str,
    feed_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    index_dir: str,
    vectors_path: str,
    encoder_path: str,
    threshold: float = VECTOR_DUP_THRESHOLD,
    feed_glob: str = "*.parquet",
    max_files_per_trigger: int | None = None,
    bands: int = VECTOR_DEDUP_BANDS,
    planes_per_band: int = VECTOR_DEDUP_PLANES,
    id_col: str = "doc_id",
) -> None:
    """Drain the feed with an availableNow trigger, admitting only
    media whose embedding has no near-duplicate (cosine >= threshold)
    in the corpus, the admitted store, or earlier in its own batch —
    plus all featureless payloads (module docstring).  The admitted
    media store and the vectors side-store are both manifest-committed
    (operators/manifest_sink.py): each batch becomes visible at one
    atomic manifest rename."""
    # driver-side validation before any task runs: a missing/foreign
    # artifact raises here, the embedder identity pins the index, and
    # every batch of the drain encodes with this one snapshot
    enc_snap = artifact_open(spark, encoder_path)
    enc = enc_snap.params if enc_snap is not None else {}
    if enc.get("kind") != "encoder":
        raise ValueError(
            f"no committed encoder artifact at {encoder_path}; build it "
            "first (image_encoder_build / audio_encoder_build)"
        )
    embedder = {"embedder": f"{enc['encoder']}@{enc.get('version', '1')}"}
    enc_dim = int(enc.get("dim", 64))

    corpus = spark.read.parquet(corpus_path)
    reader = (
        spark.readStream.schema(corpus.schema)
        .option("pathGlobFilter", feed_glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    feed = reader.parquet(feed_dir)

    def admit_batch(batch: DataFrame, batch_id: int) -> None:
        ss = batch.sparkSession
        # bootstrap the vectors side-store from the media corpus ONCE
        # (the one full-corpus decode; every later batch reads it back)
        vecs_existing = read_manifest_sink(ss, vectors_path)
        if vecs_existing is None:
            manifest_insert_if_absent(
                ss,
                embed_with_model(
                    ss.read.parquet(corpus_path), enc_snap, id_col=id_col
                ),
                vectors_path,
                ["vec_id"],
            )
            vecs_existing = read_manifest_sink(ss, vectors_path)
        # the batch feeds the embed, the featureless split and both
        # admits — materialize the bounded set once; same for its
        # vectors (pair scan + probe + append + insert)
        batch_m = materialize(batch)
        bvecs = materialize(
            embed_with_model(batch_m, enc_snap, id_col=id_col)
        )
        # the family's shared dedup core (streaming/vectors.py):
        # within-batch collapse, probe vs the store, index append
        # BEFORE any sink insert — one home for the crash ordering
        admitted_vecs = dedup_and_index_batch(
            bvecs, vecs_existing, index_dir,
            threshold, bands, planes_per_band,
            extra_params=embedder, dim=enc_dim,
        )
        admitted_ids = admitted_vecs.select(
            F.col("vec_id").alias(id_col)
        )
        # featureless payloads (absent from bvecs) bypass the tier
        featureless = batch_m.join(
            bvecs.select(F.col("vec_id").alias(id_col)), id_col, "left_anti"
        )
        admitted_media = batch_m.join(
            admitted_ids, id_col, "left_semi"
        ).unionByName(featureless)
        # write order: index (inside the core) -> media sink ->
        # vectors store (module docstring: every gap self-heals)
        manifest_insert_if_absent(ss, admitted_media, sink_path, [id_col])
        manifest_insert_if_absent(ss, admitted_vecs, vectors_path, ["vec_id"])

    (
        feed.writeStream.foreachBatch(admit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
