"""Streaming corpus ingestion with incremental exact dedup.

The production shape of corpus growth: new document batches land in a
feed directory; each micro-batch is deduplicated (a) WITHIN itself,
(b) against the static base corpus, and (c) against everything earlier
batches already admitted — then appended idempotently.  (b) and (c)
run through `operators/dedup.incremental_new_docs`, i.e. the
broadcast Bloom-bitmap prefilter + exact anti-join verify, so the
admitted-docs store is probed without ever shuffling the corpus.

foreachBatch deliberately reuses the BATCH operators (the
streaming/journeys.py discipline — one codepath, one set of oracle
tests) and the sink is `manifest_insert_if_absent` on doc_id, so
replays of a partially-committed batch after a crash write exactly the
missing remainder: Structured Streaming's at-least-once delivery composes
with the idempotent sink to effectively-once admission.

Cross-batch dedup soundness mirrors the attribution stream's claimed-
sessions pattern (journeys.py): the set of already-admitted texts is
persisted in the SINK, not in driver memory, so a restart — even with
a fresh checkpoint — cannot re-admit a duplicate.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.artifact_manifest import (
    ArtifactSnapshot,
    artifact_append,
    artifact_open,
    artifact_overwrite,
)
from ..operators.dedup import (
    BLOOM_K,
    BLOOM_M_BITS,
    bloom_bitmap,
    dedup_exact,
    incremental_new_docs,
    normalize_text,
)
from ..operators.manifest_sink import manifest_insert_if_absent, read_manifest_sink
from ..session import local_frame


def dedup_batch_within(batch: DataFrame) -> DataFrame:
    """Keep one doc per distinct normalized text WITHIN a batch
    (min doc_id — dedup_exact's keep policy)."""
    keep = dedup_exact(batch).select(F.col("keep_id").alias("doc_id"))
    return batch.join(keep, "doc_id", "left_semi")


class _BloomState:
    """A persisted Bloom bitmap (the text tier's or the URL tier's),
    cached as a driver dict of bitmap words for the life of one query.

    On disk the state is ONE params-only manifest generation
    (artifact_manifest.py): ``m_bits``, ``k`` and the words commit
    together in one atomic rename, so loading reads one manifest and a
    commit starts no Spark job.  The words dict is broadcast-budget
    class by construction (<= m_bits/64 entries — size m_bits to the
    corpus AND the driver/broadcast budget together; past that,
    partition the keyspace)."""

    def __init__(self, state_dir: str, m_bits: int, k: int) -> None:
        self.state_dir, self.m_bits, self.k = state_dir, m_bits, k
        self.snap: ArtifactSnapshot | None = None
        self.words: dict[int, int] | None = None

    def load(self, ss: SparkSession) -> None:
        """Read the committed words, leaving ``words`` None when nothing
        is committed: an absent dir, a torn commit (a staged manifest
        tmp file and no generation) or the older two-parquet-table
        layout.  The caller then reseeds from corpus+sink, which is safe
        because the state is derived data.  An m_bits/k mismatch is a
        hard error instead — that is caller misconfiguration, and
        reseeding would silently change the fpr."""
        self.snap = artifact_open(ss, self.state_dir)
        if self.snap is None or self.snap.version == 0:
            return
        exp = {"m_bits": str(self.m_bits), "k": str(self.k)}
        got = {key: self.snap.params.get(key) for key in exp}
        if got != exp:
            raise ValueError(
                f"bloom state at {self.state_dir} was built with {got}; "
                f"caller expects {exp} — use a different state dir or "
                "delete it"
            )
        self.words = {
            int(i): int(b) for i, b in json.loads(self.snap.params["words"])
        }

    def merge(self, keys: DataFrame, key_col: str) -> None:
        """OR the bits of ``keys`` into the cached words (bit_or is
        associative and idempotent: a replayed batch re-ORs as a
        no-op)."""
        for r in bloom_bitmap(keys, key_col, self.m_bits, self.k).collect():
            self.words[r["word_idx"]] = (
                self.words.get(r["word_idx"], 0) | r["bits"]
            )

    def bitmap(
        self, ss: SparkSession, target: DataFrame, key_col: str
    ) -> DataFrame:
        """The cached words as a (word_idx, bits) frame: loaded on first
        use, seeded from the keys of ``target`` (the full dedup target)
        when nothing is committed."""
        if self.words is None:
            self.load(ss)
        if self.words is None:
            self.words = {}
            self.merge(target, key_col)
        return local_frame(
            ss, sorted(self.words.items()), "word_idx long, bits long"
        )

    def commit(self, ss: SparkSession) -> None:
        """Commit the cached words as the next generation."""
        self.snap = artifact_overwrite(
            ss, self.state_dir, {},
            {
                "m_bits": self.m_bits,
                "k": self.k,
                "words": json.dumps(sorted(self.words.items())),
            },
            self.snap,
        )


def run_streaming_ingest(
    spark: SparkSession,
    corpus_path: str,
    feed_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    feed_glob: str = "*.parquet",
    max_files_per_trigger: int | None = None,
    drop_gopher_fail: bool = False,
    bloom_state_dir: str | None = None,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    near_dup_index_dir: str | None = None,
    near_dup_threshold: float | None = None,
    quality_model_dir: str | None = None,
    keep_pred: list[str] | None = None,
    semantic_index_dir: str | None = None,
    semantic_threshold: float = 0.9,
    encoder_model_dir: str | None = None,
    lm_model_dir: str | None = None,
    max_xent: float | None = None,
    url_dedup_col: str | None = None,
    url_bloom_state_dir: str | None = None,
    unicode_normalize: bool = True,
) -> None:
    """Drain the feed with an availableNow trigger, admitting only
    genuinely-new documents into ``sink_path``.

    ``corpus_path``: the static base corpus (parquet).  The admitted
    store at ``sink_path`` accumulates across batches and runs; both
    are dedup targets for every micro-batch.

    ``drop_gopher_fail``: apply the Gopher quality rules row-locally
    BEFORE dedup (the corpus CLI's gate, at ingestion time) — a
    rejected doc is rejected forever, so the filter must run before
    its text can claim a slot in the admitted store.

    ``bloom_state_dir``: PERSIST the Bloom bitmap and OR-merge each
    batch's admitted bits into it (bit_or is associative and
    idempotent, so a replayed batch re-ORs as a no-op) instead of
    rebuilding the bitmap from corpus+sink on EVERY micro-batch —
    at real scale the rebuild is a full corpus aggregation per batch,
    the one O(corpus)-per-batch step in this pipeline (the exact
    verify stays, but touches only the maybe-dup sliver and the
    column-pruned hash).  The state is ONE params-only manifest
    generation (``m_bits``, ``k`` and the bitmap words, committed in
    one atomic rename through operators/artifact_manifest.py): a load
    reads one manifest and a commit starts no Spark job.
    Crash-ordering: the updated bitmap commits BEFORE the sink insert
    — a crash between the two leaves orphan bits, which are only false
    positives (caught by the exact verify); the reverse order could
    leave admitted docs without bits, i.e. false negatives that
    re-admit duplicates.  The first batch — or a dir with no committed
    generation (absent, a torn commit, or the older two-parquet-table
    layout) — seeds from corpus+sink; that is safe because the state
    is derived data.  An ``m_bits``/``k`` mismatch refuses.  A
    concurrent writer makes the commit refuse (the artifact writer
    lease + stale-generation check) instead of racing it.

    ``near_dup_index_dir``: add the NEAR-dup tier beside the exact
    one.  A persisted MinHash band index (operators/minhash_index.py,
    manifest protocol) is built from corpus+sink on first use; each
    batch's exact-tier survivors go through ONE pass
    (minhash_index.near_dup_pass): signatures computed once, the
    within-batch and batch x index band candidates exact-verified
    together, the min-id survivor of each within-batch component kept
    and every survivor with a verified index near-dup dropped; the
    survivors' band rows are then APPENDED onto the index generation
    the batch opened.  Crash ordering mirrors the Bloom tier: index
    append runs BEFORE the sink insert, because orphan band rows are
    only false-positive candidates (killed at the verify join — the
    corpus has no text for them), while the reverse order could leave
    admitted docs unindexed, i.e. near-dups that slip in forever
    after.  The append itself is replay-idempotent (anti-join on
    already-indexed ids).
    ``near_dup_threshold``: exact-Jaccard acceptance (default
    minhash_index.NEAR_DUP_THRESHOLD).

    ``semantic_index_dir``: the SEMANTIC tier (closing the
    incremental set: exact Bloom / lexical MinHash / semantic) — a
    persisted banded-LSH bucket index over FEATURE-HASHED embeddings
    of the dedup target (hash_embed: no external model), built from
    corpus+sink on first use with the streaming 16x10 layout.  Each
    batch's surviving docs are (a) semantically collapsed WITHIN the
    batch (embedding_dup_pairs_lsh over the batch's hashed vectors +
    min-id survivors), (b) probed against the index with exact-cosine
    verify >= ``semantic_threshold`` (similarity.semantic_dup_probe —
    corpus-side embeddings computed for CANDIDATE docs only, so no
    batch pays an O(corpus) embed), and (c) the admitted remainder's
    bucket rows APPENDED before the sink insert (the same orphan-rows-
    are-only-false-positives crash ordering as the other tiers; the
    probe's candidate semi-join against the text store is what kills
    orphans).  Runs AFTER the lexical tier: it is the loosest signal.

    ``encoder_model_dir``: run the semantic tier on the
    MODEL-INFERENCE SEAM (operators/embed.embed_with_model —
    executor-cached encoder artifact) instead of ``hash_embed``.  The
    encoder artifact is built from the current dedup target on first
    use (build-if-absent, the tiers' shared discipline) and its
    IDENTITY (encoder kind + artifact version) is pinned in the
    semantic index's committed params: probing or appending an index
    built under a different encoder — including a REBUILT one, whose
    vector space differs — raises instead of silently mixing spaces.
    This is the paraphrase upgrade: synonym-swapped near-dups that the
    lexical tier and hash_embed both admit are caught here
    (pytest-contrast-proven).

    ``lm_model_dir`` + ``max_xent``: the PERPLEXITY gate —
    the CCNet filter proper: score each batch against the persisted
    unigram LM artifact (lm.lm_model_build; feature key pins the
    tokenizer) and keep only documents whose cross-entropy is at most
    ``max_xent`` nats.  Model-unseen tokens score at the artifact's
    unseen-term mass, so OOV gibberish lands at maximum xent and is
    dropped — exactly the tail the filter exists to cut.  Runs BEFORE
    dedup like the other quality gates (a rejected doc must never
    claim an admitted-store slot); zero-token docs are unscorable and
    rejected, the classifier gate's argument verbatim.

    ``quality_model_dir`` + ``keep_pred``: the trained-classifier gate
    (the FineWeb-Edu/CCNet shape) — score each batch with the
    PERSISTED NB model artifact (classify.nb_model_build; the marker's
    ``feature`` key selects the tokenizer, so the gate can never score
    mismatched tokens) and keep only documents whose predicted class
    is in ``keep_pred``.  Runs BEFORE dedup, like the Gopher gate: a
    rejected doc is rejected forever and must not claim an
    admitted-store slot.  Zero-token documents score as no class and
    are rejected — a document the tokenizer cannot see is not
    classifiable, and admitting it unscored would bypass the gate.

    ``url_dedup_col``: the URL tier —
    the FIRST tier, ahead of every quality gate and content tier: a
    re-crawl of an already-admitted URL (utm/gclid-tagged, case /
    default-port / trailing-slash variants) is rejected on
    ``functions.url.canonical_url`` of the named column before any
    content work happens.  Within-batch keep is min doc_id (the dedup
    tiers' shared rule); rows with no usable URL pass through to the
    content tiers untouched.  The cross-batch probe anti-joins the
    column-pruned canonical-URL projection of corpus+sink; at real
    scale the same Bloom-bitmap state the exact tier uses applies
    verbatim keyed on the canonical URL (documented scale path).

    ``unicode_normalize`` (default on): the text-seam normalization
    (NFC, double-encoded-UTF-8 repair and invisible-character strip,
    ``functions.unicodenorm.normalize_docs``) applied right after the
    URL tier and BEFORE every quality gate and content tier, so an
    NFD / zero-width / mojibake re-save of an admitted document
    collides at the EXACT tier instead of slipping through as a
    byte-distinct twin.  A batch of plain printable ASCII passes
    through in the JVM and starts no Python worker; any other batch
    crosses into Python once, and every later tier reads that
    materialized copy.

    ``url_bloom_state_dir``: that scale path, real — a
    persisted Bloom bitmap over the canonical URLs of the dedup
    target, maintained exactly like the text tier's
    (``bloom_state_dir``): seeded from corpus+sink on first batch,
    OR-merged with each batch's ADMITTED urls and committed BEFORE the
    sink insert (orphan bits are only false positives, killed at the
    exact verify over the maybe-dup sliver — the
    ``incremental_new_keys`` contract).  The per-batch O(corpus) URL
    anti-join becomes a broadcast bitmap probe + a sliver-sized
    verify; the state commit itself starts no Spark job.  Requires
    ``url_dedup_col``.  The bitmap pays off once the target's
    canonical-URL projection scan costs more per batch than the probe
    and the sliver verify; admissions are identical either way
    (tests/test_url_dedup.py).
    """
    # validated up front: one half without the other would fail
    # mid-batch with a bare TypeError
    if (lm_model_dir is None) != (max_xent is None):
        raise ValueError(
            "lm_model_dir and max_xent go together: the perplexity gate "
            "needs both the LM artifact and its cross-entropy ceiling "
            f"(got lm_model_dir={lm_model_dir!r}, max_xent={max_xent!r})"
        )
    if url_bloom_state_dir is not None and url_dedup_col is None:
        raise ValueError(
            "url_bloom_state_dir needs url_dedup_col: the bitmap is "
            "keyed on the canonical form of that column"
        )
    corpus = spark.read.parquet(corpus_path)
    reader = (
        spark.readStream.schema(corpus.schema)
        .option("pathGlobFilter", feed_glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    feed = reader.parquet(feed_dir)

    # driver-cached bitmap words for the life of THIS query: loaded
    # from disk (or seeded) once, OR-merged in python per batch, and
    # committed per batch — a restart reloads the last committed
    # generation.  Caching avoids re-reading the state per micro-batch;
    # the python merge replaces a union+groupBy job.
    bloom = (
        _BloomState(bloom_state_dir, m_bits, k)
        if bloom_state_dir is not None else None
    )
    url_bloom = (
        _BloomState(url_bloom_state_dir, m_bits, k)
        if url_bloom_state_dir is not None else None
    )

    def admit_batch(batch: DataFrame, batch_id: int) -> None:
        ss = batch.sparkSession
        existing = corpus
        # committed rows only (files a killed batch moved in but never
        # committed are not admitted content); a missing sink is the
        # "first batch" case
        sink = read_manifest_sink(ss, sink_path, corpus.schema)
        if sink is not None:
            existing = existing.unionByName(sink)
        if url_dedup_col is not None:
            from ..functions.url import canonical_url

            # URL tier: a re-crawl of an already-admitted
            # URL is rejected before ANY content work (quality gates,
            # hashing, decode) — utm/gclid-tagged and case / port /
            # trailing-slash variant re-crawls of the same resource
            # collide on canonical_url.  NULL-url rows pass through.
            batch = batch.withColumn(
                "__cu", canonical_url(url_dedup_col)
            )
            keyed = batch.filter(F.col("__cu").isNotNull())
            survivors = keyed.join(
                keyed.groupBy("__cu").agg(
                    F.min("doc_id").alias("doc_id")
                ),
                ["__cu", "doc_id"],
                "left_semi",
            )
            target_urls = existing.select(
                canonical_url(url_dedup_col).alias("__cu")
            ).filter(F.col("__cu").isNotNull())
            if url_bloom is not None:
                from ..operators.dedup import incremental_new_keys

                # the scale path (docstring): persisted bitmap probe +
                # exact verify over the maybe-dup sliver only
                url_bitmap = url_bloom.bitmap(ss, target_urls, "__cu")
                new_url_ids = incremental_new_keys(
                    survivors.select("doc_id", "__cu"), target_urls,
                    "__cu", m_bits=m_bits, k=k, bitmap=url_bitmap,
                    verify_short_circuit=True,
                ).select("doc_id")
                survivors = survivors.join(
                    new_url_ids, "doc_id", "left_semi"
                )
            else:
                survivors = survivors.join(target_urls, "__cu", "left_anti")
            from ..checkpoint import materialize

            # EITHER form's tier subtree (anti-join against the
            # corpus-sized URL projection, or the bitmap probe's
            # join+groupBy+semi) would otherwise re-execute inside
            # EVERY downstream action of this micro-batch (gates,
            # content tiers, bitmap flushes, the sink insert all
            # re-run the batch plan) — measured 4x drain inflation on
            # the bloom form and a per-action corpus re-scan on the
            # anti form without this cut
            batch = materialize(
                survivors
                .unionByName(batch.filter(F.col("__cu").isNull()))
                .drop("__cu")
            )
        if unicode_normalize:
            from ..functions.unicodenorm import normalize_docs

            # before every quality gate and content tier, so an
            # NFD/zero-width/double-encoded re-save of an admitted
            # document collides at the EXACT tier; after the URL tier,
            # whose rejects need no text work
            batch = normalize_docs(batch)
        if drop_gopher_fail:
            from ..functions.text import gopher_quality_pass

            batch = batch.filter(gopher_quality_pass("text"))
        if lm_model_dir is not None:
            from ..operators.lm import lm_score_model

            lm = artifact_open(ss, lm_model_dir)
            if lm is None or not lm.params:
                raise ValueError(
                    f"no committed LM artifact at {lm_model_dir}; "
                    "train one first (lm.lm_model_build / corpus "
                    "--save-lm-model)"
                )
            keep_lm = (
                lm_score_model(batch, lm.table("terms"), lm.table("stats"))
                .filter(F.col("lm_xent") <= float(max_xent))
                .select("doc_id")
            )
            batch = batch.join(keep_lm, "doc_id", "left_semi")
        if quality_model_dir is not None:
            from ..operators.classify import nb_classify_model

            nb = artifact_open(ss, quality_model_dir)
            if nb is None or not nb.params:
                raise ValueError(
                    f"no committed NB model at {quality_model_dir}; "
                    "train one first (classify CLI / nb_model_build)"
                )
            feature = nb.params.get("feature", "search_tokens")
            terms, classes = nb.table("terms"), nb.table("classes")
            to_score, tokens_col = batch, None
            if feature.startswith("char_trigram"):
                from ..operators.classify import char_ngram_tokens_col

                to_score = char_ngram_tokens_col(
                    batch, max_chars=int(feature.rsplit("_", 1)[1])
                )
                tokens_col = "__cg"
            keep_ids = (
                nb_classify_model(
                    to_score, terms, classes, tokens_col=tokens_col
                )
                .filter(F.col("nb_pred").isin(list(keep_pred or [])))
                .select("doc_id")
            )
            batch = batch.join(keep_ids, "doc_id", "left_semi")
        once = dedup_batch_within(batch)
        bitmap = None
        if bloom is not None:
            # first batch ever / nothing committed: seeded from the full
            # dedup target once; later batches OR-merge deltas
            bitmap = bloom.bitmap(
                ss,
                existing.select(
                    F.md5(normalize_text("text")).alias("text_hash")
                ),
                "text_hash",
            )
        new_ids = incremental_new_docs(
            once, existing, m_bits=m_bits, k=k, bitmap=bitmap
        ).select("doc_id")
        admitted = once.join(new_ids, "doc_id", "left_semi")
        if near_dup_index_dir is not None:
            from ..checkpoint import materialize
            from ..operators.minhash_index import (
                NEAR_DUP_THRESHOLD,
                minhash_index_append,
                minhash_index_build,
                near_dup_pass,
            )

            # build-if-absent from the full current dedup target; every
            # later batch serves the committed generation, and the
            # append below commits onto this same snapshot
            index = minhash_index_build(existing, near_dup_index_dir)
            # one pass: signatures once, within-batch + index candidates
            # verified together, min-id survivors minus index hits
            admitted, bands = near_dup_pass(
                materialize(admitted), index, existing,
                threshold=(
                    near_dup_threshold
                    if near_dup_threshold is not None
                    else NEAR_DUP_THRESHOLD
                ),
            )
            # index append BEFORE the sink insert (crash ordering:
            # orphan band rows are only false-positive candidates;
            # unindexed admitted docs would be permanent blind spots)
            minhash_index_append(bands, index)
        if semantic_index_dir is not None:
            from ..checkpoint import materialize
            from ..operators.components import dedup_survivors
            from ..operators.similarity import (
                MAX_VECTOR_BUCKET,
                embedding_dup_pairs_lsh,
                hash_embed,
                lsh_index_append,
                lsh_index_ensure,
                semantic_dup_probe,
            )
            from .vectors import VECTOR_DEDUP_BANDS, VECTOR_DEDUP_PLANES

            if encoder_model_dir is not None:
                from ..operators.embed import (
                    embed_with_model,
                    encoder_model_ensure,
                )

                # encoder artifact build-if-absent from the current
                # dedup target (the tiers' shared discipline); its
                # identity rides into the index params below so two
                # vector spaces can never mix in one bucket store, and
                # every embed of this batch encodes with this snapshot
                enc_snap = encoder_model_ensure(existing, encoder_model_dir)
                enc = enc_snap.params
                embedder = {
                    "embedder":
                        f"{enc['encoder']}@v{enc.get('version', '1')}"
                }

                def embed(d):
                    return embed_with_model(d, enc_snap)

                # the artifact's dim sizes the hyperplane family: a
                # non-64-dim imported encoder under the 64-dim default
                # collapses every bucket to 0 and the banded joins go
                # quadratic (the exact-cosine verify hides that from
                # correctness checks)
                enc_dim = int(enc.get("dim", 64))
            else:
                embedder = {"embedder": "hash_embed"}
                embed = hash_embed
                enc_dim = 64
            # one-time migration: semantic indexes built before the
            # embedder pin carry no embedder key — they were
            # hash_embed by construction, so a table-less commit
            # backfills the key (adopting a legacy dir) instead of
            # failing every older drain.  Such an index under a MODEL
            # run still mismatches after the backfill (correct: it
            # holds hash-space buckets).  The batch opens the index
            # once: the backfill, the build check, the probe and the
            # append all use this generation.
            sem = artifact_open(ss, semantic_index_dir)
            if sem is not None and sem.params and "embedder" not in sem.params:
                sem = artifact_append(
                    sem, {}, {**sem.params, "embedder": "hash_embed"}
                )
            # build-if-absent over the current dedup target (one-time
            # O(corpus) embed); later batches read the committed
            # artifact and append batch-bounded bucket rows
            sem = lsh_index_ensure(
                embed(existing),
                semantic_index_dir,
                sem,
                tables=VECTOR_DEDUP_BANDS,
                planes_per_table=VECTOR_DEDUP_PLANES,
                extra_params=embedder,
                dim=enc_dim,
            )
            admitted = materialize(admitted)
            # (a) within-batch semantic collapse over the batch's
            # vectors (batch-bounded; flood cap because text-derived
            # vectors are correlated)
            bvecs = materialize(embed(admitted))
            spairs = embedding_dup_pairs_lsh(
                bvecs, semantic_threshold,
                VECTOR_DEDUP_BANDS, VECTOR_DEDUP_PLANES,
                max_bucket=MAX_VECTOR_BUCKET,
                dim=enc_dim,
            )
            skeep = (
                dedup_survivors(
                    bvecs.select(F.col("vec_id").alias("doc_id")),
                    spairs,
                )
                .filter("is_survivor")
                .select("doc_id")
            )
            # docs with no tokens have no vector: they pass this tier
            # untouched (the exact tier already byte-deduped them)
            tokenless = admitted.join(
                bvecs.select(F.col("vec_id").alias("doc_id")),
                "doc_id", "left_anti",
            ).select("doc_id")
            admitted = admitted.join(
                skeep.unionByName(tokenless), "doc_id", "left_semi"
            )
            # (b) cross-corpus probe: persisted buckets + exact cosine
            # over candidate-only corpus embeddings
            sdups = semantic_dup_probe(
                admitted, sem.table("buckets"), existing, semantic_threshold,
                VECTOR_DEDUP_BANDS, VECTOR_DEDUP_PLANES,
                embed_fn=embed,
                dim=enc_dim,
            )
            admitted = materialize(
                admitted.join(
                    sdups.select("doc_id").distinct(), "doc_id", "left_anti"
                )
            )
            # (c) index append BEFORE the sink insert (same crash
            # ordering; the probe's text-store semi-join kills orphans)
            lsh_index_append(
                embed(admitted), sem,
                tables=VECTOR_DEDUP_BANDS,
                planes_per_table=VECTOR_DEDUP_PLANES,
                extra_params=embedder,
                dim=enc_dim,
            )
        if bloom is not None or url_bloom is not None:
            from ..checkpoint import materialize

            # the bitmap merges and the sink insert each consume the
            # admit set — materialize it once instead of re-running the
            # dedup subtree per action, unless a dedup tier already
            # did (a second localCheckpoint is a pure extra pass)
            if near_dup_index_dir is None and semantic_index_dir is None:
                admitted = materialize(admitted)
        # bitmap commits BEFORE the sink insert (docstring crash-
        # ordering argument): orphan bits are only false positives
        if bloom is not None:
            bloom.merge(
                admitted.select(
                    F.md5(normalize_text("text")).alias("text_hash")
                ),
                "text_hash",
            )
            bloom.commit(ss)
        if url_bloom is not None:
            from ..functions.url import canonical_url

            # the sliver verify anti-joins the REAL target urls, so
            # orphan URL bits are only false positives too
            url_bloom.merge(
                admitted.select(
                    canonical_url(url_dedup_col).alias("__cu")
                ).filter(F.col("__cu").isNotNull()),
                "__cu",
            )
            url_bloom.commit(ss)
        manifest_insert_if_absent(ss, admitted, sink_path, ["doc_id"])

    (
        feed.writeStream.foreachBatch(admit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
