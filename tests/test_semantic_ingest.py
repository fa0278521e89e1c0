"""Streaming SEMANTIC dedup tier (round 9): the third incremental
signal beside exact-Bloom and lexical-MinHash.

The discriminating fixture is a WORD-SCRAMBLED duplicate: the same
word multiset in a different order has an IDENTICAL feature-hashed
embedding (bag-of-words; cosine exactly 1.0) but low shingle Jaccard —
the lexical tier misses it, the semantic tier must not.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil

SCHEMA = "doc_id long, text string, lang string, source string, n_chars int"

BASE = (
    "the quick brown fox jumps over the lazy dog while the rain "
    "falls softly on the quiet village roofs and the river slides "
    "past the old stone bridge toward the distant sea"
)
NOVEL = (
    "entirely novel text about semantic bucket indexes probed "
    "incrementally by streaming batches under a commit marker "
    "protocol with exact cosine verification restricted to "
    "candidate documents only never the corpus"
)


def _scramble(text: str) -> str:
    """Deterministic word shuffle: same multiset, different order ->
    identical hash_embed vector, low shingle overlap."""
    words = text.split()
    return " ".join(words[1::2] + words[0::2])


CORPUS_ROWS = [
    (1, BASE),
    (2, "completely different content about spark shuffles and "
        "partition pruning with adaptive execution and broadcast "
        "joins feeding columnar scans through whole stage codegen "
        "into vectorized parquet readers at terabyte scale daily"),
]


def _row(i, text):
    return (i, text, "en", "synthetic", len(text))


def _write_corpus(spark, tmp_path):
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [_row(i, t) for i, t in CORPUS_ROWS], SCHEMA
    ).write.parquet(corpus_path)
    return corpus_path


def _drop(spark, tmp_path, feed, rows, name):
    tmp = str(tmp_path / f"__stage_{name}")
    spark.createDataFrame(
        [_row(i, t) for i, t in rows], SCHEMA
    ).repartition(1).write.parquet(tmp)
    os.makedirs(feed, exist_ok=True)
    shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/{name}")


def test_scrambled_dup_is_semantic_not_lexical(spark):
    """The fixture's premise, asserted directly: a word scramble has
    hash_embed cosine exactly 1.0 but shingle Jaccard below the
    lexical threshold."""
    from pyspark.sql import functions as F

    from haensel_ams_data_engineer_challenge_spark.operators.dedup import (
        verify_candidates,
    )
    from haensel_ams_data_engineer_challenge_spark.operators.similarity import (
        cosine_expr,
        hash_embed,
    )

    docs = spark.createDataFrame(
        [_row(1, BASE), _row(2, _scramble(BASE))], SCHEMA
    )
    he = hash_embed(docs)
    a = he.filter("vec_id = 1").select(F.col("embedding").alias("__a"))
    cos = (
        a.crossJoin(he.filter("vec_id = 2")
                    .select(F.col("embedding").alias("__b")))
        .select(cosine_expr("__a", "__b").alias("c"))
        .collect()[0]["c"]
    )
    # identical vectors: dot == |v|^2 but sqrt(x)*sqrt(x) can differ
    # from x by one ulp — cosine is 1.0 within float error
    assert abs(cos - 1.0) < 1e-12
    # the lexical (shingle) signal does NOT pair them at its threshold
    assert verify_candidates(docs, threshold=0.5).count() == 0


def test_streaming_ingest_semantic_tier(spark, tmp_path):
    """E2E: the semantic tier rejects (a) a word-scrambled dup of the
    base corpus, (b) a within-batch scramble pair (one survivor), (c)
    a scramble of an earlier batch's admitted doc via the APPENDED
    index; zero-token docs pass the tier untouched; replay with a
    fresh checkpoint admits nothing more and leaves the index stable."""
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    corpus_path = _write_corpus(spark, tmp_path)
    feed = str(tmp_path / "feed")
    # batch A: scramble of corpus doc 1 (rejected), novel (admitted),
    # scramble of the novel (within-batch pair -> min-id survivor 201)
    _drop(spark, tmp_path, feed, [
        (200, _scramble(BASE)),
        (201, NOVEL),
        (202, _scramble(NOVEL)),
    ], "a.parquet")
    # batch B: another scramble of 201's text (cross-batch: only the
    # appended index knows 201) + a zero-token doc (no vector — must
    # pass the semantic tier and be admitted)
    _drop(spark, tmp_path, feed, [
        (300, " ".join(reversed(NOVEL.split()))),
        (400, "!!!!"),
    ], "b.parquet")

    sink = str(tmp_path / "admitted")
    idx = str(tmp_path / "semidx")
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, semantic_index_dir=idx,
    )
    got = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    assert got == {201, 400}
    # admitted docs with vectors were appended; rejected/tokenless not
    idx_ids = {
        r["vec_id"]
        for r in spark.read.parquet(f"{idx}/buckets")
        .select("vec_id").distinct().collect()
    }
    assert idx_ids == {1, 2, 201}

    # full replay, fresh checkpoint: idempotent sink AND index
    before = sorted(
        map(tuple, spark.read.parquet(f"{idx}/buckets").collect())
    )
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1, semantic_index_dir=idx,
    )
    assert {r["doc_id"] for r in spark.read.parquet(sink).collect()} \
        == {201, 400}
    assert sorted(
        map(tuple, spark.read.parquet(f"{idx}/buckets").collect())
    ) == before


def test_semantic_batch_opens_the_index_once(spark, tmp_path, monkeypatch):
    """One semantic micro-batch opens the committed semantic index
    once: the embedder-pin check, the build check, the probe and the
    append share one snapshot."""
    from test_artifact_manifest import _count_root_opens

    from haensel_ams_data_engineer_challenge_spark.operators.similarity import (
        hash_embed,
        lsh_index_persistent,
    )
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )
    from haensel_ams_data_engineer_challenge_spark.streaming.vectors import (
        VECTOR_DEDUP_BANDS,
        VECTOR_DEDUP_PLANES,
    )

    corpus_path = _write_corpus(spark, tmp_path)
    feed = str(tmp_path / "feed")
    _drop(spark, tmp_path, feed, [(200, _scramble(BASE)), (201, NOVEL)], "a.parquet")
    idx = str(tmp_path / "semidx")
    lsh_index_persistent(
        hash_embed(spark.read.parquet(corpus_path)), idx,
        tables=VECTOR_DEDUP_BANDS, planes_per_table=VECTOR_DEDUP_PLANES,
        extra_params={"embedder": "hash_embed"},
    )
    opens = _count_root_opens(monkeypatch, idx)
    sink = str(tmp_path / "admitted")
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"),
        semantic_index_dir=idx,
    )
    assert {r["doc_id"] for r in spark.read.parquet(sink).collect()} == {201}
    assert opens() == 1


def test_semantic_tier_catches_what_lexical_misses(spark, tmp_path):
    """Contrast run: the SAME feed through the lexical (minhash) tier
    alone admits the scrambled dup — proving the semantic tier is a
    distinct signal, not a re-spelling of the lexical one."""
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    corpus_path = _write_corpus(spark, tmp_path)
    feed = str(tmp_path / "feed")
    _drop(spark, tmp_path, feed, [(200, _scramble(BASE))], "a.parquet")

    lex_sink = str(tmp_path / "admitted_lex")
    run_streaming_ingest(
        spark, corpus_path, feed, lex_sink, str(tmp_path / "ckpt_lex"),
        near_dup_index_dir=str(tmp_path / "mhidx"),
    )
    assert {r["doc_id"] for r in spark.read.parquet(lex_sink).collect()} \
        == {200}

    sem_sink = str(tmp_path / "admitted_sem")
    run_streaming_ingest(
        spark, corpus_path, feed, sem_sink, str(tmp_path / "ckpt_sem"),
        semantic_index_dir=str(tmp_path / "semidx"),
    )
    # nothing was admitted (the sink may exist as an empty write)
    assert spark.read.parquet(sem_sink).count() == 0


def test_cli_ingest_semantic(spark, tmp_path, capsys):
    """CLI e2e: ingest --semantic-dedup wires the tier and reports the
    admitted total."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    corpus_path = _write_corpus(spark, tmp_path)
    feed = str(tmp_path / "feed")
    _drop(spark, tmp_path, feed, [
        (200, _scramble(BASE)), (201, NOVEL),
    ], "a.parquet")
    work = str(tmp_path / "wd")
    rc = main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", work, "--semantic-dedup",
    ])
    assert rc == 0
    assert "admitted_total=1" in capsys.readouterr().out
    got = {r["doc_id"]
           for r in spark.read.parquet(f"{work}/admitted").collect()}
    assert got == {201}


# ---------------------------------------------------------------------------
# round 10: the semantic tier on the MODEL-INFERENCE SEAM
# (--encoder-model): synonym-swapped paraphrases — invisible to BOTH the
# lexical tier and hash_embed at the 0.9 threshold — are caught when the
# tier runs on embed_with_model vectors.
# ---------------------------------------------------------------------------

SHORT_BASE = "the quick brown fox jumps over the lazy dog"
#: synonym swap along DEFAULT_SYNONYMS equivalence classes
#: (quick/rapid -> fast, jumps/hops -> leaps, lazy/sluggish -> idle):
#: identical canonical token multiset, hash_embed cosine ~0.80 < 0.9.
SHORT_PARA = "the rapid brown fox hops over the sluggish dog"


def test_encoder_model_tier_catches_paraphrase_hash_tier_admits(
    spark, tmp_path
):
    """Contrast run (the distinct-signal proof, encoder edition): the
    SAME paraphrase feed is ADMITTED by the hash_embed semantic tier
    and REJECTED by the encoder-model tier; the index marker pins the
    encoder identity."""
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [_row(1, SHORT_BASE), _row(2, CORPUS_ROWS[1][1])], SCHEMA
    ).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")
    _drop(spark, tmp_path, feed, [
        (200, SHORT_PARA),
        (201, NOVEL),
    ], "a.parquet")

    # hash_embed tier: paraphrase slips through (cosine < 0.9)
    hash_sink = str(tmp_path / "admitted_hash")
    run_streaming_ingest(
        spark, corpus_path, feed, hash_sink, str(tmp_path / "ckpt_h"),
        semantic_index_dir=str(tmp_path / "semidx_h"),
    )
    assert {r["doc_id"]
            for r in spark.read.parquet(hash_sink).collect()} == {200, 201}

    # encoder-model tier: paraphrase rejected, novel admitted
    model_sink = str(tmp_path / "admitted_model")
    model_idx = str(tmp_path / "semidx_m")
    run_streaming_ingest(
        spark, corpus_path, feed, model_sink, str(tmp_path / "ckpt_m"),
        semantic_index_dir=model_idx,
        encoder_model_dir=str(tmp_path / "encoder"),
    )
    assert {r["doc_id"]
            for r in spark.read.parquet(model_sink).collect()} == {201}

    # the index marker pins the encoder identity...
    from haensel_ams_data_engineer_challenge_spark.operators.artifact_manifest import (
        artifact_open,
    )

    got = artifact_open(spark, model_idx).params
    assert got.get("embedder", "").startswith("synproj-v1@v")

    # ...so running the tier under a DIFFERENT embedder against the
    # same index refuses loudly instead of silently mixing spaces
    import pytest as _pytest

    _drop(spark, tmp_path, feed, [(300, "one more fresh doc")], "b.parquet")
    with _pytest.raises(Exception, match="built with"):
        run_streaming_ingest(
            spark, corpus_path, feed, model_sink, str(tmp_path / "ckpt_x"),
            semantic_index_dir=model_idx,  # model-built index
        )


def test_cli_ingest_encoder_model(spark, tmp_path, capsys):
    """CLI e2e: ingest --semantic-dedup --encoder-model wires the seam
    (and refuses --encoder-model without the tier)."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [_row(1, SHORT_BASE), _row(2, CORPUS_ROWS[1][1])], SCHEMA
    ).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")
    _drop(spark, tmp_path, feed, [
        (200, SHORT_PARA), (201, NOVEL),
    ], "a.parquet")
    work = str(tmp_path / "wd")
    rc = main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", work, "--semantic-dedup",
        "--encoder-model", f"{work}/encoder",
    ])
    assert rc == 0
    assert "admitted_total=1" in capsys.readouterr().out
    got = {r["doc_id"]
           for r in spark.read.parquet(f"{work}/admitted").collect()}
    assert got == {201}

    rc = main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", work, "--encoder-model", f"{work}/encoder",
    ])
    assert rc == 1
    assert "--semantic-dedup" in capsys.readouterr().err


def test_cli_ingest_compact_sink(spark, tmp_path, capsys):
    """ingest --compact-sink: the admitted store (one fragment per
    micro-batch) compacts post-drain with the row set intact."""
    from pathlib import Path as _P

    from haensel_ams_data_engineer_challenge_spark.__main__ import main
    from haensel_ams_data_engineer_challenge_spark.operators.manifest_sink import (
        read_manifest_sink,
    )

    corpus_path = _write_corpus(spark, tmp_path)
    feed = str(tmp_path / "feed")
    _drop(spark, tmp_path, feed, [(201, NOVEL)], "a.parquet")
    _drop(spark, tmp_path, feed, [(202, NOVEL + " extra words here")],
          "b.parquet")
    work = str(tmp_path / "wd")
    rc = main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", work, "--max-files-per-trigger", "1",
        "--compact-sink",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "compacted_rows=2" in out and "admitted_total=2" in out
    sink = f"{work}/admitted"
    rows = [r["doc_id"] for r in read_manifest_sink(spark, sink).collect()]
    assert sorted(rows) == [201, 202]
    assert not list(_P(work).glob("admitted__*"))  # no staging dir left


def test_ingest_perplexity_gate(spark, tmp_path, capsys):
    """The CCNet perplexity gate e2e: corpus --save-lm-model trains the
    artifact; ingest --lm-model --max-xent drops OOV gibberish (max
    xent by construction) and keeps in-distribution text; the pairing
    contract refuses half-specified flags."""
    import json as _json

    from haensel_ams_data_engineer_challenge_spark.__main__ import main
    from haensel_ams_data_engineer_challenge_spark.operators.lm import (
        lm_score_model,
    )

    corpus_path = _write_corpus(spark, tmp_path)
    # train the LM artifact from the corpus via the bootstrap CLI
    src = str(tmp_path / "docs.jsonl")
    with open(src, "w") as fh:
        for i, t in CORPUS_ROWS:
            fh.write(_json.dumps({
                "doc_id": i, "text": t, "lang": "en",
                "source": "s", "n_chars": len(t),
            }) + "\n")
    work = str(tmp_path / "wd")
    lm_dir = f"{work}/lm"
    rc = main([
        "corpus", "--docs-jsonl", src, "--work-dir", work,
        "--train", "1.0", "--val", "0.0", "--test", "0.0",
        "--save-lm-model", lm_dir,
    ])
    assert rc == 0
    assert "lm_vocab=" in capsys.readouterr().out

    # threshold: between the in-distribution doc's xent and gibberish's
    terms = spark.read.parquet(f"{lm_dir}/terms")
    stats = spark.read.parquet(f"{lm_dir}/stats")
    probe = spark.createDataFrame(
        [(1, CORPUS_ROWS[0][1]), (2, "xq zv wk pj qq zz xx vv ww kk")],
        "doc_id long, text string",
    )
    xents = {r["doc_id"]: r["lm_xent"]
             for r in lm_score_model(probe, terms, stats).collect()}
    assert xents[2] > xents[1]
    bar = (xents[1] + xents[2]) / 2

    feed = str(tmp_path / "feed")
    _drop(spark, tmp_path, feed, [
        (200, CORPUS_ROWS[0][1] + " with a few extra words"),  # in-dist
        (201, "xq zv wk pj qq zz xx vv ww kk"),                # gibberish
    ], "a.parquet")
    rc = main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", work, "--lm-model", lm_dir, "--max-xent", str(bar),
    ])
    assert rc == 0
    got = {r["doc_id"]
           for r in spark.read.parquet(f"{work}/admitted").collect()}
    assert got == {200}

    # pairing contract
    rc = main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", work, "--lm-model", lm_dir,
    ])
    assert rc == 1
    assert "--max-xent" in capsys.readouterr().err


def test_ingest_api_validates_lm_gate_pairing(spark, tmp_path):
    """Round-11 review fix: the API function itself (not just the CLI)
    rejects a half-specified perplexity gate upfront instead of raising
    a bare TypeError mid-batch."""
    import pytest

    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "seed doc")], "doc_id long, text string"
    ).write.parquet(corpus)
    for kwargs in (
        {"lm_model_dir": str(tmp_path / "lm")},
        {"max_xent": 5.0},
    ):
        with pytest.raises(ValueError, match="go together"):
            run_streaming_ingest(
                spark,
                corpus,
                str(tmp_path / "feed"),
                str(tmp_path / "sink"),
                str(tmp_path / "ckpt"),
                **kwargs,
            )


def test_cli_ingest_manifest_protocol(spark, tmp_path, capsys):
    """The ingest admitted store is manifest-committed: each
    micro-batch commits atomically (one manifest version per writing
    batch), cross-batch duplicates still drop, compaction is
    reader-stable, and a replayed drain is a no-op."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main
    from haensel_ams_data_engineer_challenge_spark.operators import (
        manifest_sink as MS,
    )

    corpus_path = _write_corpus(spark, tmp_path)
    feed = str(tmp_path / "feed")
    _drop(spark, tmp_path, feed, [(301, NOVEL)], "a.parquet")
    # batch b: one duplicate of batch a + one novel doc
    _drop(
        spark, tmp_path, feed,
        [(302, NOVEL), (303, NOVEL + " with more words")],
        "b.parquet",
    )
    work = str(tmp_path / "wd")
    args = [
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", work, "--max-files-per-trigger", "1",
        "--compact-sink",
    ]
    rc = main(args)
    assert rc == 0
    out = capsys.readouterr().out
    assert "admitted_total=2" in out and "compacted_rows=2" in out
    sink = f"{work}/admitted"
    committed = MS.read_manifest_sink(spark, sink)
    assert {r["doc_id"] for r in committed.collect()} == {301, 303}
    # replayed drain (same work dir, fresh checkpoint => the feed
    # re-fires): the committed-rows anti-join makes it a no-op
    import shutil

    shutil.rmtree(f"{work}/checkpoint")
    rc = main(args)
    assert rc == 0
    assert "admitted_total=2" in capsys.readouterr().out


def test_cli_ingest_manifest_empty_drain_counts_legacy(spark, tmp_path, capsys):
    """ingest over a LEGACY plain-parquet sink with nothing to drain
    (no manifest ever committed) counts the plain listing, not crash
    on None.count()."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    corpus_path = _write_corpus(spark, tmp_path)
    feed = str(tmp_path / "feed")
    import os

    os.makedirs(feed, exist_ok=True)  # empty feed: no batch ever fires
    work = str(tmp_path / "wd")
    os.makedirs(work, exist_ok=True)
    # a legacy plain-parquet admitted store
    spark.createDataFrame(
        [(999, "legacy row")], "doc_id long, text string"
    ).write.parquet(f"{work}/admitted")
    rc = main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", work,
    ])
    assert rc == 0
    assert "admitted_total=1" in capsys.readouterr().out


def test_semantic_index_without_embedder_pin_is_backfilled(spark, tmp_path):
    """A semantic index committed before the embedder pin (hash_embed
    buckets, no ``embedder`` param) receives the pin through the
    artifact commit protocol — in the legacy params-table layout and in
    the manifest layout alike — and the drain then serves it."""
    import pytest

    from haensel_ams_data_engineer_challenge_spark.operators import (
        artifact_manifest as AM,
    )
    from haensel_ams_data_engineer_challenge_spark.operators.similarity import (
        banded_bucket_rows,
        hash_embed,
    )
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )
    from haensel_ams_data_engineer_challenge_spark.streaming.vectors import (
        VECTOR_DEDUP_BANDS,
        VECTOR_DEDUP_PLANES,
    )

    corpus_path = _write_corpus(spark, tmp_path)
    buckets = banded_bucket_rows(
        hash_embed(spark.read.parquet(corpus_path)), "vec_id", "embedding",
        VECTOR_DEDUP_BANDS, VECTOR_DEDUP_PLANES,
    )
    params = {
        "kind": "lsh", "tables": VECTOR_DEDUP_BANDS,
        "planes_per_table": VECTOR_DEDUP_PLANES,
        "id_col": "vec_id", "vec_col": "embedding", "version": 1,
    }
    feed = str(tmp_path / "feed")
    _drop(spark, tmp_path, feed, [
        (200, _scramble(BASE)), (201, NOVEL),
    ], "a.parquet")
    for layout in ("legacy", "manifest"):
        idx = str(tmp_path / f"semidx_{layout}")
        if layout == "legacy":
            buckets.write.parquet(f"{idx}/buckets")
            spark.createDataFrame(
                [(k, str(v)) for k, v in sorted(params.items())],
                "key string, value string",
            ).coalesce(1).write.parquet(f"{idx}/params")
        else:
            AM.artifact_overwrite(spark, idx, {"buckets": buckets}, params, None)
        sink = str(tmp_path / f"admitted_{layout}")
        run_streaming_ingest(
            spark, corpus_path, feed, sink, str(tmp_path / f"ckpt_{layout}"),
            semantic_index_dir=idx,
        )
        got = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
        assert got == {201}, layout
        snap = AM.artifact_open(spark, idx)
        assert snap.params["embedder"] == "hash_embed", layout
        assert not _glob.glob(f"{idx}/params/*"), layout
        assert snap.table("buckets").select("vec_id").distinct().count() == 3
    with pytest.raises(Exception, match="built with"):
        run_streaming_ingest(
            spark, corpus_path, feed, str(tmp_path / "admitted_enc"),
            str(tmp_path / "ckpt_enc"), semantic_index_dir=idx,
            encoder_model_dir=str(tmp_path / "encoder"),
        )
