"""Persisted MinHash band index + incremental near-dup (round 9).

r8 verdict task 2: commit protocol, probe-vs-from-scratch agreement,
append replay-idempotence, and the streaming ingest wiring.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from haensel_ams_data_engineer_challenge_spark.operators import artifact_manifest as AM
from haensel_ams_data_engineer_challenge_spark.operators import minhash_index as MI
from haensel_ams_data_engineer_challenge_spark.operators.dedup import (
    dedup_minhash_lsh,
    minhash_bands,
    verify_candidates,
)

SCHEMA = "doc_id long, text string"

#: ~30-word docs: near-dup = one word appended / one word swapped, so
#: the shingle Jaccard is high (>= 0.85) and the (12,3) LSH bands
#: collide deterministically (md5 is a fixed function — verified by
#: the probe-vs-scratch test, not assumed).
BASE = (
    "the quick brown fox jumps over the lazy dog while the rain "
    "falls softly on the quiet village roofs and the river slides "
    "past the old stone bridge toward the distant sea"
)
CORPUS_ROWS = [
    (1, BASE),
    (2, "completely different content about spark shuffles and "
        "partition pruning with adaptive execution and broadcast "
        "joins feeding columnar scans through whole stage codegen "
        "into vectorized parquet readers at terabyte scale daily"),
    (3, "a third unrelated document listing fruit apples oranges "
        "bananas grapes melons pears plums cherries apricots figs "
        "dates kiwis mangos papayas guavas lychees persimmons "
        "quinces nectarines tangerines pomelos limes lemons"),
]
BATCH_ROWS = [
    (101, BASE + " tonight"),          # near-dup of 1
    (102, CORPUS_ROWS[2][1]),          # exact dup of 3 (jaccard 1.0)
    (103, "entirely novel text about minhash band indexes probed "
          "incrementally by streaming batches under a commit marker "
          "protocol with exact jaccard verification restricted to "
          "candidate documents only never the corpus"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _probe_from_scratch(spark, corpus_rows, batch_rows, threshold=0.5):
    """Ground truth: band+verify the UNION with the full-corpus
    operators, keep cross (batch, corpus) pairs only."""
    union = _docs(spark, corpus_rows + batch_rows)
    batch_ids = {r[0] for r in batch_rows}
    corpus_ids = {r[0] for r in corpus_rows}
    out = set()
    for r in verify_candidates(union, threshold=threshold).collect():
        a, b = r["id_a"], r["id_b"]
        if a in batch_ids and b in corpus_ids:
            out.add((a, b, round(r["jaccard"], 9)))
        elif b in batch_ids and a in corpus_ids:
            out.add((b, a, round(r["jaccard"], 9)))
    return out


def test_probe_matches_from_scratch(spark, tmp_path):
    """Persisted-index probe == re-running the full-corpus LSH+verify
    on the union and keeping the cross pairs."""
    corpus = _docs(spark, CORPUS_ROWS)
    batch = _docs(spark, BATCH_ROWS)
    path = str(tmp_path / "mhidx")
    bands = MI.minhash_index_build(corpus, path).table("bands")
    got = {
        (r["doc_id"], r["dup_of"], round(r["jaccard"], 9))
        for r in MI.near_dup_probe(batch, bands, corpus).collect()
    }
    exp = _probe_from_scratch(spark, CORPUS_ROWS, BATCH_ROWS)
    assert got == exp
    # the fixture is not vacuous: the near-dup AND the exact dup are
    # both found, the novel doc is not
    assert {g[0] for g in got} == {101, 102}
    assert (102, 3, 1.0) in got


#: ~30-word boilerplate whose copies flood every band bucket they hash
#: to (more than MAX_BAND_BUCKET docs per bucket)
BOILER = (
    "accept all cookies to continue reading this page our partners use "
    "cookies and similar technologies to personalise content and ads "
    "provide social media features and analyse our traffic today"
)
CHAIN = (
    "a fresh chain of edits starts from this sentence about river "
    "barges moving grain past old mills while the lock keepers record "
    "every passage in heavy ledgers kept dry in the stone houses"
)

#: novel text sent 34 times in one batch: its buckets flood the batch side
FLOOD = (
    "the same syndicated wire story copied by many sites about a harbor "
    "festival with tall ships brass bands and fireworks over the water "
    "drawing crowds from every town along the northern coast"
)


def test_near_dup_pass_matches_from_scratch(spark, tmp_path):
    """The fused per-batch pass (one signature pass, one candidate set,
    one verify) keeps exactly the survivors of the from-scratch ground
    truth: verify_candidates over corpus + batch, union-find over the
    within-batch pairs (min id survives), then every survivor with a
    verified corpus pair dropped.  Fixtures: an index-side and a
    batch-side flooded bucket, an exact dup, a near-dup, an in-batch
    near-dup chain, and an orphan index row (its doc is absent from the
    corpus) that is a near-dup of a novel batch doc and must drop
    nothing."""
    corpus_rows = CORPUS_ROWS + [(1000 + i, BOILER) for i in range(40)]
    orphan = (999, BATCH_ROWS[2][1] + " again")
    batch_rows = (
        BATCH_ROWS
        + [(104, BOILER + " now")]
        + [(105, CHAIN), (106, CHAIN + " twice"), (107, CHAIN + " twice more")]
        + [(200 + i, FLOOD) for i in range(34)]
    )
    index = MI.minhash_index_build(
        _docs(spark, corpus_rows + [orphan]), str(tmp_path / "mhidx")
    )
    batch = _docs(spark, batch_rows)
    survivors, bands = MI.near_dup_pass(batch, index, _docs(spark, corpus_rows))
    got = {r["doc_id"] for r in survivors.collect()}

    batch_ids = {i for i, _ in batch_rows}
    comp = {i: i for i in batch_ids}

    def find(i):
        while comp[i] != i:
            i = comp[i]
        return i

    hit = set()
    for r in verify_candidates(_docs(spark, corpus_rows + batch_rows)).collect():
        a, b = r["id_a"], r["id_b"]
        if a in batch_ids and b in batch_ids:
            ra, rb = find(a), find(b)
            comp[max(ra, rb)] = min(ra, rb)
        elif a in batch_ids or b in batch_ids:
            hit.add(a if a in batch_ids else b)
    exp = {i for i in batch_ids if find(i) == i} - hit
    assert got == exp
    assert batch_ids - got == batch_ids - exp
    # not vacuous: the near-dup and the exact dup of the corpus drop,
    # the chain keeps its min id, the orphan drops nothing, flooded
    # buckets pair nothing
    assert {101, 102, 106, 107}.isdisjoint(got)
    assert {103, 104, 105} | {200 + i for i in range(34)} <= got
    # the band rows to append are the survivors' rows of the same pass
    assert sorted(map(tuple, bands.collect())) == sorted(
        map(
            tuple,
            minhash_bands(batch).join(survivors.select("doc_id"), "doc_id", "left_semi")
            .collect(),
        )
    )


def test_near_dup_batch_bands_once_and_opens_the_index_once(
    spark, tmp_path, monkeypatch
):
    """One near-dup micro-batch computes the batch's MinHash signatures
    in one `minhash_bands` call and opens the committed index once: the
    build check, the probe and the append share one snapshot."""
    from test_artifact_manifest import _count_root_opens

    from haensel_ams_data_engineer_challenge_spark.operators import dedup as D
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars int"
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in CORPUS_ROWS], schema
    ).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")
    stage = str(tmp_path / "__stage")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in BATCH_ROWS], schema
    ).repartition(1).write.parquet(stage)
    os.makedirs(feed)
    shutil.copy(_glob.glob(f"{stage}/part-*.parquet")[0], f"{feed}/a.parquet")
    idx = str(tmp_path / "mhidx")
    MI.minhash_index_build(spark.read.parquet(corpus_path), idx)

    calls = []
    real_bands = D.minhash_bands

    def bands(df, *a, **kw):
        calls.append(df)
        return real_bands(df, *a, **kw)

    monkeypatch.setattr(D, "minhash_bands", bands)
    monkeypatch.setattr(MI, "minhash_bands", bands)
    opens = _count_root_opens(monkeypatch, idx)
    sink = str(tmp_path / "admitted")
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"),
        near_dup_index_dir=idx,
    )
    assert {r["doc_id"] for r in spark.read.parquet(sink).collect()} == {103}
    assert len(calls) == 1
    assert opens() == 1


def _tear_manifests(path):
    """Simulate a torn build under the round-12 manifest protocol:
    data files on disk, no committed manifest."""
    import glob
    import os

    for f in glob.glob(f"{path}/_manifest_v*.json"):
        os.remove(f)


def test_commit_marker_protocol(spark, tmp_path):
    corpus = _docs(spark, CORPUS_ROWS)
    path = str(tmp_path / "mhidx")
    b1 = sorted(
        map(tuple, MI.minhash_index_build(corpus, path).table("bands").collect())
    )
    # params mismatch is a hard error, not a silent rebuild
    with pytest.raises(ValueError, match="built with"):
        MI.minhash_index_build(corpus, path, band_size=4)
    # torn build (no committed manifest) -> rebuilt from the given docs
    _tear_manifests(path)
    b2 = sorted(
        map(tuple, MI.minhash_index_build(corpus, path).table("bands").collect())
    )
    assert b1 == b2
    # committed index is served as-is (build from a different frame is
    # a no-op read)
    b3 = sorted(
        map(
            tuple,
            MI.minhash_index_build(corpus.limit(1), path)
            .table("bands").collect(),
        )
    )
    assert b3 == b1


def test_append_replay_idempotent(spark, tmp_path):
    corpus = _docs(spark, CORPUS_ROWS)
    batch = _docs(spark, BATCH_ROWS)
    path = str(tmp_path / "mhidx")
    with pytest.raises(ValueError, match="no committed"):
        MI.minhash_index_append(
            minhash_bands(batch), AM.artifact_open(spark, path)
        )
    MI.minhash_index_append(
        minhash_bands(batch), MI.minhash_index_build(corpus, path)
    )
    once = sorted(
        map(tuple, spark.read.parquet(f"{path}/bands").collect())
    )
    # replay: the anti-join makes the second append a no-op
    MI.minhash_index_append(
        minhash_bands(batch), AM.artifact_open(spark, path)
    )
    again = sorted(
        map(tuple, spark.read.parquet(f"{path}/bands").collect())
    )
    assert once == again
    # grown index now flags batch docs as dups of themselves
    got = MI.near_dup_probe(
        batch, spark.read.parquet(f"{path}/bands"),
        corpus.unionByName(batch),
    )
    self_pairs = {
        (r["doc_id"], r["dup_of"]) for r in got.collect()
    }
    assert {(i, i) for i in (101, 102, 103)} <= self_pairs


def test_index_probe_equals_full_lsh_on_testdata(spark, sf_dir, tmp_path):
    """On the real documents table: candidates from (index part +
    probe of batch part) == the cross subset of dedup_minhash_lsh on
    the whole frame — the banding is the same function either way."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    idx_part = docs.filter("doc_id % 10 != 0")
    batch_part = docs.filter("doc_id % 10 = 0")
    path = str(tmp_path / "mhidx")
    bands = MI.minhash_index_build(idx_part, path).table("bands")
    got = {
        (r["doc_id"], r["dup_of"])
        for r in MI.near_dup_probe(
            batch_part, bands, idx_part, threshold=0.0,
            max_bucket_size=None,
        ).collect()
    }
    # cap disabled on BOTH sides: the full-frame cap counts union
    # buckets, the probe caps the index side only — with caps off the
    # candidate sets are the same function of the same band rows
    full = dedup_minhash_lsh(docs, max_bucket_size=None).collect()
    exp = set()
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if a % 10 == 0 and b % 10 != 0:
            exp.add((a, b))
        elif b % 10 == 0 and a % 10 != 0:
            exp.add((b, a))
    assert got == exp


def test_streaming_ingest_near_dup_tier(spark, tmp_path):
    """E2E: the near-dup tier rejects (a) near-dups of the base
    corpus, (b) within-batch near-dup pairs (one survivor), (c)
    near-dups of earlier batches via the APPENDED index; replay with a
    fresh checkpoint admits nothing more and leaves the index stable."""
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars int"

    def _row(i, text):
        return (i, text, "en", "synthetic", len(text))

    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [_row(i, t) for i, t in CORPUS_ROWS], schema
    ).write.parquet(corpus_path)

    feed = str(tmp_path / "feed")

    def _drop(rows, name):
        tmp = str(tmp_path / f"__stage_{name}")
        spark.createDataFrame(
            [_row(i, t) for i, t in rows], schema
        ).repartition(1).write.parquet(tmp)
        os.makedirs(feed, exist_ok=True)
        shutil.copy(
            _glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/{name}"
        )

    novel = BATCH_ROWS[2][1]
    # batch A: near-dup of corpus doc 1 (rejected), a novel doc
    # (admitted) and a within-batch near-dup of it (one survivor: 201)
    _drop(
        [(200, BASE + " tonight"), (201, novel), (202, novel + " extra")],
        "a.parquet",
    )
    # batch B: near-dup of batch A's admitted doc — only the appended
    # index knows about 201, so this is the cross-batch assertion
    _drop([(300, novel + " indeed")], "b.parquet")

    sink = str(tmp_path / "admitted")
    idx = str(tmp_path / "mhidx")
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, near_dup_index_dir=idx,
    )
    got = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    assert got == {201}
    # the admitted doc's bands were appended; rejected docs' were not
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/bands")
        .select("doc_id").distinct().collect()
    }
    assert idx_ids == {1, 2, 3, 201}

    # full replay, fresh checkpoint: idempotent sink AND index
    before = sorted(
        map(tuple, spark.read.parquet(f"{idx}/bands").collect())
    )
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1, near_dup_index_dir=idx,
    )
    assert {r["doc_id"] for r in spark.read.parquet(sink).collect()} == {201}
    assert sorted(
        map(tuple, spark.read.parquet(f"{idx}/bands").collect())
    ) == before


def test_cli_ingest_near_dup(spark, tmp_path, capsys):
    """`ingest --near-dup --bloom-state`: the CLI drains the feed with
    both dedup tiers; re-invocation (fresh checkpoint dir) admits
    nothing more."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    schema = "doc_id long, text string, lang string, source string, n_chars int"

    def _row(i, text):
        return (i, text, "en", "synthetic", len(text))

    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [_row(i, t) for i, t in CORPUS_ROWS], schema
    ).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")
    tmp = str(tmp_path / "__stage")
    spark.createDataFrame(
        [
            _row(400, BASE + " tonight"),          # near-dup of corpus
            _row(401, CORPUS_ROWS[1][1]),           # exact dup of corpus
            _row(402, BATCH_ROWS[2][1]),            # novel -> admitted
        ],
        schema,
    ).repartition(1).write.parquet(tmp)
    os.makedirs(feed, exist_ok=True)
    shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/a.parquet")

    work = str(tmp_path / "wd")
    rc = main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", work, "--near-dup", "--bloom-state",
        "--compact-index",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "admitted_total=1" in out and "compacted_bands=" in out
    # post-compact store is committed (manifest params resolvable)
    assert AM.artifact_open(spark, f"{work}/minhash_index").params
    got = {r["doc_id"] for r in spark.read.parquet(f"{work}/admitted").collect()}
    assert got == {402}
    # both state artifacts exist; the Bloom state is one committed
    # params-only generation holding the bitmap words
    assert AM.artifact_open(spark, f"{work}/minhash_index").table("bands").count() > 0
    bloom = AM.artifact_open(spark, f"{work}/bloom_state")
    assert bloom.tables == {} and json.loads(bloom.params["words"])

    # replay with a fresh checkpoint: nothing more admitted
    shutil.rmtree(f"{work}/checkpoint")
    rc = main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", work, "--near-dup", "--bloom-state",
    ])
    assert rc == 0
    assert "admitted_total=1" in capsys.readouterr().out


def test_compact_preserves_rows_and_probe(spark, tmp_path):
    """Compaction rewrites the append-fragmented band store into few
    files with identical rows; probe results are unchanged; a reader
    that resolved the PREVIOUS manifest keeps a complete band set
    through the compaction (the swap protocol's reader gap, closed by
    the round-12 manifest port)."""
    corpus = _docs(spark, CORPUS_ROWS)
    path = str(tmp_path / "mhidx")
    MI.minhash_index_build(corpus, path)
    # fragment the store: three appends of disjoint batches
    for i in range(3):
        MI.minhash_index_append(
            minhash_bands(
                _docs(spark, [(500 + 10 * i + j, f"fragment batch {i} doc {j} "
                               + " ".join(f"w{i}{j}{k}" for k in range(12)))
                              for j in range(3)])
            ),
            AM.artifact_open(spark, path),
        )
    # served read
    bands_df = MI.minhash_index_build(corpus.limit(1), path).table("bands")
    before = sorted(map(tuple, bands_df.collect()))
    assert len(AM.artifact_open(spark, path).files("bands")) >= 4  # build + 3

    # a reader holding the pre-compaction generation...
    reader = bands_df

    n = MI.minhash_index_compact(spark, path, target_partitions=1)
    assert n == len(before)
    after = sorted(
        map(
            tuple,
            MI.minhash_index_build(corpus.limit(1), path)
            .table("bands").collect(),
        )
    )
    assert after == before
    assert len(AM.artifact_open(spark, path).files("bands")) == 1
    # ...still collects a complete row set mid-/post-compaction: its
    # files survive one further generation
    assert sorted(map(tuple, reader.collect())) == before

    got = {
        (r["doc_id"], r["dup_of"])
        for r in MI.near_dup_probe(
            _docs(spark, BATCH_ROWS),
            MI.minhash_index_build(corpus.limit(1), path).table("bands"),
            corpus,
        ).collect()
    }
    assert {(101, 1), (102, 3)} <= got

    # torn compact-equivalent: no committed manifest -> builders
    # rebuild instead of serving
    _tear_manifests(path)
    rebuilt = MI.minhash_index_build(corpus, path)
    assert rebuilt.table("bands").count() > 0
    with pytest.raises(ValueError, match="no committed"):
        MI.minhash_index_compact(spark, str(tmp_path / "absent"))


def test_cli_corpus_saves_index_then_ingest_probes_it(spark, sf_dir, tmp_path, capsys):
    """The batch -> incremental bootstrap: `corpus --save-near-dup-index`
    snapshots the survivors' band index; `ingest --near-dup` pointed at
    the SAME dir probes it without rebuilding (the committed artifact
    is served), and a near-dup of a survivor is rejected."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    work = str(tmp_path / "wd")
    idx = f"{work}/minhash_index"
    rc = main([
        "corpus", "--sf-dir", sf_dir, "--work-dir", work,
        "--save-near-dup-index", idx,
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "near_dup_index_rows=" in out
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/bands")
        .select("doc_id").distinct().collect()
    }
    assert idx_ids  # survivors are banded

    # pick a survivor's text; feed a near-dup + a novel doc
    surv = (
        spark.read.parquet(f"{work}/corpus")
        .select("doc_id", "text").limit(1).collect()[0]
    )
    schema = "doc_id long, text string, lang string, source string, n_chars int"
    feed = str(tmp_path / "feed")
    tmp = str(tmp_path / "__stage")
    novel = ("a wholly novel ingest document with twelve entirely fresh "
             "words never present in the synthetic corpus vocabulary")
    spark.createDataFrame(
        [
            (900001, surv["text"] + " tail", "en", "synthetic",
             len(surv["text"]) + 5),
            (900002, novel, "en", "synthetic", len(novel)),
        ],
        schema,
    ).repartition(1).write.parquet(tmp)
    import glob
    import os as _os
    import shutil as _sh

    _os.makedirs(feed, exist_ok=True)
    _sh.copy(glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/a.parquet")

    rc = main([
        "ingest",
        "--corpus-parquet", f"{work}/corpus",
        "--feed-dir", feed, "--work-dir", work, "--near-dup",
    ])
    assert rc == 0
    assert "admitted_total=1" in capsys.readouterr().out
    got = {r["doc_id"] for r in spark.read.parquet(f"{work}/admitted").collect()}
    assert got == {900002}


def test_ingest_quality_model_gate(spark, tmp_path, capsys):
    """--quality-model + --keep-pred: the trained-classifier gate
    rejects off-class docs BEFORE dedup; a doc of the kept class is
    admitted; zero-token docs are rejected (unclassifiable)."""
    from test_classify import _langid_fixture

    from haensel_ams_data_engineer_challenge_spark.__main__ import main
    from haensel_ams_data_engineer_challenge_spark.operators.classify import (
        char_ngram_tokens_col,
        nb_model_build,
    )

    # train the langid model artifact on the synthetic fixture
    train_rows, _held = _langid_fixture()
    model_dir = str(tmp_path / "nb_model")
    nb_model_build(
        char_ngram_tokens_col(
            spark.createDataFrame(
                train_rows, "doc_id long, lang string, text string"
            )
        ),
        model_dir,
        tokens_col="__cg",
        feature="char_trigram_200",
    )

    schema = "doc_id long, text string, lang string, source string, n_chars int"

    def _row(i, text):
        return (i, text, "und", "synthetic", len(text))

    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [_row(1, "die eigenschaften der verarbeitung und entwicklung")],
        schema,
    ).write.parquet(corpus_path)

    feed = str(tmp_path / "feed")
    tmp = str(tmp_path / "__stage")
    spark.createDataFrame(
        [
            _row(600, "the processing and development of throughput "
                      "properties and performance understanding"),  # en -> kept
            _row(601, "le traitement et la vitesse du developpement "
                      "des proprietes et des fonctionnalites"),     # fr -> dropped
            _row(602, "!!"),                                        # zero tokens -> dropped
        ],
        schema,
    ).repartition(1).write.parquet(tmp)
    import glob
    import os as _os
    import shutil as _sh

    _os.makedirs(feed, exist_ok=True)
    _sh.copy(glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/a.parquet")

    work = str(tmp_path / "wd")
    rc = main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", work,
        "--quality-model", model_dir, "--keep-pred", "en",
    ])
    assert rc == 0
    assert "admitted_total=1" in capsys.readouterr().out
    got = {r["doc_id"] for r in spark.read.parquet(f"{work}/admitted").collect()}
    assert got == {600}

    # the flags go together
    assert main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", work, "--quality-model", model_dir,
    ]) == 1
    capsys.readouterr()
