"""Structured Streaming surface: streaming results must converge to
the batch results on the same data (one-codepath principle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from haensel_ams_data_engineer_challenge_spark.attribution import model as M
from haensel_ams_data_engineer_challenge_spark.operators.manifest_sink import (
    read_manifest_sink,
)
from haensel_ams_data_engineer_challenge_spark.sources import load_table
from haensel_ams_data_engineer_challenge_spark.streaming import (
    hourly_event_stats,
    run_streaming_attribution,
    stream_events,
)


def test_streaming_hourly_stats_match_batch(spark, sf_dir, tmp_path):
    stats = hourly_event_stats(stream_events(spark, sf_dir))
    q = (
        stats.writeStream.format("memory")
        .queryName("hourly")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM hourly").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    expected = {
        (r.window_start, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    }
    assert got == expected


def test_stream_events_handles_both_ts_layouts(spark, tmp_path):
    """The driver testdata has shipped events.ts both as
    TIMESTAMP(NANOS) (surfacing as bigint nanos under nanosAsLong) and
    as plain TIMESTAMP(MICROS); stream_events probes the footer and
    must normalize both to identical wall-clock timestamps."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.DataFrame(
        {
            "event_id": [0, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:09:58.778549", "2024-01-01 01:16:06.738090",
                 "2024-01-02 23:59:59.000001"]
            ),
            "user_id": [13, 12, 12],
            "event_type": ["error", "signup", "purchase"],
            "value": [185.22, 106.03, 9.64],
            "props": ['{"k": 87}', '{"k": 0}', '{"k": 12}'],
        }
    )
    got = {}
    for name, unit in [("nanos", "ns"), ("micros", "us")]:
        d = tmp_path / name
        d.mkdir()
        tbl = pa.Table.from_pandas(base, preserve_index=False)
        i = tbl.schema.get_field_index("ts")
        tbl = tbl.set_column(
            i, pa.field("ts", pa.timestamp(unit)), tbl.column(i).cast(pa.timestamp(unit))
        )
        pq.write_table(tbl, d / "events.parquet", use_deprecated_int96_timestamps=False)
        q = (
            stream_events(spark, str(d))
            .writeStream.format("memory")
            .queryName(f"ts_{name}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got[name] = {
            (r.event_id, r.ts) for r in spark.sql(f"SELECT event_id, ts FROM ts_{name}").collect()
        }
    assert got["nanos"] == got["micros"]
    years = {ts.year for _, ts in got["micros"]}
    assert years == {2024}


def test_streaming_attribution_converges_to_batch(spark, sf_dir, tmp_path):
    sink = str(tmp_path / "acj")
    run_streaming_attribution(
        spark, sf_dir, sink, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    got = {
        (r.conv_id, r.session_id): round(r.ihc, 9)
        for r in read_manifest_sink(spark, sink).collect()
    }
    expected = {
        (r.conv_id, r.session_id): round(r.ihc, 9)
        for r in M.scored(spark, sf_dir).select("conv_id", "session_id", "ihc").collect()
    }
    assert got == expected
    # idempotency: re-running with a fresh checkpoint must not duplicate
    run_streaming_attribution(
        spark, sf_dir, sink, checkpoint_dir=str(tmp_path / "ckpt3")
    )
    assert read_manifest_sink(spark, sink).count() == len(expected)


def test_stateful_streaming_sessionize_matches_batch(spark, sf_dir, tmp_path):
    from haensel_ams_data_engineer_challenge_spark.operators.sessionize import (
        sessionize,
    )
    from haensel_ams_data_engineer_challenge_spark.sources import load_table
    from haensel_ams_data_engineer_challenge_spark.streaming.sessionize import (
        streaming_sessionize,
    )

    out = streaming_sessionize(stream_events(spark, sf_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.event_id: r.session_key for r in spark.sql("SELECT * FROM sess").collect()}
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    expected = {r.event_id: r.session_key for r in sessionize(ev).collect()}
    assert got == expected


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Streaming exact dedup: duplicate user_id events within the
    watermark horizon are dropped (the streaming twin of dedup_exact's
    key-based semantics)."""
    from pyspark.sql import functions as SF

    events = stream_events(spark, sf_dir).select("user_id", "ts")
    deduped = events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["user_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dd")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT user_id) AS u FROM dd").first()
    total_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("count(DISTINCT user_id) AS u")
        .first()
        .u
    )
    # every user appears at least once; far fewer rows than raw events
    assert got.u == total_users
    assert got.n < spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    from haensel_ams_data_engineer_challenge_spark.sources import load_table
    from haensel_ams_data_engineer_challenge_spark.streaming.joins import (
        clicks_to_purchases,
    )

    out = clicks_to_purchases(stream_events(spark, sf_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ssj").collect()
    }
    # batch twin: same function over the batch frame (ntz ts is fine there)
    ev = load_table(spark, sf_dir, "events")
    expected = {
        (r.click_id, r.purchase_id)
        for r in clicks_to_purchases(ev).collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_text_projection_matches_batch(spark, sf_dir, tmp_path):
    """Stateless text ops (token stats, Gopher flag, PII redaction)
    compose with Structured Streaming unchanged — the one-codepath
    principle extends to the corpus-hygiene tier: a documents feed can
    be quality-scored and redacted incrementally with the exact batch
    semantics."""
    from haensel_ams_data_engineer_challenge_spark.functions import text as T

    schema = (
        spark.read.option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .schema
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )

    def proj(df):
        return df.select(
            "doc_id",
            T.token_count("text").alias("tc"),
            T.gopher_quality_pass("text").alias("gp"),
            T.redact_pii("text").alias("clean"),
        )

    q = (
        proj(stream)
        .writeStream.format("memory")
        .queryName("textproj")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.doc_id: (r.tc, r.gp, r.clean)
        for r in spark.sql("SELECT * FROM textproj").collect()
    }
    batch = {
        r.doc_id: (r.tc, r.gp, r.clean)
        for r in proj(load_table(spark, sf_dir, "documents", spread=False)).collect()
    }
    assert got == batch and len(got) > 0


def test_streaming_attribution_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """Kill-and-resume exactly-once: a multi-batch catch-up stopped
    after two COMMITTED batches and restarted with the SAME checkpoint
    must resume from the recorded offsets (never reprocess batch 0)
    and converge to the batch result with zero duplicate rows.

    The feed dir holds the events split into 4 conversion-time-ordered
    files (written sequentially, names lexicographically ascending, so
    both file-source orderings — path and modification time — equal
    global conversion-time order; then the cross-batch session-claim
    rule coincides with the batch first-conversion-per-session
    semantics)."""
    import glob as globmod
    import os
    import shutil

    from pyspark.sql import Window

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    ev = load_table(spark, sf_dir, "events")
    quarts = ev.withColumn(
        "__q", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(4):
        stage = str(tmp_path / f"stage{i}")
        quarts.filter(F.col("__q") == i + 1).drop("__q").coalesce(1).write.parquet(
            stage
        )
        src = globmod.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(src, f"{feed}/conv_{i:02d}.parquet")  # fresh asc mtime

    sink = str(tmp_path / "acj_resume")
    ckpt = str(tmp_path / "ckpt_resume")
    expected = {
        (r.conv_id, r.session_id): round(r.ihc, 9)
        for r in M.scored(spark, sf_dir)
        .select("conv_id", "session_id", "ihc")
        .collect()
    }

    first_ids: list[int] = []
    run_streaming_attribution(
        spark, sf_dir, sink, checkpoint_dir=ckpt,
        stream_dir=feed, stream_glob="*.parquet",
        max_files_per_trigger=1, stop_after_batches=2,
        on_batch=first_ids.append,
    )
    partial = {
        (r.conv_id, r.session_id): round(r.ihc, 9)
        for r in read_manifest_sink(spark, sink).collect()
    }
    # the partial sink is consistent with the batch truth (a subset —
    # or everything, if all 4 batches outran the stop poll)
    assert set(partial).issubset(set(expected))
    assert all(expected[k] == v for k, v in partial.items())
    assert first_ids and min(first_ids) == 0

    resumed_ids: list[int] = []
    run_streaming_attribution(
        spark, sf_dir, sink, checkpoint_dir=ckpt,
        stream_dir=feed, stream_glob="*.parquet",
        max_files_per_trigger=1,
        on_batch=resumed_ids.append,
    )
    final = {
        (r.conv_id, r.session_id): round(r.ihc, 9)
        for r in read_manifest_sink(spark, sink).collect()
    }
    assert final == expected  # converged, and COUNT equality = no dupes
    if resumed_ids:  # empty only if the first run drained everything
        # offsets resumed: batch 0's commit is sealed the moment batch
        # 1 STARTS, so the restart must never see batch 0 again.  The
        # LAST counted batch's commit can race query.stop() under load
        # (its progress event precedes the final commit-log fsync), so
        # the hard guarantee — and this assertion — is >= 1; the
        # idempotent sink absorbs any replay of the raced batch
        # (round 13: a loaded 29-min suite measured exactly this race)
        assert min(resumed_ids) >= 1


def test_streaming_ingest_incremental_dedup(spark, sf_dir, tmp_path):
    """Streaming corpus ingestion == the batch dedup semantics: each
    micro-batch admits only docs new vs (base corpus + within-batch +
    earlier batches), and a replay admits nothing more."""
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.filter("doc_id < 400")
    corpus_path = str(tmp_path / "corpus")
    base.write.parquet(corpus_path)

    feed = str(tmp_path / "feed")
    # batch file A: 10 dups of the base corpus (ids shifted), 10 new,
    # plus an in-batch duplicate pair (ids 9000/9001 share text)
    a_dup = docs.filter("doc_id < 10").withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    a_new = docs.filter("doc_id >= 400 AND doc_id < 410").withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    a_pair = spark.createDataFrame(
        [(9000, "genuinely fresh text one", "en", "synthetic", 24),
         (9001, "genuinely fresh text one", "en", "synthetic", 24)],
        docs.schema.simpleString().replace("struct<", "").replace(">", "")
        .replace(":", " ").replace(",", ", "),
    )
    import glob as _glob
    import os
    import shutil

    def _drop(df, name):
        tmp = str(tmp_path / f"__stage_{name}")
        df.repartition(1).write.parquet(tmp)
        os.makedirs(feed, exist_ok=True)
        shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/{name}")

    _drop(a_dup.unionByName(a_new).unionByName(a_pair), "a.parquet")
    # batch file B: re-sends batch A's new docs (cross-batch dups) +
    # 5 genuinely new
    b_redo = a_new.withColumn("doc_id", F.col("doc_id") + 50000)
    b_new = docs.filter("doc_id >= 410 AND doc_id < 415").withColumn(
        "doc_id", F.col("doc_id") + 60000
    )
    _drop(b_redo.unionByName(b_new), "b.parquet")

    sink = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")
    run_streaming_ingest(
        spark, corpus_path, feed, sink, ckpt, max_files_per_trigger=1
    )

    admitted = read_manifest_sink(spark, sink)
    got_ids = {r["doc_id"] for r in admitted.select("doc_id").collect()}
    # batch A: the 10 new + ONE of the in-batch pair (min id);
    # batch B: only its 5 genuinely new (A's texts are already admitted)
    exp_ids = (
        {10400 + i for i in range(10)} | {9000}
        | {60410 + i for i in range(5)}
    )
    assert got_ids == exp_ids
    # admitted texts are globally unique vs base corpus and each other
    both = base.select("text").unionByName(admitted.select("text"))
    assert both.distinct().count() == both.count()

    # replay with a FRESH checkpoint: idempotent sink + persisted
    # admitted store -> nothing new is written
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    assert {
        r["doc_id"] for r in read_manifest_sink(spark, sink).select("doc_id").collect()
    } == exp_ids


def test_streaming_ingest_quality_gate(spark, tmp_path):
    """drop_gopher_fail rejects low-quality docs at ingestion time —
    before they can claim an admitted-store slot."""
    import glob as _glob
    import os
    import shutil

    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    nouns = ["fox", "dog", "river", "stone", "cloud", "tree", "boat", "road"]

    def good(i):
        return " ".join(
            f"the {nouns[(i + j) % len(nouns)]}{i}{j} and a "
            f"{nouns[(i + 2 * j + 1) % len(nouns)]}{i} were there so"
            for j in range(40)
        )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    base = spark.createDataFrame(
        [(0, good(0), "en", "web", 100)], schema
    )
    corpus_path = str(tmp_path / "corpus")
    base.write.parquet(corpus_path)

    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    batch = spark.createDataFrame(
        [(1, good(1), "en", "web", 100),
         (2, "zz2 yy2 qq2", "en", "web", 12)],  # fails Gopher
        schema,
    )
    tmp = str(tmp_path / "stage")
    batch.repartition(1).write.parquet(tmp)
    shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/a.parquet")

    sink = str(tmp_path / "admitted")
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"),
        drop_gopher_fail=True,
    )
    got = {r["doc_id"] for r in read_manifest_sink(spark, sink).collect()}
    assert got == {1}


def test_bloom_state_commit_runs_no_spark_job(spark, tmp_path):
    """Committing the Bloom state writes one manifest through the
    driver's filesystem client: no Spark job runs (counted per job
    group with the status tracker), and a reload returns the words."""
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        _BloomState,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    state = _BloomState(str(tmp_path / "bloom"), 4096, 3)
    state.words = {i: (i * 0x9E3779B97F4A7C15) & 0x7FFFFFFFFFFFFFFF for i in range(64)}
    try:
        sc.setJobGroup("bloom-commit", "bloom state commit")
        state.commit(spark)
        state.words[64] = 1
        state.commit(spark)
        sc.setJobGroup("bloom-control", "a counted job")
        spark.range(3).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup("bloom-commit") == []
    assert tracker.getJobIdsForGroup("bloom-control")
    reloaded = _BloomState(str(tmp_path / "bloom"), 4096, 3)
    reloaded.load(spark)
    assert reloaded.words == state.words and reloaded.snap.version == 2


def test_streaming_ingest_persisted_bloom_state(spark, sf_dir, tmp_path):
    """bloom_state_dir persists + OR-merges the bitmap across batches
    (no per-batch corpus-wide rebuild) as one committed manifest
    generation: identical admitted set to the rebuild path, replays
    stay no-ops, a params mismatch refuses loudly (a wrong-layout
    bitmap would yield false negatives), and a dir with no committed
    generation (a torn commit, or the older parquet layout) reseeds."""
    import glob as _glob
    import json
    import os
    import shutil

    import pytest as _pytest

    from haensel_ams_data_engineer_challenge_spark.operators.artifact_manifest import (
        artifact_open,
    )
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.filter("doc_id < 400")
    corpus_path = str(tmp_path / "corpus")
    base.write.parquet(corpus_path)

    feed = str(tmp_path / "feed")

    def _drop(df, name):
        tmp = str(tmp_path / f"__stage_{name}")
        df.repartition(1).write.parquet(tmp)
        os.makedirs(feed, exist_ok=True)
        shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/{name}")

    a_dup = docs.filter("doc_id < 10").withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    a_new = docs.filter("doc_id >= 400 AND doc_id < 410").withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    _drop(a_dup.unionByName(a_new), "a.parquet")
    # batch B re-sends A's new texts (cross-batch dups — the case the
    # OR-merged bits must catch) + 5 genuinely new
    b_redo = a_new.withColumn("doc_id", F.col("doc_id") + 50000)
    b_new = docs.filter("doc_id >= 410 AND doc_id < 415").withColumn(
        "doc_id", F.col("doc_id") + 60000
    )
    _drop(b_redo.unionByName(b_new), "b.parquet")

    sink = str(tmp_path / "admitted")
    bloom_dir = str(tmp_path / "bloom")
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, bloom_state_dir=bloom_dir,
    )
    exp_ids = {10400 + i for i in range(10)} | {60410 + i for i in range(5)}
    got_ids = {r["doc_id"] for r in read_manifest_sink(spark, sink).collect()}
    assert got_ids == exp_ids

    # the persisted state is one committed params-only generation per
    # batch: m_bits, k and the bitmap words, no data files
    state = artifact_open(spark, bloom_dir)
    assert state.version == 2 and state.tables == {}
    assert set(state.params) == {"m_bits", "k", "words"}
    words = dict(map(tuple, json.loads(state.params["words"])))
    assert words and all(0 <= i < (1 << 17) // 64 for i in words)
    assert not _glob.glob(f"{bloom_dir}/**/*.parquet", recursive=True)

    # replay with a fresh checkpoint: OR-merge is idempotent, the
    # idempotent sink admits nothing new
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1, bloom_state_dir=bloom_dir,
    )
    assert {
        r["doc_id"] for r in read_manifest_sink(spark, sink).collect()
    } == exp_ids

    # a bitmap built with other m_bits must refuse, not probe (the
    # ValueError surfaces wrapped in StreamingQueryException)
    with _pytest.raises(Exception, match="bloom state"):
        run_streaming_ingest(
            spark, corpus_path, feed, sink, str(tmp_path / "ckpt3"),
            max_files_per_trigger=1, bloom_state_dir=bloom_dir,
            m_bits=1 << 16,
        )

    # torn state (a commit killed after staging its manifest tmp file,
    # with no committed generation) reseeds from corpus+sink, and the
    # drain admits nothing new
    staged = artifact_open(spark, bloom_dir).params["words"]
    for f in _glob.glob(f"{bloom_dir}/_manifest_v*.json"):
        os.remove(f)
    with open(f"{bloom_dir}/.manifest_tmp_torn", "w") as fh:
        fh.write(staged[: len(staged) // 2])
    assert artifact_open(spark, bloom_dir) is None
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt4"),
        max_files_per_trigger=1, bloom_state_dir=bloom_dir,
    )
    assert {
        r["doc_id"] for r in read_manifest_sink(spark, sink).collect()
    } == exp_ids
    assert artifact_open(spark, bloom_dir).params["words"]

    # the older two-parquet-table layout holds no committed generation
    # either: reseeded, then committed as a manifest
    old_dir = str(tmp_path / "bloom_parquet_layout")
    spark.createDataFrame([(0, 1)], "word_idx long, bits long") \
        .write.parquet(f"{old_dir}/bitmap")
    spark.createDataFrame(
        [("m_bits", str(1 << 17)), ("k", "4"), ("checksum", "0")],
        "key string, value string",
    ).write.parquet(f"{old_dir}/params")
    fresh_sink = str(tmp_path / "admitted_reseeded")
    run_streaming_ingest(
        spark, corpus_path, feed, fresh_sink, str(tmp_path / "ckpt5"),
        max_files_per_trigger=1, bloom_state_dir=old_dir,
    )
    assert {
        r["doc_id"] for r in read_manifest_sink(spark, fresh_sink).collect()
    } == exp_ids
    assert artifact_open(spark, old_dir).version >= 1
