"""URL canonicalization (functions/url.py) + the ingest URL tier
(round 14, r13 verdict task 5)."""

from __future__ import annotations

import glob as _glob
import os
import shutil

from pyspark.sql import functions as F

from haensel_ams_data_engineer_challenge_spark.functions.url import canonical_url
from haensel_ams_data_engineer_challenge_spark.operators.artifact_manifest import (
    artifact_open,
)


def _canon(spark, urls: list[str | None]) -> list[str | None]:
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    return [r["c"] for r in df.select(canonical_url("u").alias("c")).collect()]


def test_canonical_url_matrix(spark):
    """The normalization matrix: every variant class collapses to its
    canonical form, non-URLs fall back to lowercased trim, nulls pass."""
    cases = {
        # scheme/host case + default port + trailing slash
        "HTTP://Example.COM:80/a/": "http://example.com/a",
        "http://example.com/a": "http://example.com/a",
        "https://Example.com:443/p": "https://example.com/p",
        # non-default port kept
        "http://example.com:8080/a": "http://example.com:8080/a",
        # tracking params stripped; real params kept and SORTED
        "http://example.com/a?utm_source=x&utm_medium=y":
            "http://example.com/a",
        "http://example.com/a?gclid=xyz&real=1":
            "http://example.com/a?real=1",
        "https://example.com/p?b=2&a=1": "https://example.com/p?a=1&b=2",
        # fragment dropped
        "http://example.com/a#frag": "http://example.com/a",
        # percent-escape normalization: unreserved decode + hex upcase
        "http://example.com/%7euser/%41bc%2fq":
            "http://example.com/~user/Abc%2Fq",
        "http://example.com/~user/Abc%2Fq":
            "http://example.com/~user/Abc%2Fq",
        # trailing-slash-only path collapses into the bare authority
        "http://example.com/": "http://example.com",
        # malformed escape stays literal
        "http://example.com/a%zz": "http://example.com/a%zz",
        # non-URL fallback: trim UNMODIFIED (r14 advice: case folding
        # is scheme/host-only, so /About and /about stay distinct)
        "Not A URL  ": "Not A URL",
        "/About": "/About",
        "/about": "/about",
    }
    got = _canon(spark, list(cases))
    assert got == list(cases.values())
    # null AND empty/whitespace-only yield NULL — the ingest tier
    # passes NULL keys through, so url-less rows never collide onto
    # one '' key and get hard-rejected as re-crawls (r14 advice, high)
    assert _canon(spark, [None, "", "   ", "\t\n"]) == [None] * 4


def test_canonical_url_variant_classes_collide(spark):
    """The dedup property itself: every re-crawl variant of one
    resource maps to ONE key; distinct resources stay distinct."""
    variants = [
        "http://News.Example.com/story/42?utm_campaign=mail",
        "HTTP://news.example.com:80/story/42/",
        "http://news.example.com/story/42#top",
        "http://news.example.com/story/42?fbclid=abc123",
    ]
    keys = set(_canon(spark, variants))
    assert len(keys) == 1
    other = _canon(spark, ["http://news.example.com/story/43"])[0]
    assert other not in keys


def test_ingest_url_tier_rejects_recrawl_before_content(spark, tmp_path):
    """e2e (the verdict's done gate): a utm-tagged re-crawl of an
    admitted URL is rejected BEFORE content work — proven by giving
    the re-crawl DIFFERENT text (content dedup alone would admit it);
    null-URL rows pass through to the content tiers."""
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long, uri string"
    )

    def row(i, text, uri):
        return (i, text, "en", "crawl", len(text), uri)

    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [row(1, "the corpus page about rivers and stones", 
             "http://site.example/rivers")],
        schema,
    ).write.parquet(corpus_path)

    feed = str(tmp_path / "feed")

    def drop(rows, name):
        tmp = str(tmp_path / f"__stage_{name}")
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(tmp)
        os.makedirs(feed, exist_ok=True)
        shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/{name}")

    # batch A: a new page (admitted), plus a within-batch URL-variant
    # pair with DIFFERENT texts (min doc_id survives the URL tier)
    drop([
        row(100, "a fresh page about boats on the lake",
            "http://site.example/boats"),
        row(101, "boats page rendered with a cookie banner variant",
            "HTTP://Site.Example:80/boats/"),
        # corpus URL re-crawl, fresh text: URL tier must reject it
        row(102, "rivers page text changed by the ad rotation",
            "http://site.example/rivers?utm_source=newsletter"),
        # no URL: passes to the content tiers, novel text -> admitted
        row(103, "a urlless document that is genuinely new", None),
    ], "a.parquet")
    # batch B: re-crawl of batch A's ADMITTED url, again new text
    drop([
        row(200, "boats page after an edit adds one sentence",
            "http://site.example/boats?gclid=zzz"),
        row(201, "an actually new page about clouds and roads",
            "http://site.example/clouds"),
    ], "b.parquet")

    sink = str(tmp_path / "admitted")
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, url_dedup_col="uri",
    )
    got = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    assert got == {100, 103, 201}, got

    # CONTRAST: without the URL tier, content dedup admits every one
    # of those texts (they are all distinct) — the tier is what did
    # the rejecting, not the content path
    sink2 = str(tmp_path / "admitted2")
    run_streaming_ingest(
        spark, corpus_path, feed, sink2, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    got2 = {r["doc_id"] for r in spark.read.parquet(sink2).collect()}
    assert got2 == {100, 101, 102, 103, 200, 201}


def test_ingest_url_tier_empty_urls_pass_through(spark, tmp_path):
    """r14 advice (high): empty-string URLs canonicalize to NULL, so
    DISTINCT url-less rows all pass the URL tier to the content tiers
    instead of colliding on one '' key and being hard-rejected."""
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long, uri string"
    )
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "seed corpus page about mountains", "en", "crawl", 32,
          "http://site.example/seed")],
        schema,
    ).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    tmp = str(tmp_path / "__stage")
    spark.createDataFrame(
        [
            (10, "first urlless page about harbors", "en", "crawl", 32, ""),
            (11, "second urlless page about canyons", "en", "crawl", 33,
             "   "),
            (12, "third urlless page about glaciers", "en", "crawl", 33,
             None),
        ],
        schema,
    ).repartition(1).write.parquet(tmp)
    shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/a.parquet")
    sink = str(tmp_path / "admitted")
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, url_dedup_col="uri",
    )
    got = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    assert got == {10, 11, 12}, got


def test_jsonl_empty_url_becomes_null_uri(spark, tmp_path):
    """sources/jsonl.py nullifs '' urls like warc.py does, so the
    URL tier's NULL-passthrough applies to C4/Dolma-style dumps."""
    from haensel_ams_data_engineer_challenge_spark.sources.jsonl import (
        read_documents_jsonl,
    )

    p = tmp_path / "d.jsonl"
    p.write_text(
        '{"id": "1", "text": "alpha doc", "url": ""}\n'
        '{"id": "2", "text": "beta doc", "url": "http://x.example/b"}\n'
    )
    docs, _bad = read_documents_jsonl(spark, str(p))
    rows = {r["text"]: r["uri"] for r in docs.collect()}
    assert rows["alpha doc"] is None
    assert rows["beta doc"] == "http://x.example/b"


def test_cli_ingest_url_dedup(spark, tmp_path, capsys):
    """Product surface: ingest --url-dedup-col uri."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long, uri string"
    )
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "base page text", "en", "crawl", 14,
          "http://a.example/base")],
        schema,
    ).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")
    tmp = str(tmp_path / "__stage")
    spark.createDataFrame(
        [(10, "base page rendered differently", "en", "crawl", 30,
          "http://A.Example/base?utm_medium=social"),
         (11, "a new page entirely", "en", "crawl", 19,
          "http://a.example/new")],
        schema,
    ).repartition(1).write.parquet(tmp)
    os.makedirs(feed, exist_ok=True)
    shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/a.parquet")
    work = str(tmp_path / "work")
    rc = main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", work, "--url-dedup-col", "uri", "--url-bloom",
    ])
    assert rc == 0
    got = {
        r["doc_id"]
        for r in spark.read.parquet(f"{work}/admitted").collect()
    }
    assert got == {11}
    assert artifact_open(spark, f"{work}/url_bloom_state").params["words"] != "[]"
    # --url-bloom without the tier is a config error
    assert main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", str(tmp_path / "w2"), "--url-bloom",
    ]) == 1


def test_url_bloom_state_scale_path(spark, tmp_path):
    """The URL tier's persisted-bitmap form: same admissions as the
    anti-join form, state survives a fresh-checkpoint replay (nothing
    re-admits), and an UNDERSIZED bitmap (forced false positives)
    still admits exactly the right set — FPs only enlarge the verify
    sliver (the incremental_new_keys contract)."""
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long, uri string"
    )

    def row(i, text, uri):
        return (i, text, "en", "crawl", len(text), uri)

    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [row(1, "corpus page about rivers", "http://s.example/rivers")],
        schema,
    ).write.parquet(corpus_path)
    feed = str(tmp_path / "feed")

    def drop(rows, name):
        tmp = str(tmp_path / f"__stage_{name}")
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(tmp)
        os.makedirs(feed, exist_ok=True)
        shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/{name}")

    drop([
        row(100, "fresh page about boats", "http://s.example/boats"),
        row(101, "rivers re-crawl new text",
            "http://s.example/rivers?utm_source=x"),
    ], "a.parquet")
    drop([
        row(200, "boats re-crawl with an edit",
            "HTTP://S.Example:80/boats/"),
        row(201, "clouds page", "http://s.example/clouds"),
    ], "b.parquet")

    sink = str(tmp_path / "admitted")
    bloom_dir = str(tmp_path / "url_bloom")
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, url_dedup_col="uri",
        url_bloom_state_dir=bloom_dir,
    )
    got = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    assert got == {100, 201}
    # the state dir committed one generation per batch
    state = artifact_open(spark, bloom_dir)
    assert state.version == 2 and state.params["words"] != "[]"

    # fresh-checkpoint replay: the persisted bitmap + sink make it a
    # no-op (and the reloaded state is exercised by a fresh session
    # variable inside the new run)
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1, url_dedup_col="uri",
        url_bloom_state_dir=bloom_dir,
    )
    assert {
        r["doc_id"] for r in spark.read.parquet(sink).collect()
    } == {100, 201}

    # undersized bitmap: every key collides somewhere, admissions
    # still exact (the verify sliver does the real work)
    sink3 = str(tmp_path / "admitted3")
    run_streaming_ingest(
        spark, corpus_path, feed, sink3, str(tmp_path / "ckpt3"),
        max_files_per_trigger=1, url_dedup_col="uri",
        url_bloom_state_dir=str(tmp_path / "url_bloom_small"),
        m_bits=64, k=2,
    )
    assert {
        r["doc_id"] for r in spark.read.parquet(sink3).collect()
    } == {100, 201}

    # guard: the bitmap without the tier is a config error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="url_dedup_col"):
        run_streaming_ingest(
            spark, corpus_path, feed, sink, str(tmp_path / "ckpt4"),
            url_bloom_state_dir=bloom_dir,
        )
