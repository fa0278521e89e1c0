"""CLI surface (python -m haensel_ams_data_engineer_challenge_spark) — the reference's
three entry points."""

from __future__ import annotations

import json
from pathlib import Path

from haensel_ams_data_engineer_challenge_spark.__main__ import main


def test_create_db_then_pipeline_then_sample(spark, sf_dir, tmp_path, capsys):
    work = str(tmp_path / "wd")
    assert main(["create-db", "--work-dir", work]) == 0
    out = capsys.readouterr().out
    assert "attribution_customer_journey" in out and "channel_reporting" in out

    assert main(["pipeline", "--sf-dir", sf_dir, "--work-dir", work]) == 0
    out = capsys.readouterr().out
    assert "sum_violations=0" in out
    assert (Path(work) / "channel_reporting_csv").exists()

    assert main(["training-sample", "--sf-dir", sf_dir, "--work-dir", work]) == 0
    files = list((Path(work) / "training_sample_json").glob("*.json"))
    records = [json.loads(l) for f in files for l in f.read_text().splitlines()]
    assert len(records) == 20
    assert all("journey_json" in r for r in records)


def test_cli_bad_date_exits_nonzero(tmp_path, capsys):
    rc = main([
        "pipeline", "--sf-dir", "/nonexistent", "--work-dir", str(tmp_path),
        "--start-date", "not-a-date",
    ])
    assert rc == 1
    assert "YYYY-MM-DD" in capsys.readouterr().err


def test_cli_corpus_build(spark, sf_dir, tmp_path, capsys):
    """corpus: dedup survivors -> per-lang cap -> split, written
    partitioned by split with every row assigned exactly one split."""
    work = str(tmp_path / "wd")
    rc = main([
        "corpus", "--sf-dir", sf_dir, "--work-dir", work,
        "--cap-per-lang", "50",
        "--train", "0.8", "--val", "0.1", "--test", "0.1",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "survivors=" in out
    back = spark.read.parquet(f"{work}/corpus")
    n = back.count()
    assert 0 < n <= 500
    assert back.filter("split NOT IN ('train','val','test')").count() == 0
    # per-lang cap respected
    assert all(
        r["count"] <= 50 for r in back.groupBy("lang").count().collect()
    )
    # no duplicate doc survives into the corpus
    assert back.select("doc_id").distinct().count() == n


def test_cli_corpus_decontaminate(spark, sf_dir, tmp_path, capsys):
    """--decontaminate-against drops training docs overlapping the
    eval set: eval docs copied verbatim from the corpus must remove
    their source docs from the output."""
    from haensel_ams_data_engineer_challenge_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    # take two real documents as the "benchmark" set (verbatim copies
    # -> overlap_frac 1.0 against their source docs)
    ev = docs.orderBy("doc_id").limit(2).select("doc_id", "text")
    eval_ids = [r.doc_id for r in ev.collect()]
    ev_path = str(tmp_path / "evalset")
    ev.write.parquet(ev_path)

    work = str(tmp_path / "wd")
    rc = main([
        "corpus", "--sf-dir", sf_dir, "--work-dir", work,
        "--decontaminate-against", ev_path,
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "contaminated=" in out
    n_flagged = int(out.split("contaminated=")[1].split()[0])
    assert n_flagged >= len(eval_ids) // 2  # at least the surviving sources
    back = spark.read.parquet(f"{work}/corpus")
    # no eval-source doc leaks into the training corpus
    assert back.filter(back.doc_id.isin(eval_ids)).count() == 0


def test_cli_corpus_decontaminate_knobs(spark, sf_dir, tmp_path, capsys):
    """--decontaminate-min-overlap tunes aggressiveness without code
    edits (round-3 advice item): an impossible threshold flags
    nothing, a permissive one at least the verbatim sources."""
    from haensel_ams_data_engineer_challenge_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.orderBy("doc_id").limit(2).select("doc_id", "text")
    ev_path = str(tmp_path / "evalset")
    ev.write.parquet(ev_path)

    def flagged_at(frac: float, work: str) -> int:
        rc = main([
            "corpus", "--sf-dir", sf_dir, "--work-dir", work,
            "--decontaminate-against", ev_path,
            "--decontaminate-min-overlap", str(frac),
            "--decontaminate-ngram", "3",
        ])
        assert rc == 0
        out = capsys.readouterr().out
        return int(out.split("contaminated=")[1].split()[0])

    strict = flagged_at(1.01, str(tmp_path / "w1"))  # > 1.0: unreachable
    loose = flagged_at(0.2, str(tmp_path / "w2"))
    assert strict == 0
    assert loose >= 1


def test_cli_corpus_redact_pii(spark, tmp_path, capsys):
    """--redact-pii scrubs emails/IPs/phones from the written corpus
    text while leaving clean documents byte-identical."""
    rows = [
        (i, f"doc {i} reach me at user{i}@mail.example or 10.0.0.{i} now "
            + "filler words " * 10, "en", "web", 100)
        for i in range(4)
    ] + [
        (i, f"clean document {i} with nothing sensitive " + "pad " * 10,
         "en", "web", 80)
        for i in range(4, 8)
    ]
    src = str(tmp_path / "sfdir")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{src}/documents.parquet")

    work = str(tmp_path / "wd")
    rc = main(["corpus", "--sf-dir", src, "--work-dir", work, "--redact-pii"])
    assert rc == 0
    back = spark.read.parquet(f"{work}/corpus")
    texts = {r.doc_id: r.text for r in back.collect()}
    assert len(texts) == 8  # no near-dups here; every doc survives
    for i in range(4):
        assert "<EMAIL>" in texts[i] and "<IP>" in texts[i]
        assert f"user{i}@" not in texts[i] and f"10.0.0.{i}" not in texts[i]
    for i in range(4, 8):
        assert texts[i] == rows[i][1]


def test_cli_mix_weighted_interleave(spark, sf_dir, tmp_path, capsys):
    """mix: per-source acceptance weights, deterministic per key."""
    from haensel_ams_data_engineer_challenge_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a, b = str(tmp_path / "src_a"), str(tmp_path / "src_b")
    docs.filter("doc_id % 2 = 0").write.parquet(a)
    docs.filter("doc_id % 2 = 1").write.parquet(b)
    n_a = spark.read.parquet(a).count()

    work = str(tmp_path / "wd")
    argv = [
        "mix", "--work-dir", work,
        "--source", f"alpha={a}=1.0",
        "--source", f"beta={b}=0.4",
    ]
    assert main(argv) == 0
    out1 = capsys.readouterr().out
    back = spark.read.parquet(f"{work}/mixture")
    got = {r["source_name"]: r["count"] for r in back.groupBy("source_name").count().collect()}
    assert got["alpha"] == n_a            # weight 1.0 keeps everything
    assert 0 < got["beta"] < spark.read.parquet(b).count()  # 0.4 thins
    # deterministic: rerun produces the identical mixture
    assert main(argv) == 0
    assert capsys.readouterr().out == out1


def test_cli_mix_bad_source_spec(tmp_path, capsys):
    rc = main(["mix", "--work-dir", str(tmp_path), "--source", "oops"])
    assert rc == 1
    assert "NAME=PATH=WEIGHT" in capsys.readouterr().err


def test_cli_mix_path_with_equals_and_dup_names(spark, sf_dir, tmp_path, capsys):
    """Hive-partitioned paths contain '=' — the spec parser must split
    the name from the left and the weight from the right; duplicate
    source names error instead of silently overwriting."""
    from haensel_ams_data_engineer_challenge_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "part" / "split=train")
    docs.limit(20).write.parquet(src)
    work = str(tmp_path / "wd")
    assert main(["mix", "--work-dir", work, "--source", f"a={src}=1.0"]) == 0
    assert "a=20" in capsys.readouterr().out

    rc = main([
        "mix", "--work-dir", work,
        "--source", f"a={src}=1.0", "--source", f"a={src}=0.5",
    ])
    assert rc == 1
    assert "duplicate --source" in capsys.readouterr().err


def test_cli_corpus_dedup_method(spark, sf_dir, tmp_path, capsys):
    """--dedup-method selects the near-dup pair source; every mode
    produces a full split corpus (all docs labeled, survivors only)."""
    from haensel_ams_data_engineer_challenge_spark.sources import load_table

    n = load_table(spark, sf_dir, "documents").count()
    counts = {}
    for method in ("minhash", "substring", "both"):
        work = str(tmp_path / f"wd_{method}")
        rc = main([
            "corpus", "--sf-dir", sf_dir, "--work-dir", work,
            "--dedup-method", method,
        ])
        assert rc == 0
        back = spark.read.parquet(f"{work}/corpus")
        counts[method] = back.count()
        assert 0 < counts[method] <= n
        assert back.select("split").distinct().count() >= 1
    # the union of both signals can only merge clusters further:
    # never MORE survivors than the weakest single signal
    assert counts["both"] <= min(counts["minhash"], counts["substring"])


def test_cli_search_bm25(spark, sf_dir, tmp_path, capsys):
    """search: BM25 hits parquet with k rows per query, ranked."""
    from pyspark.sql import functions as F

    work = str(tmp_path / "wd")
    qpath = str(tmp_path / "queries")
    (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id % 100 = 0")
        .select(
            F.col("doc_id").alias("query_id"),
            F.substring("text", 1, 80).alias("text"),
        )
        .write.parquet(qpath)
    )
    rc = main([
        "search", "--sf-dir", sf_dir, "--work-dir", work,
        "--queries-parquet", qpath, "--k", "3",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "hits=" in out
    back = spark.read.parquet(f"{work}/search_hits")
    per_q = back.groupBy("query_id").count().collect()
    assert per_q and all(r["count"] <= 3 for r in per_q)
    # ranks are 1..k and scores non-increasing within each query
    # (the testdata vocabulary is ~31 terms, so a text prefix is NOT
    # discriminative enough to guarantee self-retrieval at rank 1 —
    # that property is pinned on real text in test_retrieval.py)
    rows = back.orderBy("query_id", "rank").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1)), q
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True), q


def test_cli_corpus_quality_and_bpe(spark, tmp_path, capsys):
    """corpus --drop-gopher-fail filters quality failures (the driver
    testdata fails Gopher wholesale — no English stopwords — so this
    test crafts a corpus with both classes); --learn-bpe writes a
    valid merges file learned on the train split."""
    import json

    # each doc: stopword-rich but pairwise DISSIMILAR (distinct noun
    # pool per doc), so minhash dedup keeps them all
    nouns = ["fox", "dog", "river", "stone", "cloud", "tree", "boat",
             "lamp", "road", "hill", "bird", "field"]
    def good(i):
        return " ".join(
            f"the {nouns[(i + j) % len(nouns)]}{i}{j} and a "
            f"{nouns[(i + 2 * j + 1) % len(nouns)]}{i} were there so"
            for j in range(40)
        )
    rows = [(i, good(i), "en", "web", len(good(i))) for i in range(8)]
    rows += [(100 + i, f"zz{i} yy{i} qq{i}", "en", "web", 12)
             for i in range(4)]  # distinct, all fail Gopher
    src = str(tmp_path / "sfdir")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{src}/documents.parquet")

    work = str(tmp_path / "wd")
    rc = main([
        "corpus", "--sf-dir", src, "--work-dir", work,
        "--drop-gopher-fail", "--learn-bpe", "4",
        "--train", "1.0", "--val", "0.0", "--test", "0.0",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "quality_dropped=4" in out and "bpe_merges=4" in out
    from haensel_ams_data_engineer_challenge_spark.functions.text import (
        gopher_quality_pass,
    )

    back = spark.read.parquet(f"{work}/corpus")
    assert back.count() == 8
    assert back.filter(~gopher_quality_pass("text")).count() == 0
    merges = json.load(open(f"{work}/bpe_merges.json"))
    assert len(merges) == 4
    assert all(len(m) == 2 and all(isinstance(s, str) for s in m) for m in merges)
    # the merges file round-trips into bpe_segment
    from haensel_ams_data_engineer_challenge_spark.operators.bpe import (
        bpe_segment,
    )

    seg = bpe_segment(back.limit(5), [tuple(m) for m in merges])
    assert seg.filter("size(bpe_tokens) = 0").count() == 0


def test_cli_tokenize_round_trip(spark, sf_dir, tmp_path, capsys):
    """corpus --learn-bpe -> tokenize: the merges file segments the
    corpus and tokens reconstruct each doc's word stream."""
    import re

    work = str(tmp_path / "wd")
    assert main([
        "corpus", "--sf-dir", sf_dir, "--work-dir", work, "--learn-bpe", "6",
    ]) == 0
    capsys.readouterr()
    assert main([
        "tokenize", "--docs-parquet", f"{work}/corpus",
        "--merges-json", f"{work}/bpe_merges.json", "--work-dir", work,
    ]) == 0
    out = capsys.readouterr().out
    assert "bpe_tokens=" in out and "merges=6" in out
    back = spark.read.parquet(f"{work}/tokenized")
    sample = back.select("text", "bpe_tokens").limit(10).collect()
    assert sample
    for r in sample:
        rebuilt = "".join(r["bpe_tokens"]).replace("</w>", " ").strip()
        assert rebuilt == " ".join(re.findall(r"[a-z0-9]+", r["text"].lower()))


def test_cli_corpus_from_jsonl(spark, tmp_path, capsys):
    """corpus --docs-jsonl: jsonl dump -> quarantine + curated split
    corpus, end to end."""
    nouns = ["fox", "dog", "river", "stone", "cloud", "tree", "boat", "road"]

    def good(i):
        return " ".join(
            f"the {nouns[(i + j) % len(nouns)]}{i}{j} and a "
            f"{nouns[(i + 2 * j + 1) % len(nouns)]}{i} were there so"
            for j in range(20)
        )

    lines = [json.dumps({"id": i, "text": good(i), "lang": "en"})
             for i in range(6)]
    lines += [json.dumps({"id": 6, "text": good(0), "lang": "en"})]  # exact dup
    lines += ["{broken json", json.dumps({"id": 8})]                 # quarantine
    dump = tmp_path / "dump.jsonl"
    dump.write_text("\n".join(lines) + "\n")

    work = str(tmp_path / "wd")
    rc = main([
        "corpus", "--docs-jsonl", str(dump), "--work-dir", work,
        "--train", "1.0", "--val", "0.0", "--test", "0.0",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "quarantined=2" in out and "docs=7" in out
    back = spark.read.parquet(f"{work}/corpus")
    texts = [r["text"] for r in back.collect()]
    assert len(texts) == 6                 # exact dup resolved
    assert len(set(texts)) == 6
    q = spark.read.parquet(f"{work}/quarantine")
    assert q.count() == 2


def test_cli_pack_shards(spark, sf_dir, tmp_path, capsys):
    """pack: documents -> cross-doc packed sequences -> deterministic
    shards + manifest, end to end."""
    work = str(tmp_path / "wd")
    argv = [
        "pack", "--docs-parquet", f"{sf_dir}/documents.parquet",
        "--work-dir", work, "--seq-len", "128", "--n-shards", "4",
    ]
    assert main(argv) == 0
    out1 = capsys.readouterr().out
    assert "shards=4" in out1 and "-> " in out1
    back = spark.read.parquet(f"{work}/shards")
    m1_rows = [tuple(r) for r in spark.read.parquet(f"{work}/manifest").collect()]
    n_rows_idx = 1  # (shard, n_rows, n_tokens, content_hash)
    assert back.count() == sum(r[n_rows_idx] for r in m1_rows)
    # total tokens = corpus tokens + one separator per tokenized doc
    from pyspark.sql import functions as F

    from haensel_ams_data_engineer_challenge_spark.operators.retrieval import (
        search_tokens,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = docs.select(F.size(search_tokens("text")).alias("n")).filter("n > 0")
    expect = tok.agg(F.sum("n") + F.count("*")).collect()[0][0]
    n_tokens_idx = 2
    assert sum(r[n_tokens_idx] for r in m1_rows) == expect
    # deterministic: a rerun into a FRESH dir reproduces the manifest
    work2 = str(tmp_path / "wd2")
    argv2 = [
        "pack", "--docs-parquet", f"{sf_dir}/documents.parquet",
        "--work-dir", work2, "--seq-len", "128", "--n-shards", "4",
    ]
    assert main(argv2) == 0
    capsys.readouterr()
    m2_rows = [tuple(r) for r in spark.read.parquet(f"{work2}/manifest").collect()]
    assert sorted(m2_rows) == sorted(m1_rows)


def test_cli_corpus_from_warc(spark, tmp_path, capsys):
    """corpus --docs-warc: WARC shard -> audit + curated corpus,
    end to end."""
    import gzip as _gzip

    def rec(wtype, uri, payload):
        hdr = (
            b"WARC/1.0\r\nWARC-Type: " + wtype + b"\r\n"
            + (b"WARC-Target-URI: " + uri + b"\r\n" if uri else b"")
            + b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
        )
        return hdr + payload + b"\r\n\r\n"

    def http200(html):
        return b"HTTP/1.1 200 OK\r\n\r\n" + html

    nouns = ["fox", "dog", "river", "stone", "cloud", "tree", "boat", "road"]

    def page(i):
        body = " ".join(
            f"the {nouns[(i + j) % len(nouns)]}{i}{j} and a "
            f"{nouns[(i + 2 * j + 1) % len(nouns)]}{i} were there so"
            for j in range(20)
        )
        return f"<html><body><p>{body}</p></body></html>".encode()

    shard = rec(b"warcinfo", b"", b"sw: test")
    for i in range(5):
        shard += rec(b"response", f"http://site{i}.example/p".encode(),
                     http200(page(i)))
    shard += rec(b"response", b"http://dup.example/p", http200(page(0)))
    warc_dir = tmp_path / "crawl"
    warc_dir.mkdir()
    (warc_dir / "shard0.warc.gz").write_bytes(_gzip.compress(shard))

    work = str(tmp_path / "wd")
    rc = main([
        "corpus", "--docs-warc", str(warc_dir), "--work-dir", work,
        "--train", "1.0", "--val", "0.0", "--test", "0.0",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "quarantined=1" in out and "docs=6" in out
    back = spark.read.parquet(f"{work}/corpus")
    texts = [r["text"] for r in back.collect()]
    assert len(texts) == 5 and len(set(texts)) == 5  # exact dup resolved
    audit = spark.read.parquet(f"{work}/warc_audit").collect()[0]
    assert audit["n_records"] == 7 and audit["n_rejected"] == 1


def test_cli_corpus_blocklist_and_boilerplate(spark, tmp_path, capsys):
    """--block-hosts drops listed-domain docs (incl. subdomains);
    --remove-boilerplate-lines excises cross-doc repeated lines."""
    nouns = ["fox", "dog", "river", "stone", "cloud", "tree", "boat", "road"]

    def body(i):
        return " ".join(
            f"the {nouns[(i + j) % len(nouns)]}{i}{j} and a "
            f"{nouns[(i + 2 * j + 1) % len(nouns)]}{i} were there so"
            for j in range(20)
        )

    banner = "subscribe to the example newsletter today"
    rows = [
        (i, f"{banner}\n{body(i)}",
         "en", host, 100)
        for i, host in enumerate([
            "good.example.org", "ads.tracker.net", "x.ads.tracker.net",
            "another.example.org", "fine.example.org", "ok.example.org",
        ])
    ]
    src = str(tmp_path / "sfdir")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{src}/documents.parquet")
    bl = tmp_path / "blocked.txt"
    bl.write_text("# comment\nads.tracker.net\n")

    work = str(tmp_path / "wd")
    rc = main([
        "corpus", "--sf-dir", src, "--work-dir", work,
        "--block-hosts", str(bl), "--remove-boilerplate-lines",
        "--train", "1.0", "--val", "0.0", "--test", "0.0",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "blocked=2" in out                    # exact + subdomain
    assert "boilerplate_lines_cut=4" in out      # banner cut from 4 kept docs
    back = spark.read.parquet(f"{work}/corpus")
    assert back.count() == 4
    assert back.filter("source LIKE '%tracker.net'").count() == 0
    assert all(banner not in r["text"] for r in back.collect())
    assert all(len(r["text"]) > 100 for r in back.collect())  # bodies intact


def test_cli_pack_with_learned_bpe(spark, sf_dir, tmp_path, capsys):
    """pack --merges-json: learn merges, segment, pack the BPE token
    stream into shards — token totals match the segmentation."""
    import json as _json

    from pyspark.sql import functions as F

    from haensel_ams_data_engineer_challenge_spark.operators.bpe import (
        bpe_segment, bpe_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train(docs, 5)
    mpath = tmp_path / "merges.json"
    mpath.write_text(_json.dumps([list(m) for m in merges]))

    work = str(tmp_path / "wd")
    rc = main([
        "pack", "--docs-parquet", f"{sf_dir}/documents.parquet",
        "--work-dir", work, "--seq-len", "128", "--n-shards", "4",
        "--merges-json", str(mpath),
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "shards=4" in out
    seg = bpe_segment(docs, merges)
    n_bpe = seg.filter(F.size("bpe_tokens") > 0)
    expect = n_bpe.agg(
        F.sum(F.size("bpe_tokens")) + F.count("*")
    ).collect()[0][0]  # + one separator per contributing doc
    manifest = spark.read.parquet(f"{work}/manifest")
    assert manifest.agg(F.sum("n_tokens")).collect()[0][0] == expect


def test_cli_search_ann_with_persistent_index(spark, sf_dir, tmp_path, capsys):
    """search --method ann: text -> hash_embed -> IVF ANN with the
    on-disk index; a verbatim-copy query must retrieve its source doc
    at rank 1, and the second run serves the SAME index from disk."""
    from haensel_ams_data_engineer_challenge_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    src = docs.orderBy("doc_id").limit(2).collect()
    q = spark.createDataFrame(
        [(9001, src[0]["text"]), (9002, src[1]["text"])],
        "query_id long, text string",
    )
    qpath = str(tmp_path / "queries")
    q.write.parquet(qpath)

    work = str(tmp_path / "wd")
    argv = [
        "search", "--sf-dir", sf_dir, "--work-dir", work,
        "--queries-parquet", qpath, "--k", "3", "--method", "ann",
    ]
    assert main(argv) == 0
    out1 = capsys.readouterr().out
    assert "method=ann queries=2" in out1
    hits1 = [tuple(r) for r in spark.read.parquet(f"{work}/search_hits").collect()]
    top = {r[0]: r[1] for r in hits1 if r[3] == 1}  # (query_id, doc_id, score, rank)
    assert top == {9001: src[0]["doc_id"], 9002: src[1]["doc_id"]}
    # the persistent index was created and the rerun reuses it
    # (round 12: params live in the artifact manifest, not a parquet)
    from haensel_ams_data_engineer_challenge_spark.operators.artifact_manifest import (
        artifact_open,
    )

    assert artifact_open(spark, f"{work}/ann_index").params
    assert main(argv) == 0
    capsys.readouterr()
    spark.catalog.refreshByPath(f"{work}/search_hits")
    hits2 = [tuple(r) for r in spark.read.parquet(f"{work}/search_hits").collect()]
    assert sorted(hits2) == sorted(hits1)


def test_cli_report_corpus_stats(spark, sf_dir, tmp_path, capsys):
    """report: per-lang/source counts + exact quality percentiles;
    percentile columns bracket the median and counts reconcile."""
    work = str(tmp_path / "wd")
    rc = main(["report", "--sf-dir", sf_dir, "--work-dir", work])
    assert rc == 0
    out = capsys.readouterr().out
    assert "docs=" in out and "langs=" in out
    lang_rep = spark.read.parquet(f"{work}/report_lang")
    rows = lang_rep.collect()
    from haensel_ams_data_engineer_challenge_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert r["min_value"] <= r["q25"] <= r["q50"] <= r["q75"] <= r["max_value"]
    src_rep = spark.read.parquet(f"{work}/report_source")
    assert src_rep.count() == docs.select("source").distinct().count()


def test_cli_search_ann_refresh_index(spark, sf_dir, tmp_path, capsys):
    """search --method ann --refresh-index (round 9): documents added
    to the corpus after the index build are appended to the committed
    artifact (frozen centroids, no retrain) and become findable;
    without the flag they are invisible."""
    import os

    work = str(tmp_path / "wd")
    sf1 = str(tmp_path / "sf1")
    os.makedirs(sf1)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.write.parquet(f"{sf1}/documents.parquet")

    new_text = (
        "a genuinely new document about frozen centroid appends to a "
        "committed inverted file index without any retraining at all"
    )
    qpath = str(tmp_path / "queries")
    spark.createDataFrame(
        [(9001, new_text)], "query_id long, text string"
    ).write.parquet(qpath)

    # build the index over the original corpus
    rc = main([
        "search", "--sf-dir", sf1, "--work-dir", work,
        "--queries-parquet", qpath, "--method", "ann", "--k", "3",
    ])
    assert rc == 0
    capsys.readouterr()

    # grown corpus in a fresh dir (same work dir -> same index)
    sf2 = str(tmp_path / "sf2")
    os.makedirs(sf2)
    new_doc = spark.createDataFrame(
        [(999999, new_text, "en", "synthetic", len(new_text))],
        docs.schema,
    )
    docs.unionByName(new_doc).write.parquet(f"{sf2}/documents.parquet")

    def _hit_ids():
        return {
            r["doc_id"]
            for r in spark.read.parquet(f"{work}/search_hits").collect()
        }

    # stale index: the committed artifact is served verbatim, so the
    # new doc cannot be a hit
    rc = main([
        "search", "--sf-dir", sf2, "--work-dir", work,
        "--queries-parquet", qpath, "--method", "ann", "--k", "3",
    ])
    assert rc == 0
    capsys.readouterr()
    assert 999999 not in _hit_ids()

    # refreshed: appended to its nearest frozen cell -> the query
    # (identical text, identical hashed vector) finds it at rank 1
    rc = main([
        "search", "--sf-dir", sf2, "--work-dir", work,
        "--queries-parquet", qpath, "--method", "ann", "--k", "3",
        "--refresh-index",
    ])
    assert rc == 0
    capsys.readouterr()
    top = {
        r["doc_id"]: r["rank"]
        for r in spark.read.parquet(f"{work}/search_hits").collect()
    }
    assert top.get(999999) == 1


def test_cli_classify_model_artifact(spark, sf_dir, tmp_path, capsys):
    """classify: first run trains + persists the model and scores the
    corpus; second run SERVES the committed artifact (predictions
    identical); char_trigram feature trains the langid form from a
    labeled parquet."""
    work = str(tmp_path / "wd")
    rc = main(["classify", "--sf-dir", sf_dir, "--work-dir", work])
    assert rc == 0
    out = capsys.readouterr().out
    assert "scored=" in out and f"model={work}/nb_model" in out
    first = sorted(
        map(tuple, spark.read.parquet(f"{work}/predictions").collect())
    )
    assert first
    # re-run: model served from disk, predictions identical
    rc = main(["classify", "--sf-dir", sf_dir, "--work-dir", work])
    assert rc == 0
    capsys.readouterr()
    assert sorted(
        map(tuple, spark.read.parquet(f"{work}/predictions").collect())
    ) == first

    # trained-split langid form: labeled train parquet + char trigrams
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tp = str(tmp_path / "train")
    docs.limit(50).write.parquet(tp)
    work2 = str(tmp_path / "wd2")
    rc = main([
        "classify", "--sf-dir", sf_dir, "--work-dir", work2,
        "--train-parquet", tp, "--feature", "char_trigram",
    ])
    assert rc == 0
    capsys.readouterr()
    pred = spark.read.parquet(f"{work2}/predictions")
    assert pred.count() > 0
    assert {"doc_id", "nb_pred", "nb_logp"} <= set(pred.columns)
    # the marker pinned the trigram feature: loading the same model
    # dir under the default feature refuses
    rc = main([
        "classify", "--sf-dir", sf_dir, "--work-dir", work2,
    ])
    assert rc == 1


def test_cli_corpus_dedup_method_semantic(spark, sf_dir, tmp_path, capsys):
    """--dedup-method semantic: SemDeDup over feature-hashed
    embeddings — exact-dup texts are cosine-1.0 semantic pairs, so
    the survivor set must be no larger than exact text dedup's and
    every survivor unique."""
    from pyspark.sql import functions as F

    from haensel_ams_data_engineer_challenge_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    n_exact = docs.select(F.md5("text")).distinct().count()
    work = str(tmp_path / "wd_sem")
    rc = main([
        "corpus", "--sf-dir", sf_dir, "--work-dir", work,
        "--dedup-method", "semantic",
        "--semantic-threshold", "0.999",
    ])
    assert rc == 0
    assert "survivors=" in capsys.readouterr().out
    back = spark.read.parquet(f"{work}/corpus")
    kept = back.count()
    # identical texts hash-embed to identical vectors (cosine 1.0 in
    # the same cell), so semantic dedup subsumes exact dedup
    assert 0 < kept <= n_exact <= n
    assert back.select("doc_id").distinct().count() == kept


def test_cli_corpus_semantic_zero_token_exact_dups(spark, tmp_path, capsys):
    """Review regression (round 9): hash_embed drops zero-token docs,
    so md5-identical tokenless texts ('!!!!') must still collapse via
    the exact-hash fallback pairs — semantic dedup subsumes exact
    dedup even off the token path."""
    src = tmp_path / "docs.jsonl"
    rows = [
        # two tokenless exact dups + one distinct tokenless + two
        # normal docs that are word-identical (semantic pair)
        {"id": 1, "text": "!!!!", "lang": "en", "source": "s"},
        {"id": 2, "text": "!!!!", "lang": "en", "source": "s"},
        {"id": 3, "text": "????", "lang": "en", "source": "s"},
        {"id": 4, "text": "alpha beta gamma delta", "lang": "en", "source": "s"},
        {"id": 5, "text": "alpha beta gamma delta", "lang": "en", "source": "s"},
    ]
    import json as _json

    src.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    work = str(tmp_path / "wd")
    rc = main([
        "corpus", "--docs-jsonl", str(src), "--work-dir", work,
        "--dedup-method", "semantic", "--semantic-threshold", "0.999",
        "--semantic-k", "2",
    ])
    assert rc == 0
    back = spark.read.parquet(f"{work}/corpus")
    # wire ids are xxhash64-mapped (sources/jsonl.py), so assert on
    # text: one survivor per distinct text, tokenless dups collapsed
    per_text = {r.text: r["count"]
                for r in back.groupBy("text").count().collect()}
    assert per_text == {
        "!!!!": 1, "????": 1, "alpha beta gamma delta": 1,
    }


def test_cli_corpus_semantic_rejects_bad_k(tmp_path, capsys):
    rc = main([
        "corpus", "--sf-dir", "/root/testdata/sf0.001",
        "--work-dir", str(tmp_path / "wd"),
        "--dedup-method", "semantic", "--semantic-k", "0",
    ])
    assert rc == 1
    assert "--semantic-k" in capsys.readouterr().err


def test_cli_corpus_semantic_encoder_model(spark, tmp_path, capsys):
    """corpus --dedup-method semantic --encoder-model: the SemDeDup
    pass runs on the model-inference seam — a synonym-swapped
    paraphrase pair (hash_embed cosine ~0.80, invisible at 0.9)
    collapses to one survivor; the hash_embed run keeps both."""
    base = "the quick brown fox jumps over the lazy dog"
    para = "the rapid brown fox hops over the sluggish dog"
    other = ("entirely different content about broadcast joins and "
             "adaptive execution feeding columnar parquet scans")
    import json

    src = str(tmp_path / "docs.jsonl")
    with open(src, "w") as fh:
        for i, t in ((1, base), (2, para), (3, other)):
            fh.write(json.dumps({
                "doc_id": i, "text": t, "lang": "en",
                "source": "s", "n_chars": len(t),
            }) + "\n")

    work_h = str(tmp_path / "wd_hash")
    rc = main([
        "corpus", "--docs-jsonl", src, "--work-dir", work_h,
        "--dedup-method", "semantic", "--semantic-threshold", "0.9",
        "--semantic-k", "1",
    ])
    assert rc == 0
    assert spark.read.parquet(f"{work_h}/corpus").count() == 3

    # bring-your-own-artifact flow: a PRE-TRAINED encoder at the path
    # is served as-is (build-if-absent) — here trained with
    # stop_top_n=0 because the default top-16 stop list would swallow
    # this tiny fixture's whole vocabulary (zero kept tokens = no
    # vector = no semantic signal, the honest degradation)
    from haensel_ams_data_engineer_challenge_spark.operators import (
        embed as E,
    )

    work_m = str(tmp_path / "wd_model")
    train = spark.createDataFrame(
        [(1, base), (2, para), (3, other)], "doc_id long, text string"
    )
    E.encoder_model_build(train, f"{work_m}/encoder", stop_top_n=0)
    rc = main([
        "corpus", "--docs-jsonl", src, "--work-dir", work_m,
        "--dedup-method", "semantic", "--semantic-threshold", "0.9",
        "--semantic-k", "1", "--encoder-model", f"{work_m}/encoder",
    ])
    assert rc == 0
    kept = {r["text"]
            for r in spark.read.parquet(f"{work_m}/corpus").collect()}
    # exactly one of the paraphrase pair survives, plus the other doc
    assert other in kept and len(kept) == 2
    assert len(kept & {base, para}) == 1


def test_cli_search_ann_encoder_model(spark, sf_dir, tmp_path, capsys):
    """search --method ann --encoder-model: docs AND queries embed
    through the seam; the index lands under ann_index_model with the
    IVF marker committed."""
    import os

    queries = str(tmp_path / "queries")
    spark.createDataFrame(
        [(0, "the quick brown fox"), (1, "revenue and conversion")],
        "query_id long, text string",
    ).write.parquet(queries)
    work = str(tmp_path / "wd")
    rc = main([
        "search", "--sf-dir", sf_dir, "--work-dir", work,
        "--queries-parquet", queries, "--method", "ann", "--k", "3",
        "--encoder-model", f"{work}/encoder",
    ])
    assert rc == 0
    hits = spark.read.parquet(f"{work}/search_hits")
    assert hits.count() > 0
    import glob as _glob

    idx_dirs = _glob.glob(f"{work}/ann_index_model_v*")
    assert len(idx_dirs) == 1 and os.path.isdir(idx_dirs[0])
    from haensel_ams_data_engineer_challenge_spark.operators.artifact_manifest import (
        artifact_open,
    )
    assert artifact_open(spark, idx_dirs[0]).params.get("kind") == "ivf"
    # the dir is keyed by the encoder's CONTENT version: the index can
    # never be probed by a differently-trained encoder's vectors
    from haensel_ams_data_engineer_challenge_spark.operators.embed import (
        ENCODER_KIND,
    )
    enc = artifact_open(spark, f"{work}/encoder").params
    assert enc["encoder"] == ENCODER_KIND
    assert idx_dirs[0].endswith(f"_v{enc['version']}")


def test_cli_pipeline_hot_user_threshold(spark, sf_dir, tmp_path, capsys):
    """pipeline --hot-user-threshold: the chunked hot-user as-of path
    produces the identical attribution sink (bit-equal rows) as the
    plain plan — threshold 10 forces EVERY sf0.001 user hot."""
    plain = str(tmp_path / "wd_plain")
    rc = main(["pipeline", "--sf-dir", sf_dir, "--work-dir", plain])
    assert rc == 0
    hot = str(tmp_path / "wd_hot")
    rc = main(["pipeline", "--sf-dir", sf_dir, "--work-dir", hot,
               "--hot-user-threshold", "10"])
    assert rc == 0
    read = lambda wd: sorted(
        map(tuple, spark.read.parquet(
            f"{wd}/attribution_customer_journey").collect())
    )
    assert read(plain) == read(hot)


def test_cli_pipeline_compact_sink(spark, sf_dir, tmp_path, capsys):
    """pipeline --compact-sink: post-run sink compaction — committed
    row set invariant, committed file count never grows."""
    from haensel_ams_data_engineer_challenge_spark.operators import (
        manifest_sink as MS,
    )

    work = str(tmp_path / "wd")
    assert main(["pipeline", "--sf-dir", sf_dir, "--work-dir", work]) == 0
    sink = f"{work}/attribution_customer_journey"
    before = sorted(map(tuple, MS.read_manifest_sink(spark, sink).collect()))
    n_files_before = len(MS._resolve_latest(spark, sink)[1]["files"])
    rc = main(["pipeline", "--sf-dir", sf_dir, "--work-dir", work,
               "--compact-sink"])
    assert rc == 0
    out = capsys.readouterr().out
    assert f"compacted_rows={len(before)}" in out
    # the superseded files stay on disk inside the retention floor, so
    # only the committed view is the sink
    assert sorted(
        map(tuple, MS.read_manifest_sink(spark, sink).collect())
    ) == before
    assert len(MS._resolve_latest(spark, sink)[1]["files"]) <= n_files_before


def test_cli_import_wordvec_then_search(spark, sf_dir, tmp_path, capsys):
    """import-wordvec turns a float vector table into a committed
    encoder artifact; search --encoder-model serves it from an ANN
    index that stores its int8 vectors."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    # a tiny "word2vec export": vectors aligned so related terms match
    vec_path = str(tmp_path / "w2v.parquet")
    spark.createDataFrame(
        [
            ("data", [1.0, 0.5, -0.25, 0.0]),
            ("engine", [0.9, 0.55, -0.2, 0.05]),
            ("banana", [-1.0, 0.8, 0.7, -0.6]),
        ],
        "term string, vec array<double>",
    ).write.parquet(vec_path)
    model_dir = str(tmp_path / "wv_model")
    rc = main(
        ["import-wordvec", "--vectors-parquet", vec_path,
         "--model-dir", model_dir]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "imported terms=3 dim=4" in out

    # the imported artifact serves through the search seam
    queries = str(tmp_path / "q.parquet")
    spark.createDataFrame(
        [(0, "data engine")], "query_id long, text string"
    ).write.parquet(queries)
    work = str(tmp_path / "work")
    rc = main(
        ["search", "--sf-dir", sf_dir, "--work-dir", work,
         "--queries-parquet", queries, "--method", "ann", "--k", "3",
         "--encoder-model", model_dir]
    )
    assert rc == 0
    assert "method=ann" in capsys.readouterr().out
    import os

    index_dirs = [d for d in os.listdir(work) if d.startswith("ann_index_model_v")]
    assert index_dirs, os.listdir(work)
    assert os.path.isdir(f"{work}/{index_dirs[0]}/vectors")
