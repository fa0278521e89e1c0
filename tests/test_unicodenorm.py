"""Unicode normalization / mojibake repair (functions/unicodenorm.py,
round 15 — r14 verdict #3): golden matrix (NFD==NFC collision,
double-encoded repair, invisible strip, idempotence), the Arrow
lift, and the ingest e2e where an NFD re-save of an admitted doc is
rejected by the EXACT tier (and admitted without the op — the
contrast proof)."""

from __future__ import annotations

import glob as _glob
import os
import random
import shutil
import unicodedata

from pyspark.sql import functions as F

from haensel_ams_data_engineer_challenge_spark.functions.unicodenorm import (
    clean_text,
    normalize_docs,
    repair_mojibake,
)


def test_golden_matrix():
    # NFD == NFC collision
    assert clean_text(unicodedata.normalize("NFD", "éclair über")) \
        == "éclair über"
    assert clean_text("éclair über") == "éclair über"
    # double-encoded UTF-8, latin-1 and cp1252 flavors
    assert clean_text("Ã©clair") == "éclair"
    assert clean_text("donâ€™t â€” dash") == "don’t — dash"
    # twice-encoded unwinds through the fixpoint
    twice = (
        "é".encode("utf-8").decode("latin-1")
        .encode("utf-8").decode("latin-1")
    )
    assert clean_text(twice) == "é"
    # genuine text is untouched: accented latin-1-script text is not
    # valid UTF-8 when re-encoded; ASCII round-trips to itself
    assert clean_text("café au lait") == "café au lait"
    assert clean_text("plain ascii text.") == "plain ascii text."
    assert clean_text("中文テキスト 😀") == "中文テキスト 😀"
    # invisible strip: ZWSP, BOM, soft hyphen, bidi controls, C0/C1;
    # tab/newline/CR survive; ZWJ/ZWNJ (script-bearing) survive
    assert clean_text("﻿a​b­c") == "abc"
    assert clean_text("bidi ‪X‬ ⁦Y⁩") == "bidi X Y"
    assert clean_text("a\x01b\x9fc\td\ne\rf") == "abc\td\ne\rf"
    assert clean_text("emoji 👩‍🔬 zwnj ‌!") \
        == "emoji 👩‍🔬 zwnj ‌!"
    # interactions: mojibake OF an invisible char strips after repair
    zwsp_moji = "​".encode("utf-8").decode("latin-1")
    assert clean_text(f"a{zwsp_moji}b") == "ab"
    # NFC composes a mojibake marker -> the fixpoint still repairs
    assert clean_text("Ã©") == "é"
    assert clean_text("") == ""


def test_repair_is_conservative():
    """Strictness guard: anything that doesn't round-trip exactly is
    left alone (no 'best effort' rewriting of real text)."""
    for s in ["café", "naïve Ü", "½ + ¼", "a\x80b", "x – y"]:
        assert repair_mojibake(s) == s, repr(s)
    # while actual cyrillic mojibake repairs
    assert repair_mojibake("Ð¿Ñ€Ð¸Ð²ÐµÑ‚") == "привет"
    # but valid mixed text with no full round-trip stays
    assert repair_mojibake("Ãx") == "Ãx"  # \xc3x is invalid UTF-8


def test_idempotence_fuzz():
    rng = random.Random(1515)
    alpha = list("ab é中😀'Ã©â€™​﻿\x01 ́̃©™Â½")
    for _ in range(5000):
        s = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 24)))
        c = clean_text(s)
        assert clean_text(c) == c, repr(s)


def test_normalize_docs_arrow(spark):
    rows = [
        (1, unicodedata.normalize("NFD", "éclair"), "en", "w", 7),
        (2, "Ã©clair", "en", "w", 7),
        (3, "plain", "en", "w", 5),
        (4, "a​b", "en", "w", 3),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["doc_id"]: r for r in normalize_docs(df).collect()}
    assert got[1]["text"] == got[2]["text"] == "éclair"
    assert got[1]["n_chars"] == 6  # recomputed from the cleaned text
    assert got[3]["text"] == "plain" and got[3]["n_chars"] == 5
    assert got[4]["text"] == "ab" and got[4]["n_chars"] == 2
    assert normalize_docs(df).schema == df.schema


#: normalize_docs equivalence matrix: plain printable ASCII (JVM pass-
#: through) beside every kind of row clean_text can change
_MATRIX = [
    "plain ascii, tab\tLF\nCR\r and ~!",
    unicodedata.normalize("NFD", "éclair über"),
    "Ã©clair donâ€™t",
    "zero​width﻿and­soft",
    "ends in NEL\x85",
    "ends in LS\u2028",
    "ends in PS\u2029",
    "del\x7fchar",
    "c0\x01\x02\x1fcontrols",
    "",
    None,
    "中文テキスト",
    "emoji 😀 and 👩‍🔬",
    "\x85",
]


def _matrix_frame(spark, n_chars_nullable: bool = True):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), True),
        StructField("n_chars", LongType(), n_chars_nullable),
    ])
    return spark.createDataFrame(
        [(i, t, 99) for i, t in enumerate(_MATRIX)], schema
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


#: the matrix rows that stay in the JVM: plain ASCII, '' and None
_PLAIN_IDS = (0, 9, 10)


def test_normalize_docs_equals_clean_text(spark):
    """Every row equals clean_text, whether the frame stayed in the JVM
    (all plain) or crossed into Python (mixed); the schema is
    unchanged, nullability too."""
    for nullable in (True, False):
        mixed = _matrix_frame(spark, n_chars_nullable=nullable)
        plain = mixed.filter(F.col("doc_id").isin(*_PLAIN_IDS))
        for df, ids in ((mixed, range(len(_MATRIX))), (plain, _PLAIN_IDS)):
            out = normalize_docs(df)
            assert out.schema == df.schema
            got = {r["doc_id"]: r for r in out.collect()}
            assert sorted(got) == list(ids)
            for i in ids:
                t = _MATRIX[i]
                want = clean_text(t) if t is not None else None
                assert got[i]["text"] == want, repr(t)
                assert got[i]["n_chars"] == (len(want) if want else 0), repr(t)
    # the trailing line terminators are stripped (C1) or kept (U+2028/9)
    assert clean_text("x\x85") == "x"
    assert clean_text("x\u2028") == "x\u2028"


def test_normalize_docs_all_plain_frame_plans_no_python(spark):
    df = _matrix_frame(spark).filter(F.col("doc_id").isin(*_PLAIN_IDS))
    out = normalize_docs(df)
    assert out.schema == df.schema
    assert [r["n_chars"] for r in out.orderBy("doc_id").collect()] == [
        len(_MATRIX[0]), 0, 0,
    ]
    assert "MapInPandas" not in _plan(out)


def test_normalize_docs_runs_clean_text_once_per_row(spark, monkeypatch):
    """Two actions over a mixed frame: clean_text runs once for each
    row with text, not once per action."""
    from haensel_ams_data_engineer_challenge_spark.functions import (
        unicodenorm as U,
    )

    calls = spark.sparkContext.accumulator(0)
    real = U.clean_text

    def counting(s):
        calls.add(1)
        return real(s)

    monkeypatch.setattr(U, "clean_text", counting)
    out = U.normalize_docs(_matrix_frame(spark))
    assert out.count() == len(_MATRIX)
    assert len(out.collect()) == len(_MATRIX)
    assert "MapInPandas" not in _plan(out)  # later actions read the copy
    assert calls.value == sum(t is not None for t in _MATRIX)


def test_ingest_rejects_nfd_resave_at_exact_tier(spark, tmp_path):
    """e2e (the verdict's done gate): an NFD re-save + a zero-width-
    injected copy + a mojibaked copy of an admitted document are all
    rejected by the EXACT tier; with unicode_normalize=False the NFD
    twin sails through — the op is what did the rejecting."""
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    base = "the café près de la rivière — a genuinely admitted page"
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, base, "en", "crawl", len(base))], schema
    ).write.parquet(corpus_path)

    nfd = unicodedata.normalize("NFD", base)
    assert nfd != base
    zw = base.replace("café", "ca​fé")
    moji = base.encode("utf-8").decode("latin-1")
    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    tmp = str(tmp_path / "__stage")
    spark.createDataFrame(
        [
            (10, nfd, "en", "crawl", len(nfd)),
            (11, zw, "en", "crawl", len(zw)),
            (12, moji, "en", "crawl", len(moji)),
            (13, "a genuinely new page about étoiles", "en", "crawl", 34),
        ],
        schema,
    ).repartition(1).write.parquet(tmp)
    shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/a.parquet")

    sink = str(tmp_path / "admitted")
    run_streaming_ingest(
        spark, corpus_path, feed, sink, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    admitted = spark.read.parquet(sink)
    assert {r["doc_id"] for r in admitted.collect()} == {13}
    # the admitted store holds NORMALIZED text
    assert admitted.filter(
        F.col("text") == "a genuinely new page about étoiles"
    ).count() == 1

    # CONTRAST: without the op, every byte-distinct twin is "new"
    sink2 = str(tmp_path / "admitted2")
    run_streaming_ingest(
        spark, corpus_path, feed, sink2, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1, unicode_normalize=False,
    )
    got2 = {r["doc_id"] for r in spark.read.parquet(sink2).collect()}
    assert got2 == {10, 11, 12, 13}


def test_cli_ingest_no_unicode_normalize_flag(spark, tmp_path, capsys):
    """Product surface: the default normalizes (NFD twin rejected);
    --no-unicode-normalize restores raw-bytes behavior."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    base = "répétition of the base document body here"
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, base, "en", "crawl", len(base))], schema
    ).write.parquet(corpus_path)
    nfd = unicodedata.normalize("NFD", base)
    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    tmp = str(tmp_path / "__stage")
    spark.createDataFrame(
        [(20, nfd, "en", "crawl", len(nfd))], schema
    ).repartition(1).write.parquet(tmp)
    shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/a.parquet")

    assert main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", str(tmp_path / "w1"),
    ]) == 0
    capsys.readouterr()
    import pyspark.errors

    try:
        n1 = spark.read.parquet(str(tmp_path / "w1" / "admitted")).count()
    except pyspark.errors.AnalysisException:
        n1 = 0  # nothing admitted -> sink may not exist
    assert n1 == 0

    assert main([
        "ingest", "--corpus-parquet", corpus_path, "--feed-dir", feed,
        "--work-dir", str(tmp_path / "w2"), "--no-unicode-normalize",
    ]) == 0
    capsys.readouterr()
    assert spark.read.parquet(
        str(tmp_path / "w2" / "admitted")
    ).count() == 1
