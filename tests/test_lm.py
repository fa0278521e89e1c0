"""Unigram LM scoring: python-reference parity, nulls, determinism."""

from __future__ import annotations

import math
import re
from collections import Counter

from haensel_ams_data_engineer_challenge_spark.operators.lm import (
    unigram_doc_scores,
)

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat"),
    (3, "???"),               # no [a-z0-9]+ tokens -> absent from output
    (4, "cat cat cat"),
]


def _py_scores():
    toks = {i: re.findall(r"[a-z0-9]+", t.lower()) for i, t in DOCS}
    c = Counter(t for ts in toks.values() for t in ts)
    n, v = sum(c.values()), len(c)
    lnp_s = {t: math.floor(math.log((k + 1.0) / (n + v)) * 1e6) for t, k in c.items()}
    out = {}
    for i, ts in toks.items():
        if not ts:
            continue
        lp = sum(lnp_s[t] for t in ts) / 1e6
        out[i] = (lp, -lp / len(ts))
    return out


def test_unigram_scores_match_python_reference(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["lm_logprob"], r["lm_xent"])
        for r in unigram_doc_scores(docs).collect()
    }
    exp = _py_scores()
    assert set(got) == set(exp) == {1, 2, 4}
    for k in exp:
        assert got[k] == exp[k], k  # bitwise — quantized contributions


def test_repetitive_doc_scores_lower_xent(spark):
    """'cat cat cat' repeats the corpus-common token — lower mean
    negative log-likelihood than the mixed-vocab docs."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r["lm_xent"] for r in unigram_doc_scores(docs).collect()}
    assert got[4] < got[2]


def test_partitioning_invariance(spark):
    """Quantized contributions sum exactly in any order: 1 vs 7
    partitions give bit-identical scores."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    a = sorted(unigram_doc_scores(docs.coalesce(1)).collect())
    b = sorted(unigram_doc_scores(docs.repartition(7)).collect())
    assert a == b


# ---------------------------------------------------------------------------
# bigram arm (round-6 verdict task 4): count key (prev, term), same
# quantized-ln parity discipline
# ---------------------------------------------------------------------------


def _py_bigram_scores():
    toks = {i: re.findall(r"[a-z0-9]+", t.lower()) for i, t in DOCS}
    bigrams = {
        i: list(zip(["<s>"] + ts[:-1], ts)) for i, ts in toks.items() if ts
    }
    c = Counter(bg for bgs in bigrams.values() for bg in bgs)
    ctx = Counter()
    for (p, _t), k in c.items():
        ctx[p] += k
    v = len({t for _p, t in c})
    lnp_s = {
        bg: math.floor(math.log((k + 1.0) / (ctx[bg[0]] + v)) * 1e6)
        for bg, k in c.items()
    }
    out = {}
    for i, bgs in bigrams.items():
        lp = sum(lnp_s[bg] for bg in bgs) / 1e6
        out[i] = (lp, -lp / len(bgs))
    return out


def test_bigram_scores_match_python_reference(spark):
    from haensel_ams_data_engineer_challenge_spark.operators.lm import (
        bigram_doc_scores,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["lm2_logprob"], r["lm2_xent"])
        for r in bigram_doc_scores(docs).collect()
    }
    exp = _py_bigram_scores()
    assert set(got) == set(exp) == {1, 2, 4}
    for k in exp:
        assert got[k] == exp[k], k  # bitwise — quantized contributions


def test_bigram_scores_match_reference_on_real_docs(spark, sf_dir):
    from haensel_ams_data_engineer_challenge_spark.operators.lm import (
        bigram_doc_scores,
    )

    real = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = [(r["doc_id"], r["text"]) for r in real.select("doc_id", "text").collect()]
    global DOCS
    saved = DOCS
    try:
        DOCS = rows
        exp = _py_bigram_scores()
    finally:
        DOCS = saved
    got = {
        r["doc_id"]: (r["lm2_logprob"], r["lm2_xent"])
        for r in bigram_doc_scores(real).collect()
    }
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == exp[k], k


def test_bigram_context_orders_docs_unigram_cannot(spark):
    """The bigram model separates docs by token ORDER: a doc whose
    bigrams repeat corpus-common transitions scores lower xent than
    the same bag of tokens shuffled into rare transitions."""
    from haensel_ams_data_engineer_challenge_spark.operators.lm import (
        bigram_doc_scores,
    )

    corpus = [(i, "a b a b a b a b") for i in range(5)]
    corpus += [(100, "a b a b a b a b"), (101, "b b a a b a a b")]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r["doc_id"]: r["lm2_xent"] for r in bigram_doc_scores(docs).collect()}
    assert got[100] < got[101]


def test_bigram_partitioning_invariance(spark):
    from haensel_ams_data_engineer_challenge_spark.operators.lm import (
        bigram_doc_scores,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    a = sorted(bigram_doc_scores(docs.coalesce(1)).collect())
    b = sorted(bigram_doc_scores(docs.repartition(7)).collect())
    assert a == b


# ---------------------------------------------------------------------------
# round 10: persisted LM artifact + perplexity ingestion gate
# ---------------------------------------------------------------------------


def test_lm_artifact_matches_self_train_and_scores_oov(spark, tmp_path):
    """Scoring the training corpus through the artifact is bit-equal to
    the self-trained form (every token in-vocab); held-out OOV tokens
    score at the artifact's unseen-term mass (python-verified)."""
    from haensel_ams_data_engineer_challenge_spark.operators.lm import (
        lm_model_build,
        lm_score_model,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "lm")
    terms, stats = lm_model_build(docs, path)
    got = {
        r["doc_id"]: (r["lm_logprob"], r["lm_xent"])
        for r in lm_score_model(docs, terms, stats).collect()
    }
    assert got == _py_scores()

    # held-out doc: 'the' in-vocab, 'zebra'/'quux' OOV -> lnp0 each
    toks = {i: re.findall(r"[a-z0-9]+", t.lower()) for i, t in DOCS}
    c = Counter(t for ts in toks.values() for t in ts)
    n, v = sum(c.values()), len(c)
    lnp0 = math.floor(math.log(1.0 / (n + v)) * 1e6)
    lnp_the = math.floor(math.log((c["the"] + 1.0) / (n + v)) * 1e6)
    held = spark.createDataFrame(
        [(9, "the zebra quux")], "doc_id long, text string"
    )
    r = lm_score_model(held, terms, stats).collect()[0]
    exp_lp = (lnp_the + 2 * lnp0) / 1e6
    assert r["lm_logprob"] == exp_lp
    assert r["lm_xent"] == -exp_lp / 3

    # all-OOV gibberish lands at the MAXIMUM xent (the CCNet tail)
    gib = spark.createDataFrame(
        [(10, "xqzv wvvk pqrj")], "doc_id long, text string"
    )
    g = lm_score_model(gib, terms, stats).collect()[0]
    assert g["lm_xent"] == -((3 * lnp0) / 1e6) / 3  # engine's op order
    assert g["lm_xent"] > max(x for _, x in _py_scores().values())


def test_lm_artifact_guards(spark, tmp_path):
    from haensel_ams_data_engineer_challenge_spark.operators.lm import (
        lm_model_build,
    )
    import pytest

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "lm")
    lm_model_build(docs, path)
    # feature mismatch refuses (tokenizer contract pinned)
    with pytest.raises(ValueError, match="built with"):
        lm_model_build(docs, path, feature="char_trigram_200")
    # zero-token training refuses BEFORE committing
    empty = spark.createDataFrame([(1, "???")], "doc_id long, text string")
    with pytest.raises(ValueError, match="empty vocabulary"):
        lm_model_build(empty, str(tmp_path / "lm2"))
    from haensel_ams_data_engineer_challenge_spark.operators.artifact_manifest import (
        artifact_open,
    )

    assert artifact_open(spark, str(tmp_path / "lm2")) is None
