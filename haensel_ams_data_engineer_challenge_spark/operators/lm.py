"""Unigram language-model scoring: CCNet-style perplexity filtering.

The classic corpus-quality signal (CCNet, Wenzek et al. 2020; also the
RedPajama/CCNet "perplexity buckets"): score each document by a
language model and filter/bucket on the result.  The real CCNet uses a
5-gram KenLM; the distributed-primitive core of that is the
SELF-TRAINED unigram form implemented here — train token
probabilities on the corpus itself (Laplace-smoothed), then score
every document by mean negative log-likelihood.  A higher-order LM
swaps the count key from a token to an n-gram; the Spark shape below
is unchanged.

Scale shape:

1. one explode + map-side-combinable groupBy on the token trains the
   model (the canonical word count);
2. the tiny (N, V) stats row broadcast-cross-joins the count table to
   form log-probabilities;
3. scoring re-joins the token stream against the model on the term —
   the model table is the small side (vocabulary ≪ corpus) and
   broadcasts when it fits, degrading to a plain equi-join (still one
   shuffle of (doc, term) pairs) for 100 TB vocabularies;
4. the per-document aggregate is a plain map-side-combinable sum.

Float parity (same discipline as operators/retrieval.py): ln() is
quantized per DISTINCT vocabulary term with an exact floor to 1e-6,
making every per-token contribution an integer count of 1e-6 units —
integer-valued doubles sum exactly in ANY order, so the per-doc sum
needs no ordering contract and partial-aggregates map-side.  The
cross-entropy division happens after the sum (IEEE-deterministic).
exp() is deliberately NOT applied — perplexity is exp(xent), one more
libm call with cross-engine 1-ulp risk and zero ranking information;
callers bucket on cross-entropy in nats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..checkpoint import materialize
from .retrieval import search_tokens


#: Session-scoped trained-model cache (classify._NB_MODEL_CACHE /
#: ivf_kmeans precedent): (appId, order tag, caller key, feature
#: source) -> the lineage-truncated log-prob table.  Training is
#: deterministic, so caching is pure amortization for callers that
#: re-plan the same corpus (the registry's per-attempt rebuilds).
_LM_MODEL_CACHE: dict[tuple, DataFrame] = {}


def unigram_doc_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    model_cache_key: str | None = None,
) -> DataFrame:
    """Per-document unigram LM scores, model trained on ``docs``.

    Output: (doc_id, lm_logprob, lm_xent) — total log-likelihood and
    mean negative log-likelihood per token (nats).  Documents with no
    tokens are absent (callers left-join and keep NULLs).

    ``tokens_col``: use an existing ``array<string>`` token column
    instead of tokenizing ``text_col`` — callers computing several
    token-keyed statistics (the text_stats entry runs unigram, bigram
    AND NB over one corpus) materialize the tokenize ONCE and share it.
    """
    toks = (
        F.col(tokens_col) if tokens_col is not None
        else search_tokens(text_col)
    )
    ex = docs.select(
        F.col(id_col).alias("__did"),
        F.explode(toks).alias("term"),
    )
    def _train() -> DataFrame:
        # diamond materialization (DESIGN.md): the count table feeds
        # three branches — the (N, V) stats aggregate, the log-prob
        # table, and (via broadcast) the scoring join — each a
        # separate job that would otherwise re-run the corpus explode
        # + count.  The materialized stream is the |vocabulary|-row
        # model, never the token stream.  Measured at sf0.1:
        # 1.7 -> ~0.9 s warm.
        counts = materialize(
            ex.groupBy("term").agg(
                F.count(F.lit(1)).cast("double").alias("__c")
            )
        )
        stats = counts.agg(
            F.sum("__c").alias("__n_tok"),
            F.count(F.lit(1)).cast("double").alias("__v"),
        )
        # Laplace-smoothed log-prob, floor-quantized to 1e-6 units per
        # distinct term (module docstring)
        return counts.crossJoin(F.broadcast(stats)).select(
            "term",
            F.floor(
                F.log(
                    (F.col("__c") + F.lit(1.0))
                    / (F.col("__n_tok") + F.col("__v"))
                )
                * F.lit(1000000.0)
            )
            .cast("double")
            .alias("__lnp_s"),
        )

    if model_cache_key is not None:
        full_key = (
            docs.sparkSession.sparkContext.applicationId,
            "unigram", model_cache_key,
            tokens_col if tokens_col is not None else text_col,
        )
        lnp = _LM_MODEL_CACHE.get(full_key)
        if lnp is None:
            lnp = materialize(_train())
            _LM_MODEL_CACHE[full_key] = lnp
    else:
        lnp = _train()
    return (
        ex.join(lnp, "term")
        .groupBy("__did")
        .agg(
            (F.sum("__lnp_s") / F.lit(1000000.0)).alias("lm_logprob"),
            F.count(F.lit(1)).cast("double").alias("__n"),
        )
        .select(
            F.col("__did").alias(id_col),
            "lm_logprob",
            (-F.col("lm_logprob") / F.col("__n")).alias("lm_xent"),
        )
    )


#: sentence-start sentinel for the bigram context of each document's
#: first token.  Not a capturable token under SEARCH_TOKEN_PATTERN
#: (contains '<'), so it can never collide with a real term.
BOS = "<s>"


def bigram_doc_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    model_cache_key: str | None = None,
) -> DataFrame:
    """Per-document BIGRAM LM scores — the module docstring's claim
    ("a higher-order LM swaps the count key from a token to an n-gram;
    the Spark shape below is unchanged") made concrete (round-6
    verdict task 4).  CCNet's real filter is a 5-gram KenLM; the count
    key here is (prev, term) and everything else is the unigram shape:

    1. bigram construction is ROW-LOCAL (zip the token array with its
       BOS-padded shift — no window, no per-doc shuffle);
    2. one map-side-combinable groupBy on (prev, term) trains the
       model; context totals c(prev) fold from the model table itself
       (|bigram types| rows, not the token stream);
    3. scoring re-joins the bigram stream against the model — the
       model is the small side (types ≪ instances) and broadcasts when
       it fits, degrading to a plain equi-join at 100 TB;
    4. per-doc aggregate is a plain sum of floor-quantized integer
       units (same float-parity discipline as the unigram form).

    Model: Laplace-smoothed MLE p(w|prev) = (c(prev,w)+1)/(c(prev)+V)
    with V = |unigram vocabulary|; every token scores exactly once
    (the first against BOS), so n_tokens == n_bigrams per doc.

    Output: (doc_id, lm2_logprob, lm2_xent).  Zero-token documents are
    absent (callers left-join and keep NULLs).
    """
    src = (
        F.col(tokens_col) if tokens_col is not None
        else search_tokens(text_col)
    )
    toks = docs.select(
        F.col(id_col).alias("__did"),
        src.alias("__t"),
    ).filter(F.size("__t") > 0)
    pairs = toks.select(
        "__did",
        F.explode(
            F.zip_with(
                F.concat(
                    F.array(F.lit(BOS)),
                    F.expr("slice(__t, 1, size(__t) - 1)"),
                ),
                F.col("__t"),
                lambda p, t: F.struct(p.alias("prev"), t.alias("term")),
            )
        ).alias("__bg"),
    ).select("__did", "__bg.prev", "__bg.term")
    def _train() -> DataFrame:
        counts = materialize(
            pairs.groupBy("prev", "term").agg(
                F.count(F.lit(1)).cast("double").alias("__c")
            )
        )
        ctx = counts.groupBy("prev").agg(F.sum("__c").alias("__ctx"))
        vstats = counts.select("term").distinct().agg(
            F.count(F.lit(1)).cast("double").alias("__v")
        )
        return (
            counts.join(ctx, "prev")
            .crossJoin(F.broadcast(vstats))
            .select(
                "prev",
                "term",
                F.floor(
                    F.log(
                        (F.col("__c") + F.lit(1.0))
                        / (F.col("__ctx") + F.col("__v"))
                    )
                    * F.lit(1000000.0)
                )
                .cast("double")
                .alias("__lnp_s"),
            )
        )

    if model_cache_key is not None:
        full_key = (
            docs.sparkSession.sparkContext.applicationId,
            "bigram", model_cache_key,
            tokens_col if tokens_col is not None else text_col,
        )
        lnp = _LM_MODEL_CACHE.get(full_key)
        if lnp is None:
            lnp = materialize(_train())
            _LM_MODEL_CACHE[full_key] = lnp
    else:
        lnp = _train()
    return (
        pairs.join(lnp, ["prev", "term"])
        .groupBy("__did")
        .agg(
            (F.sum("__lnp_s") / F.lit(1000000.0)).alias("lm2_logprob"),
            F.count(F.lit(1)).cast("double").alias("__n"),
        )
        .select(
            F.col("__did").alias(id_col),
            "lm2_logprob",
            (-F.col("lm2_logprob") / F.col("__n")).alias("lm2_xent"),
        )
    )


def lm_model_build(
    train_docs: DataFrame,
    path: str,
    text_col: str = "text",
    tokens_col: str | None = None,
    feature: str = "search_tokens",
) -> tuple[DataFrame, DataFrame]:
    """Round-10: the unigram LM as a PERSISTED ARTIFACT — train once,
    score every later batch (the CCNet lifecycle: the perplexity
    filter's LM is trained on a reference corpus, e.g. Wikipedia, and
    applied across every ingestion run; completing the train-once trio
    beside the NB classifier and the encoder artifacts).

    The persisted form needs the one thing the self-trained form never
    meets: OUT-OF-VOCABULARY tokens.  The artifact therefore carries
    ``{path}/terms`` (term, lnp_s) AND ``{path}/stats`` with the
    unseen-term log-prob ``lnp0_s = floor(ln(1/(n_tok+V)) * 1e6)`` —
    the same Laplace mass a count-0 term would get, quantized once so
    OOV contributions stay integer-valued doubles (float-parity
    discipline).  One manifest commit; tokenizer contract pinned
    via ``feature``; zero-token training refuses BEFORE committing
    (the nb_model_build arguments, verbatim).

    Returns (terms, stats) READ FROM DISK.
    """
    from .artifact_manifest import (
        artifact_check,
        artifact_open,
        artifact_overwrite,
    )

    spark = train_docs.sparkSession
    params = {"kind": "lm", "order": "unigram", "feature": feature}
    snap = artifact_open(spark, path)
    if not artifact_check(snap, params):
        toks = (
            F.col(tokens_col) if tokens_col is not None
            else search_tokens(text_col)
        )
        ex = train_docs.select(F.explode(toks).alias("term"))
        counts = materialize(
            ex.groupBy("term").agg(
                F.count(F.lit(1)).cast("double").alias("__c")
            )
        )
        stats = counts.agg(
            F.sum("__c").alias("__n_tok"),
            F.count(F.lit(1)).cast("double").alias("__v"),
        )
        if not stats.collect()[0]["__v"]:  # 0.0 over an empty count table
            raise ValueError(
                "lm_model_build: training produced an empty vocabulary "
                "(no training doc has any token) — nothing committed"
            )
        q = F.lit(1000000.0)
        terms_df = counts.crossJoin(F.broadcast(stats)).select(
            "term",
            F.floor(
                F.log(
                    (F.col("__c") + F.lit(1.0))
                    / (F.col("__n_tok") + F.col("__v"))
                )
                * q
            )
            .cast("double")
            .alias("__lnp_s"),
        )
        stats_df = stats.select(
            F.floor(
                F.log(F.lit(1.0) / (F.col("__n_tok") + F.col("__v"))) * q
            )
            .cast("double")
            .alias("__lnp0_s"),
        )
        # one atomic manifest commit covers both tables + params
        # (round 12: the index artifacts' protocol, unified here too)
        snap = artifact_overwrite(
            spark, path,
            {"terms": terms_df, "stats": stats_df},
            {**params, "version": 1},
            snap,
        )
    return snap.table("terms"), snap.table("stats")


def lm_score_model(
    docs: DataFrame,
    terms: DataFrame,
    stats: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Score ``docs`` against a trained unigram LM artifact — no
    training pass.  Model-unseen tokens contribute the artifact's
    unseen-term log-prob (so a held-out gibberish document lands at
    the MAXIMUM cross-entropy — the CCNet tail — instead of silently
    dropping its OOV tokens from the average).  Output identical in
    shape to :func:`unigram_doc_scores`; zero-token docs absent.

    Scale shape: the token stream LEFT-joins the |V|-row model (small
    side, broadcasts when it fits) and the 1-row stats rides in as a
    driver constant (broadcast-class collect precedent)."""
    lnp0_s = float(stats.collect()[0]["__lnp0_s"])
    toks = (
        F.col(tokens_col) if tokens_col is not None
        else search_tokens(text_col)
    )
    ex = docs.select(
        F.col(id_col).alias("__did"), F.explode(toks).alias("term")
    )
    return (
        ex.join(terms, "term", "left")
        .groupBy("__did")
        .agg(
            (
                F.sum(F.coalesce(F.col("__lnp_s"), F.lit(lnp0_s)))
                / F.lit(1000000.0)
            ).alias("lm_logprob"),
            F.count(F.lit(1)).cast("double").alias("__n"),
        )
        .select(
            F.col("__did").alias(id_col),
            "lm_logprob",
            (-F.col("lm_logprob") / F.col("__n")).alias("lm_xent"),
        )
    )


def bigram_sql(token_pattern: str, pfx: str = "lm2") -> str:
    """DuckDB twin CTE chain ending in ``{pfx}_doc``
    (doc_id, lm2_logprob, lm2_xent), stage-for-stage with
    :func:`bigram_doc_scores` over the ``documents`` view.  DuckDB
    list indexing is 1-based; ``range(a, b)`` is end-exclusive."""
    return f"""
        {pfx}_tok AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '{token_pattern}') AS toks
            FROM documents
            WHERE len(regexp_extract_all(lower(text), '{token_pattern}')) > 0),
        {pfx}_big AS (
            SELECT doc_id,
                   CASE WHEN i = 1 THEN '{BOS}' ELSE toks[i - 1] END AS prev,
                   toks[i] AS term
            FROM (SELECT doc_id, toks,
                         unnest(range(1, len(toks) + 1)) AS i
                  FROM {pfx}_tok)),
        {pfx}_counts AS (
            SELECT prev, term, CAST(COUNT(*) AS DOUBLE) AS c
            FROM {pfx}_big GROUP BY prev, term),
        {pfx}_ctx AS (
            SELECT prev, CAST(SUM(c) AS DOUBLE) AS ctx
            FROM {pfx}_counts GROUP BY prev),
        {pfx}_v AS (
            SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS v
            FROM {pfx}_counts),
        {pfx}_lnp AS (
            SELECT c.prev, c.term,
                   floor(ln((c.c + 1.0) / (x.ctx + v.v)) * 1000000.0) AS lnp_s
            FROM {pfx}_counts c
            JOIN {pfx}_ctx x ON x.prev = c.prev
            CROSS JOIN {pfx}_v v),
        {pfx}_doc AS (
            SELECT b.doc_id,
                   SUM(p.lnp_s) / 1000000.0 AS lm2_logprob,
                   -(SUM(p.lnp_s) / 1000000.0)
                       / CAST(COUNT(*) AS DOUBLE) AS lm2_xent
            FROM {pfx}_big b
            JOIN {pfx}_lnp p ON p.prev = b.prev AND p.term = b.term
            GROUP BY b.doc_id)"""


def unigram_sql(token_pattern: str, pfx: str = "lm") -> str:
    """DuckDB twin CTE chain ending in ``{pfx}_doc``
    (doc_id, lm_logprob, lm_xent), stage-for-stage with
    :func:`unigram_doc_scores` over the ``documents`` view."""
    return f"""
        {pfx}_tok AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{token_pattern}')) AS term
            FROM documents),
        {pfx}_counts AS (
            SELECT term, CAST(COUNT(*) AS DOUBLE) AS c
            FROM {pfx}_tok GROUP BY term),
        {pfx}_stats AS (
            SELECT CAST(SUM(c) AS DOUBLE) AS n_tok,
                   CAST(COUNT(*) AS DOUBLE) AS v
            FROM {pfx}_counts),
        {pfx}_lnp AS (
            SELECT term,
                   floor(ln((c + 1.0) / (n_tok + v)) * 1000000.0) AS lnp_s
            FROM {pfx}_counts CROSS JOIN {pfx}_stats),
        {pfx}_doc AS (
            SELECT t.doc_id,
                   SUM(p.lnp_s) / 1000000.0 AS lm_logprob,
                   -(SUM(p.lnp_s) / 1000000.0)
                       / CAST(COUNT(*) AS DOUBLE) AS lm_xent
            FROM {pfx}_tok t JOIN {pfx}_lnp p ON p.term = t.term
            GROUP BY t.doc_id)"""
