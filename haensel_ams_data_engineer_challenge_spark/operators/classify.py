"""Multinomial Naive Bayes document classification — the
classifier-filter tier of a curation pipeline (CCNet / DCLM /
FineWeb-Edu run a linear fasttext-style classifier to keep
"high-quality-looking" documents; the distributed-primitive core of
that is exact multinomial NB over token counts, implemented here with
the engine's float-parity discipline so the trained model AND the
predictions hash-check against the DuckDB oracle).

Model (Laplace-smoothed multinomial NB, self-trained on the corpus
with ``label_col`` as supervision):

    score(d, c) = ln P(c) + sum_{t in d} ln p(t | c)
    p(t | c)    = (count(t, c) + 1) / (n_tok_c + V)

    prediction  = argmax_c score(d, c), ties -> smallest label

Scale shape (the lm.py pattern, one more key column):

1. one map-side-combinable groupBy on (label, term) trains the model;
   class totals and priors fold from the model table / a per-class
   count — both broadcast-class (|classes| rows);
2. scoring joins the token stream against the model on the term (the
   model is the small side: |V| x |classes| rows), aggregates
   per (doc, class) — map-side combinable;
3. classes a document shares NO token with still score (prior +
   n_d * ln p0_c): the per-doc grid is docs x |classes| via a
   broadcast cross join of the tiny class table, left-joined with the
   present-token sums;
4. the per-doc argmax is a groupBy min over a (-score, label) struct
   — never a window.

Float parity: every ln is floor-quantized to 1e-6 units per DISTINCT
(term, class) / class, making contributions integer-valued doubles
whose sums and integer multiples are exact in any order; the argmax
compares quantized integers, so the prediction is bit-stable across
engines and partitionings.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, functions as F

from ..checkpoint import materialize
from .retrieval import search_tokens


def _nb_stage_train(train_docs, src, label_col: str):
    """Shared train-side staging: (train_ex, tmeta) — the exploded
    (label, term) stream and the materialized per-class doc counts.
    One definition so the self-train, train_docs= and persisted-model
    paths can never drift on the staging contract (the size>0 filter,
    the double casts)."""
    ttoks = train_docs.select(
        F.col(label_col).alias("__lbl"), src.alias("__t")
    ).filter(F.size("__t") > 0)
    train_ex = ttoks.select("__lbl", F.explode("__t").alias("term"))
    tmeta = materialize(
        ttoks.groupBy("__lbl").agg(
            F.count(F.lit(1)).cast("double").alias("__ndoc")
        )
    )
    return train_ex, tmeta


def _nb_stage_score(docs, src, id_col: str):
    """Shared score-side staging: (ex, docs_meta) — the exploded
    (doc, term) stream and the materialized per-doc token counts."""
    toks = docs.select(
        F.col(id_col).alias("__did"), src.alias("__t")
    ).filter(F.size("__t") > 0)
    ex = toks.select("__did", F.explode("__t").alias("term"))
    docs_meta = materialize(
        toks.select("__did", F.size("__t").cast("double").alias("__n"))
    )
    return ex, docs_meta


def nb_classify_docs(
    docs: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    out_prefix: str = "nb",
    train_docs: DataFrame | None = None,
    broadcast_model: bool = False,
    model_cache_key: str | None = None,
) -> DataFrame:
    """Train multinomial NB (supervision = ``label_col``) and score
    every document of ``docs``.

    ``broadcast_model=True`` broadcasts the (term, class) log-prob
    table into the scoring join.  Legitimate ONLY when the vocabulary
    is bounded BY CONSTRUCTION — char n-gram features (alphabet^n
    terms, e.g. the trigram langid), never word tokens (corpus-growing
    vocabulary; the SMJ-audit rule in BASELINE.md).  The materialized
    model hides size statistics from AQE, so without the hint even a
    40k-row trigram table sort-merges.

    ``train_docs`` (round 9): when given, the model trains on THAT
    frame and ``docs`` is scored held-out — the real filter-pipeline
    shape (train the classifier on a labeled slice, apply it to the
    corpus); when None, self-train-and-score as before (the
    hash-gated form).

    ``model_cache_key`` (round 9): when given, the TRAINED model
    tables (cls, lnp) are lineage-truncated and cached for the Spark
    application's lifetime under (appId, key, label_col, out_prefix,
    feature source) — the ivf_kmeans ``cache_key`` precedent: training
    is deterministic, so caching is pure amortization for
    train-once/score-many callers (the registry's per-attempt
    re-planning, repeated batch scoring).  The caller must guarantee
    the key uniquely names the TRAINING data.  Scoring always runs
    fresh over ``docs``.

    Output: (doc_id, {out_prefix}_pred, {out_prefix}_logp) — the
    argmax class and its total quantized log-score (nats).  Zero-token
    documents are absent (callers left-join and keep NULLs), matching
    the LM operators.
    """
    src = (
        F.col(tokens_col) if tokens_col is not None
        else search_tokens(text_col)
    )
    if train_docs is None:
        toks = docs.select(
            F.col(id_col).alias("__did"),
            F.col(label_col).alias("__lbl"),
            src.alias("__t"),
        ).filter(F.size("__t") > 0)
        ex = toks.select("__did", "__lbl", F.explode("__t").alias("term"))
        train_ex = ex

        # TWO materialized diamond roots, both bounded: the
        # (class, term) model (feeds class totals, V, and the scoring
        # join) and the 1-row-per-doc meta table (feeds priors, the
        # scoring grid and the total count) — without the latter,
        # every per-doc consumer would re-run the corpus tokenize (5
        # passes measured vs 3 here; the token STREAM itself is never
        # materialized, per DESIGN.md).
        docs_meta = materialize(
            toks.select(
                "__did", "__lbl", F.size("__t").cast("double").alias("__n")
            )
        )
        n_doc_c = docs_meta.groupBy("__lbl").agg(
            F.count(F.lit(1)).cast("double").alias("__ndoc")
        )
        n_docs_total = docs_meta.agg(
            F.count(F.lit(1)).cast("double").alias("__ndocs")
        )
    else:
        train_ex, tmeta = _nb_stage_train(train_docs, src, label_col)
        n_doc_c = tmeta
        n_docs_total = tmeta.agg(F.sum("__ndoc").alias("__ndocs"))
        ex, docs_meta = _nb_stage_score(docs, src, id_col)
    cls_rows = None
    if model_cache_key is not None:
        full_key = (
            docs.sparkSession.sparkContext.applicationId,
            model_cache_key, label_col, out_prefix,
            tokens_col if tokens_col is not None else text_col,
        )
        with _NB_CACHE_LOCK:
            hit = _NB_MODEL_CACHE.get(full_key)
        if hit is None:
            cls, lnp = _nb_train(train_ex, n_doc_c, n_docs_total)
            hit = (materialize(cls), materialize(lnp))
            # setdefault: a concurrent build_concurrently thread that
            # raced us only duplicated the training job; every caller
            # still sees one winning model
            with _NB_CACHE_LOCK:
                hit = _NB_MODEL_CACHE.setdefault(full_key, hit)
        cls, lnp = hit
        # the scoring path needs the k-row class table driver-side;
        # it is model state, so it caches with the model (round 15:
        # the collect re-ran per scoring call — one job + py4j round
        # trip per call for bytes that never change within a session)
        with _NB_CACHE_LOCK:
            cls_rows = _NB_CLS_ROWS_CACHE.get(full_key)
        if cls_rows is None:
            cls_rows = _collect_cls_rows(cls)
            with _NB_CACHE_LOCK:
                cls_rows = _NB_CLS_ROWS_CACHE.setdefault(full_key, cls_rows)
    else:
        cls, lnp = _nb_train(train_ex, n_doc_c, n_docs_total)
    return _nb_score(
        ex, docs_meta, cls, lnp, id_col, out_prefix, broadcast_model,
        cls_rows=cls_rows,
    )


#: Session-scoped trained-model cache (ivf_kmeans._IVF_INDEX_CACHE
#: precedent): (appId, caller key, label col, out prefix, feature
#: source) -> (cls, lnp), both lineage-truncated.
_NB_MODEL_CACHE: dict[tuple, tuple[DataFrame, DataFrame]] = {}

#: Driver-side k-row class table per cached model (same lifetime/key).
_NB_CLS_ROWS_CACHE: dict[tuple, list] = {}

#: Both NB caches are read from build_concurrently driver threads;
#: the lock guards only the dict ops (never the training jobs), so a
#: race costs at most one duplicated bounded job (r15 advice).
_NB_CACHE_LOCK = threading.Lock()


def _collect_cls_rows(cls: DataFrame) -> list:
    """The sorted driver-side class table (label, prior, unseen-term
    log-prob) — the broadcast-class collect precedent; k rows."""
    return sorted(
        (r["__lbl"], float(r["__prior_s"]), float(r["__lnp0_s"]))
        for r in cls.collect()
    )


def _nb_train(
    train_ex: DataFrame, n_doc_c: DataFrame, n_docs_total: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The trained model as two tables: ``cls`` (__lbl, __prior_s,
    __lnp0_s, __denom — quantized prior + unseen-term log-prob per
    class) and ``lnp`` (__mlbl, term, __lnp_s — quantized per-(term,
    class) log-probs).  Everything scoring needs, nothing doc-bound —
    which is what makes the model a persistable artifact
    (:func:`nb_model_build`)."""
    counts = materialize(
        train_ex.groupBy("__lbl", "term").agg(
            F.count(F.lit(1)).cast("double").alias("__c")
        )
    )
    n_tok_c = counts.groupBy("__lbl").agg(F.sum("__c").alias("__ntok"))
    vstats = counts.select("term").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("__v")
    )
    q = F.lit(1000000.0)
    cls = (
        n_tok_c.join(n_doc_c, "__lbl")
        .crossJoin(F.broadcast(vstats))
        .crossJoin(F.broadcast(n_docs_total))
        .select(
            "__lbl",
            F.floor(F.log(F.col("__ndoc") / F.col("__ndocs")) * q)
            .cast("double")
            .alias("__prior_s"),
            # unseen-(term, class) log-prob: ln(1 / (n_tok_c + V))
            F.floor(F.log(F.lit(1.0) / (F.col("__ntok") + F.col("__v"))) * q)
            .cast("double")
            .alias("__lnp0_s"),
            (F.col("__ntok") + F.col("__v")).alias("__denom"),
        )
    )
    # per-(term, class) log-prob, quantized once per distinct pair
    lnp = counts.join(cls.select("__lbl", "__denom"), "__lbl").select(
        F.col("__lbl").alias("__mlbl"),
        "term",
        F.floor(F.log((F.col("__c") + F.lit(1.0)) / F.col("__denom")) * q)
        .cast("double")
        .alias("__lnp_s"),
    )
    return cls, lnp


def _nb_score(
    ex: DataFrame,
    docs_meta: DataFrame,
    cls: DataFrame,
    lnp: DataFrame,
    id_col: str,
    out_prefix: str,
    broadcast_model: bool = False,
    cls_rows: list | None = None,
) -> DataFrame:
    q = F.lit(1000000.0)
    # class table driver-side: k rows, the same broadcast-class
    # collect precedent as sampling.py's per-stratum counts.  Few
    # classes (the filtering regime: language/domain/quality labels)
    # take the fused one-shuffle scoring path; many classes fall back
    # to the general (doc, class)-grid form.  Cached-model callers
    # pass the rows in (collected once per session, round 15).
    if cls_rows is None:
        cls_rows = _collect_cls_rows(cls)
    if not cls_rows:
        raise ValueError(
            "NB scoring needs at least one trained class — the model "
            "is empty (training docs had no tokens, or a torn/empty "
            "artifact was loaded)"
        )
    if len(cls_rows) <= NB_PIVOT_MAX_CLASSES:
        scored = _nb_score_pivot(
            ex, docs_meta,
            F.broadcast(lnp) if broadcast_model else lnp, cls_rows,
        )
    else:
        scored = _nb_score_grid(
            ex, docs_meta,
            F.broadcast(lnp) if broadcast_model else lnp, cls,
        )
    return scored.select(
        F.col("__did").alias(id_col),
        F.col("__b.l").alias(f"{out_prefix}_pred"),
        (-F.col("__b.ns") / q).alias(f"{out_prefix}_logp"),
    )


#: above this many classes the fused conditional-aggregate scoring
#: (2k agg columns) stops being sensible; the grid form takes over.
NB_PIVOT_MAX_CLASSES = 64


def _sql_str(s: str) -> str:
    """A SQL single-quoted string literal for ``s`` (backslash and
    quote escaped — Spark's default escapedStringLiterals=false
    parser)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_dbl(v: float) -> str:
    """An exactly-value-preserving DOUBLE literal for ``v``: repr
    round-trips through Double.parseDouble bit-for-bit and the cast
    constant-folds at plan time."""
    return f"CAST('{v!r}' AS DOUBLE)"


def _nb_score_pivot(
    ex: DataFrame, docs_meta: DataFrame, lnp: DataFrame, cls_rows
) -> DataFrame:
    """One-shuffle scoring for few classes: the (token x class) join
    aggregates per DOC with one conditional (sum, count) pair per
    class — map-side combinable, no (doc, class) intermediate key —
    and the argmax folds row-locally over literal class constants.

    The per-class expression groups are built as batched SQL strings
    (one parse round-trip per aggregate column / one for the argmax
    array) rather than per-node Column calls: the 2k aggregates plus
    the k-way argmax dominated this module's py4j construction chatter
    (~700 round-trips per text_stats build, r16 counter; guide §5 —
    keep the driver out of the hot path).  Expressions are identical.
    """
    j = ex.select("__did", "term").join(lnp, "term")
    aggs = []
    for i, (c, _p, _z) in enumerate(cls_rows):
        lbl = _sql_str(c)
        aggs.append(F.expr(
            f"sum(CASE WHEN __mlbl = {lbl} THEN __lnp_s END) AS __s{i}"
        ))
        aggs.append(F.expr(
            f"CAST(count(CASE WHEN __mlbl = {lbl} THEN 1 END) AS DOUBLE)"
            f" AS __p{i}"
        ))
    per_doc = j.groupBy("__did").agg(*aggs)
    # left join: a doc whose every token is model-unseen still scores
    # (all-missing contributions) — impossible when self-training but
    # reachable when scoring a held-out corpus
    scored = docs_meta.select("__did", "__n").join(per_doc, "__did", "left")
    cand = ", ".join(
        "named_struct('ns', -("
        f"{_sql_dbl(prior_s)}"
        f" + coalesce(__s{i}, 0.0D)"
        f" + (__n - coalesce(__p{i}, 0.0D)) * {_sql_dbl(lnp0_s)}"
        f"), 'l', {_sql_str(c)})"
        for i, (c, prior_s, lnp0_s) in enumerate(cls_rows)
    )
    return scored.select(
        "__did", F.expr(f"array_min(array({cand}))").alias("__b")
    )


def _nb_score_grid(
    ex: DataFrame, docs_meta: DataFrame, lnp: DataFrame, cls: DataFrame
) -> DataFrame:
    """General scoring for many classes: per-(doc, class) present-token
    sums, a broadcast docs x classes grid so classes sharing no token
    still score, and a groupBy argmax (never a window)."""
    present = (
        ex.select("__did", "term")
        .join(lnp, "term")
        .groupBy("__did", F.col("__mlbl").alias("__lbl"))
        .agg(
            F.sum("__lnp_s").alias("__sum_s"),
            F.count(F.lit(1)).cast("double").alias("__npres"),
        )
    )
    grid = (
        docs_meta.select("__did", "__n")
        .crossJoin(F.broadcast(cls.select("__lbl", "__prior_s", "__lnp0_s")))
        .join(present, ["__did", "__lbl"], "left")
        .select(
            "__did",
            "__lbl",
            (
                F.col("__prior_s")
                + F.coalesce(F.col("__sum_s"), F.lit(0.0))
                + (F.col("__n") - F.coalesce(F.col("__npres"), F.lit(0.0)))
                * F.col("__lnp0_s")
            ).alias("__score_s"),
        )
    )
    return grid.groupBy("__did").agg(
        F.min(
            F.struct((-F.col("__score_s")).alias("ns"), F.col("__lbl").alias("l"))
        ).alias("__b")
    )


def nb_model_build(
    train_docs: DataFrame,
    path: str,
    label_col: str = "lang",
    text_col: str = "text",
    tokens_col: str | None = None,
    feature: str = "search_tokens",
) -> tuple[DataFrame, DataFrame]:
    """Round-9: the classifier as a PERSISTED ARTIFACT — train once on
    a labeled slice, commit the ``terms`` and ``classes`` tables with
    the params in one manifest (artifact_manifest.py), score any
    number of later batches with
    :func:`nb_classify_model`.  The production shape: CCNet/DCLM train
    their quality/langid classifier once and apply it across every
    ingestion run; retraining per batch would both waste the training
    pass and silently drift the filter.

    ``feature`` names the tokenizer contract the model was trained
    under (e.g. ``"search_tokens"``, ``"char_trigram_200"``); it is
    pinned in the params marker, so loading with a different feature
    string raises instead of silently scoring mismatched tokens.

    Returns (terms, classes) READ FROM DISK — parquet round-trips
    doubles exactly, so scores are bit-identical to the training
    session's.
    """
    from .artifact_manifest import (
        artifact_check,
        artifact_open,
        artifact_overwrite,
    )

    spark = train_docs.sparkSession
    params = {"kind": "nb", "label_col": label_col, "feature": feature}
    snap = artifact_open(spark, path)
    if not artifact_check(snap, params):
        src = (
            F.col(tokens_col) if tokens_col is not None
            else search_tokens(text_col)
        )
        train_ex, tmeta = _nb_stage_train(train_docs, src, label_col)
        # fail BEFORE committing: a zero-class model (every training
        # doc tokenized to nothing) would otherwise persist a marker
        # over an empty model and crash every later scoring run
        if tmeta.limit(1).count() == 0:
            raise ValueError(
                "nb_model_build: training produced zero classes "
                "(no training doc has any token) — nothing committed"
            )
        cls, lnp = _nb_train(
            train_ex, tmeta, tmeta.agg(F.sum("__ndoc").alias("__ndocs"))
        )
        # one atomic manifest commit covers both tables + params
        # (round 12: the index artifacts' protocol, unified here too)
        snap = artifact_overwrite(
            spark, path,
            {"terms": lnp, "classes": cls},
            {**params, "version": 1},
            snap,
        )
    return snap.table("terms"), snap.table("classes")


def nb_classify_model(
    docs: DataFrame,
    terms: DataFrame,
    classes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    out_prefix: str = "nb",
) -> DataFrame:
    """Score ``docs`` against a trained model (the
    :func:`nb_model_build` artifact or the in-memory ``_nb_train``
    output) — no training pass.  Tokenization MUST match the model's
    ``feature`` contract (the artifact pins it).  Output identical in
    shape and semantics to :func:`nb_classify_docs`; unseen-term and
    zero-overlap-class handling identical (the model carries the
    per-class unseen log-prob)."""
    src = (
        F.col(tokens_col) if tokens_col is not None
        else search_tokens(text_col)
    )
    ex, docs_meta = _nb_stage_score(docs, src, id_col)
    return _nb_score(ex, docs_meta, classes, terms, id_col, out_prefix)


#: default langid sample: the first N chars of a document.  Language
#: is decidable from a short prefix (CLD2 samples ~256 bytes;
#: fasttext-langid snippets are shorter still) and the trigram stream
#: is ~1 gram per sampled char, so the sample size IS the scoring
#: cost: measured on the sf0.1 corpus, the cnb stack runs 5.6 s warm
#: at 600 chars vs 3.3 s at 200 with no accuracy change on the
#: held-out fixture — n-gramming a full 100 KB document for langid is
#: pure waste at corpus scale.
LANGID_SAMPLE_CHARS = 200


def char_ngram_tokens(n: int = 3):
    """Overlapping lowercase char n-grams of the staged ``__nb_lc``
    column — the classic langid feature (Cavnar & Trenkle 1994; what
    fasttext's langid runs on).  Operates on the STAGED lowered/
    truncated text column ([[spark-lambda-binding]]: a lambda over an
    inline lower() would re-lower per element)."""
    return F.expr(
        f"""CASE WHEN length(__nb_lc) >= {n}
             THEN transform(
                 sequence(1, length(__nb_lc) - {n - 1}),
                 i -> substring(__nb_lc, i, {n}))
             ELSE CAST(array() AS array<string>) END"""
    )


def char_ngram_tokens_col(
    docs: DataFrame, text_col: str = "text", n: int = 3,
    out_col: str = "__cg", max_chars: int | None = LANGID_SAMPLE_CHARS,
) -> DataFrame:
    """``docs`` + ``out_col`` = lowercase char n-grams of the first
    ``max_chars`` chars of ``text_col`` (None = whole text; staging
    column for the lambda included then dropped)."""
    src = F.col(text_col)
    if max_chars is not None:
        src = F.substring(src, 1, max_chars)
    return (
        docs.withColumn("__nb_lc", F.lower(src))
        .withColumn(out_col, char_ngram_tokens(n))
        .drop("__nb_lc")
    )


def char_ngram_sql(
    n: int = 3, text_expr: str = "text",
    max_chars: int | None = LANGID_SAMPLE_CHARS,
) -> str:
    """DuckDB twin of :func:`char_ngram_tokens_col` (same n-gram set,
    same order, same prefix sample)."""
    src = text_expr if max_chars is None else f"substr({text_expr}, 1, {max_chars})"
    lc = f"lower({src})"
    return (
        f"CASE WHEN length({lc}) >= {n} "
        f"THEN list_transform(range(1, length({lc}) - {n - 2}), "
        f"i -> substr({lc}, i, {n})) "
        f"ELSE []::VARCHAR[] END"
    )


def nb_sql(token_pattern: str | None = None, pfx: str = "nb",
           token_expr: str | None = None) -> str:
    """DuckDB twin CTE chain ending in ``{pfx}_doc``
    (doc_id, {pfx}_pred, {pfx}_logp), stage-for-stage with
    :func:`nb_classify_docs` over the ``documents`` view (labels =
    ``lang``).  Tokenizer: ``token_expr`` (an array-valued SQL
    expression, e.g. :func:`char_ngram_sql`) when given, else the
    regex ``token_pattern``."""
    tok = (
        token_expr
        if token_expr is not None
        else f"regexp_extract_all(lower(text), '{token_pattern}')"
    )
    return f"""
        {pfx}_tok AS (
            SELECT doc_id, lang,
                   {tok} AS toks
            FROM documents
            WHERE len({tok}) > 0),
        {pfx}_ex AS (
            SELECT doc_id, lang, unnest(toks) AS term FROM {pfx}_tok),
        {pfx}_counts AS (
            SELECT lang, term, CAST(COUNT(*) AS DOUBLE) AS c
            FROM {pfx}_ex GROUP BY lang, term),
        {pfx}_ntok AS (
            SELECT lang, CAST(SUM(c) AS DOUBLE) AS ntok
            FROM {pfx}_counts GROUP BY lang),
        {pfx}_ndoc AS (
            SELECT lang, CAST(COUNT(*) AS DOUBLE) AS ndoc
            FROM {pfx}_tok GROUP BY lang),
        {pfx}_v AS (
            SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS v
            FROM {pfx}_counts),
        {pfx}_nd AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS ndocs FROM {pfx}_tok),
        {pfx}_cls AS (
            SELECT t.lang,
                   floor(ln(d.ndoc / n.ndocs) * 1000000.0) AS prior_s,
                   floor(ln(1.0 / (t.ntok + v.v)) * 1000000.0) AS lnp0_s,
                   t.ntok + v.v AS denom
            FROM {pfx}_ntok t
            JOIN {pfx}_ndoc d ON d.lang = t.lang
            CROSS JOIN {pfx}_v v CROSS JOIN {pfx}_nd n),
        {pfx}_lnp AS (
            SELECT c.lang, c.term,
                   floor(ln((c.c + 1.0) / k.denom) * 1000000.0) AS lnp_s
            FROM {pfx}_counts c JOIN {pfx}_cls k ON k.lang = c.lang),
        {pfx}_present AS (
            SELECT e.doc_id, p.lang,
                   SUM(p.lnp_s) AS sum_s,
                   CAST(COUNT(*) AS DOUBLE) AS npres
            FROM {pfx}_ex e JOIN {pfx}_lnp p ON p.term = e.term
            GROUP BY e.doc_id, p.lang),
        {pfx}_grid AS (
            SELECT t.doc_id, k.lang,
                   k.prior_s + COALESCE(pr.sum_s, 0)
                   + (CAST(len(t.toks) AS DOUBLE) - COALESCE(pr.npres, 0))
                     * k.lnp0_s AS score_s
            FROM {pfx}_tok t
            CROSS JOIN {pfx}_cls k
            LEFT JOIN {pfx}_present pr
                 ON pr.doc_id = t.doc_id AND pr.lang = k.lang),
        {pfx}_doc AS (
            SELECT doc_id,
                   MIN({{'ns': -score_s, 'l': lang}})['l'] AS {pfx}_pred,
                   -MIN({{'ns': -score_s, 'l': lang}})['ns']
                       / 1000000.0 AS {pfx}_logp
            FROM {pfx}_grid
            GROUP BY doc_id)"""
