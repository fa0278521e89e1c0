"""LLM-training-data pipeline extension operators (BASELINE.json
north star): dedup, similarity search, text analysis, multimodal,
chunk packing.

Oracle strategy: the hash-based ops (minhash LSH, simhash, LSH
buckets) use md5 — identical in Spark, DuckDB and Python — so even
the "custom" operators have bit-exact SQL twins. The SQL is generated
from the same Python constants as the Spark plans (seeds, band
layout, hyperplane weights), keeping the two sides structurally
locked together.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import text as T
from ..operators import dedup as D
from ..operators import embed as EM
from ..operators import minhash_index as MI
from ..operators import bpe as B
from ..operators import bpe_bytes as BB
from ..operators import classify as CLF
from ..operators import lm as LM
from ..operators import pack as PK
from ..operators import retrieval as R
from ..operators import vocab as V
from ..operators import sampling as SMP
from ..operators import similarity as S
from ..sources import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

JACCARD_THRESHOLD = 0.8
COSINE_DUP_THRESHOLD = 0.45
ANN_K = 5
ANN_LSH_K = 3
N_QUERIES = 10  # query vectors: vec_id < 10

# ---------------------------------------------------------------------------
# Shared oracle CTEs (tokenization contract of functions/text.py)
# ---------------------------------------------------------------------------
BPE_SQL = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

DOC_SHINGLES_CTE = r"""
doc_shingles AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                                   i -> array_to_string(toks[i:i+2], ' '))
               ELSE []::VARCHAR[] END) AS sh
    FROM (SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents) t
)
"""

SHINGLE_EXPLODE_CTE = """
sh_ex AS (
    SELECT doc_id, unnest(sh) AS s FROM doc_shingles
)
"""


def _minhash_sig_cte() -> str:
    cols = ",\n           ".join(
        f"list_min(list_transform(sh, s -> md5('{i}|' || s))) AS h{i}"
        for i in range(D.MINHASH_K)
    )
    return f"""
sigs AS (
    SELECT doc_id,
           {cols}
    FROM doc_shingles
    WHERE len(sh) > 0
)
"""


def _minhash_bands_cte() -> str:
    n_bands = D.MINHASH_K // D.MINHASH_BAND_SIZE
    selects = []
    for b in range(n_bands):
        hs = " || ".join(f"h{i}" for i in range(b * D.MINHASH_BAND_SIZE, (b + 1) * D.MINHASH_BAND_SIZE))
        selects.append(
            f"SELECT doc_id, {b} AS band, md5('{b}|' || {hs}) AS band_key FROM sigs"
        )
    # mirrors dedup.MAX_BAND_BUCKET: flooded band buckets are dropped
    # before pairing on both engines
    return (
        "\nbands_all AS (\n    " + "\n    UNION ALL ".join(selects) + "\n),\n"
        "bands AS (\n"
        "    SELECT doc_id, band, band_key FROM (\n"
        "        SELECT *, COUNT(*) OVER (PARTITION BY band, band_key) AS __bsz\n"
        "        FROM bands_all) t\n"
        f"    WHERE __bsz <= {D.MAX_BAND_BUCKET}\n"
        ")\n"
    )


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "documents")  # loader spreads (single row group)


def _vecs(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "embeddings")


def _mtime_artifact_path(sf: str, src_name: str, prefix: str) -> str:
    """STABLE artifact dir keyed by the source file's mtime: repeated
    calls (bench warm attempts, repeated gate runs) reuse the committed
    artifact — build-once/use-many, the production shape the artifact
    arms certify — while a regenerated testdata set changes the key and
    can never be served a stale artifact.  A source the driver cannot
    stat (object store) gets a fresh dir per call: rebuilding is only
    slower; a pinned key could serve a STALE artifact after the source
    regenerates, which is a correctness bug."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf, src_name)
    try:
        mt = os.stat(src).st_mtime_ns
        return os.path.join(
            tempfile.gettempdir(),
            prefix + hashlib.md5(f"{src}|{mt}".encode()).hexdigest()[:12],
        )
    except OSError:
        return tempfile.mkdtemp(prefix=prefix)


def extension_entries() -> dict[str, tuple[QueryFn, str | None]]:
    e: dict[str, tuple[QueryFn, str | None]] = {}
    prelude = "WITH " + DOC_SHINGLES_CTE.strip()

    # ---- dedup -----------------------------------------------------------
    # The INCREMENTAL ingestion arm: a synthetic "new
    # batch" derived from the corpus (ids +10000; even source ids keep
    # their text — true duplicates the bloom must catch — odd ids get
    # a ' v2' suffix — genuinely new) is deduped against the existing
    # corpus via D.incremental_new_docs: broadcast Bloom-bitmap
    # prefilter + exact anti-join verify.  The oracle is the PLAIN
    # anti-join — proving end-to-end that the bloom path loses nothing
    # (no false negatives) and its false positives are all verified
    # away.
    def _dedup_exact_with_incremental(spark: SparkSession, sf: str) -> DataFrame:
        docs = _docs(spark, sf)
        batch = docs.select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.when(F.col("doc_id") % 2 == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" v2")))
            .alias("text"),
        )
        # built serially: a pairwise A/B (3 alternating warm reps, one
        # session) measured a thread-pool overlap at 1.92 s against
        # 1.93 s serial — the groups arm is lazy, so there is nothing
        # to overlap with the incremental arm's one bounded
        # materialize.
        groups = D.dedup_exact(docs)
        new = D.incremental_new_docs(batch, docs)
        nb = F.lit(None).cast("long")
        return groups.select(
            F.lit("groups").alias("method"), "text_hash", "keep_id", "n_copies"
        ).unionByName(
            new.select(
                F.lit("incremental_new").alias("method"),
                "text_hash",
                F.col("doc_id").alias("keep_id"),
                nb.alias("n_copies"),
            )
        )

    e["dedup_exact"] = (
        _dedup_exact_with_incremental,
        r"""WITH norm AS (
                SELECT doc_id,
                       md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                         AS text_hash
                FROM documents),
            batch AS (
                SELECT doc_id + 10000 AS doc_id,
                       md5(regexp_replace(trim(lower(
                           CASE WHEN doc_id % 2 = 0 THEN text
                                ELSE text || ' v2' END)), '\s+', ' ', 'g'))
                         AS text_hash
                FROM documents)
            SELECT 'groups' AS method, text_hash,
                   min(doc_id) AS keep_id, count(*) AS n_copies
            FROM norm GROUP BY 2
            UNION ALL
            SELECT 'incremental_new', b.text_hash, b.doc_id,
                   CAST(NULL AS BIGINT)
            FROM batch b
            WHERE NOT EXISTS (SELECT 1 FROM norm n
                              WHERE n.text_hash = b.text_hash)""",
    )

    def _minhash_full_and_index(spark: SparkSession, sf: str) -> DataFrame:
        """full = the in-frame LSH candidate pairs (the original arm);
        index = the PRODUCTION incremental path — build the
        PERSISTED MinHash band index artifact over 90% of the corpus
        (operators/minhash_index.py, manifest protocol, probed
        rows read from disk), probe it with the remaining 10% as the
        'new batch', exact-verify the candidates.  The oracle
        recomputes both arms from scratch with the shared band CTEs —
        the artifact round-trip itself is what the arm certifies."""
        docs = _docs(spark, sf)
        idx_part = docs.filter("doc_id % 10 != 0")
        batch_part = docs.filter("doc_id % 10 = 0")
        # mtime-keyed index dir: build-once/probe-many (see
        # _mtime_artifact_path on the staleness contract)
        idx_path = _mtime_artifact_path(
            sf, "documents.parquet", "spark_graft_mhidx_"
        )

        def _probe_arm() -> DataFrame:
            index = MI.minhash_index_build(idx_part, idx_path)
            return MI.near_dup_probe(
                batch_part, index.table("bands"), idx_part
            ).select(
                F.lit("index").alias("method"),
                F.col("doc_id").alias("id_a"),
                F.col("dup_of").alias("id_b"),
                "jaccard",
            )

        # The in-frame LSH arm and
        # the persisted-index probe arm are independent; each runs
        # eager work at build time (the signature materialize / the
        # index build-or-read + candidate verify materialize), so a
        # 2-thread build overlaps their jobs.  Same rows.
        from ..checkpoint import build_concurrently

        full, probe = build_concurrently([
            lambda: D.dedup_minhash_lsh(docs).select(
                F.lit("full").alias("method"), "id_a", "id_b",
                F.lit(None).cast("double").alias("jaccard"),
            ),
            _probe_arm,
        ])
        return full.unionByName(probe)

    e["dedup_minhash_lsh"] = (
        _minhash_full_and_index,
        prelude + "," + _minhash_sig_cte().strip() + "," + _minhash_bands_cte().strip()
        + f""",
        ibands AS (
            SELECT doc_id, band, band_key FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY band, band_key) AS __isz
                FROM bands_all WHERE doc_id % 10 != 0) t
            WHERE __isz <= {D.MAX_BAND_BUCKET}),
        pcand AS (
            SELECT DISTINCT q.doc_id AS id_a, x.doc_id AS id_b
            FROM bands_all q
            JOIN ibands x ON q.band_key = x.band_key AND q.band = x.band
            WHERE q.doc_id % 10 = 0),
        psh_q AS (
            SELECT doc_id, unnest(sh) AS s FROM doc_shingles
            WHERE doc_id IN (SELECT id_a FROM pcand)),
        psh_i AS (
            SELECT doc_id, unnest(sh) AS s FROM doc_shingles
            WHERE doc_id IN (SELECT id_b FROM pcand)),
        psz_q AS (SELECT doc_id, count(*) AS n FROM psh_q GROUP BY doc_id),
        psz_i AS (SELECT doc_id, count(*) AS n FROM psh_i GROUP BY doc_id),
        pinter AS (
            SELECT q.doc_id AS id_a, x.doc_id AS id_b, count(*) AS inter
            FROM psh_q q JOIN psh_i x ON q.s = x.s
            GROUP BY 1, 2)
        SELECT DISTINCT 'full' AS method, a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(NULL AS DOUBLE) AS jaccard
        FROM bands a
        JOIN bands b ON a.band_key = b.band_key AND a.band = b.band
                    AND a.doc_id < b.doc_id
        UNION ALL
        SELECT 'index', i.id_a, i.id_b,
               CAST(inter AS DOUBLE) / CAST(sq.n + si.n - inter AS DOUBLE)
        FROM pinter i
        JOIN pcand p ON p.id_a = i.id_a AND p.id_b = i.id_b
        JOIN psz_q sq ON sq.doc_id = i.id_a
        JOIN psz_i si ON si.doc_id = i.id_b
        WHERE CAST(inter AS DOUBLE) / CAST(sq.n + si.n - inter AS DOUBLE)
              >= CAST({MI.NEAR_DUP_THRESHOLD} AS DOUBLE)""",
    )

    # ---- clusters -> survivors -> cap -> decontaminate -> split -> mix --
    # The corpus CLI's FULL hygiene spine in one driver row, each stage
    # the real registered operator (not a reimplementation):
    #   dedup_survivors   (components.py, O(log n) large-star/small-star)
    #   stratum_cap       (sampling.py, two-stage distributed top-n)
    #   contamination_check (contamination.py, survivors as train side)
    #   hash_split        (sampling.py, zero-shuffle md5 threshold)
    #   weighted_mix_filter (sampling.py, per-source md5 acceptance —
    #                        row-local form of weighted_interleave)
    # The oracle recomputes the LSH pairs with the shared CTEs, then
    # resolves components by RECURSIVE transitive closure with a
    # min-label reduce — O(n*m), fine at oracle scale.  Cap/split/mix
    # decisions are integer md5-bucket comparisons, identical in both
    # engines; the contaminated flag mirrors the vocab-prune ->
    # flood-cap -> overlap-fraction stages CTE-for-stage.
    CAP_PER_LANG = 40  # sf0.01 has ~100 docs/lang, so the cap bites
    # tokens/lang via bpe_ish_count (training
    # budgets are tokens, not chars); per-lang survivor totals are
    # ~3.5-11.8k tokens at sf0.01 and 38-112k at sf0.1, so 2,200 bites
    # for every lang at both SFs
    TOKEN_BUDGET = 2_200
    CONTAM_FRAC = 0.2
    CONTAM_EVAL_PRED = "doc_id % 25 = 0"
    MIX_TAIL_WEIGHT = 0.5  # head (even ids) w=1.0, tail (odd) w=0.5

    from ..operators.contamination import MAX_SHINGLE_TRAIN_DOCS

    def _contam_ctes(pfx: str, train_sql: str) -> str:
        """CTE chain mirroring contamination_check stage-for-stage
        (vocab prune -> groupBy flood cap + anti-join -> shared
        counts), shared by the standalone entry and the corpus spine
        so the two oracles cannot drift apart.  ``train_sql`` must
        yield columns (train_id, s).
        """
        return f"""
        {pfx}ev AS (SELECT doc_id AS eval_id, unnest(sh) AS s
               FROM doc_shingles WHERE {CONTAM_EVAL_PRED}),
        {pfx}ev_sizes AS (SELECT doc_id AS eval_id, len(sh) AS eval_shingles
                     FROM doc_shingles WHERE {CONTAM_EVAL_PRED}),
        {pfx}tr AS ({train_sql}),
        {pfx}vocab AS (SELECT DISTINCT s FROM {pfx}ev),
        {pfx}hits_all AS (SELECT t.train_id, t.s
                     FROM {pfx}tr t JOIN {pfx}vocab v ON v.s = t.s),
        {pfx}flooded AS (SELECT s FROM {pfx}hits_all GROUP BY s
                    HAVING COUNT(*) > {MAX_SHINGLE_TRAIN_DOCS}),
        {pfx}hits AS (SELECT train_id, s FROM {pfx}hits_all
                 WHERE s NOT IN (SELECT s FROM {pfx}flooded)),
        {pfx}shared AS (SELECT h.train_id, e.eval_id, COUNT(*) AS n_shared
                   FROM {pfx}hits h JOIN {pfx}ev e ON e.s = h.s
                   GROUP BY 1, 2)"""

    def _survivors_split(spark: SparkSession, sf: str) -> DataFrame:
        from ..operators.components import dedup_survivors
        from ..operators.contamination import contamination_check
        from ..operators.sampling import (
            hash_split,
            stratum_cap,
            token_budget_cap,
            weighted_mix_filter,
        )

        from ..checkpoint import materialize
        from ..session import respread_width

        docs = _docs(spark, sf)
        kept = dedup_survivors(docs, D.dedup_minhash_lsh(docs), order_col="n_chars")
        # the survivor frame feeds three consumers (cap ids, contam
        # train side, the output spine); a non-eager materialization
        # runs the docs-join-window subtree once per query instead of
        # once per consumer (measured ~2x), and — unlike persist —
        # cannot leak a cache across driver runs.
        # The explicit repartition first is the same scan-layout repair
        # as sources.tables._SPREAD_TABLES: AQE rightly coalesces the
        # tiny post-window shuffle to ~1 partition (shuffle-byte
        # economy), but the contamination stage below does CPU-heavy
        # per-row trigram explodes over this frame — without the
        # re-spread the whole downstream spine runs single-threaded
        # (measured ~2x query wall time at sf0.1). Explicit
        # repartition(n) is exempt from AQE coalescing; the width is
        # conf-driven (session.respread_width) for cluster runs.
        kept = materialize(kept.repartition(respread_width(spark)))
        surv = kept.filter("is_survivor")

        # The three survivor-flag
        # builders below (doc cap, token cap, contamination) all
        # consume the SAME materialized `kept` stream and are mutually
        # independent, but each runs eager work at construction time
        # (stratum_cap's bounded collect, token_budget_cap's prefix-sum
        # materialize, contamination_check's hits materialize) — build
        # them from a small thread pool so those jobs overlap instead
        # of serializing on the driver.  Same DataFrames, same rows.
        ev = docs.filter(CONTAM_EVAL_PRED).select("doc_id", "text")
        from ..checkpoint import build_concurrently

        cap_ids, tok_ids, contam_ids = build_concurrently([
            lambda: (
                stratum_cap(surv, ["lang"], CAP_PER_LANG, "doc_id")
                .select("doc_id")
                .withColumn("__cap", F.lit(True))
            ),
            lambda: (
                token_budget_cap(
                    surv.withColumn(
                        "n_tokens", T.bpe_ish_count("text").cast("long")
                    ),
                    ["lang"], TOKEN_BUDGET, "n_tokens", "doc_id",
                )
                .select("doc_id")
                .withColumn("__tb", F.lit(True))
            ),
            lambda: (
                contamination_check(surv, ev, min_overlap_frac=CONTAM_FRAC)
                .select(F.col("train_id").alias("doc_id"))
                .distinct()
                .withColumn("__ct", F.lit(True))
            ),
        ])
        # per-language cap via the REAL two-stage stratum_cap; the kept
        # id set is tiny (<= cap x n_langs) so the flag join broadcasts
        capped = (
            kept.join(F.broadcast(cap_ids), "doc_id", "left")
            .withColumn("kept_after_cap", F.coalesce(F.col("__cap"), F.lit(False)))
            .drop("__cap")
        )
        # TOKEN-budgeted counterpart: training mixtures are
        # budgeted in tokens, not doc counts — the real token_budget_cap
        # (distributed prefix sum, sampling.py) flags the maximal
        # hash-order prefix of survivors within the per-lang TOKEN
        # budget (bpe_ish_count, the engine's tokenizer proxy; the
        # column is lazy, so the regex runs only on the survivor branch
        # feeding this cap)
        capped = (
            capped.join(F.broadcast(tok_ids), "doc_id", "left")
            .withColumn(
                "kept_after_token_budget", F.coalesce(F.col("__tb"), F.lit(False))
            )
            .drop("__tb")
        )
        # survivors -> decontaminate: flag survivors overlapping the
        # held-out eval slice (train side = deduped corpus, the order
        # the corpus CLI runs the stages in); contam_ids built above
        flagged = (
            capped.join(F.broadcast(contam_ids), "doc_id", "left")
            .withColumn("contaminated", F.coalesce(F.col("__ct"), F.lit(False)))
            .drop("__ct")
        )
        base = hash_split(flagged, "doc_id")
        # training-mixture tagging: two disjoint id slices stand in
        # for separate corpora.  The pre-unioned spine uses the
        # row-local weighted_mix_filter form (zero shuffle, zero
        # broadcast — the 100 TB shape for a corpus that is one table
        # with a source column); weighted_interleave (separate source
        # tables) shares its thresholds bit-for-bit and backs the
        # `mix` CLI.  A union of the spine per source would evaluate
        # every upstream stage once per source (measured 2x wall time)
        mixed = weighted_mix_filter(
            base,
            F.when(F.col("doc_id") % 2 == 0, F.lit("head")).otherwise(F.lit("tail")),
            {"head": 1.0, "tail": MIX_TAIL_WEIGHT},
            "doc_id",
        )
        return mixed.select(
            "doc_id", "lang", "component", "is_survivor",
            "kept_after_cap", "kept_after_token_budget",
            "contaminated", "split", "source_name",
        )

    def _survivors_split_sql() -> str:
        from ..operators.sampling import (
            _BUCKETS,
            _bucket_sql,
            hash_split_sql,
        )

        cap_bucket = _bucket_sql("doc_id", "cap")
        tok_bucket = _bucket_sql("doc_id", "tokcap")
        tail_hi = int(MIX_TAIL_WEIGHT * _BUCKETS)
        tail_bucket = _bucket_sql("doc_id", "mix|tail")
        return (
            "WITH RECURSIVE " + DOC_SHINGLES_CTE.strip()
            + "," + _minhash_sig_cte().strip()
            + "," + _minhash_bands_cte().strip()
            + f""",
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a
            JOIN bands b ON a.band_key = b.band_key AND a.band = b.band
                        AND a.doc_id < b.doc_id),
        edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach AS (
            SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges) t
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v),
        comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
        labeled AS (
            SELECT d.doc_id, d.lang, d.n_chars,
                   len(regexp_extract_all(d.text, '{BPE_SQL}')) AS n_tokens,
                   COALESCE(c.component, d.doc_id) AS component
            FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
        flagged AS (
            SELECT doc_id, lang, component, n_chars, n_tokens,
                   (ROW_NUMBER() OVER (PARTITION BY component
                                       ORDER BY n_chars DESC, doc_id ASC) = 1)
                   AS is_survivor
            FROM labeled),
        tok_ok AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       SUM(n_tokens) OVER (PARTITION BY lang
                           ORDER BY {tok_bucket} ASC, doc_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS __cum
                FROM flagged WHERE is_survivor) t
            WHERE __cum <= {TOKEN_BUDGET}),
        capped AS (
            SELECT doc_id, lang, component, is_survivor,
                   (is_survivor AND ROW_NUMBER() OVER (
                        PARTITION BY lang
                        ORDER BY is_survivor DESC, {cap_bucket} ASC, doc_id ASC)
                    <= {CAP_PER_LANG}) AS kept_after_cap,
                   (is_survivor AND doc_id IN (SELECT doc_id FROM tok_ok))
                   AS kept_after_token_budget
            FROM flagged),
        {_contam_ctes("c_", "SELECT d.doc_id AS train_id, unnest(d.sh) AS s "
                            "FROM doc_shingles d JOIN flagged f ON f.doc_id = d.doc_id "
                            "WHERE f.is_survivor").strip()},
        contam_ids AS (
            SELECT DISTINCT s.train_id AS doc_id
            FROM c_shared s JOIN c_ev_sizes z ON z.eval_id = s.eval_id
            WHERE CAST(s.n_shared AS DOUBLE) / CAST(z.eval_shingles AS DOUBLE)
                  >= CAST({CONTAM_FRAC} AS DOUBLE)),
        final AS (
            SELECT doc_id, lang, component, is_survivor, kept_after_cap,
                   kept_after_token_budget,
                   (is_survivor AND doc_id IN (SELECT doc_id FROM contam_ids))
                   AS contaminated,
                   {hash_split_sql("doc_id")}
            FROM capped)
        SELECT doc_id, lang, component, is_survivor, kept_after_cap,
               kept_after_token_budget, contaminated, split,
               CASE WHEN doc_id % 2 = 0 THEN 'head' ELSE 'tail' END
               AS source_name
        FROM final
        WHERE doc_id % 2 = 0 OR {tail_bucket} < {tail_hi}"""
        )

    e["corpus_survivors_split"] = (_survivors_split, _survivors_split_sql())

    # ---- benchmark decontamination ----------------------------------------
    # documents with doc_id % 25 == 0 play the eval/benchmark set; the
    # word-trigram shingles are exactly the shared doc_shingles CTE, so
    # the oracle mirrors the operator's vocab-prune -> flood-cap ->
    # overlap-fraction pipeline CTE-for-stage (flood control as a
    # grouped document-frequency + anti-join, matching the engine's
    # groupBy + broadcast anti-join form).
    # The 'bm25' arm: ranked-retrieval decontamination
    # (operators/retrieval.py) — for each probe doc, the top-k training
    # docs by Okapi BM25 over a 16-token query snippet; the modern
    # complement to the overlap-threshold form (a near-verbatim leak
    # ranks at the top even when its trigram overlap stays under the
    # threshold).  Shared columns (method, train_id, eval_id, n_shared,
    # score, rank): ngram rows carry overlap_frac as score, NULL rank.
    # The probe set subsamples the eval set 4:1 (doc_id % 100): the
    # synthetic corpus has ~31 distinct terms, so EVERY query term
    # matches EVERY doc — maximally dense posting lists, BM25's worst
    # case — and contrib volume is |queries| x |corpus| x terms-per-
    # query regardless of pruning.  Real corpora are Zipfian (posting
    # lists mostly short); the subsample keeps the bench entry honest
    # without letting the degenerate-vocab blowup dominate it.
    BM25_QUERY_TOKENS = 16
    BM25_K = 5
    BM25_PROBE_PRED = "doc_id % 100 = 0"

    def _contamination(spark: SparkSession, sf: str) -> DataFrame:
        from ..operators.contamination import contamination_check
        from ..operators.retrieval import bm25_topk, search_tokens

        docs = _docs(spark, sf)
        ev = docs.filter(CONTAM_EVAL_PRED).select("doc_id", "text")
        queries = docs.filter(BM25_PROBE_PRED).select(
            F.col("doc_id").alias("query_id"),
            F.concat_ws(
                " ", F.slice(search_tokens("text"), 1, BM25_QUERY_TOKENS)
            ).alias("text"),
        )
        # The two method arms each
        # materialize an intermediate at build time (ngram's pruned
        # hits, bm25's pruned postings) and are independent — overlap
        # their build-time jobs.  Same DataFrames, same rows.
        from ..checkpoint import build_concurrently

        ngram, bm = build_concurrently([
            lambda: contamination_check(docs, ev, min_overlap_frac=CONTAM_FRAC),
            lambda: bm25_topk(docs, queries, k=BM25_K),
        ])
        nb = F.lit(None).cast("long")
        cols = ["method", "train_id", "eval_id", "n_shared", "score", "rank"]
        return ngram.select(
            F.lit("ngram").alias("method"), "train_id", "eval_id",
            "n_shared", F.col("overlap_frac").alias("score"),
            nb.alias("rank"),
        ).select(cols).unionByName(
            bm.select(
                F.lit("bm25").alias("method"),
                F.col("doc_id").alias("train_id"),
                F.col("query_id").alias("eval_id"),
                F.col("n_matched").alias("n_shared"),
                "score", "rank",
            ).select(cols)
        )

    _bm25_queries_cte = f"""SELECT doc_id AS query_id,
                   array_to_string(
                       (regexp_extract_all(lower(text), '{R.SEARCH_TOKEN_PATTERN}'))[1:{BM25_QUERY_TOKENS}],
                       ' ') AS qtext
            FROM documents WHERE {BM25_PROBE_PRED}"""

    e["contamination_check"] = (
        _contamination,
        prelude + ","
        + _contam_ctes(
            "", "SELECT doc_id AS train_id, unnest(sh) AS s FROM doc_shingles"
        ).strip()
        + ","
        + R.bm25_sql(_bm25_queries_cte, k=BM25_K).strip()
        + f"""
        SELECT 'ngram' AS method, s.train_id, s.eval_id, s.n_shared,
               CAST(s.n_shared AS DOUBLE) / CAST(z.eval_shingles AS DOUBLE)
               AS score, CAST(NULL AS BIGINT) AS rank
        FROM shared s JOIN ev_sizes z ON z.eval_id = s.eval_id
        WHERE CAST(s.n_shared AS DOUBLE) / CAST(z.eval_shingles AS DOUBLE)
              >= CAST({CONTAM_FRAC} AS DOUBLE)
        UNION ALL
        SELECT 'bm25', doc_id, query_id, n_matched, score, rank
        FROM bm_topk""",
    )

    # standalone exact n-gram Jaccard (quadratic in shared-shingle
    # pairs) is deliberately NOT registered: it is the verifier inside
    # `dedup_verify_candidates` below, and its standalone form stays
    # pytest-covered (tests/test_extensions.py::
    # test_verify_candidates_subset_of_exact uses it as the exact
    # reference) — never the headline path.

    # composed 100 TB path: LSH candidates -> exact Jaccard verify.
    # The oracle restricts the quadratic verifier to candidate docs the
    # same way the Spark plan does.
    VERIFY_THRESHOLD = 0.5
    e["dedup_verify_candidates"] = (
        lambda spark, sf: D.verify_candidates(
            _docs(spark, sf), threshold=VERIFY_THRESHOLD
        ),
        prelude + "," + _minhash_sig_cte().strip() + "," + _minhash_bands_cte().strip()
        + f""",
        cand_pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a
            JOIN bands b ON a.band_key = b.band_key AND a.band = b.band
                        AND a.doc_id < b.doc_id
        ),
        cand_ids AS (
            SELECT id_a AS doc_id FROM cand_pairs
            UNION SELECT id_b FROM cand_pairs
        ),
        sh_ex AS (
            SELECT doc_id, unnest(sh) AS s FROM doc_shingles
            WHERE doc_id IN (SELECT doc_id FROM cand_ids)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh_ex GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM sh_ex a JOIN sh_ex b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT i.id_a, i.id_b,
               CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
        FROM inter i
        JOIN cand_pairs p ON p.id_a = i.id_a AND p.id_b = i.id_b
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
              >= CAST({VERIFY_THRESHOLD} AS DOUBLE)""",
    )

    votes_cols = []
    for b in range(32):
        nibble = f"CAST('0x' || substr(h, {b // 4 + 1}, 1) AS INT)"
        mask = 8 >> (b % 4)
        votes_cols.append(
            f"CAST(SUM(CASE WHEN ({nibble} & {mask}) > 0 THEN 1 ELSE -1 END) AS BIGINT) AS v{b}"
        )
    simhash_fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)" for b in range(32)
    )
    e["dedup_simhash"] = (
        lambda spark, sf: D.simhash32(_docs(spark, sf)),
        prelude + "," + SHINGLE_EXPLODE_CTE.strip() + f""",
        hashed AS (SELECT doc_id, md5(s) AS h FROM sh_ex),
        votes AS (SELECT doc_id, {', '.join(votes_cols)} FROM hashed GROUP BY doc_id)
        SELECT doc_id, CAST({simhash_fp} AS BIGINT) AS simhash FROM votes""",
    )

    # ---- similarity search ----------------------------------------------
    # The 'int8' arm: the same two-stage exact top-k over
    # SCALAR-QUANTIZED vectors (similarity.quantize_embedding — floor
    # grid, per-vector scale cancels in cosine) — the 8x index-memory
    # cut, recall measured essentially free (49-50/50 @5; BASELINE.md)
    cos = S.cosine_sql("q.embedding", "c.embedding")

    def _ann_brute_both(spark: SparkSession, sf: str) -> DataFrame:
        exact = S.ann_topk_brute(
            _vecs(spark, sf),
            _vecs(spark, sf).filter(F.col("vec_id") < N_QUERIES),
            k=ANN_K,
        ).withColumn("method", F.lit("exact"))
        int8 = S.ann_topk_brute_int8(
            _vecs(spark, sf),
            _vecs(spark, sf).filter(F.col("vec_id") < N_QUERIES),
            k=ANN_K,
        ).withColumn("method", F.lit("int8"))
        return exact.unionByName(int8)

    e["ann_topk_bruteforce"] = (
        _ann_brute_both,
        f"""WITH {S.quantize_sql().strip()},
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       {cos} AS cosine
                FROM embeddings q, embeddings c
                WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
            ),
            qscored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       {cos} AS cosine
                FROM qz_out q, qz_out c
                WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
            )
            SELECT 'exact' AS method, query_id, neighbor_id, cosine, rank
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
                  FROM scored) t
            WHERE rank <= {ANN_K}
            UNION ALL
            SELECT 'int8', query_id, neighbor_id, cosine, rank
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
                  FROM qscored) t
            WHERE rank <= {ANN_K}""",
    )

    # multi-table sign-LSH (single-bucket recall
    # was ~0 on the near-isotropic testdata; 32 tables x 6 planes
    # measure recall@3 ~0.8 vs brute force — pinned by pytest)
    cos_qn_lsh = S.cosine_sql("q.embedding", "n.embedding")
    e["ann_topk_lsh"] = (
        lambda spark, sf: S.ann_topk_lsh(
            _vecs(spark, sf),
            _vecs(spark, sf).filter(F.col("vec_id") < N_QUERIES),
            k=ANN_LSH_K,
            # built-once/query-many (see ann_topk_ivf below)
            index_cache_key=sf,
        ),
        f"""WITH wb AS (
                {S.banded_buckets_sql("embedding", S.ANN_LSH_TABLES, S.ANN_LSH_PLANES_PER_TABLE)}
            ),
            qb AS (SELECT vec_id AS query_id, band, bucket FROM wb
                   WHERE vec_id < {N_QUERIES}),
            cand AS (
                SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
                FROM wb c JOIN qb q ON c.band = q.band AND c.bucket = q.bucket
                                   AND c.vec_id <> q.query_id),
            scored AS (
                SELECT cand.query_id, cand.neighbor_id, {cos_qn_lsh} AS cosine
                FROM cand
                JOIN embeddings q ON q.vec_id = cand.query_id
                JOIN embeddings n ON n.vec_id = cand.neighbor_id
            )
            SELECT query_id, neighbor_id, cosine, rank
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
                  FROM scored) t
            WHERE rank <= {ANN_LSH_K}""",
    )

    # IVF with a REAL k-means coarse quantizer + multi-probe (the
    # testdata's label column is geometrically
    # meaningless, so label-cell IVF had recall ~0.1; k=10 cells /
    # 3 Lloyd rounds / 3 probes measure recall@3 0.90-1.00 — pinned by
    # pytest).  The whole trained structure — seeds, assignments,
    # decimal-routed centroid means — is unrolled CTE-for-stage in the
    # twin, so even the k-means training is hash-checked.
    cos_qc = S.cosine_sql("q.embedding", "c.cvec")
    cos_qn = S.cosine_sql("p.__qvec", "n.embedding")

    # the 'int8' arm: the SAME probed cells, but the inverted lists
    # score from the PERSISTED artifact's stored vectors
    # (ivf_index_persistent: tinyint components + per-vector scale on
    # disk, ~8x smaller vector storage) — asymmetric scoring, float
    # query vs integer grid; the oracle re-derives the quantized corpus
    # (quantize_sql) and hash-matches the stored-tinyint scores exactly
    # (integers are integers).  Artifact is mtime-keyed:
    # build-once/probe-many across attempts.
    def _ann_ivf_both(spark: SparkSession, sf: str) -> DataFrame:
        queries = _vecs(spark, sf).filter(F.col("vec_id") < N_QUERIES)
        float_arm = S.ann_topk_ivf(
            _vecs(spark, sf), queries, k=ANN_LSH_K,
            # train once per session per sf (deterministic training →
            # identical results; the oracle twin retrains in-query and
            # still hash-matches) — the built-once/query-many shape
            index_cache_key=sf,
        ).withColumn("method", F.lit("float"))
        qidx = _mtime_artifact_path(
            sf, "embeddings.parquet", "spark_graft_ivfq_"
        )
        int8_arm = S.ann_topk_ivf(
            _vecs(spark, sf), queries, k=ANN_LSH_K,
            index_path=qidx,
        ).withColumn("method", F.lit("int8"))
        return float_arm.unionByName(int8_arm)

    e["ann_topk_ivf"] = (
        _ann_ivf_both,
        f"""WITH {S.ivf_kmeans_sql_ctes()},
            {S.quantize_sql().strip()},
            probed AS (
                SELECT query_id, cell, __qvec FROM (
                    SELECT q.vec_id AS query_id, c.cell, q.embedding AS __qvec,
                           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                              ORDER BY {cos_qc} DESC, c.cell ASC) AS rn
                    FROM embeddings q, km_cents c
                    WHERE q.vec_id < {N_QUERIES}
                ) t WHERE rn <= {S.IVF_PROBES}
            ),
            scored AS (
                SELECT p.query_id, a.cell, n.vec_id AS neighbor_id,
                       {cos_qn} AS cosine
                FROM probed p
                JOIN km_assign a ON a.cell = p.cell
                JOIN embeddings n ON n.vec_id = a.vec_id
                WHERE n.vec_id <> p.query_id
            ),
            qscored AS (
                SELECT p.query_id, a.cell, n.vec_id AS neighbor_id,
                       {cos_qn} AS cosine
                FROM probed p
                JOIN km_assign a ON a.cell = p.cell
                JOIN qz_out n ON n.vec_id = a.vec_id
                WHERE n.vec_id <> p.query_id
            )
            SELECT 'float' AS method, query_id, cell, neighbor_id, cosine, rank
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
                  FROM scored) t
            WHERE rank <= {ANN_LSH_K}
            UNION ALL
            SELECT 'int8', query_id, cell, neighbor_id, cosine, rank
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
                  FROM qscored) t
            WHERE rank <= {ANN_LSH_K}""",
    )

    # banded-LSH candidates + exact cosine verify — the 100 TB shape
    # (similarity.embedding_dup_pairs_lsh docstring has the recall
    # math; the all-pairs form stays as the pytest recall cross-check).
    # The 'hashed' arm: the same near-dup machinery over
    # vectors DERIVED FROM RAW TEXT by the feature-hashing embedder
    # (similarity.hash_embed — signed integer counts, exact, no
    # external model), so the embedding tier runs end-to-end from the
    # documents table; exact-dup texts land at cosine 1.0.
    cos_ab = S.cosine_sql("a.embedding", "b.embedding")
    HASHED_DUP_THRESHOLD = 0.9
    # hash-embedded text vectors are CORRELATED (shared common-token
    # directions), so the default 8-bucket bands flood (measured: one
    # bucket held 68% of sf0.1's vectors; 11.9M candidate pairs).
    # Sized by the rule planes >= log2(n / occupancy):
    # 10 planes/band (1024 buckets) + the MAX_VECTOR_BUCKET backstop.
    HASHED_DUP_PLANES = 10

    def _embedding_dups_both(spark: SparkSession, sf: str) -> DataFrame:
        from ..checkpoint import materialize

        lsh_arm = S.embedding_dup_pairs_lsh(
            _vecs(spark, sf), threshold=COSINE_DUP_THRESHOLD
        ).withColumn("method", F.lit("lsh"))
        # the derived vectors are a 3-consumer diamond (bucket stream
        # + both sides of the exact-cosine verify): materialize once
        # per the DESIGN.md diamond rule — |docs| rows of dim doubles
        hashed_arm = S.embedding_dup_pairs_lsh(
            materialize(S.hash_embed(_docs(spark, sf))),
            threshold=HASHED_DUP_THRESHOLD,
            planes_per_band=HASHED_DUP_PLANES,
            max_bucket=S.MAX_VECTOR_BUCKET,
        ).withColumn("method", F.lit("hashed"))
        # SemDeDup arm — cluster-scoped semantic near-dup
        # (k-means cell self-join instead of LSH banding); shares the
        # session-cached IVF quantizer with ann_topk_ivf (same
        # index_cache_key -> same trained index, zero re-training)
        semdedup_arm = (
            S.semdedup_pairs(
                _vecs(spark, sf),
                threshold=S.SEMDEDUP_THRESHOLD,
                index_cache_key=sf,
            )
            .drop("cell")
            .withColumn("method", F.lit("semdedup"))
        )
        # 'model' arm — the SAME near-dup machinery over
        # vectors produced by the batched model-inference seam
        # (operators/embed.embed_with_model: executor-cached encoder
        # artifact, mapInPandas).  The synproj-v1 reference encoder
        # keeps the arm hash-gated (the oracle recomputes it, trained
        # stop list included) while exercising the exact plumbing a
        # learned encoder drops into.  Artifact is mtime-keyed:
        # build-once/encode-many across gate/bench attempts.
        enc_path = _mtime_artifact_path(
            sf, "documents.parquet", "spark_graft_encoder_"
        )
        EM.encoder_model_build(_docs(spark, sf), enc_path)
        model_arm = S.embedding_dup_pairs_lsh(
            # 3-consumer diamond (bucket stream + both verify sides):
            # materialize once, same as the hashed arm
            materialize(EM.embed_with_model(_docs(spark, sf), enc_path)),
            threshold=HASHED_DUP_THRESHOLD,
            planes_per_band=HASHED_DUP_PLANES,
            max_bucket=S.MAX_VECTOR_BUCKET,
        ).withColumn("method", F.lit("model"))
        # 'wordvec' arm — the FLOAT-WEIGHT encoder kind
        # through the same seam (embed.wordvec_model_build: dense
        # (term -> vector) table on the integer grid so the twin
        # recomputes it bit-for-bit).  Same artifact marker protocol,
        # same worker cache, same consumers — the "a real word2vec
        # export drops in" demonstration (wordvec_model_import is the
        # actual import path, pytest'd).  The gated arm runs the SIF
        # pooling form (integer floor-division weights — the richer
        # path: it subsumes the mean machinery plus the frequency
        # table; mean pooling is pytest-pinned vs python).
        wv_path = _mtime_artifact_path(
            sf, "documents.parquet", "spark_graft_wordvec_sif_"
        )
        EM.wordvec_model_build(_docs(spark, sf), wv_path, pooling="sif")
        wordvec_arm = S.embedding_dup_pairs_lsh(
            materialize(EM.embed_with_model(_docs(spark, sf), wv_path)),
            threshold=HASHED_DUP_THRESHOLD,
            planes_per_band=HASHED_DUP_PLANES,
            max_bucket=S.MAX_VECTOR_BUCKET,
        ).withColumn("method", F.lit("wordvec"))
        # 'image' arm — SEMANTIC IMAGE dedup through the
        # same seam (multimodal/imgembed.py): real
        # synthesized PNGs (one per doc_id + a brightness-shifted twin
        # for every 5th — the planted recolored duplicates, exact
        # feature equality so they score cosine 1.0 in both engines)
        # -> real pixel decode -> integer box features via the
        # image-v1 artifact -> the SAME banded-LSH pair machinery.
        # The crop regime phash misses is pinned by pytest
        # (test_image_embed.py); the gate certifies decode ->
        # features -> banding -> exact verify bit-for-bit.
        from ..multimodal import imgembed as IE

        img_path = _mtime_artifact_path(
            sf, "documents.parquet", "spark_graft_imgenc_"
        )
        IE.image_encoder_build(spark, img_path)
        image_arm = S.embedding_dup_pairs_lsh(
            materialize(
                EM.embed_with_model(
                    IE.synthesize_embed_pngs(
                        _docs(spark, sf).select("doc_id")
                    ),
                    img_path,
                )
            ),
            threshold=HASHED_DUP_THRESHOLD,
            planes_per_band=HASHED_DUP_PLANES,
            max_bucket=S.MAX_VECTOR_BUCKET,
        ).withColumn("method", F.lit("image"))
        return (
            lsh_arm.unionByName(hashed_arm)
            .unionByName(semdedup_arm)
            .unionByName(model_arm)
            .unionByName(wordvec_arm)
            .unionByName(image_arm)
        )

    from ..multimodal.imgembed import image_embed_sql

    e["dedup_embedding_cosine"] = (
        _embedding_dups_both,
        f"""WITH {S.hash_embed_sql(R.SEARCH_TOKEN_PATTERN).strip()},
            {EM.embed_model_sql(R.SEARCH_TOKEN_PATTERN).strip()},
            {EM.wordvec_model_sql(R.SEARCH_TOKEN_PATTERN, pooling="sif").strip()},
            {image_embed_sql().strip()},
            wb AS ({S.banded_buckets_sql("embedding")}),
            hwb AS ({S.banded_buckets_sql("embedding", S.LSH_DUP_BANDS, HASHED_DUP_PLANES, table="he_out")}),
            mwb AS ({S.banded_buckets_sql("embedding", S.LSH_DUP_BANDS, HASHED_DUP_PLANES, table="em_out")}),
            wvb AS ({S.banded_buckets_sql("embedding", S.LSH_DUP_BANDS, HASHED_DUP_PLANES, table="wv_out")}),
            ivb AS ({S.banded_buckets_sql("embedding", S.LSH_DUP_BANDS, HASHED_DUP_PLANES, table="ie_out")}),
            hflood AS (SELECT band, bucket FROM hwb
                       GROUP BY band, bucket
                       HAVING COUNT(*) > {S.MAX_VECTOR_BUCKET}),
            hwb_f AS (SELECT w.* FROM hwb w
                      ANTI JOIN hflood f
                      ON w.band = f.band AND w.bucket = f.bucket),
            mflood AS (SELECT band, bucket FROM mwb
                       GROUP BY band, bucket
                       HAVING COUNT(*) > {S.MAX_VECTOR_BUCKET}),
            mwb_f AS (SELECT w.* FROM mwb w
                      ANTI JOIN mflood f
                      ON w.band = f.band AND w.bucket = f.bucket),
            wvflood AS (SELECT band, bucket FROM wvb
                        GROUP BY band, bucket
                        HAVING COUNT(*) > {S.MAX_VECTOR_BUCKET}),
            wvb_f AS (SELECT w.* FROM wvb w
                      ANTI JOIN wvflood f
                      ON w.band = f.band AND w.bucket = f.bucket),
            ivflood AS (SELECT band, bucket FROM ivb
                        GROUP BY band, bucket
                        HAVING COUNT(*) > {S.MAX_VECTOR_BUCKET}),
            ivb_f AS (SELECT w.* FROM ivb w
                      ANTI JOIN ivflood f
                      ON w.band = f.band AND w.bucket = f.bucket),
            cand AS (
                SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                FROM wb x JOIN wb y ON x.band = y.band AND x.bucket = y.bucket
                                   AND x.vec_id < y.vec_id),
            hcand AS (
                SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                FROM hwb_f x JOIN hwb_f y ON x.band = y.band AND x.bucket = y.bucket
                                         AND x.vec_id < y.vec_id),
            mcand AS (
                SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                FROM mwb_f x JOIN mwb_f y ON x.band = y.band AND x.bucket = y.bucket
                                         AND x.vec_id < y.vec_id),
            wvcand AS (
                SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                FROM wvb_f x JOIN wvb_f y ON x.band = y.band AND x.bucket = y.bucket
                                         AND x.vec_id < y.vec_id),
            ivcand AS (
                SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                FROM ivb_f x JOIN ivb_f y ON x.band = y.band AND x.bucket = y.bucket
                                         AND x.vec_id < y.vec_id)
            SELECT 'lsh' AS method, id_a, id_b, {cos_ab} AS cosine
            FROM cand
            JOIN embeddings a ON a.vec_id = id_a
            JOIN embeddings b ON b.vec_id = id_b
            WHERE {cos_ab} >= CAST({COSINE_DUP_THRESHOLD} AS DOUBLE)
            UNION ALL
            SELECT 'hashed', id_a, id_b, {cos_ab} AS cosine
            FROM hcand
            JOIN he_out a ON a.vec_id = id_a
            JOIN he_out b ON b.vec_id = id_b
            WHERE {cos_ab} >= CAST({HASHED_DUP_THRESHOLD} AS DOUBLE)
            UNION ALL
            SELECT 'model', id_a, id_b, {cos_ab} AS cosine
            FROM mcand
            JOIN em_out a ON a.vec_id = id_a
            JOIN em_out b ON b.vec_id = id_b
            WHERE {cos_ab} >= CAST({HASHED_DUP_THRESHOLD} AS DOUBLE)
            UNION ALL
            SELECT 'wordvec', id_a, id_b, {cos_ab} AS cosine
            FROM wvcand
            JOIN wv_out a ON a.vec_id = id_a
            JOIN wv_out b ON b.vec_id = id_b
            WHERE {cos_ab} >= CAST({HASHED_DUP_THRESHOLD} AS DOUBLE)
            UNION ALL
            SELECT 'image', id_a, id_b, {cos_ab} AS cosine
            FROM ivcand
            JOIN ie_out a ON a.vec_id = id_a
            JOIN ie_out b ON b.vec_id = id_b
            WHERE {cos_ab} >= CAST({HASHED_DUP_THRESHOLD} AS DOUBLE)
            UNION ALL
            SELECT 'semdedup', id_a, id_b, cosine
            FROM ({S.semdedup_pairs_sql()})""",
    )

    # ---- text analysis ---------------------------------------------------
    # token stats + quality scoring + intra-doc repetition + language
    # ID fused into one projection (one registry slot, one driver row,
    # same JVM-built-in column tree), with the repetition ratio, the
    # Gopher columns and langid (the former text_langid entry, which
    # freed a 50-cap slot for dedup_substring_anchors).
    lang_scores_sql = ",\n".join(
        f"len(list_intersect(list_distinct(toks), "
        f"[{', '.join(repr(w) for w in words)}])) AS s_{lang}"
        for lang, words in sorted(T.LANG_STOPWORDS.items())
    )
    langs = sorted(T.LANG_STOPWORDS)
    best_sql = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pred_sql = (
        "CASE "
        + " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs)
        + " ELSE 'und' END"
    )
    stop_list = ", ".join(f"'{w}'" for w in T.EN_STOPWORDS)
    # the gopher_pass flag uses Gopher's PUBLISHED 8-word list,
    # distinct from the langid EN_STOPWORDS backing
    # stopword_ratio above
    gopher_stop_list = ", ".join(f"'{w}'" for w in T.GOPHER_STOPWORDS)
    # TEMPERATURE sampling (p ∝ n^alpha multilingual
    # rule, alpha=0.5): per-lang integer thresholds derived from
    # corpus counts (operators/sampling.temperature_thresholds —
    # alpha=0.5 so the sqrt-based derivation is bit-identical in the
    # SQL twin, which recomputes it from its own counts) plus the
    # row-local keep decision, both hash-gated.
    def _text_stats_query(spark: SparkSession, sf: str) -> DataFrame:
        from ..operators.sampling import temperature_thresholds

        docs = _docs(spark, sf)
        # The three eager
        # prerequisites — the per-lang count collect (temperature
        # thresholds), the shared word-token materialize, and the
        # char-trigram materialize (langid NB features) — are
        # independent; a small thread pool overlaps their jobs
        # instead of serializing them on the driver.  Same rows.
        from ..checkpoint import build_concurrently
        from ..checkpoint import materialize as _mat

        counts, toked, cgrams = build_concurrently([
            lambda: {
                r[0]: r[1]
                for r in docs.groupBy("lang").count().collect()
            },
            lambda: _mat(
                docs.select(
                    "doc_id", "lang", R.search_tokens("text").alias("__toks")
                )
            ),
            lambda: _mat(
                CLF.char_ngram_tokens_col(docs).select(
                    "doc_id", "lang", "__cg"
                )
            ),
        ])
        thr = temperature_thresholds(counts, alpha=0.5)
        # the body's select renames lang -> actual; build the
        # temperature columns over that alias
        temp_hi = None
        for lang_name, hi in sorted(thr.items()):
            branch = (F.col("actual") == lang_name, F.lit(hi))
            temp_hi = F.when(*branch) if temp_hi is None else temp_hi.when(*branch)
        temp_hi = temp_hi.cast("long")
        # the same bucket weighted_mix_filter probes: md5('tempmix|' ||
        # lang || '|' || key), first 8 hex chars as a 32-bit int
        temp_bucket = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("tempmix|"), F.col("actual"), F.lit("|"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        # CCNet-style unigram LM quality signal — model
        # trained on the corpus itself (operators/lm.py), scores
        # left-joined so zero-token docs keep NULLs; lm_bucket is the
        # CCNet head/middle/tail split — exact NTILE(3) by (xent,
        # doc_id) via the distributed prefix-count rank
        # (operators/rank.py), never a single-task global sort
        from ..operators.classify import nb_classify_docs
        from ..operators.lm import bigram_doc_scores, unigram_doc_scores
        from ..operators.rank import ntile_exact

        # ... and the inter-document duplication share
        # (operators/dedup.dup_shingle_fraction): the one corpus-level
        # signal intra-doc stats can't see (boilerplate headers/
        # footers/templates), left-joined so <n-token docs keep NULL
        from ..operators.dedup import dup_shingle_fraction

        # ONE materialized tokenize (`toked`, built above)
        # feeds the three token-keyed operators (unigram, bigram, NB) —
        # each used to re-run the regex tokenize 2x (model + scoring
        # passes), ~6 corpus tokenizations per query.  The materialized
        # stream is (doc_id, lang, tokens) — the LM family's own input
        # bound; the body/dup-shingle columns keep their independent
        # text-derived expressions.
        scores = ntile_exact(
            unigram_doc_scores(
                toked, tokens_col="__toks", model_cache_key=sf
            ), 3,
            ["lm_xent", "doc_id"], out_col="lm_bucket",
        )
        # SOFT quality sampling (the DCLM-style alternative
        # to a hard threshold — keep probability proportional to the
        # quality score): deterministic md5 bucket vs floor(score *
        # 2^32), entirely row-local.  floor of a product of identical
        # doubles is bit-equal across engines, so the boolean hashes.
        soft_bucket = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("softkeep|"), F.col("doc_id").cast("string")
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        return (
            _text_stats_body(docs)
            .select(
                "*", temp_hi.alias("temp_hi"),
                (temp_bucket < temp_hi).alias("temp_keep"),
                (
                    soft_bucket
                    < F.floor(F.col("quality_score") * F.lit(4294967296.0))
                    .cast("long")
                ).alias("soft_quality_keep"),
            )
            .join(scores, "doc_id", "left")
            # bigram arm — count key
            # (prev, term), validating lm.py's claim that the unigram
            # shape generalizes to higher-order models unchanged
            .join(
                bigram_doc_scores(
                    toked, tokens_col="__toks", model_cache_key=sf
                ),
                "doc_id", "left",
            )
            # classifier-filter tier (operators/classify.py)
            # — multinomial NB self-trained with lang supervision, the
            # distributed core of fasttext-style quality/domain
            # filtering; pred + score hash-gated
            .join(
                # model_cache_key: self-train is deterministic, so
                # the trained tables amortize across the entry's
                # re-plans (the session-cached-index precedent)
                nb_classify_docs(
                    toked, tokens_col="__toks", model_cache_key=sf
                ),
                "doc_id", "left",
            )
            # REAL langid — the same NB
            # stack over lowercase char TRIGRAMS (Cavnar-Trenkle
            # features), lang-supervised; pred_lang_nb lands beside
            # the stopword heuristic's pred_lang so the gate carries
            # both the crude and the trained language ID
            .join(
                nb_classify_docs(
                    cgrams,
                    tokens_col="__cg",
                    out_prefix="cnb",
                    # char-TRIGRAM vocab is alphabet^3-bounded by
                    # construction -> broadcast is legitimate here
                    # (word-token NB above stays unhinted)
                    broadcast_model=True,
                    model_cache_key=sf,
                ).select(
                    "doc_id", F.col("cnb_pred").alias("pred_lang_nb")
                ),
                "doc_id", "left",
            )
            .join(dup_shingle_fraction(docs), "doc_id", "left")
        )

    def _text_stats_body(docs: DataFrame) -> DataFrame:
        return (
            docs
            .withColumn("punct_ratio", T.punct_ratio("text"))
            .withColumn("stopword_ratio", T.stopword_ratio("text"))
            .select(
            "doc_id",
            T.token_count("text").cast("long").alias("token_count"),
            T.bpe_ish_count("text").cast("long").alias("bpe_ish_count"),
            F.length("text").cast("long").alias("char_count"),
            "punct_ratio",
            "stopword_ratio",
            (
                F.lit(0.5) * F.col("stopword_ratio")
                + F.lit(0.3) * (F.lit(1.0) - F.col("punct_ratio"))
                + F.lit(0.2)
                * F.least(
                    F.lit(1.0),
                    T.token_count("text").cast("double") / F.lit(100.0),
                )
            ).alias("quality_score"),
            T.repetition_ratio("text", 3).alias("repetition_ratio"),
            # Gopher document-quality rules (Rae et al. 2021 §A1.1):
            # two signal columns + the composite published-thresholds
            # filter flag
            T.mean_word_len("text").alias("mean_word_len"),
            T.alpha_word_frac("text").alias("alpha_word_frac"),
            T.gopher_quality_pass("text").alias("gopher_pass"),
            F.col("lang").alias("actual"),
            T.langid("text").alias("pred_lang"),
            )
        )

    e["text_stats"] = (
        _text_stats_query,
        rf"""WITH base AS (
                SELECT doc_id, lang,
                       len(string_split_regex(trim(lower(text)), '\s+')) AS token_count,
                       len(regexp_extract_all(text, '{BPE_SQL}')) AS bpe_ish_count,
                       length(text) AS char_count,
                       CASE WHEN length(text) > 0
                            THEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                                 / CAST(length(text) AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END AS punct_ratio,
                       CASE WHEN len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) > 0
                            THEN CAST(len(list_intersect(
                                     list_distinct(string_split_regex(trim(lower(text)), '\s+')),
                                     [{stop_list}])) AS DOUBLE)
                                 / CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END AS stopword_ratio,
                       CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS ntok,
                       string_split_regex(trim(lower(text)), '\s+') AS toks
                FROM documents),
            enriched AS (
                SELECT *,
                       CASE WHEN len(toks) > 0
                            THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                                 / CAST(len(toks) AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END AS mean_word_len,
                       CASE WHEN len(toks) > 0
                            THEN CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
                                 / CAST(len(toks) AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END AS alpha_word_frac,
                       len(list_intersect(list_distinct(toks), [{gopher_stop_list}])) AS stop_hits,
                       {lang_scores_sql}
                FROM base),
            scored AS (SELECT *, {best_sql} AS best FROM enriched),
            -- temperature sampling: thresholds recomputed
            -- from SQL-side counts; alpha=0.5 makes the derivation
            -- (exact-rounded division -> correctly-rounded sqrt ->
            -- exact *2^32 -> floor) bit-identical to the Python side
            tcounts AS (SELECT lang AS tlang, COUNT(*) AS n
                        FROM documents GROUP BY lang),
            tmn AS (SELECT MIN(n) AS nmin FROM tcounts),
            tthr AS (SELECT tlang,
                            CAST(floor(sqrt(CAST(nmin AS DOUBLE)
                                            / CAST(n AS DOUBLE))
                                       * 4294967296) AS BIGINT) AS hi
                     FROM tcounts, tmn),"""
        + LM.unigram_sql(R.SEARCH_TOKEN_PATTERN).strip()
        + ","
        + LM.bigram_sql(R.SEARCH_TOKEN_PATTERN).strip()
        + ","
        + CLF.nb_sql(R.SEARCH_TOKEN_PATTERN).strip()
        + ","
        + CLF.nb_sql(pfx="cnb", token_expr=CLF.char_ngram_sql()).strip()
        + r""",
            dsf_ex AS (
                SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
                           THEN list_transform(range(1, len(toks) - 1),
                                               i -> array_to_string(toks[i:i+2], ' '))
                           ELSE []::VARCHAR[] END)) AS s
                FROM (SELECT doc_id,
                             string_split_regex(trim(lower(text)), '\s+') AS toks
                      FROM documents) t),
            dsf_freq AS (SELECT s, COUNT(*) >= 2 AS dup
                         FROM dsf_ex GROUP BY s),
            dsf AS (SELECT e.doc_id,
                           CAST(SUM(CASE WHEN f.dup THEN 1 ELSE 0 END) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE) AS dup_shingle_frac
                    FROM dsf_ex e JOIN dsf_freq f ON f.s = e.s
                    GROUP BY e.doc_id)"""
        + rf"""
            SELECT scored.doc_id AS doc_id, token_count, bpe_ish_count, char_count,
                   punct_ratio, stopword_ratio,
                   CAST(0.5 AS DOUBLE) * stopword_ratio
                 + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - punct_ratio)
                 + CAST(0.2 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), ntok / CAST(100.0 AS DOUBLE))
                   AS quality_score,
                   CASE WHEN greatest(len(toks) - 2, 0) > 0
                        THEN CAST(1.0 AS DOUBLE)
                             - CAST(len(list_distinct(list_transform(
                                   range(1, greatest(len(toks) - 2, 0) + 1),
                                   i -> array_to_string(toks[i:i+2], ' ')))) AS DOUBLE)
                               / CAST(greatest(len(toks) - 2, 0) AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END AS repetition_ratio,
                   mean_word_len, alpha_word_frac,
                   (token_count BETWEEN {T.GOPHER_MIN_WORDS} AND {T.GOPHER_MAX_WORDS}
                    AND mean_word_len BETWEEN CAST({T.GOPHER_MIN_MEAN_WORD_LEN} AS DOUBLE)
                                          AND CAST({T.GOPHER_MAX_MEAN_WORD_LEN} AS DOUBLE)
                    AND alpha_word_frac >= CAST({T.GOPHER_MIN_ALPHA_WORD_FRAC} AS DOUBLE)
                    AND stop_hits >= {T.GOPHER_MIN_STOPWORD_HITS}) AS gopher_pass,
                   lang AS actual,
                   CASE WHEN best > 0 THEN {pred_sql} ELSE 'und' END AS pred_lang,
                   hi AS temp_hi,
                   CAST(concat('0x', substr(md5('tempmix|' || lang || '|'
                        || CAST(scored.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) < hi
                     AS temp_keep,
                   CAST(concat('0x', substr(md5('softkeep|'
                        || CAST(scored.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                     < CAST(floor((CAST(0.5 AS DOUBLE) * stopword_ratio
                         + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - punct_ratio)
                         + CAST(0.2 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
                                                       ntok / CAST(100.0 AS DOUBLE)))
                         * 4294967296.0) AS BIGINT)
                     AS soft_quality_keep,
                   lm_b.lm_logprob AS lm_logprob,
                   lm_b.lm_xent AS lm_xent,
                   lm_b.lm_bucket AS lm_bucket,
                   lm2_doc.lm2_logprob AS lm2_logprob,
                   lm2_doc.lm2_xent AS lm2_xent,
                   nb_doc.nb_pred AS nb_pred,
                   nb_doc.nb_logp AS nb_logp,
                   cnb_doc.cnb_pred AS pred_lang_nb,
                   dsf.dup_shingle_frac AS dup_shingle_frac
            FROM scored JOIN tthr ON tlang = lang
            LEFT JOIN (SELECT *, CAST(NTILE(3) OVER (ORDER BY lm_xent NULLS FIRST,
                                                              doc_id)
                                      AS BIGINT) AS lm_bucket
                       FROM lm_doc) lm_b
                 ON lm_b.doc_id = scored.doc_id
            LEFT JOIN lm2_doc ON lm2_doc.doc_id = scored.doc_id
            LEFT JOIN nb_doc ON nb_doc.doc_id = scored.doc_id
            LEFT JOIN cnb_doc ON cnb_doc.doc_id = scored.doc_id
            LEFT JOIN dsf ON dsf.doc_id = scored.doc_id""",
    )

    # ---- exact-substring near-dup (Lee et al. 2021 style) ---------------
    # content-defined anchor sampling over char 32-grams; windowless
    # anchor flood cap; pairs share >= one sampled verbatim run and
    # carry the matched span per side: first-
    # occurrence offsets, span = [min off, max off + gram - 1].
    # The REMOVE action as a second method-tagged arm:
    # the id_b side of every pair (keep-first policy) has its matched
    # spans merged into disjoint islands and EXCISED (D.cut_spans —
    # Lee et al. delete the duplicated spans, not the documents); the
    # 'cut' rows carry island count, chars removed, and md5 of the
    # residual text so the hash gate pins the exact cut result.
    def _substring_with_cut(spark: SparkSession, sf: str) -> DataFrame:
        from ..checkpoint import materialize

        docs = _docs(spark, sf)
        # one materialization feeds both arms (pair set is flood-cap
        # bounded — tiny at any scale)
        pairs = materialize(D.substring_dup_pairs(docs))
        cut = D.cut_spans(
            docs,
            pairs.select(
                F.col("id_b").alias("doc_id"),
                F.col("b_span_start").alias("span_start"),
                F.col("b_span_end").alias("span_end"),
            ),
        )
        nb = F.lit(None).cast("long")
        pair_arm = pairs.select(
            F.lit("pair").alias("method"),
            "id_a", "id_b", "n_shared",
            "a_span_start", "a_span_end", "b_span_start", "b_span_end",
            nb.alias("n_islands"), nb.alias("chars_removed"),
            F.lit(None).cast("string").alias("cut_hash"),
        )
        cut_arm = cut.select(
            F.lit("cut").alias("method"),
            F.col("doc_id").alias("id_a"),
            nb.alias("id_b"), nb.alias("n_shared"),
            nb.alias("a_span_start"), nb.alias("a_span_end"),
            nb.alias("b_span_start"), nb.alias("b_span_end"),
            "n_islands", "chars_removed",
            F.md5("text_cut").alias("cut_hash"),
        )
        # LINE-level boilerplate removal arm (operators/
        # dedup.remove_duplicate_lines — the CCNet/RefinedWeb step
        # span dedup can't cover).  The flat synthetic texts carry no
        # newlines, so the arm synthesizes multi-line docs from corpus
        # columns (the pii_redaction no-fixture trick): a global
        # copyright line on even ids, a per-source social banner, the
        # doc text, and a unique footer — the banners must go, the
        # unique lines must stay.  Columns map: n_islands = removed
        # line count (removed units, like the span arm), n_shared =
        # total line count.
        ml = docs.select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.when(
                    F.col("doc_id") % 2 == 0,
                    F.lit("copyright example corporation all rights reserved"),
                ),
                F.concat(
                    F.lit("follow "), F.col("source"),
                    F.lit(" on social media for updates"),
                ),
                F.col("text"),
                F.concat(
                    F.lit("doc "), F.col("doc_id").cast("string"),
                    F.lit(" unique footer line"),
                ),
            ).alias("text"),
        )
        line_arm = D.remove_duplicate_lines(ml).select(
            F.lit("line_cut").alias("method"),
            F.col("doc_id").alias("id_a"),
            nb.alias("id_b"),
            F.col("n_lines").alias("n_shared"),
            nb.alias("a_span_start"), nb.alias("a_span_end"),
            nb.alias("b_span_start"), nb.alias("b_span_end"),
            F.col("n_lines_removed").alias("n_islands"),
            "chars_removed",
            F.md5("text_cut").alias("cut_hash"),
        )
        return pair_arm.unionByName(cut_arm).unionByName(line_arm)

    e["dedup_substring_anchors"] = (
        _substring_with_cut,
        f"""WITH occ AS (
                SELECT doc_id, substr(text, i, {D.SUBSTRING_GRAM}) AS s,
                       CAST(i AS BIGINT) AS off
                FROM (SELECT doc_id, text,
                             unnest(range(1, greatest(length(text) - {D.SUBSTRING_GRAM - 1}, 0) + 1)) AS i
                      FROM documents) t
                WHERE substr(md5(substr(text, i, {D.SUBSTRING_GRAM})), 1,
                             {len(D.ANCHOR_PREFIX)}) = '{D.ANCHOR_PREFIX}'),
            anch AS (SELECT doc_id, s, MIN(off) AS off FROM occ
                     GROUP BY doc_id, s),
            flooded AS (SELECT s FROM anch GROUP BY s
                        HAVING COUNT(*) > {D.MAX_ANCHOR_DOCS}),
            kept AS (SELECT doc_id, s, off FROM anch
                     WHERE s NOT IN (SELECT s FROM flooded)),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared,
                     MIN(a.off) AS a_span_start,
                     MAX(a.off) + {D.SUBSTRING_GRAM - 1} AS a_span_end,
                     MIN(b.off) AS b_span_start,
                     MAX(b.off) + {D.SUBSTRING_GRAM - 1} AS b_span_end
              FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            -- cut arm: merge the id_b spans into disjoint islands
            -- (interval-island windows, mirror of D.merge_spans), then
            -- rebuild the residual text from the kept gaps.  DISTINCT
            -- mirrors merge_spans' dedup: identical ranges are one
            -- cut, and it makes (s0, e0) a total order per doc so the
            -- two window passes cannot disagree on tie placement.
            spans AS (SELECT DISTINCT id_b AS doc_id, b_span_start AS s0,
                             b_span_end AS e0 FROM pairs),
            marked AS (
              SELECT doc_id, s0, e0,
                     MAX(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prev_max
              FROM spans),
            isl AS (
              SELECT doc_id, s0, e0,
                     SUM(CASE WHEN prev_max IS NULL OR s0 > prev_max
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY s0, e0
                             ROWS UNBOUNDED PRECEDING) AS island
              FROM marked),
            merged AS (SELECT doc_id, island, MIN(s0) AS s, MAX(e0) AS e
                       FROM isl GROUP BY 1, 2),
            clamped AS (
              SELECT m.doc_id, GREATEST(s, 1) AS s,
                     LEAST(e, length(d.text)) AS e, length(d.text) AS len
              FROM merged m JOIN documents d ON d.doc_id = m.doc_id
              WHERE GREATEST(s, 1) <= LEAST(e, length(d.text))),
            segs AS (
              SELECT doc_id,
                     COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0)
                       + 1 AS g0,
                     s - 1 AS g1
              FROM clamped
              UNION ALL
              SELECT doc_id, MAX(e) + 1 AS g0, MAX(len) AS g1
              FROM clamped GROUP BY doc_id),
            resid AS (
              SELECT s.doc_id,
                     string_agg(substr(d.text, g0, g1 - g0 + 1), '' ORDER BY g0)
                       AS text_cut
              FROM segs s JOIN documents d ON d.doc_id = s.doc_id
              WHERE g1 >= g0
              GROUP BY s.doc_id),
            cut AS (
              SELECT c.doc_id,
                     COUNT(*) AS n_islands,
                     MAX(c.len) - length(COALESCE(MAX(r.text_cut), ''))
                       AS chars_removed,
                     md5(COALESCE(MAX(r.text_cut), '')) AS cut_hash
              FROM clamped c LEFT JOIN resid r ON r.doc_id = c.doc_id
              GROUP BY c.doc_id),
            -- line_cut arm: synthesized multi-line docs (mirror of the
            -- Spark arm's concat_ws; concat_ws skips NULLs in both
            -- engines), md5-keyed distinct-doc line counts, removal of
            -- lines with df >= {D.LINE_MIN_DF} and length >=
            -- {D.LINE_MIN_CHARS}, positional reassembly
            lsyn AS (
              SELECT doc_id,
                     concat_ws(chr(10),
                       CASE WHEN doc_id % 2 = 0
                            THEN 'copyright example corporation all rights reserved' END,
                       'follow ' || source || ' on social media for updates',
                       text,
                       'doc ' || CAST(doc_id AS VARCHAR) || ' unique footer line'
                     ) AS ltext
              FROM documents),
            lln AS (
              SELECT doc_id, length(ltext) AS olen,
                     CAST(i - 1 AS BIGINT) AS pos, lns[i] AS ln
              FROM (SELECT doc_id, ltext,
                           string_split(ltext, chr(10)) AS lns,
                           unnest(range(1, len(string_split(ltext, chr(10))) + 1)) AS i
                    FROM lsyn)),
            ldup AS (
              SELECT k FROM (SELECT DISTINCT md5(ln) AS k, doc_id
                             FROM lln WHERE length(ln) >= {D.LINE_MIN_CHARS})
              GROUP BY k HAVING COUNT(*) >= {D.LINE_MIN_DF}),
            lmk AS (
              SELECT doc_id, olen, pos, ln,
                     (length(ln) >= {D.LINE_MIN_CHARS}
                      AND md5(ln) IN (SELECT k FROM ldup)) AS rm
              FROM lln),
            lcut AS (
              SELECT doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_lines,
                     CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_lines_removed,
                     MAX(olen)
                       - length(COALESCE(string_agg(ln, chr(10) ORDER BY pos)
                                           FILTER (WHERE NOT rm), ''))
                       AS chars_removed,
                     md5(COALESCE(string_agg(ln, chr(10) ORDER BY pos)
                                    FILTER (WHERE NOT rm), '')) AS cut_hash
              FROM lmk GROUP BY doc_id
              HAVING SUM(CASE WHEN rm THEN 1 ELSE 0 END) > 0)
            SELECT 'pair' AS method, id_a, id_b, n_shared,
                   a_span_start, a_span_end, b_span_start, b_span_end,
                   CAST(NULL AS BIGINT) AS n_islands,
                   CAST(NULL AS BIGINT) AS chars_removed,
                   CAST(NULL AS VARCHAR) AS cut_hash
            FROM pairs
            UNION ALL
            SELECT 'cut', doc_id, NULL, NULL, NULL, NULL, NULL, NULL,
                   n_islands, chars_removed, cut_hash
            FROM cut
            UNION ALL
            SELECT 'line_cut', doc_id, NULL, n_lines,
                   NULL, NULL, NULL, NULL,
                   n_lines_removed, chars_removed, cut_hash
            FROM lcut""",
    )

    # TRAINING-SEQUENCE chunking (operators/pack.
    # chunk_sequences): each doc's BPE-ish token stream sliced into
    # seq_len=64-token windows with 8 tokens of overlap — the corpus ->
    # trainer hand-off; rows are (chunk_idx, n_tokens, md5(chunk_text))
    # per chunk, method-tagged alongside the fingerprint rows.
    # The tokenizer-training statistics
    # (operators/vocab.py): 'vocab' = top-50 BPE-ish terms by corpus
    # occurrence count, 'pair' = top-50 adjacent token pairs (the BPE
    # first-merge candidates).  Corpus-level rows reuse the shared
    # columns: fingerprint carries the term, chunk_idx the rank,
    # n_tokens the occurrence count, doc_id NULL.
    VOCAB_TOP_N = 50
    SHUFFLE_SHARDS = 16

    # ... and the 'bpe' arm: REAL BPE segmentation (operators/bpe.py)
    # under a fixed pretrained merge list — the production shape
    # (tokenizer shipped as data; training itself is the iterative
    # driver loop, pytest-verified vs a python reference because a
    # sequential merge loop has no honest SQL twin).  This list is
    # what bpe_train(docs, 10) learns on the sf0.01 corpus, frozen so
    # the oracle (bracket-replace emulation, bit-exact greedy-left
    # semantics) is a static query.
    PRETRAINED_MERGES = [
        ("e", "r</w>"), ("o", "w</w>"), ("t", "o"), ("a", "t"),
        ("l", "u"), ("a", "s"), ("i", "n"), ("e", "r"),
        ("o", "r"), ("a", "r"),
    ]

    # The BYTE-LEVEL dialect (GPT-2 regex
    # pre-tokenization, 256-byte alphabet, no </w>/OOV — operators/
    # bpe_bytes.py) rides the same key as the 'bpe_bytes' arm.  This
    # list is bpe_train_bytes_local(docs, 16) on the sf0.01 corpus,
    # frozen so the oracle (hex-space bracket-replace chain over the
    # RE2 pre-tokenizer twin) is a static query; tokens hash in hex
    # space so the twin needs no byte->unicode table.  ('Ġ' is the
    # byte-unicode rendering of the space byte.)
    PRETRAINED_BYTE_MERGES = [
        ("Ġ", "s"), ("e", "r"), ("i", "n"), ("o", "w"),
        ("o", "r"), ("m", "er"), ("a", "t"), ("l", "u"),
        ("Ġ", "c"), ("a", "s"), ("Ġ", "b"), ("Ġ", "v"),
        ("a", "r"), ("p", "ar"), ("Ġ", "f"), ("Ġ", "a"),
    ]

    # CROSS-DOCUMENT sequence packing (operators/pack.
    # pack_sequences — the trainer hand-off step): every
    # doc's tokens + one separator concatenated in doc_id order and
    # sliced into seq_len=64 sequences.  Corpus-level rows (doc_id
    # NULL, the vocab-arm convention): fingerprint = md5(seq_text),
    # chunk_idx = seq_id, n_tokens = the sequence's token count; the
    # n_docs column and full reconstruction are pytest-pinned
    # (tests/test_pack_sequences.py).
    def _fingerprint_with_chunks(spark: SparkSession, sf: str) -> DataFrame:
        from ..checkpoint import build_concurrently, materialize
        from ..operators.bpe import bpe_segment
        from ..operators.bpe_bytes import fused_bpe_arms
        from ..operators.pack import chunk_sequences, pack_sequences
        from ..operators.vocab import term_pair_counts, topn_of_kind

        docs = _docs(spark, sf)
        fp = docs.filter(F.length("text") >= 8).select(
            "doc_id",
            F.substring(
                F.array_min(F.transform(T.char_shingles("text", 8), F.md5)), 1, 16
            ).alias("fingerprint"),
        )
        ch = chunk_sequences(docs, seq_len=64, overlap=8)
        nb = F.lit(None).cast("long")

        # The three arm builders
        # that run EAGER work at construction time (the vocab/pair
        # count materialize, pack's prefix-sum materialize, the
        # shuffle arm's rank materialize) are independent — build them
        # from a small thread pool so their AQE stage jobs overlap
        # instead of serializing on the driver.  Same DataFrames, same
        # rows; only the build-time job schedule changes.
        counted, packed, shuffled = build_concurrently([
            lambda: materialize(term_pair_counts(docs)),
            lambda: pack_sequences(docs, seq_len=64),
            lambda: SMP.global_shuffle(
                docs.select("doc_id"), n_shards=SHUFFLE_SHARDS, seed="r9"
            ),
        ])

        def _vocab_arm(df: DataFrame, tag: str) -> DataFrame:
            return df.select(
                F.lit(tag).alias("method"), nb.alias("doc_id"),
                F.col("term").alias("fingerprint"),
                F.col("rank").alias("chunk_idx"),
                F.col("n_occurrences").alias("n_tokens"),
            )

        return fp.select(
            F.lit("fp").alias("method"), "doc_id", "fingerprint",
            nb.alias("chunk_idx"), nb.alias("n_tokens"),
        ).unionByName(
            ch.select(
                F.lit("chunk").alias("method"), "doc_id",
                F.md5("chunk_text").alias("fingerprint"), "chunk_idx", "n_tokens",
            )
        ).unionByName(
            # one tokenize/explode/shuffle for BOTH statistics,
            # materialized once so the two top-N jobs don't re-scan
            _vocab_arm(topn_of_kind(counted, "term", VOCAB_TOP_N), "vocab")
        ).unionByName(
            _vocab_arm(topn_of_kind(counted, "pair", VOCAB_TOP_N), "pair")
        ).unionByName(
            bpe_segment(docs, PRETRAINED_MERGES).select(
                F.lit("bpe").alias("method"), "doc_id",
                F.md5(F.concat_ws(" ", "bpe_tokens")).alias("fingerprint"),
                nb.alias("chunk_idx"),
                F.size("bpe_tokens").cast("long").alias("n_tokens"),
            )
        ).unionByName(
            # the ARROW segmentation path under the same merges (its
            # oracle rows are the same segmentation, so the hash gate
            # proves Arrow == expression == oracle every round) PLUS
            # the byte-level (GPT-2 dialect) arm — hex-space
            # fingerprints so the oracle stays pure ASCII — riding ONE
            # fused Arrow stage (the chain-fusion discipline;
            # pytest pins fused == separate row-for-row, so the
            # oracle twins are untouched)
            fused_bpe_arms(
                docs, PRETRAINED_MERGES, PRETRAINED_BYTE_MERGES
            ).select(
                "method", "doc_id", "fingerprint",
                nb.alias("chunk_idx"), "n_tokens",
            )
        ).unionByName(
            packed.select(
                F.lit("pack").alias("method"), nb.alias("doc_id"),
                F.md5("seq_text").alias("fingerprint"),
                F.col("seq_id").alias("chunk_idx"),
                "n_tokens",
            )
        ).unionByName(
            # deterministic global training-order shuffle —
            # the hash gate pins the ENTIRE seeded permutation
            # (doc -> shard, position-within-shard)
            shuffled.select(
                F.lit("shuffle").alias("method"), "doc_id",
                F.lit(None).cast("string").alias("fingerprint"),
                F.col("shard").alias("chunk_idx"),
                F.col("pos").alias("n_tokens"),
            )
        )

    e["doc_fingerprint"] = (
        _fingerprint_with_chunks,
        rf"""WITH fp AS (
                SELECT doc_id,
                       substr(list_min(list_transform(
                           list_distinct(list_transform(range(1, length(text) - 6),
                                                        i -> substr(text, i, 8))),
                           s -> md5(s))), 1, 16) AS fingerprint
                FROM documents
                WHERE length(text) >= 8),
            tok AS (SELECT doc_id, regexp_extract_all(text, '{BPE_SQL}') AS toks
                    FROM documents),
            st AS (SELECT doc_id, toks,
                          unnest(range(1, greatest(len(toks) - 8, 1) + 1, 56)) AS s
                   FROM tok WHERE len(toks) > 0),
            ch AS (SELECT doc_id,
                          CAST((s - 1) // 56 AS BIGINT) AS chunk_idx,
                          CAST(len(toks[s : s + 63]) AS BIGINT) AS n_tokens,
                          array_to_string(toks[s : s + 63], ' ') AS chunk_text
                   FROM st),"""
        + V.vocab_sql(BPE_SQL, n=VOCAB_TOP_N).strip()
        + ","
        + B.segment_sql(PRETRAINED_MERGES, R.SEARCH_TOKEN_PATTERN).strip()
        + ","
        + BB.segment_bytes_sql(PRETRAINED_BYTE_MERGES).strip()
        + ","
        + PK.pack_sequences_sql(BPE_SQL, seq_len=64).strip()
        + """
            SELECT 'fp' AS method, doc_id, fingerprint,
                   CAST(NULL AS BIGINT) AS chunk_idx,
                   CAST(NULL AS BIGINT) AS n_tokens
            FROM fp
            UNION ALL
            SELECT 'chunk', doc_id, md5(chunk_text), chunk_idx, n_tokens
            FROM ch
            UNION ALL
            SELECT 'vocab', CAST(NULL AS BIGINT), term, rank, n_occurrences
            FROM vt_terms
            UNION ALL
            SELECT 'pair', CAST(NULL AS BIGINT), term, rank, n_occurrences
            FROM vt_pairs
            UNION ALL
            SELECT 'bpe', doc_id, md5(array_to_string(bpe_tokens, ' ')),
                   CAST(NULL AS BIGINT), CAST(len(bpe_tokens) AS BIGINT)
            FROM bp_seg
            UNION ALL
            SELECT 'bpe_arrow', doc_id, md5(array_to_string(bpe_tokens, ' ')),
                   CAST(NULL AS BIGINT), CAST(len(bpe_tokens) AS BIGINT)
            FROM bp_seg
            UNION ALL
            SELECT 'bpe_bytes', doc_id,
                   md5(array_to_string(bpe_tokens_hex, ' ')),
                   CAST(NULL AS BIGINT), CAST(len(bpe_tokens_hex) AS BIGINT)
            FROM bb_seg
            UNION ALL
            SELECT 'pack', CAST(NULL AS BIGINT), md5(seq_text),
                   seq_id, n_tokens
            FROM pk_out
            UNION ALL
            SELECT 'shuffle', doc_id, CAST(NULL AS VARCHAR), shard, pos
            FROM ("""
        + SMP.global_shuffle_sql("documents", SHUFFLE_SHARDS, seed="r9")
        + ")",
    )

    # ---- multimodal (binary-column plumbing) ----------------------------
    # the former multimodal_binary_metadata entry (n_bytes +
    # content_hash) is tagged INTO the decode stub — content_hash is a
    # column of decode_image_meta — freeing a 50-cap slot.
    # The entry covers the FULL pipeline, not decode only
    # (decode ⋈ resize ⋈ frame-sample ⋈ feature-extract), promoting
    # the three formerly pytest-only Arrow contracts into the
    # hash-checked gate.
    # The entry has the real header-decode arm (synthesized
    # valid PNG/JPEG/GIF payloads through the same decode operator,
    # decoder='header') next to the stub-pipeline arm — "decode" in
    # the gate now certifies actual image-byte parsing.
    from ..multimodal.binary import (
        MULTIMODAL_BOTH_SQL,
        multimodal_both_query,
    )

    e["multimodal_decode_stub"] = (
        multimodal_both_query,
        MULTIMODAL_BOTH_SQL,
    )

    # ---- chunk packing (P2) ---------------------------------------------
    # both packing forms (closed-form cumsum + exact greedy)
    # union into one method-tagged entry, freeing a 50-cap slot; each
    # arm still hash-checks against its own oracle branch.
    from ..operators.pack import PACK_BOTH_SQL, pack_groups_both

    e["pack_groups"] = (pack_groups_both, PACK_BOTH_SQL)

    # ---- PII redaction -----------------------------
    # The synthetic corpus carries no PII, so the entry derives
    # deterministic PII-bearing text from corpus columns (doc_id-seeded
    # email/phone/IP prepended to `text`), redacts it, and returns the
    # redacted text plus per-type counts — genuine nonzero matches,
    # bit-exact DuckDB twin, no fixture. Counts are SEQUENTIAL (each
    # pattern counted on the preceding patterns' output), exactly what
    # redact_pii replaces.
    def _pii_synth() -> "F.Column":
        # built lazily: Column construction needs an active SparkContext,
        # and registry() must stay importable/callable without one
        return F.concat(
            F.lit("contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 "),
            F.col("text"),
        )

    # the entry is the content-policy surface — alongside PII
    # redaction it carries the domain-blocklist flag (operators/
    # blocklist.py, UT1-style label-boundary suffix matching).  Hosts
    # are synthesized deterministically from corpus columns (the same
    # no-fixture trick as the PII text): ads./plain/deep.sub. variants
    # of `source`.example, against a literal 3-entry list covering
    # exact-hit, whole-domain-with-subdomains, and never-matching.
    _BLOCKLIST = ["ads.src3.example", "src7.example", "absent.example"]

    def _host_synth() -> "F.Column":
        return F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("ads."))
            .when(F.col("doc_id") % 3 == 1, F.lit(""))
            .otherwise(F.lit("deep.sub.")),
            F.col("source"),
            F.lit(".example"),
        )

    def _pii_redaction(spark: SparkSession, sf: str) -> DataFrame:
        from ..operators.blocklist import blocklist_flag
        from ..session import local_frame

        docs = _docs(spark, sf).select(
            "doc_id",
            _pii_synth().alias("pii_text"),
            _host_synth().alias("host"),
        )
        counts = T.pii_counts("pii_text")
        bl = local_frame(
            spark, [(h,) for h in _BLOCKLIST], "blocked_host string"
        )
        return blocklist_flag(docs, bl, host_col="host").select(
            "doc_id",
            T.redact_pii("pii_text").alias("redacted"),
            *[c.cast("long").alias(f"n_{n}") for n, c in counts.items()],
            "host",
            "blocked",
        )

    def _pii_redaction_sql() -> str:
        from ..operators.blocklist import blocklist_flag_sql

        synth = (
            "'contact u' || CAST(doc_id AS VARCHAR) || "
            "'@example.com or 555-123-' || "
            "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
            "' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 ' || text"
        )
        host = (
            "CASE WHEN doc_id % 3 = 0 THEN 'ads.' || source || '.example' "
            "WHEN doc_id % 3 = 1 THEN source || '.example' "
            "ELSE 'deep.sub.' || source || '.example' END"
        )
        cur = synth
        count_cols = []
        for name, (pat, repl) in T.PII_PATTERNS.items():
            count_cols.append(f"len(regexp_extract_all({cur}, '{pat}')) AS n_{name}")
            cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
        return (
            f"SELECT doc_id, {cur} AS redacted,\n"
            + ",\n".join(count_cols)
            + f",\n{host} AS host"
            + f",\n{blocklist_flag_sql(_BLOCKLIST, host)} AS blocked"
            + "\nFROM documents"
        )

    e["pii_redaction"] = (_pii_redaction, _pii_redaction_sql())

    # ---- skew-resistant aggregation + join ------------------------------
    # scale.salted_sum was pytest-only; the driver row proves the
    # two-phase salted aggregate equals the plain GROUP BY sum exactly
    # (decimal-routed partials make the regrouping bit-stable).  Round
    # 6 tags in the STATIC skew-join counterpart (scale.salted_join:
    # big side salted on a high-card column, small side replicated
    # n_salts×, join on (key, salt) — the manual form for known-skew
    # joins where the dim is too big to broadcast and AQE's runtime
    # split hasn't shuffled yet): 'join_salted' and 'join_plain' arms
    # aggregate a joined measure (value × c_acctbal — nonzero only if
    # the join matched rows correctly) and must hash-match each other
    # and the single oracle join query.
    def _salted(spark: SparkSession, sf: str) -> DataFrame:
        from ..functions.scalars import dsum
        from ..operators.scale import salted_join, salted_sum
        from ..sources import load_table

        ev = load_table(spark, sf, "events")
        cust = load_table(spark, sf, "customer").select("c_custkey", "c_acctbal")
        agg = salted_sum(ev, "event_type", "value", salt_source="event_id")

        def _join_measure(joined: DataFrame) -> DataFrame:
            return joined.groupBy("event_type").agg(
                dsum(F.col("value") * F.col("c_acctbal"), "sum_value")
            )

        j_salted = _join_measure(
            salted_join(
                ev, cust, on="user_id", salt_source="event_id",
                small_on="c_custkey", n_salts=8,
            )
        )
        j_plain = _join_measure(
            ev.join(cust.withColumnRenamed("c_custkey", "user_id"), "user_id")
        )
        cols = ["method", "event_type", "sum_value"]
        return (
            agg.withColumn("method", F.lit("agg_salted")).select(cols)
            .unionByName(
                j_salted.withColumn("method", F.lit("join_salted")).select(cols)
            )
            .unionByName(
                j_plain.withColumn("method", F.lit("join_plain")).select(cols)
            )
        )

    from ..functions.scalars import dsum_sql

    e["salted_sum_events"] = (
        _salted,
        f"""WITH agg AS (
                SELECT event_type, {dsum_sql('value', 'sum_value')}
                FROM events GROUP BY event_type),
            j AS (
                SELECT event_type,
                       {dsum_sql('value * c_acctbal', 'sum_value')}
                FROM events JOIN customer ON user_id = c_custkey
                GROUP BY event_type)
            SELECT 'agg_salted' AS method, * FROM agg
            UNION ALL SELECT 'join_salted' AS method, * FROM j
            UNION ALL SELECT 'join_plain' AS method, * FROM j""",
    )

    return e
