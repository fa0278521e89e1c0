"""As-of join — the engine's flagship custom operator.

Reference semantics (journey_builder.build_customer_journeys:26-115):
each session is matched to a conversion of the same user whose
timestamp is strictly after the session's, and each session is claimed
by at most one conversion, earliest-conversion-first (conversions
iterated in conv_ts order, sessions accumulated into
``assigned_session_ids``, journey_builder.py:48-52, 92-107).

Closed form: session -> the EARLIEST conversion of that user with
``conv_ts > session_ts``. That makes the sequential greedy loop a
*reverse as-of join*, expressible as a non-equi join plus a pick-first
window — no driver-side loop, fully distributed.

Physical plan at scale: the equi part (``user_id``) runs as a
shuffle/broadcast hash join with the ``<`` theta as a post-filter.
Per-user cardinalities are small (a user has few conversions), so the
join fan-out is bounded; hot users are the skew risk and AQE skew-join
splitting handles them (session.py ENGINE_CONFS). The follow-up
window partitions by the *left key* (session_id — unique, perfectly
spread), so no second skew point exists.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_on: str,
    right_on: str,
    left_key: Sequence[str],
    direction: str = "forward",
    allow_exact: bool = False,
    tie_cols: Sequence[str] = (),
    how: str = "inner",
    strategy: str = "stream",
    hot_threshold: int | None = None,
) -> DataFrame:
    """Generic distributed as-of join.

    For every left row, keep the single right row (sharing the ``by``
    keys) whose ``right_on`` is nearest to ``left_on`` in ``direction``:
    ``forward`` -> earliest right with right_on > left_on (>= when
    ``allow_exact``), ``backward`` -> latest right with right_on <
    left_on. Ties among right rows at the same ``right_on`` resolve to
    the min ``tie_cols`` (forward) / max (backward). ``how='left'``
    keeps unmatched left rows with NULLs.

    strategy:
    - ``"stream"`` (default): union both inputs, one sort per ``by``
      group, carry the nearest right row as a running value — linear,
      single shuffle, no fan-out (module docstring). Right payload
      column names must not collide with left columns.
    - ``"join"``: non-equi join + pick-first window — materializes
      |left x qualifying-right| intermediate rows; kept as the
      independent cross-check and for inputs where a name collision
      makes the union awkward. ``left_key`` must uniquely identify
      left rows (only used here).

    ``hot_threshold`` (round 10, stream strategy only): heavy-hitter
    mitigation for the one skew point the stream form has — its window
    partitions by the ``by`` keys, and AQE's skew-join splitting does
    NOT apply to window exchanges, so one bot user with a 10M-row
    timeline is one straggler task.  Keys whose merged timeline
    exceeds the threshold are CHUNKED by ordinate range and scanned as
    ``ceil(n/threshold)`` parallel window partitions, with a per-chunk
    summary pass stitching the carry across chunks (see
    ``_asof_stream``).  Cold keys run the existing single-window path
    unchanged.  None (default) disables detection entirely (no extra
    aggregation pass).
    """
    if direction not in ("forward", "backward"):
        raise ValueError(f"direction must be forward|backward, got {direction!r}")
    if strategy == "stream":
        return _asof_stream(
            left, right, by, left_on, right_on, direction, allow_exact,
            tie_cols, how, hot_threshold,
        )
    if strategy != "join":
        raise ValueError(f"strategy must be stream|join, got {strategy!r}")
    l, r = left.alias("l"), right.alias("r")
    cond: Column | None = None
    for k in by:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = c if cond is None else (cond & c)
    lo, ro = F.col(f"l.{left_on}"), F.col(f"r.{right_on}")
    if direction == "forward":
        rng = (ro >= lo) if allow_exact else (ro > lo)
        order = [F.col(f"r.{right_on}").asc()] + [F.col(f"r.{c}").asc() for c in tie_cols]
    else:
        rng = (ro <= lo) if allow_exact else (ro < lo)
        order = [F.col(f"r.{right_on}").desc()] + [F.col(f"r.{c}").desc() for c in tie_cols]
    cond = rng if cond is None else (cond & rng)

    joined = l.join(r, on=cond, how="inner")
    w = Window.partitionBy(*[F.col(f"l.{k}") for k in left_key]).orderBy(*order)
    picked = joined.withColumn("__asof_rn", F.row_number().over(w)).filter(
        F.col("__asof_rn") == 1
    ).drop("__asof_rn")
    # de-duplicate the by-columns (keep the left copy)
    out = picked.select(
        *[F.col(f"l.{c}") for c in left.columns],
        *[F.col(f"r.{c}").alias(c) for c in right.columns if c not in by],
    )
    if how == "left":
        matched_keys = out.select(*[F.col(k) for k in left_key])
        missing = left.join(matched_keys, list(left_key), "left_anti")
        for c in right.columns:
            if c not in by:
                missing = missing.withColumn(c, F.lit(None).cast(dict(right.dtypes)[c]))
        out = out.unionByName(missing)
    return out


def _asof_stream(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_on: str,
    right_on: str,
    direction: str,
    allow_exact: bool,
    tie_cols: Sequence[str],
    how: str,
    hot_threshold: int | None = None,
) -> DataFrame:
    """Merged-stream as-of (see asof_join docstring).

    Scan order encodes the semantics: forward scans latest-first so the
    running value is the *earliest later* right row; at equal ordinate
    left rows come first under strict comparison (the co-timed right
    row stays invisible) and right rows first under ``allow_exact``.
    The right payload rides in ONE struct so the carried row is atomic
    (per-column ``last(ignorenulls)`` could mix rows when a payload
    field is legitimately NULL).

    Hot-key hybrid (``hot_threshold``, round 10): a key whose merged
    timeline exceeds the threshold would serialize through one window
    task.  The two-phase remedy exploits the carry's decomposability:

    1. CHUNK the hot key's rows by ordinate range into
       ``ceil(n/threshold)`` buckets — row-local arithmetic off a
       broadcast (key -> count, min, max) stats table, so every row of
       a later chunk has a STRICTLY greater ordinate than every row of
       an earlier one (equal ordinates share a bucket by construction);
       cold keys take bucket 0, making the chunked window IDENTICAL to
       the plain one for them.
    2. run the SAME window partitioned by (keys..., chunk) — parallel
       across chunks; the within-chunk carry is exact for any left row
       whose match lives in its own chunk.
    3. stitch across chunks with a BOUNDED summary: per (key, chunk)
       the best right row as a (ordinate, ties..., payload) struct
       (min for forward / max for backward — the same total order the
       window scan uses), then a running min/max over the ~n/threshold
       summary rows gives each chunk its carry-in from later (forward)
       / earlier (backward) chunks.  Strict cross-chunk ordinate
       inequality makes every carried-in row qualify under both strict
       and ``allow_exact`` semantics, and the within-chunk match — when
       present — is always nearer, so ``coalesce(within, carry_in)``
       is exact (pytest: bit-equality vs the plain stream AND the
       join+window form on a 90%-hot fixture).

    Cost when no key is hot: exactly one extra map-side-combinable
    stats aggregation (+ its bounded isEmpty probe) — detection then
    falls through to the plain single-window plan (review fix: the
    chunk/summary machinery is built only when a hot key exists, and
    the tagged stream is then materialized once for its three
    consumers instead of re-scanning the source per branch).
    """
    right_payload = [c for c in right.columns if c not in by]
    clash = set(right_payload) & set(left.columns)
    if clash:
        raise ValueError(f"right payload columns collide with left: {sorted(clash)}")
    rdt, ldt = dict(right.dtypes), dict(left.dtypes)
    left_payload = [c for c in left.columns if c not in by]

    l2 = left.select(
        *by,
        *left_payload,
        F.col(left_on).alias("__on"),
        F.lit(0).alias("__is_r"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{rdt[c]}" for c in right_payload) + ">"
        ).alias("__rpay"),
        *[F.lit(None).cast(rdt[c]).alias(f"__tie_{c}") for c in tie_cols],
    )
    r2 = right.select(
        *by,
        *[F.lit(None).cast(ldt[c]).alias(c) for c in left_payload],
        F.col(right_on).alias("__on"),
        F.lit(1).alias("__is_r"),
        F.struct(*[F.col(c) for c in right_payload]).alias("__rpay"),
        *[F.col(c).alias(f"__tie_{c}") for c in tie_cols],
    )
    merged = l2.unionByName(r2)

    if direction == "forward":
        on_order = F.col("__on").desc()
        # last-written wins -> ties sorted DESC leave the MIN tie value
        tie_order = [F.col(f"__tie_{c}").desc() for c in tie_cols]
    else:
        on_order = F.col("__on").asc()
        tie_order = [F.col(f"__tie_{c}").asc() for c in tie_cols]
    flag_order = F.col("__is_r").desc() if allow_exact else F.col("__is_r").asc()
    if hot_threshold is None:
        w = (
            Window.partitionBy(*by)
            .orderBy(on_order, flag_order, *tie_order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = merged.withColumn(
            "__match", F.last("__rpay", ignorenulls=True).over(w)
        )
    else:
        carried = _carry_hot_hybrid(
            merged, by, direction, hot_threshold,
            on_order, flag_order, tie_order, tie_cols,
        )
    out = carried.filter(F.col("__is_r") == 0)
    if how == "inner":
        out = out.filter(F.col("__match").isNotNull())
    elif how != "left":
        raise ValueError(f"how must be inner|left, got {how!r}")
    return out.select(
        *by,
        *left_payload,
        *[F.col(f"__match.{c}").alias(c) for c in right_payload],
    )


def _carry_hot_hybrid(
    merged: DataFrame,
    by: Sequence[str],
    direction: str,
    hot_threshold: int,
    on_order,
    flag_order,
    tie_order,
    tie_cols: Sequence[str],
) -> DataFrame:
    """The chunked two-phase carry (see ``_asof_stream`` docstring) —
    returns ``merged`` + ``__match``, semantics identical to the plain
    window."""
    # numeric ordinate for range bucketing — only MONOTONICITY matters,
    # so any order-preserving map per dtype works (timestamps cannot
    # cast straight to double)
    dt = dict(merged.dtypes)["__on"]
    if dt.startswith("timestamp"):
        def _num(c):
            return F.unix_micros(c.cast("timestamp")).cast("double")
    elif dt == "date":
        def _num(c):
            return F.unix_date(c).cast("double")
    else:
        def _num(c):
            return c.cast("double")

    from ..checkpoint import materialize

    # heavy-hitter stats: one map-side-combinable aggregation; the hot
    # set is bounded (each hot key holds > threshold rows, so there are
    # at most |merged|/threshold of them) -> broadcast-class.
    # Materialized: it feeds an isEmpty probe + the broadcast join.
    stats = materialize(
        merged.groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("__kcnt"),
            F.min(_num(F.col("__on"))).alias("__kmin"),
            F.max(_num(F.col("__on"))).alias("__kmax"),
        )
        .filter(F.col("__kcnt") > hot_threshold)
    )
    # no hot keys -> the plain single window IS the plan (review fix:
    # the chunk/summary machinery would otherwise re-scan the merged
    # stream three more times for nothing); detection then costs
    # exactly the one stats aggregation the docstring promises
    if stats.isEmpty():
        w = (
            Window.partitionBy(*by)
            .orderBy(on_order, flag_order, *tie_order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return merged.withColumn(
            "__match", F.last("__rpay", ignorenulls=True).over(w)
        )
    # hot keys exist.  tagged IS a 3-consumer diamond (chunked window +
    # rbest summary + chunk domain) but is deliberately NOT
    # materialized: the summary consumers are COLUMN-PRUNED re-scans
    # (chunks_dom prunes to keys+chunk, rbest to keys+chunk+ordinate+
    # payload, both pre-filtered to hot keys), while checkpointing
    # would write the ENTIRE merged stream — measured at 16M hot rows:
    # materialize(tagged) 12.2 s vs re-scan 7.5 s (+60%), and at corpus
    # scale the checkpoint is a full-data write.  The diamond rule
    # applies to expensive-to-recompute streams, not to pruned scans
    # over already-staged inputs (BASELINE.md hot-threshold sweep).
    tagged = merged.join(F.broadcast(stats), list(by), "left")
    n_chunks = F.ceil(
        F.col("__kcnt") / F.lit(float(hot_threshold))
    ).cast("long")
    # range bucket: monotone in the ordinate, equal ordinates share a
    # bucket (the strict cross-chunk inequality the stitch relies on);
    # bucket(max) <= n_chunks-1 because range/(range+1) < 1
    bucket = F.least(
        n_chunks - F.lit(1),
        F.floor(
            (_num(F.col("__on")) - F.col("__kmin"))
            * n_chunks
            / (F.col("__kmax") - F.col("__kmin") + F.lit(1.0))
        ),
    )
    tagged = tagged.select(
        "*",
        F.col("__kcnt").isNotNull().alias("__hot"),
        F.when(F.col("__kcnt").isNull(), F.lit(0).cast("long"))
        .otherwise(F.coalesce(bucket, F.lit(0)).cast("long"))
        .alias("__chunk"),
    ).drop("__kcnt", "__kmin", "__kmax")
    w1 = (
        Window.partitionBy(*by, "__chunk")
        .orderBy(on_order, flag_order, *tie_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = tagged.withColumn(
        "__match", F.last("__rpay", ignorenulls=True).over(w1)
    )
    # bounded per-(key, chunk) summaries: best right row under the SAME
    # total order the window scan uses, as one atomic struct
    best = F.struct(
        F.col("__on").alias("o"),
        *[F.col(f"__tie_{c}").alias(f"t{i}") for i, c in enumerate(tie_cols)],
        F.col("__rpay").alias("p"),
    )
    agg_best = F.min(best) if direction == "forward" else F.max(best)
    rbest = (
        tagged.filter(F.col("__hot") & (F.col("__is_r") == 1))
        .groupBy(*by, "__chunk")
        .agg(agg_best.alias("__best"))
    )
    # carry domain = every chunk a hot key HAS (a chunk holding only
    # left rows still needs its carry-in), left-joined with the best
    chunks_dom = (
        tagged.filter("__hot").select(*by, "__chunk").distinct()
    )
    if direction == "forward":
        wc = (
            Window.partitionBy(*by)
            .orderBy(F.col("__chunk").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry = F.min("__best").over(wc)
    else:
        wc = (
            Window.partitionBy(*by)
            .orderBy(F.col("__chunk").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry = F.max("__best").over(wc)
    summ = (
        chunks_dom.join(rbest, [*by, "__chunk"], "left")
        .select(*by, "__chunk", carry.alias("__carry"))
    )
    # stitch: within-chunk match (always nearer when present) else the
    # cross-chunk carry-in; cold keys never joined a summary row.
    # summ is bounded by construction (~n_hot/threshold rows) but
    # derives from a materialized stream whose stats AQE cannot see —
    # broadcast explicitly ([[localcheckpoint-hides-stats]])
    return (
        within.join(F.broadcast(summ), [*by, "__chunk"], "left")
        .withColumn(
            "__match", F.coalesce(F.col("__match"), F.col("__carry.p"))
        )
        .drop("__carry", "__chunk", "__hot")
    )


#: hot_threshold for journey data: a user timeline past this many rows
#: (sessions+conversions) routes through the chunked hybrid.  Sized to
#: a comfortable single-task sort (~100k rows) — below it the plain
#: window is faster; far above it (bot/test users at 100 TB) the single
#: partition is THE straggler, measured in BASELINE.md.
#: ``run_pipeline`` turns detection on with this value by
#: default (its ``hot_user_threshold`` default; pinned by
#: test_hot_user_default_on_and_results_invariant), paying a fixed
#: extra aggregation pass, a localCheckpoint and an isEmpty probe on
#: organic data (45-99 rows/user); 0 or None opts out (CLI: pipeline
#: --hot-user-threshold 0).  ``journey_asof_join`` itself defaults to
#: the plain 1-exchange/0-join plan (test_plans pins it).
JOURNEY_HOT_THRESHOLD = 100_000


def journey_asof_join(
    sessions: DataFrame,
    conversions: DataFrame,
    hot_threshold: int | None = None,
) -> DataFrame:
    """J4: build journey rows (SURVEY.md §2.3) — merged-stream form.

    Output: one row per (conv_id, session_id) — every session of the
    journey of the conversion that claimed it, carrying session
    attributes + conv_ts/revenue. Conversions with zero prior sessions
    simply produce no rows (reference drops them with a warning,
    journey_builder.py:87-89). Ties between conversions at the same
    conv_ts break on conv_id, compared LEXICOGRAPHICALLY on the string
    column ('10' < '9') — the reference has no reproducible tie-break
    here (pandas stable sort over DB insertion order), so the engine,
    the DuckDB oracle, and the pure-Python test model all pin the
    string ordering for a deterministic total order.

    Instead of the generic join+window (which materializes
    |sessions x later-conversions| intermediate rows — measured ~7x
    the input at sf0.1 and growing with conversions-per-user), union
    the two streams and scan each user's timeline once, latest-first,
    carrying the running "earliest conversion seen so far":

    - order: ts DESC, sessions-before-conversions on ties (so a
      conversion at the exact session ts is invisible -> strict <,
      journey_builder.py:84), conv_id DESC (so the running value ends
      at the MIN conv_id for equal conv_ts);
    - ``last(conv_id, ignorenulls)`` over unbounded-preceding..current
      is then exactly "earliest conversion strictly after this
      session".

    Cost: one shuffle+sort of |sessions|+|conversions| rows on
    user_id — linear, no fan-out. Per-user timelines are bounded in
    practice; a pathological hot user (bot traffic at 100 TB) would be
    a single sorted partition, so timelines past ``hot_threshold``
    rows route through the chunked hybrid (``_asof_stream`` round-10
    docstring; reference analogue: journey_builder.py:54-61 bounded
    the same loop with batching).  Results are identical either way —
    the registry gate runs this entry with a LOW threshold so the
    hybrid path itself is hash-verified against the oracle.
    """
    return asof_join(
        sessions,
        conversions.select("user_id", "conv_id", "conv_ts", "revenue"),
        by=["user_id"],
        left_on="ts",
        right_on="conv_ts",
        left_key=["session_id"],
        direction="forward",
        allow_exact=False,  # strict <, journey_builder.py:84
        tie_cols=["conv_id"],
        strategy="stream",
        hot_threshold=hot_threshold,
    )


def journey_asof_join_naive(sessions: DataFrame, conversions: DataFrame) -> DataFrame:
    """J4 via the generic join+window closed form — kept as the
    independent cross-check for the merged-stream implementation
    (tests assert both produce identical assignments)."""
    return asof_join(
        sessions,
        conversions.select("conv_id", "user_id", "conv_ts", "revenue"),
        by=["user_id"],
        left_on="ts",
        right_on="conv_ts",
        left_key=["session_id"],
        direction="forward",
        allow_exact=False,  # strict <, journey_builder.py:84
        tie_cols=["conv_id"],
        strategy="join",
    )
