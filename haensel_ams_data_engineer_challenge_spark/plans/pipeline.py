"""End-to-end attribution pipeline (reference main.run_pipeline:299-378
as one lazy DataFrame graph + two writes).

Reference lifecycle -> engine stage:
1. validate dates        (main.py:74-112)   -> validate_date
2. DDL bootstrap         (main.py:114-135)  -> sinks.create_tables
3. extract + journeys    (main.py:137-192)  -> attribution.model + asof
4. incremental skip      (main.py:331-353)  -> left_anti vs sink (J6)
5. score                 (main.py:194-242)  -> operators.ihc (native)
6. load + report         (main.py:244-297)  -> manifest_insert_if_absent
                                               (S5),
                                               sum check (A2),
                                               partition overwrite (S6),
                                               CSV export (S7)

The reference runs 6 eager SQLite round-trips; here stages 3-5 are one
logical plan (Catalyst sees scan->join->window->score end to end).  A
fresh-sink run with the default hot-key protection and a CSV export is
eight SQL executions (tests/test_pipeline.py pins them):

1. the hot-key stats ``localCheckpoint`` (operators/asof.py);
2. its ``isEmpty`` probe;
3. the fused pre-write count (conversions total + scored distinct, one
   union-agg ``first``);
4. the attribution append;
5. the A2 invariant count;
6. the report partition overwrite;
7. the report read-back count (5 runs beside 6-7 on a second driver
   thread);
8. the CSV export.

Under AQE each execution runs its query stages as separate jobs: a warm
run at sf0.001 is 25 jobs.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..attribution import model as M
from ..operators.asof import JOURNEY_HOT_THRESHOLD, journey_asof_join
from ..operators.ihc import attribute_by_conv_type, attribution_sum_violations
from ..operators.manifest_sink import manifest_insert_if_absent, read_manifest_sink
from ..operators.sinks import export_csv, overwrite_partitions
from .report import channel_report, report_metrics


def validate_date(value: str | None, name: str) -> None:
    """main.validate_dates:74-112 — YYYY-MM-DD or None."""
    if value is None:
        return
    try:
        datetime.strptime(value, "%Y-%m-%d")
    except ValueError as exc:
        raise ValueError(f"{name} must be YYYY-MM-DD, got {value!r}") from exc


@dataclass
class PipelineResult:
    conversions_total: int
    conversions_scored: int
    attribution_rows_written: int
    sum_violations: int
    report_rows: int


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    attribution_path: str,
    report_path: str,
    start_date: str | None = None,
    end_date: str | None = None,
    report_csv_path: str | None = None,
    conv_type_id: str = "ihc",
    scorer: str = "native",
    scorer_call=None,
    rate_limit_delay: float = 1.0,
    chunk_journeys: int = 100,
    scorer_max_retries: int = 3,
    scorer_retry_delay: float = 2.0,
    audit_path: str | None = None,
    hot_user_threshold: int | None = JOURNEY_HOT_THRESHOLD,
) -> PipelineResult:
    """Run extract -> journeys -> score -> upsert -> report.

    Incremental semantics match the reference: conversions already
    present in the attribution sink are skipped (J6 anti-join,
    main.py:332-353); the report is rebuilt with delete-and-replace
    partition semantics for the covered dates (reporting.py:36-50).
    Re-running the same range commits nothing to the attribution sink
    and rewrites the report partitions identically.  The attribution
    sink is manifest-committed (operators/manifest_sink.py): each
    run's rows become visible at one atomic manifest rename, and a
    legacy plain-parquet sink is adopted in place.

    ``conv_type_id`` selects the scoring model per run, like the
    reference API's per-request conv_type_id (api_utils.py:87) —
    every model emits its scores as ``ihc`` so the sink/report/A2
    stages are model-agnostic (operators/ihc.py:CONV_TYPE_MODELS).

    ``scorer="external"``: route scoring through the throttled
    external-call operator instead of the native models — the
    reference's remote-IHC-API mode (main.py:65-70
    ``--rate_limit_delay``, api_utils.py ``send_journeys_to_api``).
    ``scorer_call`` is the per-chunk callable (e.g.
    ``external.http_ihc_scorer(endpoint)``); journeys go out in the
    API wire shape (``journeys_as_api_payload``, one complete journey
    per row so chunks never split a conversion), scores come back as
    rows, and the per-chunk audit table lands at ``audit_path``
    (beside the sink) BEFORE the attribution write — a failed chunk is
    visible in the audit even when the run dies later.  Failed chunks
    are recorded-and-skipped (the reference's continue-with-next-chunk,
    api_utils.py:209-211): their conversions stay unscored, so the J6
    incremental anti-join retries exactly those on the next run.

    ``hot_user_threshold``: route users whose merged timeline exceeds
    it through the as-of join's chunked hybrid.  The default is
    asof.JOURNEY_HOT_THRESHOLD (100k — the measured flat part of the
    knob sweep), so one bot-grade user no longer single-tasks the
    window stage.  The price on organic data is one
    map-side-combinable count pass + an isEmpty probe (measured at
    sf0.1: ~0.6 s on a ~4.4 s run, BASELINE.md round-11 note); pass 0
    or None to opt out and keep the plain 1-exchange plan.
    """
    validate_date(start_date, "start_date")
    validate_date(end_date, "end_date")

    conversions = M.conversions(spark, sf_dir)
    if start_date:
        conversions = conversions.filter(F.col("conv_date") >= start_date)
    if end_date:
        conversions = conversions.filter(F.col("conv_date") <= end_date)

    # 4. incremental skip (J5/J6): only conversions not yet scored.
    sink_df = read_manifest_sink(spark, attribution_path)
    if sink_df is not None:
        todo = conversions.join(
            sink_df.select("conv_id").distinct(), "conv_id", "left_anti"
        )
    else:
        todo = conversions

    # 3+5. journeys + native scoring — one lazy graph.  The scored
    # output feeds two actions (distinct-conversion count + sink
    # write); persist the narrow 3-column result so the expensive
    # scan->as-of->window chain executes once, not twice.  At cluster
    # scale this is the attribution table itself (rows = sessions of
    # converted users, 3 narrow columns) — bounded by the sink size.
    journeys = journey_asof_join(
        M.sessions(spark, sf_dir), todo,
        # 0 and None both opt out (the CLI's disable spelling is 0)
        hot_threshold=hot_user_threshold or None,
    )
    if scorer == "external":
        if scorer_call is None:
            raise ValueError("scorer='external' requires scorer_call")
        from ..checkpoint import materialize
        from ..operators.external import rate_limited_score_chunks
        from ..operators.ihc import flag_conversion_session
        from ..operators.sinks import journeys_as_api_payload

        payload = journeys_as_api_payload(flag_conversion_session(journeys))
        # materialize: the score stream feeds the audit write AND the
        # sink chain — without lineage truncation every downstream
        # action would re-fire the external calls
        out = materialize(
            rate_limited_score_chunks(
                payload,
                scorer_call,
                chunk_rows=chunk_journeys,
                rate_limit_delay=rate_limit_delay,
                max_retries=scorer_max_retries,
                retry_delay=scorer_retry_delay,
            )
        )
        if audit_path is not None:
            out.select(
                "partition_id", "chunk_index", "n_rows",
                "attempts", "ok", "error",
            ).distinct().write.mode("overwrite").parquet(audit_path)
        scored = out.filter(
            F.col("ok") & F.col("conv_id").isNotNull()
        ).select("conv_id", "session_id", "ihc")
    elif scorer == "native":
        scored = attribute_by_conv_type(journeys, conv_type_id).select(
            "conv_id", "session_id", "ihc"
        )
    else:
        raise ValueError(f"unknown scorer {scorer!r} (native | external)")
    scored.persist()
    try:
        # ONE fused count action: the pre-filter conversions total and
        # the distinct scored-conversion count are independent branches
        # of a union, aggregated together — the action also materializes
        # the persist for the sink write below.  A plain union-agg, NOT an
        # Observation: riding an Observation on the scoring plan was
        # tried and reverted (on incremental re-runs with zero
        # surviving conversions the observed metrics never materialize
        # and Observation.get raises from the JVM); a union branch
        # always executes.
        counts = (
            conversions.select(
                F.lit(1).alias("__t"), F.lit(None).cast("string").alias("__c")
            )
            .unionByName(
                scored.select(
                    F.lit(None).cast("int").alias("__t"),
                    F.col("conv_id").alias("__c"),
                )
            )
            .agg(
                F.count("__t").alias("total"),
                F.count_distinct("__c").alias("scored"),
            )
            .first()
        )
        conversions_total = int(counts["total"])
        conversions_scored = int(counts["scored"])

        # 6a. INSERT OR IGNORE upsert (S5)
        written = manifest_insert_if_absent(
            spark, scored, attribution_path, ["conv_id", "session_id"]
        )
    finally:
        scored.unpersist()

    all_attribution = read_manifest_sink(spark, attribution_path)

    # 6b + 6c, overlapped (round 15, guide §2.6): the A2 invariant
    # check needs only the POST-WRITE attribution sink, while the
    # report chain (rebuild -> partition overwrite -> read-back ->
    # row count) is the long pole — running A2 on a second driver
    # thread back-fills cores during the report write instead of
    # serializing a separate count job after it.  (This un-fuses the
    # round-9 union-agg: one extra small job, but it runs entirely
    # inside the report chain's shadow.)  Same result fields.
    def _report_side() -> tuple[DataFrame, int]:
        # 6c. channel report rebuild (S6 partition overwrite) + metrics
        report = channel_report(
            M.sessions(spark, sf_dir),
            M.costs(spark, sf_dir),
            all_attribution,
            M.conversions(spark, sf_dir),
            start_date,
            end_date,
        )
        overwrite_partitions(report, report_path, "date")
        # partitionBy moves the partition column last on read-back;
        # restore the reference's column order (channel_reporting.csv)
        rdf = report_metrics(spark.read.parquet(report_path)).select(
            "channel_name", "date", "cost", "ihc", "ihc_revenue", "CPO", "ROAS"
        )
        return rdf, rdf.count()

    def _a2_side() -> int:
        # 6b. invariant check (A2) — warn-only in the reference
        # (main.py:272-274)
        return attribution_sum_violations(all_attribution).count()

    from ..checkpoint import build_concurrently

    (report_df, report_rows_l), sum_violations_l = build_concurrently(
        [_report_side, _a2_side], max_workers=2
    )
    sum_violations = int(sum_violations_l)
    report_rows = int(report_rows_l)

    # 6d. CSV export (S7) — the reference's final artifact
    if report_csv_path:
        export_csv(report_df, report_csv_path, n_rows=report_rows)

    return PipelineResult(
        conversions_total=conversions_total,
        conversions_scored=conversions_scored,
        attribution_rows_written=written,
        sum_violations=sum_violations,
        report_rows=report_rows,
    )
