"""End-to-end pipeline: full run, incremental re-run, date-range
extension — the reference's operational lifecycle (main.py:299-378)."""

from __future__ import annotations

from pathlib import Path

import pytest

from haensel_ams_data_engineer_challenge_spark.attribution import model as M
from haensel_ams_data_engineer_challenge_spark.plans.pipeline import (
    run_pipeline,
    validate_date,
)


def test_validate_date():
    validate_date(None, "x")
    validate_date("2024-01-31", "x")
    with pytest.raises(ValueError):
        validate_date("31-01-2024", "x")
    with pytest.raises(ValueError):
        validate_date("2024-13-01", "x")


def test_full_run_then_incremental_rerun(spark, sf_dir, tmp_path):
    acj = str(tmp_path / "acj")
    rep = str(tmp_path / "report")
    csv = str(tmp_path / "report_csv")

    r1 = run_pipeline(spark, sf_dir, acj, rep, report_csv_path=csv)
    assert r1.conversions_total > 0
    assert r1.attribution_rows_written > 0
    assert r1.sum_violations == 0
    assert r1.report_rows > 0
    # the full scored set landed
    expected = M.scored(spark, sf_dir).count()
    assert spark.read.parquet(acj).count() == expected
    # CSV artifact exists with the reference's header shape
    header = next(Path(csv).glob("*.csv")).read_text().splitlines()[0]
    assert header == "channel_name,date,cost,ihc,ihc_revenue,CPO,ROAS"

    # re-run: everything already scored -> nothing written, same report
    r2 = run_pipeline(spark, sf_dir, acj, rep)
    assert r2.conversions_scored == 0
    assert r2.attribution_rows_written == 0
    assert r2.report_rows == r1.report_rows
    assert spark.read.parquet(acj).count() == expected


def test_date_range_runs_accumulate(spark, sf_dir, tmp_path):
    acj = str(tmp_path / "acj")
    rep = str(tmp_path / "report")
    r1 = run_pipeline(spark, sf_dir, acj, rep, start_date="2024-01-01", end_date="2024-01-10")
    n1 = spark.read.parquet(acj).count()
    assert r1.conversions_scored > 0 and n1 > 0
    # extend the range: only the new window's conversions get scored
    r2 = run_pipeline(spark, sf_dir, acj, rep, start_date="2024-01-01", end_date="2024-01-20")
    n2 = spark.read.parquet(acj).count()
    assert r2.conversions_scored > 0
    assert n2 > n1
    # re-run of the extended range is a no-op
    r3 = run_pipeline(spark, sf_dir, acj, rep, start_date="2024-01-01", end_date="2024-01-20")
    assert r3.attribution_rows_written == 0
    assert spark.read.parquet(acj).count() == n2


@pytest.mark.parametrize("conv_type_id", ["last_touch", "linear"])
def test_conv_type_id_selects_model(spark, sf_dir, tmp_path, conv_type_id):
    """--conv-type-id routing (reference api_utils.py:87): an
    alternative model runs end-to-end and still satisfies the A2
    sum-to-one invariant; last_touch writes exactly one non-zero row
    per conversion."""
    acj = str(tmp_path / "acj")
    rep = str(tmp_path / "report")
    r = run_pipeline(spark, sf_dir, acj, rep, conv_type_id=conv_type_id)
    assert r.conversions_scored > 0
    assert r.sum_violations == 0
    if conv_type_id == "last_touch":
        attribution = spark.read.parquet(acj)
        nonzero = attribution.filter("ihc > 0").count()
        assert nonzero == r.conversions_scored


def test_conv_type_id_unknown_raises(spark, sf_dir, tmp_path):
    with pytest.raises(ValueError, match="conv_type_id"):
        run_pipeline(
            spark, sf_dir, str(tmp_path / "a"), str(tmp_path / "r"),
            conv_type_id="nope",
        )


def test_attribution_sink_manifest_e2e(spark, sf_dir, tmp_path):
    """The attribution sink is manifest-committed: same pipeline
    results, atomic visibility and reader-stable compaction."""
    from haensel_ams_data_engineer_challenge_spark.operators import (
        manifest_sink as MS,
    )

    acj = str(tmp_path / "acj")
    rep = str(tmp_path / "report")

    r1 = run_pipeline(spark, sf_dir, acj, rep)
    expected = M.scored(spark, sf_dir).count()
    assert r1.attribution_rows_written == expected
    assert r1.sum_violations == 0
    committed = MS.read_manifest_sink(spark, acj)
    assert committed is not None and committed.count() == expected

    # incremental re-run: nothing new, so no manifest is committed and
    # the committed row set is unchanged
    r2 = run_pipeline(spark, sf_dir, acj, rep)
    assert r2.attribution_rows_written == 0
    assert MS.read_manifest_sink(spark, acj).count() == expected

    # reader-stable compaction through the pipeline's sink
    reader = MS.read_manifest_sink(spark, acj)
    assert MS.manifest_compact(spark, acj, target_partitions=1) == expected
    assert reader.count() == expected  # pre-compaction snapshot intact
    assert MS.read_manifest_sink(spark, acj).count() == expected


def test_identical_rerun_commits_nothing(spark, sf_dir, tmp_path):
    """An identical re-run appends zero rows and so commits nothing:
    the manifest version and the committed file list stay as the first
    run left them (an hourly incremental run must not fragment the
    sink with one empty file per run)."""
    from haensel_ams_data_engineer_challenge_spark.operators import (
        manifest_sink as MS,
    )

    acj = str(tmp_path / "acj")
    rep = str(tmp_path / "report")
    run_pipeline(spark, sf_dir, acj, rep)
    first = MS._resolve_latest(spark, acj)
    on_disk = MS._data_files(MS._list_names(spark, acj))
    assert run_pipeline(spark, sf_dir, acj, rep).attribution_rows_written == 0
    assert MS._resolve_latest(spark, acj) == first
    assert MS._data_files(MS._list_names(spark, acj)) == on_disk
    assert not list(tmp_path.glob("acj__*"))  # no staging dir left


def test_legacy_create_db_sink_is_adopted(spark, sf_dir, tmp_path):
    """The empty attribution table of ``create-db`` (a plain parquet
    directory, no manifest) is read as a legacy sink and adopted by the
    first run's commit."""
    from haensel_ams_data_engineer_challenge_spark.operators import (
        manifest_sink as MS,
    )
    from haensel_ams_data_engineer_challenge_spark.operators.sinks import (
        create_tables,
    )

    base = str(tmp_path / "wh")
    create_tables(spark, base)
    acj = f"{base}/attribution_customer_journey"
    legacy = MS._data_files(MS._list_names(spark, acj))
    assert legacy and MS._resolve_latest(spark, acj) is None
    r = run_pipeline(spark, sf_dir, acj, f"{base}/channel_reporting")
    assert r.attribution_rows_written == M.scored(spark, sf_dir).count()
    version, man = MS._resolve_latest(spark, acj)
    assert version == 1 and legacy <= set(man["files"])
    assert MS.read_manifest_sink(spark, acj).count() == r.attribution_rows_written


def test_hot_user_default_on_and_results_invariant(spark, sf_dir, tmp_path):
    """The pipeline's hot-key protection defaults ON
    (JOURNEY_HOT_THRESHOLD) and is results-invariant vs the plain
    plan; 0 opts out."""
    import inspect

    from haensel_ams_data_engineer_challenge_spark.operators.asof import (
        JOURNEY_HOT_THRESHOLD,
    )

    default = inspect.signature(run_pipeline).parameters["hot_user_threshold"]
    assert default.default == JOURNEY_HOT_THRESHOLD == 100_000

    acj_d, rep_d = str(tmp_path / "acj_d"), str(tmp_path / "rep_d")
    acj_0, rep_0 = str(tmp_path / "acj_0"), str(tmp_path / "rep_0")
    r_default = run_pipeline(spark, sf_dir, acj_d, rep_d)  # default ON
    r_plain = run_pipeline(
        spark, sf_dir, acj_0, rep_0, hot_user_threshold=0  # opt-out
    )
    assert r_default.attribution_rows_written == r_plain.attribution_rows_written
    assert r_default.sum_violations == r_plain.sum_violations == 0
    got_d = sorted(map(tuple, spark.read.parquet(acj_d).collect()))
    got_0 = sorted(map(tuple, spark.read.parquet(acj_0).collect()))
    assert got_d == got_0


def test_fresh_sink_run_is_eight_sql_executions(spark, sf_dir, tmp_path):
    """A fresh-sink run fires exactly the eight executions the module
    docstring lists, counted by a QueryExecutionListener."""
    from pyspark.java_gateway import ensure_callback_server_started

    actions: list[str] = []

    class Recorder:
        def onSuccess(self, func, qe, duration_ns):
            actions.append(func)

        def onFailure(self, func, qe, exc):
            actions.append(f"failed {func}")

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    ensure_callback_server_started(spark.sparkContext._gateway)
    recorder = Recorder()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    listeners = spark._jsparkSession.listenerManager()
    listeners.register(recorder)
    try:
        run_pipeline(spark, sf_dir, str(tmp_path / "acj"), str(tmp_path / "rep"),
                     report_csv_path=str(tmp_path / "rep_csv"))
        bus.waitUntilEmpty()
    finally:
        listeners.unregister(recorder)
    # the A2 count runs on a second driver thread beside the report
    # chain, so only the multiset of actions is fixed
    assert sorted(actions) == [
        "collectToPython",  # the fused conversions/scored count (first)
        "command",  # the attribution append
        "command",  # the report partition overwrite
        "command",  # the CSV export
        "count",  # A2 sum violations
        "count",  # report read-back rows
        "isEmpty",  # hot-key probe
        "localCheckpoint",  # hot-key stats
    ]
