"""checkpoint.materialize mode dispatch + session.respread_width conf.

The dedup family's diamond materialization defaults to localCheckpoint
(fast, not fault-tolerant); the ``spark.haenselams.checkpointDir``
conf switches every site to reliable checkpoints with identical
results (round-4 verdict #3).  ``spark.haenselams.respreadPartitions``
un-hardcodes the scan-layout re-spread width (verdict #4).

The SparkContext checkpoint dir is session-global and the guard (by
design) refuses to move it once set, so all reliable-checkpoint tests
share the session-owned ``ckpt_dir`` conftest fixture (round-5
advice) — test order is irrelevant.  The conflicting-dir refusal
itself is tested in test_components.test_cc_reliable_checkpoint_dir
against the same shared ensure_checkpoint_dir.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from haensel_ams_data_engineer_challenge_spark import checkpoint as C
from haensel_ams_data_engineer_challenge_spark.operators import dedup as D
from haensel_ams_data_engineer_challenge_spark.session import (
    RESPREAD_CONF,
    default_parallelism,
    respread_width,
)
from haensel_ams_data_engineer_challenge_spark.sources import load_table


def test_materialize_default_is_local_checkpoint(spark):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out = C.materialize(df)
    assert out.count() == 100  # non-eager: action materializes
    # the wrapped execution RDD's lineage shows the localCheckpoint
    # callsite (the python-side .rdd accessor derives a fresh RDD, so
    # the checkpoint flags are not visible there)
    debug = out._jdf.queryExecution().toRdd().toDebugString()
    assert "localCheckpoint" in debug


def test_materialize_runs_shuffle_stages_during_the_call(spark, sf_dir):
    """Under AQE a lazy localCheckpoint plans its subtree adaptively,
    which runs the subtree's shuffle stages inside the call."""
    sc = spark.sparkContext
    group = "materialize-call-time"
    df = load_table(spark, sf_dir, "events").groupBy("user_id").count()
    sc.setJobGroup(group, "materialize() call only")
    try:
        out = C.materialize(df)
        started = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert started, "no job ran inside materialize()"
    assert out.count() == df.count()


def test_materialize_reliable_mode_same_results(spark, sf_dir, ckpt_dir):
    """With the conf set, materialize() uses reliable checkpoints and
    the dedup-family results are unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    base = {(r.id_a, r.id_b) for r in D.dedup_minhash_lsh(docs).collect()}

    import os

    ckpt = ckpt_dir
    spark.conf.set(C.CHECKPOINT_DIR_CONF, ckpt)

    def n_ckpt_files() -> int:
        return sum(len(files) for _, _, files in os.walk(ckpt))

    before = n_ckpt_files()
    try:
        df = spark.range(50).withColumn("x", F.col("id") + 1)
        out = C.materialize(df)
        assert out.count() == 50
        debug = out._jdf.queryExecution().toRdd().toDebugString()
        assert "localCheckpoint" not in debug
        assert n_ckpt_files() > before, "no reliable checkpoint files written"
        rel = {(r.id_a, r.id_b) for r in D.dedup_minhash_lsh(docs).collect()}
        assert rel == base
    finally:
        spark.conf.unset(C.CHECKPOINT_DIR_CONF)


def test_respread_width_conf_overrides_default(spark, sf_dir):
    assert respread_width(spark) == default_parallelism()
    spark.conf.set(RESPREAD_CONF, "7")
    try:
        assert respread_width(spark) == 7
        df = load_table(spark, sf_dir, "documents")  # spread table
        assert df.rdd.getNumPartitions() == 7
    finally:
        spark.conf.unset(RESPREAD_CONF)
    # garbage value falls back rather than crashing a job
    spark.conf.set(RESPREAD_CONF, "not-a-number")
    try:
        assert respread_width(spark) == default_parallelism()
    finally:
        spark.conf.unset(RESPREAD_CONF)
