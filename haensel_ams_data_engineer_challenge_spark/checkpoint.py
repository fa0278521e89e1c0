"""Lineage truncation with a fault-tolerance knob.

The dedup/similarity family materializes each multi-consumer stream
once (diamond elimination — exchange reuse does not fire across
self-join / multi-consumer branches on current Spark; see
operators/dedup.py, operators/contamination.py).  The default
mechanism is ``localCheckpoint``: fast (executor block managers, no
distributed-FS round-trip) but NOT fault-tolerant — the truncated
lineage cannot be recomputed, so on a preemptible-node cluster losing
an executor fails the running job instead of recovering (the blast
radius is that single job: re-running the query recomputes
everything; no state or sink is corrupted — see DESIGN.md).

For cluster runs, set

    spark.conf.set("spark.haenselams.checkpointDir", "hdfs://...")

and every ``materialize()`` call in the family switches to reliable
checkpoints with identical semantics — the same knob
``operators.components.connected_components(checkpoint_dir=)`` takes,
sharing the same session-global guard: the SparkContext checkpoint
dir is set only when unset, and a conflicting existing dir raises
rather than silently clobbering another job's setting.  Reliable
checkpoint files accumulate until context shutdown; long-lived
clusters should also set
``spark.cleaner.referenceTracking.cleanCheckpoints=true``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Runtime conf: when set (an HDFS/S3/local path), materialize() uses
#: reliable checkpoints instead of localCheckpoint.
CHECKPOINT_DIR_CONF = "spark.haenselams.checkpointDir"


def _strip_uri_scheme(path: str) -> str:
    """'file:/tmp/x' -> '/tmp/x', 'hdfs://nn/x' -> 'nn/x'.

    ``SparkContext.setCheckpointDir`` resolves the caller's path
    through the Hadoop FileSystem, so ``getCheckpointDir`` returns a
    fully-qualified URI; to compare against a caller-supplied plain
    path both sides must be scheme-stripped first.  The netloc is
    KEPT (hdfs://other-namenode/x must not compare equal to
    hdfs://nn/x).  Caller paths should be absolute — a relative path
    cannot be matched against the resolved URI on a repeat call.
    """
    from urllib.parse import urlparse

    parsed = urlparse(path)
    return (parsed.netloc + parsed.path) if parsed.scheme else path


def ensure_checkpoint_dir(sc, checkpoint_dir: str) -> None:
    """Point the session-global SparkContext checkpoint dir at
    ``checkpoint_dir`` — idempotent, refuses to clobber a different
    existing setting.

    setCheckpointDir creates a random subdir under the given path and
    reports it as a fully-qualified URI — compare scheme-stripped, so
    a second call with the same plain local path is recognized as
    "already points there" (separator-bounded prefix match:
    '/data/ckpt-old/<uuid>' must NOT match a requested '/data/ckpt').
    """
    current = sc.getCheckpointDir()
    want = _strip_uri_scheme(checkpoint_dir).rstrip("/")
    cur = _strip_uri_scheme(current).rstrip("/") if current else None
    if current is None:
        sc.setCheckpointDir(checkpoint_dir)
    elif not (cur == want or cur.startswith(want + "/")):
        raise ValueError(
            f"SparkContext checkpoint dir already set to {current!r}; "
            f"refusing to clobber it with {checkpoint_dir!r} "
            "(session-global setting)"
        )


def build_concurrently(
    builders, max_workers: int = 3, spark: SparkSession | None = None
) -> list:
    """Run independent DataFrame-building thunks from a small driver
    thread pool; results in input order (optimization guide §2.6:
    overlap independent jobs).

    Under AQE, ``materialize()``/``localCheckpoint`` runs the
    subtree's query stages EAGERLY at call time, and trained-model
    builders run bounded collects — so a query function that
    constructs several independent arms serializes those jobs on the
    driver.  2-3 in flight fills the idle tail without contending;
    FIFO scheduling back-fills freed cores.  Thread-locals (job
    description/group AND session tags) propagate via the PySpark 4
    session form of ``inheritable_thread_target`` — the bare-callable
    form only copies local properties and warns that tags are lost,
    so cancellation-by-tag and UI attribution would miss the
    overlapped jobs.  Results are unchanged: each thunk builds exactly
    the DataFrame it would have built sequentially, and errors
    re-raise on the caller.
    """
    if len(builders) <= 1:
        return [b() for b in builders]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    if spark is None:
        spark = SparkSession.getActiveSession()
    wrap = (
        inheritable_thread_target(spark)
        if spark is not None
        else inheritable_thread_target
    )
    with ThreadPoolExecutor(
        max_workers=min(max_workers, len(builders))
    ) as pool:
        futures = [pool.submit(wrap(b)) for b in builders]
        return [f.result() for f in futures]


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage.

    Not lazy under AQE, even with ``eager=False``: the checkpoint plans
    ``df`` adaptively, which runs its shuffle and broadcast stages
    inside this call (tests/test_materialize.py), so a call over an
    expensive subtree blocks the driver for that subtree's stages (see
    :func:`build_concurrently`).  The rows are written at the first
    action.

    Reliable checkpoint when ``spark.haenselams.checkpointDir`` is set
    (cluster fault tolerance), else localCheckpoint (single-machine /
    ephemeral-job speed).  Semantics are identical either way.
    """
    spark: SparkSession = df.sparkSession
    ckpt_dir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
    if ckpt_dir:
        ensure_checkpoint_dir(spark.sparkContext, ckpt_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
