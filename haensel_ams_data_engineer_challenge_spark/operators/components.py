"""Duplicate-cluster resolution: connected components over near-dup
pair output, then one-survivor-per-cluster selection.

The dedup family (dedup.py, similarity.py) emits *pairs* — but a
training-data pipeline needs clusters: if A~B and B~C, exactly one of
{A, B, C} survives.  Pair output alone would keep A and C (never
directly compared).  This module closes that gap.

Algorithm: alternating large-star / small-star contraction
(Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
Components in MapReduce and Beyond", SoCC'14).  Each round is two
groupBy-shuffles on node id; converges in O(log n) rounds even on
pathological chain graphs (plain min-label propagation needs
O(diameter) rounds).  All DataFrame ops — no RDDs; per-round lineage
is truncated with localCheckpoint so iteration depth cannot blow up
the plan.  Small edge sets (<= ``max_local_edges``, i.e. the size
class a broadcast join would ship to the driver anyway) skip the loop
and solve with driver-side union-find — identical labels, none of the
per-round scheduler latency.

Scale posture (100 TB): the edge set is near-dup *pairs*, already
bounded by LSH banding — orders of magnitude smaller than the corpus.
Every round shuffles only this edge set on node id.  On a real
cluster, pass ``checkpoint_dir=`` (an HDFS/S3 path) to switch the
per-round lineage truncation from localCheckpoint to reliable
checkpoints for executor-loss fault tolerance; the semantics are
identical.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F

#: Driver-side cost estimate for one collected edge (a two-long Row
#: plus py4j/GC overhead) — used to turn the session's byte budgets
#: into an edge-count cap for the local union-find fast path.
LOCAL_EDGE_BYTES = 64
#: Hard ceiling on the derived cap: past ~100k edges the union-find
#: transfer stops resembling a broadcast build side.
LOCAL_EDGE_CEILING = 100_000

_BYTE_UNITS = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def _parse_byte_conf(value: str) -> int:
    """Spark byte-size conf string -> bytes ('10MB', '10485760b', '-1')."""
    m = re.fullmatch(r"\s*(-?\d+)\s*([a-zA-Z]*)\s*", value)
    if not m:
        return -1
    unit = _BYTE_UNITS.get(m.group(2).lower())
    return int(m.group(1)) * unit if unit is not None else -1


def _derived_max_local_edges(spark) -> int:
    """Default cap for the local union-find path, tied to the session's
    own small-data budgets (round-5 advice: a fixed 100k constant could
    surprise a tuned-down driver).  The cap is the edge count whose
    driver transfer fits the same class of budget a broadcast join
    uses: min(autoBroadcastJoinThreshold, driver.maxResultSize) /
    ~LOCAL_EDGE_BYTES per edge, ceilinged at LOCAL_EDGE_CEILING.  A
    session that disables broadcast joins (threshold <= 0) gets 0 —
    the distributed star rounds — because it has declared that no
    driver-sized shortcut is welcome.
    """
    thr = _parse_byte_conf(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    )
    if thr <= 0:
        return 0
    budget = thr
    max_res = _parse_byte_conf(spark.conf.get("spark.driver.maxResultSize", "1g"))
    if max_res > 0:  # 0 = unlimited in Spark
        budget = min(budget, max_res)
    return min(LOCAL_EDGE_CEILING, budget // LOCAL_EDGE_BYTES)


def _canonical(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list -> canonical (u, v) with u > v, deduped."""
    u = F.greatest(F.col(src), F.col(dst))
    v = F.least(F.col(src), F.col(dst))
    return (
        pairs.select(u.alias("u"), v.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + {u}).

    Emits (v, m) for v in N(u) with v > u, where m = min(N(u) + {u});
    since v > u >= m, the canonical u > v orientation is preserved.
    """
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("mn"), F.col("u"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller neighbor of u (and u itself) to the min.

    Operates on the canonical larger->smaller orientation: for each u
    with parents N-(u) = {v : (u, v) in e}, m = min(N-(u)); emits
    (x, m) for x in N-(u) \\ {m} plus (u, m).  All emitted edges keep
    first > second.
    """
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        e.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return moved.union(mins.select("u", F.col("m").alias("v"))).distinct()


def _edge_stats(e: DataFrame) -> tuple:
    """ONE action summarizing an edge set: (count, two independent
    64-bit hash sums).  Two canonical distinct edge sets with equal
    triples are equal up to a ~2^-128 hash-sum collision — the
    single-aggregation convergence check (the exact two-action form,
    count-equal + exceptAll-empty, cost an extra job per round)."""
    r = e.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) sums: a long sum of 64-bit hashes overflows
        # (ANSI mode raises); decimal keeps ~10^19 rows of headroom
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h1"),
        F.sum(F.xxhash64("u", "v", F.lit(17)).cast("decimal(38,0)")).alias("h2"),
    ).first()
    return (r.n, r.h1, r.h2)


# shared with checkpoint.materialize — one session-global guard for
# every reliable-checkpoint entry point in the engine
from ..checkpoint import ensure_checkpoint_dir


def _local_components(rows: list, spark, u_type) -> DataFrame:
    """Union-find with min-label canonicalization over a collected
    edge list — the adaptive small-graph path of
    ``connected_components``.  Path-halving find; union by attaching
    the larger label under the smaller so the final label IS the
    component min without a second pass."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        u, v = r[0], r[1]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # min-label union: smaller root wins
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    out = [(node, find(node)) for node in parent]
    from pyspark.sql.types import StructField, StructType

    from ..session import local_frame

    schema = StructType(
        [StructField("node", u_type, False), StructField("component", u_type, False)]
    )
    return local_frame(spark, out, schema)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 50,
    checkpoint_dir: str | None = None,
    exact_convergence: bool = False,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Connected components of an undirected pair graph.

    Returns (node, component) for every node that appears in ``pairs``,
    with ``component`` = the minimum node id in its component (a
    deterministic canonical label).  Nodes absent from ``pairs`` are
    their own singleton component — callers left-join and coalesce
    (see ``dedup_survivors``).

    Convergence check per round: the new edge set's (count, hash-sum,
    hash-sum) triple equals the previous round's — one aggregation
    action, cached across rounds, so each round runs exactly two jobs
    (eager checkpoint + stats).  ``max_rounds`` is a divergence guard;
    the O(log n) bound of the star algorithm means 50 rounds covers
    any realistic graph (2^50 nodes) — hitting it raises.

    ``checkpoint_dir``: reliable checkpoint directory (HDFS/S3) for
    cluster runs; defaults to localCheckpoint (fast, but lost with an
    executor) — see the module docstring's scale posture.  Caveats:
    the SparkContext checkpoint dir is SESSION-GLOBAL, so it is only
    set when the context has none yet (an explicit different dir
    raises rather than silently clobbering another job's setting),
    and reliable checkpoint files accumulate per round until context
    shutdown — on long-lived clusters set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so
    out-of-scope round checkpoints are deleted.

    ``exact_convergence``: replace the probabilistic triple with the
    exact two-action check (count-equal + ``exceptAll``-empty) — one
    extra job per round; for validation/debug runs where the ~2^-128
    hash-sum collision risk is unacceptable.

    ``max_local_edges``: edge sets at or below this size are solved
    with driver-side union-find instead of the distributed rounds
    (bit-identical min-label components; ``cc_rounds`` reads 0).  Set
    0 to force the distributed path regardless of size.  The default
    (``None``) derives the cap from the session's own budgets —
    min(``spark.sql.autoBroadcastJoinThreshold``,
    ``spark.driver.maxResultSize``) / ~64 bytes per collected edge,
    ceilinged at 100k — so a session with broadcast joins disabled
    never takes the driver shortcut, and a tuned-down driver scales
    the cap with its budget instead of being surprised by a constant.

    Diagnostics: the returned DataFrame carries ``cc_rounds`` (the
    round count of THIS call) and ``cc_round_secs`` (driver-measured
    wall seconds per round — meaningful because each round runs its
    jobs eagerly via checkpoint + stats).  These are plain Python
    attributes on the returned object only: any transformation
    (filter/select/join) yields a NEW DataFrame without them — read
    them before deriving.  The ``connected_components.last_rounds``
    attribute mirrors the round count for back-compat but is
    overwritten by every call, so concurrent driver threads must read
    ``cc_rounds``.
    """
    if checkpoint_dir is not None:
        ensure_checkpoint_dir(pairs.sparkSession.sparkContext, checkpoint_dir)
        _ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731
    else:
        _ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731

    import time

    e = _ckpt(_canonical(pairs, src, dst))
    if exact_convergence:
        prev = None
        n_edges = e.count()
    else:
        prev = _edge_stats(e)
        n_edges = prev[0]

    # Adaptive small-graph path: near-dup edge sets are bounded by LSH
    # banding, and at local/moderate scale the star loop's cost is pure
    # scheduler latency (2 jobs x O(log n) rounds on a graph that fits
    # in one task).  When the canonical edge set is no bigger than a
    # broadcast build side, collect it (same driver transfer Spark
    # performs for any broadcast join) and solve with union-find —
    # bit-identical labels (component = min node id), measured ~3 s
    # saved per spine query at sf0.1.  Graphs beyond the threshold run
    # the distributed star rounds unchanged; pass ``max_local_edges=0``
    # to force the distributed path (the skew/scale benches do, so the
    # O(log n) measurements stay honest).
    if max_local_edges is None:
        max_local_edges = _derived_max_local_edges(pairs.sparkSession)
    if max_local_edges and n_edges <= max_local_edges:
        out = _local_components(
            e.collect(), pairs.sparkSession, e.schema["u"].dataType
        )
        connected_components.last_rounds = 0
        out.cc_rounds = 0
        out.cc_round_secs = []
        return out

    round_secs: list[float] = []
    t0 = time.perf_counter()
    for rounds in range(1, max_rounds + 1):
        e2 = _ckpt(_small_star(_large_star(e)))
        if exact_convergence:
            converged = e2.count() == e.count() and e2.exceptAll(e).isEmpty()
        else:
            cur = _edge_stats(e2)
            converged = cur == prev
            prev = cur
        e.unpersist()
        e = e2
        round_secs.append(round(time.perf_counter() - t0, 3))
        t0 = time.perf_counter()
        if converged:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")
    connected_components.last_rounds = rounds
    # converged star graph: every edge is (node, component_min); the
    # roots themselves appear only on the v side.
    out = (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )
    out.cc_rounds = rounds
    out.cc_round_secs = round_secs
    return out


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    order_col: str | None = None,
) -> DataFrame:
    """One survivor per duplicate cluster.

    ``pairs`` is any near-dup pair output (minhash LSH, simhash,
    verified candidates, embedding dedup).  Every doc gets a
    ``component`` (its cluster's canonical min-id label; singletons
    label themselves) and an ``is_survivor`` flag — exactly one per
    component.

    Survivor policy: lowest ``id_col`` in the cluster (deterministic),
    or when ``order_col`` is given, the row with the highest
    ``order_col`` (ties broken by lowest id) — e.g. keep the longest
    document with ``order_col="n_chars"``.

    One extra shuffle beyond the CC rounds when ``order_col`` is used
    (window on component); the default policy needs none — the
    survivor IS the component label.
    """
    cc = connected_components(pairs, src, dst)
    labeled = docs.join(
        cc.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn("component", F.coalesce("component", F.col(id_col)))
    if order_col is None:
        return labeled.withColumn(
            "is_survivor", (F.col(id_col) == F.col("component"))
        )
    w = Window.partitionBy("component").orderBy(
        F.col(order_col).desc(), F.col(id_col).asc()
    )
    return (
        labeled.withColumn("__rk", F.row_number().over(w))
        .withColumn("is_survivor", F.col("__rk") == 1)
        .drop("__rk")
    )
