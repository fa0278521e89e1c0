"""The two workloads, each a closed loop with one client.

Every operation has a role: ``first`` (the first operation after
set-up), ``write`` (an operation that writes the workload's persisted
output) or ``read`` (a request that reads what was written).  The
end-to-end metrics and the per-layer counters are reported per role,
so both workloads print the same metric names; README.md maps each
role to the engine call it times.

Output checks run outside the timed spans.  A check that fails raises
``CheckFailed``; the operation then counts as failed.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import gen

#: rows per search request
K = 5
#: lowest mean recall@K of IVF search against exact search over
#: RECALL_QUERIES queries; IVF probes 3 of its 10 cells
ANN_RECALL_BOUND = 0.5
RECALL_QUERIES = 16
#: write/read pairs per attribution run at least: the second pipeline
#: run in a JVM still varies with JIT state, so one pair is too few
MIN_PAIRS = 2
#: untimed search requests of each kind before the timed ones
WARMUP_REQUESTS = 2
#: relative and absolute tolerance of the report against its oracle; both
#: sum in DECIMAL(25,6), so any difference beyond these is a real one
REL_TOL, ABS_TOL = 1e-9, 1e-6


class CheckFailed(Exception):
    """An output differs from what the generated inputs imply."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Scale:
    replicas: int
    base_events: int
    base_users: int
    n_base_docs: int
    feed_docs: int
    n_queries: int


SCALES = {
    # ~sf0.1 events x2; a 1,500-doc corpus fed 150 new docs
    "full": Scale(2, gen.BASE_EVENTS, gen.BASE_USERS, 1500, 150, 64),
    # ~sf0.001 and the fewest operations per role, for the benchmark's own tests
    "smoke": Scale(1, 1000, 15, 60, 20, 8),
}


@dataclass
class Ctx:
    """State of one run, shared by set-up, the timed loop and checks."""

    spark: object
    tracer: object
    scale: Scale
    inputs: str
    work: str
    generated: gen.Generated
    samples: dict[str, list[float]] = field(default_factory=dict)
    named: dict[str, tuple[float | None, str, int, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    state: dict = field(default_factory=dict)

    def sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def name(self, metric: str, values: list[float], unit: str, note: str = "") -> None:
        """Record a named end-to-end figure: median, unit, sample count."""
        v = statistics.median(values) if values else None
        self.named[metric] = (v, unit, len(values), note)


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value), or None with fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    r = n - 10
    return 100.0 * r / n, sorted(values)[r - 1]


def _close(a: float | None, b: float | None) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


# ---------------------------------------------------------------------------
# attribution: run_pipeline on fresh sinks, then the identical re-run
# ---------------------------------------------------------------------------

def attribution_generate(inputs: str, seed: int, scale: Scale) -> gen.Generated:
    return gen.attribution_inputs(inputs, seed, scale.replicas, scale.base_events,
                                  scale.base_users)


def attribution_oracle(g: gen.Generated) -> dict:
    """The channel report and scored-row count over the generated
    events, from the engine's DuckDB oracle twins (untimed)."""
    import duckdb

    from haensel_ams_data_engineer_challenge_spark.attribution import model as M
    from haensel_ams_data_engineer_challenge_spark.functions.scalars import dsum_sql

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{g.tables['events'].path}')"
        )
        prelude = M.oracle_with(M.JOURNEYS_CTE, M.SCORED_CTE)
        report = con.execute(prelude + f"""
            SELECT a.channel_name, a.event_date AS date,
                   {dsum_sql("COALESCE(co.cost, CAST(0.0 AS DOUBLE))", "cost")},
                   {dsum_sql("a.ihc", "ihc")},
                   {dsum_sql("a.ihc * a.revenue", "ihc_revenue")}
            FROM scored a LEFT JOIN costs co ON co.session_id = a.session_id
            GROUP BY 1, 2""").fetchall()
        scored_rows, scored_convs = con.execute(
            prelude + " SELECT COUNT(*), COUNT(DISTINCT conv_id) FROM scored"
        ).fetchone()
    finally:
        con.close()
    return {
        "report": {(r[0], r[1]): r[2:] for r in report},
        "scored_rows": scored_rows,
        "scored_convs": scored_convs,
    }


def attribution_setup(ctx: Ctx) -> None:
    """Ready = the session plus a first read of the generated events."""
    events = ctx.generated.tables["events"]
    with ctx.tracer.op("setup", "first_read"):
        n = ctx.spark.read.parquet(events.path).count()
    check(n == events.rows, f"events rows read {n} != generated {events.rows}")


def _pipeline(ctx: Ctx, role: str, name: str, work: str):
    from haensel_ams_data_engineer_challenge_spark.plans.pipeline import run_pipeline

    with ctx.tracer.op(role, name, [work]) as op:
        with ctx.tracer.span("run_pipeline"):
            r = run_pipeline(
                ctx.spark, ctx.inputs, f"{work}/attribution", f"{work}/report",
                report_csv_path=f"{work}/report_csv",
            )
        op.rows = r.attribution_rows_written + r.report_rows
    ctx.sample(role, op.wall_s)
    return r


def _check_pipeline(ctx: Ctx, r, work: str, rerun: bool) -> None:
    o = ctx.state["oracle"]
    check(r.sum_violations == 0, f"sum_violations = {r.sum_violations}")
    if rerun:
        check(r.attribution_rows_written == 0,
              f"re-run wrote {r.attribution_rows_written} attribution rows")
    else:
        check(r.attribution_rows_written == o["scored_rows"],
              f"wrote {r.attribution_rows_written} rows, oracle {o['scored_rows']}")
        check(r.conversions_scored == o["scored_convs"],
              f"scored {r.conversions_scored} conversions, oracle {o['scored_convs']}")
    check(r.report_rows == len(o["report"]),
          f"report rows {r.report_rows}, oracle {len(o['report'])}")
    with ctx.tracer.op("check", "report_readback"):
        got = {
            # partition discovery reads the date partition back as a date
            (row.channel_name, str(row.date)): (row.cost, row.ihc, row.ihc_revenue)
            for row in ctx.spark.read.parquet(f"{work}/report").collect()
        }
    check(got.keys() == o["report"].keys(), "report keys differ from the oracle")
    bad = [k for k, v in o["report"].items()
           if not all(_close(a, b) for a, b in zip(got[k], v))]
    check(not bad, f"{len(bad)} report rows differ from the oracle, e.g. "
                   f"{[(k, got[k], o['report'][k]) for k in bad[:2]]}")


def attribution_run(ctx: Ctx, seconds: float, attempt) -> None:
    """``first``: run_pipeline on fresh sinks in the fresh JVM.  Then the
    closed loop, for ``seconds`` and at least MIN_PAIRS times: ``write``
    (run_pipeline on fresh sinks) and ``read`` (the identical re-run: it
    reads the sink, writes 0 attribution rows and rewrites the report)."""
    ctx.state["oracle"] = attribution_oracle(ctx.generated)
    work = f"{ctx.work}/run0"
    if not attempt(lambda: _check_pipeline(
            ctx, _pipeline(ctx, "first", "pipeline", work), work, rerun=False)):
        return
    shutil.rmtree(work, ignore_errors=True)
    t0, i = time.perf_counter(), 1
    while i <= MIN_PAIRS or time.perf_counter() - t0 < seconds:
        work = f"{ctx.work}/run{i}"
        if attempt(lambda: _check_pipeline(
                ctx, _pipeline(ctx, "write", "pipeline", work), work, rerun=False)):
            attempt(lambda: _check_pipeline(
                ctx, _pipeline(ctx, "read", "pipeline_rerun", work), work, rerun=True))
        shutil.rmtree(work, ignore_errors=True)
        i += 1


def attribution_named(ctx: Ctx) -> None:
    ctx.name("pipeline_first_s", ctx.samples.get("first", []), "s")
    ctx.name("pipeline_s", ctx.samples.get("write", []), "s")
    ctx.name("pipeline_rerun_s", ctx.samples.get("read", []), "s")


# ---------------------------------------------------------------------------
# ingest_search: drain a feed, refresh the IVF index, then search
# ---------------------------------------------------------------------------

def ingest_search_generate(inputs: str, seed: int, scale: Scale) -> gen.Generated:
    return gen.ingest_search_inputs(inputs, seed, scale.n_base_docs, scale.feed_docs,
                                    scale.n_queries)


def _corpus(ctx: Ctx, with_admitted: bool = True):
    s = ctx.spark
    docs = s.read.parquet(ctx.generated.tables["documents"].path).select("doc_id", "text")
    if with_admitted:
        docs = docs.unionByName(s.read.parquet(ctx.state["sink"]).select("doc_id", "text"))
    return docs


def ingest_search_setup(ctx: Ctx) -> None:
    """Ready = the session plus a first read of the generated queries."""
    w, queries = ctx.work, ctx.generated.tables["queries"]
    ctx.state.update(
        sink=f"{w}/admitted", index=f"{w}/ann_index", feed=f"{w}/feed",
        queries=ctx.spark.read.parquet(queries.path), qid0=gen.QUERY_ID0,
    )
    os.makedirs(ctx.state["feed"], exist_ok=True)
    with ctx.tracer.op("setup", "first_read"):
        n = ctx.state["queries"].count()
    check(n == queries.rows, f"queries rows read {n} != generated {queries.rows}")


def _index_build(ctx: Ctx) -> None:
    """The first ANN request builds the persisted IVF index over the
    base corpus, as ``search --method ann`` does on first use."""
    from pyspark.sql import functions as F

    from haensel_ams_data_engineer_challenge_spark.operators.similarity import (
        ann_topk_ivf,
        hash_embed,
    )

    q = ctx.state["queries"].filter(F.col("query_id") == ctx.state["qid0"])
    with ctx.tracer.op("first", "ann_index_build", [ctx.state["index"]]) as op:
        rows = ann_topk_ivf(
            hash_embed(_corpus(ctx, with_admitted=False)),
            hash_embed(q, id_col="query_id"), k=K, index_path=ctx.state["index"],
        ).collect()
        op.rows = len(rows)
    ctx.sample("first", op.wall_s)
    check(len(rows) == K, f"index-build query returned {len(rows)} rows, not {K}")


def _ingest(ctx: Ctx) -> None:
    """Drain the feed (exact, persisted-Bloom and near-dup tiers), then
    append the admitted docs to the IVF index: the time until the new
    docs are searchable."""
    from haensel_ams_data_engineer_challenge_spark.operators.similarity import (
        hash_embed,
        ivf_index_append,
    )
    from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (
        run_streaming_ingest,
    )

    st, w, g = ctx.state, ctx.work, ctx.generated
    feed = g.tables["feed"]
    os.replace(feed.path, f"{st['feed']}/part-0.parquet")
    with ctx.tracer.op("write", "ingest", [w]) as op:
        with ctx.tracer.span("run_streaming_ingest") as drain:
            run_streaming_ingest(
                ctx.spark, g.tables["documents"].path, st["feed"], st["sink"],
                f"{w}/checkpoint",
                bloom_state_dir=f"{w}/bloom_state",
                near_dup_index_dir=f"{w}/minhash_index",
            )
        with ctx.tracer.span("ivf_index_append") as refresh:
            ivf_index_append(hash_embed(_corpus(ctx)), st["index"])
    ctx.sample("write", op.wall_s)
    ctx.sample("drain", drain["end"] - drain["start"])
    ctx.sample("index_refresh", refresh["end"] - refresh["start"])
    with ctx.tracer.op("check", "admitted_readback"):
        texts = [r.text for r in ctx.spark.read.parquet(st["sink"]).select("text").collect()]
    op.rows = st["admitted"] = len(texts)
    expected = g.facts["admitted"]
    check(len(texts) == len(set(texts)), "the admitted store holds duplicate texts")
    check(not set(texts) & g.facts["base_texts"], "an admitted text is in the base corpus")
    check(set(texts) == expected,
          f"admitted {len(texts)} docs, expected {len(expected)} "
          f"of {feed.rows} in ({feed.rows - len(expected)} duplicates)")


def _search(ctx: Ctx, method: str, qid: int, role: str = "read") -> None:
    from pyspark.sql import functions as F

    from haensel_ams_data_engineer_challenge_spark.operators.retrieval import bm25_topk
    from haensel_ams_data_engineer_challenge_spark.operators.similarity import (
        ann_topk_ivf,
        hash_embed,
    )

    q = ctx.state["queries"].filter(F.col("query_id") == qid)
    with ctx.tracer.op(role, method) as op:
        with ctx.tracer.span("build"):
            if method == "bm25":
                df = bm25_topk(_corpus(ctx), q, k=K, exclude_self=False)
            else:
                df = ann_topk_ivf(hash_embed(_corpus(ctx)), hash_embed(q, id_col="query_id"),
                                  k=K, index_path=ctx.state["index"])
        with ctx.tracer.span("execute"):
            rows = df.collect()
        op.rows = len(rows)
    if role == "read":
        ctx.sample(method, op.wall_s)
    check(len(rows) == K, f"{method} query {qid}: {len(rows)} rows, not {K}")
    check(sorted(r["rank"] for r in rows) == list(range(1, K + 1)),
          f"{method} query {qid}: ranks are not 1..{K}")
    check(all(r["query_id"] == qid for r in rows), f"{method} query {qid}: wrong query ids")


def _recall(ctx: Ctx) -> None:
    """Mean recall@K of IVF search against exact search, over a fixed
    set of queries served in one batch each way (untimed)."""
    from pyspark.sql import functions as F

    from haensel_ams_data_engineer_challenge_spark.operators.similarity import (
        ann_topk_brute,
        ann_topk_ivf,
        hash_embed,
    )

    n = min(RECALL_QUERIES, ctx.scale.n_queries)
    q = hash_embed(ctx.state["queries"].filter(F.col("query_id") < ctx.state["qid0"] + n),
                   id_col="query_id")
    found: dict[str, dict[int, set]] = {"ivf": {}, "exact": {}}
    with ctx.tracer.op("check", "recall"):
        for kind, df in (
            ("ivf", ann_topk_ivf(hash_embed(_corpus(ctx)), q, k=K,
                                 index_path=ctx.state["index"])),
            ("exact", ann_topk_brute(hash_embed(_corpus(ctx)), q, k=K)),
        ):
            for r in df.collect():
                found[kind].setdefault(r["query_id"], set()).add(r["neighbor_id"])
    check(len(found["exact"]) == n, f"exact search answered {len(found['exact'])} of {n}")
    recall = statistics.mean(
        len(found["ivf"].get(qid, set()) & hits) / K for qid, hits in found["exact"].items()
    )
    ctx.state["recall"] = recall
    check(recall >= ANN_RECALL_BOUND,
          f"ANN recall@{K} {recall:.3f} is below its bound {ANN_RECALL_BOUND}")


def ingest_search_run(ctx: Ctx, seconds: float, attempt) -> None:
    """``first``: build the base IVF index.  ``write``: drain the feed
    and refresh the index.  Then, after WARMUP_REQUESTS untimed requests
    of each kind, the closed loop for ``seconds``: ``read`` requests
    alternating BM25 and ANN over base plus admitted docs.  Last,
    untimed, ANN recall against exact search."""
    if not attempt(lambda: _index_build(ctx)) or not attempt(lambda: _ingest(ctx)):
        return
    # the first requests of each kind compile their plans and code
    # paths; they are checked but not timed
    for method in ("bm25", "ann") * WARMUP_REQUESTS:
        attempt(lambda: _search(ctx, method, ctx.state["qid0"], role="warmup"))
    t0, i = time.perf_counter(), 0
    while i < 2 or time.perf_counter() - t0 < seconds:
        qid = ctx.state["qid0"] + 1 + i % (ctx.scale.n_queries - 1)
        attempt(lambda: _search(ctx, "bm25" if i % 2 == 0 else "ann", qid))
        i += 1
    attempt(lambda: _recall(ctx))


def ingest_search_named(ctx: Ctx) -> None:
    s = ctx.samples
    feed = ctx.generated.tables["feed"].rows
    ctx.name("ann_index_build_s", s.get("first", []), "s")
    ctx.name("ingest_docs_per_s", [feed / v for v in s.get("write", [])], "1/s",
             "feed docs over drain plus index refresh")
    ctx.name("drain_s", s.get("drain", []), "s")
    ctx.name("index_refresh_s", s.get("index_refresh", []), "s")
    for m in ("bm25", "ann"):
        ctx.name(f"{m}_p50_s", s.get(m, []), "s")
        t = tail(s.get(m, []))
        if t:
            ctx.named[f"{m}_tail_s"] = (t[1], "s", len(s[m]), f"p{t[0]:.0f}")
        else:
            ctx.named[f"{m}_tail_s"] = (None, "s", len(s.get(m, [])),
                                        "fewer than 11 samples")
    if s.get("bm25") and s.get("ann"):
        s["read"] = [(statistics.median(s["bm25"]) + statistics.median(s["ann"])) / 2]


@dataclass
class Workload:
    why: str
    generate: Callable[[str, int, Scale], gen.Generated]
    setup: Callable[[Ctx], None]
    run: Callable[[Ctx, float, Callable], None]
    named: Callable[[Ctx], None]


WORKLOADS = {
    "attribution_x2": Workload(
        "sf0.1 events x2: JVM execution and sink writes dominate; the re-run "
        "reads the sinks the write-heavy run just wrote",
        attribution_generate, attribution_setup, attribution_run, attribution_named,
    ),
    "ingest_search": Workload(
        "streaming ingest writes the persisted artifacts, then small BM25 and "
        "ANN requests read them; fixed driver and planning costs dominate",
        ingest_search_generate, ingest_search_setup, ingest_search_run,
        ingest_search_named,
    ),
}
