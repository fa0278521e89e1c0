"""Run one benchmark workload in a fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout that holds the engine package.  The
run generates its inputs from ``--seed`` under ``.bench_work/``, starts
Spark on ``local[nproc]``, sets up, runs the workload's closed loop
for ``--seconds`` and checks every output.  It prints a report (host
facts, inputs, every named metric with unit and sample count) and, as
its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer counters of a traced run, whose
spans are also written to ``.bench_work/traces/``.  The exit code is 0
only when every operation succeeded and every check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "haensel_ams_data_engineer_challenge_spark"

#: end-to-end metrics, printed with ``--trace 0``
END_TO_END = (
    ("setup_s", "s"), ("first_op_s", "s"), ("write_op_s", "s"), ("read_op_s", "s"),
)
ROLES = ("first", "write", "read")


def per_layer_names() -> list[tuple[str, str]]:
    """Per-layer metrics, printed with ``--trace 1``."""
    from tracing import OP_METRICS

    out = [("session.start_s", "s"), ("setup.ready_s", "s"),
           ("bench.generate_s", "s"), ("trace.overhead_s", "s"),
           ("process.peak_rss_mb", "MB")]
    out += [(f"{r}.{m}", u) for r in ROLES for m, u in OP_METRICS]
    out += [("ingest.batches", "count"), ("ingest.batch_busy_frac", "ratio"),
            ("ingest.admit_ratio", "ratio"), ("ann.recall_at_k", "ratio")]
    return out


def _args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full",
                   help="input size; smoke is ~sf0.001 for the benchmark's own tests")
    return p.parse_args(argv)


def _environment(bench: Path) -> dict[str, str]:
    """Pin the run environment before the JVM starts: all cores, every
    scratch file inside the checkout, and the checkout on the Python
    workers' import path."""
    tmp = bench / "tmp"
    local = bench / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_WAREHOUSE_DIR": str(bench / "warehouse"),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        # no JVM writes its perf-data file to /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") + " pyspark-shell",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = str(tmp)
    return env


def _source_id() -> dict[str, str]:
    """The git commit when the checkout is a repository, and always a
    digest of the engine's sources."""
    h = hashlib.sha1()
    for p in sorted((ROOT / PKG).rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = {"source_sha1": h.hexdigest()[:12]}
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--short", "HEAD"],
                           capture_output=True, text=True, check=False)
        out["commit"] = r.stdout.strip() or "unknown"
    else:
        out["commit"] = "n/a (not a git checkout)"
    return out


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stop(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spawned = _descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in spawned:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def main(argv: list[str] | None = None) -> int:
    a = _args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: no engine package {PKG}/ beside {HERE.name}/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    sys.path.insert(1, str(ROOT))
    import gen  # noqa: F401  (checks numpy/pyarrow before any work)
    import workloads as W
    from tracing import Tracer, self_times

    if a.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    wl, scale = W.WORKLOADS[a.workload], W.SCALES[a.scale]
    bench = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    env = _environment(bench)
    load_start, steal_start = os.getloadavg(), _steal_s()

    # inputs: generated before set-up, so their time is not in setup_s
    t_gen0 = time.perf_counter()
    generated = wl.generate(str(bench / "inputs"), a.seed, scale)
    t_gen1 = time.perf_counter()

    spark = None
    try:
        from haensel_ams_data_engineer_challenge_spark.session import get_spark

        tracer = Tracer(bool(a.trace))
        with tracer.span("session.get_spark"):
            t_s0 = time.perf_counter()
            spark = get_spark(f"perfbench-{a.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t_s0
        tracer.attach(spark)
        ctx = W.Ctx(spark, tracer, scale, str(bench / "inputs"), str(bench / "work"),
                    generated)
        os.makedirs(ctx.work, exist_ok=True)

        def attempt(fn) -> bool:
            ctx.attempted += 1
            try:
                fn()
                return True
            except Exception as exc:  # noqa: BLE001 - every failure is counted
                ctx.failed += 1
                ctx.errors.append(f"{type(exc).__name__}: {exc}")
                traceback.print_exc(file=sys.stderr)
                return False

        t_ready0 = time.perf_counter()
        ready = attempt(lambda: wl.setup(ctx))
        t_ready1 = time.perf_counter()
        setup_s = (t_gen0 - T_START) + (t_ready1 - t_gen1)
        if ready:
            wl.run(ctx, a.seconds, attempt)
        wl.named(ctx)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        peak_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + (
            _vm_hwm_kb(jvm.pid) if jvm else 0
        )
        versions = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(bench, ignore_errors=True)

    s = ctx.samples
    peak_rss_mb = peak_kb / 1024.0
    e2e = {
        "setup_s": setup_s,
        "first_op_s": statistics.median(s["first"]) if s.get("first") else None,
        "write_op_s": statistics.median(s["write"]) if s.get("write") else None,
        "read_op_s": statistics.median(s["read"]) if s.get("read") else None,
    }
    counts = {"setup_s": 1, "first_op_s": len(s.get("first", [])),
              "write_op_s": len(s.get("write", [])), "read_op_s": len(s.get("read", []))}

    # ---- report ------------------------------------------------------
    print(f"# perfbench workload={a.workload} seed={a.seed} seconds={a.seconds:g} "
          f"trace={a.trace} scale={a.scale}")
    print(f"# why: {wl.why}")
    host = {
        "nproc": env["SPARK_GRAFT_CPUS"],
        "loadavg_start": " ".join(f"{x:.2f}" for x in load_start),
        "loadavg_end": " ".join(f"{x:.2f}" for x in os.getloadavg()),
        "steal_s": f"{_steal_s() - steal_start:.2f}",
        "python": platform.python_version(), **versions, **_source_id(),
        "spark_local_dirs": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT),
    }
    print("# host " + " ".join(f"{k}={v}" for k, v in host.items()))
    for name, t in generated.tables.items():
        print(f"# input {name} rows={t.rows} bytes={t.bytes}")
    print(f"# generate_s={t_gen1 - t_gen0:.4f} (not in setup_s)")
    error_rate = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    for name, unit in END_TO_END:
        print(f"metric {name} value={e2e[name]} unit={unit} n={counts[name]}")
    for name, (v, unit, n, note) in ctx.named.items():
        print(f"metric {name} value={v} unit={unit} n={n}" + (f" ({note})" if note else ""))
    print(f"metric peak_rss_mb value={peak_rss_mb} unit=MB n=1 (driver Python plus JVM)")
    print(f"metric error_rate value={error_rate} unit=ratio n={ctx.attempted}")
    for err in ctx.errors:
        print(f"# failure: {err}")

    if a.trace:
        metrics = _per_layer(tracer, ctx, session_s, t_ready1 - t_ready0, t_gen1 - t_gen0,
                             peak_rss_mb)
        for o in tracer.ops:
            c = o.counters
            print(f"# op {o.op_id} {o.role}/{o.name} "
                  + " ".join(f"{k}={c[k]:.4g}" for k in c))
        st = self_times(tracer.spans)
        for sp in tracer.spans:
            print(f"# span {sp['span_id']} {sp['name']} parent={sp['parent']} "
                  f"op={sp['op_id']} dur_s={sp['end'] - sp['start']:.4f} "
                  f"self_s={st[sp['span_id']]:.4f}")
        trace_path = (ROOT / ".bench_work" / "traces"
                      / f"{a.workload}-{a.seed}-{os.getpid()}.jsonl")
        tracer.write_jsonl(str(trace_path))
        print(f"# trace written to {os.path.relpath(trace_path, ROOT)}; compare wall times "
              f"with an untraced run of the same seed for the full tracing overhead")
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}

    correct = ctx.failed == 0 and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": max(ctx.attempted, 1),
                      "failed": ctx.failed if ctx.attempted else 1, "metrics": metrics}))
    return 0 if correct else 1


def _per_layer(tracer, ctx, session_s: float, ready_s: float, gen_s: float,
               peak_rss_mb: float) -> dict:
    vals: dict[str, float] = {
        "session.start_s": session_s,
        "setup.ready_s": ready_s,
        "bench.generate_s": gen_s,
        "trace.overhead_s": tracer.overhead_s,
        "process.peak_rss_mb": peak_rss_mb,
    }
    for r in ROLES:
        for k, v in tracer.role_medians(r).items():
            vals[f"{r}.{k}"] = v
    ingest = [o for o in tracer.ops if o.name == "ingest" and o.counters]
    batches = sum(o.counters["stream_batches"] for o in ingest)
    busy_ms = sum(o.counters["stream_batch_ms"] for o in ingest)
    wall = sum(ctx.samples.get("drain", []))
    feed = ctx.generated.tables.get("feed")
    vals["ingest.batches"] = batches
    vals["ingest.batch_busy_frac"] = busy_ms / 1000.0 / wall if wall else 0.0
    vals["ingest.admit_ratio"] = (ctx.state.get("admitted", 0) / feed.rows) if feed else 0.0
    vals["ann.recall_at_k"] = ctx.state.get("recall", 0.0)
    return {n: {"value": vals.get(n), "unit": u} for n, u in per_layer_names()}


if __name__ == "__main__":
    sys.exit(main())
