"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q

The smoke tests run every workload once at ~sf0.001 in a subprocess,
with tracing off and on (each starts a JVM: about half a minute each).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _bench_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300, check=False,
    )


def test_benchmark_json_lists_what_the_run_prints():
    b = _bench_json()
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == run.per_layer_names()


def test_two_seeds_give_different_inputs_of_the_same_size(tmp_path):
    for name, wl in workloads.WORKLOADS.items():
        scale = workloads.SCALES["smoke"]
        a = wl.generate(str(tmp_path / f"{name}-a"), 1, scale)
        b = wl.generate(str(tmp_path / f"{name}-b"), 2, scale)
        again = wl.generate(str(tmp_path / f"{name}-a2"), 1, scale)
        assert a.tables.keys() == b.tables.keys()
        for t in a.tables:
            assert a.tables[t].rows == b.tables[t].rows
            bytes_a = Path(a.tables[t].path).read_bytes()
            assert bytes_a != Path(b.tables[t].path).read_bytes()
            assert bytes_a == Path(again.tables[t].path).read_bytes()


def test_feed_mix_is_what_the_ingest_check_expects():
    import numpy as np

    c = gen.corpus(np.random.default_rng(5), 200, 100)
    base, fresh, feed = set(c["base_texts"]), c["fresh"], c["feed_texts"]
    assert len(feed) == 100
    assert not fresh & base
    # 60 fresh texts; the rest re-send a base doc, copy a fresh one or
    # extend a base doc by one word
    assert len(fresh) == 60
    assert {t for t in feed if t not in base and t not in fresh} \
        == {t for t in feed if t.endswith(" dup")}


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke(workload, trace):
    p = _run("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--scale", "smoke")
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    declared = _bench_json()["end_to_end" if trace == "0" else "per_layer"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
    # every end-to-end metric, and each workload's named ones, print
    # with unit and sample count
    printed = {m.group(1): m for m in re.finditer(
        r"^metric (\S+) value=(\S+) unit=(\S+) n=(\d+)", p.stdout, re.M)}
    for name, _unit in run.END_TO_END:
        assert printed[name].group(2) != "None"
    assert "error_rate" in printed


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = _run("--workload", next(iter(workloads.WORKLOADS)), "--seed", "1",
             "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
    assert not (tmp_path / ".bench_work").exists() or not os.listdir(tmp_path / ".bench_work")
