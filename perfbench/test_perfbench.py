"""Tests of the benchmark itself.  Run from the repository root:

    python3 -m pytest perfbench -q

They start Spark and run every workload on the benchmark's own inputs,
so they take several minutes."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import run
from perfbench.tracing import Tracer
from perfbench.workloads import WORKLOADS, ExactRanks

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_tail_is_highest_percentile_with_ten_beyond():
    times = [float(i) for i in range(30)]
    assert run.tail(times) == (19.0, 100.0 * 20 / 30)
    assert run.tail(times[:20]) == (9.0, 50.0)
    # too few samples for a percentile above the median: the maximum
    assert run.tail(times[:19]) == (18.0, 100.0)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_exact_ranks_cover_ties():
    r = ExactRanks(np.array([1.0, 2.0, 2.0, 2.0, 5.0]))
    lo, hi = r.interval([2.0, 3.0, 0.0])
    assert lo.tolist() == [1, 4, 0] and hi.tolist() == [4, 4, 0]
    # p = 0.5 -> rank 2.5 lies inside [1, 4] of the value 2
    assert r.quantile_error([0.5], [2.0]) == 0.0
    assert r.quantile_error([0.5], [5.0]) == pytest.approx(1.5 / 5)


def test_metric_names_and_benchmark_json():
    for names in (run.END_TO_END, run.PER_LAYER):
        assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(run.END_TO_END) <= 16 and len(run.PER_LAYER) <= 128
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def _env(**extra):
    """The environment without PYTHONPATH: run.py finds the library
    from its own location."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(extra)
    return env


def _processes_with(marker: str) -> list[int]:
    """Processes whose environment holds ``marker``: every process a run
    starts (the JVM, the Python worker daemon, its workers) inherits the
    run's environment."""
    out = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if marker.encode() in f.read():
                    out.append(int(d))
        except (OSError, ValueError):
            continue
    return out


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    # Python workers start in the repository root and import from it
    s = run.start_spark(str(tmp_path_factory.mktemp("spark")))
    yield s
    run.stop_spark(s)
    run.end_children(60)


def _build(spark, name, root, seed):
    w = WORKLOADS[name](spark, str(root), seed)
    w.setup()
    w.reference()
    return w


def _deterministic(w):
    """Per job: the figures that depend only on the inputs.  Every job
    must pass its check."""
    out = {}
    for job in w.jobs():
        o = job.check(job.call(Tracer(False)))
        if job.cleanup is not None:
            job.cleanup()
        assert o.ok, f"{job.name}: {o.detail}"
        out[job.name] = (o.state_bytes, o.rank_err, o.distinct_err,
                         o.counts)
    return out


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_seed_determines_inputs_and_results(spark, tmp_path, name):
    a = _build(spark, name, tmp_path / "a", 5)
    b = _build(spark, name, tmp_path / "b", 5)
    c = _build(spark, name, tmp_path / "c", 6)
    assert a.checksum == b.checksum
    assert a.checksum != c.checksum
    assert _deterministic(a) == _deterministic(b)


# grouped_skew adds the state census, whose factories ship to executors
@pytest.mark.parametrize("name", ["rank_probe", "grouped_skew"])
def test_traced_run_prints_every_layer_metric(name):
    tag = f"{os.getpid()}-{name}"
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name,
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, env=_env(PERFBENCH_TEST_RUN=tag), capture_output=True,
        text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    # the run stopped every process it started before it exited
    assert _processes_with(f"PERFBENCH_TEST_RUN={tag}") == []
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.PER_LAYER)
    assert "trace.overhead_s" in p.stdout


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "token_scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=_env(), capture_output=True, text=True,
        timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
