"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The smoke runs start Spark (about a minute each at tiny sizes); the
other tests need no session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import harness, workloads  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _launch(args: "list[str]", cwd: str, script: str = os.path.join(HERE, "run.py"),
            env: "dict | None" = None):
    return subprocess.run([sys.executable, script, *args], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _bench()["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace, tmp_path):
    p = _launch(["--workload", workload, "--seed", "3", "--seconds", "2",
                 "--trace", str(trace), "--tiny"], cwd=str(tmp_path))
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in _bench()[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())


def test_corrupted_result_fails_the_gate(tmp_path):
    from tdengine_spark.queries import REGISTRY

    wl = workloads.Query(str(tmp_path), seed=5, tiny=True)
    wl.generate()
    name = "session_windows_30m"
    spec = {name: REGISTRY[name].oracle}
    good = workloads.expected_results(wl.data, wl.tables, spec)[name]
    op = wl.query_op(name, None, 1, spec[name])
    assert wl.check_pass([op], {name: (good, None)}, {name: good}) == {}
    bad = good.copy()
    bad.loc[bad.index[0], "n_events"] += 1
    errors = wl.check_pass([op], {name: (bad, None)}, {name: good})
    assert set(errors) == {name}
    stats = harness.Stats(samples=[
        harness.Sample(name, 0.1, True, 10, "op"),
        harness.Sample("other", 0.1, True, 10, "op")], wall_s=1.0)
    res = harness.score(stats, errors, 1.0, 1.0)
    assert not res["correct"] and res["failed"] == 1
    assert res["metrics"]["success_ratio"]["value"] == 0.5


def test_raised_exception_counts_as_failed():
    def boom(first):
        raise RuntimeError("boom")

    ops = [harness.Op("fine", lambda first: None, rows=1),
           harness.Op("boom", boom, rows=1)]
    stats = harness.Stats()
    harness.measure(ops, 0.05, stats)
    res = harness.score(stats, {}, 1.0, 1.0)
    assert res["attempted"] >= 2 and res["failed"] >= 1 and not res["correct"]
    assert 0.0 < res["metrics"]["success_ratio"]["value"] < 1.0


def test_jaccard_oracle_matches_brute_force_sql(tmp_path):
    import tdengine_spark.queries_pipeline  # noqa: F401  (registers)
    from tdengine_spark.queries import REGISTRY

    wl = workloads.Query(str(tmp_path), seed=7, tiny=True)
    wl.generate()
    sql = REGISTRY["minhash_near_dup_pairs"].oracle
    got = workloads.expected_results(wl.data, wl.tables, {"x": workloads.JACCARD})["x"]
    want = workloads.expected_results(wl.data, wl.tables, {"x": sql})["x"]
    assert len(want) > 0
    assert workloads.compare(got, want) is None


def test_without_the_program_exits_nonzero_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = _launch(["--workload", "query", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=str(tmp_path), script="perfbench/run.py",
                env=env)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
