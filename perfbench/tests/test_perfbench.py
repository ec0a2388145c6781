"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The run tests start one Spark JVM each on tiny inputs (about a minute
apiece) and use ``.bench_work/`` in the checkout like a real run.
"""

from __future__ import annotations

import dataclasses
import filecmp
import json
import os
import subprocess
import sys

import pytest

from perfbench import gen, run, trace
from perfbench.workload import WORKLOADS, same_rows

with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    BENCH = json.load(_fh)
TINY = dict(n_pages=40, n_new_pages=4, n_concepts=60, n_eq_chains=3, n_eq_cycles=2)

# run.main with every workload shrunk to TINY, in a fresh interpreter
_RUN_TINY = f"""
import dataclasses, sys
sys.path.insert(0, {run.ROOT!r})
from perfbench import run, workload as W
for name, spec in W.WORKLOADS.items():
    W.WORKLOADS[name] = dataclasses.replace(
        spec, shape=dataclasses.replace(spec.shape, **{TINY!r}))
sys.exit(run.main(sys.argv[1:]))
"""


def run_tiny(workload: str, traced: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _RUN_TINY, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(traced)],
        capture_output=True, text=True, cwd=run.ROOT, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_same_seed_gives_identical_parquet(tmp_path):
    shape = dataclasses.replace(WORKLOADS["web_crawl"].shape, **TINY)
    a = gen.write_parquet(gen.generate(shape, 7), str(tmp_path / "a"))
    b = gen.write_parquet(gen.generate(shape, 7), str(tmp_path / "b"))
    c = gen.write_parquet(gen.generate(shape, 8), str(tmp_path / "c"))
    for name in a:
        assert filecmp.cmp(a[name], b[name], shallow=False), name
    assert not filecmp.cmp(a["pages"], c["pages"], shallow=False)


def test_duplicate_rows_fail_the_check():
    from collections import Counter

    want = {("a", 1), ("b", 2)}
    assert same_rows(Counter([("a", 1), ("b", 2)]), want)
    assert not same_rows(Counter([("a", 1), ("b", 2), ("b", 2)]), want)
    assert not same_rows(Counter([("a", 1)]), want)


def test_benchmark_json_matches_the_runner():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.E2E_UNITS


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload):
    res = run_tiny(workload, 0)
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_names_every_job_and_layer_metric(workload):
    res = run_tiny(workload, 1)
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    jobs = trace.read_event_log(os.path.join(run.WORK, "events")).jobs()
    assert jobs
    groups = {g for _jid, g in jobs}
    assert groups <= set(trace.LAYERS) | {trace.CHECK_GROUP}, groups
