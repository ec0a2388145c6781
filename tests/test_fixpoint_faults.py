"""Fault injection into the one accumulating round loop
(``operators/materialize.fixpoint``): a fresh ``local[2,2]`` JVM (two
task attempts allowed) runs every loop built on it twice — once as
is, once with the loop's step wrapped so the FIRST attempt of every
task that computes a round fails — and the rows must be identical.
Spark's task retry plus the per-round eager checkpoint must hide the
failure; a round that read a half-written checkpoint or counted a
failed attempt's rows would show up as a row difference."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json
import time

from pyspark import TaskContext
from pyspark.sql import functions as F

from sifr_project_java_ontology_processing_spark.operators import (
    graph,
    inference,
    materialize,
)
from sifr_project_java_ontology_processing_spark.session import get_spark

spark = get_spark(app_name="fixpoint-faults", master="local[2,2]", shuffle_partitions=4)
sc = spark.sparkContext
TRIPLES = "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean"


def iri(s, p, o):
    return (s, p, o, None, False)


edges = spark.createDataFrame(
    [("a", "b"), ("b", "c"), ("c", "d"), ("x", "l"), ("x", "r"), ("l", "y"),
     ("r", "y"), ("p", "q"), ("q", "p"), ("d", "e")],
    "src string, dst string",
)
sources = spark.createDataFrame([("a",), ("x",)], "node string")
restr = spark.createDataFrame([
    iri("A", inference.OWL_ALLVALUES, "D"),
    iri("A", inference.OWL_ONPROPERTY, "p"),
    iri("S", inference.OWL_SOMEVALUES, "D"),
    iri("S", inference.OWL_ONPROPERTY, "p"),
    iri("a", inference.RDF_TYPE, "A"),
    iri("a", "p", "b"),
], TRIPLES)
chain_facts = spark.createDataFrame(
    [iri(f"n{i}", "p:p", f"n{i + 1}") for i in range(5)]
    + [iri(f"n{i}", "p:q", f"m{i}") for i in range(5)],
    TRIPLES,
)
chains = [("p:g", ["p:p", "p:q"]), ("p:h", ["p:p", "p:g"])]

OPS = {
    "transitive_closure": lambda: graph.transitive_closure(edges, driver_threshold=0),
    "bfs_distances": lambda: graph.bfs_distances(edges, sources),
    "restrictions_entail": lambda: inference.restrictions_entail(restr),
    "apply_property_chains": lambda: inference.apply_property_chains(chain_facts, chains),
}


def run_all(tag):
    rows, failed = {}, {}
    for name, op in OPS.items():
        group = f"{tag}-{name}"
        sc.setJobGroup(group, group)
        try:
            rows[name] = sorted(map(tuple, op().collect()), key=repr)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        stages = {s for j in tracker.getJobIdsForGroup(group)
                  for s in tracker.getJobInfo(j).stageIds}
        infos = [tracker.getStageInfo(s) for s in stages]
        failed[name] = sum(i.numFailedTasks for i in infos if i is not None)
    return rows, failed


def _fail_first_attempt(_x):
    if TaskContext.get().attemptNumber() == 0:
        raise RuntimeError("injected first-attempt failure")
    return True


fail_first = F.udf(_fail_first_attempt, "boolean").asNondeterministic()
real_fixpoint = materialize.fixpoint


def injected_fixpoint(seed, step, *, max_rounds):
    def faulty_step(delta, acc):
        new = step(delta, acc)
        return None if new is None else new.where(fail_first(F.lit(1)))

    return real_fixpoint(seed, faulty_step, max_rounds=max_rounds)


clean, _ = run_all("clean")
for module in (graph, inference):
    module.fixpoint = injected_fixpoint
start = time.time()
faulty, failed = run_all("faulty")
print("RESULT " + json.dumps({
    "same": {name: clean[name] == faulty[name] for name in OPS},
    "rows": {name: len(clean[name]) for name in OPS},
    "failed_tasks": failed,
    "injected_run_s": round(time.time() - start, 1),
}))
spark.stop()
"""


def test_fixpoint_loops_survive_first_attempt_failures(tmp_path):
    script = tmp_path / "inject.py"
    script.write_text(_SCRIPT)
    path = [REPO] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path))
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")][-1]
    result = json.loads(line[len("RESULT "):])
    assert all(result["same"].values()), result
    assert all(n > 0 for n in result["rows"].values()), result
    # every loop really ran its rounds through the failing step
    assert all(n > 0 for n in result["failed_tasks"].values()), result
