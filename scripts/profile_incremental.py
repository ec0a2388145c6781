#!/usr/bin/env python3
"""Phase-level profiling of the rdfs_plus_entail_incremental bench row
(guide §1: measure first). Times, with the noop sink, the pieces the
query composes so the optimization targets the real cost:
  1. fixture build alone
  2. rdfs_plus_entail(base) alone
  3. full query (entail + delta)
Each phase runs in its own Spark job group and prints its wall time,
the CPU seconds of the process tree (this process, the JVM, the Python
workers; JIT compiler threads left out, as perfbench counts them), its
Spark jobs and the tasks those jobs completed.
Run: SPARK_GRAFT_SF_DIR=... python scripts/profile_incremental.py
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from perfbench.trace import tree_cpu_s  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def group_stats(sc, group: str) -> tuple[int, int]:
    """(Spark jobs, tasks they completed) of a job group."""
    # the status store is fed by the asynchronous listener bus. Only
    # completed tasks count: a skipped stage (shuffle output reused)
    # runs none, and the store evicts skipped stages first.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    infos = [tracker.getStageInfo(s) for s in stages]
    return len(jobs), sum(i.numCompletedTasks for i in infos if i is not None)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from sifr_project_java_ontology_processing_spark.plans.testdata_queries import (
        _rdfs_plus_fixture,
    )
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        rdfs_plus_entail,
        rdfs_plus_entail_delta,
    )
    from sifr_project_java_ontology_processing_spark.session import get_spark

    spark = get_spark(app_name="profile-incremental")
    sc = spark.sparkContext
    t: dict[str, tuple[float, float]] = {}
    pid = os.getpid()

    sc.setJobGroup("fixture", "fixture build")
    t0, c0 = time.perf_counter(), tree_cpu_s(pid)
    contains, adjacent, static = _rdfs_plus_fixture(spark, sf_dir)
    base = (
        contains.where(F.col("_k") % 7 != 0)
        .drop("_k")
        .unionByName(adjacent.where(F.col("_k") % 5 != 0).drop("_k"))
        .unionByName(static)
    )
    delta = (
        contains.where(F.col("_k") % 7 == 0)
        .drop("_k")
        .unionByName(adjacent.where(F.col("_k") % 5 == 0).drop("_k"))
    )
    noop(base)
    noop(delta)
    t["fixture"] = time.perf_counter() - t0, tree_cpu_s(pid) - c0

    sc.setJobGroup("entail_base", "rdfs_plus_entail(base) alone")
    t0, c0 = time.perf_counter(), tree_cpu_s(pid)
    entailed = rdfs_plus_entail(base, max_transitive_depth=6)
    noop(entailed)
    t["entail_base"] = time.perf_counter() - t0, tree_cpu_s(pid) - c0

    sc.setJobGroup("full_query", "full incremental query")
    t0, c0 = time.perf_counter(), tree_cpu_s(pid)
    entailed2 = rdfs_plus_entail(base, max_transitive_depth=6)
    out = rdfs_plus_entail_delta(entailed2, delta, max_transitive_depth=6)
    noop(out)
    t["full_query"] = time.perf_counter() - t0, tree_cpu_s(pid) - c0
    sc.setLocalProperty("spark.jobGroup.id", None)

    for k, (wall, cpu) in t.items():
        jobs, tasks = group_stats(sc, k)
        print(f"{k}: {wall:.2f}s  cpu={cpu:.2f}s  jobs={jobs}  tasks={tasks}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
