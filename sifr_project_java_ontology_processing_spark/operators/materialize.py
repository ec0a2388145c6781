"""Single shared materialize-once primitive.

Several operators have an intermediate that multiple plan branches
consume (the pruned token stream, LSH band/candidate frames, the
capped shingle stream). Spark does not dedupe duplicated subtrees —
divergent column pruning defeats exchange canonicalization (verified
empirically, round 3) — so without materialization each consumer
re-runs the whole upstream pipeline, including Python UDF passes.

``materialize_once`` is an eager ``localCheckpoint`` with DISK-ONLY
2-REPLICA storage when the runtime supports a storage level (Spark
4.x): blocks live on two executors, so a single executor loss — the
routine event on a 1000-node preemptible cluster — does NOT abort the
job the way default (unreplicated) local checkpoints would. The
remaining trade-offs, accepted deliberately:

  * plan construction triggers a Spark job (the materialization is
    eager by design — lazy persist lets concurrent branches race and
    double-compute);
  * a simultaneous loss of BOTH replicas still fails the job; an
    intermediate worth the extra I/O would need ``DataFrame.checkpoint``
    to reliable storage under a configured checkpoint dir.

``fixpoint`` is the package's one accumulating round loop: one
checkpoint policy, one convergence test, one place to inject faults.

``local_frame`` is the other direction: rows built on the driver (a
closure, a compiled schema, a union-find result) become a frame whose
optimized plan is a ``LocalRelation``, so reading it starts no Python
worker.
"""

from __future__ import annotations

from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


def materialize_once(df: DataFrame) -> DataFrame:
    """Compute ``df`` exactly once, now; return a lineage-cut frame all
    downstream branches read from (cluster: replicated) disk blocks."""
    master = df.sparkSession.sparkContext.master or ""
    # local mode has one block manager — requesting 2 replicas only
    # produces a warning per block, never a second copy
    level = StorageLevel.DISK_ONLY if master.startswith("local") else (
        StorageLevel.DISK_ONLY_2
    )
    try:
        return df.localCheckpoint(eager=True, storageLevel=level)
    except TypeError:  # older API without storageLevel
        return df.localCheckpoint(eager=True)


def local_frame(spark: SparkSession, rows: list, schema: "StructType | str") -> DataFrame:
    """Driver-built ``rows`` (tuples in ``schema`` order; ``schema`` a
    StructType or a DDL string) as a frame. It goes through pandas and
    Arrow, so the optimized plan is a ``LocalRelation``: a list given
    to ``createDataFrame`` becomes a ``LogicalRDD``, and every scan of
    that starts Python workers. An empty pandas frame still takes the
    RDD path, so empty input is a ``limit(0)``, which the optimizer
    folds into an empty ``LocalRelation``."""
    import pandas as pd

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    pdf = pd.DataFrame(rows, columns=schema.fieldNames())
    df = spark.createDataFrame(pdf, schema)
    return df if rows else df.limit(0)


def fixpoint(
    seed: DataFrame,
    step: Callable[[DataFrame, DataFrame], DataFrame | None],
    *,
    max_rounds: int,
) -> tuple[DataFrame, bool]:
    """``(acc, converged)``: ``seed`` grown by ``step`` rounds until one
    adds nothing. ``step(delta, acc)`` gets the last round's new rows
    (round 1: the seed, the same object as ``acc``) and returns the
    genuinely new ones — deduplicated, anti-joined against ``acc`` —
    or None when no rule applies. The seed and every round are eagerly
    ``localCheckpoint``-ed, so the per-round ``isEmpty`` probe reads
    materialized blocks and ``acc`` is a union of checkpointed leaves,
    never re-copied. ``converged`` is False when round ``max_rounds``
    still added rows (always, for ``max_rounds`` < 1)."""
    acc = delta = seed.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        new = step(delta, acc)
        if new is None:
            return acc, True
        new = new.localCheckpoint(eager=True)
        if new.isEmpty():
            return acc, True
        acc, delta = acc.unionByName(new), new
    return acc, False
