"""Per-partition lineage + metrics (north_rule; SURVEY.md A9/S10).

The reference dumps one CSV row of process-global counters at the end
(stats/OntologyStats.java:63-84). At cluster scale that design can't
attribute work or loss to an input slice, so here metrics are ROWS:
``(run_id, stage, part_id, counter, value)`` aggregated from the data
itself — ``groupBy`` over outcome tags, never Spark accumulators (those
double-count under task retries/speculation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_counts(
    df: DataFrame, run_id: str, stage: str, part_col: str = "part_id"
) -> DataFrame:
    """METRICS-schema rows: one ``rows`` counter per producing partition.
    Stages built on mapInPandas carry ``part_id`` (TaskContext partition);
    for purely relational stages pass ``part_col=None``-like via
    ``spark_partition_id()`` by projecting it first."""
    src = df
    if part_col not in df.columns:
        src = df.withColumn(part_col, F.spark_partition_id())
    return (
        src.groupBy(F.col(part_col).alias("part_id"))
        .agg(F.count(F.lit(1)).alias("value"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.col("part_id"),
            F.lit("rows").alias("counter"),
            F.col("value"),
        )
    )


def counter_metrics(
    df: DataFrame, run_id: str, stage: str, *tag_cols: str
) -> DataFrame:
    """Outcome-tag counters (e.g. cascade ``cui_stage``, ``tui_stage``)
    as METRICS rows (part_id = -1: a run-level counter). Several tag
    columns with disjoint tag values are counted in ONE aggregate."""
    return (
        df.select(F.explode(F.array(*tag_cols)).alias("counter"))
        .groupBy("counter")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.lit(-1).alias("part_id"),
            F.col("counter"),
            F.col("value"),
        )
    )


def graph_diff(
    old: DataFrame,
    new: DataFrame,
) -> DataFrame:
    """Release diff between two triple graphs: one row per changed
    triple, (subj, pred, obj, obj_lang, obj_is_literal, change) with
    change ∈ {'added', 'removed'} — the ontology-release comparison the
    reference does by re-running its counters on both versions
    (compareCUIsToUMLS / MetricsWriter shape) done directly on the
    statements.

    Scale shape: two null-safe anti-joins (eqNullSafe on the 5 triple
    columns) — each side is scanned once; no collect, no full outer
    join materializing the (much larger) unchanged intersection."""
    cols = ["subj", "pred", "obj", "obj_lang", "obj_is_literal"]
    o = old.select(*cols)
    n = new.select(*cols)

    def anti(left: DataFrame, right: DataFrame) -> DataFrame:
        cond = None
        for c in cols:
            eq = left[c].eqNullSafe(right[c])
            cond = eq if cond is None else (cond & eq)
        return left.join(right, cond, "left_anti")

    added = anti(n, o).withColumn("change", F.lit("added"))
    removed = anti(o, n).withColumn("change", F.lit("removed"))
    return added.unionByName(removed).distinct()
