"""Connected-components canonicalization vs a union-find oracle."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from sifr_project_java_ontology_processing_spark.operators.canonicalize import (
    canonical_mapping,
    connected_components,
    salted_collect_set,
    salted_count,
)


from .oracle import union_find_oracle as _uf_oracle


def _check(spark, edges, thresholds=(200_000, 0), node_type="string"):
    df = spark.createDataFrame(edges, f"src {node_type}, dst {node_type}")
    want = _uf_oracle(edges)
    want_nonroot = {k: v for k, v in want.items() if k != v}
    # both physical strategies must agree with the oracle:
    # driver union-find (small-graph fast path) and distributed stars
    for threshold in thresholds:
        cc = connected_components(df, driver_threshold=threshold)
        assert cc.schema.simpleString() == (
            f"struct<iri:{node_type},canonical_iri:{node_type}>"
        )
        got = {r["iri"]: r["canonical_iri"] for r in cc.collect()}
        assert got == want_nonroot, (threshold, got, want_nonroot)


def test_cc_driver_threshold_both_sides(spark, monkeypatch):
    """|E| (distinct directed non-loop edges) at the threshold stays on
    the driver; one edge over it, or threshold 0, goes distributed —
    only the distributed path materializes the edge set."""
    import sifr_project_java_ontology_processing_spark.operators.canonicalize as cz

    edges = [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "x"),
             ("b", "a"), ("q", "q")]  # a duplicate and a self-loop
    n = 5
    calls = []
    real = cz.materialize_once
    monkeypatch.setattr(cz, "materialize_once", lambda df: calls.append(1) or real(df))
    for threshold, distributed in ((n, False), (n - 1, True), (0, True)):
        calls.clear()
        _check(spark, edges, thresholds=(threshold,))
        assert bool(calls) == distributed, (threshold, len(calls))


def test_cc_empty_edge_set(spark):
    _check(spark, [], thresholds=(200_000, 1, 0))


def test_cc_long_node_ids(spark):
    edges = [(3, 1), (2, 3), (7, 8), (9, 8), (10, 10)]
    _check(spark, edges, thresholds=(200_000, 3, 0), node_type="bigint")


def test_canonical_mapping_small_path_broadcasts(spark):
    mappings = spark.createDataFrame(
        [("a", "eq", "b"), ("b", "eq", "c")],
        "source_iri string, property string, target_iri string",
    )
    all_iris = spark.createDataFrame([("a",), ("b",), ("c",), ("z",)], "iri string")
    got = canonical_mapping(mappings, ["eq"], all_iris)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    assert sorted(map(tuple, got.collect())) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("z", "z")
    ]


def test_cc_chain_cycle_singleton(spark):
    _check(spark, [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "x")])


def test_cc_long_chain(spark):
    edges = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(60)]
    _check(spark, edges)


def test_cc_raises_when_max_iter_ends_before_fixpoint(spark):
    """The distributed star rounds raise when the last allowed round
    still changed the edge set; the default max_iter converges to the
    union-find mapping."""
    import pytest

    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)]
    df = spark.createDataFrame(edges, "src string, dst string")
    with pytest.raises(ValueError, match="connected_components: no fixpoint"):
        connected_components(df, driver_threshold=0, max_iter=1)
    _check(spark, edges, thresholds=(0,))


def test_cc_random_graph(spark):
    rng = random.Random(3)
    nodes = [f"v{i:02d}" for i in range(50)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(70)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_canonical_mapping_with_isolated(spark):
    mappings = spark.createDataFrame(
        [("a", "eq", "b"), ("b", "eq", "c"), ("p", "rel", "q")],
        "source_iri string, property string, target_iri string",
    )
    all_iris = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("p",), ("q",), ("z",)], "iri string"
    )
    got = {
        r["iri"]: r["canonical_iri"]
        for r in canonical_mapping(mappings, ["eq"], all_iris).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "p": "p", "q": "q", "z": "z"}


def test_salted_count_matches_plain(spark):
    df = spark.range(0, 5000).withColumn(
        "k", F.when(F.col("id") % 10 < 8, "hot").otherwise(F.concat(F.lit("k"), F.col("id") % 7))
    )
    got = {r["k"]: r["n"] for r in salted_count(df, ["k"], salt_buckets=8).collect()}
    want = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    assert got == want


def test_salted_collect_set_matches_plain(spark):
    df = spark.range(0, 2000).select(
        (F.col("id") % 5).cast("string").alias("k"),
        (F.col("id") % 37).cast("string").alias("v"),
    )
    got = {r["k"]: r["values"] for r in salted_collect_set(df, ["k"], "v", 4).collect()}
    want = {
        r["k"]: sorted(r["s"])
        for r in df.groupBy("k").agg(F.collect_set("v").alias("s")).collect()
    }
    assert got == want


def test_salted_join_equals_plain_join(spark):
    """Skew salting must be a pure physical rewrite: row-identical to
    the plain join, hot key spread across (key, salt) reducers."""
    from pyspark.sql import functions as F

    from sifr_project_java_ontology_processing_spark.operators.canonicalize import (
        salted_join,
    )

    # heavily skewed facts: one hot key with 5000 rows, tail of 50
    facts = spark.range(5000).select(F.lit("hot").alias("k"), F.col("id").alias("v")).unionByName(
        spark.range(50).select(F.concat(F.lit("t"), F.col("id")).cast("string").alias("k"), F.col("id").alias("v"))
    )
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"t{i}", f"D{i}") for i in range(0, 50, 2)],
        "k string, attr string",
    )
    for how in ("inner", "left"):
        got = salted_join(facts, dim, "k", salt_buckets=8, how=how)
        want = facts.join(dim, "k", how)
        assert got.count() == want.count(), how
        g = {(r["k"], r["v"], r["attr"]) for r in got.collect()}
        w = {(r["k"], r["v"], r["attr"]) for r in want.collect()}
        assert g == w, how
    # the join key includes the salt → the shuffle spreads the hot key
    plan = salted_join(facts, dim, "k", salt_buckets=8)._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan


def test_apply_canonical_map(spark):
    """Standalone rewrite of a triples frame by a merge map: subjects
    always, IRI objects only; merge-created self-loops drop while
    asserted self-loops survive; unmapped nodes pass through."""
    from sifr_project_java_ontology_processing_spark.operators.canonicalize import (
        apply_canonical_map,
    )

    S = "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean"
    triples = spark.createDataFrame(
        [
            ("b", "p", "x", None, False),        # subj rewrites b→a
            ("x", "p", "b", None, False),        # obj rewrites b→a
            ("b", "lbl", "b", None, True),       # literal 'b' must NOT rewrite
            ("a", "p", "b", None, False),        # both sides → a: merge loop, drops
            ("z", "p", "z", None, False),        # asserted self-loop survives
            ("u", "p", "v", None, False),        # unmapped passthrough
        ],
        S,
    )
    mapping = spark.createDataFrame([("b", "a")], "iri string, canonical_iri string")
    got = {
        (r.subj, r.pred, r.obj, r.obj_is_literal)
        for r in apply_canonical_map(triples, mapping).collect()
    }
    assert got == {
        ("a", "p", "x", False),
        ("x", "p", "a", False),
        ("a", "lbl", "b", True),
        ("z", "p", "z", False),
        ("u", "p", "v", False),
    }
    # drop_self_loops=False keeps the merge-created loop
    kept = apply_canonical_map(triples, mapping, drop_self_loops=False)
    assert ("a", "p", "a") in {(r.subj, r.pred, r.obj) for r in kept.collect()}


def test_apply_canonical_map_set_semantics(spark):
    """Distinct inputs collapsing onto one canonical row dedupe by
    default (a graph is a set); dedup=False keeps the raw multiplicity
    for callers with a downstream distinct."""
    from sifr_project_java_ontology_processing_spark.operators.canonicalize import (
        apply_canonical_map,
    )

    S = "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean"
    triples = spark.createDataFrame(
        [("b", "p", "x", None, False), ("a", "p", "x", None, False)], S
    )
    mapping = spark.createDataFrame([("b", "a")], "iri string, canonical_iri string")
    assert apply_canonical_map(triples, mapping).count() == 1
    assert apply_canonical_map(triples, mapping, dedup=False).count() == 2


def test_ifp_resolution_composes_with_rewrite(spark):
    """End-to-end ER: IFP collision → components → rewrite."""
    from sifr_project_java_ontology_processing_spark.operators.canonicalize import (
        apply_canonical_map,
    )
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_INVERSE_FUNCTIONAL,
        RDF_TYPE,
        ifp_entity_resolution,
    )

    S = "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean"
    triples = spark.createDataFrame(
        [
            ("p:mbox", RDF_TYPE, OWL_INVERSE_FUNCTIONAL, None, False),
            ("n2", "p:mbox", "k@e", None, True),
            ("n1", "p:mbox", "k@e", None, True),
            ("n2", "p:knows", "n9", None, False),
        ],
        S,
    )
    merged = apply_canonical_map(triples, ifp_entity_resolution(triples))
    got = {(r.subj, r.pred, r.obj) for r in merged.collect()}
    assert ("n1", "p:knows", "n9") in got          # n2 rewrote to n1
    assert not any(s == "n2" for s, _, _ in got)   # n2 fully absorbed
