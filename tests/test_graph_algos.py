"""Graph analytics round-4 additions (operators/graph.py):
triangle_count (degree-oriented wedge join), bfs_distances
(multi-source frontier BFS), label_propagation (deterministic
synchronous LPA). Exact expected outputs on hand-checked graphs."""

from __future__ import annotations

from pyspark.sql import functions as F

from sifr_project_java_ontology_processing_spark.operators.graph import (
    _argmax_label,
    bfs_distances,
    label_propagation,
    pagerank,
    triangle_count,
)

K4 = [(x, y) for i, x in enumerate("abcd") for y in "abcd"[i + 1 :]]


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def test_triangle_count_k4(spark):
    tc = {r.node: r.triangles for r in triangle_count(_edges(spark, K4)).collect()}
    assert tc == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_triangle_count_pendant_zero(spark):
    tc = {
        r.node: r.triangles
        for r in triangle_count(_edges(spark, K4 + [("a", "p")])).collect()
    }
    assert tc == {"a": 3, "b": 3, "c": 3, "d": 3, "p": 0}


def test_triangle_count_direction_and_dup_invariant(spark):
    """The undirected triangle set must not change under reversed or
    duplicated edges (and self-loops are dropped)."""
    noisy = K4 + [(y, x) for x, y in K4] + K4 + [("a", "a")]
    tc = {r.node: r.triangles for r in triangle_count(_edges(spark, noisy)).collect()}
    assert tc == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_triangle_count_two_triangles_sharing_edge(spark):
    # a-b-c and a-b-d: shared edge (a,b) → a,b in 2; c,d in 1
    rows = [("a", "b"), ("b", "c"), ("a", "c"), ("b", "d"), ("a", "d")]
    tc = {r.node: r.triangles for r in triangle_count(_edges(spark, rows)).collect()}
    assert tc == {"a": 2, "b": 2, "c": 1, "d": 1}


def test_bfs_shortcut_takes_min_dist(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")])
    srcs = spark.createDataFrame([("a",)], "node string")
    d = {r.node: r.dist for r in bfs_distances(e, srcs).collect()}
    assert d == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_multi_source_and_unreachable_absent(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")])
    srcs = spark.createDataFrame([("a",), ("d",)], "node string")
    d = {r.node: r.dist for r in bfs_distances(e, srcs).collect()}
    assert d == {"a": 0, "d": 0, "b": 1, "c": 1}
    d2 = {
        r.node: r.dist
        for r in bfs_distances(
            e, spark.createDataFrame([("c",)], "node string")
        ).collect()
    }
    assert d2 == {"c": 0, "d": 1}  # a, b unreachable → absent


def test_bfs_directed_not_symmetrized(spark):
    e = _edges(spark, [("a", "b")])
    d = {
        r.node: r.dist
        for r in bfs_distances(
            e, spark.createDataFrame([("b",)], "node string")
        ).collect()
    }
    assert d == {"b": 0}


def test_bfs_cycle_terminates(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    srcs = spark.createDataFrame([("a",)], "node string")
    d = {r.node: r.dist for r in bfs_distances(e, srcs, max_depth=50).collect()}
    assert d == {"a": 0, "b": 1, "c": 2}


# Spark jobs bfs_distances may run over a 6-level chain: every level is
# one fixpoint round (frontier join, dedup, anti-join, one eager
# checkpoint, one isEmpty probe) and the visited set is never
# re-checkpointed. Measured 54 jobs in 8 runs of a 4-core host (60
# while each level also re-copied the visited set); the bound leaves
# room for adaptive execution to split a stage into a job of its own.
BFS_CHAIN_MAX_JOBS = 56


def test_bfs_job_guard_on_a_chain(spark):
    from .test_inference import _jobs_of

    e = _edges(spark, [(f"v{i}", f"v{i + 1}") for i in range(6)])
    srcs = spark.createDataFrame([("v0",)], "node string")
    rows, jobs, _tasks = _jobs_of(
        spark, "bfs_chain_job_guard", lambda: bfs_distances(e, srcs).collect()
    )
    assert {r.node: r.dist for r in rows} == {f"v{i}": i for i in range(7)}
    assert jobs <= BFS_CHAIN_MAX_JOBS, jobs


def test_lpa_two_cliques_bridge(spark):
    """Two triangles bridged by one edge: each clique converges to one
    label; fully deterministic under the (count desc, label asc) rule."""
    rows = [
        ("a", "b"), ("b", "c"), ("a", "c"),
        ("x", "y"), ("y", "z"), ("x", "z"),
        ("c", "x"),
    ]
    out = {r.node: r.label for r in label_propagation(_edges(spark, rows), iterations=3).collect()}
    assert out["a"] == out["b"] == out["c"]
    assert out["x"] == out["y"] == out["z"]
    # rerun must give the identical assignment (determinism)
    out2 = {r.node: r.label for r in label_propagation(_edges(spark, rows), iterations=3).collect()}
    assert out == out2


def test_lpa_clique_converges_to_min_label(spark):
    """A 5-clique after 2 synchronous iterations: every node carries
    the lexically smallest node id (hand-derived: round 1 sends the
    min label everywhere except the min node itself; round 2 fixes
    the min node by majority)."""
    nodes = ["n1", "n2", "n3", "n4", "n5"]
    rows = [(x, y) for i, x in enumerate(nodes) for y in nodes[i + 1 :]]
    out = {r.node: r.label for r in label_propagation(_edges(spark, rows), iterations=2).collect()}
    assert out == {n: "n1" for n in nodes}


def test_lpa_argmax_plan_has_no_window(spark):
    """Scale gate (round-5 VERDICT): the per-iteration argmax must be
    the sort-free two-stage partial aggregate — a Window partitioned by
    the raw node column serializes a hub's whole neighborhood into one
    task at iteration 1. Inspect the physical plan pre-checkpoint."""
    counted = spark.createDataFrame(
        [("a", "x", 2), ("a", "y", 2), ("b", "x", 1)],
        "node string, label string, _c long",
    )
    plan = _argmax_label(counted)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # and it still computes the deterministic (max count, min label) pick
    out = {r.node: r.label for r in _argmax_label(counted).collect()}
    assert out == {"a": "x", "b": "x"}


def test_personalized_pagerank_edgeless_seed_keeps_teleport_floor(spark):
    """ADVICE round-4: a reset/seed node with NO edges must still appear
    in the output with its (1-d) teleport floor, not vanish."""
    e = _edges(spark, [("a", "b")])
    seeds = spark.createDataFrame([("z",)], "node string")
    out = {
        r.node: r.rank
        for r in pagerank(e, reset_nodes=seeds, iterations=2, damping=0.85).collect()
    }
    assert "z" in out
    assert abs(out["z"] - 0.15) < 1e-9  # no in-edges: rank = (1-d)*1.0
    assert out["a"] == 0.0 and out["b"] == 0.0  # non-seeds, unreachable from z


def test_named_graph_edges_restriction_and_default(spark):
    """Quads-aware analytics composition (round-5): one literal filter
    restricts the edge view to a named graph; graph=None = the default
    graph (NULL labels); a plain triples frame IS the default graph;
    literal objects never become nodes."""
    import pytest

    from sifr_project_java_ontology_processing_spark.operators.graph import (
        named_graph_edges,
    )

    quads = spark.createDataFrame(
        [
            ("a", "p:x", "b", None, False, "g:one"),
            ("b", "p:x", "c", None, False, "g:two"),
            ("c", "p:x", "d", None, False, None),
            ("a", "p:x", "lit", None, True, "g:one"),
            ("a", "p:y", "e", None, False, "g:one"),
        ],
        "subj string, pred string, obj string, obj_lang string, "
        "obj_is_literal boolean, graph string",
    )
    one = {(r.src, r.dst) for r in named_graph_edges(quads, "g:one").collect()}
    assert one == {("a", "b"), ("a", "e")}
    dflt = {(r.src, r.dst) for r in named_graph_edges(quads).collect()}
    assert dflt == {("c", "d")}
    px = {
        (r.src, r.dst)
        for r in named_graph_edges(quads, "g:one", pred="p:x").collect()
    }
    assert px == {("a", "b")}
    plain = quads.drop("graph")
    assert named_graph_edges(plain).count() == 4  # whole frame = default
    with pytest.raises(ValueError, match="no graph column"):
        named_graph_edges(plain, "g:one")


def test_named_graph_pagerank_composes(spark):
    from sifr_project_java_ontology_processing_spark.operators.graph import (
        named_graph_edges,
        pagerank,
    )

    quads = spark.createDataFrame(
        [
            ("a", "p:x", "b", None, False, "g:one"),
            ("b", "p:x", "a", None, False, "g:noise"),
        ],
        "subj string, pred string, obj string, obj_lang string, "
        "obj_is_literal boolean, graph string",
    )
    r = {
        row.node: row.rank
        for row in pagerank(
            named_graph_edges(quads, "g:one"), iterations=2
        ).collect()
    }
    assert set(r) == {"a", "b"}  # the noise-graph mirror never leaks
    assert r["b"] > r["a"]
