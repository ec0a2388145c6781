"""Graph analytics (operators/graph.py) + SPARQL BGP executor
(plans/bgp.py) tests: pagerank vs a pure-Python reference, degree
stats, parser unit coverage, executor semantics, and plan shape
(no cartesian for connected BGPs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sifr_project_java_ontology_processing_spark.operators.graph import (
    degree_histogram,
    degree_stats,
    pagerank,
    triples_to_edges,
)
from sifr_project_java_ontology_processing_spark.plans.bgp import (
    Term,
    execute_bgp,
    parse_sparql,
)

EDGES = [
    ("a", "b"),
    ("a", "c"),
    ("b", "c"),
    ("c", "a"),
    ("d", "c"),  # d dangling-in only; no in-edges
]


def _py_pagerank(edges, iters=3, d=0.85):
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {n: 1.0 for n in nodes}
    for _ in range(iters):
        contrib = {n: 0.0 for n in nodes}
        for s, t in edges:
            contrib[t] += rank[s] / out[s]
        rank = {n: (1.0 - d) + d * contrib[n] for n in nodes}
    return rank


def test_pagerank_matches_reference(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=3).collect()}
    want = _py_pagerank(EDGES)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12)


def test_pagerank_dangling_node_keeps_teleport_floor(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=5).collect()}
    # d has no in-edges: rank must be exactly the teleport floor
    assert got["d"] == pytest.approx(1.0 - 0.85, abs=1e-12)


def test_degree_stats_and_histogram(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    ds = {r["node"]: (r["out_degree"], r["in_degree"]) for r in degree_stats(df).collect()}
    assert ds == {
        "a": (2, 1),
        "b": (1, 1),
        "c": (1, 3),
        "d": (1, 0),
    }
    hist = {r["degree"]: r["n_nodes"] for r in degree_histogram(df).collect()}
    assert hist == {3: 1, 2: 1, 4: 1, 1: 1}


def test_triples_to_edges_drops_literals_and_filters_preds(spark):
    t = spark.createDataFrame(
        [
            ("s1", "p1", "o1", None, False),
            ("s2", "p1", "lit", None, True),
            ("s3", "p2", "o3", None, False),
        ],
        "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean",
    )
    assert triples_to_edges(t).count() == 2
    only_p1 = triples_to_edges(t, preds=["p1"]).collect()
    assert [(r["src"], r["dst"]) for r in only_p1] == [("s1", "o1")]


# ---------------------------------------------------------------------------
# BGP parser
# ---------------------------------------------------------------------------


def test_parse_basic_patterns_and_modifiers():
    q = parse_sparql(
        """
        PREFIX ex: <http://ex/>
        SELECT DISTINCT ?s ?o WHERE {
          ?s a ex:Thing .
          ?s ex:p ?o .
          FILTER(regex(?o, "^x"))
        } ORDER BY ?s LIMIT 7
        """
    )
    assert q.select == ["s", "o"]
    assert q.distinct and q.limit == 7 and q.order_by == [("`s`", True, "s")]
    assert len(q.patterns) == 2
    s0, p0, o0 = q.patterns[0]
    assert s0 == Term("var", "s")
    assert p0.value.endswith("#type")
    assert o0 == Term("iri", "http://ex/Thing")
    assert q.filters == ["(`o` RLIKE '^x')"]


def test_parse_semicolon_comma_continuations_and_literals():
    q = parse_sparql(
        """
        SELECT * WHERE {
          <http://a> <http://p> "v"@en ; <http://q> ?x , 5 .
        }
        """
    )
    assert len(q.patterns) == 3
    assert q.patterns[0][2] == Term("literal", "v", "en")
    assert q.patterns[1][1] == Term("iri", "http://q")
    assert q.patterns[2][2] == Term("literal", "5")


def test_parse_errors():
    with pytest.raises(ValueError):
        parse_sparql("SELECT ?x WHERE { }")
    with pytest.raises(ValueError):
        parse_sparql("SELECT ?x WHERE { ?x unknownpfx:y ?z . }")


# ---------------------------------------------------------------------------
# BGP executor
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_triples(spark):
    SKOS = "http://www.w3.org/2004/02/skos/core#"
    RDF_T = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    rows = [
        ("n1", RDF_T, f"{SKOS}Concept", None, False),
        ("n1", f"{SKOS}prefLabel", "alpha", "en", True),
        ("n1", "http://ex/region", "r1", None, False),
        ("n2", RDF_T, f"{SKOS}Concept", None, False),
        ("n2", f"{SKOS}prefLabel", "beta", "en", True),
        ("n2", "http://ex/region", "r2", None, False),
        ("n3", RDF_T, f"{SKOS}Concept", None, False),  # no label, no region
        ("r1", f"{SKOS}prefLabel", "west", "en", True),
        ("r2", f"{SKOS}prefLabel", "east", "en", True),
        ("r2", f"{SKOS}prefLabel", "est", "fr", True),
    ]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean",
    )


def test_bgp_star_chain_join(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?nl ?rl WHERE {
          ?n a skos:Concept .
          ?n skos:prefLabel ?nl .
          ?n <http://ex/region> ?r .
          ?r skos:prefLabel ?rl .
        } ORDER BY ?n ?rl
        """,
    ).collect()
    # ORDER BY must determine every row fully — the two n2 rows tie on
    # ?n alone and Spark gives no order guarantee among equal sort keys
    got = [(r["n"], r["nl"], r["rl"]) for r in out]
    assert got == [
        ("n1", "alpha", "west"),
        ("n2", "beta", "east"),
        ("n2", "beta", "est"),
    ]


def test_bgp_literal_lang_constant_and_filter(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?r WHERE { ?r skos:prefLabel "est"@fr . }
        """,
    ).collect()
    assert [r["r"] for r in out] == ["r2"]
    out2 = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n WHERE {
          ?n skos:prefLabel ?l . FILTER(regex(?l, "a$") && ?l != "beta")
        }
        """,
    ).collect()
    assert [r["n"] for r in out2] == ["n1"]


def test_bgp_connected_plan_has_no_cartesian(tiny_triples):
    df = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?nl ?rl WHERE {
          ?n skos:prefLabel ?nl .
          ?n <http://ex/region> ?r .
          ?r skos:prefLabel ?rl .
        }
        """,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_bgp_repeated_var_in_pattern(spark):
    t = spark.createDataFrame(
        [("x", "p", "x", None, False), ("x", "p", "y", None, False)],
        "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean",
    )
    out = execute_bgp(t, "SELECT ?s WHERE { ?s <p> ?s . }").collect()
    assert [r["s"] for r in out] == ["x"]


def test_bgp_unbound_select_var_raises(tiny_triples):
    with pytest.raises(ValueError, match="not bound"):
        execute_bgp(tiny_triples, "SELECT ?zzz WHERE { ?s <http://ex/region> ?r . }")


# ---------------------------------------------------------------------------
# transitive closure
# ---------------------------------------------------------------------------


# driver_threshold=None: the default driver BFS; 0: the distributed
# frontier loop. Each closure test runs both sides of the hybrid.
_CLOSURE_PATHS = (None, 0)


def test_transitive_closure_chain_and_diamond(spark):
    from sifr_project_java_ontology_processing_spark.operators.graph import (
        transitive_closure,
    )

    # chain a->b->c->d plus diamond x->{l,r}->y (two length-2 paths)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "l"), ("x", "r"), ("l", "y"), ("r", "y")],
        "src string, dst string",
    )
    for threshold in _CLOSURE_PATHS:
        rows = transitive_closure(edges, driver_threshold=threshold).collect()
        got = {(r["src"], r["dst"]): r["depth"] for r in rows}
        assert len(rows) == len(got)  # every pair exactly once
        assert got[("a", "b")] == 1 and got[("a", "c")] == 2 and got[("a", "d")] == 3
        assert got[("b", "d")] == 2 and got[("c", "d")] == 1
        # diamond: (x,y) appears ONCE with min depth 2
        assert got[("x", "y")] == 2
        assert len([k for k in got if k[0] == "x"]) == 3  # l, r, y
        # chain: 6 pairs; diamond: x->{l,r,y}, l->y, r->y = 5 pairs
        assert len(got) == 11


def test_transitive_closure_depth_bound_and_cycle_guard(spark):
    from sifr_project_java_ontology_processing_spark.operators.graph import (
        transitive_closure,
    )

    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    cyc = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    for threshold in _CLOSURE_PATHS:
        bounded = transitive_closure(chain, max_depth=2, driver_threshold=threshold)
        assert {(r["src"], r["dst"], r["depth"]) for r in bounded.collect()} == {
            ("a", "b", 1), ("b", "c", 1), ("c", "d", 1), ("a", "c", 2), ("b", "d", 2),
        }
        # cycle with fixpoint mode terminates (reachability saturates)
        got = {
            (r["src"], r["dst"]): r["depth"]
            for r in transitive_closure(cyc, driver_threshold=threshold).collect()
        }
        assert got == {("a", "b"): 1, ("b", "a"): 1, ("a", "a"): 2, ("b", "b"): 2}


def _closure_spy(monkeypatch):
    """Record which loop each transitive_closure call runs."""
    from sifr_project_java_ontology_processing_spark.operators import graph

    paths = []
    real_driver = graph._driver_transitive_closure
    real_frontier = graph._frontier_transitive_closure

    def driver(*a):
        paths.append("driver")
        return real_driver(*a)

    def frontier(*a):
        paths.append("distributed")
        return real_frontier(*a)

    monkeypatch.setattr(graph, "_driver_transitive_closure", driver)
    monkeypatch.setattr(graph, "_frontier_transitive_closure", frontier)
    return paths


# chain + diamond + cycle + a duplicated edge (level 1 keeps multiplicity)
_CLOSURE_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "d"), ("x", "l"), ("x", "r"), ("l", "y"),
    ("r", "y"), ("p", "q"), ("q", "p"), ("a", "b"),
]


def _closure_rows(df):
    return sorted((r["src"], r["dst"], r["depth"]) for r in df.collect())


def test_transitive_closure_threshold_boundary(spark, monkeypatch):
    """|E| edges stay on the driver; a threshold of |E|−1 goes
    distributed — with the same (src, dst, depth) multiset."""
    from sifr_project_java_ontology_processing_spark.operators.graph import (
        transitive_closure,
    )

    edges = spark.createDataFrame(_CLOSURE_EDGES, "src string, dst string")
    n = len(_CLOSURE_EDGES)
    paths = _closure_spy(monkeypatch)
    on_driver = _closure_rows(transitive_closure(edges, driver_threshold=n))
    assert paths == ["driver"]
    distributed = _closure_rows(transitive_closure(edges, driver_threshold=n - 1))
    assert paths == ["driver", "distributed"]
    assert on_driver == distributed
    assert on_driver.count(("a", "b", 1)) == 2  # input multiplicity kept
    assert ("p", "p", 2) in on_driver and ("a", "d", 3) in on_driver


def test_transitive_closure_pair_guard_falls_back(spark, monkeypatch):
    """Past _CLOSURE_DRIVER_PAIR_MAX pairs the driver loop gives up and
    the distributed loop produces the same rows."""
    from sifr_project_java_ontology_processing_spark.operators import graph

    edges = spark.createDataFrame(_CLOSURE_EDGES, "src string, dst string")
    expected = _closure_rows(graph.transitive_closure(edges))
    monkeypatch.setattr(graph, "_CLOSURE_DRIVER_PAIR_MAX", 5)
    paths = _closure_spy(monkeypatch)
    assert _closure_rows(graph.transitive_closure(edges)) == expected
    assert paths == ["driver", "distributed"]


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_frame_is_a_local_relation(spark):
    """Driver-built frames plan as a LocalRelation, never a LogicalRDD:
    empty input, plain rows, NULL string and boolean cells, and both
    outcomes of transitive_closure's driver path."""
    from sifr_project_java_ontology_processing_spark.operators.graph import (
        transitive_closure,
    )
    from sifr_project_java_ontology_processing_spark.operators.materialize import (
        local_frame,
    )

    ddl = "s string, flag boolean, n long"
    rows = [("a", True, 1), (None, None, 2), ("c", False, 3)]
    edges = spark.createDataFrame(_CLOSURE_EDGES, "src string, dst string")
    cases = [
        (local_frame(spark, [], ddl), []),
        (local_frame(spark, rows, ddl), rows),
        (transitive_closure(edges.limit(0)), []),
        (transitive_closure(edges), None),
    ]
    for df, want in cases:
        plan = _optimized_plan(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
        if want is not None:
            assert [tuple(r) for r in df.collect()] == want
    assert local_frame(spark, [], ddl).schema == local_frame(spark, rows, ddl).schema


# ---------------------------------------------------------------------------
# OPTIONAL / UNION
# ---------------------------------------------------------------------------


def test_bgp_optional_left_join(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?rl WHERE {
          ?n a skos:Concept .
          OPTIONAL { ?n <http://ex/region> ?r . ?r skos:prefLabel ?rl . }
        } ORDER BY ?n
        """,
    ).collect()
    got = [(r["n"], r["rl"]) for r in out]
    # n3 has no region: survives with NULL rl
    assert ("n3", None) in got
    assert ("n1", "west") in got and ("n2", "east") in got and ("n2", "est") in got
    assert len(got) == 4


def test_bgp_union_branches_null_fill(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?l ?r WHERE {
          { ?n skos:prefLabel ?l . }
          UNION
          { ?n <http://ex/region> ?r . }
        }
        """,
    ).collect()
    got = {(r["n"], r["l"], r["r"]) for r in out}
    assert ("n1", "alpha", None) in got
    assert ("n1", None, "r1") in got
    assert len(got) == 5 + 2  # 5 prefLabels + 2 region edges


def test_bgp_optional_errors():
    with pytest.raises(ValueError, match="required pattern"):
        # an OPTIONAL whose body is ONLY another OPTIONAL has no
        # required unit to left-join against
        parse_sparql(
            "SELECT ?s WHERE { ?s <p> ?o . OPTIONAL { OPTIONAL { ?s <q> ?x . } } }"
        )
    with pytest.raises(ValueError, match="empty OPTIONAL"):
        parse_sparql("SELECT ?s WHERE { ?s <p> ?o . OPTIONAL { } }")


def test_bgp_optional_disjoint_raises(tiny_triples):
    with pytest.raises(ValueError, match="shares no variable"):
        execute_bgp(
            tiny_triples,
            "SELECT ?s WHERE { ?s <http://ex/region> ?r . OPTIONAL { ?x <q> ?y . } }",
        )


# ---------------------------------------------------------------------------
# review regressions: tokenizer/escaping/term-equality/filter scope
# ---------------------------------------------------------------------------


def test_filter_less_than_with_later_iri(tiny_triples):
    # '<' comparison must not be eaten as an IRI even though IRIs appear
    # later in the query text
    out = execute_bgp(
        tiny_triples,
        """
        SELECT ?n WHERE {
          ?n <http://ex/region> ?r .
          FILTER(?n < "n2" && ?n != "n0")
        }
        """,
    ).collect()
    assert [r["n"] for r in out] == ["n1"]


def test_literal_unicode_and_regex_escapes(spark):
    t = spark.createDataFrame(
        [("s1", "p", "café", None, True), ("s2", "p", "cafe9", None, True)],
        "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean",
    )
    out = execute_bgp(t, 'SELECT ?s WHERE { ?s <p> "caf\\u00e9" . }').collect()
    assert [r["s"] for r in out] == ["s1"]
    # \d in a regex must stay a digit class through the SQL literal
    out2 = execute_bgp(
        t, 'SELECT ?s WHERE { ?s <p> ?o . FILTER(regex(?o, "e\\\\d")) }'
    ).collect()
    assert [r["s"] for r in out2] == ["s2"]


def test_plain_literal_does_not_match_lang_tagged(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        'PREFIX skos: <http://www.w3.org/2004/02/skos/core#> '
        'SELECT ?r WHERE { ?r skos:prefLabel "est" . }',
    ).collect()
    assert out == []  # only "est"@fr exists


def test_filter_on_optional_var(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n WHERE {
          ?n a skos:Concept .
          OPTIONAL { ?n skos:prefLabel ?l . }
          FILTER(regex(?l, "^a"))
        }
        """,
    ).collect()
    assert [r["n"] for r in out] == ["n1"]


def test_literal_subject_raises(tiny_triples):
    with pytest.raises(ValueError, match="literal subject"):
        execute_bgp(tiny_triples, "SELECT ?o WHERE { 5 <http://p> ?o . }").collect()


def test_chunk_documents_null_text_zero_tokens(spark):
    from sifr_project_java_ontology_processing_spark.operators.sampling import (
        chunk_documents,
    )

    docs = spark.createDataFrame([(1, None)], "doc_id long, text string")
    rows = chunk_documents(docs, max_tokens=4).collect()
    assert len(rows) == 1
    assert rows[0]["n_chunk_tokens"] == 0 and rows[0]["chunk_text"] == ""


def test_bgp_pattern_filters_push_to_parquet_scan(spark, tmp_path, tiny_triples):
    """The scale claim in bgp.py's docstring: a constant predicate in a
    triple pattern must reach the parquet scan as a pushed filter (and
    prune pred_kind partitions when reading graph_sink output)."""
    from sifr_project_java_ontology_processing_spark.sources.graph_sink import (
        write_triples,
    )

    path = str(tmp_path / "gt")
    write_triples(tiny_triples.withColumn("src_url", F.lit(None).cast("string")), path)
    back = spark.read.parquet(path)
    df = execute_bgp(
        back,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?l WHERE { ?n skos:prefLabel ?l . }
        """,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "prefLabel" in plan.split("PushedFilters")[1][:400]


# ---------------------------------------------------------------------------
# Property paths + aggregates (round 4)
# ---------------------------------------------------------------------------


@pytest.fixture()
def chain_triples(spark):
    """a -broader-> b -broader-> c -broader-> d, labels on every node,
    plus an altLabel on a and a rel edge b->a."""
    rows = [
        ("a", "http://ex/broader", "b", None, False),
        ("b", "http://ex/broader", "c", None, False),
        ("c", "http://ex/broader", "d", None, False),
        ("a", "http://ex/label", "A", None, True),
        ("b", "http://ex/label", "B", None, True),
        ("c", "http://ex/label", "C", None, True),
        ("d", "http://ex/label", "D", None, True),
        ("a", "http://ex/alt", "A2", None, True),
        ("b", "http://ex/rel", "a", None, False),
    ]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean",
    )


def test_parse_path_sequence_desugars_with_internal_vars():
    q = parse_sparql(
        "PREFIX ex: <http://ex/> SELECT ?l WHERE { <a> ex:b/ex:c ?l }"
    )
    assert len(q.patterns) == 2
    (s1, p1, o1), (s2, p2, o2) = q.patterns
    assert (s1.value, p1.value) == ("a", "http://ex/b")
    assert o1.kind == "var" and o1.value.startswith("__p")
    assert s2 == o1 and p2.value == "http://ex/c" and o2.value == "l"


def test_parse_path_object_list_reemits_fresh_vars():
    q = parse_sparql(
        "PREFIX ex: <http://ex/> SELECT ?s WHERE { ?s ex:b/ex:c <x>, <y> }"
    )
    assert len(q.patterns) == 4
    mids = {p[2].value for p in q.patterns if p[2].kind == "var" and p[2].value.startswith("__p")}
    assert len(mids) == 2  # each object gets its own path instance


def test_parse_path_and_aggregate_errors():
    with pytest.raises(ValueError, match="reserved"):
        parse_sparql("SELECT ?__p1 WHERE { ?__p1 <p> ?o }")
    with pytest.raises(ValueError, match="IRIs, not variables"):
        parse_sparql("SELECT ?s WHERE { ?s ?p/<q> ?o }")
    with pytest.raises(ValueError, match="alternation"):
        parse_sparql("PREFIX ex: <http://ex/> SELECT ?s WHERE { ?s ex:a|ex:b+ ?o }")
    with pytest.raises(ValueError, match="DISTINCT"):
        parse_sparql("SELECT (SUM(DISTINCT ?v) AS ?s) WHERE { ?a <p> ?v }")
    with pytest.raises(ValueError, match="not valid SPARQL"):
        parse_sparql("SELECT (MIN(*) AS ?m) WHERE { ?a <p> ?v }")
    with pytest.raises(ValueError, match="GROUP BY"):
        parse_sparql("SELECT ?a (COUNT(?v) AS ?n) WHERE { ?a <p> ?v }")
    with pytest.raises(ValueError, match="HAVING"):
        parse_sparql("SELECT ?a WHERE { ?a <p> ?v } HAVING(?a > 1)")


def test_path_closure_plus_and_star(chain_triples):
    got = execute_bgp(
        chain_triples,
        "PREFIX ex: <http://ex/> SELECT ?x WHERE { <a> ex:broader+ ?x } ORDER BY ?x",
    ).collect()
    assert [r["x"] for r in got] == ["b", "c", "d"]
    got = execute_bgp(
        chain_triples,
        "PREFIX ex: <http://ex/> SELECT ?x WHERE { <b> ex:broader* ?x } ORDER BY ?x",
    ).collect()
    assert [r["x"] for r in got] == ["b", "c", "d"]  # * includes b itself


def test_path_closure_on_cycle_terminates(spark):
    rows = [
        ("a", "p", "b", None, False),
        ("b", "p", "a", None, False),
    ]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean",
    )
    got = execute_bgp(t, "SELECT ?x WHERE { <a> <p>+ ?x } ORDER BY ?x").collect()
    assert [r["x"] for r in got] == ["a", "b"]


def test_path_inverse_sequence_alternation(chain_triples):
    got = execute_bgp(
        chain_triples,
        "PREFIX ex: <http://ex/> SELECT ?s WHERE { <b> ^ex:broader ?s }",
    ).collect()
    assert [r["s"] for r in got] == ["a"]
    got = execute_bgp(
        chain_triples,
        "PREFIX ex: <http://ex/> SELECT ?v WHERE { <a> ex:label|ex:alt ?v } ORDER BY ?v",
    ).collect()
    assert [r["v"] for r in got] == ["A", "A2"]
    # composed: rel then 1+ broader hops then label
    got = execute_bgp(
        chain_triples,
        "PREFIX ex: <http://ex/> SELECT ?l WHERE { ?s ex:rel/ex:broader+/ex:label ?l } ORDER BY ?l",
    ).collect()
    assert [r["l"] for r in got] == ["B", "C", "D"]


def test_path_internal_vars_hidden_from_select_star(chain_triples):
    df = execute_bgp(
        chain_triples,
        "PREFIX ex: <http://ex/> SELECT * WHERE { <a> ex:broader/ex:label ?l }",
    )
    assert df.columns == ["l"]


def test_aggregate_group_having_order(chain_triples):
    got = execute_bgp(
        chain_triples,
        """SELECT ?p (COUNT(?o) AS ?n) WHERE { ?s ?p ?o }
           GROUP BY ?p HAVING(?n >= 2) ORDER BY ?p""",
    ).collect()
    assert [(r["p"], r["n"]) for r in got] == [
        ("http://ex/broader", 3),
        ("http://ex/label", 4),
    ]


def test_aggregate_global_count_distinct_and_bare(chain_triples):
    got = execute_bgp(
        chain_triples,
        "SELECT (COUNT(DISTINCT ?s) AS ?ns) WHERE { ?s ?p ?o }",
    ).collect()
    assert got[0]["ns"] == 4
    df = execute_bgp(chain_triples, "SELECT COUNT(*) WHERE { ?s ?p ?o }")
    assert df.columns == ["count_all"]
    assert df.collect()[0]["count_all"] == 9


def test_construct_rewrites_predicates_and_keeps_term_metadata(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        CONSTRUCT { ?r <http://ex/name> ?rl . }
        WHERE { ?n <http://ex/region> ?r . ?r skos:prefLabel ?rl . }
        """,
    )
    assert out.columns == ["subj", "pred", "obj", "obj_lang", "obj_is_literal"]
    got = {(r["subj"], r["pred"], r["obj"], r["obj_lang"], r["obj_is_literal"])
           for r in out.collect()}
    assert got == {
        ("r1", "http://ex/name", "west", "en", True),
        ("r2", "http://ex/name", "east", "en", True),
        ("r2", "http://ex/name", "est", "fr", True),
    }


def test_construct_iri_object_and_constant_literal(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        CONSTRUCT {
          ?n <http://ex/in> ?r .
          ?n <http://ex/kind> "node"@en .
        }
        WHERE { ?n <http://ex/region> ?r . }
        """,
    ).collect()
    got = {(r["subj"], r["pred"], r["obj"], r["obj_lang"], r["obj_is_literal"])
           for r in out}
    # variable bound in a non-object position stays an IRI term
    assert ("n1", "http://ex/in", "r1", None, False) in got
    assert ("n1", "http://ex/kind", "node", "en", True) in got
    assert len(got) == 4


def test_construct_is_set_semantics_and_optional_skips_unbound(tiny_triples):
    # two region edges instantiate the same constant triple once
    out = execute_bgp(
        tiny_triples,
        "CONSTRUCT { <g> <http://ex/has> <regions> . } "
        "WHERE { ?n <http://ex/region> ?r . }",
    ).collect()
    assert len(out) == 1
    # OPTIONAL leaves ?rl unbound for r1-less nodes: no triple emitted
    out2 = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        CONSTRUCT { ?n <http://ex/lbl> ?l . }
        WHERE { ?n a skos:Concept . OPTIONAL { ?n skos:prefLabel ?l . } }
        """,
    ).collect()
    assert {r["subj"] for r in out2} == {"n1", "n2"}  # n3 drops out


def test_ask_true_false(tiny_triples):
    df = execute_bgp(
        tiny_triples,
        'PREFIX skos: <http://www.w3.org/2004/02/skos/core#> '
        'ASK WHERE { ?r skos:prefLabel "est"@fr . }',
    )
    assert df.columns == ["ask"]
    assert df.collect()[0]["ask"] is True
    df2 = execute_bgp(tiny_triples, "ASK WHERE { ?s <http://ex/nope> ?o . }")
    assert df2.collect() == [(False,)] or df2.collect()[0]["ask"] is False


def test_values_single_and_grouped(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        SELECT ?n ?r WHERE {
          ?n <http://ex/region> ?r .
          VALUES ?r { <r1> }
        }
        """,
    ).collect()
    assert [(r["n"], r["r"]) for r in out] == [("n1", "r1")]
    # grouped form joins on the shared var and binds the new one
    out2 = execute_bgp(
        tiny_triples,
        """
        SELECT ?n ?code WHERE {
          ?n <http://ex/region> ?r .
          VALUES (?r ?code) { (<r1> "W") (<r2> "E") }
        } ORDER BY ?n
        """,
    ).collect()
    assert [(r["n"], r["code"]) for r in out2] == [("n1", "W"), ("n2", "E")]


def test_values_no_shared_var_cross_product(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        SELECT ?n ?tag WHERE {
          ?n <http://ex/region> ?r .
          VALUES ?tag { "x" "y" }
        }
        """,
    ).collect()
    assert len(out) == 4  # 2 region edges x 2 tags


def test_bind_expressions_and_chaining(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?u ?lab WHERE {
          ?n skos:prefLabel ?l .
          BIND(UCASE(?l) AS ?u)
          BIND(CONCAT(?n, ":", ?u) AS ?lab)
          FILTER(STRSTARTS(?u, "A"))
        }
        """,
    ).collect()
    assert [(r["n"], r["u"], r["lab"]) for r in out] == [("n1", "ALPHA", "n1:ALPHA")]


def test_bind_bound_on_optional_var(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?has WHERE {
          ?n a skos:Concept .
          OPTIONAL { ?n <http://ex/region> ?r . }
          BIND(BOUND(?r) AS ?has)
        } ORDER BY ?n
        """,
    ).collect()
    assert [(r["n"], r["has"]) for r in out] == [
        ("n1", True), ("n2", True), ("n3", False),
    ]


def test_construct_ask_values_bind_parse_errors():
    with pytest.raises(ValueError, match="plain triples"):
        parse_sparql(
            "CONSTRUCT { ?s <p> ?o . FILTER(?o > 1) } WHERE { ?s <p> ?o }"
        )
    with pytest.raises(ValueError, match="empty CONSTRUCT"):
        parse_sparql("CONSTRUCT { } WHERE { ?s <p> ?o }")
    with pytest.raises(ValueError, match="row width"):
        parse_sparql(
            'SELECT ?a WHERE { ?a <p> ?b . VALUES (?a ?b) { (<x>) } }'
        )
    with pytest.raises(ValueError, match="constants"):
        parse_sparql("SELECT ?a WHERE { ?a <p> ?b . VALUES ?a { ?c } }")
    with pytest.raises(ValueError, match="AS"):
        parse_sparql("SELECT ?a WHERE { ?a <p> ?b . BIND(UCASE(?b)) }")
    with pytest.raises(ValueError, match="unsupported query form"):
        parse_sparql("INSERT { ?s <p> ?o } WHERE { ?s <p> ?o }")


def test_bind_rebind_raises(tiny_triples):
    with pytest.raises(ValueError, match="rebind"):
        execute_bgp(
            tiny_triples,
            "SELECT ?n WHERE { ?n <http://ex/region> ?r . BIND(UCASE(?r) AS ?n) }",
        )


def test_construct_template_var_not_bound_raises(tiny_triples):
    with pytest.raises(ValueError, match="not bound"):
        execute_bgp(
            tiny_triples,
            "CONSTRUCT { ?z <p> ?r . } WHERE { ?n <http://ex/region> ?r . }",
        )


def test_filter_not_exists_and_exists(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n WHERE {
          ?n a skos:Concept .
          FILTER NOT EXISTS { ?n <http://ex/region> ?r . }
        }
        """,
    ).collect()
    assert [r["n"] for r in out] == ["n3"]
    out2 = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n WHERE {
          ?n a skos:Concept .
          FILTER EXISTS { ?n <http://ex/region> ?r . }
        } ORDER BY ?n
        """,
    ).collect()
    assert [r["n"] for r in out2] == ["n1", "n2"]


def test_exists_disjoint_group_probes_any_solution(tiny_triples):
    # variable-disjoint NOT EXISTS: inner group matches -> removes ALL
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n WHERE {
          ?n a skos:Concept .
          FILTER NOT EXISTS { ?x <http://ex/region> ?y . }
        }
        """,
    ).collect()
    assert out == []
    # inner group empty -> EXISTS false removes all, NOT EXISTS keeps all
    out2 = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n WHERE {
          ?n a skos:Concept .
          FILTER EXISTS { ?x <http://ex/nope> ?y . }
        }
        """,
    ).collect()
    assert out2 == []
    out3 = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n WHERE {
          ?n a skos:Concept .
          FILTER NOT EXISTS { ?x <http://ex/nope> ?y . }
        }
        """,
    ).collect()
    assert len(out3) == 3


def test_minus_shared_and_disjoint_domain(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n WHERE {
          ?n a skos:Concept .
          MINUS { ?n <http://ex/region> <r1> . }
        } ORDER BY ?n
        """,
    ).collect()
    assert [r["n"] for r in out] == ["n2", "n3"]
    # disjoint-domain MINUS removes NOTHING (unlike NOT EXISTS)
    out2 = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n WHERE {
          ?n a skos:Concept .
          MINUS { ?x <http://ex/region> ?y . }
        }
        """,
    ).collect()
    assert len(out2) == 3


def test_path_zero_or_one(chain_triples):
    got = execute_bgp(
        chain_triples,
        "PREFIX ex: <http://ex/> SELECT ?x WHERE { <a> ex:broader? ?x } ORDER BY ?x",
    ).collect()
    assert [r["x"] for r in got] == ["a", "b"]  # identity + one hop, no closure
    # composed in a sequence: 0-or-1 broader hop then label
    got2 = execute_bgp(
        chain_triples,
        "PREFIX ex: <http://ex/> SELECT ?l WHERE { <a> ex:broader?/ex:label ?l } ORDER BY ?l",
    ).collect()
    assert [r["l"] for r in got2] == ["A", "B"]


def test_offset_composes_with_limit(chain_triples):
    got = execute_bgp(
        chain_triples,
        "PREFIX ex: <http://ex/> SELECT ?x WHERE { ?s ex:broader ?x } "
        "ORDER BY ?x OFFSET 1 LIMIT 1",
    ).collect()
    assert [r["x"] for r in got] == ["c"]


def test_exists_minus_parse_errors():
    with pytest.raises(ValueError, match="empty EXISTS"):
        parse_sparql("SELECT ?s WHERE { ?s <p> ?o . FILTER NOT EXISTS { } }")
    with pytest.raises(ValueError, match="only triple patterns"):
        parse_sparql(
            "SELECT ?s WHERE { ?s <p> ?o . MINUS { ?s <q> ?x . FILTER(?x > 1) } }"
        )
    with pytest.raises(ValueError, match="alternation"):
        parse_sparql("PREFIX ex: <http://ex/> SELECT ?s WHERE { ?s ex:a|ex:b? ?o }")


def test_group_concat_and_sample(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?r (GROUP_CONCAT(?l; SEPARATOR=", ") AS ?labels)
               (SAMPLE(?l) AS ?one)
        WHERE { ?r skos:prefLabel ?l . ?x <http://ex/region> ?r . }
        GROUP BY ?r ORDER BY ?r
        """,
    ).collect()
    assert [(r["r"], r["labels"], r["one"]) for r in out] == [
        ("r1", "west", "west"),
        ("r2", "east, est", "east"),
    ]


def test_group_concat_default_separator_and_errors(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        'PREFIX skos: <http://www.w3.org/2004/02/skos/core#> '
        'SELECT (GROUP_CONCAT(?l) AS ?all) WHERE { <r2> skos:prefLabel ?l . }',
    ).collect()
    assert out[0]["all"] == "east est"  # SPARQL default separator " "
    with pytest.raises(ValueError, match="SEPARATOR is only valid"):
        parse_sparql('SELECT (SUM(?v; SEPARATOR=",") AS ?s) WHERE { ?a <p> ?v }')
    with pytest.raises(ValueError, match='needs a "string"'):
        parse_sparql('SELECT (GROUP_CONCAT(?v; SEPARATOR=?x) AS ?s) WHERE { ?a <p> ?v }')


def test_describe_constants_only_is_pushdown_filter(tiny_triples):
    out = execute_bgp(tiny_triples, "DESCRIBE <n1>")
    assert out.columns == ["subj", "pred", "obj", "obj_lang", "obj_is_literal"]
    got = {(r["pred"].rsplit("#")[-1].rsplit("/")[-1], r["obj"]) for r in out.collect()}
    assert got == {
        ("type", "http://www.w3.org/2004/02/skos/core#Concept"),
        ("prefLabel", "alpha"),
        ("region", "r1"),
    }


def test_describe_var_and_mixed(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        "DESCRIBE ?r WHERE { ?n <http://ex/region> ?r . }",
    ).collect()
    assert {(r["subj"], r["obj"]) for r in out} == {
        ("r1", "west"), ("r2", "east"), ("r2", "est"),
    }
    # mixed: variable bindings union with a constant IRI
    out2 = execute_bgp(
        tiny_triples,
        "DESCRIBE ?r <n3> WHERE { ?n <http://ex/region> ?r . }",
    ).collect()
    subjects = {r["subj"] for r in out2}
    assert subjects == {"r1", "r2", "n3"}


def test_describe_errors(tiny_triples):
    with pytest.raises(ValueError, match="at least one"):
        parse_sparql("DESCRIBE")
    with pytest.raises(ValueError, match="needs a WHERE"):
        parse_sparql("DESCRIBE ?v")
    with pytest.raises(ValueError, match="not bound"):
        execute_bgp(
            tiny_triples, "DESCRIBE ?zz WHERE { ?n <http://ex/region> ?r . }"
        )


def test_aggregate_sum_avg_min_max(spark):
    rows = [
        ("a", "v", "10", None, True),
        ("a", "v", "2.5", None, True),
        ("b", "v", "4", None, True),
    ]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean",
    )
    got = execute_bgp(
        t,
        """SELECT ?s (SUM(?o) AS ?tot) (AVG(?o) AS ?mean)
                  (MIN(?o) AS ?lo) (MAX(?o) AS ?hi)
           WHERE { ?s <v> ?o } GROUP BY ?s ORDER BY ?s""",
    ).collect()
    assert got[0]["s"] == "a" and got[0]["tot"] == 12.5 and got[0]["mean"] == 6.25
    assert got[0]["lo"] == "10" and got[0]["hi"] == "2.5"  # lexical min/max
    assert got[1]["s"] == "b" and got[1]["tot"] == 4.0


def _py_ppr(edges, seeds, iters=3, d=0.85):
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {n: (1.0 if n in seeds else 0.0) for n in nodes}
    rank = dict(r)
    for _ in range(iters):
        contrib = {n: 0.0 for n in nodes}
        for s, t in edges:
            contrib[t] += rank[s] / out[s]
        rank = {n: (1.0 - d) * r[n] + d * contrib[n] for n in nodes}
    return rank


def test_personalized_pagerank_matches_reference(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=3, reset_nodes=seeds).collect()
    }
    want = _py_ppr(EDGES, {"a"})
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12)
    # a non-seed with no path from the seed set keeps rank 0
    assert got["d"] == 0.0


def test_prefix_keyword_inside_filter_literal(spark):
    """Regression twin of the UPDATE literal-corruption bug: a FILTER
    comparing against a string containing 'PREFIX pfx: <iri>' must
    match verbatim, not have the substring deleted pre-tokenize."""
    lit = "PREFIX ex: <http://e/>"
    df = spark.createDataFrame(
        [
            ("http://ex/a", "http://ex/note", lit, None, True),
            ("http://ex/b", "http://ex/note", "other", None, True),
        ],
        "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean",
    )
    got = execute_bgp(
        df,
        'SELECT ?s WHERE { ?s <http://ex/note> ?n . FILTER(?n = "' + lit + '") }',
    ).collect()
    assert [r["s"] for r in got] == ["http://ex/a"]


def test_negated_property_set(spark):
    """!iri / !(a|b): any predicate OUTSIDE the set; composes with ^
    and sequences; closure of a negated set rejected."""
    df = spark.createDataFrame(
        [
            ("s", "http://ex/p", "x", None, False),
            ("s", "http://ex/q", "y", None, False),
            ("s", "http://ex/r", "z", None, False),
            ("y", "http://ex/next", "w", None, False),
        ],
        "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean",
    )
    got = {r["o"] for r in execute_bgp(
        df, "SELECT ?o WHERE { <s> !<http://ex/p> ?o }").collect()}
    assert got == {"y", "z"}
    got2 = {r["o"] for r in execute_bgp(
        df, "SELECT ?o WHERE { <s> !(<http://ex/p>|<http://ex/r>) ?o }").collect()}
    assert got2 == {"y"}
    # sequence: exclude p, then follow next
    got3 = {r["o"] for r in execute_bgp(
        df,
        "SELECT ?o WHERE { <s> !(<http://ex/p>|<http://ex/r>)/<http://ex/next> ?o }",
    ).collect()}
    assert got3 == {"w"}
    # inverse composition: ^!(p) from x finds nothing; from y finds s
    got4 = {r["s2"] for r in execute_bgp(
        df, "SELECT ?s2 WHERE { <y> ^!<http://ex/p> ?s2 }").collect()}
    assert got4 == {"s"}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="closure of a negated"):
        execute_bgp(df, "SELECT ?o WHERE { <s> !<http://ex/p>+ ?o }")
    with _pytest.raises(ValueError, match="inverse members"):
        execute_bgp(df, "SELECT ?o WHERE { <s> !(^<http://ex/p>) ?o }")


# ---------------------------------------------------------------------------
# Typed-numeric literals (round-5 VERDICT ask #3)
# ---------------------------------------------------------------------------

_TYPED_NT = [
    '<http://x/a> <http://x/val> "9"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://x/b> <http://x/val> "10"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://x/c> <http://x/val> "2.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .',
    '<http://x/d> <http://x/val> "banana" .',
    '<http://x/e> <http://x/val> "7"@en .',
]


def _typed_triples(spark):
    from sifr_project_java_ontology_processing_spark.sources.rdf_io import (
        parse_ntriples_lines,
    )

    lines = spark.createDataFrame([(l,) for l in _TYPED_NT], "value string")
    return parse_ntriples_lines(lines, keep_datatype=True).drop("_raw")


def test_keep_datatype_column(spark):
    t = _typed_triples(spark)
    dts = {r.obj: r.obj_datatype for r in t.collect()}
    assert dts["9"] == "http://www.w3.org/2001/XMLSchema#integer"
    assert dts["2.5"] == "http://www.w3.org/2001/XMLSchema#decimal"
    assert dts["banana"] is None
    assert dts["7"] is None  # lang-tagged, not datatyped
    # default shape untouched: no obj_datatype column
    from sifr_project_java_ontology_processing_spark.sources.rdf_io import (
        parse_ntriples_lines,
    )

    lines = spark.createDataFrame([(l,) for l in _TYPED_NT], "value string")
    assert "obj_datatype" not in parse_ntriples_lines(lines).columns


def test_typed_order_by_numeric_first(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _typed_triples(spark)
    q = "SELECT ?s ?v WHERE { ?s <http://x/val> ?v } ORDER BY ?v LIMIT 3"
    typed = [r.v for r in execute_bgp(t, q, typed_numerics=True).collect()]
    assert typed == ["2.5", "9", "10"]  # numeric order, non-numerics after
    # default stays lexical (oracle-stable)
    lex = [r.v for r in execute_bgp(t, q).collect()]
    assert lex == ["10", "2.5", "7"]


def test_typed_order_desc_nonnumeric_last(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _typed_triples(spark)
    q = "SELECT ?v WHERE { ?s <http://x/val> ?v } ORDER BY DESC(?v)"
    out = [r.v for r in execute_bgp(t, q, typed_numerics=True).collect()]
    assert out[:3] == ["10", "9", "2.5"]
    assert set(out[3:]) == {"banana", "7"}  # non-numeric tail


def test_typed_min_max_aggregates(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _typed_triples(spark)
    q = "SELECT (MIN(?v) AS ?mn) (MAX(?v) AS ?mx) WHERE { ?s <http://x/val> ?v }"
    row = execute_bgp(t, q, typed_numerics=True).collect()[0]
    assert (row.mn, row.mx) == ("2.5", "10")
    lex = execute_bgp(t, q).collect()[0]
    assert (lex.mn, lex.mx) == ("10", "banana")


def test_typed_untyped_frame_falls_back_to_trycast(spark):
    """On a P5-stripped frame (no obj_datatype) typed mode interprets
    numeric-looking lexical forms numerically via try-cast."""
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _typed_triples(spark).drop("obj_datatype")
    q = "SELECT ?v WHERE { ?s <http://x/val> ?v } ORDER BY ?v LIMIT 4"
    out = [r.v for r in execute_bgp(t, q, typed_numerics=True).collect()]
    assert out == ["2.5", "7", "9", "10"]  # "7"@en is numeric-looking here


def test_typed_filter_comparison_numeric(spark):
    """FILTER (?v > n) compares numerically in both modes via SQL
    coercion — '9' > 5 is true, '10' > 5 is true (not lexical)."""
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _typed_triples(spark)
    q = "SELECT ?s WHERE { ?s <http://x/val> ?v FILTER(?v > 5) }"
    out = {r.s for r in execute_bgp(t, q, typed_numerics=True).collect()}
    assert out == {"http://x/a", "http://x/b", "http://x/e"}


def test_typed_order_with_distinct_uses_lexical_trycast(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _typed_triples(spark)
    q = "SELECT DISTINCT ?v WHERE { ?s <http://x/val> ?v } ORDER BY ?v LIMIT 4"
    out = [r.v for r in execute_bgp(t, q, typed_numerics=True).collect()]
    assert out == ["2.5", "7", "9", "10"]


# ---------------------------------------------------------------------------
# Parenthesized path groups (round-5 VERDICT ask #6)
# ---------------------------------------------------------------------------

def _group_triples(spark):
    rows = [
        ("a", "p:p", "b"), ("b", "p:q", "c"),
        ("c", "p:p", "d"), ("d", "p:q", "e"),
        ("x", "p:r", "c"),
    ]
    return spark.createDataFrame(
        [(s, p, o, None, False) for s, p, o in rows],
        "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean",
    )


def test_path_group_plus(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _group_triples(spark)
    out = sorted(
        (r.x, r.y)
        for r in execute_bgp(
            t, "SELECT ?x ?y WHERE { ?x (<p:p>/<p:q>)+ ?y }"
        ).collect()
    )
    assert out == [("a", "c"), ("a", "e"), ("c", "e")]


def test_path_group_alternation_of_sequences(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _group_triples(spark)
    out = sorted(
        (r.x, r.y)
        for r in execute_bgp(
            t, "SELECT ?x ?y WHERE { ?x (<p:p>/<p:q>|<p:r>)+ ?y }"
        ).collect()
    )
    assert out == [("a", "c"), ("a", "e"), ("c", "e"), ("x", "c"), ("x", "e")]


def test_path_group_star_and_opt_identity(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _group_triples(spark)
    star = sorted(
        r.y
        for r in execute_bgp(
            t, "SELECT ?y WHERE { <a> (<p:p>/<p:q>)* ?y }"
        ).collect()
    )
    assert star == ["a", "c", "e"]  # zero-length identity survives
    opt = sorted(
        (r.x, r.y)
        for r in execute_bgp(
            t, "SELECT ?x ?y WHERE { ?x (<p:p>/<p:q>)? ?y . <a> <p:p> ?x }"
        ).collect()
    )
    assert opt == [("b", "b")]


def test_path_group_inverse_and_sequence_compose(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _group_triples(spark)
    inv = sorted(
        r.x
        for r in execute_bgp(
            t, "SELECT ?x WHERE { ?x ^(<p:p>/<p:q>) <c> }"
        ).collect()
    )
    assert inv == ["e"]  # ^(p/q) to c == c (p/q) e
    seq = sorted(
        r.y
        for r in execute_bgp(
            t, "SELECT ?y WHERE { <a> (<p:p>/<p:q>)+/<p:p> ?y }"
        ).collect()
    )
    assert seq == ["d"]


def test_path_group_element_modifiers(spark):
    # per-element +/*/? inside a group: each modified element closes /
    # optionalizes BEFORE composition
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _group_triples(spark)
    plus = sorted(
        (r.x, r.y)
        for r in execute_bgp(
            t, "SELECT ?x ?y WHERE { ?x (<p:p>+/<p:q>) ?y }"
        ).collect()
    )
    assert plus == [("a", "c"), ("c", "e")]
    star = sorted(
        (r.x, r.y)
        for r in execute_bgp(
            t, "SELECT ?x ?y WHERE { ?x (<p:p>/<p:q>*) ?y }"
        ).collect()
    )
    # p then zero-or-more q: a->b (0), a->c (1), c->d (0), c->e (1)
    assert star == [("a", "b"), ("a", "c"), ("c", "d"), ("c", "e")]
    opt = sorted(
        (r.x, r.y)
        for r in execute_bgp(
            t, "SELECT ?x ?y WHERE { ?x (<p:p>?/<p:q>) ?y }"
        ).collect()
    )
    assert opt == [("a", "c"), ("b", "c"), ("c", "e"), ("d", "e")]


def test_path_group_rejects_nested_parens(spark):
    import pytest

    from sifr_project_java_ontology_processing_spark.plans.bgp import parse_sparql

    with pytest.raises(ValueError, match="nested"):
        parse_sparql("SELECT ?x WHERE { ?x ((<p:p>/<p:q>)+/<p:r>) ?y }")


def test_path_plus_pairs_once_over_duplicate_triples(spark):
    """``<p>+`` is the one-element path group: a duplicated triple
    yields each pair once, the same rows as ``(<p>)+``, on the driver
    closure and on the distributed one."""
    from collections import Counter

    from sifr_project_java_ontology_processing_spark.operators import graph

    t = spark.createDataFrame(
        [(s, "p:p", o, None, False) for s, o in (("a", "b"), ("a", "b"), ("b", "c"))],
        "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean",
    )

    def pairs(path):
        q = f"SELECT ?x ?y WHERE {{ ?x {path} ?y }}"
        return Counter((r.x, r.y) for r in execute_bgp(t, q).collect())

    want = Counter({("a", "b"): 1, ("b", "c"): 1, ("a", "c"): 1})
    for threshold in (graph._CLOSURE_DRIVER_EDGE_MAX, 0):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(graph, "_CLOSURE_DRIVER_EDGE_MAX", threshold)
            assert pairs("<p:p>+") == want
            assert pairs("(<p:p>)+") == want


# ---------------------------------------------------------------------------
# RDF-term inspector builtins: lang/datatype/isIRI/isLiteral/isBlank/IF/COALESCE
# ---------------------------------------------------------------------------

_TERM_NT = [
    '<http://x/a> <http://x/lbl> "hello"@fr .',
    '<http://x/b> <http://x/lbl> "world"@en .',
    '<http://x/c> <http://x/lbl> "plain" .',
    '<http://x/d> <http://x/lbl> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://x/e> <http://x/lbl> <http://x/ref> .',
    '_:bn <http://x/lbl> "blanksub" .',
]


def _term_triples(spark):
    from sifr_project_java_ontology_processing_spark.sources.rdf_io import (
        parse_ntriples_lines,
    )

    lines = spark.createDataFrame([(l,) for l in _TERM_NT], "value string")
    return parse_ntriples_lines(lines, keep_datatype=True).drop("_raw")


def test_lang_builtin(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _term_triples(spark)
    out = {
        r.s: r.l
        for r in execute_bgp(
            t,
            'SELECT ?s ?l WHERE { ?s <http://x/lbl> ?v . BIND(lang(?v) AS ?l) }',
        ).collect()
    }
    # untagged literal gives ''; lang() of a non-literal is a SPARQL
    # type error -> the BIND leaves ?l unbound (Jena/ARQ parity)
    assert out["http://x/a"] == "fr" and out["http://x/b"] == "en"
    assert out["http://x/c"] == "" and out["http://x/e"] is None


def test_datatype_builtin_rdf11(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    XSD = "http://www.w3.org/2001/XMLSchema#"
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    t = _term_triples(spark)
    q = 'SELECT ?s ?d WHERE { ?s <http://x/lbl> ?v . BIND(datatype(?v) AS ?d) }'
    out = {r.s: r.d for r in execute_bgp(t, q).collect()}
    assert out["http://x/d"] == f"{XSD}integer"
    assert out["http://x/a"] == f"{RDF}langString"
    assert out["http://x/c"] == f"{XSD}string"
    assert out["http://x/e"] is None  # datatype() of an IRI is unbound
    # stripped frame: plain literals still synthesize xsd:string
    out2 = {
        r.s: r.d
        for r in execute_bgp(t.drop("obj_datatype"), q).collect()
    }
    assert out2["http://x/d"] == f"{XSD}string"  # type was stripped
    assert out2["http://x/a"] == f"{RDF}langString"


def test_isiri_isliteral_isblank_and_iri_terms_in_filter(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _term_triples(spark)
    iri = {
        r.s
        for r in execute_bgp(
            t, "SELECT ?s WHERE { ?s <http://x/lbl> ?v FILTER(isIRI(?v)) }"
        ).collect()
    }
    assert iri == {"http://x/e"}
    blank = {
        r.s
        for r in execute_bgp(
            t, "SELECT ?s WHERE { ?s <http://x/lbl> ?v FILTER(isBlank(?s)) }"
        ).collect()
    }
    assert blank == {"_:bn"}
    dt_int = {
        r.s
        for r in execute_bgp(
            t,
            "SELECT ?s WHERE { ?s <http://x/lbl> ?v "
            "FILTER(datatype(?v) = <http://www.w3.org/2001/XMLSchema#integer>) }",
        ).collect()
    }
    assert dt_int == {"http://x/d"}


def test_if_coalesce_builtins(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _term_triples(spark)
    q = ('SELECT ?s ?k WHERE { ?s <http://x/lbl> ?v . '
         'BIND(IF(isLiteral(?v), COALESCE(lang(?v), "x"), "ref") AS ?k) }')
    out = {r.s: r.k for r in execute_bgp(t, q).collect()}
    assert out["http://x/e"] == "ref"
    assert out["http://x/a"] == "fr"
    assert out["http://x/c"] == ""


def test_lang_filter_inside_optional(spark):
    """Companion refs inside OPTIONAL filters normalize to the base
    variable for the inner-scope check."""
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _term_triples(spark)
    q = ('SELECT ?s ?v WHERE { ?s <http://x/lbl> ?o . '
         'OPTIONAL { ?s <http://x/lbl> ?v FILTER(lang(?v) = "fr") } }')
    out = {r.s: r.v for r in execute_bgp(t, q).collect()}
    assert out["http://x/a"] == "hello"
    assert out["http://x/b"] is None  # lang mismatch: group fails, row survives


# ---------------------------------------------------------------------------
# Round-5 review fixes
# ---------------------------------------------------------------------------


def test_construct_where_rejects_property_paths(spark):
    """SPARQL 1.1 restricts CONSTRUCT WHERE to triple patterns — a
    closure modifier would emit inferred pairs as asserted triples and
    a sequence path desugars into untemplatable __p join vars."""
    import pytest as _pytest

    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _term_triples(spark)
    with _pytest.raises(ValueError, match="CONSTRUCT WHERE"):
        execute_bgp(t, "CONSTRUCT WHERE { ?a <http://x/lbl>+ ?b }")
    with _pytest.raises(ValueError, match="CONSTRUCT WHERE"):
        execute_bgp(
            t, "CONSTRUCT WHERE { ?a <http://x/p>/<http://x/q> ?b }"
        )


def test_lang_empty_filter_excludes_non_literals(spark):
    """FILTER(lang(?v) = "") selects untagged LITERALS only: lang() of
    an IRI binding is a SPARQL type error, so the row drops (it used
    to compile to '' and survive)."""
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _term_triples(spark)
    got = sorted(
        r.s
        for r in execute_bgp(
            t,
            'SELECT ?s WHERE { ?s <http://x/lbl> ?v FILTER(lang(?v) = "") }',
        ).collect()
    )
    assert "http://x/e" not in got          # IRI object: type error
    assert "http://x/c" in got and "http://x/d" in got
    assert len(got) == 3                    # c, d, and the blank-subject row


def test_term_inspector_on_bind_var_raises_cleanly(spark):
    """lang()/isLiteral() on a BIND-bound variable has no __m_*
    companion — must fail with a clear ValueError, not an
    UNRESOLVED_COLUMN AnalysisException."""
    import pytest as _pytest

    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _term_triples(spark)
    with _pytest.raises(ValueError, match="term metadata"):
        execute_bgp(
            t,
            'SELECT ?s WHERE { ?s <http://x/lbl> ?v . '
            'BIND("x" AS ?w) FILTER(isLiteral(?w)) }',
        ).collect()
    with _pytest.raises(ValueError, match="term metadata"):
        execute_bgp(
            t,
            'SELECT ?s ?z WHERE { ?s <http://x/lbl> ?v . '
            'BIND("x" AS ?w) BIND(lang(?w) AS ?z) }',
        ).collect()


def test_numeric_rewrite_skips_string_literals():
    """The numeric-comparison rewriter must never touch text inside a
    SQL string constant (a regex pattern may contain backtick-quoted
    comparison-shaped text)."""
    from sifr_project_java_ontology_processing_spark.plans.bgp import (
        _numeric_comparisons,
    )

    sql = "(`v` RLIKE '`a` > 3') AND `n` > 5"
    out = _numeric_comparisons(sql)
    assert "'`a` > 3'" in out
    assert "try_cast(`n` AS DOUBLE) > 5" in out


def test_typed_order_on_optional_bound_var(spark):
    """typed_numerics must flow into OPTIONAL groups: the untagged
    numeric-looking decoy '7'@en stays non-numeric (datatype-gated)
    even when ?v is bound inside OPTIONAL."""
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _typed_triples(spark)
    q = (
        "SELECT ?s ?v WHERE { ?s <http://x/val> ?o . "
        "OPTIONAL { ?s <http://x/val> ?v } } ORDER BY ?v LIMIT 3"
    )
    got = [r.v for r in execute_bgp(t, q, typed_numerics=True).collect()]
    assert got == ["2.5", "9", "10"]


# ---------------------------------------------------------------------------
# Unbound-variable compatibility in NOT EXISTS / EXISTS / MINUS
# ---------------------------------------------------------------------------


def _compat_triples(spark):
    rows = [
        ("http://x/alice", "http://x/name", "Alice", True, None, None),
        ("http://x/alice", "http://x/mail", "a@x.org", True, None, None),
        ("http://x/bob", "http://x/name", "Bob", True, None, None),
        ("http://x/bob", "http://x/mail", "b@x.org", True, None, None),
        ("http://x/carol", "http://x/name", "Carol", True, None, None),
        # banned list shares the OPTIONAL-bound ?e
        ("http://x/l1", "http://x/banned", "b@x.org", True, None, None),
    ]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, obj_datatype string",
    )


def test_not_exists_unbound_shared_var_is_compatible(spark):
    """SPARQL compatibility: an UNBOUND shared variable matches
    anything, so Carol (no mail -> ?e unbound) is removed by
    NOT EXISTS { ?l banned ?e } whenever the banned group is
    non-empty; Bob is removed by the value match; Alice survives."""
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _compat_triples(spark)
    q = (
        "SELECT ?s WHERE { ?s <http://x/name> ?n . "
        "OPTIONAL { ?s <http://x/mail> ?e } "
        "FILTER NOT EXISTS { ?l <http://x/banned> ?e } }"
    )
    got = sorted(r.s for r in execute_bgp(t, q).collect())
    assert got == ["http://x/alice"]


def test_exists_unbound_shared_var_is_compatible(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _compat_triples(spark)
    q = (
        "SELECT ?s WHERE { ?s <http://x/name> ?n . "
        "OPTIONAL { ?s <http://x/mail> ?e } "
        "FILTER EXISTS { ?l <http://x/banned> ?e } }"
    )
    got = sorted(r.s for r in execute_bgp(t, q).collect())
    # Bob: value match; Carol: unbound ?e compatible with the one
    # banned solution; Alice: bound mismatch -> dropped
    assert got == ["http://x/bob", "http://x/carol"]


def test_minus_unbound_shared_var_domain_overlap_rule(spark):
    """MINUS differs from NOT EXISTS exactly here: Carol's mapping
    shares no BOUND variable with the banned solutions (domain
    overlap empty) so she is KEPT, while Bob's value match removes
    him."""
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _compat_triples(spark)
    q = (
        "SELECT ?s WHERE { ?s <http://x/name> ?n . "
        "OPTIONAL { ?s <http://x/mail> ?e } "
        "MINUS { ?l <http://x/banned> ?e } }"
    )
    got = sorted(r.s for r in execute_bgp(t, q).collect())
    assert got == ["http://x/alice", "http://x/carol"]


def test_compat_join_mixed_solid_and_nullable_shared(spark):
    """Two shared vars, one always bound (?s via the inner pattern)
    and one nullable (?e): the mask split joins the bound subset on
    both and the null subset on ?s alone."""
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    rows = [
        ("http://x/a", "http://x/name", "A", True, None, None),
        ("http://x/a", "http://x/mail", "a@x", True, None, None),
        ("http://x/b", "http://x/name", "B", True, None, None),
        # flags: a flagged WITH its mail value; b flagged (b has no mail)
        ("http://x/a", "http://x/flag", "a@x", True, None, None),
        ("http://x/b", "http://x/flag", "zzz", True, None, None),
    ]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, obj_datatype string",
    )
    q = (
        "SELECT ?s WHERE { ?s <http://x/name> ?n . "
        "OPTIONAL { ?s <http://x/mail> ?e } "
        "FILTER NOT EXISTS { ?s <http://x/flag> ?e } }"
    )
    got = sorted(r.s for r in execute_bgp(t, q).collect())
    # a: bound ?e matches its flag row -> removed.
    # b: ?e unbound, compatible with ANY flag value of b -> removed.
    assert got == []


def test_not_exists_bound_vars_fast_path_unchanged(spark):
    """No nullable shared vars -> the plain left-anti path: a bound
    non-matching ?e survives."""
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _compat_triples(spark)
    q = (
        "SELECT ?s WHERE { ?s <http://x/mail> ?e "
        "FILTER NOT EXISTS { ?l <http://x/banned> ?e } }"
    )
    got = sorted(r.s for r in execute_bgp(t, q).collect())
    assert got == ["http://x/alice"]


# ---------------------------------------------------------------------------
# String/numeric builtins + langMatches (round 5)
# ---------------------------------------------------------------------------


def _fns_triples(spark):
    rows = [
        ("a", "http://x/v", "3.7", True, None, None),
        ("b", "http://x/v", "-2.5", True, None, None),
        ("c", "http://x/v", "banana", True, None, None),
        ("a", "http://x/lbl", "hello world", True, "en-US", None),
        ("b", "http://x/lbl", "bonjour", True, "fr", None),
        ("c", "http://x/lbl", "plain", True, None, None),
    ]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, obj_datatype string",
    )


def test_numeric_builtins_and_type_errors(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _fns_triples(spark)
    q = (
        "SELECT ?s ?r ?f ?cl WHERE { ?s <http://x/v> ?v . "
        "BIND(ROUND(?v) AS ?r) BIND(FLOOR(?v) AS ?f) "
        "BIND(CEIL(?v) AS ?cl) }"
    )
    out = {r.s: (r.r, r.f, r.cl) for r in execute_bgp(t, q).collect()}
    assert out["a"] == (4.0, 3, 4)
    # fn:round ties go toward +inf (round(-2.5) = -2, NOT Spark's
    # half-away -3); FLOOR/CEIL toward -inf/+inf
    assert out["b"] == (-2.0, -3, -2)
    # non-numeric lexical form: SPARQL type error -> unbound
    assert out["c"] == (None, None, None)
    got = sorted(
        r.s
        for r in execute_bgp(
            t, "SELECT ?s WHERE { ?s <http://x/v> ?v FILTER(ABS(?v) > 3) }"
        ).collect()
    )
    assert got == ["a"]  # |-2.5| fails, banana is a type error


def test_strbefore_strafter(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _fns_triples(spark)
    q = (
        "SELECT ?s ?bef ?aft WHERE { ?s <http://x/v> ?v . "
        'BIND(STRBEFORE(?v, ".") AS ?bef) '
        'BIND(STRAFTER(?v, ".") AS ?aft) }'
    )
    out = {r.s: (r.bef, r.aft) for r in execute_bgp(t, q).collect()}
    assert out["a"] == ("3", "7")
    assert out["b"] == ("-2", "5")
    assert out["c"] == ("", "")  # absent needle -> '' per SPARQL
    # empty needle: before -> '', after -> whole string
    q2 = (
        "SELECT ?s ?b ?a2 WHERE { ?s <http://x/v> ?v . "
        'BIND(STRBEFORE(?v, "") AS ?b) BIND(STRAFTER(?v, "") AS ?a2) }'
    )
    out2 = {r.s: (r.b, r.a2) for r in execute_bgp(t, q2).collect()}
    assert out2["c"] == ("", "banana")


def test_langmatches(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _fns_triples(spark)

    def run(rng):
        q = (
            "SELECT ?s WHERE { ?s <http://x/lbl> ?l "
            f'FILTER(langMatches(lang(?l), "{rng}")) }}'
        )
        return sorted(r.s for r in execute_bgp(t, q).collect())

    assert run("en") == ["a"]        # en-US extends en
    assert run("EN-us") == ["a"]     # case-insensitive
    assert run("fr") == ["b"]
    assert run("*") == ["a", "b"]    # any non-empty tag; plain excluded
    assert run("en-US-x") == []


def test_hash_builtins_match_hashlib(spark):
    import hashlib

    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _fns_triples(spark)
    q = (
        "SELECT ?s ?h1 ?h2 ?h3 ?h4 ?h5 WHERE { ?s <http://x/lbl> ?l . "
        "BIND(MD5(?l) AS ?h1) BIND(SHA1(?l) AS ?h2) "
        "BIND(SHA256(?l) AS ?h3) BIND(SHA384(?l) AS ?h4) "
        "BIND(SHA512(?l) AS ?h5) }"
    )
    out = {r.s: r for r in execute_bgp(t, q).collect()}
    for s, text in [("a", "hello world"), ("b", "bonjour"), ("c", "plain")]:
        b = text.encode()
        r = out[s]
        assert r.h1 == hashlib.md5(b).hexdigest()
        assert r.h2 == hashlib.sha1(b).hexdigest()
        assert r.h3 == hashlib.sha256(b).hexdigest()
        assert r.h4 == hashlib.sha384(b).hexdigest()
        assert r.h5 == hashlib.sha512(b).hexdigest()


def test_encode_for_uri_rfc3986(spark):
    """ENCODE_FOR_URI = fn:encode-for-uri: RFC 3986 unreserved chars
    pass through, everything else (incl. space, '+', '*', multi-byte
    UTF-8) becomes uppercase %-octets — i.e. urllib quote(safe='')."""
    from urllib.parse import quote

    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    texts = ["Los Angeles", "~tilde*star+plus/slash?q=1", "héllo€", "a_b-c.d"]
    rows = [
        (f"s{i}", "http://x/v", txt, True, None, None)
        for i, txt in enumerate(texts)
    ]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, obj_datatype string",
    )
    q = (
        "SELECT ?s ?e WHERE { ?s <http://x/v> ?v . "
        "BIND(ENCODE_FOR_URI(?v) AS ?e) }"
    )
    out = {r.s: r.e for r in execute_bgp(t, q).collect()}
    for i, txt in enumerate(texts):
        assert out[f"s{i}"] == quote(txt, safe=""), txt


def test_iri_uri_builtin_identity_on_lexical_form(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _fns_triples(spark)
    q = (
        "SELECT ?s ?u ?u2 WHERE { ?s <http://x/lbl> ?l . "
        "BIND(IRI(?s) AS ?u) BIND(URI(?s) AS ?u2) }"
    )
    for r in execute_bgp(t, q).collect():
        assert r.u == r.s and r.u2 == r.s


def test_regex_flags(spark):
    import pytest as _pytest

    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    t = _fns_triples(spark)

    def run(pat, fl):
        q = (
            "SELECT ?s WHERE { ?s <http://x/lbl> ?l "
            f'FILTER(regex(?l, "{pat}", "{fl}")) }}'
        )
        return sorted(r.s for r in execute_bgp(t, q).collect())

    assert run("BONJOUR", "i") == ["b"]
    assert run("BONJOUR", "") == []
    assert run("^WORLD$", "im") == []  # ^$ anchor whole string w/o m
    # unsupported flag is a parse-time error, not silent
    with _pytest.raises(ValueError, match="regex flags"):
        run("x", "g")


def test_compat_negation_join_vs_bruteforce(spark):
    """Exhaustive randomized check of _compat_negation_join against a
    pure-Python implementation of SPARQL compatibility semantics:
    every null-mask combination over two nullable shared vars, values
    from a small domain so matches/misses/ties all occur."""
    import random

    from sifr_project_java_ontology_processing_spark.plans.bgp import (
        _compat_negation_join,
    )

    rng = random.Random(42)
    dom = [None, "0", "1", "2"]
    outer = [
        (i, rng.choice(dom), rng.choice(dom), rng.choice(["x", "y"]))
        for i in range(60)
    ]
    inner = list({(rng.choice(dom[1:]), rng.choice(dom[1:])) for _ in range(8)})
    odf = spark.createDataFrame(outer, "k long, a string, b string, extra string")
    idf = spark.createDataFrame(inner, "a string, b string")

    def compatible(o, i):
        return all(o[j + 1] is None or o[j + 1] == i[j] for j in range(2))

    def brute(mode):
        keep = []
        for o in outer:
            hit = any(compatible(o, i) for i in inner)
            bound_shared = o[1] is not None or o[2] is not None
            if mode == "exists":
                if hit:
                    keep.append(o[0])
            elif mode == "not_exists":
                if not hit:
                    keep.append(o[0])
            else:  # minus: domain-overlap rule
                if not (bound_shared and hit):
                    keep.append(o[0])
        return sorted(keep)

    for mode in ("exists", "not_exists", "minus"):
        got = sorted(
            r.k
            for r in _compat_negation_join(
                odf, idf, ["a", "b"], ["a", "b"], mode
            ).collect()
        )
        assert got == brute(mode), mode


# ---------------------------------------------------------------------------
# round 5: nested groups, complex OPTIONAL, ORDER BY expressions
# ---------------------------------------------------------------------------


def test_nested_union_joins_outer_pattern(tiny_triples):
    # UNION chain INSIDE a group, joined with a sibling pattern — the
    # shape the top-level-only UNION special case could not express
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?v WHERE {
          ?n a skos:Concept .
          { ?n skos:prefLabel ?v . } UNION { ?n <http://ex/region> ?v . }
        } ORDER BY ?n ?v
        """,
    ).collect()
    got = [(r["n"], r["v"]) for r in out]
    # n3 is a Concept but has neither label nor region: no row (join)
    assert got == [
        ("n1", "alpha"), ("n1", "r1"),
        ("n2", "beta"), ("n2", "r2"),
    ]


def test_nested_group_plain_join(tiny_triples):
    # a bare nested group joins on shared variables (bottom-up groups)
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?rl WHERE {
          ?n <http://ex/region> ?r .
          { ?r skos:prefLabel ?rl . FILTER(regex(?rl, "^w")) }
        }
        """,
    ).collect()
    assert [(r["n"], r["rl"]) for r in out] == [("n1", "west")]


def test_nested_group_filter_is_group_scoped(tiny_triples):
    # FILTER inside a nested group sees only that group's bindings —
    # referencing an outer-only variable must fail loudly (unresolved
    # column at the sub-plan), not silently bind the outer value
    with pytest.raises(Exception, match="o"):
        execute_bgp(
            tiny_triples,
            """
            SELECT ?s WHERE {
              ?s <http://ex/region> ?o .
              { ?s a ?x . FILTER(STRLEN(?o) > 1) }
            }
            """,
        ).collect()


def test_optional_with_bind_inside(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?ul WHERE {
          ?n a skos:Concept .
          OPTIONAL { ?n skos:prefLabel ?l . BIND(UCASE(?l) AS ?ul) }
        } ORDER BY ?n ?ul
        """,
    ).collect()
    got = [(r["n"], r["ul"]) for r in out]
    assert got == [("n1", "ALPHA"), ("n2", "BETA"), ("n3", None)]


def test_nested_optional_two_levels(tiny_triples):
    # OPTIONAL { a OPTIONAL { b } }: inner optional scoped inside the
    # outer group — n1's region r1 has a label, n2's r2 has two, n3 has
    # no region at all (outer group fails entirely)
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?r ?rl WHERE {
          ?n a skos:Concept .
          OPTIONAL {
            ?n <http://ex/region> ?r .
            OPTIONAL { ?r skos:prefLabel ?rl . FILTER(lang(?rl) = "en") }
          }
        } ORDER BY ?n ?rl
        """,
    ).collect()
    got = [(r["n"], r["r"], r["rl"]) for r in out]
    assert got == [
        ("n1", "r1", "west"),
        ("n2", "r2", "east"),
        ("n3", None, None),
    ]


def test_optional_with_union_inside(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?v WHERE {
          ?n a skos:Concept .
          OPTIONAL {
            { ?n skos:prefLabel ?v . } UNION { ?n <http://ex/region> ?v . }
          }
        } ORDER BY ?n ?v
        """,
    ).collect()
    got = [(r["n"], r["v"]) for r in out]
    assert got == [
        ("n1", "alpha"), ("n1", "r1"),
        ("n2", "beta"), ("n2", "r2"),
        ("n3", None),
    ]


def test_empty_nested_group_raises():
    with pytest.raises(ValueError, match="empty nested group"):
        parse_sparql("SELECT ?s WHERE { ?s <p> ?o . { } }")


def test_order_by_expression_desc_strlen(tiny_triples):
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?l WHERE { ?s skos:prefLabel ?l . }
        ORDER BY DESC(STRLEN(?l)) ?l
        """,
    ).collect()
    assert [r["l"] for r in out] == ["alpha", "beta", "east", "west", "est"]


def test_order_by_bare_expression_and_var_mix(tiny_triples):
    # bare ( expr ) ordering condition mixed with a plain var
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?l WHERE { ?n skos:prefLabel ?l . }
        ORDER BY (STRLEN(?l)) DESC(?n) ?l
        """,
    ).collect()
    got = [(r["n"], r["l"]) for r in out]
    assert got == [
        ("r2", "est"),
        ("r2", "east"), ("r1", "west"), ("n2", "beta"),
        ("n1", "alpha"),
    ]


def test_order_by_asc_var_still_parses():
    q = parse_sparql("SELECT ?s WHERE { ?s <p> ?o . } ORDER BY DESC(?s) ?o")
    assert q.order_by == [("`s`", False, "s"), ("`o`", True, "o")]


def test_union_chain_followed_by_more_patterns(tiny_triples):
    # {A} UNION {B} . more — the chain demotes to a nested-group
    # sub-plan joined with the remainder of the WHERE group
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        SELECT ?n ?v ?r WHERE {
          { ?n skos:prefLabel ?v . } UNION { ?n a skos:Concept . BIND("t" AS ?v) }
          ?n <http://ex/region> ?r .
        } ORDER BY ?n ?v
        """,
    ).collect()
    got = [(r["n"], r["v"], r["r"]) for r in out]
    assert got == [
        ("n1", "alpha", "r1"), ("n1", "t", "r1"),
        ("n2", "beta", "r2"), ("n2", "t", "r2"),
    ]


def test_construct_over_nested_group_keeps_term_metadata(tiny_triples):
    # a template object var bound INSIDE a nested group must keep its
    # literal flag + lang tag through the sub-plan boundary
    out = execute_bgp(
        tiny_triples,
        """
        PREFIX skos: <http://www.w3.org/2004/02/skos/core#>
        CONSTRUCT { ?n <http://out/lbl> ?v . }
        WHERE {
          ?n a skos:Concept .
          { ?n skos:prefLabel ?v . } UNION { ?n <http://ex/region> ?v . }
        }
        """,
    ).collect()
    rows = {(r["subj"], r["obj"], r["obj_lang"], r["obj_is_literal"]) for r in out}
    assert ("n1", "alpha", "en", True) in rows      # literal with lang kept
    assert ("n1", "r1", None, False) in rows        # IRI object stays IRI
    assert len(rows) == 4


def test_optional_groups_join_in_text_order(spark):
    # SPARQL left-joins OPTIONALs strictly left-to-right: the first
    # (full-group, BIND-carrying) OPTIONAL binds ?x, and the second
    # (flat) OPTIONAL must agree with that binding — running the flat
    # one first would invert the outcome
    sch = (
        "subj string, pred string, obj string, obj_lang string, "
        "obj_is_literal boolean"
    )
    t = spark.createDataFrame(
        [
            ("s1", "http://x/p", "v1", None, True),
            ("s1", "http://x/q", "w1", None, True),
            ("s1", "http://x/r", "OTHER", None, True),
        ],
        sch,
    )
    out = execute_bgp(
        t,
        """
        SELECT ?s ?x WHERE {
          ?s <http://x/p> ?v .
          OPTIONAL { ?s <http://x/q> ?w . BIND(CONCAT(?w, "!") AS ?x) }
          OPTIONAL { ?s <http://x/r> ?x }
        }
        """,
    ).collect()
    assert [(r["s"], r["x"]) for r in out] == [("s1", "w1!")]


_SAMETERM_NT = [
    '<http://x/1> <http://x/p> "v"@fr .',
    '<http://x/1> <http://x/q> "v"@fr .',
    '<http://x/2> <http://x/p> "v"@fr .',
    '<http://x/2> <http://x/q> "v"@en .',
    '<http://x/3> <http://x/p> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://x/3> <http://x/q> "5" .',
    '<http://x/4> <http://x/p> "w"^^<http://www.w3.org/2001/XMLSchema#string> .',
    '<http://x/4> <http://x/q> "w" .',
    '<http://x/5> <http://x/p> "a" .',
    '<http://x/5> <http://x/q> "b" .',
    '<http://x/6> <http://x/p> <http://x/ref> .',
    '<http://x/6> <http://x/q> <http://x/ref> .',
]


def test_sameterm_builtin(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp
    from sifr_project_java_ontology_processing_spark.sources.rdf_io import (
        parse_ntriples_lines,
    )

    lines = spark.createDataFrame(
        [(l,) for l in _SAMETERM_NT], "value string"
    )
    t = parse_ntriples_lines(lines, keep_datatype=True).drop("_raw")
    same = {
        r.s
        for r in execute_bgp(
            t,
            "SELECT ?s WHERE { ?s <http://x/p> ?v . ?s <http://x/q> ?w "
            "FILTER(sameTerm(?v, ?w)) }",
        ).collect()
    }
    # 1: identical lang-tagged; 4: explicit ^^xsd:string IS the plain
    # literal per RDF 1.1; 6: same IRI term. 2 differs by lang, 3 by
    # datatype (integer vs string), 5 by lexical form.
    assert same == {"http://x/1", "http://x/4", "http://x/6"}


def test_filter_in_and_not_in(spark):
    from sifr_project_java_ontology_processing_spark.plans.bgp import execute_bgp

    lines = spark.createDataFrame(
        [(l,) for l in _SAMETERM_NT], "value string"
    )
    from sifr_project_java_ontology_processing_spark.sources.rdf_io import (
        parse_ntriples_lines,
    )

    t = parse_ntriples_lines(lines, keep_datatype=True).drop("_raw")
    kept = {
        r.s
        for r in execute_bgp(
            t,
            'SELECT ?s WHERE { ?s <http://x/p> ?v '
            'FILTER(?v IN ("v", "5", "a")) }',
        ).collect()
    }
    # lexical-form membership: both "v"@fr rows, the typed "5", and "a"
    assert kept == {"http://x/1", "http://x/2", "http://x/3", "http://x/5"}
    kept = {
        r.s
        for r in execute_bgp(
            t,
            "SELECT ?s WHERE { ?s <http://x/p> ?v "
            'FILTER(?v NOT IN ("v", "5", "a") && ?s NOT IN (<http://x/6>)) }',
        ).collect()
    }
    assert kept == {"http://x/4"}
    with pytest.raises(ValueError, match="empty IN"):
        execute_bgp(
            t, "SELECT ?s WHERE { ?s <http://x/p> ?v FILTER(?v IN ()) }"
        )
