"""RDFS entailment materialization + SKOS integrity audit
(operators/inference.py). Exact expected triple sets, hand-derived."""

from __future__ import annotations

from sifr_project_java_ontology_processing_spark.operators.inference import (
    RDF_TYPE,
    RDFS_DOMAIN,
    RDFS_RANGE,
    RDFS_SUBCLASSOF,
    RDFS_SUBPROPERTYOF,
    rdfs_entail,
    skos_audit,
)

SCHEMA = "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean"
SKOS = "http://www.w3.org/2004/02/skos/core#"


def _iri(s, p, o):
    return (s, p, o, None, False)


def _triples(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


_RDFS_ASSERTED = [
    _iri("p1", RDFS_SUBPROPERTYOF, "p2"),
    _iri("p2", RDFS_SUBPROPERTYOF, "p3"),
    _iri("A", RDFS_SUBCLASSOF, "B"),
    _iri("B", RDFS_SUBCLASSOF, "C"),
    _iri("p1", RDFS_DOMAIN, "D1"),
    _iri("p2", RDFS_RANGE, "R2"),
    _iri("x", "p1", "y"),
    _iri("u", RDF_TYPE, "A"),
]


def test_rdfs_entail_full_rule_set(spark):
    """Chain hierarchy + domain/range; every rule fires, including
    rdfs3 on an rdfs7-DERIVED assertion. OWL property characteristics,
    inverses, equivalences and subsumption cycles stay inert under
    RDFS: no mirror, no transitive pair, no ``owl:equivalent*`` row."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_EQCLASS,
        OWL_INVERSEOF,
        OWL_SYMMETRIC,
        OWL_TRANSITIVE,
    )

    owl = [
        _iri("p", OWL_INVERSEOF, "q"),
        _iri("p", RDF_TYPE, OWL_SYMMETRIC),
        _iri("r", RDF_TYPE, OWL_TRANSITIVE),
        _iri("A", OWL_EQCLASS, "B"),
        _iri("K1", RDFS_SUBCLASSOF, "K2"),
        _iri("K2", RDFS_SUBCLASSOF, "K1"),
        _iri("P1", RDFS_SUBPROPERTYOF, "P2"),
        _iri("P2", RDFS_SUBPROPERTYOF, "P1"),
        _iri("x", "p", "y"),
        _iri("a", "r", "b"),
        _iri("b", "r", "c"),
        _iri("k", RDF_TYPE, "K1"),
        _iri("z", RDF_TYPE, "A"),
        _iri("s", "P1", "o"),
    ]
    cases = [
        (_RDFS_ASSERTED, {
            _iri("p1", RDFS_SUBPROPERTYOF, "p3"),  # rdfs5
            _iri("x", "p2", "y"),  # rdfs7
            _iri("x", "p3", "y"),  # rdfs7 via closure
            _iri("A", RDFS_SUBCLASSOF, "C"),  # rdfs11
            _iri("x", RDF_TYPE, "D1"),  # rdfs2 (domain of p1)
            _iri("y", RDF_TYPE, "R2"),  # rdfs3 on DERIVED (x p2 y)
            _iri("u", RDF_TYPE, "B"),  # rdfs9
            _iri("u", RDF_TYPE, "C"),  # rdfs9 via closure
        }),
        (owl, {
            _iri("K1", RDFS_SUBCLASSOF, "K1"),  # rdfs11 round the cycle
            _iri("K2", RDFS_SUBCLASSOF, "K2"),
            _iri("P1", RDFS_SUBPROPERTYOF, "P1"),  # rdfs5 round the cycle
            _iri("P2", RDFS_SUBPROPERTYOF, "P2"),
            _iri("k", RDF_TYPE, "K2"),  # rdfs9
            _iri("s", "P2", "o"),  # rdfs7
        }),
    ]
    for asserted, derived in cases:
        out = {
            (r.subj, r.pred, r.obj, r.obj_lang, r.obj_is_literal)
            for r in rdfs_entail(_triples(spark, asserted)).collect()
        }
        assert out == set(asserted) | derived


def test_rdfs_entail_literal_range_not_typed(spark):
    """rdfs3 must NOT type literal objects."""
    asserted = [
        _iri("p", RDFS_RANGE, "R"),
        ("x", "p", "hello", "en", True),
    ]
    out = {
        (r.subj, r.pred, r.obj)
        for r in rdfs_entail(_triples(spark, asserted)).collect()
    }
    assert ("hello", RDF_TYPE, "R") not in out
    # domain-free, so only the asserted pair remains
    assert out == {("p", RDFS_RANGE, "R"), ("x", "p", "hello")}


def test_rdfs_entail_idempotent(spark):
    """Entailing an already-entailed graph adds nothing (fixpoint)."""
    asserted = [
        _iri("A", RDFS_SUBCLASSOF, "B"),
        _iri("B", RDFS_SUBCLASSOF, "C"),
        _iri("u", RDF_TYPE, "A"),
        _iri("p", RDFS_DOMAIN, "A"),
        _iri("x", "p", "y"),
    ]
    once = rdfs_entail(_triples(spark, asserted))
    r1 = {tuple(r) for r in once.collect()}
    r2 = {tuple(r) for r in rdfs_entail(once).collect()}
    assert r1 == r2
    assert ("x", RDF_TYPE, "C", None, False) in r1  # rdfs2 then rdfs9


def test_skos_audit_all_issues(spark):
    C, PL, BR, IS = (
        SKOS + "Concept",
        SKOS + "prefLabel",
        SKOS + "broader",
        SKOS + "inScheme",
    )
    rows = [
        # c1: healthy — one label, in scheme
        _iri("c1", RDF_TYPE, C),
        ("c1", PL, "one", "en", True),
        ("c1", IS, "sch", None, False),
        # c2: missing prefLabel, linked via broader to c1
        _iri("c2", RDF_TYPE, C),
        _iri("c2", BR, "c1"),
        # c3: two @en prefLabels, linked
        _iri("c3", RDF_TYPE, C),
        ("c3", PL, "x", "en", True),
        ("c3", PL, "y", "en", True),
        _iri("c3", BR, "c1"),
        # c4 <-> c5: broader cycle (both labeled, linked)
        _iri("c4", RDF_TYPE, C),
        ("c4", PL, "four", "en", True),
        _iri("c4", BR, "c5"),
        _iri("c5", RDF_TYPE, C),
        ("c5", PL, "five", "en", True),
        _iri("c5", BR, "c4"),
        # c6: orphan (label but no links)
        _iri("c6", RDF_TYPE, C),
        ("c6", PL, "six", "en", True),
        # c7: same label twice (duplicate triple-ish) is NOT a violation;
        # different langs are NOT a violation
        _iri("c7", RDF_TYPE, C),
        ("c7", PL, "sept", "fr", True),
        ("c7", PL, "seven", "en", True),
        ("c7", PL, "seven", "en", True),
        _iri("c7", BR, "c1"),
    ]
    out = {(r.concept, r.issue) for r in skos_audit(_triples(spark, rows)).collect()}
    assert out == {
        ("c2", "missing_preflabel"),
        ("c3", "multiple_preflabel"),
        ("c4", "broader_cycle"),
        ("c5", "broader_cycle"),
        ("c6", "orphan_concept"),
    }


def test_skos_audit_self_loop_is_cycle(spark):
    C, PL, BR = SKOS + "Concept", SKOS + "prefLabel", SKOS + "broader"
    rows = [
        _iri("c1", RDF_TYPE, C),
        ("c1", PL, "one", "en", True),
        _iri("c1", BR, "c1"),
    ]
    out = {(r.concept, r.issue) for r in skos_audit(_triples(spark, rows)).collect()}
    assert out == {("c1", "broader_cycle")}


def test_rdfs_plus_inverse_symmetric_transitive(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_INVERSEOF,
        OWL_SYMMETRIC,
        OWL_TRANSITIVE,
        rdfs_plus_entail,
    )

    asserted = [
        _iri("p:madeBy", OWL_INVERSEOF, "p:makes"),
        _iri("x", "p:madeBy", "m"),
        _iri("w", "p:makes", "v"),  # inverse applies in BOTH directions
        _iri("p:adj", RDF_TYPE, OWL_SYMMETRIC),
        _iri("a", "p:adj", "b"),
        _iri("p:part", RDF_TYPE, OWL_TRANSITIVE),
        _iri("c1", "p:part", "c2"),
        _iri("c2", "p:part", "c3"),
        _iri("c3", "p:part", "c4"),
    ]
    out = {
        (r.subj, r.pred, r.obj)
        for r in rdfs_plus_entail(_triples(spark, asserted)).collect()
    }
    expected = {(s, p, o) for s, p, o, *_ in asserted} | {
        ("m", "p:makes", "x"),  # inverseOf P→Q
        ("v", "p:madeBy", "w"),  # inverseOf Q→P
        ("b", "p:adj", "a"),  # symmetric
        ("c1", "p:part", "c3"),
        ("c2", "p:part", "c4"),
        ("c1", "p:part", "c4"),  # transitive closure depth 3
    }
    assert out == expected


def test_rdfs_plus_inverse_of_transitive_mirrors_closure(spark):
    """(P inv Q) with P transitive: Q must mirror P's CLOSURE pairs,
    not just the asserted edges (post-closure re-application)."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_INVERSEOF,
        OWL_TRANSITIVE,
        rdfs_plus_entail,
    )

    asserted = [
        _iri("p:anc", OWL_INVERSEOF, "p:desc"),
        _iri("p:anc", RDF_TYPE, OWL_TRANSITIVE),
        _iri("a", "p:anc", "b"),
        _iri("b", "p:anc", "c"),
    ]
    out = {
        (r.subj, r.pred, r.obj)
        for r in rdfs_plus_entail(_triples(spark, asserted)).collect()
    }
    assert ("a", "p:anc", "c") in out  # closure
    assert ("c", "p:desc", "a") in out  # inverse OF the closure pair
    assert ("b", "p:desc", "a") in out and ("c", "p:desc", "b") in out


def test_rdfs_plus_symmetric_transitive_connected_component(spark):
    """A property both symmetric and transitive entails ALL ordered
    pairs (incl. reflexive) within a connected component."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_SYMMETRIC,
        OWL_TRANSITIVE,
        rdfs_plus_entail,
    )

    asserted = [
        _iri("p:near", RDF_TYPE, OWL_SYMMETRIC),
        _iri("p:near", RDF_TYPE, OWL_TRANSITIVE),
        _iri("a", "p:near", "b"),
        _iri("b", "p:near", "c"),
    ]
    out = {
        (r.subj, r.obj)
        for r in rdfs_plus_entail(_triples(spark, asserted)).collect()
        if r.pred == "p:near"
    }
    assert out == {(x, y) for x in "abc" for y in "abc"}


def test_rdfs_plus_runs_rdfs_rules_on_derived(spark):
    """range() must fire on a transitively-DERIVED assertion."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_TRANSITIVE,
        rdfs_plus_entail,
    )

    asserted = [
        _iri("p:part", RDF_TYPE, OWL_TRANSITIVE),
        _iri("p:part", RDFS_RANGE, "C:Whole"),
        _iri("x", "p:part", "y"),
        _iri("y", "p:part", "z"),
    ]
    out = {
        (r.subj, r.pred, r.obj)
        for r in rdfs_plus_entail(_triples(spark, asserted)).collect()
    }
    assert ("z", RDF_TYPE, "C:Whole") in out and ("y", RDF_TYPE, "C:Whole") in out


def test_rdfs7_preserves_lang_tag(spark):
    """Review fix: "Hello"@en generalized under a superproperty stays
    "Hello"@en — the plain literal "Hello" is NOT entailed."""
    asserted = [
        _iri("p:pref", RDFS_SUBPROPERTYOF, "p:label"),
        ("x", "p:pref", "Hello", "en", True),
    ]
    out = {
        (r.subj, r.pred, r.obj, r.obj_lang, r.obj_is_literal)
        for r in rdfs_entail(_triples(spark, asserted)).collect()
    }
    assert ("x", "p:label", "Hello", "en", True) in out
    assert ("x", "p:label", "Hello", None, True) not in out


def test_incremental_delta_equals_full(spark):
    """Semi-naive maintenance: entail(base) + delta must equal
    entail(base ∪ delta) exactly, with no duplicate rows."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        rdfs_entail_delta,
    )

    base = [
        _iri("p1", RDFS_SUBPROPERTYOF, "p2"),
        _iri("A", RDFS_SUBCLASSOF, "B"),
        _iri("B", RDFS_SUBCLASSOF, "C"),
        _iri("p1", RDFS_DOMAIN, "A"),
        _iri("x", "p1", "y"),
        _iri("u", RDF_TYPE, "A"),
    ]
    delta = [
        _iri("z", "p1", "w"),      # fires rdfs7, rdfs2, then rdfs9 chain
        _iri("v", RDF_TYPE, "B"),  # fires rdfs9
        _iri("x", "p1", "y"),      # duplicate of an existing assertion
        ("z", "p:lbl", "zed", "en", True),  # inert literal triple
    ]
    full = rdfs_entail(_triples(spark, base + delta))
    inc = rdfs_entail_delta(rdfs_entail(_triples(spark, base)), _triples(spark, delta))
    f_rows = sorted(tuple(r) for r in full.collect())
    i_rows = sorted(tuple(r) for r in inc.collect())
    assert f_rows == i_rows  # same SET and same MULTISET (no dupes)
    assert ("z", RDF_TYPE, "C", None, False) in set(i_rows)  # domain->subclass chain


def test_incremental_schema_delta_falls_back(spark):
    """A delta carrying schema triples invalidates the saturated-schema
    shortcut — the operator must still produce the full entailment."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        rdfs_entail_delta,
    )

    base = [
        _iri("A", RDFS_SUBCLASSOF, "B"),
        _iri("u", RDF_TYPE, "A"),
    ]
    delta = [
        _iri("B", RDFS_SUBCLASSOF, "C"),  # schema change!
    ]
    inc = rdfs_entail_delta(rdfs_entail(_triples(spark, base)), _triples(spark, delta))
    got = {(r.subj, r.pred, r.obj) for r in inc.collect()}
    # u must now be typed C through the EXTENDED hierarchy
    assert ("u", RDF_TYPE, "C") in got
    assert ("A", RDFS_SUBCLASSOF, "C") in got


def test_streaming_entail_matches_batch_rules(spark, tmp_path):
    """streaming_entail over a file stream emits exactly the stream's
    triples and their rdfs7/2/9 consequences (a stateless explode plus
    one stream-static broadcast join)."""
    from sifr_project_java_ontology_processing_spark.streaming.jobs import (
        streaming_entail,
    )

    schema_rows = [
        _iri("p1", RDFS_SUBPROPERTYOF, "p2"),
        _iri("A", RDFS_SUBCLASSOF, "B"),
        _iri("p1", RDFS_DOMAIN, "A"),
    ]
    schema_graph = rdfs_entail(_triples(spark, schema_rows))
    stream_rows = [
        _iri("x", "p1", "y"),
        _iri("u", RDF_TYPE, "A"),
    ]
    src = str(tmp_path / "tsrc")
    _triples(spark, stream_rows).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .format("parquet")
        .load(src)
    )
    q = (
        streaming_entail(stream, schema_graph)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "tout"))
        .option("checkpointLocation", str(tmp_path / "tckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.subj, r.pred, r.obj)
        for r in spark.read.parquet(str(tmp_path / "tout")).collect()
    }
    assert got == {
        ("x", "p1", "y"),
        ("x", "p2", "y"),  # rdfs7
        ("x", RDF_TYPE, "A"),  # rdfs2
        ("x", RDF_TYPE, "B"),  # rdfs9 on the derived typing
        ("u", RDF_TYPE, "A"),
        ("u", RDF_TYPE, "B"),  # rdfs9
    }


def test_functional_violations(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_FUNCTIONAL,
        OWL_INVERSE_FUNCTIONAL,
        functional_violations,
    )

    rows = [
        _iri("p:ssn", RDF_TYPE, OWL_INVERSE_FUNCTIONAL),
        _iri("p:bp", RDF_TYPE, OWL_FUNCTIONAL),
        # a has two distinct birthplaces -> functional violation
        _iri("a", "p:bp", "city1"),
        _iri("a", "p:bp", "city2"),
        # b is fine (one value, asserted twice)
        _iri("b", "p:bp", "city1"),
        _iri("b", "p:bp", "city1"),
        # two nodes share an SSN value -> inverse-functional violation
        _iri("a", "p:ssn", "v:123"),
        _iri("b", "p:ssn", "v:123"),
        # unique ssn value: fine
        _iri("c", "p:ssn", "v:999"),
        # same lexical obj, different lang = DIFFERENT values
        ("d", "p:bp", "x", "en", True),
        ("d", "p:bp", "x", "fr", True),
        # undeclared property: never flagged
        _iri("a", "p:other", "o1"),
        _iri("a", "p:other", "o2"),
    ]
    out = {
        (r.node, r.pred, r.n_values, r.kind)
        for r in functional_violations(
            spark.createDataFrame(rows, SCHEMA)
        ).collect()
    }
    assert out == {
        ("a", "p:bp", 2, "functional"),
        ("d", "p:bp", 2, "functional"),
        ("v:123", "p:ssn", 2, "inverse_functional"),
    }


def test_incremental_meta_schema_delta_falls_back(spark):
    """Review fix: a delta predicate that is a declared SUBPROPERTY of
    rdfs:subClassOf derives schema via rdfs7 — the saturated-schema
    shortcut must detect it and fall back to full entailment."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        rdfs_entail_delta,
    )

    base = [
        _iri("p:q", RDFS_SUBPROPERTYOF, RDFS_SUBCLASSOF),
        _iri("x", RDF_TYPE, "A"),
    ]
    delta = [_iri("A", "p:q", "B")]  # entails A subClassOf B -> x type B
    inc = rdfs_entail_delta(
        rdfs_entail(_triples(spark, base)), _triples(spark, delta)
    )
    got = {(r.subj, r.pred, r.obj) for r in inc.collect()}
    assert ("A", RDFS_SUBCLASSOF, "B") in got
    assert ("x", RDF_TYPE, "B") in got


def test_rdfs_plus_equivalent_class_and_property(spark):
    """owl:equivalentClass/equivalentProperty — desugared to
    bidirectional sub-axioms (scm-eqc1/eqp1), closed equivalences
    re-derived from mutual subsumption (scm-eqc2/eqp2)."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_EQCLASS,
        OWL_EQPROP,
        rdfs_plus_entail,
    )

    asserted = [
        _iri("A", OWL_EQCLASS, "B"),
        _iri("B", OWL_EQCLASS, "C"),       # chain: transitivity of ≡
        _iri("x", RDF_TYPE, "A"),
        _iri("p", OWL_EQPROP, "q"),
        _iri("s", "p", "o"),
        # mutual subsumption WITHOUT an asserted equivalence (scm-eqc2)
        _iri("M", RDFS_SUBCLASSOF, "N"),
        _iri("N", RDFS_SUBCLASSOF, "M"),
    ]
    out = {
        (r.subj, r.pred, r.obj)
        for r in rdfs_plus_entail(_triples(spark, asserted)).collect()
    }
    # instance typing crosses the equivalence in every direction
    assert {("x", RDF_TYPE, "B"), ("x", RDF_TYPE, "C")} <= out
    # both subClassOf directions materialized
    assert {("A", RDFS_SUBCLASSOF, "B"), ("B", RDFS_SUBCLASSOF, "A"),
            ("A", RDFS_SUBCLASSOF, "C"), ("C", RDFS_SUBCLASSOF, "A")} <= out
    # ≡ symmetry + transitivity via scm-eqc2
    assert {("B", OWL_EQCLASS, "A"), ("A", OWL_EQCLASS, "C"),
            ("C", OWL_EQCLASS, "A")} <= out
    # mutual subsumption alone derives ≡
    assert {("M", OWL_EQCLASS, "N"), ("N", OWL_EQCLASS, "M")} <= out
    # no reflexive A ≡ A noise from the cycle
    assert not any(s == o and p == OWL_EQCLASS for s, p, o in out)
    # property side: assertion carried across ≡ via rdfs7
    assert {("s", "q", "o"), ("q", OWL_EQPROP, "p"),
            ("p", RDFS_SUBPROPERTYOF, "q"), ("q", RDFS_SUBPROPERTYOF, "p")} <= out


def test_rdfs_plus_equivalence_idempotent(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_EQCLASS,
        rdfs_plus_entail,
    )

    asserted = [
        _iri("A", OWL_EQCLASS, "B"),
        _iri("x", RDF_TYPE, "A"),
    ]
    once = rdfs_plus_entail(_triples(spark, asserted))
    rows1 = {(r.subj, r.pred, r.obj) for r in once.collect()}
    twice = rdfs_plus_entail(once.select(*once.columns))
    rows2 = {(r.subj, r.pred, r.obj) for r in twice.collect()}
    assert rows1 == rows2


def test_ifp_entity_resolution(spark):
    """IFP collisions → canonical merge map (prp-ifp as identity merge):
    literal-valued keys merge, components close transitively across
    different values/predicates, non-IFP sharing never merges, and
    oversize collision groups are skipped."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_INVERSE_FUNCTIONAL,
        ifp_entity_resolution,
    )

    mbox, isbn, other = "p:mbox", "p:isbn", "p:tag"
    asserted = [
        _iri(mbox, RDF_TYPE, OWL_INVERSE_FUNCTIONAL),
        _iri(isbn, RDF_TYPE, OWL_INVERSE_FUNCTIONAL),
        # literal-valued IFP key shared by a and b
        ("a", mbox, "x@e.org", None, True),
        ("b", mbox, "x@e.org", None, True),
        # b and c share a DIFFERENT key under a different IFP → one
        # component {a, b, c} via transitivity
        ("b", isbn, "978-1", None, True),
        ("c", isbn, "978-1", None, True),
        # duplicate assertion by ONE subject is not a collision
        ("d", mbox, "only@e.org", None, True),
        ("d", mbox, "only@e.org", None, True),
        # sharing under a non-IFP predicate must not merge
        ("e", other, "shared", None, True),
        ("f", other, "shared", None, True),
        # lang/literal-flag are part of value identity: no collision
        ("g", mbox, "same", "en", True),
        ("h", mbox, "same", "fr", True),
    ]
    got = {
        (r["iri"], r["canonical_iri"])
        for r in ifp_entity_resolution(_triples(spark, asserted)).collect()
    }
    assert got == {("b", "a"), ("c", "a")}  # root maps by absence

    # max_group cap: a key shared by 3 subjects is skipped at cap 2
    capped = [
        _iri(mbox, RDF_TYPE, OWL_INVERSE_FUNCTIONAL),
        ("a", mbox, "junk", None, True),
        ("b", mbox, "junk", None, True),
        ("c", mbox, "junk", None, True),
    ]
    out = ifp_entity_resolution(_triples(spark, capped), max_group=2).collect()
    assert out == []


def test_fp_value_merge(spark):
    """include_functional: a functional property asserted twice on one
    subject merges its IRI values (prp-fp); literal double-assertion is
    an inconsistency for the audit, never a merge; cross-family edges
    (IFP + FP) close into one component."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_FUNCTIONAL,
        OWL_INVERSE_FUNCTIONAL,
        ifp_entity_resolution,
    )

    fp, ifp = "p:primary", "p:mbox"
    asserted = [
        _iri(fp, RDF_TYPE, OWL_FUNCTIONAL),
        _iri(ifp, RDF_TYPE, OWL_INVERSE_FUNCTIONAL),
        _iri("x", fp, "A"),
        _iri("x", fp, "B"),                 # prp-fp: A ≡ B
        ("y", fp, "lit1", None, True),
        ("y", fp, "lit2", None, True),      # inconsistency, NOT a merge
        ("B", ifp, "k@e", None, True),
        ("C", ifp, "k@e", None, True),      # IFP: B ≡ C → {A,B,C}
    ]
    got = {
        (r["iri"], r["canonical_iri"])
        for r in ifp_entity_resolution(
            _triples(spark, asserted), include_functional=True
        ).collect()
    }
    assert got == {("B", "A"), ("C", "A")}
    # default (IFP only): just B≡C
    got2 = {
        (r["iri"], r["canonical_iri"])
        for r in ifp_entity_resolution(_triples(spark, asserted)).collect()
    }
    assert got2 == {("C", "B")}


def test_property_chain_axioms(spark):
    """owl:propertyChainAxiom (prp-spo2): hasParent∘hasParent ⇒
    hasGrandparent; a chain whose output feeds ANOTHER chain converges
    in iterated rounds; literals cannot continue a path; idempotent."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_PROPERTY_CHAIN,
        _RDF_FIRST,
        _RDF_NIL,
        _RDF_REST,
        apply_property_chains,
        extract_property_chains,
    )

    P, GP, GGP = "p:hasParent", "p:hasGrandparent", "p:hasGreatGrandparent"

    def _list(pred_chain, base):
        rows = []
        node = _RDF_NIL
        for i, p in enumerate(reversed(pred_chain)):
            nxt = f"_:{base}{len(pred_chain) - i}"
            rows += [
                _iri(nxt, _RDF_FIRST, p),
                _iri(nxt, _RDF_REST, node),
            ]
            node = nxt
        return node, rows

    l1, rows1 = _list([P, P], "gp")
    l2, rows2 = _list([GP, P], "ggp")
    asserted = (
        [_iri(GP, OWL_PROPERTY_CHAIN, l1), _iri(GGP, OWL_PROPERTY_CHAIN, l2)]
        + rows1 + rows2
        + [
            _iri("a", P, "b"),
            _iri("b", P, "c"),
            _iri("c", P, "d"),
            ("x", P, "not-a-node", None, True),  # literal: no continuation
            _iri("y", P, "x"),
        ]
    )
    df = _triples(spark, asserted)
    chains = dict(extract_property_chains(df))
    assert chains == {GP: [P, P], GGP: [GP, P]}

    out = apply_property_chains(df)
    got = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert {("a", GP, "c"), ("b", GP, "d")} <= got
    # round 2: GGP from the DERIVED hasGrandparent
    assert ("a", GGP, "d") in got
    # literal objects never chain
    assert not any(s == "y" and p in (GP, GGP) for s, p, o in got)
    # idempotent: re-applying adds nothing
    again = {(r.subj, r.pred, r.obj) for r in apply_property_chains(out).collect()}
    assert again == got

    # malformed list raises
    import pytest as _pytest
    bad = _triples(spark, [
        _iri(GP, OWL_PROPERTY_CHAIN, "_:b1"),
        _iri("_:b1", _RDF_FIRST, P),   # missing rdf:rest
    ])
    with _pytest.raises(ValueError, match="malformed"):
        extract_property_chains(bad)


def test_property_chain_guards(spark):
    """Round-cap overrun raises (not silent truncation); forked list
    nodes raise; literal twin on a chain-output pred does not suppress
    the derived IRI triple."""
    import pytest as _pytest

    from sifr_project_java_ontology_processing_spark.operators.inference import (
        apply_property_chains,
        extract_property_chains,
        OWL_PROPERTY_CHAIN,
        _RDF_FIRST,
        _RDF_REST,
        _RDF_NIL,
    )

    S = [
        _iri("a", "p:r", "n0"),
    ] + [_iri(f"n{i}", "p:p", f"n{i+1}") for i in range(8)]
    df = _triples(spark, S)
    # self-feeding chain r ⊒ r∘p over an 8-hop path: needs 8 rounds
    with _pytest.raises(ValueError, match="fixpoint"):
        apply_property_chains(df, chains=[("p:r", ["p:r", "p:p"])], max_rounds=3)
    out = apply_property_chains(df, chains=[("p:r", ["p:r", "p:p"])], max_rounds=10)
    got = {(r.subj, r.obj) for r in out.where("pred = 'p:r'").collect()}
    assert got == {("a", f"n{i}") for i in range(9)}

    # forked list node raises
    forked = _triples(spark, [
        _iri("p:g", OWL_PROPERTY_CHAIN, "_:n1"),
        _iri("_:n1", _RDF_FIRST, "p:p"),
        _iri("_:n1", _RDF_FIRST, "p:q"),
        _iri("_:n1", _RDF_REST, _RDF_NIL),
    ])
    with _pytest.raises(ValueError, match="forked"):
        extract_property_chains(forked)

    # literal twin: asserted ('x', g, 'z')@literal must not suppress
    # the derived IRI triple ('x', g, <z>)
    lit = _triples(spark, [
        _iri("x", "p:p", "y"),
        _iri("y", "p:p", "z"),
        ("x", "p:g", "z", None, True),
    ])
    out2 = apply_property_chains(lit, chains=[("p:g", ["p:p", "p:p"])])
    rows = [(r.obj_is_literal,) for r in out2.where(
        "subj = 'x' and pred = 'p:g' and obj = 'z'").collect()]
    assert sorted(rows) == [(False,), (True,)]


# ---------------------------------------------------------------------------
# Incremental RDFS-Plus maintenance (round-5 VERDICT ask #4)
# ---------------------------------------------------------------------------

_PLUS_SCHEMA_ROWS = None  # built per test via _plus_fixture


def _plus_fixture(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_INVERSEOF,
        OWL_SYMMETRIC,
        OWL_TRANSITIVE,
    )

    schema = [
        _iri("p:in", RDF_TYPE, OWL_TRANSITIVE),
        _iri("p:in", OWL_INVERSEOF, "p:has"),
        _iri("p:adj", RDF_TYPE, OWL_SYMMETRIC),
        _iri("p:in", RDFS_RANGE, "c:Box"),
        _iri("p:sub_in", RDFS_SUBPROPERTYOF, "p:in"),
    ]
    base = [
        _iri("a", "p:in", "b"),
        _iri("b", "p:in", "c"),
        _iri("x", "p:adj", "y"),
        _iri("q", "p:sub_in", "r"),
    ]
    delta = [
        _iri("c", "p:in", "d"),    # extends the old closure
        _iri("d", "p:in", "e"),    # delta-delta chain (alternating paths)
        _iri("z", "p:adj", "x"),   # symmetric mirror
        _iri("m", "p:sub_in", "a"),  # generalizes INTO the transitive pred
        _iri("e", "p:has", "f"),   # inverse-asserted: mirrors into p:in
    ]
    return schema, base, delta


def _chain_fixture():
    """(x p y), p inv q, q ⊑ r, r inv s: entails (y q x), (y r x) and
    (x s y) — a chain the table closes to a fixpoint."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_INVERSEOF,
    )

    return [
        _iri("x", "p:p", "y"),
        _iri("p:p", OWL_INVERSEOF, "p:q"),
        _iri("p:q", RDFS_SUBPROPERTYOF, "p:r"),
        _iri("p:r", OWL_INVERSEOF, "p:s"),
    ]


def test_rdfs_plus_matches_worklist_oracle(spark):
    """rdfs_plus_entail returns exactly the worklist oracle's closure,
    each row once, on _plus_fixture and on the inverse/sub-property
    chain."""
    from perfbench.oracle import rdfs_plus_closure

    from sifr_project_java_ontology_processing_spark.operators.inference import (
        rdfs_plus_entail,
    )

    schema, base, delta = _plus_fixture(spark)
    for rows in (schema + base + delta, _chain_fixture()):
        got = _rows(rdfs_plus_entail(_triples(spark, rows)))
        assert sum(got.values()) == len(got)
        assert set(got) == rdfs_plus_closure(rows)
    assert _iri("x", "p:s", "y") in got


def test_depth_bounds_raise_instead_of_truncating(spark):
    """A subPropertyOf, subClassOf or transitive chain 25 deep raises
    under the default bounds of 20, naming the bound, in the full and
    the incremental entailer; with the bounds at 25 it equals the
    worklist oracle, and a chain exactly 20 deep passes at the
    defaults."""
    import pytest as _pytest
    from perfbench.oracle import rdfs_plus_closure

    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_TRANSITIVE,
        rdfs_plus_entail,
        rdfs_plus_entail_delta,
    )

    def chain(pred, n):
        return [_iri(f"n{i}", pred, f"n{i + 1}") for i in range(n)]

    trans = [_iri("p:t", RDF_TYPE, OWL_TRANSITIVE)]
    cases = {
        "max_schema_depth": [
            lambda n: chain(RDFS_SUBPROPERTYOF, n) + [_iri("x", "n0", "y")],
            lambda n: chain(RDFS_SUBCLASSOF, n) + [_iri("x", RDF_TYPE, "n0")],
        ],
        "max_transitive_depth": [lambda n: trans + chain("p:t", n)],
    }
    bounds = {"max_schema_depth": 25, "max_transitive_depth": 25}
    for knob, shapes in cases.items():
        for shape in shapes:
            with _pytest.raises(ValueError, match=f"{knob}=20"):
                rdfs_plus_entail(_triples(spark, shape(25))).count()
            for n, kw in ((25, bounds), (20, {})):
                got = _rows(rdfs_plus_entail(_triples(spark, shape(n)), **kw))
                assert set(got) == rdfs_plus_closure(shape(n)), (knob, n)
    # the delta's bridged closure: the new edges chain among themselves
    old = rdfs_plus_entail(_triples(spark, trans))
    with _pytest.raises(ValueError, match="max_transitive_depth=20"):
        rdfs_plus_entail_delta(old, _triples(spark, chain("p:t", 25))).count()
    for n, kw in ((25, bounds), (20, {})):
        got = _rows(rdfs_plus_entail_delta(old, _triples(spark, chain("p:t", n)), **kw))
        assert set(got) == rdfs_plus_closure(trans + chain("p:t", n)), n


def test_rdfs_plus_schema_collect_is_bounded(spark, monkeypatch):
    """More property axioms than the driver bound raise, naming it,
    instead of being collected."""
    import pytest as _pytest

    from sifr_project_java_ontology_processing_spark.operators import inference

    rows = _chain_fixture()[1:] + [_iri("x", "p:p", "y")]  # 3 axioms
    monkeypatch.setattr(inference, "_CLOSURE_DRIVER_EDGE_MAX", 3)
    assert _iri("x", "p:s", "y") in set(
        _rows(inference.rdfs_plus_entail(_triples(spark, rows)))
    )
    monkeypatch.setattr(inference, "_CLOSURE_DRIVER_EDGE_MAX", 2)
    with _pytest.raises(ValueError, match="> 2 .*_CLOSURE_DRIVER_EDGE_MAX"):
        inference.rdfs_plus_entail(_triples(spark, rows))


def test_rdfs_plus_meta_property_axioms(spark):
    """A meta-property (ex:q ⊑ rdfs:domain) derives a domain axiom that
    types the subjects of its property; a sub-property of
    rdfs:subPropertyOf feeds the property hierarchy, under rdfs_entail
    too. The worklist oracle reads neither (it never re-reads derived
    schema)."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        rdfs_plus_entail,
    )

    rows = [
        _iri("ex:q", RDFS_SUBPROPERTYOF, RDFS_DOMAIN),
        _iri("p:r", "ex:q", "C"),
        _iri("x", "p:r", "y"),
        _iri("ex:sub", RDFS_SUBPROPERTYOF, RDFS_SUBPROPERTYOF),
        _iri("p:a", "ex:sub", "p:b"),
        _iri("u", "p:a", "v"),
    ]
    for entail in (rdfs_plus_entail, rdfs_entail):
        got = {(r.subj, r.pred, r.obj) for r in entail(_triples(spark, rows)).collect()}
        assert {("p:r", RDFS_DOMAIN, "C"), ("x", RDF_TYPE, "C")} <= got
        assert {("p:a", RDFS_SUBPROPERTYOF, "p:b"), ("u", "p:b", "v")} <= got


def test_rdfs_plus_delta_equals_full_recompute(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        rdfs_plus_entail,
        rdfs_plus_entail_delta,
    )

    schema, base, delta = _plus_fixture(spark)
    full = {
        tuple(r)
        for r in rdfs_plus_entail(_triples(spark, schema + base + delta)).collect()
    }
    e = rdfs_plus_entail(_triples(spark, schema + base))
    inc = {
        tuple(r)
        for r in rdfs_plus_entail_delta(e, _triples(spark, delta)).collect()
    }
    assert inc == full


def test_rdfs_plus_delta_runs_no_full_entailment(spark, monkeypatch):
    """Scale gate: an instance-only delta touching transitive/inverse/
    symmetric properties must stay on the incremental path — no full
    re-entailment (``_entail``), and the closure job sees only delta-incident
    bridged pairs, never the old fact stream."""
    from sifr_project_java_ontology_processing_spark.operators import inference

    schema, base, delta = _plus_fixture(spark)
    e = inference.rdfs_plus_entail(_triples(spark, schema + base))
    e = e.localCheckpoint(eager=True)  # freeze: fixture built pre-patch

    def _boom(*a, **k):
        raise AssertionError("full re-entailment called on the delta path")

    closure_inputs = []
    real_closure = inference._closure

    def _spy_closure(edges, *a, **kw):
        closure_inputs.append(edges.count())
        return real_closure(edges, *a, **kw)

    monkeypatch.setattr(inference, "_entail", _boom)
    monkeypatch.setattr(inference, "_closure", _spy_closure)
    out = inference.rdfs_plus_entail_delta(e, _triples(spark, delta))
    n = out.count()
    assert n > 0
    # bridged pairs: delta edges extended through the (tiny) old
    # closure — far below the old graph's closure-pair count; the
    # fixture's full graph has >25 triples, bridged must stay ~delta²
    assert closure_inputs and all(c <= 20 for c in closure_inputs)


def test_rdfs_plus_delta_schema_delta_falls_back(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_TRANSITIVE,
        rdfs_plus_entail,
        rdfs_plus_entail_delta,
    )

    schema, base, delta = _plus_fixture(spark)
    e = rdfs_plus_entail(_triples(spark, schema + base))
    schema_delta = delta + [_iri("p:new", RDF_TYPE, OWL_TRANSITIVE)]
    full = {
        tuple(r)
        for r in rdfs_plus_entail(
            _triples(spark, schema + base + schema_delta)
        ).collect()
    }
    inc = {
        tuple(r)
        for r in rdfs_plus_entail_delta(
            e, _triples(spark, schema_delta)
        ).collect()
    }
    assert inc == full


def test_rdfs_plus_delta_idempotent_on_duplicate_delta(spark):
    """Replaying a delta already present in the saturated graph adds
    nothing (exactly-once friendliness for restarted batches)."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        rdfs_plus_entail,
        rdfs_plus_entail_delta,
    )

    schema, base, delta = _plus_fixture(spark)
    full_df = rdfs_plus_entail(_triples(spark, schema + base + delta))
    full = {tuple(r) for r in full_df.collect()}
    again = {
        tuple(r)
        for r in rdfs_plus_entail_delta(full_df, _triples(spark, delta)).collect()
    }
    assert again == full


# ---------------------------------------------------------------------------
# round 5: owl:sameAs consolidation
# ---------------------------------------------------------------------------


def test_sameas_consolidation_chain_predicates_and_literals(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_SAMEAS,
        sameas_consolidate,
        sameas_mapping,
    )

    sch = (
        "subj string, pred string, obj string, obj_lang string, "
        "obj_is_literal boolean"
    )
    t = spark.createDataFrame(
        [
            ("a", OWL_SAMEAS, "b", None, False),
            ("b", OWL_SAMEAS, "c", None, False),  # chain → {a,b,c}, canon a
            ("c", "p", "x", None, False),
            ("x", "q", "b", None, False),
            ("z", OWL_SAMEAS, "lit", None, True),  # literal endpoint: ignored
            ("z", "p", "z", None, False),  # asserted self-loop survives
            ("p1", OWL_SAMEAS, "p2", None, False),  # predicate identity
            ("s", "p2", "o", None, False),  # eq-rep-p rewrite → p1
            # a fact BETWEEN two merged entities: must survive as the
            # entailed self-loop (a knows a), not vanish in the merge
            ("a", "knows", "b", None, False),
        ],
        sch,
    )
    m = {r["iri"]: r["canonical_iri"] for r in sameas_mapping(t).collect()}
    assert m == {"b": "a", "c": "a", "p2": "p1"}
    out = {
        (r["subj"], r["pred"], r["obj"])
        for r in sameas_consolidate(t).collect()
    }
    assert out == {
        ("a", "p", "x"),
        ("x", "q", "a"),
        ("z", "p", "z"),
        ("s", "p1", "o"),
        ("a", "knows", "a"),
    }


def test_sameas_consolidation_collapses_duplicates_once(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_SAMEAS,
        sameas_consolidate,
    )

    sch = (
        "subj string, pred string, obj string, obj_lang string, "
        "obj_is_literal boolean"
    )
    t = spark.createDataFrame(
        [
            ("a", OWL_SAMEAS, "b", None, False),
            ("a", "p", "v", None, True),
            ("b", "p", "v", None, True),  # merges onto the same row
        ],
        sch,
    )
    rows = sameas_consolidate(t).collect()
    assert [(r["subj"], r["pred"], r["obj"]) for r in rows] == [("a", "p", "v")]
    # dedup=False keeps both (caller owns the downstream distinct)
    assert sameas_consolidate(t, dedup=False).count() == 2


# ---------------------------------------------------------------------------
# round 5: OWL RL restriction-class rules
# ---------------------------------------------------------------------------


def _restr(spark, rows):
    sch = (
        "subj string, pred string, obj string, obj_lang string, "
        "obj_is_literal boolean"
    )
    return spark.createDataFrame(rows, sch)


def test_restrictions_hasvalue_both_directions(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_HASVALUE,
        OWL_ONPROPERTY,
        RDF_TYPE,
        restrictions_entail,
    )

    t = _restr(
        spark,
        [
            ("C", OWL_HASVALUE, "red", "en", True),
            ("C", OWL_ONPROPERTY, "color", None, False),
            ("x", RDF_TYPE, "C", None, False),     # hv1 → x color "red"@en
            ("y", "color", "red", "en", True),     # hv2 → y type C
            ("z", "color", "red", "fr", True),     # wrong lang: no typing
        ],
    )
    out = {
        (r["subj"], r["pred"], r["obj"], r["obj_lang"])
        for r in restrictions_entail(t).collect()
    }
    assert ("x", "color", "red", "en") in out
    assert ("y", RDF_TYPE, "C", None) in out
    assert ("z", RDF_TYPE, "C", None) not in out


def test_restrictions_svf_avf_and_chaining(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_ALLVALUES,
        OWL_ONPROPERTY,
        OWL_SOMEVALUES,
        OWL_THING,
        RDF_TYPE,
        restrictions_entail,
    )

    t = _restr(
        spark,
        [
            # AVF: members of A have all p-values in D
            ("A", OWL_ALLVALUES, "D", None, False),
            ("A", OWL_ONPROPERTY, "p", None, False),
            # SVF: something with a p-value in D is an S
            ("S", OWL_SOMEVALUES, "D", None, False),
            ("S", OWL_ONPROPERTY, "p", None, False),
            # SVF Thing: anything with a q-value is a Q
            ("Q", OWL_SOMEVALUES, OWL_THING, None, False),
            ("Q", OWL_ONPROPERTY, "q", None, False),
            ("a", RDF_TYPE, "A", None, False),
            ("a", "p", "b", None, False),   # avf → b type D; then svf1 → a type S (2 rounds)
            ("a", "p", "lit", None, True),  # literal object: never typed
            ("w", "q", "anything", None, False),  # svf2 → w type Q
        ],
    )
    res = restrictions_entail(t)
    out = {(r["subj"], r["pred"], r["obj"]) for r in res.collect()}
    assert ("b", RDF_TYPE, "D") in out          # cls-avf
    assert ("a", RDF_TYPE, "S") in out          # cls-svf1 via the avf-derived type
    assert ("w", RDF_TYPE, "Q") in out          # cls-svf2 (owl:Thing)
    assert ("lit", RDF_TYPE, "D") not in out
    # idempotent: re-entailing adds nothing
    assert restrictions_entail(res).count() == res.count()


def test_restrictions_no_axioms_is_identity(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        restrictions_entail,
    )

    t = _restr(spark, [("a", "p", "b", None, False)])
    assert restrictions_entail(t).count() == 1


# ---------------------------------------------------------------------------
# OWL RL boolean class expressions (class_expressions_entail)
# ---------------------------------------------------------------------------

_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"


def _rdf_list(prefix, members):
    """rows for an rdf:first/rdf:rest chain; members = [(obj, lang, lit)]."""
    rows = []
    for i, (m, lang, lit) in enumerate(members):
        node = f"{prefix}{i}"
        nxt = f"{prefix}{i + 1}" if i + 1 < len(members) else _NIL
        rows.append((node, _FIRST, m, lang, lit))
        rows.append((node, _REST, nxt, None, False))
    return rows


def test_class_expressions_full_rule_set(spark):
    """int1/int2/uni/oo plus scm-int/scm-uni, with REAL chaining:
    z typed C1 unfolds to A,B (int2), A lifts to C2 (uni), and
    C2∧B completes C3 (int1) — three semi-naive rounds."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_INTERSECTION,
        OWL_ONEOF,
        OWL_UNION,
        class_expressions_entail,
    )

    rows = [
        _iri("C1", OWL_INTERSECTION, "_:i0"),
        *_rdf_list("_:i", [("A", None, False), ("B", None, False)]),
        _iri("C2", OWL_UNION, "_:u0"),
        *_rdf_list("_:u", [("A", None, False), ("E", None, False)]),
        _iri("C3", OWL_INTERSECTION, "_:j0"),
        *_rdf_list("_:j", [("C2", None, False), ("B", None, False)]),
        _iri("C4", OWL_ONEOF, "_:o0"),
        *_rdf_list("_:o", [("n1", None, False), ("v", None, True)]),
        _iri("x", RDF_TYPE, "A"),
        _iri("x", RDF_TYPE, "B"),
        _iri("y", RDF_TYPE, "E"),
        _iri("z", RDF_TYPE, "C1"),
    ]
    res = class_expressions_entail(_triples(spark, rows))
    types = {
        (r["subj"], r["obj"])
        for r in res.where(f"pred = '{RDF_TYPE}'").collect()
    }
    subs = {
        (r["subj"], r["obj"])
        for r in res.where(f"pred = '{RDFS_SUBCLASSOF}'").collect()
    }
    # cls-int1 + cls-uni on asserted typings
    assert ("x", "C1") in types and ("x", "C2") in types
    # chained: x's C2 (derived) + B completes C3
    assert ("x", "C3") in types
    # partial conjunction never fires
    assert ("y", "C2") in types
    assert ("y", "C1") not in types and ("y", "C3") not in types
    # cls-int2 unfold, then re-lift through uni and int1
    assert {("z", "A"), ("z", "B"), ("z", "C2"), ("z", "C3")} <= types
    # cls-oo: IRI member typed, literal member skipped
    assert ("n1", "C4") in types
    assert ("v", "C4") not in types
    # scm-int / scm-uni schema triples
    assert {("C1", "A"), ("C1", "B"), ("A", "C2"), ("E", "C2")} <= subs
    # idempotent
    assert class_expressions_entail(res).count() == res.count()


def test_class_expressions_guards(spark):
    """Literal members of intersection/union raise; empty intersection
    raises; no axioms = identity; forked/cyclic lists raise through the
    shared walker."""
    import pytest as _pytest

    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_INTERSECTION,
        OWL_UNION,
        class_expressions_entail,
    )

    plain = _triples(spark, [_iri("a", "p", "b")])
    assert class_expressions_entail(plain).count() == 1

    lit_member = _triples(
        spark,
        [
            _iri("C", OWL_UNION, "_:l0"),
            *_rdf_list("_:l", [("oops", None, True)]),
        ],
    )
    with _pytest.raises(ValueError, match="literal list member"):
        class_expressions_entail(lit_member)

    empty_int = _triples(
        spark,
        [
            _iri("C", OWL_INTERSECTION, _NIL),
            _iri("x", RDF_TYPE, "A"),
        ],
    )
    with _pytest.raises(ValueError, match="empty list"):
        class_expressions_entail(empty_int)

    cyclic = _triples(
        spark,
        [
            _iri("C", OWL_INTERSECTION, "_:c0"),
            ("_:c0", _FIRST, "A", None, False),
            _iri("_:c0", _REST, "_:c0"),
        ],
    )
    with _pytest.raises(ValueError, match="cycle"):
        class_expressions_entail(cyclic)


def test_class_expressions_duplicate_member_count(spark):
    """A DUPLICATED member in an intersection list must not inflate the
    required conjunct count: C = A ∧ A ∧ B is satisfied by {A, B}."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_INTERSECTION,
        class_expressions_entail,
    )

    rows = [
        _iri("C", OWL_INTERSECTION, "_:d0"),
        *_rdf_list(
            "_:d",
            [("A", None, False), ("A", None, False), ("B", None, False)],
        ),
        _iri("x", RDF_TYPE, "A"),
        _iri("x", RDF_TYPE, "B"),
    ]
    res = class_expressions_entail(_triples(spark, rows))
    types = {
        (r["subj"], r["obj"])
        for r in res.where(f"pred = '{RDF_TYPE}'").collect()
    }
    assert ("x", "C") in types


def test_class_expressions_multiple_axioms_same_class(spark):
    """Two intersection axioms on ONE class stay independent
    conjunctions (members must not pool): C = A∧B and C = D —
    x:{D} satisfies the second alone; y:{A} satisfies neither."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_INTERSECTION,
        class_expressions_entail,
    )

    rows = [
        _iri("C", OWL_INTERSECTION, "_:a0"),
        *_rdf_list("_:a", [("A", None, False), ("B", None, False)]),
        _iri("C", OWL_INTERSECTION, "_:b0"),
        *_rdf_list("_:b", [("D", None, False)]),
        _iri("x", RDF_TYPE, "D"),
        _iri("y", RDF_TYPE, "A"),
    ]
    res = class_expressions_entail(_triples(spark, rows))
    types = {
        (r["subj"], r["obj"])
        for r in res.where(f"pred = '{RDF_TYPE}'").collect()
    }
    assert ("x", "C") in types
    assert ("y", "C") not in types


def test_consistency_violations_all_rules(spark):
    """Every OWL RL "false" rule fires exactly on its planted
    inconsistency and nowhere else; symmetric pairs report once."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_ASYMMETRIC,
        OWL_DIFFERENTFROM,
        OWL_DISJOINTWITH,
        OWL_IRREFLEXIVE,
        OWL_NOTHING,
        OWL_NPA_PROP,
        OWL_NPA_SOURCE,
        OWL_NPA_TARGET,
        OWL_NPA_VALUE,
        OWL_PROPDISJOINTWITH,
        OWL_SAMEAS,
        consistency_violations,
    )

    rows = [
        # cax-dw (axiom asserted in BOTH directions -> still one row)
        _iri("C1", OWL_DISJOINTWITH, "C2"),
        _iri("C2", OWL_DISJOINTWITH, "C1"),
        _iri("x1", RDF_TYPE, "C1"),
        _iri("x1", RDF_TYPE, "C2"),
        _iri("x2", RDF_TYPE, "C1"),  # only one side: fine
        # prp-irp
        _iri("pIr", RDF_TYPE, OWL_IRREFLEXIVE),
        _iri("a", "pIr", "a"),
        _iri("a", "pIr", "b"),  # fine
        _iri("c", "pUn", "c"),  # undeclared: fine
        # prp-asyp (mutual pair reported once, normalized)
        _iri("pAs", RDF_TYPE, OWL_ASYMMETRIC),
        _iri("n", "pAs", "m"),
        _iri("m", "pAs", "n"),
        _iri("m", "pAs", "q"),  # one-way: fine
        # prp-pdw
        _iri("p1", OWL_PROPDISJOINTWITH, "p2"),
        _iri("s", "p1", "o"),
        _iri("s", "p2", "o"),
        _iri("s", "p2", "o2"),  # different object: fine
        ("s2", "p1", "lv", None, True),  # literal twins violate too
        ("s2", "p2", "lv", None, True),
        ("s3", "p1", "lv", "en", True),  # lang differs from plain:
        ("s3", "p2", "lv", "fr", True),  # DIFFERENT values, fine
        # eq-diff1 (stated in opposite orders)
        _iri("u", OWL_SAMEAS, "v"),
        _iri("v", OWL_DIFFERENTFROM, "u"),
        _iri("u", OWL_SAMEAS, "w"),  # no differentFrom: fine
        # cls-nothing2
        _iri("z", RDF_TYPE, OWL_NOTHING),
        # prp-npa1 violated, npa2 violated, third NPA holds vacuously
        _iri("_:n1", OWL_NPA_SOURCE, "i"),
        _iri("_:n1", OWL_NPA_PROP, "pN"),
        _iri("_:n1", OWL_NPA_TARGET, "j"),
        _iri("i", "pN", "j"),
        _iri("_:n2", OWL_NPA_SOURCE, "i"),
        _iri("_:n2", OWL_NPA_PROP, "pV"),
        ("_:n2", OWL_NPA_VALUE, "42", None, True),
        ("i", "pV", "42", None, True),
        _iri("_:n3", OWL_NPA_SOURCE, "i"),
        _iri("_:n3", OWL_NPA_PROP, "pN"),
        _iri("_:n3", OWL_NPA_TARGET, "nope"),
        # npa2 with a matching lexical form but an IRI object: no hit
        _iri("_:n4", OWL_NPA_SOURCE, "i"),
        _iri("_:n4", OWL_NPA_PROP, "pW"),
        ("_:n4", OWL_NPA_VALUE, "53", None, True),
        _iri("i", "pW", "53"),
    ]
    out = {
        (r.rule, r.subj, r.pred, r.obj)
        for r in consistency_violations(
            spark.createDataFrame(rows, SCHEMA)
        ).collect()
    }
    assert out == {
        ("cax-dw", "x1", "C1", "C2"),
        ("prp-irp", "a", "pIr", "a"),
        ("prp-asyp", "m", "pAs", "n"),
        ("prp-pdw", "s", "p1|p2", "o"),
        ("prp-pdw", "s2", "p1|p2", "lv"),
        ("eq-diff1", "u", OWL_SAMEAS, "v"),
        ("cls-nothing2", "z", RDF_TYPE, OWL_NOTHING),
        ("prp-npa1", "i", "pN", "j"),
        ("prp-npa2", "i", "pV", "42"),
    }


def test_consistency_violations_clean_graph_empty(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_DISJOINTWITH,
        consistency_violations,
    )

    rows = [
        _iri("C1", OWL_DISJOINTWITH, "C2"),
        _iri("x", RDF_TYPE, "C1"),
        _iri("y", RDF_TYPE, "C2"),
        _iri("x", "p", "y"),
    ]
    assert (
        consistency_violations(spark.createDataFrame(rows, SCHEMA)).count() == 0
    )


# ---------------------------------------------------------------------------
# Schema closure on both sides of the transitive_closure hybrid
# ---------------------------------------------------------------------------

# a subClassOf cycle (K1 ⊑ K2 ⊑ K1 ⇒ K1 ⊑ K1), a diamond reaching T
# twice, and a duplicated axiom
_SCHEMA_SHAPES = [
    _iri("K1", RDFS_SUBCLASSOF, "K2"),
    _iri("K2", RDFS_SUBCLASSOF, "K1"),
    _iri("k", RDF_TYPE, "K2"),
    _iri("D", RDFS_SUBCLASSOF, "L"),
    _iri("D", RDFS_SUBCLASSOF, "R"),
    _iri("D", RDFS_SUBCLASSOF, "L"),
    _iri("L", RDFS_SUBCLASSOF, "T"),
    _iri("R", RDFS_SUBCLASSOF, "T"),
]


def test_schema_closure_driver_and_distributed_agree(spark, monkeypatch):
    """rdfs_entail / rdfs_plus_entail give the same rows when every
    ``transitive_closure`` is forced onto the distributed frontier loop
    (both entailers' subClassOf closures and rdfs_plus_entail's pooled
    transitive closure — the property hierarchy of both is compiled on
    the driver by design), and the subClassOf closure holds
    each (_sub, _sup) pair once on both paths (so it needs no trailing
    distinct)."""
    from sifr_project_java_ontology_processing_spark.operators import graph, inference

    schema, base, delta = _plus_fixture(spark)
    cases = [
        (inference.rdfs_entail, _RDFS_ASSERTED + _SCHEMA_SHAPES),
        (inference.rdfs_plus_entail, schema + base + delta + _SCHEMA_SHAPES),
    ]

    def entailed():
        return [
            sorted(tuple(r) for r in entail(_triples(spark, rows)).collect())
            for entail, rows in cases
        ]

    def sc_pairs():
        sc = inference._schema_closure(
            _triples(spark, _RDFS_ASSERTED + _SCHEMA_SHAPES),
            RDFS_SUBCLASSOF,
            max_depth=20,
        )
        return [(r["_sub"], r["_sup"]) for r in sc.collect()]

    on_driver, driver_sc = entailed(), sc_pairs()

    def _no_driver(*a):
        raise AssertionError("driver closure ran with the threshold at 0")

    frontier_runs = []
    real_frontier = graph._frontier_transitive_closure

    def _frontier(*a):
        frontier_runs.append(a)
        return real_frontier(*a)

    monkeypatch.setattr(graph, "_CLOSURE_DRIVER_EDGE_MAX", 0)
    monkeypatch.setattr(graph, "_driver_transitive_closure", _no_driver)
    monkeypatch.setattr(graph, "_frontier_transitive_closure", _frontier)
    assert entailed() == on_driver
    assert len(frontier_runs) == 3  # the subClassOf closures + the pooled one
    distributed_sc = sc_pairs()

    for pairs in (driver_sc, distributed_sc):
        assert len(pairs) == len(set(pairs))
    assert sorted(driver_sc) == sorted(distributed_sc)
    assert {("K1", "K1"), ("K2", "K2"), ("D", "T"), ("A", "C")} <= set(driver_sc)
    rdfs_rows = on_driver[0]
    assert _iri("K1", RDFS_SUBCLASSOF, "K1") in rdfs_rows
    assert _iri("k", RDF_TYPE, "K1") in rdfs_rows


def test_rdf_list_cell_cap_raises(spark, monkeypatch):
    """_collect_rdf_lists refuses to walk more rdf:first/rdf:rest cells
    than the driver bound instead of collecting them all."""
    import pytest as _pytest

    from sifr_project_java_ontology_processing_spark.operators import inference

    rows = [_iri("p:g", inference.OWL_PROPERTY_CHAIN, "_:c0")] + _rdf_list(
        "_:c", [("p:p", None, False), ("p:q", None, False)]
    )
    df = _triples(spark, rows)
    monkeypatch.setattr(inference, "_CLOSURE_DRIVER_EDGE_MAX", 4)  # = cells
    assert inference.extract_property_chains(df) == [("p:g", ["p:p", "p:q"])]
    monkeypatch.setattr(inference, "_CLOSURE_DRIVER_EDGE_MAX", 2)
    with _pytest.raises(ValueError, match="> 2 rdf:first/rdf:rest cells"):
        inference.extract_property_chains(df)


# ---------------------------------------------------------------------------
# Spark-job guard on the benchmark's entailment path; the shared
# semi-naive loop's round cap and null-safe novelty anti-join
# ---------------------------------------------------------------------------

# Spark jobs rdfs_plus_entail may run on _plus_fixture, and the same
# entailment followed by rdfs_plus_entail_delta: the schema compiles on
# the driver and the instance rules run as one explode pass. Measured
# 8 and 22 jobs in 8 runs of a 4-core host; the bounds leave room for
# adaptive execution to split a stage into a job of its own.
PLUS_ENTAIL_MAX_JOBS = 10
PLUS_DELTA_MAX_JOBS = 26
# Completed tasks of the same two runs (24 and 56 measured): no stratum
# unions multiply the partitions any more.
PLUS_ENTAIL_MAX_TASKS = 40
PLUS_DELTA_MAX_TASKS = 90
# rdfs_entail on _RDFS_ASSERTED runs the same compiled plan over the
# RDFS vocabulary: 8 jobs measured, and the same entailment then
# rdfs_entail_delta 14 jobs and 52 completed tasks, in 8 runs of a
# 4-core host; the bounds leave the same room for adaptive execution.
RDFS_ENTAIL_MAX_JOBS = 10
RDFS_DELTA_MAX_JOBS = 18
RDFS_DELTA_MAX_TASKS = 70


def _jobs_of(spark, group, action):
    """(result of ``action()``, number of Spark jobs it submitted,
    number of tasks those jobs completed)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the asynchronous listener bus. Only
    # completed tasks count: a skipped stage (shuffle output reused)
    # runs none, and the store evicts skipped stages first.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    infos = [tracker.getStageInfo(s) for s in stages]
    tasks = sum(i.numCompletedTasks for i in infos if i is not None)
    return out, len(jobs), tasks


def test_rdfs_plus_entail_and_delta_job_counts(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        rdfs_plus_entail,
        rdfs_plus_entail_delta,
    )

    schema, base, delta = _plus_fixture(spark)
    n_full, jobs_full, tasks_full = _jobs_of(
        spark,
        "plus_entail_job_guard",
        lambda: rdfs_plus_entail(_triples(spark, schema + base)).count(),
    )

    def _entail_then_delta():
        e = rdfs_plus_entail(_triples(spark, schema + base))
        return rdfs_plus_entail_delta(e, _triples(spark, delta)).count()

    n_inc, jobs_inc, tasks_inc = _jobs_of(
        spark, "plus_delta_job_guard", _entail_then_delta
    )
    assert (n_full, n_inc) == (19, 51)
    assert jobs_full <= PLUS_ENTAIL_MAX_JOBS, jobs_full
    assert jobs_inc <= PLUS_DELTA_MAX_JOBS, jobs_inc
    assert tasks_full <= PLUS_ENTAIL_MAX_TASKS, tasks_full
    assert tasks_inc <= PLUS_DELTA_MAX_TASKS, tasks_inc


def _digest(rows):
    """Order-free fingerprint of a row multiset."""
    import hashlib

    lines = sorted(f"{r!r}\t{n}" for r, n in rows.items())
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def test_entailment_is_partition_independent(spark):
    """rdfs_plus_entail and rdfs_entail return the same row multiset
    whether the input arrives in 1, the default or 16 partitions, and
    the multiset pinned before strata were coalesced."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        rdfs_plus_entail,
    )

    schema, base, delta = _plus_fixture(spark)
    cases = [
        (rdfs_plus_entail, schema + base + delta, 51, "2b80da193c1a1805"),
        (rdfs_entail, _RDFS_ASSERTED, 16, "f0127d271020ee4d"),
    ]
    for entail, asserted, n_rows, digest in cases:
        df = _triples(spark, asserted)
        default = _rows(entail(df))
        assert sum(default.values()) == len(default) == n_rows
        assert _digest(default) == digest
        for layout in (df.coalesce(1), df.repartition(16)):
            assert _rows(entail(layout)) == default


def test_rdfs_entail_and_delta_job_counts(spark):
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        rdfs_entail_delta,
    )

    n_full, jobs_full, _ = _jobs_of(
        spark,
        "rdfs_entail_job_guard",
        lambda: rdfs_entail(_triples(spark, _RDFS_ASSERTED)).count(),
    )
    delta = [_iri("v", "p1", "w"), _iri("w", RDF_TYPE, "A")]

    def _entail_then_delta():
        e = rdfs_entail(_triples(spark, _RDFS_ASSERTED))
        return rdfs_entail_delta(e, _triples(spark, delta)).count()

    n_inc, jobs_inc, tasks_inc = _jobs_of(
        spark, "rdfs_delta_job_guard", _entail_then_delta
    )
    assert (n_full, n_inc) == (16, 24)
    assert jobs_full <= RDFS_ENTAIL_MAX_JOBS, jobs_full
    assert jobs_inc <= RDFS_DELTA_MAX_JOBS, jobs_inc
    assert tasks_inc <= RDFS_DELTA_MAX_TASKS, tasks_inc


def _rows(df):
    """The rows of ``df`` as a multiset."""
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


def test_seminaive_round_cap_raises_then_converges(spark):
    """The avf → svf1 chain needs two productive rounds and a third
    that finds nothing; the class-expression chain needs three and a
    fourth. One round fewer raises the no-fixpoint error; exactly
    enough returns the default's rows."""
    import pytest as _pytest

    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_ALLVALUES,
        OWL_INTERSECTION,
        OWL_ONPROPERTY,
        OWL_SOMEVALUES,
        OWL_UNION,
        class_expressions_entail,
        restrictions_entail,
    )

    restr = _triples(spark, [
        _iri("A", OWL_ALLVALUES, "D"),
        _iri("A", OWL_ONPROPERTY, "p"),
        _iri("S", OWL_SOMEVALUES, "D"),
        _iri("S", OWL_ONPROPERTY, "p"),
        _iri("a", RDF_TYPE, "A"),
        _iri("a", "p", "b"),  # round 1: b type D; round 2: a type S
    ])
    with _pytest.raises(ValueError, match="restrictions_entail: no fixpoint"):
        restrictions_entail(restr, max_rounds=2)
    assert _rows(restrictions_entail(restr, max_rounds=3)) == _rows(
        restrictions_entail(restr)
    )

    cls = _triples(spark, [
        _iri("C1", OWL_INTERSECTION, "_:i0"),
        *_rdf_list("_:i", [("A", None, False), ("B", None, False)]),
        _iri("C2", OWL_UNION, "_:u0"),
        *_rdf_list("_:u", [("A", None, False), ("E", None, False)]),
        _iri("C3", OWL_INTERSECTION, "_:j0"),
        *_rdf_list("_:j", [("C2", None, False), ("B", None, False)]),
        # round 1: z type A, B; round 2: z type C2; round 3: z type C3
        _iri("z", RDF_TYPE, "C1"),
    ])
    with _pytest.raises(ValueError, match="class_expressions_entail: no fixpoint"):
        class_expressions_entail(cls, max_rounds=3)
    assert _rows(class_expressions_entail(cls, max_rounds=4)) == _rows(
        class_expressions_entail(cls)
    )


def test_seminaive_novelty_is_null_safe(spark):
    """A derivable triple already asserted with NULL lang comes out
    once; a derived twin whose lang is '' (not NULL) is a different
    term and is kept next to the asserted NULL-lang one."""
    from sifr_project_java_ontology_processing_spark.operators.inference import (
        OWL_HASVALUE,
        OWL_INTERSECTION,
        OWL_ONPROPERTY,
        class_expressions_entail,
        restrictions_entail,
    )

    restr = _rows(restrictions_entail(_triples(spark, [
        ("C", OWL_HASVALUE, "v", None, False),
        _iri("C", OWL_ONPROPERTY, "p"),
        _iri("x", "p", "v"),
        _iri("x", RDF_TYPE, "C"),  # asserted AND derived by cls-hv2
        ("R", OWL_HASVALUE, "red", "", True),
        _iri("R", OWL_ONPROPERTY, "color"),
        _iri("y", RDF_TYPE, "R"),  # cls-hv1: y color "red"@""
        ("y", "color", "red", None, True),
    ])))
    assert max(restr.values()) == 1
    assert restr[("x", RDF_TYPE, "C", None, False)] == 1
    assert restr[("y", "color", "red", "", True)] == 1
    assert restr[("y", "color", "red", None, True)] == 1

    cls = _rows(class_expressions_entail(_triples(spark, [
        _iri("C", OWL_INTERSECTION, "_:i0"),
        *_rdf_list("_:i", [("A", None, False), ("B", None, False)]),
        _iri("C", RDFS_SUBCLASSOF, "A"),  # asserted AND derived by scm-int
        _iri("x", RDF_TYPE, "A"),
        _iri("x", RDF_TYPE, "B"),
        _iri("x", RDF_TYPE, "C"),  # asserted AND derived by cls-int1
        _iri("z", RDF_TYPE, "C"),
        ("z", RDF_TYPE, "A", "", False),  # cls-int2 derives the NULL twin
    ])))
    assert max(cls.values()) == 1
    assert cls[("C", RDFS_SUBCLASSOF, "A", None, False)] == 1
    assert cls[("x", RDF_TYPE, "C", None, False)] == 1
    assert cls[("z", RDF_TYPE, "A", "", False)] == 1
    assert cls[("z", RDF_TYPE, "A", None, False)] == 1
