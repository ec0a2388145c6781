"""RDFS entailment materialization over a triples DataFrame.

The reference processes SKOS/OWL ontologies with Jena, whose
``InfModel``/reasoner registry (the ``ModelFactory.createRDFSModel``
path Jena ships next to the plain ``createDefaultModel`` used at
OntologyLoader.java:31) materializes RDFS consequences; downstream the
reference hand-codes the 2-hop subclass walk (OntologyCUIProcessor
mapping cascade, J3).  This module is the distributed twin: one batch
operator that materializes the standard ρdf / RDFS-subset rules over a
``(subj, pred, obj, obj_lang, obj_is_literal)`` frame.

Rules (names per the RDFS semantics REC):

* rdfs5  — ``subPropertyOf`` transitivity
* rdfs7  — ``(x P y) ∧ (P subPropertyOf+ Q) ⇒ (x Q y)``
* rdfs11 — ``subClassOf`` transitivity
* rdfs9  — ``(x type C) ∧ (C subClassOf+ D) ⇒ (x type D)``
* rdfs2  — ``(P domain C) ∧ (x P y) ⇒ (x type C)``
* rdfs3  — ``(P range C) ∧ (x P y) ∧ y is IRI ⇒ (y type C)``

Scale design — the WebPIE insight (Urbani et al., "OWL reasoning with
WebPIE", ESWC 2010): schema triples are tiny relative to instance
triples, so the right plan closes the SCHEMA first and then applies
the instance rules map-side against it — the instance stream is
scanned, never shuffled, until the single final ``distinct``.

One engine serves every rule profile; a ``_Profile`` names only the
schema vocabulary it reads (``_RDFS`` or ``_RDFS_PLUS``). Like Jena's
``OntModel``, it keeps the property-level schema in memory:
``_compile_schema`` closes it on the driver into one rule table per
predicate, which enters the plan as a map literal, and
``_expand_facts`` applies every property rule as one explode per
triple. Only the class hierarchy and, for RDFS-Plus, the transitive
closure stay distributed. ``_entail`` is the body of ``rdfs_entail``
and ``rdfs_plus_entail``; ``_entail_delta`` is the body of their
incremental twins, and ``streaming/jobs.streaming_entail`` runs the
same rule table over a stream.

The same module carries the OWL RL restriction / class-expression /
consistency tiers. They share one copy of each rule building block:
``_iri_triple`` (the select list of a derived IRI-object, NULL-lang
triple), ``_pooled_edges`` / ``_unpool`` (the predicate-fused
transitive edges), ``_novel`` (the null-safe set difference that
``_append_new`` and the fixpoints use) and ``_seminaive`` (the
restriction and class-expression fixpoints' adapter onto
``materialize.fixpoint``, the package's one accumulating round loop).

A schema hierarchy deeper than ``max_schema_depth``, or a transitive
chain deeper than ``max_transitive_depth``, raises (``_closure_within``)
rather than return a truncated closure.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.uris import expand
from .graph import (
    _CLOSURE_DRIVER_EDGE_MAX,
    _CLOSURE_DRIVER_PAIR_MAX,
    _closure,
    _driver_transitive_closure,
    transitive_closure,
)
from .materialize import fixpoint, local_frame

RDF_TYPE = expand("rdf:type")
RDFS_SUBCLASSOF = expand("rdfs:subClassOf")
RDFS_SUBPROPERTYOF = expand("rdfs:subPropertyOf")
RDFS_DOMAIN = expand("rdfs:domain")
RDFS_RANGE = expand("rdfs:range")

_TRIPLE_COLS = ["subj", "pred", "obj", "obj_lang", "obj_is_literal"]


def _iri_triple(subj: "Column | str", pred: "Column | str", obj: "Column | str") -> list:
    """Select list of a derived IRI-object triple (NULL lang, not a
    literal); string arguments name columns."""
    subj, pred, obj = (F.col(c) if isinstance(c, str) else c for c in (subj, pred, obj))
    return [
        subj.alias("subj"),
        pred.alias("pred"),
        obj.alias("obj"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(False).alias("obj_is_literal"),
    ]


def _as_type_triple(subj_col: "Column | str", cls_col: "Column | str") -> list:
    return _iri_triple(subj_col, F.lit(RDF_TYPE), cls_col)


def _types_of(g: DataFrame) -> DataFrame:
    """The IRI-object ``rdf:type`` slice of a fact frame."""
    return g.where((F.col("pred") == RDF_TYPE) & ~F.col("obj_is_literal"))


def _declared_props(t: DataFrame, type_iri: str) -> DataFrame:
    """Properties typed ``type_iri`` as a one-column ``_p`` dimension."""
    return (
        t.where((F.col("pred") == RDF_TYPE) & (F.col("obj") == type_iri))
        .select(F.col("subj").alias("_p"))
        .distinct()
    )


def _union_all(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def _novel(fresh: DataFrame, e: DataFrame) -> DataFrame:
    """The triples of ``fresh`` that ``e`` does not hold, by null-safe
    full-term identity: a plain multi-column anti-join would keep every
    NULL-lang row (NULL = NULL is not true), and NULL and ``''`` stay
    different tags."""
    cond = reduce(
        lambda a, b: a & b, [fresh[c].eqNullSafe(e[c]) for c in _TRIPLE_COLS]
    )
    return fresh.join(e, cond, "left_anti")


def _append_new(e: DataFrame, fresh: DataFrame) -> DataFrame:
    """Append to ``e`` only the triples of ``fresh`` it does not already
    hold."""
    return e.unionByName(_novel(fresh, e))


def _seminaive(facts: DataFrame, derive, max_rounds: int, name: str) -> DataFrame:
    """Semi-naive fixpoint of ``derive(delta, facts)`` — a list of
    derived triple frames, empty when no rule applies — on
    ``materialize.fixpoint``: ``facts`` is the first round's delta, and
    each round keeps the distinct derivations ``facts`` does not hold
    (``_novel``). Raises when ``max_rounds`` rounds all found something
    new."""

    def step(delta: DataFrame, acc: DataFrame) -> "DataFrame | None":
        derived = derive(delta, acc)
        return _novel(_union_all(derived).distinct(), acc) if derived else None

    out, converged = fixpoint(facts, step, max_rounds=max_rounds)
    if not converged:
        raise ValueError(f"{name}: no fixpoint within {max_rounds} rounds")
    return out


def _closure_within(
    edges: DataFrame, bound: int, knob: str, partitions: int | None = None
) -> DataFrame:
    """``graph._closure`` of ``edges`` run one level past ``bound``:
    raises, naming ``knob``, when a shortest path is longer than
    ``bound`` edges instead of returning a truncated closure."""
    closed, truncated = _closure(edges, bound + 1, partitions)
    if truncated:
        raise ValueError(f"closure deeper than {knob}={bound}")
    return closed


def _schema_closure(
    triples: DataFrame, pred_iri: str, *, max_depth: int, eq_iri: str | None = None
) -> DataFrame:
    """Transitive closure of one schema predicate as (sub, sup) pairs
    (closure depth collapsed — consumers only need reachability): a
    projection of ``graph.transitive_closure``'s body, whose
    driver/distributed hybrid closes a schema-sized hierarchy in one
    driver loop. A hierarchy deeper than ``max_depth`` raises. An
    ``eq_iri`` axiom counts as the predicate in both directions
    (scm-eqc1), read in the same scan. The edges are distinct, so each
    pair comes out once; derived self-pairs stay (a cycle A ⊑ B ⊑ A
    entails A ⊑ A)."""
    fwd = F.struct(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    both = F.array(fwd, F.struct(F.col("obj").alias("src"), F.col("subj").alias("dst")))
    edges = (
        triples.where(
            F.col("pred").isin(pred_iri, eq_iri or pred_iri) & ~F.col("obj_is_literal")
        )
        .select(F.explode(F.when(F.col("pred") == pred_iri, F.array(fwd)).otherwise(both)))
        .select("col.*")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    closed = _closure_within(edges, max_depth, "max_schema_depth", 8)
    return closed.select(F.col("src").alias("_sub"), F.col("dst").alias("_sup"))


def rdfs_entail(
    triples: DataFrame,
    *,
    max_schema_depth: int = 20,
) -> DataFrame:
    """Materialize the RDFS consequences of ``triples`` and return the
    ENTAILED graph (asserted ∪ inferred, distinct) in the same
    5-column triple schema.

    rdfs7 copies the object TERM verbatim (lexical form, lang tag,
    literal flag — ``"Hello"@en`` generalized under a superproperty is
    still ``"Hello"@en``); rdfs2/3/9 emit IRI-object ``rdf:type``
    triples with NULL lang, and rdfs9 reads the IRI-object typings.
    The closed subClassOf and subPropertyOf pairs are entailed as
    triples too. It is ``rdfs_plus_entail``'s plan over the RDFS
    vocabulary (``_RDFS``): the property hierarchy, domains and ranges
    compile on the driver into one rule table, and only the subClassOf
    closure runs distributed. ``max_schema_depth`` bounds the
    subclass/subproperty closure depth: a deeper hierarchy raises and
    needs a larger bound (the closure loop stops at the ACTUAL
    hierarchy depth, so a generous bound costs nothing).
    """
    return _entail(triples, _RDFS, max_schema_depth)


def skos_audit(
    triples: DataFrame,
    *,
    max_depth: int = 50,
) -> DataFrame:
    """SKOS integrity audit: one row per (concept, issue) for the
    vocabulary-quality checks the SKOS reference ("SKOS Simple
    Knowledge Organization System Reference", W3C REC, §integrity
    conditions) and the reference's own cleaning passes care about
    (the reference's ChangeNote/prefLabel repair stages —
    SKOSGenerator.java — fix exactly these by hand):

    * ``missing_preflabel``   — a typed ``skos:Concept`` with no
      ``skos:prefLabel`` at all
    * ``multiple_preflabel``  — >1 ``skos:prefLabel`` in one language
      (S14 violation); NULL-lang labels count as one language bucket
    * ``broader_cycle``       — the concept lies on a ``skos:broader``
      cycle (detected via the depth-bounded reachability closure:
      ``c broader+ c``)
    * ``orphan_concept``      — a typed concept with no ``broader``,
      ``narrower``, or ``inScheme`` link in either direction

    Scale shape: every check is a partial-agg or (anti-)semi-join over
    the predicate-filtered slices; the cycle check reuses the
    broadcast-friendly closure.  Output: (concept, issue) distinct.
    """
    skos = "http://www.w3.org/2004/02/skos/core#"
    C, PL, BR, NW, IS = (
        skos + "Concept",
        skos + "prefLabel",
        skos + "broader",
        skos + "narrower",
        skos + "inScheme",
    )
    t = triples.select(*_TRIPLE_COLS)
    concepts = (
        t.where((F.col("pred") == RDF_TYPE) & (F.col("obj") == C))
        .select(F.col("subj").alias("concept"))
        .distinct()
    )

    pls = (
        t.where(F.col("pred") == PL)
        .select(
            F.col("subj").alias("concept"),
            F.col("obj_lang").alias("_lang"),
            F.col("obj").alias("_val"),
        )
        .distinct()  # S14 is about distinct VALUES per language
    )
    missing = concepts.join(pls, "concept", "left_anti").select(
        "concept", F.lit("missing_preflabel").alias("issue")
    )
    multi = (
        pls.groupBy("concept", "_lang")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 1)
        .join(concepts, "concept", "left_semi")
        .select("concept", F.lit("multiple_preflabel").alias("issue"))
        .distinct()
    )

    br = (
        t.where(F.col("pred") == BR)
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )
    closed = transitive_closure(
        br.where(F.col("src") != F.col("dst")), max_depth=max_depth, partitions=8
    )
    on_cycle = (
        closed.where(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("concept"))
        .unionByName(
            br.where(F.col("src") == F.col("dst")).select(
                F.col("src").alias("concept")
            )
        )
        .distinct()
        .join(concepts, "concept", "left_semi")
        .select("concept", F.lit("broader_cycle").alias("issue"))
    )

    linked = (
        t.where(F.col("pred").isin(BR, NW, IS))
        .select(F.col("subj").alias("concept"))
        .unionByName(
            t.where((F.col("pred").isin(BR, NW)) & ~F.col("obj_is_literal")).select(
                F.col("obj").alias("concept")
            )
        )
        .distinct()
    )
    orphan = concepts.join(linked, "concept", "left_anti").select(
        "concept", F.lit("orphan_concept").alias("issue")
    )

    return missing.unionByName(multi).unionByName(on_cycle).unionByName(orphan)


OWL_INVERSEOF = expand("owl:inverseOf")
OWL_SYMMETRIC = "http://www.w3.org/2002/07/owl#SymmetricProperty"
OWL_TRANSITIVE = "http://www.w3.org/2002/07/owl#TransitiveProperty"
OWL_EQCLASS = "http://www.w3.org/2002/07/owl#equivalentClass"
OWL_EQPROP = "http://www.w3.org/2002/07/owl#equivalentProperty"
_PSEP = "\x00"  # joins pred onto node ids for the pooled closure


@dataclass(frozen=True)
class _Profile:
    """The schema vocabulary an entailer reads: ``props`` are the
    property axioms compiled on the driver, ``classes`` the class
    axioms closed through ``_schema_closure``, and ``types`` the
    property characteristics typed with ``rdf:type``."""

    props: tuple
    classes: tuple
    types: tuple

    @property
    def axioms(self) -> tuple:
        return (*self.props, *self.classes)


_RDFS = _Profile((RDFS_SUBPROPERTYOF, RDFS_DOMAIN, RDFS_RANGE), (RDFS_SUBCLASSOF,), ())
_RDFS_PLUS = _Profile(
    (RDFS_SUBPROPERTYOF, OWL_EQPROP, RDFS_DOMAIN, RDFS_RANGE, OWL_INVERSEOF),
    (RDFS_SUBCLASSOF, OWL_EQCLASS),
    (OWL_SYMMETRIC, OWL_TRANSITIVE),
)

_TRIPLE_DDL = (
    "subj string, pred string, obj string, obj_lang string, obj_is_literal boolean"
)
# one emission of a compiled rule: the derived triple's predicate ``p``;
# its object ``c`` when that is a constant (a domain/range class), else
# NULL for the source's other end; ``sw`` when subject and object swap;
# ``iri`` when the source object must be an IRI
_RULES_TYPE = "map<string,array<struct<p:string,c:string,sw:boolean,iri:boolean>>>"


def _bounded_collect(df: DataFrame, what: str) -> list:
    """The rows of ``df``, at most ``_CLOSURE_DRIVER_EDGE_MAX`` of them:
    one more raises instead of filling the driver."""
    rows = df.limit(_CLOSURE_DRIVER_EDGE_MAX + 1).collect()
    if len(rows) > _CLOSURE_DRIVER_EDGE_MAX:
        raise ValueError(f"graph carries > {_CLOSURE_DRIVER_EDGE_MAX} {what}")
    return rows


def _rule_table(axioms: set, max_depth: int) -> tuple[dict, list]:
    """(rules, closed subPropertyOf pairs) of IRI-object ``(s, p, o)``
    property axioms. From the state (p, forward), a subPropertyOf step
    keeps the direction, an inverseOf step moves to the inverse and
    flips it, and a SymmetricProperty flips it. Every state (q,
    reversed) reachable from (p, forward) emits the triple under q,
    swapped when reversed, plus q's domain and range typings; a
    reversed state or a range typing needs an IRI object. ``rules``
    maps each predicate with an axiom to its sorted emissions."""
    sub, inv, dom, rng = (defaultdict(set) for _ in range(4))
    sym, edges = set(), set()
    for s, p, o in axioms:
        if p == RDFS_SUBPROPERTYOF:
            edges.add((s, o))
        elif p == OWL_EQPROP:  # scm-eqp1: subsumption both ways
            edges |= {(s, o), (o, s)}
        elif p == OWL_INVERSEOF:
            inv[s].add(o)
            inv[o].add(s)
        elif p in (RDFS_DOMAIN, RDFS_RANGE):
            (dom if p == RDFS_DOMAIN else rng)[s].add(o)
        elif o == OWL_SYMMETRIC:
            sym.add(s)
    closed = _driver_transitive_closure(
        sorted(e for e in edges if e[0] != e[1]), max_depth + 1
    )
    if closed is None:
        raise ValueError(f"subPropertyOf closure > {_CLOSURE_DRIVER_PAIR_MAX} pairs")
    if closed[1]:  # one level past the bound, as in _closure_within
        raise ValueError(f"closure deeper than max_schema_depth={max_depth}")
    sp = sorted({(a, b) for a, b, _depth in closed[0]})
    for a, b in sp:
        sub[a].add(b)
    rules = {}
    for p in {*sub, *inv, *dom, *rng, *sym}:
        states, todo = {(p, False)}, [(p, False)]
        while todo:
            q, rev = todo.pop()
            nxt = {(r, rev) for r in sub.get(q, ())}
            nxt |= {(r, not rev) for r in inv.get(q, ())}
            nxt |= {(q, not rev)} if q in sym else set()
            todo += nxt - states
            states |= nxt
        out = set()
        for q, rev in states:
            out.add((q, None, rev, rev))
            out |= {(RDF_TYPE, c, rev, rev) for c in dom.get(q, ())}
            out |= {(RDF_TYPE, c, not rev, True) for c in rng.get(q, ())}
        rules[p] = sorted(out, key=lambda e: (e[0], e[1] or "", e[2], e[3]))
    return rules, sp


def _apply_rules(rules: dict, s: str, p: str, o: str, lit: bool) -> list[tuple]:
    """Driver twin of ``_expand_facts`` for one triple: its emissions
    as ``(subj, pred, obj, obj_is_literal)``."""
    out = []
    for q, c, sw, iri in rules.get(p, [(p, None, False, False)]):
        if not (iri and lit):
            obj = c if c is not None else (s if sw else o)
            out.append((o if sw else s, q, obj, c is None and not sw and lit))
    return out


def _schema_sources(rules: dict, prof: _Profile) -> tuple[set, set]:
    """(preds, typing): a triple under a predicate of ``preds`` expands
    into a schema axiom of ``prof``; one under a predicate of
    ``typing`` does when its object is one of ``prof.types``."""
    preds, typing = set(prof.axioms), {RDF_TYPE}
    for p, emissions in rules.items():
        for q, c, _sw, _iri in emissions:
            if (c is None and q in prof.axioms) or (q == RDF_TYPE and c in prof.types):
                preds.add(p)
            elif q == RDF_TYPE and c is None and prof.types:
                typing.add(p)
    return preds, typing


def _schema_triples(preds, typing, prof: _Profile) -> Column:
    return F.col("pred").isin(*preds) | (
        F.col("pred").isin(*typing) & F.col("obj").isin(*prof.types)
    )


@dataclass(frozen=True)
class _Schema:
    """A schema compiled on the driver."""

    rules: dict  # predicate -> emissions, see _rule_table
    trans: list  # the TransitiveProperty predicates
    prop_rows: list  # rdfs5 / scm-eqp2 triples of the closed hierarchy
    class_axioms: list  # class axioms derived through meta-properties

    def rules_col(self) -> Column:
        """The rule table as one map literal: the optimizer folds the
        ``from_json`` of a literal, so it costs no job."""
        table = {
            p: [dict(zip(("p", "c", "sw", "iri"), e)) for e in emissions]
            for p, emissions in self.rules.items()
        }
        return F.from_json(F.lit(json.dumps(table, sort_keys=True)), _RULES_TYPE)


def _compile_schema(t: DataFrame, prof: _Profile, max_depth: int) -> _Schema:
    """Compile the property-level schema of ``t`` in the vocabulary of
    ``prof`` on the driver. One bounded collect fetches the
    ``prof.props`` axioms and the ``prof.types`` typings (for
    RDFS-Plus: subPropertyOf, equivalentProperty, domain, range and
    inverseOf, and the Symmetric/Transitive typings). The triples of a
    meta-property, one
    whose triples expand into a schema axiom (``ex:q ⊑ rdfs:domain``),
    come from a second bounded collect, run only when such a property
    exists; what they derive joins the axioms until nothing new
    appears, and the class axioms among it go to the distributed
    subClassOf closure. Each collect raises past
    ``_CLOSURE_DRIVER_EDGE_MAX`` rows."""
    axioms = {
        tuple(r)
        for r in _bounded_collect(
            t.where(
                (F.col("pred").isin(*prof.props) & ~F.col("obj_is_literal"))
                | ((F.col("pred") == RDF_TYPE) & F.col("obj").isin(*prof.types))
            ).select("subj", "pred", "obj"),
            "property axioms (_CLOSURE_DRIVER_EDGE_MAX)",
        )
    }
    meta_rows, fetched = [], {*prof.axioms, RDF_TYPE}
    while True:
        rules, sp = _rule_table(axioms, max_depth)
        preds, typing = _schema_sources(rules, prof)
        meta = (preds | typing) - fetched
        if meta:
            meta_rows += _bounded_collect(
                t.where(
                    F.col("pred").isin(*meta) & _schema_triples(preds, typing, prof)
                )
                .select("subj", "pred", "obj", "obj_is_literal"),
                "meta-property triples (_CLOSURE_DRIVER_EDGE_MAX)",
            )
            fetched |= meta
        derived = {
            x
            for r in [*((*a, False) for a in axioms), *meta_rows]
            for x in _apply_rules(rules, *r)
            if not x[3]
        }
        new = {
            (s, p, o)
            for s, p, o, _lit in derived
            if p in prof.props or (p == RDF_TYPE and o in prof.types)
        } - axioms
        if not (new or meta):
            break
        axioms |= new
    # scm-eqp2, in a vocabulary with equivalentProperty: mutual
    # subsumption is equivalence
    spset = set(sp) if OWL_EQPROP in prof.props else set()
    eq = [(a, b) for a, b in sp if a != b and (b, a) in spset]
    return _Schema(
        rules=rules,
        trans=sorted(a[0] for a in axioms if a[1:] == (RDF_TYPE, OWL_TRANSITIVE)),
        prop_rows=[(a, RDFS_SUBPROPERTYOF, b, None, False) for a, b in sp]
        + [(a, OWL_EQPROP, b, None, False) for a, b in eq],
        class_axioms=sorted(
            (s, p, o, None, False) for s, p, o, _lit in derived if p in prof.classes
        ),
    )


def _expand_facts(g: DataFrame, schema: _Schema) -> DataFrame:
    """One explode of every triple over its rule-table entry: the triple
    itself, its generalizations (rdfs7), inverse and symmetric mirrors,
    and domain/range typings (rdfs2/3), with the rules closed to a
    fixpoint on the driver. A predicate without axioms emits the
    triple alone. A forward emission copies the object term verbatim,
    lang tag included; every other emission is an IRI triple."""
    if not schema.rules:
        return g
    alone = F.array(
        F.struct(
            F.col("pred").alias("p"),
            F.lit(None).cast("string").alias("c"),
            F.lit(False).alias("sw"),
            F.lit(False).alias("iri"),
        )
    )
    rules = F.coalesce(schema.rules_col()[F.col("pred")], alone)
    x = g.select(*_TRIPLE_COLS, F.explode(rules).alias("_r")).where(
        ~(F.col("_r.iri") & F.col("obj_is_literal"))
    )
    sw, c = F.col("_r.sw"), F.col("_r.c")
    verbatim = c.isNull() & ~sw
    return x.select(
        F.when(sw, F.col("obj")).otherwise(F.col("subj")).alias("subj"),
        F.col("_r.p").alias("pred"),
        F.coalesce(c, F.when(sw, F.col("subj")).otherwise(F.col("obj"))).alias("obj"),
        F.when(verbatim, F.col("obj_lang")).alias("obj_lang"),
        F.when(verbatim, F.col("obj_is_literal"))
        .otherwise(False)
        .alias("obj_is_literal"),
    )


def _with_supertypes(g: DataFrame, sc: DataFrame) -> DataFrame:
    """``g`` plus rdfs9 over its IRI typings: one broadcast join against
    the (_sub, _sup) subClassOf closure."""
    types = _types_of(g)
    return g.unionByName(
        types.join(F.broadcast(sc), types["obj"] == sc["_sub"]).select(
            *_as_type_triple("subj", "_sup")
        )
    )


def _subclass_pairs(e: DataFrame) -> DataFrame:
    """The (_sub, _sup) subClassOf slice of a saturated graph: it holds
    its closure, each pair once."""
    return e.where(
        (F.col("pred") == RDFS_SUBCLASSOF) & ~F.col("obj_is_literal")
    ).select(F.col("subj").alias("_sub"), F.col("obj").alias("_sup"))


def _pooled_edges(g: DataFrame, trans: list) -> DataFrame:
    """Distinct ``pred\\x00subj -> pred\\x00obj`` edges of the IRI
    assertions on the ``trans`` predicates: fusing the predicate into
    the node key pools every transitive predicate into ONE closure run,
    and paths cannot cross predicates because the join key carries the
    predicate."""
    return (
        g.where(~F.col("obj_is_literal") & F.col("pred").isin(*trans))
        .select(
            F.concat_ws(_PSEP, "pred", "subj").alias("src"),
            F.concat_ws(_PSEP, "pred", "obj").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _unpool(closed: DataFrame) -> DataFrame:
    """Closure pairs of ``_pooled_edges`` back to IRI triples."""
    return closed.select(
        *_iri_triple(
            F.substring_index("src", _PSEP, -1),
            F.substring_index("src", _PSEP, 1),
            F.substring_index("dst", _PSEP, -1),
        )
    )


def _entail(
    triples: DataFrame,
    prof: _Profile,
    max_schema_depth: int,
    max_transitive_depth: int = 20,
) -> DataFrame:
    """The entailed graph of ``triples`` in the vocabulary of ``prof``:
    the plan ``rdfs_plus_entail`` describes."""
    t = triples.select(*_TRIPLE_COLS)
    spark = t.sparkSession
    schema = _compile_schema(t, prof, max_schema_depth)
    cls = t.unionByName(local_frame(spark, schema.class_axioms, _TRIPLE_DDL))
    eqc = OWL_EQCLASS if OWL_EQCLASS in prof.classes else None
    sc = _schema_closure(cls, RDFS_SUBCLASSOF, max_depth=max_schema_depth, eq_iri=eqc)
    schema_rows = [sc.select(*_iri_triple("_sub", F.lit(RDFS_SUBCLASSOF), "_sup"))]
    if eqc:  # scm-eqc2, a self-join of the schema-sized closure
        rev = sc.select(F.col("_sup").alias("_sub"), F.col("_sub").alias("_sup"))
        schema_rows.append(
            sc.join(rev, ["_sub", "_sup"])
            .where(F.col("_sub") != F.col("_sup"))
            .select(*_iri_triple("_sub", F.lit(OWL_EQCLASS), "_sup"))
        )
    schema_rows.append(local_frame(spark, schema.prop_rows, _TRIPLE_DDL))
    facts = _expand_facts(t.unionByName(_union_all(schema_rows)), schema)
    if schema.trans:
        # the closure reads only the triples that expand into a
        # transitive predicate
        trans = set(schema.trans)
        feeds = trans | {
            p for p, es in schema.rules.items() if trans & {e[0] for e in es}
        }
        edges = _expand_facts(t.where(F.col("pred").isin(*feeds)), schema)
        pooled = _pooled_edges(edges, schema.trans)
        closed = _closure_within(pooled, max_transitive_depth, "max_transitive_depth")
        facts = facts.unionByName(_expand_facts(_unpool(closed), schema))
    return _with_supertypes(facts, sc).distinct()


def rdfs_plus_entail(
    triples: DataFrame,
    *,
    max_schema_depth: int = 20,
    max_transitive_depth: int = 20,
) -> DataFrame:
    """RDFS-Plus materialization: the full ``rdfs_entail`` rule set
    plus the three OWL property characteristics every production
    RDFS-Plus store (Jena's OWLMicroReasoner tier, the AllegroGraph
    "RDFS++" profile) materializes:

    * ``owl:inverseOf``            — ``(P inv Q) ∧ (x P y) ⇒ (y Q x)``
      (and symmetrically for Q, since inverseOf is its own inverse)
    * ``owl:SymmetricProperty``    — ``(x P y) ⇒ (y P x)``
    * ``owl:TransitiveProperty``   — ``(x P y) ∧ (y P z) ⇒ (x P z)``
    * ``owl:equivalentClass``      — BIDIRECTIONAL ``rdfs:subClassOf``
      (OWL RL scm-eqc1); closed equivalences are re-derived from
      mutual subsumption (scm-eqc2: ``A⊑B ∧ B⊑A ⇒ A≡B``), which also
      covers symmetry and transitivity of ≡. Reflexive ``A≡A`` pairs
      (every cycle member subsumes itself) are filtered.
    * ``owl:equivalentProperty``   — same treatment via
      ``rdfs:subPropertyOf`` (scm-eqp1 / scm-eqp2).

    ``owl:sameAs`` is deliberately NOT expanded here: identity-merge
    is the canonicalization stage's job
    (operators/canonicalize.py::connected_components — rewriting to a
    canonical IRI beats materializing the O(n²) sameAs clique).

    Plan (``_entail`` over ``_RDFS_PLUS``; ``rdfs_entail`` runs it over
    ``_RDFS``): ``_compile_schema`` closes the property-level schema on
    the driver into one rule table (bounded collects that raise past
    their bound). The class hierarchy closes through
    ``_schema_closure``, whose hybrid keeps a large ontology
    distributed. The result is the distinct union of
    ``_expand_facts`` over the input and the closed schema rows, of
    the pooled transitive closure (``_pooled_edges``, one closure run
    for every TransitiveProperty) of the expanded transitive
    assertions with its pairs expanded again, and of rdfs9 over both:
    one broadcast join against the subClassOf closure. Literal-object
    assertions never mirror or close (their inverses and compositions
    are not valid RDF). A schema hierarchy deeper than
    ``max_schema_depth`` or a transitive chain deeper than
    ``max_transitive_depth`` raises."""
    return _entail(triples, _RDFS_PLUS, max_schema_depth, max_transitive_depth)


def _compose(a: DataFrame, b: DataFrame) -> DataFrame:
    """(src, dst) pairs of a path a-edge then b-edge."""
    return a.select("src", F.col("dst").alias("_mid")).join(
        b.select(F.col("src").alias("_mid"), "dst"), "_mid"
    ).select("src", "dst")


def _entail_delta(
    entailed: DataFrame,
    delta: DataFrame,
    prof: _Profile,
    max_schema_depth: int,
    max_transitive_depth: int = 20,
) -> DataFrame:
    """The saturation of ``entailed`` ∪ ``delta`` in the vocabulary of
    ``prof``: the plan ``rdfs_plus_entail_delta`` describes."""
    d = delta.select(*_TRIPLE_COLS)
    e = entailed.select(*_TRIPLE_COLS).localCheckpoint(eager=False)
    schema = _compile_schema(e, prof, max_schema_depth)
    if not d.where(
        _schema_triples(*_schema_sources(schema.rules, prof), prof)
    ).isEmpty():
        return _entail(e.unionByName(d), prof, max_schema_depth, max_transitive_depth)
    fresh = _expand_facts(d, schema)
    if schema.trans:
        d_edges = _pooled_edges(fresh, schema.trans).localCheckpoint(eager=True)
        e_pairs = _pooled_edges(e, schema.trans)  # C: a pred-filtered slice
        pre = d_edges.unionByName(_compose(e_pairs, F.broadcast(d_edges)))
        bridged = (
            pre.unionByName(_compose(pre, e_pairs))
            .distinct()
            .localCheckpoint(eager=True)
        )
        closed = _closure_within(bridged, max_transitive_depth, "max_transitive_depth")
        fresh = fresh.unionByName(_expand_facts(_unpool(closed), schema))
    return _append_new(e, _with_supertypes(fresh, _subclass_pairs(e)).distinct())


def rdfs_entail_delta(
    entailed: DataFrame,
    delta: DataFrame,
    *,
    max_schema_depth: int = 20,
) -> DataFrame:
    """Incremental (semi-naive) RDFS maintenance: given a previously
    ENTAILED graph and a batch of newly asserted triples, return the
    entailed graph of the union — without re-deriving anything the old
    graph already holds.

    This is what makes materialization viable at 100 TB: a daily batch
    of new instance triples costs rules-over-the-DELTA (one explode
    over the rule table compiled from the old graph's schema, and one
    broadcast rdfs9 join) plus one null-safe anti-join against the old
    graph (``_append_new``) — the old fact stream is scanned once for
    the anti-join and never re-derived. The subClassOf closure is NOT
    recomputed: ``rdfs_entail`` materializes the closed subClassOf
    pairs as triples, so the old graph IS the closure (semi-naive
    evaluation's "use the saturated database"); the property-level
    schema compiles on the driver, as in the full operation.

    If the delta itself contains schema triples (subClassOf,
    subPropertyOf, domain or range axioms, or triples of a
    meta-property that expand into one) the saturated-schema shortcut
    is invalid — the operator detects that with one probe of the
    (small) delta and falls back to a full ``rdfs_entail`` over the
    union, which is always correct (entailment is idempotent). The old
    graph is lazily checkpointed once, since the schema collect, the
    subClassOf slice, the anti-join and the union all re-read it. It
    is ``rdfs_plus_entail_delta``'s plan over the RDFS vocabulary.
    """
    return _entail_delta(entailed, delta, _RDFS, max_schema_depth)


def rdfs_plus_entail_delta(
    entailed: DataFrame,
    delta: DataFrame,
    *,
    max_schema_depth: int = 20,
    max_transitive_depth: int = 20,
) -> DataFrame:
    """Incremental (semi-naive) RDFS-PLUS maintenance: given a graph
    previously saturated by ``rdfs_plus_entail`` and a batch of new
    INSTANCE triples, return the saturation of the union without
    re-deriving the old graph — insert-only view maintenance, deltas
    on TRANSITIVE / INVERSE / SYMMETRIC properties included.

    The rule table is compiled from the saturated graph, as in the
    full operation, and the delta goes through the same
    ``_expand_facts``. The transitive piece is the classic
    incremental-closure identity: with C the old (already transitive)
    pair set and Δ the new edges,

        C' = C ∪ (C? ∘ Δ ∘ C?)+        (C? = C ∪ identity)

    — each new edge is bridged through the old closure on both sides
    (the delta side broadcast), and the tiny bridged pair set is
    closed on ITSELF (every bridged pair already absorbs the old
    hops). The closure job therefore runs over delta-incident pairs
    only — never the old fact stream. The new closure pairs are
    expanded again, and rdfs9 types both against the saturated
    subClassOf pairs. ``_append_new`` adds what the old graph lacks.

    A delta carrying SCHEMA triples (hierarchy/domain/range/inverseOf/
    equivalence axioms, property-characteristic typings, or triples of
    a meta-property that expand into one) invalidates the table; one
    ``isEmpty`` probe of the delta detects it → full
    ``rdfs_plus_entail`` over the union (idempotent, always correct).

    The old graph is lazily checkpointed once: the schema collect, the
    subClassOf and closure slices, the anti-join and the union all read
    it, and a LIVE ``entailed`` plan would re-run the base saturation
    for each."""
    return _entail_delta(
        entailed, delta, _RDFS_PLUS, max_schema_depth, max_transitive_depth
    )


OWL_FUNCTIONAL = "http://www.w3.org/2002/07/owl#FunctionalProperty"
OWL_INVERSE_FUNCTIONAL = (
    "http://www.w3.org/2002/07/owl#InverseFunctionalProperty"
)


def functional_violations(triples: DataFrame) -> DataFrame:
    """KG-consistency audit for cardinality-one properties: one row
    per violation, (node, pred, n_values, kind) where

    * kind='functional'          — ``P a owl:FunctionalProperty`` and
      some subject has >1 DISTINCT object under P
    * kind='inverse_functional'  — ``P a owl:InverseFunctionalProperty``
      and some IRI object has >1 distinct subject (the classic
      entity-resolution signal: two nodes sharing an IFP value should
      have been merged by canonicalization)

    Scale shape: predicate-filtered slice (broadcast semi-join against
    the tiny declared-property set) → one partial-agg count-distinct
    per (node, pred) → filter >1. Literal objects participate in
    'functional' (values) but never in 'inverse_functional' (only IRIs
    can be merge candidates)."""
    t = triples.select(*_TRIPLE_COLS)
    fp = _declared_props(t, OWL_FUNCTIONAL)
    ifp = _declared_props(t, OWL_INVERSE_FUNCTIONAL)
    f_slice = t.join(F.broadcast(fp), t["pred"] == fp["_p"]).select(
        F.col("subj").alias("node"), "pred",
        F.concat_ws(
            "\x1f", F.col("obj"), F.coalesce(F.col("obj_lang"), F.lit("")),
            F.col("obj_is_literal").cast("string"),
        ).alias("_val"),
    )
    f_out = (
        f_slice.groupBy("node", "pred")
        .agg(F.count_distinct("_val").alias("n_values"))
        .where(F.col("n_values") > 1)
        .withColumn("kind", F.lit("functional"))
    )
    i_slice = (
        t.where(~F.col("obj_is_literal"))
        .join(F.broadcast(ifp), t["pred"] == ifp["_p"])
        .select(F.col("obj").alias("node"), "pred", F.col("subj").alias("_val"))
    )
    i_out = (
        i_slice.groupBy("node", "pred")
        .agg(F.count_distinct("_val").alias("n_values"))
        .where(F.col("n_values") > 1)
        .withColumn("kind", F.lit("inverse_functional"))
    )
    return f_out.unionByName(i_out)


OWL_PROPERTY_CHAIN = "http://www.w3.org/2002/07/owl#propertyChainAxiom"
_RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
_RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
_RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"


#: one RDF-list member: (lexical form, lang tag, is-literal flag)
ListMember = tuple[str, "str | None", bool]


def _collect_rdf_lists(
    triples: DataFrame, axiom_pred: str, label: str
) -> list[tuple[str, list[ListMember]]]:
    """Collect ``(s, axiom_pred, (m1 m2 ...))`` axioms as
    ``(s, [(obj, lang, is_lit), ...])`` — the RDF list
    (rdf:first/rdf:rest chains, which both the Turtle ``( )`` and
    RDF/XML parseType=Collection readers emit) is walked DRIVER-side:
    axioms are a schema dimension (same stance as transitive_closure's
    driver path). Malformed lists (missing first/rest, FORKED nodes
    with duplicate first/rest arcs, cycles) raise rather than silently
    shortening or nondeterministically reordering members. The
    list-cell collect is capped at ``_CLOSURE_DRIVER_EDGE_MAX`` rows: a
    graph whose INSTANCE data carries millions of RDF collections
    (OWL class expressions, SKOS ordered collections) must pass the
    axioms explicitly rather than OOM the driver. ``rdf:first``
    members keep full literal term identity (oneOf lists may hold
    literals); ``rdf:rest`` arcs must be IRIs/blank nodes."""
    t = triples.select(*_TRIPLE_COLS)
    axioms = t.where(
        (F.col("pred") == axiom_pred) & ~F.col("obj_is_literal")
    ).select("subj", "obj").collect()
    if not axioms:
        return []
    cell_rows = _bounded_collect(
        t.where(
            (F.col("pred") == _RDF_FIRST)
            | ((F.col("pred") == _RDF_REST) & ~F.col("obj_is_literal"))
        ).select(*_TRIPLE_COLS),
        f"rdf:first/rdf:rest cells — extract the {label} axioms from the "
        "schema graph and pass them explicitly instead of walking "
        "instance-data collections driver-side",
    )
    cells: dict[tuple[str, str], ListMember] = {}
    for r in cell_rows:
        key = (r["subj"], r["pred"])
        val = (r["obj"], r["obj_lang"], bool(r["obj_is_literal"]))
        if key in cells and cells[key] != val:
            raise ValueError(
                f"forked {label} list node {r['subj']!r}: "
                f"duplicate {r['pred']!r} arcs"
            )
        cells[key] = val
    out: list[tuple[str, list[ListMember]]] = []
    for ax in axioms:
        node, elems, seen = ax["obj"], [], set()
        while node != _RDF_NIL:
            if node in seen:
                raise ValueError(f"{label} list cycle at {node!r}")
            seen.add(node)
            first = cells.get((node, _RDF_FIRST))
            rest = cells.get((node, _RDF_REST))
            if first is None or rest is None:
                raise ValueError(
                    f"malformed {label} list node {node!r} "
                    "(missing rdf:first/rdf:rest)"
                )
            elems.append(first)
            node = rest[0]
        out.append((ax["subj"], elems))
    return out


def extract_property_chains(triples: DataFrame) -> list[tuple[str, list[str]]]:
    """Collect ``(r, owl:propertyChainAxiom, (p1 p2 ...))`` axioms as
    ``(r, [p1, p2, ...])`` via the driver-side RDF-list walk
    (``_collect_rdf_lists`` — capped, fork/cycle/malformation-checked).
    Chain elements must be IRIs; a literal member or a <2-element
    chain raises."""
    chains: list[tuple[str, list[str]]] = []
    for subj, members in _collect_rdf_lists(
        triples, OWL_PROPERTY_CHAIN, "propertyChainAxiom"
    ):
        elems: list[str] = []
        for obj, _lang, is_lit in members:
            if is_lit:
                raise ValueError(
                    f"malformed propertyChainAxiom for {subj!r}: "
                    f"literal list member {obj!r}"
                )
            elems.append(obj)
        if len(elems) < 2:
            raise ValueError(
                f"propertyChainAxiom for {subj!r} needs >= 2 elements"
            )
        chains.append((subj, elems))
    return chains


def apply_property_chains(
    triples: DataFrame,
    chains: "list[tuple[str, list[str]]] | None" = None,
    *,
    max_rounds: int = 5,
) -> DataFrame:
    """Materialize ``owl:propertyChainAxiom`` consequences (OWL RL
    prp-spo2): for a chain ``r ⊒ p1 ∘ p2 ∘ ... ∘ pk``, every path
    ``x -p1-> . -p2-> ... -pk-> y`` entails ``x r y``. Returns the
    entailed graph (asserted ∪ derived, set semantics on the derived
    slice).

    ``chains`` defaults to ``extract_property_chains(triples)``; pass
    them explicitly to replay axioms from a separate schema graph.

    Scale shape: each chain is k-1 equi-joins of PREDICATE-FILTERED
    slices of the fact stream (pushdown- and pred_kind-partition-
    prunable — never a scan of the whole graph per hop); literal
    objects cannot continue a path and are filtered before every hop.
    Chains whose output predicate feeds another chain converge by
    iterated rounds on ``materialize.fixpoint``: each round derives
    over the graph so far and keeps only genuinely-new rows (anti-join
    of the round's SMALL derived slice against the chain-output slice
    of the accumulated graph — never a shuffle of the untouched base).
    Cycles through chain outputs are bounded: the loop gets one round
    past ``max_rounds``, and raises when that round still derives
    something new rather than return an incomplete entailment."""
    t = triples.select(*_TRIPLE_COLS)
    if chains is None:
        chains = extract_property_chains(triples)
    if not chains:
        return t
    key = ["subj", "pred", "obj", "obj_is_literal"]

    def _new(_delta: DataFrame, g: DataFrame) -> DataFrame:
        iri = g.where(~F.col("obj_is_literal"))
        outs = []
        for r, elems in chains:
            cur = iri.where(F.col("pred") == elems[0]).select(
                F.col("subj").alias("_s"), F.col("obj").alias("_o")
            )
            for p in elems[1:]:
                nxt = iri.where(F.col("pred") == p).select(
                    F.col("subj").alias("_o"), F.col("obj").alias("_o2")
                )
                cur = cur.join(nxt, "_o").select(
                    "_s", F.col("_o2").alias("_o")
                )
            outs.append(cur.select(*_iri_triple("_s", F.lit(r), "_o")))
        # keep only rows not already asserted/derived — both anti-join
        # sides keyed on the derived slice (chain outputs), never a
        # shuffle of the untouched base graph. Full RDF-term identity:
        # obj_is_literal joins too, so an asserted LITERAL value on a
        # chain-output predicate cannot suppress a genuinely new
        # derived IRI triple with the same lexical object (derived
        # rows are always is_literal=false, lang null).
        return _union_all(outs).distinct().join(
            g.where(F.col("pred").isin([r for r, _ in chains])).select(*key),
            key,
            "left_anti",
        )

    g, converged = fixpoint(t, _new, max_rounds=max_rounds + 1)
    if not converged:
        raise ValueError(
            f"property chains did not reach a fixpoint within "
            f"max_rounds={max_rounds} — raise max_rounds (self-feeding "
            "chains derive one extra hop per round)"
        )
    return g


def _collision_star_edges(
    slice_: DataFrame, max_group: int | None
) -> DataFrame:
    """(key..., member) → star edges (min-member hub, k-1 edges per
    collision group); groups above ``max_group`` members are skipped.
    ``slice_`` columns: any number of key columns plus ``member``."""
    keys = [c for c in slice_.columns if c != "member"]
    slice_ = slice_.dropDuplicates([*keys, "member"])
    hubs = (
        slice_.groupBy(*keys)
        .agg(F.min("member").alias("_hub"), F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 1)
    )
    if max_group is not None:
        hubs = hubs.where(F.col("_n") <= max_group)
    return (
        slice_.join(hubs, keys)
        .where(F.col("member") != F.col("_hub"))
        .select(F.col("_hub").alias("src"), F.col("member").alias("dst"))
        .distinct()
    )


def ifp_entity_resolution(
    triples: DataFrame,
    *,
    max_group: int | None = 10_000,
    include_functional: bool = False,
) -> DataFrame:
    """Entity resolution from inverse-functional-property collisions:
    ``P a owl:InverseFunctionalProperty ∧ x P v ∧ y P v ⇒ x owl:sameAs
    y`` — the OWL prp-ifp rule, resolved the way the rest of this
    engine handles identity: as a CANONICAL-IRI MERGE MAP, not
    materialized sameAs cliques (same stance as rdfs_plus_entail's
    sameAs note). → (iri, canonical_iri) for every NON-CANONICAL member
    of a merged component (roots and singletons absent — compose with
    ``canonicalize.canonical_mapping`` semantics: nodes outside the map
    are their own canonical).

    Unlike ``functional_violations``'s IFP audit, the shared value here
    may be ANY RDF term — the classic IFP keys (mbox, homepage, ISBN)
    are often literals; full term identity (lexical form + lang +
    literal flag) is the join key.

    Scale shape: broadcast IFP-predicate semi-join slices the fact
    stream; per (pred, value) collision group, a min-subject HUB emits
    a STAR of k-1 edges — NEVER the O(k²) clique; the components are
    identical, pair volume is linear. ``max_group`` skips collision
    groups larger than the cap — a value shared by millions of subjects
    (empty string, "n/a") is a data-quality artifact, and merging its
    subjects would both be wrong and create the giant-component skew
    this engine salts against elsewhere. Components close transitively
    across predicates and values via ``connected_components`` (hybrid
    driver/distributed, checkpointed rounds).

    ``include_functional=True`` adds the prp-fp twin: a FUNCTIONAL
    property asserted twice on one subject merges its IRI values
    (``x P a ∧ x P b ⇒ a sameAs b``); both rule families contribute
    edges to the same component closure."""
    from sifr_project_java_ontology_processing_spark.operators.canonicalize import (
        connected_components,
    )

    t = triples.select(*_TRIPLE_COLS)
    ifp = _declared_props(t, OWL_INVERSE_FUNCTIONAL)
    ifp_slice = t.join(F.broadcast(ifp), t["pred"] == ifp["_p"]).select(
        "pred",
        F.concat_ws(
            "\x1f",
            F.col("obj"),
            F.coalesce(F.col("obj_lang"), F.lit("")),
            F.col("obj_is_literal").cast("string"),
        ).alias("_key"),
        F.col("subj").alias("member"),
    )
    edges = _collision_star_edges(ifp_slice, max_group)
    if include_functional:
        # prp-fp: (P functional) ∧ (x P a) ∧ (x P b) ⇒ a sameAs b —
        # merges the IRI VALUES this time (a functional property with
        # two distinct LITERAL values is an inconsistency, which
        # functional_violations reports; literals cannot be merged)
        fp = _declared_props(t, OWL_FUNCTIONAL)
        fp_slice = (
            t.where(~F.col("obj_is_literal"))
            .join(F.broadcast(fp), t["pred"] == fp["_p"])
            .select("pred", F.col("subj").alias("_key"), F.col("obj").alias("member"))
        )
        edges = edges.unionByName(_collision_star_edges(fp_slice, max_group))
    return connected_components(edges)


OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"


def sameas_mapping(triples: DataFrame) -> DataFrame:
    """Asserted ``owl:sameAs`` links → canonical-IRI merge map
    ``(iri, canonical_iri)``: the transitive-symmetric closure of the
    identity relation collapsed to connected components, canonical =
    lexicographic min (deterministic), non-canonical members only.

    This is the scalable stance on OWL eq-sym/eq-trans: the closure of
    a k-member identity clique is O(k²) sameAs pairs, but its component
    map is k-1 rows — same reasoning as ``ifp_entity_resolution``
    (reference parity note: the reference's Jena models leave sameAs
    unexpanded too; OntologyLoader.java loads mappings as plain
    triples). sameAs with a literal endpoint is ill-typed (identity is
    between resources) and ignored."""
    from sifr_project_java_ontology_processing_spark.operators.canonicalize import (
        connected_components,
    )

    t = triples.select(*_TRIPLE_COLS)
    pairs = t.where(
        (F.col("pred") == OWL_SAMEAS)
        & ~F.col("obj_is_literal")
        & (F.col("subj") != F.col("obj"))
    ).select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return connected_components(pairs)


def sameas_consolidate(
    triples: DataFrame,
    *,
    rewrite_predicates: bool = True,
    dedup: bool = True,
) -> DataFrame:
    """Consolidate a graph by its asserted ``owl:sameAs`` links — the
    OWL RL eq-rep-s / eq-rep-p / eq-rep-o replacement rules applied as
    ONE canonical rewrite instead of materializing every replacement
    variant: each subject/object (and, with ``rewrite_predicates``,
    each predicate — eq-rep-p) maps to its identity-component
    canonical; the quadratic eq-sym/eq-trans closure never exists.
    Equivalent data: a query against the consolidated graph under
    canonical IRIs sees every fact the replacement rules would entail,
    without the |component|× blow-up per fact.

    The sameAs triples themselves are dropped: every identity link
    joins two nodes of ONE component, so the rewrite would collapse
    each to a self-loop by construction — the identity information
    lives in the merge map instead (recover it with
    ``sameas_mapping``).

    Scale shape: component map is a broadcast dimension
    (``connected_components`` hybrid); the rewrite is
    ``apply_canonical_map``'s two broadcast left joins (+ one more for
    predicates, pred-position rewrites being rare but required by
    eq-rep-p); one full-width exchange only for the final set-semantics
    dedup (merging collapses rows), skippable with ``dedup=False``."""
    from sifr_project_java_ontology_processing_spark.operators.canonicalize import (
        apply_canonical_map,
    )

    t = triples.select(*_TRIPLE_COLS)
    mapping = sameas_mapping(t)
    base = t.where(F.col("pred") != OWL_SAMEAS)
    # drop_self_loops=False: a non-sameAs fact BETWEEN two merged
    # entities ((a, knows, b) with a sameAs b) collapses to
    # (a, knows, a) — that self-loop IS the eq-rep entailment and must
    # survive (unlike kg_pipeline's merge loops, which are noise)
    out = apply_canonical_map(
        base, mapping, dedup=False, drop_self_loops=False
    )
    if rewrite_predicates:
        m = F.broadcast(
            mapping.select(
                F.col("iri").alias("pred"), F.col("canonical_iri").alias("_cp")
            )
        )
        out = out.join(m, "pred", "left").select(
            "subj",
            F.coalesce("_cp", "pred").alias("pred"),
            "obj",
            "obj_lang",
            "obj_is_literal",
        )
    return out.distinct() if dedup else out


OWL_ONPROPERTY = "http://www.w3.org/2002/07/owl#onProperty"
OWL_HASVALUE = "http://www.w3.org/2002/07/owl#hasValue"
OWL_SOMEVALUES = "http://www.w3.org/2002/07/owl#someValuesFrom"
OWL_ALLVALUES = "http://www.w3.org/2002/07/owl#allValuesFrom"
OWL_THING = "http://www.w3.org/2002/07/owl#Thing"


def restrictions_entail(
    triples: DataFrame, *, max_rounds: int = 10
) -> DataFrame:
    """OWL RL restriction-class rules to fixpoint — the class-
    expression tier above RDFS-Plus (Jena's OWL Micro/Mini reasoners
    cover these; reference parity: a Jena user loading SIFR ontologies
    with restriction axioms gets this from OntModelSpec for free):

    * cls-hv1: ``(C hasValue v) (C onProperty P) (x type C) ⇒ x P v``
    * cls-hv2: ``(C hasValue v) (C onProperty P) (x P v) ⇒ x type C``
      (full RDF term identity on v — lexical + lang + literal flag)
    * cls-svf1: ``(C someValuesFrom D) (C onProperty P) (x P y)
      (y type D) ⇒ x type C``
    * cls-svf2: D = owl:Thing — ``(x P y) ⇒ x type C``
    * cls-avf:  ``(C allValuesFrom D) (C onProperty P) (x type C)
      (x P y) ⇒ y type D`` (y non-literal; typing a literal is not
      valid RDF)

    Returns input ∪ entailed (idempotent). Rules chain (an avf-derived
    type can satisfy an svf filler), so they run to fixpoint in the
    shared semi-naive loop (``_seminaive``, a per-round null-safe
    novelty anti-join); restriction chains are shallow in practice —
    ``max_rounds`` raises if not.

    Scale shape: restriction axioms are SCHEMA — the three
    (class, prop, …) dimensions are broadcast once, eagerly
    materialized (each is reused every round). hv1/hv2/svf2 are pure
    broadcast joins against the fact stream (map-side, no exchange).
    svf1 and avf genuinely correlate TWO instance facts (x P y with
    y's/x's typing), which no broadcast can avoid — each is ONE
    equi-join per round, with the type side pre-pruned by a broadcast
    semi-join against the relevant filler/restriction classes so the
    exchange carries only candidate rows (types of restriction-
    relevant classes), never the whole type table."""
    t = triples.select(*_TRIPLE_COLS)

    onprop = (
        t.where((F.col("pred") == OWL_ONPROPERTY) & ~F.col("obj_is_literal"))
        .select(F.col("subj").alias("_c"), F.col("obj").alias("_p"))
        .distinct()
    )
    hv_dim = (
        t.where(F.col("pred") == OWL_HASVALUE)
        .select(
            F.col("subj").alias("_c"),
            F.col("obj").alias("_v"),
            F.col("obj_lang").alias("_vl"),
            F.col("obj_is_literal").alias("_vlit"),
        )
        .distinct()
        .join(onprop, "_c")
        .localCheckpoint(eager=True)
    )
    svf_dim = (
        t.where((F.col("pred") == OWL_SOMEVALUES) & ~F.col("obj_is_literal"))
        .select(F.col("subj").alias("_c"), F.col("obj").alias("_d"))
        .distinct()
        .join(onprop, "_c")
        .localCheckpoint(eager=True)
    )
    avf_dim = (
        t.where((F.col("pred") == OWL_ALLVALUES) & ~F.col("obj_is_literal"))
        .select(F.col("subj").alias("_c"), F.col("obj").alias("_d"))
        .distinct()
        .join(onprop, "_c")
        .localCheckpoint(eager=True)
    )
    # single emptiness probe per dimension (reused below — the previous
    # shape probed each checkpointed dim twice, 6 jobs where 3 suffice)
    have_hv = not hv_dim.isEmpty()
    have_svf = not svf_dim.isEmpty()
    have_avf = not avf_dim.isEmpty()
    if not (have_hv or have_svf or have_avf):
        return t

    # loop-invariant hoists: the axiom dimensions never change, so
    # the owl:Thing slice and its probe run ONCE
    thing = svf_dim.where(F.col("_d") == OWL_THING)
    have_thing = have_svf and not thing.isEmpty()
    svf_fillers = F.broadcast(
        svf_dim.where(F.col("_d") != OWL_THING).select("_d").distinct()
    )
    avf_classes = F.broadcast(avf_dim.select("_c").distinct())

    def _derive(delta: DataFrame, allf: DataFrame) -> list[DataFrame]:
        """One semi-naive round: the LINEAR rules (hv1/hv2/svf2) read
        only the delta; the two-fact rules (svf1/avf) correlate
        delta-vs-all in BOTH orientations (first round: all-vs-all
        once — delta IS all, two orientations would double-derive)."""
        first = delta is allf
        d_types = _types_of(delta)
        derived: list[DataFrame] = []
        if have_hv:
            derived.append(
                d_types.join(
                    F.broadcast(hv_dim), d_types["obj"] == hv_dim["_c"]
                ).select(
                    "subj",
                    F.col("_p").alias("pred"),
                    F.col("_v").alias("obj"),
                    F.col("_vl").alias("obj_lang"),
                    F.col("_vlit").alias("obj_is_literal"),
                )
            )
            # full RDF term identity on the value — null-safe lang
            # equality (NULL and '' are DIFFERENT tags, as in _novel)
            hv2 = delta.join(
                F.broadcast(hv_dim),
                (delta["pred"] == hv_dim["_p"])
                & (delta["obj"] == hv_dim["_v"])
                & delta["obj_lang"].eqNullSafe(hv_dim["_vl"])
                & (delta["obj_is_literal"] == hv_dim["_vlit"]),
            )
            derived.append(hv2.select(*_as_type_triple(delta["subj"], "_c")))
        if have_thing:
            sv2 = delta.join(
                F.broadcast(thing), delta["pred"] == thing["_p"]
            )
            derived.append(sv2.select(*_as_type_triple(delta["subj"], "_c")))

        def _svf1(facts_side: DataFrame, types_side: DataFrame) -> DataFrame:
            typed_d = _types_of(types_side).join(
                svf_fillers, F.col("obj") == F.col("_d"), "left_semi"
            ).select(F.col("subj").alias("_y"), F.col("obj").alias("_yd"))
            sv1 = (
                facts_side.where(~F.col("obj_is_literal"))
                .join(typed_d, facts_side["obj"] == typed_d["_y"])
                .join(
                    F.broadcast(svf_dim),
                    (facts_side["pred"] == svf_dim["_p"])
                    & (F.col("_yd") == svf_dim["_d"]),
                )
            )
            return sv1.select(*_as_type_triple(facts_side["subj"], "_c"))

        def _avf(types_side: DataFrame, facts_side: DataFrame) -> DataFrame:
            typed_c = _types_of(types_side).join(
                avf_classes, F.col("obj") == F.col("_c"), "left_semi"
            ).select(F.col("subj").alias("_x"), F.col("obj").alias("_xc"))
            av = (
                facts_side.where(~F.col("obj_is_literal"))
                .join(typed_c, facts_side["subj"] == typed_c["_x"])
                .join(
                    F.broadcast(avf_dim),
                    (facts_side["pred"] == avf_dim["_p"])
                    & (F.col("_xc") == avf_dim["_c"]),
                )
            )
            return av.select(*_as_type_triple(facts_side["obj"], "_d"))

        if have_svf:
            derived.append(_svf1(delta, allf))
            if not first:
                derived.append(_svf1(allf, delta))
        if have_avf:
            derived.append(_avf(allf, delta))
            if not first:
                derived.append(_avf(delta, allf))
        return derived

    return _seminaive(t, _derive, max_rounds, "restrictions_entail")


# ---------------------------------------------------------------------------
# OWL RL boolean class expressions: intersectionOf / unionOf / oneOf
# ---------------------------------------------------------------------------

OWL_INTERSECTION = "http://www.w3.org/2002/07/owl#intersectionOf"
OWL_UNION = "http://www.w3.org/2002/07/owl#unionOf"
OWL_ONEOF = "http://www.w3.org/2002/07/owl#oneOf"

#: driver-extracted class-expression axioms:
#: (intersections, unions, oneofs) — each [(class IRI, members)]
ClassAxioms = tuple[
    "list[tuple[str, list[str]]]",
    "list[tuple[str, list[str]]]",
    "list[tuple[str, list[ListMember]]]",
]


def extract_class_expressions(triples: DataFrame) -> ClassAxioms:
    """Collect ``owl:intersectionOf`` / ``owl:unionOf`` / ``owl:oneOf``
    axioms via the driver-side RDF-list walk (``_collect_rdf_lists`` —
    capped, fork/cycle/malformation-checked). Intersection and union
    members must be class IRIs (a literal member raises); an EMPTY
    intersection list raises too — a vacuous conjunction would type
    every resource. ``oneOf`` members keep full literal term identity
    (enumerated datatype classes are legal OWL)."""

    def _iri_members(
        axioms: list[tuple[str, list[ListMember]]], label: str
    ) -> list[tuple[str, list[str]]]:
        out = []
        for subj, members in axioms:
            elems: list[str] = []
            for obj, _lang, is_lit in members:
                if is_lit:
                    raise ValueError(
                        f"malformed {label} for {subj!r}: "
                        f"literal list member {obj!r}"
                    )
                elems.append(obj)
            if label == "intersectionOf" and not elems:
                raise ValueError(
                    f"malformed intersectionOf for {subj!r}: empty list "
                    "(a vacuous conjunction would type every resource)"
                )
            out.append((subj, elems))
        return out

    inter = _iri_members(
        _collect_rdf_lists(triples, OWL_INTERSECTION, "intersectionOf"),
        "intersectionOf",
    )
    uni = _iri_members(
        _collect_rdf_lists(triples, OWL_UNION, "unionOf"), "unionOf"
    )
    oneof = _collect_rdf_lists(triples, OWL_ONEOF, "oneOf")
    return inter, uni, oneof


def class_expressions_entail(
    triples: DataFrame,
    axioms: "ClassAxioms | None" = None,
    *,
    max_rounds: int = 10,
) -> DataFrame:
    """OWL RL boolean class-expression rules to fixpoint — the tier
    Jena's OWL reasoners add for ``owl:intersectionOf`` / ``unionOf`` /
    ``oneOf`` (reference parity: SIFR ontologies loaded through Jena
    OntModelSpec get these from the reference's model layer for free;
    see reference OntologyLoader.java model construction):

    * scm-int: ``C intersectionOf (c1..ck) ⇒ C rdfs:subClassOf ci``
    * scm-uni: ``C unionOf (c1..ck) ⇒ ci rdfs:subClassOf C``
    * cls-oo:  ``C oneOf (v1..vk) ⇒ vi rdf:type C`` (IRI members;
      typing a literal is not valid RDF, so literal members only
      define the enumeration and emit no typing — cls-avf stance)
    * cls-int1: ``C intersectionOf (c1..ck), x type c1..ck (ALL)
      ⇒ x type C``
    * cls-int2: ``C intersectionOf (c1..ck), x type C ⇒ x type ci``
    * cls-uni:  ``C unionOf (c1..ck), x type ci (ANY) ⇒ x type C``

    Rules chain (a oneOf/union-derived typing can complete an
    intersection), so they run to fixpoint in the shared semi-naive
    loop (``_seminaive``, a per-round null-safe novelty anti-join),
    whose starting facts already hold the static rows. Returns
    input ∪ entailed (idempotent).

    Scale shape: the axioms are SCHEMA — member lists walk driver-side
    (capped) and become broadcast literal dimensions; scm-int/scm-uni/
    cls-oo derive once from the dimensions alone. cls-int2 and cls-uni
    are broadcast joins against the type slice of the DELTA (map-side,
    no exchange). cls-int1 — the only conjunctive rule — prunes the
    accumulated type slice to member-class typings with a broadcast
    semi-join FIRST, so its one equi-join per round exchanges only
    restriction-relevant rows, and the ALL-k check is a partial-agg
    ``count == k`` (map-side combinable), never a per-entity window."""
    t = triples.select(*_TRIPLE_COLS)
    if axioms is None:
        axioms = extract_class_expressions(t)
    inter, uni, oneof = axioms
    if not inter and not uni and not oneof:
        return t
    spark = t.sparkSession

    def _typing(subj: str, cls: str) -> tuple:
        return (subj, RDF_TYPE, cls, None, False)

    static_rows: list[tuple] = []
    for c, members in inter:
        for m in members:
            static_rows.append((c, RDFS_SUBCLASSOF, m, None, False))
    for c, members in uni:
        for m in members:
            static_rows.append((m, RDFS_SUBCLASSOF, c, None, False))
    for c, members in oneof:
        for obj, _lang, is_lit in members:
            if not is_lit:
                static_rows.append(_typing(obj, c))

    # intersections key on the AXIOM instance (_i), not the class IRI:
    # a class may carry several equivalent intersection lists, and
    # pooling their members would conflate the conjunctions. Member
    # sets dedupe per axiom — a duplicated list member must not
    # inflate the required conjunct count.
    int_members = [
        (i, c, m) for i, (c, ms) in enumerate(inter) for m in sorted(set(ms))
    ]
    int_counts = [(i, c, len(set(ms))) for i, (c, ms) in enumerate(inter)]
    uni_members = [(c, m) for c, ms in uni for m in ms]
    mem_sch = "_c string, _m string"
    int_dim = (
        F.broadcast(
            local_frame(spark, int_members, "_i long, _c string, _m string")
        )
        if int_members
        else None
    )
    cnt_dim = (
        F.broadcast(
            local_frame(spark, int_counts, "_i long, _c string, _k long")
        )
        if int_counts
        else None
    )
    uni_dim = (
        F.broadcast(local_frame(spark, uni_members, mem_sch).distinct())
        if uni_members
        else None
    )
    member_classes = (
        F.broadcast(
            local_frame(
                spark, [(m,) for _i, _c, m in int_members], "_m string"
            ).distinct()
        )
        if int_members
        else None
    )

    def _derive(delta: DataFrame, allf: DataFrame) -> list[DataFrame]:
        d_types = _types_of(delta)
        derived: list[DataFrame] = []
        if int_dim is not None:
            # cls-int2 (linear): delta typing of the intersection class
            i2 = d_types.join(int_dim, d_types["obj"] == int_dim["_c"])
            derived.append(i2.select(*_as_type_triple("subj", "_m")))
            # cls-int1 (conjunctive): only (x, axiom) pairs TOUCHED by
            # the delta can newly satisfy the conjunction
            cand = (
                d_types.join(int_dim, d_types["obj"] == int_dim["_m"])
                .select("subj", "_i")
                .distinct()
            )
            req = cand.join(int_dim, "_i")  # (subj, _i, _c, _m) required
            typed = (
                _types_of(allf)
                .join(
                    member_classes,
                    F.col("obj") == member_classes["_m"],
                    "left_semi",
                )
                .select(F.col("subj").alias("_ts"), F.col("obj").alias("_tc"))
            )
            sat = (
                req.join(
                    typed,
                    (req["subj"] == typed["_ts"]) & (req["_m"] == typed["_tc"]),
                    "left_semi",
                )
                .groupBy("subj", "_i", "_c")
                .agg(F.count("*").alias("_n"))
                .join(cnt_dim.select("_i", "_k"), "_i")
                .where(F.col("_n") == F.col("_k"))
            )
            derived.append(sat.select(*_as_type_triple("subj", "_c")))
        if uni_dim is not None:
            # cls-uni (linear): delta typing of any union member
            u = d_types.join(uni_dim, d_types["obj"] == uni_dim["_m"])
            derived.append(u.select(*_as_type_triple("subj", "_c")))
        return derived

    facts = t
    if static_rows:
        # the schema-only rules derive once, before the loop; their new
        # rows are part of the first round's delta
        static = local_frame(spark, sorted(set(static_rows)), _TRIPLE_DDL)
        facts = _append_new(t, static)
    return _seminaive(facts, _derive, max_rounds, "class_expressions_entail")


OWL_DISJOINTWITH = "http://www.w3.org/2002/07/owl#disjointWith"
OWL_PROPDISJOINTWITH = "http://www.w3.org/2002/07/owl#propertyDisjointWith"
OWL_IRREFLEXIVE = "http://www.w3.org/2002/07/owl#IrreflexiveProperty"
OWL_ASYMMETRIC = "http://www.w3.org/2002/07/owl#AsymmetricProperty"
OWL_DIFFERENTFROM = "http://www.w3.org/2002/07/owl#differentFrom"
OWL_NOTHING = "http://www.w3.org/2002/07/owl#Nothing"
OWL_NPA = "http://www.w3.org/2002/07/owl#NegativePropertyAssertion"
OWL_NPA_SOURCE = "http://www.w3.org/2002/07/owl#sourceIndividual"
OWL_NPA_PROP = "http://www.w3.org/2002/07/owl#assertionProperty"
OWL_NPA_TARGET = "http://www.w3.org/2002/07/owl#targetIndividual"
OWL_NPA_VALUE = "http://www.w3.org/2002/07/owl#targetValue"


def consistency_violations(triples: DataFrame) -> DataFrame:
    """OWL RL consistency audit: the profile's "false"-conclusion rules
    materialized as a violations frame instead of an exception — one
    row per inconsistency, ``(rule, subj, pred, obj)``.  The reference
    never validates its merged SKOS/UMLS graph (OntologyMerger.java
    unions models unchecked); at web scale a KG build wants the
    violation SET, not a boolean, so every rule lands as rows:

    * cax-dw      — ``(C1 disjointWith C2) (x type C1) (x type C2)``;
                    row ``(x, least(C1,C2), greatest(C1,C2))``
    * prp-irp     — ``(P type IrreflexiveProperty) (x P x)``;
                    row ``(x, P, x)``
    * prp-asyp    — ``(P type AsymmetricProperty) (x P y) (y P x)``;
                    row ``(least(x,y), P, greatest(x,y))`` (pair once)
    * prp-pdw     — ``(P1 propertyDisjointWith P2) (x P1 y) (x P2 y)``;
                    row ``(x, least(P1,P2)|greatest(P1,P2), y)``
    * eq-diff1    — ``(x sameAs y) (x differentFrom y)``;
                    row ``(least(x,y), owl:sameAs, greatest(x,y))``
    * cls-nothing2— ``(x type owl:Nothing)``; row ``(x, rdf:type,
                    owl:Nothing)``
    * prp-npa1/2  — a reified NegativePropertyAssertion whose asserted
                    triple nevertheless holds; row = the asserted triple

    Scale shape (the WebPIE stance shared by the rest of this module):
    every schema dimension (disjoint class pairs, declared irreflexive/
    asymmetric props, disjoint property pairs, assembled NPAs) is tiny
    and broadcast; the instance stream is scanned per rule family with
    a predicate pushdown filter and never shuffled except (a) the
    type-slice self-equi-join on ``subj`` for cax-dw — both sides are
    the SAME semi-join-pruned slice of typing triples whose classes
    appear in some disjoint pair, so the exchange is dimension-bounded,
    not fact-bounded — and (b) the pred-filtered slice ⋈ its own
    mirror for prp-asyp, again pruned to declared-asymmetric predicates
    first.  eq-diff1 is a broadcast join when either side fits
    (sameAs/differentFrom assertions are canonicalization inputs, not
    the fact stream).  Symmetric axiom declarations are normalized with
    least/greatest so mirror declarations don't double-report."""
    t = triples.select(*_TRIPLE_COLS)

    def _pairs(pred_iri: str) -> DataFrame:
        # symmetric axiom: normalize so (a,b) and (b,a) declare once
        return (
            t.where((F.col("pred") == pred_iri) & ~F.col("obj_is_literal"))
            .select(
                F.least("subj", "obj").alias("_a"),
                F.greatest("subj", "obj").alias("_b"),
            )
            .distinct()
        )

    out_cols = [
        F.col("rule"), F.col("subj"), F.col("pred"), F.col("obj"),
    ]

    # cax-dw — prune the typing slice to classes in SOME disjoint pair
    # (semi-join against the broadcast dim) before the subj self-join.
    dw = _pairs(OWL_DISJOINTWITH)
    dw_classes = (
        dw.select(F.col("_a").alias("_c"))
        .unionByName(dw.select(F.col("_b").alias("_c")))
        .distinct()
    )
    types = (
        t.where(F.col("pred") == RDF_TYPE)
        .join(F.broadcast(dw_classes), F.col("obj") == F.col("_c"))
        .select(F.col("subj").alias("_x"), F.col("obj").alias("_cls"))
        .distinct()
    )
    t2 = types.select(F.col("_x").alias("_x2"), F.col("_cls").alias("_cls2"))
    cax_dw = (
        types.join(t2, (types["_x"] == t2["_x2"]) & (types["_cls"] < t2["_cls2"]))
        .join(
            F.broadcast(dw),
            (F.col("_cls") == F.col("_a")) & (F.col("_cls2") == F.col("_b")),
            "left_semi",
        )
        .select(
            F.lit("cax-dw").alias("rule"),
            F.col("_x").alias("subj"),
            F.col("_cls").alias("pred"),
            F.col("_cls2").alias("obj"),
        )
    )

    # prp-irp — map-side: broadcast declared props, filter subj == obj
    irp = (
        t.where((F.col("subj") == F.col("obj")) & ~F.col("obj_is_literal"))
        .join(F.broadcast(_declared_props(t, OWL_IRREFLEXIVE)), F.col("pred") == F.col("_p"), "left_semi")
        .select(
            F.lit("prp-irp").alias("rule"), "subj", "pred", "obj",
        )
        .distinct()
    )

    # prp-asyp — pred-pruned slice ⋈ its mirror; emit each pair once
    asy_slice = (
        t.where(~F.col("obj_is_literal"))
        .join(F.broadcast(_declared_props(t, OWL_ASYMMETRIC)), F.col("pred") == F.col("_p"), "left_semi")
        .select("subj", "pred", "obj")
        .distinct()
    )
    mirror = asy_slice.select(
        F.col("obj").alias("subj"), F.col("pred").alias("pred"),
        F.col("subj").alias("obj"),
    )
    asyp = (
        asy_slice.intersect(mirror)
        .where(F.col("subj") <= F.col("obj"))  # pair once; x==y also irp-shaped but asserted both ways
        .select(
            F.lit("prp-asyp").alias("rule"),
            F.least("subj", "obj").alias("subj"),
            "pred",
            F.greatest("subj", "obj").alias("obj"),
        )
    )

    # prp-pdw — disjoint property pairs: (x P1 y) ∧ (x P2 y). Prune the
    # fact stream to predicates in SOME pair, then self-join on (x, y)
    # — exchange bounded by the pruned slice.
    pdw = _pairs(OWL_PROPDISJOINTWITH)
    pdw_props = (
        pdw.select(F.col("_a").alias("_c"))
        .unionByName(pdw.select(F.col("_b").alias("_c")))
        .distinct()
    )
    val = F.concat_ws(
        "\x1f", F.col("obj"), F.coalesce(F.col("obj_lang"), F.lit("")),
        F.col("obj_is_literal").cast("string"),
    )
    pslice = (
        t.join(F.broadcast(pdw_props), F.col("pred") == F.col("_c"), "left_semi")
        .select(F.col("subj").alias("_x"), F.col("pred").alias("_q"), val.alias("_v"), F.col("obj").alias("_o"))
        .distinct()
    )
    p2 = pslice.select(
        F.col("_x").alias("_x2"), F.col("_q").alias("_q2"), F.col("_v").alias("_v2")
    )
    prp_pdw = (
        pslice.join(
            p2,
            (pslice["_x"] == p2["_x2"]) & (pslice["_v"] == p2["_v2"])
            & (pslice["_q"] < p2["_q2"]),
        )
        .join(
            F.broadcast(pdw),
            (F.col("_q") == F.col("_a")) & (F.col("_q2") == F.col("_b")),
            "left_semi",
        )
        .select(
            F.lit("prp-pdw").alias("rule"),
            F.col("_x").alias("subj"),
            F.concat_ws("|", F.col("_q"), F.col("_q2")).alias("pred"),
            F.col("_o").alias("obj"),
        )
    )

    # eq-diff1 — sameAs ∩ differentFrom, order-normalized on both sides
    same = (
        t.where(F.col("pred") == OWL_SAMEAS)
        .select(F.least("subj", "obj").alias("subj"), F.greatest("subj", "obj").alias("obj"))
        .distinct()
    )
    diff = (
        t.where(F.col("pred") == OWL_DIFFERENTFROM)
        .select(F.least("subj", "obj").alias("subj"), F.greatest("subj", "obj").alias("obj"))
        .distinct()
    )
    eq_diff = same.intersect(diff).select(
        F.lit("eq-diff1").alias("rule"), "subj",
        F.lit(OWL_SAMEAS).alias("pred"), "obj",
    )

    # cls-nothing2 — membership in the empty class
    nothing = (
        t.where((F.col("pred") == RDF_TYPE) & (F.col("obj") == OWL_NOTHING))
        .select(
            F.lit("cls-nothing2").alias("rule"), "subj",
            F.lit(RDF_TYPE).alias("pred"), "obj",
        )
        .distinct()
    )

    # prp-npa1/2 — assemble the reified NPA dimension (schema-sized:
    # one groupBy over the 4 reification predicates), broadcast it,
    # probe the fact stream for the asserted triple.
    npa_preds = [OWL_NPA_SOURCE, OWL_NPA_PROP, OWL_NPA_TARGET, OWL_NPA_VALUE]
    npa = (
        t.where(F.col("pred").isin(npa_preds))
        .groupBy("subj")
        .agg(
            F.min(F.when(F.col("pred") == OWL_NPA_SOURCE, F.col("obj"))).alias("_src"),
            F.min(F.when(F.col("pred") == OWL_NPA_PROP, F.col("obj"))).alias("_prop"),
            F.min(F.when(F.col("pred") == OWL_NPA_TARGET, F.col("obj"))).alias("_tgt"),
            F.min(
                F.when(
                    F.col("pred") == OWL_NPA_VALUE,
                    F.concat_ws(
                        "\x1f", F.col("obj"),
                        F.coalesce(F.col("obj_lang"), F.lit("")), F.lit("true"),
                    ),
                )
            ).alias("_tval"),
        )
        .where(F.col("_src").isNotNull() & F.col("_prop").isNotNull())
    )
    npa1 = npa.where(F.col("_tgt").isNotNull()).select("_src", "_prop", F.col("_tgt").alias("_want"))
    npa2 = npa.where(F.col("_tval").isNotNull()).select("_src", "_prop", F.col("_tval").alias("_want"))
    fact_keyed = t.select(
        "subj", "pred", "obj",
        F.when(F.col("obj_is_literal"), val).otherwise(F.col("obj")).alias("_k"),
    )
    def _npa_hits(dim: DataFrame, rule: str) -> DataFrame:
        return (
            fact_keyed.join(
                F.broadcast(dim),
                (F.col("subj") == F.col("_src"))
                & (F.col("pred") == F.col("_prop"))
                & (F.col("_k") == F.col("_want")),
                "left_semi",
            )
            .select(F.lit(rule).alias("rule"), "subj", "pred", "obj")
            .distinct()
        )

    return (
        cax_dw.select(*out_cols)
        .unionByName(irp.select(*out_cols))
        .unionByName(asyp.select(*out_cols))
        .unionByName(prp_pdw.select(*out_cols))
        .unionByName(eq_diff.select(*out_cols))
        .unionByName(nothing.select(*out_cols))
        .unionByName(_npa_hits(npa1, "prp-npa1").select(*out_cols))
        .unionByName(_npa_hits(npa2, "prp-npa2").select(*out_cols))
    )
