"""Independent expected outputs for the benchmark's correctness check.

* Built graph: the pure-Python pipeline oracle of ``tests/oracle.py``
  (leftmost-longest mention scan, imperative CUI/TUI cascade,
  union-find canonicalization) composed the same way as the
  ``golden_triples`` of ``tests/test_pipeline.py``.
* Entailment: a worklist RDFS-Plus closure (rdfs2/3/5/7/9/11,
  inverseOf, SymmetricProperty, TransitiveProperty, scm-eqc2/eqp2).

Triples are 6-tuples ``(subj, pred, obj, obj_lang, obj_is_literal,
src_url)`` for the graph and 5-tuples (no ``src_url``) for entailment.
"""

from __future__ import annotations

import bisect
from collections import defaultdict
from types import SimpleNamespace

from sifr_project_java_ontology_processing_spark.functions.uris import (
    RDF_TYPE,
    RDFS_SUBCLASSOF,
    SIFR_MENTION,
    SKOS_CHANGE_NOTE,
    SKOS_CONCEPT,
    SKOS_NOTATION,
    STY_BASE,
    UMLS_CUI,
    UMLS_HAS_STY,
    UMLS_TUI,
    expand,
)
from sifr_project_java_ontology_processing_spark.plans.kg_pipeline import (
    CUI_ADDED_NOTE,
    EQUIVALENCE_PROPERTIES,
)
from tests.oracle import _norm, cascade_oracle, mentions_oracle, union_find_oracle

RDFS_SUBPROPERTYOF = expand("rdfs:subPropertyOf")
RDFS_DOMAIN = expand("rdfs:domain")
RDFS_RANGE = expand("rdfs:range")
OWL_INVERSE = expand("owl:inverseOf")
OWL_SYMMETRIC = expand("owl:SymmetricProperty")
OWL_TRANSITIVE = expand("owl:TransitiveProperty")
OWL_EQCLASS = expand("owl:equivalentClass")
OWL_EQPROP = expand("owl:equivalentProperty")
_SEP = "zzpagebreakzz"  # a token no label contains: no match spans pages


def page_mentions(pages: list, labels: list) -> list[tuple[str, str]]:
    """(url, concept) for every oracle mention. ``mentions_oracle``
    rebuilds its phrase table per call, so the pages are scanned as one
    text joined by a separator token and mentions are mapped back to
    pages by token offset (one phrase-table build, same scan)."""
    starts, offset = [], 0
    for row in pages:
        starts.append(offset)
        offset += sum(1 for x in row[3].split() if _norm(x)) + 1
    text = f" {_SEP} ".join(row[3] for row in pages)
    out = []
    for i, concept, _n in mentions_oracle(text, labels):
        out.append((pages[bisect.bisect_right(starts, i) - 1][0], concept))
    return out


def graph_triples(cx, pages: list) -> set[tuple]:
    """Expected triples table of ``run_kg_pipeline`` over ``pages`` as
    ``cli kg`` calls it by default (no ``-dc``, no own/target CUI
    tables)."""
    uf = union_find_oracle(
        [(s, t) for (s, p, t) in cx.mappings if p in EQUIVALENCE_PROPERTIES]
    )

    def canon(x):
        return uf.get(x, x)

    out: set[tuple] = set()
    concepts = sorted({c for (c, _l, _k, _g) in cx.ontology_labels})
    for c in concepts:
        out.add((canon(c), RDF_TYPE, SKOS_CONCEPT, None, False, None))
    for url, concept in page_mentions(pages, cx.ontology_labels):
        out.add((url, SIFR_MENTION, canon(concept), None, False, url))
    hier = {expand("skos:broadMatch"), expand("skos:broader")}
    for s, p, t in cx.mappings:
        if p in hier and canon(s) != canon(t):
            out.add((canon(s), RDFS_SUBCLASSOF, canon(t), None, False, None))
    has_notation = {c for (c, _l, k, _g) in cx.ontology_labels if k == "notation"}
    fx = SimpleNamespace(
        ontology_labels=cx.ontology_labels,
        mappings=cx.mappings,
        umls_concepts=cx.umls_concepts,
        umls_semtypes=cx.umls_semtypes,
        concept_cuis={},
        concept_tuis={},
        target_cuis={},
    )
    for c, (code, cuis, stage, tuis, _tstage) in cascade_oracle(fx).items():
        k = canon(c)
        for cui in cuis:
            out.add((k, UMLS_CUI, cui, None, True, None))
        for tui in tuis:
            out.add((k, UMLS_TUI, tui, None, True, None))
            out.add((k, UMLS_HAS_STY, f"{STY_BASE}{tui}/", None, False, None))
        if code is not None and c not in has_notation:
            out.add((k, SKOS_NOTATION, code, None, True, None))
        if cuis and stage != "own_cui":
            out.add((k, SKOS_CHANGE_NOTE, CUI_ADDED_NOTE, "fr", True, None))
    return out


def _closure_pairs(edges: set[tuple[str, str]]) -> dict[str, set[str]]:
    """node → every node reachable in ≥1 step (self included only
    through a cycle), over edges without self-loops."""
    adj: dict[str, set[str]] = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
    reach = {}
    for a in adj:
        seen: set[str] = set()
        stack = list(adj[a])
        while stack:
            x = stack.pop()
            if x not in seen:
                seen.add(x)
                stack.extend(adj.get(x, ()))
        reach[a] = seen
    return reach


def rdfs_plus_closure(triples) -> set[tuple]:
    """Saturate 5-tuples under the RDFS-Plus rules. The schema (sub-
    class/-property, domain, range, inverse, symmetric, transitive
    declarations) is closed first; instance rules then run to a fixpoint
    over a worklist. Schema triples derived from instance data are not
    re-read (the workloads assert their whole schema)."""
    base = set(triples)
    sub_c = {(s, o) for s, p, o, _l, lit in base if p == RDFS_SUBCLASSOF and not lit}
    sub_p = {(s, o) for s, p, o, _l, lit in base if p == RDFS_SUBPROPERTYOF and not lit}
    for s, p, o, _l, lit in base:
        if p == OWL_EQCLASS and not lit:
            sub_c |= {(s, o), (o, s)}
        if p == OWL_EQPROP and not lit:
            sub_p |= {(s, o), (o, s)}
    sc, sp = _closure_pairs(sub_c), _closure_pairs(sub_p)
    dom, rng, inv = defaultdict(set), defaultdict(set), defaultdict(set)
    sym, trans = set(), set()
    for s, p, o, _l, lit in base:
        if lit:
            continue
        if p == RDFS_DOMAIN:
            dom[s].add(o)
        elif p == RDFS_RANGE:
            rng[s].add(o)
        elif p == OWL_INVERSE:
            inv[s].add(o)
            inv[o].add(s)
        elif p == RDF_TYPE and o == OWL_SYMMETRIC:
            sym.add(s)
        elif p == RDF_TYPE and o == OWL_TRANSITIVE:
            trans.add(s)

    out: set[tuple] = set()
    fwd: dict[tuple[str, str], set[str]] = defaultdict(set)  # (p, s) → o
    bwd: dict[tuple[str, str], set[str]] = defaultdict(set)  # (p, o) → s
    work = list(base)
    for a, sups in sc.items():
        work += [(a, RDFS_SUBCLASSOF, b, None, False) for b in sups]
    for a, sups in sp.items():
        work += [(a, RDFS_SUBPROPERTYOF, b, None, False) for b in sups]
    for pred, pairs, eq in ((RDFS_SUBCLASSOF, sc, OWL_EQCLASS),
                            (RDFS_SUBPROPERTYOF, sp, OWL_EQPROP)):
        for a, sups in pairs.items():
            work += [(a, eq, b, None, False) for b in sups if b != a and a in pairs.get(b, ())]

    while work:
        t = work.pop()
        if t in out:
            continue
        out.add(t)
        s, p, o, lang, lit = t
        for q in sp.get(p, ()):
            work.append((s, q, o, lang, lit))
        for c in dom.get(p, ()):
            work.append((s, RDF_TYPE, c, None, False))
        if lit:
            continue
        for c in rng.get(p, ()):
            work.append((o, RDF_TYPE, c, None, False))
        if p == RDF_TYPE:
            for d in sc.get(o, ()):
                work.append((s, RDF_TYPE, d, None, False))
        for q in inv.get(p, ()):
            work.append((o, q, s, None, False))
        if p in sym:
            work.append((o, p, s, None, False))
        if p in trans and s != o:
            fwd[(p, s)].add(o)
            bwd[(p, o)].add(s)
            for z in list(fwd.get((p, o), ())):
                if z != s:
                    work.append((s, p, z, None, False))
            for w in list(bwd.get((p, s), ())):
                if w != o:
                    work.append((w, p, o, None, False))
    return out
