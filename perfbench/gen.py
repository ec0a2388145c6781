"""Seeded input generator for the benchmark workloads.

Everything derives from ``(workload shape, seed)``: the same seed gives
byte-identical parquet. The engine only ever sees the parquet files;
the in-memory ``Corpus`` is kept for the oracles.

Unlike ``sources/synthetic.make_fixture`` (whose notation codes repeat
every 130 concepts and whose labels all start with one of 24 words),
every concept here has a distinct IRI and code, the label vocabulary
grows with the concept count, and the two skews are stated parameters:
``hot_host_share`` of the pages come from one host and mention two head
concepts, and ``hot_token_share`` of the alt labels start with one of
``HOT_TOKENS`` (a hot first token for the inverted-index mention join).
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from sifr_project_java_ontology_processing_spark.functions.uris import (
    RDF_TYPE,
    RDFS_SUBCLASSOF,
    SIFR_MENTION,
    expand,
)
from sifr_project_java_ontology_processing_spark.sources.synthetic import (
    _render_html,
    golden_text,
)

ONT = "http://example.org/bench/onto#"
EX = "http://example.org/bench/kg/"
HOT_TOKENS = ("acute", "chronic")
# filler words never appear inside a label (label words are synthetic
# syllable strings), so mention boundaries are unambiguous
FILLER = (
    "report", "notes", "the", "patient", "with", "shows", "mild", "noted",
    "during", "left", "right", "exam", "finding", "stable", "review",
    "history", "plan", "follow", "visit", "result",
)
EXACT = expand("skos:exactMatch")
SAME_AS = expand("owl:sameAs")
BROADER = expand("skos:broader")
CLOSE = expand("skos:closeMatch")

# reasoning vocabulary added on top of the built graph
PART_OF = f"{EX}partOf"
HAS_PART = f"{EX}hasPart"
RELATED = f"{EX}relatedTo"
LINKS = f"{EX}linksTo"
PAGE = f"{EX}Page"
DOCUMENT = f"{EX}Document"
PART = f"{EX}Part"
WHOLE = f"{EX}Whole"
TOPIC = f"{EX}Topic"
CATEGORY = f"{EX}cat/"
OWL_TRANSITIVE = expand("owl:TransitiveProperty")
OWL_SYMMETRIC = expand("owl:SymmetricProperty")
OWL_INVERSE = expand("owl:inverseOf")
RDFS_DOMAIN = expand("rdfs:domain")
RDFS_RANGE = expand("rdfs:range")


@dataclass(frozen=True)
class Shape:
    """Input shape of one workload (every size is a stated parameter)."""

    n_pages: int
    n_new_pages: int  # pages added for the incremental run
    n_concepts: int
    hot_host_share: float
    hot_token_share: float
    n_eq_chains: int  # 3-node exactMatch chains
    n_eq_cycles: int  # 3-node sameAs/exactMatch cycles
    broader_share: float  # concepts with a skos:broader parent
    category_depth: int  # class-hierarchy levels above the concepts


@dataclass
class Corpus:
    pages: list = field(default_factory=list)  # PAGES rows (all, grown)
    n_base: int = 0  # pages[:n_base] is the cold-build corpus
    ontology_labels: list = field(default_factory=list)
    mappings: list = field(default_factory=list)
    umls_concepts: list = field(default_factory=list)
    umls_semtypes: list = field(default_factory=list)
    facts: list = field(default_factory=list)  # schema + instance triples
    delta: list = field(default_factory=list)  # instance-only batch


_CONS = "bdfgklmnprstvz"
_VOWELS = "aeiou"


def _word(i: int) -> str:
    """Distinct pronounceable word per index (3+ syllables never collide
    with FILLER or HOT_TOKENS)."""
    out = []
    i += 70 * 70  # start at three syllables
    while True:
        out.append(_CONS[i % 14] + _VOWELS[(i // 14) % 5])
        i //= 70
        if i == 0:
            return "".join(out)


def _triple(s, p, o, lang=None, lit=False):
    return (s, p, o, lang, lit)


def generate(shape: Shape, seed: int) -> Corpus:
    rng = random.Random(seed)
    cx = Corpus()
    n_words = max(80, int(shape.n_concepts * 0.8))
    vocab = [_word(i) for i in range(n_words)]
    used: set[tuple[str, ...]] = set()

    def phrase(n_tok: int, head: str | None = None) -> str:
        while True:
            toks = ([head] if head else []) + [
                rng.choice(vocab) for _ in range(n_tok - (1 if head else 0))
            ]
            key = tuple(toks)
            if key not in used:
                used.add(key)
                return " ".join(toks)

    # ---- concepts + labels ------------------------------------------------
    concepts = [f"{ONT}C{i:06d}" for i in range(shape.n_concepts)]
    surfaces: list[list[str]] = []  # mentionable labels per concept
    codes: dict[str, str] = {}
    for i, iri in enumerate(concepts):
        pref = phrase(rng.choice((1, 2, 2)))
        forms = [pref]
        cx.ontology_labels.append((iri, pref, "pref", "en"))
        if rng.random() < shape.hot_token_share:
            alt = phrase(rng.choice((2, 3)), head=rng.choice(HOT_TOKENS))
        else:
            alt = phrase(2)
        forms.append(alt)
        cx.ontology_labels.append((iri, alt, "alt", "en"))
        cx.ontology_labels.append((iri, phrase(3), "hidden", "en"))
        if i % 10 == 3:  # CUI-shaped alt label: cascade stage 2
            cx.ontology_labels.append((iri, f"C{1000000 + i:07d}", "alt", ""))
        if i % 8 != 5:  # the rest find their code from the URI fragment
            code = f"K{i:06d}"
            cx.ontology_labels.append((iri, code, "notation", ""))
            codes[iri] = code
        else:
            codes[iri] = f"C{i:06d}"
        surfaces.append(forms)

    # ---- mappings: equivalence chains/cycles, hierarchy, noise -------------
    order = list(range(shape.n_concepts))
    rng.shuffle(order)
    pos = 0
    for _ in range(shape.n_eq_chains):
        a, b, c = (concepts[order[pos + k]] for k in range(3))
        pos += 3
        cx.mappings += [(a, EXACT, b), (b, EXACT, c)]
    for _ in range(shape.n_eq_cycles):
        a, b, c = (concepts[order[pos + k]] for k in range(3))
        pos += 3
        cx.mappings += [(a, SAME_AS, b), (b, EXACT, c), (c, SAME_AS, a)]
    for i in range(1, shape.n_concepts):
        if rng.random() < shape.broader_share:
            cx.mappings.append((concepts[i], BROADER, concepts[rng.randrange(i)]))
        if i % 17 == 0:  # external mapping: ignored without target CUIs
            cx.mappings.append((concepts[i], CLOSE, f"{EX}ext/T{i}"))

    # ---- UMLS dims: codes with 0, 1 or >1 CUIs ----------------------------
    next_cui = 4000000
    for i, iri in enumerate(concepts):
        n_cuis = rng.choices((0, 1, 2, 3), weights=(30, 45, 20, 5))[0]
        for k in range(n_cuis):
            cui = f"C{next_cui:07d}"
            next_cui += 1
            if k == 0 or rng.random() < 0.3:
                term = f"{surfaces[i][0]} {rng.choice(vocab)}"
            else:
                term = f"{rng.choice(vocab)} {rng.choice(vocab)}"
            cx.umls_concepts.append((codes[iri], cui, "ENG", term))
            if rng.random() < 0.1:  # (cui, lat) signature merge
                cx.umls_concepts.append((codes[iri], cui, "ENG", rng.choice(vocab)))
            for t in rng.sample(range(1, 130), rng.choice((0, 1, 1, 2))):
                cx.umls_semtypes.append((cui, f"T{t:03d}"))

    # ---- pages ------------------------------------------------------------
    epoch = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    hot_forms = [f for i in (0, 1) for f in surfaces[i]]
    n_all = shape.n_pages + shape.n_new_pages
    page_topic: list[int] = []
    for p in range(n_all):
        hot = rng.random() < shape.hot_host_share
        host = "hot-host0" if hot else f"host{rng.randrange(40)}"
        url = f"https://{host}.example/p/{p}"
        topic = rng.randrange(2) if hot else rng.randrange(shape.n_concepts)
        page_topic.append(topic)
        title = f"Case {p}: {rng.choice(surfaces[topic])}"
        paragraphs = []
        for _ in range(rng.randint(1, 4)):
            words = []
            for _ in range(rng.randint(5, 12)):
                words.append(rng.choice(FILLER))
                if rng.random() < 0.35:
                    if hot and rng.random() < 0.7:
                        words.append(rng.choice(hot_forms))
                    else:
                        words.append(rng.choice(surfaces[rng.randrange(shape.n_concepts)]))
            paragraphs.append(" ".join(words))
        text = golden_text(title, paragraphs)
        html = _render_html(title, paragraphs, host).encode("utf-8")
        ts = epoch + dt.timedelta(seconds=p * 137)
        cx.pages.append((url, ts, html, text, ("en", "en", "fr", "")[p % 4]))
    cx.n_base = shape.n_pages

    # ---- reasoning schema + instance facts ---------------------------------
    f = cx.facts
    f += [
        _triple(PART_OF, RDF_TYPE, OWL_TRANSITIVE),
        _triple(HAS_PART, OWL_INVERSE, PART_OF),
        _triple(RELATED, RDF_TYPE, OWL_SYMMETRIC),
        _triple(PART_OF, RDFS_DOMAIN, PART),
        _triple(PART_OF, RDFS_RANGE, WHOLE),
        _triple(RELATED, RDFS_DOMAIN, PAGE),
        _triple(RELATED, RDFS_RANGE, PAGE),
        _triple(SIFR_MENTION, RDFS_DOMAIN, PAGE),
        _triple(SIFR_MENTION, RDFS_RANGE, TOPIC),
        _triple(PAGE, RDFS_SUBCLASSOF, DOCUMENT),
    ]
    # category tree (binary), concepts hang under its leaves; with the
    # built graph's own broader-derived subClassOf edges the hierarchy
    # over the concepts is category_depth+1 .. category_depth+3 deep
    level = [f"{CATEGORY}0"]
    for d in range(1, shape.category_depth):
        nxt = [f"{CATEGORY}{d}.{j}" for j in range(2 ** d)]
        for j, c in enumerate(nxt):
            f.append(_triple(c, RDFS_SUBCLASSOF, level[j // 2]))
        level = nxt
    for iri in concepts:
        f.append(_triple(iri, RDFS_SUBCLASSOF, rng.choice(level)))
    # pages: typed by their topic, partOf a section tree, a few symmetric
    # relations and non-transitive link chains (for the `+` path query)
    n_sec = max(8, n_all // 25)
    sections = [f"{EX}sec/{k}" for k in range(n_sec)]
    for k in range(1, n_sec):
        f.append(_triple(sections[k], PART_OF, sections[(k - 1) // 3]))
    urls = [row[0] for row in cx.pages]
    for p in range(shape.n_pages):
        f.append(_triple(urls[p], RDF_TYPE, concepts[page_topic[p]]))
        f.append(_triple(urls[p], PART_OF, rng.choice(sections)))
        if rng.random() < 0.1:
            f.append(_triple(urls[p], RELATED, urls[rng.randrange(shape.n_pages)]))
        if p % 6 != 5:
            f.append(_triple(urls[p], LINKS, urls[p + 1]))
    # delta: the new pages' facts plus new section links that splice
    # into the transitive chains (instance triples only, no schema)
    d = cx.delta
    for p in range(shape.n_pages, n_all):
        d.append(_triple(urls[p], RDF_TYPE, concepts[page_topic[p]]))
        d.append(_triple(urls[p], PART_OF, rng.choice(sections)))
        if rng.random() < 0.2:
            d.append(_triple(urls[p], RELATED, urls[rng.randrange(shape.n_pages)]))
    for k in range(n_sec, n_sec + 8):
        d.append(_triple(f"{EX}sec/{k}", PART_OF, rng.choice(sections)))
        d.append(_triple(rng.choice(urls[: shape.n_pages]), PART_OF, f"{EX}sec/{k}"))
    return cx


# ---- parquet -----------------------------------------------------------------

_PAGES = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
_LABELS = pa.schema([
    pa.field("concept_iri", pa.string(), nullable=False),
    pa.field("label", pa.string(), nullable=False),
    pa.field("label_kind", pa.string(), nullable=False),
    pa.field("lang", pa.string()),
])
_MAPPINGS = pa.schema([
    pa.field("source_iri", pa.string(), nullable=False),
    pa.field("property", pa.string(), nullable=False),
    pa.field("target_iri", pa.string(), nullable=False),
])
_UMLS_CONCEPTS = pa.schema([
    pa.field("code", pa.string(), nullable=False),
    pa.field("cui", pa.string(), nullable=False),
    pa.field("lat", pa.string()),
    pa.field("str", pa.string()),
])
_UMLS_SEMTYPES = pa.schema([
    pa.field("cui", pa.string(), nullable=False),
    pa.field("tui", pa.string(), nullable=False),
])
_TRIPLES = pa.schema([
    pa.field("subj", pa.string(), nullable=False),
    pa.field("pred", pa.string(), nullable=False),
    pa.field("obj", pa.string()),
    pa.field("obj_lang", pa.string()),
    pa.field("obj_is_literal", pa.bool_()),
])
_GRAPH = _TRIPLES.append(pa.field("src_url", pa.string()))


def _write(rows: list, schema: pa.Schema, path: str) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table(
        {fld.name: pa.array(list(c), fld.type) for fld, c in zip(schema, cols)},
        schema=schema,
    )
    pq.write_table(table, path)


def write_parquet(cx: Corpus, root: str) -> dict[str, str]:
    """Write every engine input as one parquet file under ``root``;
    returns name → path. ``pages_base`` is the cold-build corpus,
    ``pages`` the grown one."""
    import os

    os.makedirs(root, exist_ok=True)
    plan = {
        "pages_base": (cx.pages[: cx.n_base], _PAGES),
        "pages": (cx.pages, _PAGES),
        "ontology_labels": (cx.ontology_labels, _LABELS),
        "mappings": (cx.mappings, _MAPPINGS),
        "umls_concepts": (cx.umls_concepts, _UMLS_CONCEPTS),
        "umls_semtypes": (cx.umls_semtypes, _UMLS_SEMTYPES),
        "facts": (cx.facts, _TRIPLES),
        "delta": (cx.delta, _TRIPLES),
    }
    paths = {}
    for name, (rows, schema) in plan.items():
        paths[name] = os.path.join(root, f"{name}.parquet")
        _write(rows, schema, paths[name])
    return paths


def write_graph(rows, path: str) -> None:
    """A built graph's triples (6-tuples, the TRIPLES schema) as one
    parquet file, in a fixed row order."""
    _write(sorted(rows, key=repr), _GRAPH, path)
