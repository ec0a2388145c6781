"""SPARQL basic-graph-pattern (BGP) subset executor over the triples
DataFrame.

The reference gets SPARQL for free from Jena (its NcboSparqlOutputToTTL
path consumes SPARQL *result* XML, and every Jena Model supports ARQ
queries; see reference OntologyLoader.java / NcboSparqlOutputToTTL.java
usage of Jena models). A user of the reference can therefore point a
BGP query at any loaded model. This module supplies that capability
Spark-first: a small SPARQL SELECT parser (the BGP + FILTER + ORDER BY
+ LIMIT subset) and a compiler from triple patterns to a join tree over
the canonical triples frame (schemas.TRIPLES: subj, pred, obj,
obj_lang, obj_is_literal).

Execution model — why this scales:

* Each pattern becomes ONE scan of the triples frame with every
  constant position pushed as a filter (``pred`` is almost always
  constant, so on a parquet/Iceberg triples table the predicate
  reaches ``PushedFilters`` and partition pruning applies when the
  table is partitioned by predicate, as graph_sink writes it).
* Patterns are joined on their SHARED VARIABLES. Join order is chosen
  greedily by connectivity: start from the most-selective pattern
  (most constants), then repeatedly attach the pattern sharing the
  most already-bound variables. This structurally avoids cartesian
  products for any connected BGP — Catalyst then picks the physical
  strategy (broadcast for small selective sides under AQE).
* FILTERs become Spark SQL expressions over the variable columns, so
  they stay inside whole-stage codegen and are pushed below joins by
  Catalyst where legal.

Scope (documented subset): SELECT [DISTINCT] ?v ... | * , WHERE with
triple patterns ('a' keyword, prefixed names, <IRIs>, "literals"
with optional @lang, integers, variables), FILTER(expr) with
regex/str/comparisons/&&/||/!, OPTIONAL { group } (full group
semantics: plain pattern+FILTER groups LEFT-join directly; groups
carrying BIND/VALUES/UNION/nested OPTIONAL/... evaluate as
independent SELECT-* sub-plans and LEFT-join on the shared
variables), { group } UNION { group } (at top level AND nested
inside any group, null-filled variable alignment), nested group
graph patterns ``{ ... }`` (bottom-up evaluation, joined on shared
variables like subqueries — NOTE: these joins compare BOUND values;
a shared variable left unbound by a union alternative or inner
OPTIONAL does not match, unlike the spec's unbound-compatible rule,
which IS implemented for EXISTS/MINUS), ORDER BY keys that are ?vars,
ASC/DESC(expr), or bare (expr) over the FILTER expression subset,
and LIMIT n / OFFSET n.

Aggregates: SELECT may mix plain variables with
``(COUNT(?v) AS ?alias)`` / ``(COUNT(*) ...)`` / ``COUNT(DISTINCT
?v)`` / SUM / AVG / MIN / MAX / ``GROUP_CONCAT(?v; SEPARATOR="...")``
(order pinned to sorted lexical — SPARQL leaves it undefined, sorting
makes it deterministic and relationally replayable) / ``SAMPLE(?v)``
(deterministic: the lexical minimum), with GROUP BY ?v... and HAVING(expr
over aliases). SUM/AVG cast the lexical form to double; MIN/MAX
compare the lexical form (the triples frame is untyped strings, so
ordering is lexicographic — same as the relational oracle on
varchar columns). Selected plain variables must appear in GROUP BY
(SPARQL's own rule).

Property paths (predicate position): ``^iri`` inverse, ``a/b/c``
sequences (desugared to fresh internal join variables), ``a|b|c``
alternation of plain IRIs (compiled to one pushdown-eligible IN
scan), and ``iri+`` / ``iri*`` / ``iri?`` (the one-element path
group below: ``+`` runs operators/graph.py::transitive_closure —
iterative frontier BFS with per-level checkpointing, the CC/pagerank
scale shape — over the distinct edges, so each pair comes out once
even when a triple is duplicated; ``*`` adds the zero-length
identity over every term in the graph, per SPARQL). Modifiers
compose per element, so ``^a+/b`` works.
Closure endpoints compare on the lexical form (lang tags do not
discriminate path ends). Negated property sets ``!iri`` /
``!(a|b|c)`` match any predicate outside the set (one NOT-IN scan;
``^!(...)`` composes, inverse MEMBERS and closures of a negated set
do not). Parenthesized path groups ``(seq | seq ...)[+*?]`` — each
alternative a '/'-sequence of ``[^]iri`` elements — compile to a
derived (src, dst) edge frame (chained pred-filtered scans, unioned
alternatives) with the modifier applied to that relation; ``^(a/b)``
reverses to the inverted-reversed sequence; groups compose inside
sequences (``(a/b)+/c``), and elements INSIDE a group may carry
their own ``+``/``*``/``?`` modifier (``(a+/b)``, ``(a/b*)+`` —
each modified element becomes its own closed/optional relation
before composition). Nested parentheses inside a group stay out of
scope, and alternation of non-trivial paths must be written in
group form (``(a/b|c)``).

Query forms beyond SELECT: ``CONSTRUCT WHERE { patterns }``
(SPARQL 1.1 shorthand — the group doubles as the template) and
``CONSTRUCT { template } WHERE {...}``
returns a schemas.TRIPLES-shaped frame (object variables carry
their lang/literal term metadata through companion columns;
solutions with an unbound template slot emit no triple; the result
is set-deduped, a graph). ``ASK WHERE {...}`` returns one boolean
row. ``VALUES ?v { ... }`` / ``VALUES (?a ?b) { (...) }`` blocks
join inline constant bindings (lexical comparison), and
``BIND(expr AS ?v)`` computes new columns with the FILTER
expression subset plus CONCAT/UCASE/LCASE/STRLEN/STRSTARTS/
STRENDS/CONTAINS/SUBSTR/REPLACE/BOUND, STRBEFORE/STRAFTER
(first-occurrence split, '' when absent), the numeric builtins
ABS/CEIL/FLOOR/ROUND (try_cast — a non-numeric lexical form is a
SPARQL type error -> NULL; ROUND ties go toward +inf per fn:round,
via floor(x+0.5)), and ``langMatches(lang(?v), "range")``
(RFC 4647 basic filtering: '*' = any non-empty tag, else
case-insensitive exact or '-'-extended prefix).

``DESCRIBE <iri>...`` / ``DESCRIBE ?v... WHERE {...}`` returns the
forward description — every triple whose SUBJECT is a described
resource (the common Jena-style default, minus blank-node closure)
— as a TRIPLES-shaped frame: described variables' bindings union
with constant IRIs, then ONE left-semi join against the triples
table (broadcast-eligible; never widens or re-scans per resource).

Negation: ``FILTER EXISTS { patterns }`` / ``FILTER NOT EXISTS
{ patterns }`` compile to a left-semi / left-anti join of the
solution frame against the inner group on the shared variables —
the Spark-native shape for both (no subquery re-evaluation per
row). ``MINUS { patterns }`` is also a left-anti join but keeps
SPARQL's disjoint-domain rule: sharing no variable removes
nothing (while a variable-disjoint NOT EXISTS removes everything
when the inner group has any solution). Solutions with an UNBOUND
shared variable (OPTIONAL/BIND/subquery-sourced) follow the spec's
compatible-with-anything rule: the outer frame is split by the
null-mask of the nullable shared variables, each subset joined on
exactly the variables bound in both domains (hash/broadcast
equi-joins — see ``_compat_negation_join``); for MINUS an
all-unbound subset is kept (domain-overlap rule), for NOT EXISTS
it is removed when the inner group is non-empty.
``OFFSET n`` composes with LIMIT, and
the ``?`` path modifier (zero-or-one) unions the single edge
with the zero-length identity, without the closure loop.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

_STD_PREFIXES = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
}


@dataclass(frozen=True)
class Term:
    """One position of a triple pattern.

    kind: 'var' (name without '?'), 'iri' (absolute IRI), or
    'literal' (lexical form, optional lang tag). Predicate positions
    additionally allow 'iri_alt' (``alts`` = alternation of plain
    IRIs, one IN-filtered scan), 'iri_neg' (negated property set)
    and the path groups 'path_group' / 'path_group_plus' /
    'path_group_star' / 'path_group_opt' (``alts`` = the encoded
    alternatives of ``(seq | seq ...)``, bare or under ``+``/``*``/
    ``?``). A single modified IRI (``iri+``, ``iri*``, ``iri?``) is
    the one-element group.
    """

    kind: str
    value: str
    lang: str | None = None
    alts: tuple[str, ...] | None = None


Pattern = tuple[Term, Term, Term]


@dataclass
class Branch:
    """One UNION alternative: required patterns, OPTIONAL groups
    (each LEFT-joined on its shared variables), and branch-scoped
    FILTER expressions."""

    patterns: list[Pattern] = field(default_factory=list)
    optionals: list[list[Pattern]] = field(default_factory=list)
    # per-OPTIONAL-group filters (aligned with ``optionals``): applied
    # INSIDE the left join — the group fails, the solution survives
    optional_filters: list[list[str]] = field(default_factory=list)
    filters: list[str] = field(default_factory=list)  # Spark SQL exprs
    # variables whose RDF-term metadata (lang/datatype/literal-flag)
    # this branch's FILTER/BIND expressions inspect — the executor
    # projects their __m_* companions at the pattern scan
    meta_vars: set[str] = field(default_factory=set)
    binds: list[tuple[str, str]] = field(default_factory=list)  # (sql, var)
    # VALUES blocks: (var names, rows of Terms compared on lexical form)
    values: list[tuple[list[str], list[list[Term]]]] = field(
        default_factory=list
    )
    # FILTER [NOT] EXISTS groups: (positive?, patterns)
    exists: list[tuple[bool, list[Pattern]]] = field(default_factory=list)
    # MINUS groups
    minus: list[list[Pattern]] = field(default_factory=list)
    # GRAPH groups: (graph term — var or IRI, patterns). Patterns match
    # NAMED graphs only; the term binds/filters the graph label.
    graphs: list[tuple[Term, list[Pattern]]] = field(default_factory=list)
    # { SELECT ... } subqueries: evaluated independently over the same
    # dataset, joined on their projected variables
    subqueries: list[BGPQuery] = field(default_factory=list)
    # nested group graph patterns ``{ ... }`` (incl. in-group UNION
    # chains ``{A} UNION {B}``): each compiled as an independent
    # SELECT-* sub-plan over the same dataset and joined back on its
    # shared variables — SPARQL's bottom-up group semantics, and the
    # same relational shape the subquery path already uses
    groups: list[BGPQuery] = field(default_factory=list)
    # OPTIONAL groups that need full group semantics (BIND/VALUES/
    # UNION/nested OPTIONAL/...): evaluated as SELECT-* sub-plans and
    # LEFT-joined on the shared variables. Plain pattern+FILTER
    # OPTIONALs stay on the flat ``optionals`` fast path.
    optional_subs: list[BGPQuery] = field(default_factory=list)
    # textual order of the OPTIONAL groups — ("flat", i) indexes
    # ``optionals``, ("sub", i) indexes ``optional_subs``. SPARQL
    # left-joins OPTIONALs strictly left-to-right; a later group must
    # see (and agree with) bindings the earlier ones introduced.
    # Empty/incomplete (programmatically built Branch): flats first,
    # then subs.
    optional_order: list[tuple[str, int]] = field(default_factory=list)


@dataclass
class BGPQuery:
    form: str = "select"  # 'select' | 'construct' | 'ask' | 'describe'
    template: list[Pattern] | None = None  # CONSTRUCT template
    describe: list[Term] = field(default_factory=list)  # vars + IRIs
    select: list[str] = field(default_factory=list)  # [] = SELECT *
    branches: list[Branch] = field(default_factory=list)  # >1 = UNION
    distinct: bool = False
    # (sql, asc, var): ``sql`` is the Spark SQL sort key; ``var`` is
    # the bare variable name when the key is a plain ?var (enables the
    # typed-numeric ``__t_`` companion), None for expression keys
    order_by: list[tuple[str, bool, str | None]] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    # aggregation: (func, var-or-None-for-*, distinct, separator, alias).
    # separator is only meaningful for group_concat (SPARQL default " ")
    aggregates: list[tuple[str, str | None, bool, str | None, str]] = field(
        default_factory=list
    )
    group_by: list[str] = field(default_factory=list)
    having: str | None = None  # Spark SQL expr over aliases
    # dataset clauses: FROM <g> merges those named graphs into the
    # default graph; FROM NAMED <g> restricts the named-graph set
    from_graphs: list[str] = field(default_factory=list)
    from_named: list[str] = field(default_factory=list)
    # scalar SELECT expressions: (expr AS ?v) — applied after
    # grouping/aggregation, before projection (may reference group
    # vars and aggregate aliases)
    select_exprs: list[tuple[str, str]] = field(default_factory=list)
    # term-metadata variables referenced by SELECT expressions
    meta_vars: set[str] = field(default_factory=set)

    # single-branch conveniences (the common case)
    @property
    def patterns(self) -> list[Pattern]:
        return self.branches[0].patterns

    @property
    def filters(self) -> list[str]:
        return self.branches[0].filters


# ---------------------------------------------------------------------------
# Parser (SPARQL SELECT subset)
# ---------------------------------------------------------------------------

_ESCAPE_RE = re.compile(r"\\(?:u([0-9a-fA-F]{4})|U([0-9a-fA-F]{8})|(.))")
_ESCAPE_MAP = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f"}


def _unescape(s: str) -> str:
    """SPARQL string-literal escapes: \\uXXXX, \\UXXXXXXXX, \\n \\t \\r
    \\b \\f, pass-through for escaped quote/backslash. Unicode-safe
    (unlike unicode_escape, which mojibakes non-ASCII text)."""

    def rep(m: re.Match) -> str:
        if m.group(1):
            return chr(int(m.group(1), 16))
        if m.group(2):
            return chr(int(m.group(2), 16))
        c = m.group(3)
        return _ESCAPE_MAP.get(c, c)

    return _ESCAPE_RE.sub(rep, s)


def _sql_str(s: str) -> str:
    """Embed a python string as a Spark SQL single-quoted literal
    (backslashes are escape chars in Spark SQL string literals)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


_TOKEN = re.compile(
    r"""\s*(?:
        (?P<comment>\#[^\n]*) |
        (?P<str>"(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9-]*)?) |
        (?P<iri><[^<>\s]*>) |
        (?P<var>\?[A-Za-z_][A-Za-z0-9_]*) |
        (?P<num>[+-]?\d+(?:\.\d+)?) |
        (?P<punct>&&|\|\||[!<>]=|[=<>]|[{}().,;!*+/^|?]) |
        (?P<word>[A-Za-z_][A-Za-z0-9_-]*(?::[A-Za-z_][A-Za-z0-9_.-]*)?|:[A-Za-z_][A-Za-z0-9_.-]*)
    )""",
    re.VERBOSE,
)


def _tokenize(text: str) -> list[str]:
    toks: list[str] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m:
            if text[pos:].strip() == "":
                break
            raise ValueError(f"BGP parse error at: {text[pos:pos + 30]!r}")
        pos = m.end()
        if m.lastgroup != "comment":
            toks.append(m.group(m.lastgroup))
    return toks


_PREFIX_DECL = re.compile(r"(?i)PREFIX\s+([A-Za-z_][A-Za-z0-9_-]*)?:\s*<([^>]*)>")


def _strip_prefix_decls(text: str) -> tuple[dict[str, str], str]:
    """Collect and remove ``PREFIX pfx: <iri>`` declarations, scanning
    OUTSIDE string literals and #-comments only. A global ``re.sub``
    here corrupted literals like ``"see PREFIX ex: <http://e/> docs"``
    by silently deleting the matched substring from inside the quotes
    (prologue keywords bind nowhere inside a literal)."""
    prefixes: dict[str, str] = {}
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch == '"':  # the grammar's only string form (see _TOKEN)
            j = i + 1
            while j < n:
                if text[j] == "\\":
                    j += 2
                elif text[j] == '"':
                    j += 1
                    break
                else:
                    j += 1
            out.append(text[i:j])
            i = j
        elif ch == "#":
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(text[i:j])
            i = j
        elif ch in "Pp" and (
            i == 0 or not (text[i - 1].isalnum() or text[i - 1] in "_-")
        ):
            m = _PREFIX_DECL.match(text, i)
            if m:
                prefixes[m.group(1) or ""] = m.group(2)
                i = m.end()
            else:
                out.append(ch)
                i += 1
        else:
            out.append(ch)
            i += 1
    return prefixes, "".join(out)


# one path element: (inverse?, term, modifier '+'/'*'/None)
PathElt = tuple[bool, Term, "str | None"]

# separator for encoding path-group sequences into Term.alts (IRIs may
# contain '/', so a control char keeps the encoding unambiguous)
_GSEP = "\x1f"
# Term kind of a path group by its modifier
_GROUP_KIND = {
    "+": "path_group_plus", "*": "path_group_star", "?": "path_group_opt",
    None: "path_group",
}


class _P:
    def __init__(self, toks: list[str], prefixes: dict[str, str]):
        self.toks, self.i, self.prefixes = toks, 0, dict(prefixes)
        self._n_fresh = 0

    def fresh(self) -> str:
        """Internal join variable for desugared path sequences; the
        '__p' prefix is reserved and stripped from every output."""
        self._n_fresh += 1
        return f"__p{self._n_fresh}"

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        t = self.peek()
        if t is None:
            raise ValueError("BGP parse error: unexpected end of query")
        self.i += 1
        return t

    def expect(self, tok: str) -> None:
        t = self.next()
        if t.lower() != tok.lower():
            raise ValueError(f"BGP parse error: expected {tok!r}, got {t!r}")

    def term(self) -> Term:
        t = self.next()
        if t.startswith("?"):
            if t.startswith("?__"):
                raise ValueError(
                    "BGP: variable names starting with '__' are reserved "
                    "for internal path-join / term-metadata columns"
                )
            return Term("var", t[1:])
        if t.startswith("<"):
            return Term("iri", t[1:-1])
        if t.startswith('"'):
            lang = None
            body = t
            at = t.rfind('"@')
            if at > 0:
                lang, body = t[at + 2 :], t[: at + 1]
            lex = _unescape(body[1:-1])
            return Term("literal", lex, lang)
        if t == "a":
            return Term("iri", RDF_TYPE)
        if re.fullmatch(r"[+-]?\d+(?:\.\d+)?", t):
            return Term("literal", t)
        if ":" in t:
            pfx, _, local = t.partition(":")
            if pfx not in self.prefixes:
                raise ValueError(f"BGP parse error: unknown prefix {pfx!r}:")
            return Term("iri", self.prefixes[pfx] + local)
        raise ValueError(f"BGP parse error: cannot read term {t!r}")


# SPARQL builtin -> Spark SQL function (both sides agree with the
# DuckDB oracle's function of the same SQL name)
_SQL_FUNCS = {
    "concat": "concat",
    "if": "if",
    "coalesce": "coalesce",
    "ucase": "upper",
    "lcase": "lower",
    "strlen": "length",
    "strstarts": "startswith",
    "strends": "endswith",
    "contains": "contains",
    "substr": "substring",
    "replace": "replace",
}


def _filter_to_sql(
    p: _P, *, bind: bool = False, meta: set[str] | None = None
) -> str | tuple[str, str]:
    """Translate one FILTER(...) body — or, with ``bind=True``, a
    BIND(expr AS ?v) body, returning (sql, var) — to a Spark SQL
    expression.

    Supported: regex(?v, "pat"), str(?v), bound(?v), the _SQL_FUNCS
    string builtins (incl. IF/COALESCE), IN / NOT IN term lists,
    sameTerm(?a, ?b), comparisons, && || !,
    parentheses, string/number literals, <IRI> terms (compared on the
    lexical form), variables, and the RDF-term inspectors lang(?v) /
    datatype(?v) / isIRI / isLiteral / isBlank — these compile against
    the ``__m_*`` term-metadata companion columns, and the referenced
    variables are recorded in ``meta`` so the executor projects the
    companions at the pattern scan (lang() of an untagged literal is
    '' per SPARQL; datatype() of a non-literal is NULL — unbound)."""
    if meta is None:
        meta = set()
    p.expect("(")
    out: list[str] = []
    depth = 1
    while depth > 0:
        t = p.next()
        if bind and depth == 1 and t.lower() == "as":
            v = p.term()
            if v.kind != "var":
                raise ValueError("BGP: BIND alias must be a ?variable")
            p.expect(")")
            return " ".join(out), v.value
        if t == "(":
            depth += 1
            out.append("(")
        elif t == ")":
            depth -= 1
            if depth > 0:
                out.append(")")
        elif t == "&&":
            out.append("AND")
        elif t == "||":
            out.append("OR")
        elif t == "!":
            out.append("NOT")
        elif t == "=":
            out.append("=")
        elif t == ",":
            out.append(",")
        elif t.lower() in _SQL_FUNCS and p.peek() == "(":
            out.append(_SQL_FUNCS[t.lower()])
        elif t.lower() == "bound":
            p.expect("(")
            v = p.term()
            p.expect(")")
            if v.kind != "var":
                raise ValueError("BGP: bound() needs a ?variable")
            out.append(f"(`{v.value}` IS NOT NULL)")
        elif t.lower() == "regex":
            # regex(?v, "pat"[, "flags"]) -> (v RLIKE '(?flags)pat');
            # flags i/s/m/x compile to the inline Java-regex group the
            # oracle replays as regexp_matches(v, pat, flags)
            p.expect("(")
            v = p.term()
            p.expect(",")
            pat = p.term()
            flags = ""
            if p.peek() == ",":
                p.next()
                fl = p.term()
                if fl.kind != "literal":
                    raise ValueError('BGP: regex() flags must be a "literal"')
                flags = fl.value
            p.expect(")")
            if v.kind != "var" or pat.kind != "literal":
                raise ValueError("BGP: regex() needs (?var, \"pattern\")")
            if not set(flags) <= set("ismx"):
                raise ValueError(f"BGP: unsupported regex flags {flags!r}")
            rx = f"(?{flags}){pat.value}" if flags else pat.value
            out.append(f"(`{v.value}` RLIKE {_sql_str(rx)})")
        elif t.lower() in ("md5", "sha1", "sha256", "sha384", "sha512"):
            # SPARQL 17.4.4.12-16 hash builtins over the lexical form:
            # lowercase hex, matching DuckDB's md5()/sha256() twins
            # (sha1/384/512 have no DuckDB twin — pytest-gated vs
            # hashlib instead)
            fn = t.lower()
            p.expect("(")
            v = p.term()
            p.expect(")")
            arg = f"`{v.value}`" if v.kind == "var" else _sql_str(v.value)
            if fn in ("md5", "sha1"):
                out.append(f"{fn}({arg})")
            else:
                out.append(f"sha2({arg}, {fn[3:]})")
        elif t.lower() in ("iri", "uri"):
            # IRI(?v) / URI(?v): the triples frame is lexical, so an
            # IRI constructor over a full-IRI string is identity on the
            # lexical form (base resolution is out of scope); the
            # result term is an IRI, not a literal
            p.expect("(")
            v = p.term()
            p.expect(")")
            out.append(
                f"`{v.value}`" if v.kind == "var" else _sql_str(v.value)
            )
        elif t.lower() == "encode_for_uri":
            # SPARQL 17.4.2.8 = RFC 3986 percent-encoding (unreserved
            # A-Za-z0-9-._~ pass through, UTF-8 percent-octets upper-
            # case hex). Spark's url_encode is form-style; rewrite its
            # three deviations: '+'->%20 (space), %7E->'~' (unreserved
            # tilde), '*'->%2A (reserved in 3986, bare in form style).
            p.expect("(")
            v = p.term()
            p.expect(")")
            arg = f"`{v.value}`" if v.kind == "var" else _sql_str(v.value)
            out.append(
                "replace(replace(replace(url_encode("
                f"{arg}), '+', '%20'), '%7E', '~'), '*', '%2A')"
            )
        elif t.lower() == "str":
            p.expect("(")
            v = p.term()
            p.expect(")")
            out.append(f"`{v.value}`")
        elif t.lower() == "in" or (
            t.lower() == "not"
            and p.peek() is not None
            and p.peek().lower() == "in"
        ):
            # SPARQL 17.4.1.9/10 IN / NOT IN: equality against an
            # explicit term list, compared on the lexical form (a
            # number in the list compiles as its lexical string —
            # consistent with the frame's string columns and the
            # DuckDB oracle's VARCHAR IN list). SQL's IN shares the
            # spec's short-circuit NULL semantics: an unbound left
            # operand is a type error -> NULL -> row filtered.
            neg = t.lower() == "not"
            if neg:
                p.next()  # the IN keyword
            p.expect("(")
            if p.peek() == ")":
                # `?x IN ()` is legal SPARQL (always false) but SQL
                # syntax rejects an empty list; nothing useful to
                # compile against, so fail loudly instead of guessing
                raise ValueError("BGP: empty IN () list is unsupported")
            elems: list[str] = []
            while True:
                e = p.term()
                elems.append(
                    f"`{e.value}`" if e.kind == "var" else _sql_str(e.value)
                )
                nxt = p.next()
                if nxt == ")":
                    break
                if nxt != ",":
                    raise ValueError("BGP: IN list expects ',' or ')'")
            kw = "NOT IN" if neg else "IN"
            out.append(f"{kw} ({', '.join(elems)})")
        elif t.lower() == "sameterm":
            # SPARQL 17.4.1.8 sameTerm: RDF term identity — lexical
            # form AND literal-ness AND lang tag AND datatype all
            # equal. Compiled against the __m_* companions (projected
            # at the pattern scan via `meta`); an unbound argument is
            # a type error (NULL = ... -> NULL -> row filtered),
            # matching Jena/ARQ. The datatype leg coalesces to
            # xsd:string, not '': RDF 1.1 makes a plain literal THE
            # SAME TERM as an explicit ^^xsd:string one (the constant
            # is also applied to IRI bindings, where it is inert —
            # both sides coalesce to the same value).
            p.expect("(")
            a = p.term()
            p.expect(",")
            b = p.term()
            p.expect(")")
            if a.kind != "var" or b.kind != "var":
                raise ValueError("BGP: sameTerm() needs two ?variables")
            meta.add(a.value)
            meta.add(b.value)
            av, bv = a.value, b.value
            out.append(
                f"(`{av}` = `{bv}` "
                f"AND `__m_lit_{av}` = `__m_lit_{bv}` "
                f"AND coalesce(`__m_lang_{av}`, '') = "
                f"coalesce(`__m_lang_{bv}`, '') "
                f"AND coalesce(`__m_dt_{av}`, "
                f"'http://www.w3.org/2001/XMLSchema#string') = "
                f"coalesce(`__m_dt_{bv}`, "
                f"'http://www.w3.org/2001/XMLSchema#string'))"
            )
        elif t.lower() in ("abs", "ceil", "floor", "round"):
            # SPARQL numeric builtins: a non-numeric lexical form is a
            # type error -> try_cast yields NULL and the enclosing
            # comparison/BIND leaves the row filtered/unbound (same
            # TRY_CAST replay as the comparison rewrite). ROUND follows
            # fn:round — ties round toward POSITIVE INFINITY
            # (round(-2.5) = -2), which is floor(x + 0.5); Spark's and
            # DuckDB's native round() are half-away-from-zero and would
            # both deviate from the spec on negative halves.
            fn = t.lower()
            p.expect("(")
            v = p.term()
            p.expect(")")
            arg = (
                f"`{v.value}`" if v.kind == "var" else _sql_str(v.value)
            )
            if fn == "round":
                out.append(
                    f"CAST(floor(try_cast({arg} AS DOUBLE) + 0.5d) AS DOUBLE)"
                )
            else:
                out.append(f"{fn}(try_cast({arg} AS DOUBLE))")
        elif t.lower() in ("strbefore", "strafter"):
            # SPARQL 17.4.3.4/5: the part of ?s before/after the FIRST
            # occurrence of the needle; '' when absent. An empty
            # needle matches at position 1 (before -> '', after -> s).
            fn = t.lower()
            p.expect("(")
            a = p.term()
            p.expect(",")
            b = p.term()
            p.expect(")")

            def _arg(term: Term) -> str:
                return (
                    f"`{term.value}`"
                    if term.kind == "var"
                    else _sql_str(term.value)
                )

            s, nd = _arg(a), _arg(b)
            pos = f"instr({s}, {nd})"
            if fn == "strbefore":
                out.append(
                    f"(CASE WHEN {pos} > 0 "
                    f"THEN substring({s}, 1, {pos} - 1) ELSE '' END)"
                )
            else:
                out.append(
                    f"(CASE WHEN {pos} > 0 "
                    f"THEN substring({s}, {pos} + length({nd}), "
                    f"length({s})) ELSE '' END)"
                )
        elif t.lower() == "langmatches":
            # langMatches(lang(?v), "range") — basic filtering per
            # RFC 4647: '*' matches any non-empty tag; otherwise the
            # tag equals the range or extends it with a '-' subtag,
            # case-insensitively. lang() of a non-literal is a type
            # error (NULL) and propagates to NULL -> row filtered.
            p.expect("(")
            if p.next().lower() != "lang":
                raise ValueError(
                    "BGP: langMatches() supports the lang(?v) form"
                )
            p.expect("(")
            v = p.term()
            p.expect(")")
            p.expect(",")
            rng = p.term()
            p.expect(")")
            if v.kind != "var" or rng.kind != "literal":
                raise ValueError(
                    'BGP: langMatches() needs (lang(?var), "range")'
                )
            meta.add(v.value)
            tag = (
                f"(CASE WHEN `__m_lit_{v.value}` "
                f"THEN coalesce(`__m_lang_{v.value}`, '') END)"
            )
            if rng.value == "*":
                out.append(f"({tag} <> '')")
            else:
                r = _sql_str(rng.value.lower())
                out.append(
                    f"(lower({tag}) = {r} OR "
                    f"startswith(lower({tag}), {r} || '-'))"
                )
        elif t.lower() in ("lang", "datatype", "isiri", "isuri",
                           "isliteral", "isblank"):
            fn = t.lower()
            p.expect("(")
            v = p.term()
            p.expect(")")
            if v.kind != "var":
                raise ValueError(f"BGP: {t}() needs a ?variable")
            meta.add(v.value)
            if fn == "lang":
                # lang() of a non-literal is a SPARQL type error: emit
                # NULL (not '') so the enclosing comparison filters the
                # row, matching Jena/ARQ. Literals: tag or ''.
                out.append(
                    f"(CASE WHEN `__m_lit_{v.value}` "
                    f"THEN coalesce(`__m_lang_{v.value}`, '') END)"
                )
            elif fn == "datatype":
                out.append(f"`__m_dt_{v.value}`")
            elif fn in ("isiri", "isuri"):
                out.append(
                    f"(NOT `__m_lit_{v.value}` "
                    f"AND NOT startswith(`{v.value}`, '_:'))"
                )
            elif fn == "isliteral":
                out.append(f"`__m_lit_{v.value}`")
            else:  # isblank
                out.append(
                    f"(NOT `__m_lit_{v.value}` "
                    f"AND startswith(`{v.value}`, '_:'))"
                )
        elif t.startswith("<") and t.endswith(">"):
            # IRI term in an expression: compared on the lexical form
            out.append(_sql_str(t[1:-1]))
        elif t.startswith("?"):
            out.append(f"`{t[1:]}`")
        elif t.startswith('"'):
            # strip an @lang tag (compared on the lexical form) and
            # unescape before embedding as a SQL literal
            body = t
            at = t.rfind('"@')
            if at > 0:
                body = t[: at + 1]
            out.append(_sql_str(_unescape(body[1:-1])))
        elif re.fullmatch(r"[+-]?\d+(?:\.\d+)?|[<>]=?|!=", t):
            out.append(t)
        else:
            raise ValueError(f"BGP: unsupported token in FILTER: {t!r}")
    if bind:
        raise ValueError("BGP: BIND needs '... AS ?var'")
    return _numeric_comparisons(" ".join(out))


_NUM_CMP_VAR_NUM = re.compile(
    r"(`[^`]+`)\s*([<>]=?|!?=)\s*([+-]?\d+(?:\.\d+)?)(?![\d.])"
)
_NUM_CMP_NUM_VAR = re.compile(
    r"(?<![\d.])([+-]?\d+(?:\.\d+)?)\s*([<>]=?|!?=)\s*(`[^`]+`)"
)


def _strip_sql_strings(sql: str) -> str:
    """Blank out single-quoted SQL string literals so scans for
    backtick-quoted column references never match text INSIDE a
    constant (regex patterns, IRIs, ...)."""
    return re.sub(r"'(?:[^']|'')*'", "''", sql)


def _missing_meta_refs(sql: str, columns: set[str]) -> list[str]:
    """Term-inspector builtins (lang/datatype/isIRI/isLiteral/isBlank)
    compile to ``__m_*`` companion references that only pattern-scan
    variables carry. Report any referenced companion missing from the
    frame so the caller can fail with a clear message instead of an
    UNRESOLVED_COLUMN AnalysisException."""
    refs = set(
        re.findall(r"`(__m_(?:lang|lit|dt)_[^`]+)`", _strip_sql_strings(sql))
    )
    return sorted(r for r in refs if r not in columns)


def _raise_if_missing_meta(sql: str, columns: set[str], what: str) -> None:
    missing = _missing_meta_refs(sql, columns)
    if missing:
        vs = sorted({re.sub(r"^__m_(lang|lit|dt)_", "", m) for m in missing})
        raise ValueError(
            f"BGP: lang()/datatype()/isIRI()/isLiteral()/isBlank() in "
            f"{what} need a variable bound by a triple pattern — "
            f"?{', ?'.join(vs)} is bound by BIND/VALUES/subquery and "
            f"carries no term metadata"
        )


def _numeric_comparisons(sql: str) -> str:
    """Variable-vs-number comparisons compare NUMERICALLY with SPARQL
    type-error semantics: a binding whose lexical form is not numeric
    makes the comparison a type error → the row is filtered, not a
    query crash. Under Spark's ANSI mode the naive ``\\`v\\` > 5``
    coerces with a STRICT cast that throws on the first 'banana';
    try_cast yields NULL → false, which is also exactly what the
    DuckDB oracle's TRY_CAST replays.

    The rewrite only touches text OUTSIDE single-quoted SQL string
    literals — a regex/string constant that happens to contain
    ``\\`x\\` > 3`` must pass through verbatim."""
    parts = re.split(r"('(?:[^']|'')*')", sql)
    for i in range(0, len(parts), 2):  # even indices are outside quotes
        seg = _NUM_CMP_VAR_NUM.sub(r"try_cast(\1 AS DOUBLE) \2 \3", parts[i])
        parts[i] = _NUM_CMP_NUM_VAR.sub(
            r"\1 \2 try_cast(\3 AS DOUBLE)", seg
        )
    return "".join(parts)


def _parse_path(p: _P) -> list[PathElt]:
    """Parse a predicate position: a plain variable, or a property
    path of '/'-separated elements, each ``[^]iri[+|*]`` or an
    alternation ``iri|iri|...`` of plain IRIs."""
    elts: list[PathElt] = []
    while True:
        inv = False
        if p.peek() == "^":
            p.next()
            inv = True
        if p.peek() == "(":
            # parenthesized path group: ( seq | seq | ... ) with an
            # optional +/*/? modifier — each alternative a '/'-sequence
            # of [^]iri elements (no nested groups/modifiers inside;
            # documented subset). Compiled by the executor to a closure
            # over a DERIVED edge frame (round-5 VERDICT ask #6).
            p.next()
            alternatives: list[list[tuple[bool, str, str | None]]] = []
            seq: list[tuple[bool, str, str | None]] = []
            while True:
                inv2 = False
                if p.peek() == "^":
                    p.next()
                    inv2 = True
                if p.peek() in ("(", "!"):
                    raise ValueError(
                        "BGP: nested groups/negated sets inside a path "
                        "group are not supported"
                    )
                t2 = p.term()
                if t2.kind != "iri":
                    raise ValueError(
                        "BGP: path group elements must be plain IRIs"
                    )
                elmod = p.next() if p.peek() in ("+", "*", "?") else None
                seq.append((inv2, t2.value, elmod))
                if p.peek() == "/":
                    p.next()
                    continue
                if p.peek() == "|":
                    p.next()
                    alternatives.append(seq)
                    seq = []
                    continue
                p.expect(")")
                alternatives.append(seq)
                break
            if inv:
                # ^(a/b) = reversed sequence of inverted elements
                # (per-element modifiers stay with their element:
                # ^(a+/b) = ^b / ^a+ — the inverse of a closure is the
                # closure of the inverse)
                alternatives = [
                    [(not i, iri, m) for (i, iri, m) in reversed(alt)]
                    for alt in alternatives
                ]
            mod = p.next() if p.peek() in ("+", "*", "?") else None
            kind = _GROUP_KIND[mod]
            # element encoding: [^]iri[\x02mod] — \x02 cannot appear in
            # an IRI, so an IRI that happens to END in '+' stays exact
            enc = tuple(
                _GSEP.join(
                    (("^" + iri) if i else iri) + (f"\x02{m}" if m else "")
                    for (i, iri, m) in alt
                )
                for alt in alternatives
            )
            elts.append((False, Term(kind, enc[0], alts=enc), None))
            if p.peek() == "/":
                p.next()
                continue
            return elts
        if p.peek() == "!":
            # negated property set: !iri or !(iri|iri|...) — matches any
            # predicate NOT in the set (one NOT-IN-filtered scan).
            # Inversion composes (^!(...) = inverse edges with excluded
            # predicates); inverse MEMBERS (!(^iri)) stay out of subset.
            p.next()
            negs: list[str] = []
            if p.peek() == "(":
                p.next()
                while True:
                    if p.peek() == "^":
                        raise ValueError(
                            "BGP: inverse members in a negated property "
                            "set are not supported"
                        )
                    t2 = p.term()
                    if t2.kind != "iri":
                        raise ValueError(
                            "BGP: negated property sets need plain IRIs"
                        )
                    negs.append(t2.value)
                    if p.peek() == "|":
                        p.next()
                        continue
                    p.expect(")")
                    break
            else:
                t2 = p.term()
                if t2.kind != "iri":
                    raise ValueError(
                        "BGP: negated property sets need plain IRIs"
                    )
                negs.append(t2.value)
            if p.peek() in ("+", "*", "?"):
                raise ValueError(
                    "BGP: closure of a negated property set is not supported"
                )
            elts.append((inv, Term("iri_neg", negs[0], alts=tuple(negs)), None))
            if p.peek() == "/":
                p.next()
                continue
            return elts
        t = p.term()
        if t.kind == "var":
            if inv or elts or p.peek() in ("/", "|", "+"):
                raise ValueError(
                    "BGP: property-path elements must be IRIs, not variables"
                )
            return [(False, t, None)]
        if t.kind != "iri":
            raise ValueError("BGP: literal predicates are not valid RDF")
        if p.peek() == "|":
            alts = [t.value]
            while p.peek() == "|":
                p.next()
                t2 = p.term()
                if t2.kind != "iri":
                    raise ValueError("BGP: path alternation needs plain IRIs")
                alts.append(t2.value)
            if p.peek() in ("+", "*", "?"):
                raise ValueError(
                    "BGP: closure of an alternation is not supported"
                )
            elts.append((inv, Term("iri_alt", alts[0], alts=tuple(alts)), None))
        else:
            mod = None
            if p.peek() in ("+", "*", "?"):
                mod = p.next()
            elts.append((inv, t, mod))
        if p.peek() == "/":
            p.next()
            continue
        return elts


def _emit_path(
    p: _P, patterns: list[Pattern], subj: Term, elts: list[PathElt], obj: Term
) -> None:
    """Desugar one (subject, path, object) statement into triple
    patterns, threading fresh internal join variables between
    sequence elements. Inverse elements swap endpoint roles; an IRI
    under '+'/'*'/'?' becomes the one-element path group the executor
    expands."""
    cur = subj
    for k, (inv, term, mod) in enumerate(elts):
        nxt = obj if k == len(elts) - 1 else Term("var", p.fresh())
        if mod is None:
            pred = term
        else:
            pred = Term(_GROUP_KIND[mod], term.value, alts=(term.value,))
        patterns.append((nxt, pred, cur) if inv else (cur, pred, nxt))
        cur = nxt


def _parse_plain_group(p: _P, ctx: str) -> list[Pattern]:
    """Parse an inner ``{ patterns }`` group (EXISTS / NOT EXISTS /
    MINUS bodies): triple patterns only, non-empty."""
    p.expect("{")
    gb = Branch()
    _parse_group(p, gb)
    if (
        gb.filters or gb.optionals or gb.optional_subs or gb.binds
        or gb.values or gb.exists or gb.minus or gb.graphs
        or gb.subqueries or gb.groups
    ):
        raise ValueError(f"BGP: {ctx} group must contain only triple patterns")
    if not gb.patterns:
        raise ValueError(f"BGP: empty {ctx} group")
    return gb.patterns


def _parse_group_union(p: _P) -> BGPQuery:
    """Parse a nested group graph pattern starting at '{' — a single
    group or a ``{A} UNION {B} [UNION {C}]*`` chain — into a SELECT-*
    BGPQuery (each alternative one Branch, full group generality via
    recursion). The caller joins the sub-plan on its shared variables;
    UNION alternatives align null-filled exactly as at top level."""
    gq = BGPQuery(form="select", select=[], branches=[])
    while True:
        p.expect("{")
        gb = Branch()
        _parse_group(p, gb)
        if not (gb.patterns or gb.graphs or gb.subqueries or gb.groups):
            raise ValueError("BGP: empty nested group")
        gq.branches.append(gb)
        t = p.peek()
        if t is not None and t.lower() == "union":
            p.next()
            continue
        return gq


def _parse_group(p: _P, branch: Branch) -> None:
    """Parse group contents up to (and consuming) the closing '}'.
    Fills ``branch``; OPTIONAL sub-groups collect into
    ``branch.optionals`` (plain pattern+FILTER groups) or
    ``branch.optional_subs`` (full group semantics); nested ``{ ... }``
    groups and in-group UNION chains into ``branch.groups``."""
    patterns = branch.patterns
    subj: Term | None = None
    pred_path: list[PathElt] | None = None
    while True:
        t = p.peek()
        if t is None:
            raise ValueError("BGP parse error: unterminated { block")
        if t == "}":
            p.next()
            return
        if t.lower() == "filter":
            p.next()
            nxt = p.peek()
            if nxt is not None and nxt.lower() in ("exists", "not"):
                positive = nxt.lower() == "exists"
                p.next()
                if not positive:
                    p.expect("EXISTS")
                branch.exists.append((positive, _parse_plain_group(p, "EXISTS")))
            else:
                branch.filters.append(_filter_to_sql(p, meta=branch.meta_vars))
            if p.peek() == ".":
                p.next()
            continue
        if t.lower() == "minus":
            p.next()
            branch.minus.append(_parse_plain_group(p, "MINUS"))
            if p.peek() == ".":
                p.next()
            continue
        if t == "{":
            nxt = p.toks[p.i + 1] if p.i + 1 < len(p.toks) else None
            if nxt is not None and nxt.lower() == "select":
                p.next()  # consume '{'
                branch.subqueries.append(_parse_query(p, subquery=True))
                p.expect("}")
            else:
                branch.groups.append(_parse_group_union(p))
            if p.peek() == ".":
                p.next()
            continue
        if t.lower() == "graph":
            p.next()
            gterm = p.term()
            if gterm.kind not in ("var", "iri"):
                raise ValueError("BGP: GRAPH needs a ?variable or <IRI>")
            branch.graphs.append((gterm, _parse_plain_group(p, "GRAPH")))
            if p.peek() == ".":
                p.next()
            continue
        if t.lower() == "bind":
            p.next()
            sql, var = _filter_to_sql(p, bind=True, meta=branch.meta_vars)
            branch.binds.append((sql, var))
            if p.peek() == ".":
                p.next()
            continue
        if t.lower() == "values":
            p.next()
            vnames: list[str] = []
            grouped = p.peek() == "("
            if grouped:
                p.next()
                while p.peek() != ")":
                    v = p.term()
                    if v.kind != "var":
                        raise ValueError("BGP: VALUES needs ?variables")
                    vnames.append(v.value)
                p.next()
            else:
                v = p.term()
                if v.kind != "var":
                    raise ValueError("BGP: VALUES needs ?variables")
                vnames.append(v.value)
            p.expect("{")
            rows: list[list[Term]] = []
            while p.peek() != "}":
                if grouped:
                    p.expect("(")
                    row = []
                    while p.peek() != ")":
                        row.append(p.term())
                    p.next()
                else:
                    row = [p.term()]
                if len(row) != len(vnames):
                    raise ValueError("BGP: VALUES row width mismatch")
                if any(x.kind == "var" for x in row):
                    raise ValueError("BGP: VALUES rows must be constants")
                rows.append(row)
            p.next()
            branch.values.append((vnames, rows))
            if p.peek() == ".":
                p.next()
            continue
        if t.lower() == "optional":
            p.next()
            # the body parses into a fresh Branch with full generality
            # (nested OPTIONAL/BIND/VALUES/UNION/... recurse naturally);
            # meta_vars is SHARED with the enclosing branch so term-
            # metadata referenced by inner FILTERs reaches the outer
            # scan projection on the flat fast path
            ob = Branch(meta_vars=branch.meta_vars)
            p.expect("{")
            _parse_group(p, ob)
            if not (ob.patterns or ob.graphs or ob.subqueries or ob.groups):
                if ob.optionals or ob.optional_subs:
                    raise ValueError(
                        "BGP: OPTIONAL group needs at least one required "
                        "pattern (an OPTIONAL-only group is not supported)"
                    )
                raise ValueError("BGP: empty OPTIONAL group")
            if (
                ob.optionals or ob.optional_subs or ob.binds or ob.values
                or ob.exists or ob.minus or ob.graphs or ob.subqueries
                or ob.groups
            ):
                # full group semantics: evaluate as an independent
                # SELECT-* sub-plan, LEFT-join on shared variables
                branch.optional_order.append(
                    ("sub", len(branch.optional_subs))
                )
                branch.optional_subs.append(
                    BGPQuery(form="select", select=[], branches=[ob])
                )
            else:
                # plain pattern+FILTER group: flat fast path (the
                # common shape — no sub-plan, filters applied before
                # the left join)
                branch.optional_order.append(
                    ("flat", len(branch.optionals))
                )
                branch.optionals.append(ob.patterns)
                branch.optional_filters.append(ob.filters)
            if p.peek() == ".":
                p.next()
            continue
        if t == ";":  # predicate list continuation: same subject
            p.next()
            if subj is None:
                raise ValueError("BGP parse error: ';' without a subject")
            pred_path = _parse_path(p)
            _emit_path(p, patterns, subj, pred_path, p.term())
            continue
        if t == ",":  # object list continuation: same subject+predicate
            p.next()
            if subj is None or pred_path is None:
                raise ValueError("BGP parse error: ',' without a pattern")
            _emit_path(p, patterns, subj, pred_path, p.term())
            continue
        if t == ".":
            p.next()
            subj = pred_path = None
            continue
        subj = p.term()
        pred_path = _parse_path(p)
        _emit_path(p, patterns, subj, pred_path, p.term())


def parse_sparql(text: str) -> BGPQuery:
    """Parse the supported SPARQL SELECT subset into a BGPQuery."""
    prefixes = dict(_STD_PREFIXES)
    # PREFIX declarations (before tokenizing the body keeps the grammar
    # tiny); the scan is literal-aware — see _strip_prefix_decls
    declared, body = _strip_prefix_decls(text)
    prefixes.update(declared)

    return _parse_query(_P(_tokenize(body), prefixes))


def _parse_query(p: _P, *, subquery: bool = False) -> BGPQuery:
    """Parse one query from the token stream. ``subquery=True``
    (a ``{ SELECT ... }`` group): SELECT form only, no dataset
    clauses, and the solution-modifier loop stops at the enclosing
    '}' (consumed by the caller)."""
    form = p.next().lower()
    if subquery and form != "select":
        raise ValueError("BGP: subqueries must be SELECT queries")
    if form not in ("select", "construct", "ask", "describe"):
        raise ValueError(f"BGP: unsupported query form {form!r}")
    q = BGPQuery(form=form, select=[], branches=[])
    if form == "describe":
        while (
            p.peek() is not None
            and p.peek() != "{"
            and p.peek().lower() not in ("where", "from")
        ):
            t = p.term()
            if t.kind not in ("var", "iri"):
                raise ValueError("BGP: DESCRIBE takes ?variables or IRIs")
            q.describe.append(t)
        if not q.describe:
            raise ValueError("BGP: DESCRIBE needs at least one ?variable or IRI")
        if p.peek() is None:
            # constants-only form: no WHERE group at all
            if any(t.kind == "var" for t in q.describe):
                raise ValueError("BGP: DESCRIBE ?var needs a WHERE group")
            return q
    if form == "construct" and p.peek() and p.peek().lower() == "where":
        # SPARQL 1.1 CONSTRUCT WHERE { patterns } shorthand: the WHERE
        # group doubles as the template. Restricted to plain triple
        # patterns per the spec; parse the group once, use it twice.
        p.next()
        q.template = _parse_plain_group(p, "CONSTRUCT WHERE")
        # SPARQL 1.1 restricts the shorthand to *triple patterns* —
        # property paths are not templatable (a closure modifier would
        # emit asserted triples for inferred pairs, and a sequence path
        # desugars into reserved __p join variables the template cannot
        # bind). Reject loudly rather than construct a wrong graph.
        for s, pr, o in q.template:
            if pr.kind not in ("iri", "var") or any(
                t.kind == "var" and t.value.startswith("__p") for t in (s, o)
            ):
                raise ValueError(
                    "BGP: CONSTRUCT WHERE allows only plain triple "
                    "patterns (no property paths) — use CONSTRUCT "
                    "{ template } WHERE { ... } instead"
                )
        q.branches.append(Branch(patterns=list(q.template)))
        if p.peek() is not None:
            raise ValueError(
                "BGP: CONSTRUCT WHERE takes no solution modifiers"
            )
        return q
    if form == "construct":
        # CONSTRUCT { template } WHERE { patterns }
        p.expect("{")
        tb = Branch()
        _parse_group(p, tb)
        if (
            tb.filters or tb.optionals or tb.optional_subs or tb.binds
            or tb.values or tb.exists or tb.minus or tb.graphs
            or tb.subqueries or tb.groups
        ):
            raise ValueError("BGP: CONSTRUCT template must be plain triples")
        for s, pr, o in tb.patterns:
            if pr.kind not in ("iri", "var"):
                raise ValueError(
                    "BGP: CONSTRUCT template predicates must be IRIs or vars"
                )
        if not tb.patterns:
            raise ValueError("BGP: empty CONSTRUCT template")
        q.template = tb.patterns
    if form == "select" and p.peek() and p.peek().lower() == "distinct":
        p.next()
        q.distinct = True
    _AGG_FUNCS = ("count", "sum", "avg", "min", "max", "group_concat", "sample")

    def _parse_agg(func: str) -> tuple[str, str | None, bool, str | None]:
        """After the function name: '(' [DISTINCT] ?v|'*'
        [; SEPARATOR="..."] ')'."""
        p.expect("(")
        distinct = False
        var: str | None = None
        sep: str | None = " " if func == "group_concat" else None
        if p.peek() == "*":
            p.next()
            if func != "count":
                raise ValueError(f"BGP: {func.upper()}(*) is not valid SPARQL")
        else:
            if p.peek() and p.peek().lower() == "distinct":
                p.next()
                distinct = True
                if func != "count":
                    raise ValueError(
                        "BGP: DISTINCT is only supported inside COUNT()"
                    )
            v = p.term()
            if v.kind != "var":
                raise ValueError("BGP: aggregate argument must be a variable")
            var = v.value
        if p.peek() == ";":
            if func != "group_concat":
                raise ValueError("BGP: SEPARATOR is only valid in GROUP_CONCAT")
            p.next()
            p.expect("SEPARATOR")
            p.expect("=")
            s = p.term()
            if s.kind != "literal":
                raise ValueError('BGP: SEPARATOR needs a "string"')
            sep = s.value
        p.expect(")")
        return func, var, distinct, sep

    while (
        q.form == "select"
        and p.peek()
        and p.peek() != "{"
        and p.peek().lower() not in ("where", "from")
    ):
        t = p.next()
        if t == "*":
            q.select = []
            break
        if t == "(":
            nxt = p.peek()
            if nxt and nxt.lower() in _AGG_FUNCS and (
                p.i + 1 < len(p.toks) and p.toks[p.i + 1] == "("
            ):
                # (AGG(...) AS ?alias)
                func = p.next().lower()
                func, var, distinct, sep = _parse_agg(func)
                p.expect("AS")
                a = p.term()
                if a.kind != "var":
                    raise ValueError("BGP: aggregate alias must be a ?variable")
                p.expect(")")
                q.aggregates.append((func, var, distinct, sep, a.value))
                q.select.append(a.value)
                continue
            # scalar (expr AS ?alias): rewind over '(' so the FILTER
            # expression translator (bind mode) consumes the whole form
            p.i -= 1
            sql, var = _filter_to_sql(p, bind=True, meta=q.meta_vars)
            q.select_exprs.append((sql, var))
            q.select.append(var)
            continue
        if t.lower() in _AGG_FUNCS and p.peek() == "(":
            # bare COUNT(?v) — alias generated as func_var / func_all
            func, var, distinct, sep = _parse_agg(t.lower())
            alias = f"{func}_{var or 'all'}"
            q.aggregates.append((func, var, distinct, sep, alias))
            q.select.append(alias)
            continue
        if not t.startswith("?"):
            raise ValueError(f"BGP: SELECT expects variables or *, got {t!r}")
        q.select.append(t[1:])
    # dataset clauses (any query form): FROM <g> / FROM NAMED <g>
    while p.peek() and p.peek().lower() == "from":
        if subquery:
            raise ValueError("BGP: dataset clauses are not allowed in subqueries")
        p.next()
        named = False
        if p.peek() and p.peek().lower() == "named":
            p.next()
            named = True
        g = p.term()
        if g.kind != "iri":
            raise ValueError("BGP: FROM takes an <IRI>")
        (q.from_named if named else q.from_graphs).append(g.value)
    if p.peek() and p.peek().lower() == "where":
        p.next()
    p.expect("{")
    nxt2 = p.toks[p.i + 1] if p.i + 1 < len(p.toks) else None
    if p.peek() == "{" and not (nxt2 and nxt2.lower() == "select"):
        # UNION form: { group } UNION { group } [ UNION { group } ]*
        while True:
            p.expect("{")
            q.branches.append(Branch())
            _parse_group(p, q.branches[-1])
            t = p.peek()
            if t is not None and t.lower() == "union":
                p.next()
                continue
            break
        if p.peek() == "}":
            p.next()
        else:
            # the WHERE group continues past the union chain
            # ({A} UNION {B} . more-patterns): demote the chain to a
            # nested-group sub-plan and parse the remainder into one
            # enclosing branch — SPARQL's group semantics exactly
            gq = BGPQuery(form="select", select=[], branches=q.branches)
            q.branches = []
            b = Branch(groups=[gq])
            _parse_group(p, b)
            q.branches.append(b)
    else:
        q.branches.append(Branch())
        _parse_group(p, q.branches[0])
    # solution modifiers
    while p.peek() is not None and not (subquery and p.peek() == "}"):
        t = p.next().lower()
        if t == "order":
            p.expect("BY")
            while p.peek() and (
                p.peek().startswith("?")
                or p.peek() == "("
                or p.peek().lower() in ("asc", "desc")
            ):
                tok = p.next()
                asc = True
                if tok.lower() in ("asc", "desc"):
                    asc = tok.lower() == "asc"
                    tok = None  # key follows
                elif tok == "(":
                    p.i -= 1  # bare ( expr ): rewind for the translator
                    tok = None
                if tok is not None:
                    # bare ?var
                    q.order_by.append((f"`{tok[1:]}`", True, tok[1:]))
                    continue
                # ASC/DESC( key ) or bare ( expr ): a lone variable stays
                # a var key (typed companion eligible); anything else is
                # an expression key via the FILTER translator
                if (
                    p.peek() == "("
                    and p.i + 1 < len(p.toks)
                    and p.toks[p.i + 1].startswith("?")
                    and p.i + 2 < len(p.toks)
                    and p.toks[p.i + 2] == ")"
                ):
                    p.next()
                    v = p.term()
                    p.next()  # ')'
                    q.order_by.append((f"`{v.value}`", asc, v.value))
                else:
                    sql = _filter_to_sql(p, meta=q.meta_vars)
                    q.order_by.append((sql, asc, None))
        elif t == "limit":
            q.limit = int(p.next())
        elif t == "offset":
            q.offset = int(p.next())
        elif t == "group":
            p.expect("BY")
            while p.peek() and p.peek().startswith("?"):
                v = p.term()
                q.group_by.append(v.value)
            if not q.group_by:
                raise ValueError("BGP: GROUP BY needs at least one variable")
        elif t == "having":
            q.having = _filter_to_sql(p)
        else:
            raise ValueError(f"BGP: unsupported solution modifier {t!r}")
    for b in q.branches:
        if not (b.patterns or b.graphs or b.subqueries or b.groups):
            raise ValueError("BGP: empty graph pattern")
    if q.aggregates or q.group_by:
        agg_aliases = {a for *_, a in q.aggregates}
        expr_aliases = {v for _, v in q.select_exprs}
        stray = [
            v
            for v in q.select
            if v not in agg_aliases and v not in q.group_by
            and v not in expr_aliases
        ]
        if stray:
            raise ValueError(
                f"BGP: selected variables must appear in GROUP BY: {stray}"
            )
    elif q.having is not None:
        raise ValueError("BGP: HAVING requires GROUP BY or aggregates")
    return q


# ---------------------------------------------------------------------------
# Compiler: patterns -> DataFrame join tree
# ---------------------------------------------------------------------------


def _pattern_vars(pat: tuple[Term, Term, Term]) -> set[str]:
    return {t.value for t in pat if t.kind == "var"}


def _pattern_frame(
    triples: DataFrame,
    pat: tuple[Term, Term, Term],
    want_meta: frozenset[str] = frozenset(),
    graph_var: str | None = None,
    want_typed: frozenset[str] = frozenset(),
) -> tuple[DataFrame, set[str]]:
    """One scan per pattern: constants filtered (pushdown-eligible),
    variables projected under their names.

    ``want_meta`` lists variables whose RDF-term metadata (lang tag,
    literal flag) a CONSTRUCT template needs; for those, companion
    columns ``__m_lang_<v>`` / ``__m_lit_<v>`` ride along — from the
    object position's real metadata, or the IRI constants
    (null/false) when the variable binds a subject/predicate slot.

    ``graph_var`` (GRAPH ?g groups): the input frame carries a
    ``graph`` column; only named-graph rows match, and the label is
    projected as the variable — shared across the group's patterns, so
    the pattern join keys include it (all patterns in one graph)."""
    s, p, o = pat
    if s.kind == "literal" or p.kind == "literal":
        raise ValueError("BGP: literal subjects/predicates are not valid RDF")
    if p.kind.startswith("path_group"):
        return _group_closure_frame(triples, pat, graph_var=graph_var)
    df = triples
    if graph_var is not None:
        df = df.where(F.col("graph").isNotNull())
    if s.kind == "iri":
        df = df.where(F.col("subj") == s.value)
    if p.kind == "iri":
        df = df.where(F.col("pred") == p.value)
    elif p.kind == "iri_alt":
        # alternation: ONE scan with an IN filter (pushdown-eligible,
        # prunes multiple predicate partitions in one pass)
        df = df.where(F.col("pred").isin(*p.alts))
    elif p.kind == "iri_neg":
        # negated property set: NOT IN over the excluded predicates
        df = df.where(~F.col("pred").isin(*p.alts))
    if o.kind == "iri":
        df = df.where((F.col("obj") == o.value) & (~F.col("obj_is_literal")))
    elif o.kind == "literal":
        df = df.where((F.col("obj") == o.value) & F.col("obj_is_literal"))
        # SPARQL term equality: "x"@fr only matches that lang;
        # a plain "x" only matches an UNtagged literal
        if o.lang is not None:
            df = df.where(F.col("obj_lang") == o.lang)
        else:
            df = df.where(F.col("obj_lang").isNull())
    cols: dict[str, str] = {}
    if graph_var is not None:
        cols[graph_var] = "graph"
    for term, src in ((s, "subj"), (p, "pred"), (o, "obj")):
        if term.kind == "var":
            if term.value in cols:
                # repeated variable inside one pattern: equality filter
                # (also covers GRAPH ?g { ?g ... } self-reference)
                df = df.where(F.col(cols[term.value]) == F.col(src))
            else:
                cols[term.value] = src
    proj = [F.col(src).alias(var) for var, src in cols.items()]
    for var, src in cols.items():
        if var in want_meta:
            if src == "obj":
                proj.append(F.col("obj_lang").alias(f"__m_lang_{var}"))
                proj.append(F.col("obj_is_literal").alias(f"__m_lit_{var}"))
                # RDF 1.1 datatype: explicit ^^dt when the frame
                # carries it; lang-tagged = rdf:langString; plain =
                # xsd:string; non-literal = NULL (datatype() unbound)
                plain_dt = F.when(
                    F.col("obj_lang").isNotNull(), F.lit(_RDF_LANGSTRING)
                ).otherwise(F.lit(_XSD_STRING))
                dt = (
                    F.coalesce(F.col("obj_datatype"), plain_dt)
                    if "obj_datatype" in df.columns
                    else plain_dt
                )
                proj.append(
                    F.when(F.col("obj_is_literal"), dt).alias(
                        f"__m_dt_{var}"
                    )
                )
            else:  # subject/predicate position: always an IRI/bnode
                proj.append(
                    F.lit(None).cast("string").alias(f"__m_lang_{var}")
                )
                proj.append(F.lit(False).alias(f"__m_lit_{var}"))
                proj.append(
                    F.lit(None).cast("string").alias(f"__m_dt_{var}")
                )
        if var in want_typed:
            if src == "obj":
                if "obj_datatype" in df.columns:
                    # datatype-gated: only numeric ^^xsd: literals get
                    # a numeric ordering value (Jena/ARQ semantics)
                    tv = F.when(
                        F.col("obj_datatype").isin(*sorted(_NUMERIC_XSD)),
                        F.col("obj").try_cast("double"),
                    )
                else:
                    # untyped frame (P5-stripped): numeric-looking
                    # lexical forms compare numerically (try-cast)
                    tv = F.col("obj").try_cast("double")
            else:  # subject/predicate/graph position: never numeric
                tv = F.lit(None).cast("double")
            proj.append(tv.alias(f"__t_{var}"))
    out = df.select(*proj)
    return out, set(cols)


_GRAPH_SEP = "\x00"  # fuses the graph label into closure node keys


def _bind_closure_endpoints(
    reach: DataFrame, s: Term, o: Term, extra: tuple[str, ...] = ()
) -> tuple[DataFrame, set[str]]:
    """Constant-filter / variable-bind the (src, dst) reachability
    relation of a closure or path-group pattern. ``extra`` columns
    (e.g. the graph label) ride through the projection unchanged."""
    df = reach
    if s.kind == "iri":
        df = df.where(F.col("src") == s.value)
    if o.kind in ("iri", "literal"):
        df = df.where(F.col("dst") == o.value)
    cols: dict[str, str] = {}
    for term, src in ((s, "src"), (o, "dst")):
        if term.kind == "var":
            if term.value in cols:
                df = df.where(F.col(cols[term.value]) == F.col(src))
            else:
                cols[term.value] = src
    out = df.select(
        *(F.col(src).alias(var) for var, src in cols.items()),
        *(F.col(c) for c in extra),
    )
    return out, set(cols)


def _group_closure_frame(
    triples: DataFrame,
    pat: tuple[Term, Term, Term],
    graph_var: str | None = None,
) -> tuple[DataFrame, set[str]]:
    """Parenthesized path group ``(seq | seq ...)[+*?]``: the group is
    compiled to a DERIVED (src, dst) edge frame — each alternative a
    chain of pred-filtered scans joined on fresh midpoints (inverse
    elements swap endpoint roles), alternatives unioned — and the
    modifier then applies to that relation: ``+`` runs
    operators/graph.py::transitive_closure over the distinct derived
    edges (the frontier-BFS scale shape), ``*``/``?`` add the
    zero-length identity over every term of the graph. A single
    modified IRI (``iri+``) is the one-element group. Endpoints compare
    on the lexical form.

    ``graph_var`` (GRAPH ?g groups): the input carries a ``graph``
    column and paths must stay WITHIN each named graph. The label is
    fused into BOTH endpoint keys (``graph\\x00node`` — the pooled
    trick operators/inference.py uses for multi-predicate closures),
    so chain midpoint joins and the closure stay within each named
    graph in ONE distributed job; the label splits back out afterwards
    and binds the variable."""
    from sifr_project_java_ontology_processing_spark.operators.graph import (
        transitive_closure,
    )

    s, p, o = pat
    base = triples
    if graph_var is not None:
        base = base.where(F.col("graph").isNotNull())

    def _key(col: str) -> F.Column:
        if graph_var is not None:
            return F.concat_ws(_GRAPH_SEP, "graph", col)
        return F.col(col)

    identity: DataFrame | None = None  # node universe, built lazily

    def _identity() -> DataFrame:
        nonlocal identity
        if identity is None:
            identity = (
                base.select(_key("subj").alias("src"))
                .unionByName(base.select(_key("obj").alias("src")))
                .distinct()
                .select("src", F.col("src").alias("dst"))
            )
        return identity

    alt_frames: list[DataFrame] = []
    for alt in p.alts or ():
        cur: DataFrame | None = None
        for el in alt.split(_GSEP):
            el, _, elmod = el.partition("\x02")
            inv = el.startswith("^")
            iri = el[1:] if inv else el
            step = base.where(F.col("pred") == iri).select(
                _key("obj" if inv else "subj").alias("src"),
                _key("subj" if inv else "obj").alias("dst"),
            )
            # per-element modifier: the element's relation is its own
            # closure / optionally-empty variant BEFORE composition —
            # (a+/b) composes reach(a) with b, (a?/b) unions the
            # skip-a identity into the first hop
            if elmod == "+":
                step = transitive_closure(step).select("src", "dst")
            elif elmod == "*":
                step = (
                    transitive_closure(step)
                    .select("src", "dst")
                    .unionByName(_identity())
                    .distinct()
                )
            elif elmod == "?":
                step = step.unionByName(_identity()).distinct()
            if cur is None:
                cur = step
            else:
                cur = (
                    cur.select("src", F.col("dst").alias("_m"))
                    .join(step.select(F.col("src").alias("_m"), "dst"), "_m")
                    .select("src", "dst")
                )
        alt_frames.append(cur)
    edges = alt_frames[0]
    for f in alt_frames[1:]:
        edges = edges.unionByName(f)
    edges = edges.distinct()
    if p.kind in ("path_group_plus", "path_group_star"):
        reach = transitive_closure(edges).select("src", "dst")
    else:  # bare group / zero-or-one: the derived relation itself
        reach = edges
    if p.kind in ("path_group_star", "path_group_opt"):
        reach = reach.unionByName(_identity()).distinct()
    if graph_var is not None:
        reach = reach.select(
            F.substring_index("src", _GRAPH_SEP, 1).alias("_g"),
            F.substring_index("src", _GRAPH_SEP, -1).alias("src"),
            F.substring_index("dst", _GRAPH_SEP, -1).alias("dst"),
        )
        out, cols = _bind_closure_endpoints(reach, s, o, extra=("_g",))
        out = out.withColumnRenamed("_g", graph_var)
        return out, cols | {graph_var}
    return _bind_closure_endpoints(reach, s, o)


def _greedy_order(patterns: list[tuple[Term, Term, Term]]) -> list[int]:
    """Connectivity-greedy join order: seed with the most-constant
    pattern, then always attach the pattern sharing the most bound
    variables (ties: more constants, then input order)."""

    def n_const(i: int) -> int:
        return sum(1 for t in patterns[i] if t.kind != "var")

    remaining = set(range(len(patterns)))
    order = [max(remaining, key=lambda i: (n_const(i), -i))]
    remaining.discard(order[0])
    bound = _pattern_vars(patterns[order[0]])
    while remaining:
        nxt = max(
            remaining,
            key=lambda i: (len(bound & _pattern_vars(patterns[i])), n_const(i), -i),
        )
        order.append(nxt)
        remaining.discard(nxt)
        bound |= _pattern_vars(patterns[nxt])
    return order


def _compat_negation_join(
    acc: DataFrame,
    idf: DataFrame,
    shared: list[str],
    nullable: list[str],
    mode: str,
) -> DataFrame:
    """[NOT] EXISTS / MINUS against a solution frame whose shared
    variables may be UNBOUND (OPTIONAL/BIND/subquery-sourced NULLs).

    SPARQL compatibility treats an unbound variable as
    compatible-with-anything, so a plain equi-join (NULL never equals)
    under-matches. Rather than a non-equi join condition (which forces
    a nested-loop join), split the outer frame by the null-mask of the
    nullable shared variables — the masks PARTITION the frame, so each
    subset gets an exact hash/broadcast-eligible equi-join on exactly
    the variables bound in both domains, and the union preserves
    multiplicity without row ids. 2^k subsets for k nullable shared
    vars (k is the count of OPTIONAL-bound vars shared with the inner
    group — 1 or 2 in practice); Catalyst prunes empty subsets cheaply.

    The inner group is a plain BGP (``_parse_plain_group``), so inner
    solutions bind every inner variable — only the outer side needs
    mask-splitting. Per mask, the bound-in-both set B:
    - ``exists``: B empty → the subset survives iff the inner group has
      ANY solution (compatible with everything); else left-semi on B.
    - ``not_exists``: B empty → removed entirely if the inner group is
      non-empty; else left-anti on B.
    - ``minus``: B empty → kept (SPARQL's domain-overlap rule: no
      variable bound in both mappings means no removal); else
      left-anti on B.
    """
    # every mask subset re-filters ``acc`` and re-joins ``idf`` with a
    # DIFFERENT filter/key set, so the exchanges are not identical and
    # ReuseExchange cannot dedup them (verified: 0 ReusedExchange in
    # the split plan) — without pinning, the full upstream join tree
    # would re-execute once per subset (2^k times). One lazy
    # localCheckpoint each materializes them exactly once on first use.
    acc = acc.localCheckpoint(eager=False)
    idf = idf.localCheckpoint(eager=False)
    solid = [v for v in shared if v not in nullable]
    parts: list[DataFrame] = []
    for mask in range(1 << len(nullable)):
        cond = F.lit(True)
        bound_now = list(solid)
        for i, v in enumerate(nullable):
            if mask >> i & 1:
                cond = cond & F.col(v).isNotNull()
                bound_now.append(v)
            else:
                cond = cond & F.col(v).isNull()
        subset = acc.where(cond)
        if bound_now:
            how = "left_semi" if mode == "exists" else "left_anti"
            parts.append(subset.join(idf, on=sorted(bound_now), how=how))
        elif mode == "minus":
            parts.append(subset)
        else:
            probe = idf.limit(1).select(F.lit(1).alias("__exists_probe"))
            if mode == "exists":
                parts.append(subset.crossJoin(probe).drop("__exists_probe"))
            else:
                parts.append(subset.join(probe, F.lit(True), "left_anti"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _join_patterns(
    triples: DataFrame,
    patterns: list[Pattern],
    want_meta: frozenset[str] = frozenset(),
    graph_var: str | None = None,
    want_typed: frozenset[str] = frozenset(),
) -> tuple[DataFrame, set[str]]:
    """Join a pattern list in greedy connectivity order. With
    ``graph_var`` every pattern additionally binds the graph label, so
    the shared-variable join keys include it (same named graph)."""
    order = _greedy_order(patterns)
    acc, bound = _pattern_frame(
        triples, patterns[order[0]], want_meta, graph_var, want_typed
    )
    if graph_var is not None:
        bound = bound | {graph_var}
    for i in order[1:]:
        nxt, nvars = _pattern_frame(
            triples, patterns[i], want_meta, graph_var, want_typed
        )
        if graph_var is not None:
            nvars = nvars | {graph_var}
        # a shared variable denotes ONE term, so duplicate companion
        # metadata from the right side is redundant — drop it
        dup_meta = [
            c for c in nxt.columns if c.startswith(("__m_", "__t_")) and c in acc.columns
        ]
        if dup_meta:
            nxt = nxt.drop(*dup_meta)
        shared = sorted(bound & nvars)
        if shared:
            acc = acc.join(nxt, on=shared, how="inner")
        else:
            # disconnected BGP component: genuine cross product per
            # SPARQL semantics (rare; the planner only reaches this
            # when no connected pattern remains)
            acc = acc.crossJoin(nxt)
        bound |= nvars
    return acc, bound


def _exec_branch(
    triples: DataFrame,
    b: Branch,
    want_meta: frozenset[str] = frozenset(),
    named: DataFrame | None = None,
    want_typed: frozenset[str] = frozenset(),
) -> tuple[DataFrame, set[str]]:
    if named is None:
        # no named-graph view supplied: GRAPH patterns match nothing
        named = triples.withColumn("graph", F.lit(None).cast("string")).where(
            F.lit(False)
        )
    units: list[tuple[DataFrame, set[str]]] = []
    if b.patterns:
        units.append(_join_patterns(triples, b.patterns, want_meta, want_typed=want_typed))
    for gterm, pats in b.graphs:
        if gterm.kind == "iri":
            # constant graph: one pushdown-eligible filter, then the
            # group is an ordinary BGP over that slice
            src = named.where(F.col("graph") == gterm.value).drop("graph")
            units.append(_join_patterns(src, pats, want_meta, want_typed=want_typed))
        else:
            units.append(
                _join_patterns(
                    named, pats, want_meta,
                    graph_var=gterm.value, want_typed=want_typed,
                )
            )
    # variables that may be UNBOUND (NULL) in the solution frame —
    # OPTIONAL-introduced, BIND-computed (any expression can yield
    # NULL), or projected by a subquery (whose own branch may have had
    # an OPTIONAL). Pattern-scan variables are always bound.
    maybe_null: set[str] = set()
    for sq in b.subqueries:
        # evaluated independently over the same dataset; its projected
        # variables join the enclosing group like any other unit
        sdf = _run_query(triples, named, sq)
        svars = {c for c in sdf.columns if not c.startswith("__")}
        units.append((sdf.select(*sorted(svars)), svars))
        maybe_null |= svars
    for gq in b.groups:
        # nested group graph pattern (or in-group UNION chain): SPARQL
        # evaluates groups bottom-up and joins on shared variables —
        # exactly the subquery shape, with SELECT-* projection (plus
        # any term-metadata companions the enclosing plan requested).
        # UNION alternatives may leave variables null-filled, so every
        # group variable is conservatively maybe-null for the negation
        # joins.
        gdf = _run_query(triples, named, gq, keep_meta=want_meta)
        gvars = {c for c in gdf.columns if not c.startswith("__")}
        units.append((gdf, gvars))
        maybe_null |= gvars
    acc, bound = units[0]
    for nxt, nvars in units[1:]:
        dup_meta = [
            c for c in nxt.columns if c.startswith(("__m_", "__t_")) and c in acc.columns
        ]
        if dup_meta:
            nxt = nxt.drop(*dup_meta)
        shared = sorted(bound & nvars)
        acc = acc.join(nxt, on=shared, how="inner") if shared else acc.crossJoin(nxt)
        bound |= nvars
    # OPTIONAL groups left-join strictly in TEXT order (SPARQL: a later
    # group sees bindings the earlier ones introduced); optional_order
    # interleaves the flat and sub-plan kinds. A programmatically-built
    # Branch without a (complete) order record falls back to flats
    # first, then subs — and never silently drops a group.
    opt_order = list(b.optional_order)
    if len(opt_order) != len(b.optionals) + len(b.optional_subs):
        opt_order = [("flat", i) for i in range(len(b.optionals))] + [
            ("sub", i) for i in range(len(b.optional_subs))
        ]
    for kind, oi in opt_order:
        if kind == "sub":
            # OPTIONAL with full group semantics (BIND/VALUES/UNION/
            # nested OPTIONAL/...): the group is an independent
            # SELECT-* sub-plan over the same dataset, LEFT-joined on
            # the shared variables — the group's own filters/binds
            # apply INSIDE it, so a failing group leaves the outer
            # solution intact with unbound vars.
            odf = _run_query(triples, named, b.optional_subs[oi], keep_meta=want_meta)
            dup_meta = [
                c
                for c in odf.columns
                if c.startswith(("__m_", "__t_")) and c in acc.columns
            ]
            if dup_meta:
                odf = odf.drop(*dup_meta)
            ovars = {c for c in odf.columns if not c.startswith("__")}
            shared = sorted(bound & ovars)
            if not shared:
                raise ValueError(
                    "BGP: OPTIONAL group shares no variable with the required patterns"
                )
            acc = acc.join(odf, on=shared, how="left")
            maybe_null |= ovars - bound
            bound |= ovars
            continue
        opt = b.optionals[oi]
        ofilters = (
            b.optional_filters[oi] if oi < len(b.optional_filters) else []
        )
        odf, ovars = _join_patterns(
            triples, opt, want_meta, want_typed=want_typed
        )
        for f in ofilters:
            # FILTER inside OPTIONAL: evaluated as part of the group
            # (failing the filter fails the GROUP, the outer solution
            # survives with the vars unbound) — applied to the frame
            # BEFORE the left join. Only inner-scoped variables are
            # supported; an outer-variable reference would need
            # join-condition semantics.
            # strip single-quoted SQL string literals first so a
            # backtick INSIDE a literal is never read as a variable ref
            refs = set(re.findall(r"`([^`]+)`", re.sub(r"'(?:[^']|'')*'", "", f)))
            refs = {
                re.sub(r"^__m_(lang|lit|dt)_", "", r) for r in refs
            }
            if not refs <= ovars:
                raise ValueError(
                    "BGP: FILTER inside OPTIONAL may only reference the "
                    f"group's own variables (got {sorted(refs - ovars)})"
                )
            odf = odf.where(F.expr(f))
        dup_meta = [
            c for c in odf.columns if c.startswith(("__m_", "__t_")) and c in acc.columns
        ]
        if dup_meta:
            odf = odf.drop(*dup_meta)
        shared = sorted(bound & ovars)
        if not shared:
            raise ValueError(
                "BGP: OPTIONAL group shares no variable with the required patterns"
            )
        acc = acc.join(odf, on=shared, how="left")
        maybe_null |= ovars - bound
        bound |= ovars
    # VALUES: inline constant bindings, joined on the shared variables
    # (lexical-form comparison); a VALUES block with no shared variable
    # extends each solution with every row (cross product, per SPARQL)
    for vnames, rows in b.values:
        spark = triples.sparkSession
        vdf = spark.createDataFrame(
            [[t.value for t in row] for row in rows],
            ", ".join(f"`{v}` string" for v in vnames),
        )
        shared = sorted(bound & set(vnames))
        acc = acc.join(vdf, on=shared, how="inner") if shared else acc.crossJoin(vdf)
        bound |= set(vnames)
    # BIND: computed columns, in order, each visible to later binds
    # and to the group's FILTERs
    for sql, var in b.binds:
        if var in bound:
            raise ValueError(f"BGP: BIND would rebind ?{var}")
        _raise_if_missing_meta(sql, set(acc.columns), "BIND")
        acc = acc.withColumn(var, F.expr(sql))
        bound.add(var)
        maybe_null.add(var)
    # SPARQL group scope: FILTERs apply after OPTIONALs have bound
    # their variables (a filter on an OPTIONAL var is legal)
    for f in b.filters:
        _raise_if_missing_meta(f, set(acc.columns), "FILTER")
        acc = acc.where(F.expr(f))
    # FILTER [NOT] EXISTS: left-semi / left-anti join on the shared
    # variables — Catalyst broadcasts the inner side when small, and
    # neither join shape duplicates or widens the solution frame.
    # A variable-disjoint EXISTS degenerates to "does the inner group
    # have ANY solution": probe its first row only.
    for positive, pats in b.exists:
        idf, ivars = _join_patterns(triples, pats)
        shared = sorted(bound & ivars)
        nullable = [v for v in shared if v in maybe_null]
        if nullable:
            # a shared variable may be UNBOUND: spec compatibility
            # (unbound matches anything) via the null-mask split
            acc = _compat_negation_join(
                acc, idf, shared, nullable,
                "exists" if positive else "not_exists",
            )
        elif shared:
            how = "left_semi" if positive else "left_anti"
            acc = acc.join(idf, on=shared, how=how)
        else:
            probe = idf.limit(1).select(F.lit(1).alias("__exists_probe"))
            if positive:
                acc = acc.crossJoin(probe).drop("__exists_probe")
            else:
                acc = acc.join(probe, F.lit(True), "left_anti")
    # MINUS: left-anti on shared variables; SPARQL's disjoint-domain
    # rule makes a MINUS sharing no variable a no-op (unlike NOT
    # EXISTS, which removes everything when the inner group matches)
    for pats in b.minus:
        mdf, mvars = _join_patterns(triples, pats)
        shared = sorted(bound & mvars)
        nullable = [v for v in shared if v in maybe_null]
        if nullable:
            acc = _compat_negation_join(acc, mdf, shared, nullable, "minus")
        elif shared:
            acc = acc.join(mdf, on=shared, how="left_anti")
    # internal path-sequence join variables are branch-local; project
    # them away before branches align for UNION (companion __m_ term
    # metadata stays in the frame for CONSTRUCT emission)
    visible = {v for v in bound if not v.startswith("__p")}
    if visible != bound:
        meta_cols = [c for c in acc.columns if c.startswith(("__m_", "__t_"))]
        acc = acc.select(*sorted(visible), *meta_cols)
    return acc, visible


def _emit_construct(
    acc: DataFrame, template: list[Pattern], bound: set[str]
) -> DataFrame:
    """Instantiate a CONSTRUCT template over the solution frame: one
    narrow projection per template triple, unioned and set-deduped
    (a CONSTRUCT result is a graph). Solutions leaving any template
    slot unbound (OPTIONAL) produce no triple, per SPARQL. Object
    variables carry their lang/literal metadata via the __m_ columns;
    closure-bound endpoints (no metadata) default to IRI."""
    parts = []
    for s, pr, o in template:
        for t in (s, pr):
            if t.kind == "var" and t.value not in bound:
                raise ValueError(f"BGP: template variable ?{t.value} not bound")
        if o.kind == "var" and o.value not in bound:
            raise ValueError(f"BGP: template variable ?{o.value} not bound")

        def slot(t: Term) -> F.Column:
            return F.col(t.value) if t.kind == "var" else F.lit(t.value)

        if o.kind == "var":
            lang_c = f"__m_lang_{o.value}"
            lit_c = f"__m_lit_{o.value}"
            lang = (
                F.col(lang_c)
                if lang_c in acc.columns
                else F.lit(None).cast("string")
            )
            lit = (
                F.coalesce(F.col(lit_c), F.lit(False))
                if lit_c in acc.columns
                else F.lit(False)
            )
        elif o.kind == "literal":
            lang = (
                F.lit(o.lang) if o.lang else F.lit(None).cast("string")
            )
            lit = F.lit(True)
        else:
            lang, lit = F.lit(None).cast("string"), F.lit(False)
        part = acc.select(
            slot(s).alias("subj"),
            slot(pr).alias("pred"),
            slot(o).alias("obj"),
            lang.alias("obj_lang"),
            lit.alias("obj_is_literal"),
        ).where(
            F.col("subj").isNotNull()
            & F.col("pred").isNotNull()
            & F.col("obj").isNotNull()
        )
        parts.append(part)
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.distinct()


def execute_bgp(
    triples: DataFrame,
    query: BGPQuery | str,
    *,
    typed_numerics: bool = False,
) -> DataFrame:
    """Run a BGP SELECT over a triples DataFrame (schemas.TRIPLES
    shape). Accepts a parsed BGPQuery or SPARQL text.

    UNION branches execute independently and union by name with
    missing variables null-filled (SPARQL union semantics); OPTIONAL
    groups LEFT-join on their shared variables, new variables coming
    back null where the group has no match.

    ``typed_numerics`` (opt-in; default preserves the documented
    lexical behavior): ORDER BY and MIN/MAX compare bindings
    NUMERICALLY the way Jena/ARQ does for ``xsd:integer``-family
    literals. When the triples frame carries an ``obj_datatype``
    column (rdf_io readers with ``keep_datatype=True``), only
    numeric-``^^xsd:``-typed literals get a numeric value; frames
    without the column fall back to try-cast of the lexical form
    (any numeric-looking literal compares numerically). Numeric
    bindings order before non-numeric ones; ties and non-numerics
    break on the lexical form, keeping results deterministic and
    relationally replayable (DuckDB: ``ORDER BY TRY_CAST(v AS
    DOUBLE) NULLS LAST, v``). With DISTINCT the companion datatype
    is gone post-projection, so ordering uses the lexical try-cast.
    Comparison FILTERs against number literals (``?v > 5``) are
    numeric in BOTH modes via SQL type coercion."""
    q = parse_sparql(query) if isinstance(query, str) else query
    # ---- dataset construction (quads-aware) ---------------------------
    # Convention: a ``graph`` column marks named-graph membership; NULL
    # (or no column) = default graph. FROM merges named graphs into the
    # default view; FROM NAMED restricts the named view. Both views are
    # plain filters on the one scan — partition-pruning-eligible when
    # the quads table is partitioned by graph.
    has_graph = "graph" in triples.columns
    trip_cols = [c for c in triples.columns if c != "graph"]
    if q.from_graphs or q.from_named:
        if not has_graph:
            raise ValueError("BGP: FROM/FROM NAMED need a quads table")
        if q.from_graphs:
            default = triples.where(F.col("graph").isin(*q.from_graphs)).select(
                *trip_cols
            )
            if len(q.from_graphs) > 1:
                # SPARQL: the FROM default graph is the RDF MERGE (set
                # union) of the graphs — a triple present in two of
                # them contributes ONE solution, not two
                default = default.distinct()
        else:
            default = triples.where(F.lit(False)).select(*trip_cols)
        named = (
            triples.where(
                F.col("graph").isin(*q.from_named) & F.col("graph").isNotNull()
            )
            if q.from_named
            else triples.where(F.lit(False))
        )
    elif has_graph:
        default = triples.where(F.col("graph").isNull()).select(*trip_cols)
        named = triples.where(F.col("graph").isNotNull())
    else:
        default, named = triples, None
    return _run_query(default, named, q, typed=typed_numerics)


# numeric XSD datatypes (XML Schema 1.1 numeric hierarchy): bindings
# typed with one of these get a double-valued ordering companion
_NUMERIC_XSD = frozenset(
    f"http://www.w3.org/2001/XMLSchema#{t}"
    for t in (
        "integer", "decimal", "double", "float", "int", "long", "short",
        "byte", "nonNegativeInteger", "positiveInteger", "negativeInteger",
        "nonPositiveInteger", "unsignedLong", "unsignedInt",
        "unsignedShort", "unsignedByte",
    )
)


def _run_query(
    triples: DataFrame,
    named: DataFrame | None,
    q: BGPQuery,
    typed: bool = False,
    keep_meta: frozenset[str] = frozenset(),
) -> DataFrame:
    """Execute a parsed query over an already-constructed dataset
    (``triples`` = default-graph view, ``named`` = named-graph view).
    Also the evaluation entry for ``{ SELECT ... }`` subqueries and
    internal nested-group/OPTIONAL sub-plans, which share the
    enclosing query's dataset. ``keep_meta``: variables whose ``__m_*``
    term-metadata companions the ENCLOSING query needs (CONSTRUCT
    template objects, outer meta filters) — requested at this plan's
    pattern scans and preserved through the SELECT-* projection."""
    if q.form == "describe" and not q.branches:
        # constants-only DESCRIBE: a plain IN filter on the subject —
        # pushdown-eligible, no join at all
        consts = [t.value for t in q.describe]
        return triples.where(F.col("subj").isin(*consts))
    want_meta = frozenset(
        t.value
        for pat in (q.template or [])
        for t in (pat[2],)
        if t.kind == "var"
    ) | frozenset(q.meta_vars) | keep_meta
    # typed-numeric ordering: only the variables ORDER BY / MIN / MAX
    # actually compare need the `__t_` double companion from the
    # pattern scan (DISTINCT projects companions away — lexical
    # try-cast fallback applies there, see execute_bgp docstring)
    want_typed: frozenset[str] = frozenset()
    if typed:
        want_typed = frozenset(
            var for *_, var in q.order_by if var and not q.distinct
        ) | frozenset(
            var
            for func, var, *_ in q.aggregates
            if var and func in ("min", "max")
        )
    frames = [
        _exec_branch(
            triples, b, want_meta | frozenset(b.meta_vars), named, want_typed
        )
        for b in q.branches
    ]
    bound: set[str] = set().union(*(v for _, v in frames))
    all_meta = sorted(
        {
            c
            for df, _ in frames
            for c in df.columns
            if c.startswith(("__m_", "__t_"))
        }
    )
    aligned = []
    for df, dvars in frames:
        missing = sorted(bound - dvars)
        meta_sel = [
            F.col(c)
            if c in df.columns
            else (
                F.lit(None).cast("double").alias(c)
                if c.startswith("__t_")
                else F.lit(None).cast("string").alias(c)
                if c.startswith(("__m_lang_", "__m_dt_"))
                else F.lit(False).alias(c)
            )
            for c in all_meta
        ]
        aligned.append(
            df.select(
                *sorted(dvars),
                *(F.lit(None).cast("string").alias(v) for v in missing),
                *meta_sel,
            )
        )
    acc = aligned[0]
    for df in aligned[1:]:
        acc = acc.unionByName(df)
    if q.form == "ask":
        # always exactly one boolean row — SPARQL ASK semantics
        return acc.agg((F.count(F.lit(1)) > 0).alias("ask"))
    if q.form == "construct":
        return _emit_construct(acc, q.template or [], bound)
    if q.form == "describe":
        missing_d = [
            t.value for t in q.describe if t.kind == "var" and t.value not in bound
        ]
        if missing_d:
            raise ValueError(f"BGP: DESCRIBE variables not bound: {missing_d}")
        parts = [
            acc.select(F.col(t.value).alias("__dr")).where(
                F.col(t.value).isNotNull()
            )
            for t in q.describe
            if t.kind == "var"
        ]
        consts = [t.value for t in q.describe if t.kind == "iri"]
        if consts:
            parts.append(
                triples.sparkSession.createDataFrame(
                    [[c] for c in consts], "`__dr` string"
                )
            )
        res = parts[0]
        for p_ in parts[1:]:
            res = res.unionByName(p_)
        # forward description: one semi-join of the triples table
        # against the deduped resource set
        return triples.join(
            res.distinct(), F.col("subj") == F.col("__dr"), "left_semi"
        )
    if q.aggregates or q.group_by:
        missing_g = [g for g in q.group_by if g not in bound]
        missing_a = [v for _, v, *_ in q.aggregates if v and v not in bound]
        if missing_g or missing_a:
            raise ValueError(
                f"BGP: aggregate/GROUP BY variables not bound: "
                f"{missing_g + missing_a}"
            )
        aggs = []
        for func, var, distinct, sep, alias in q.aggregates:
            if func == "count" and var is None:
                e = F.count(F.lit(1))
            elif func == "count":
                e = (
                    F.count_distinct(F.col(var))
                    if distinct
                    else F.count(F.col(var))
                )
            elif func in ("sum", "avg"):
                c = F.col(var).cast("double")
                e = F.sum(c) if func == "sum" else F.avg(c)
            elif func == "group_concat":
                # SPARQL leaves the order undefined; pin it to sorted
                # lexical order so results are deterministic (and
                # relationally replayable: string_agg ... ORDER BY)
                e = F.array_join(
                    F.sort_array(F.collect_list(F.col(var))), sep or " "
                )
            elif func == "sample":
                # deterministic SAMPLE: the lexical minimum
                e = F.min(F.col(var))
            elif func in ("min", "max") and f"__t_{var}" in acc.columns:
                # typed mode: the binding with the smallest/largest
                # NUMERIC value wins; non-numeric bindings sort after
                # every numeric one; lexical tie-break — deterministic
                # and a pure partial aggregate (min_by/max_by combine
                # map-side)
                sign = 1.0 if func == "min" else -1.0
                key = F.struct(
                    F.coalesce(
                        F.col(f"__t_{var}") * sign, F.lit(float("inf"))
                    ).alias("n"),
                    F.col(var).alias("l"),
                )
                e = F.min_by(F.col(var), key)
            else:  # min / max on the lexical form
                e = F.min(F.col(var)) if func == "min" else F.max(F.col(var))
            aggs.append(e.alias(alias))
        if aggs:
            acc = acc.groupBy(*q.group_by).agg(*aggs)
        else:  # GROUP BY with no aggregates: one row per group
            acc = acc.select(*q.group_by).distinct()
        if q.having:
            acc = acc.where(F.expr(q.having))
        bound = set(q.group_by) | {a for *_, a in q.aggregates}
    for sql, var in q.select_exprs:
        if var in bound:
            raise ValueError(f"BGP: SELECT expression would rebind ?{var}")
        acc = acc.withColumn(var, F.expr(sql))
        bound.add(var)
    def _sort_cols(frame: DataFrame) -> list:
        # var keys in typed mode get the numeric companion first (nulls
        # — non-numeric bindings — last) with the lexical form as the
        # deterministic tie-break; expression keys (and var keys in
        # lexical mode) sort on the expression alone
        cols = []
        for sql, asc, var in q.order_by:
            if typed and var is not None:
                tcol = f"__t_{var}"
                n = (
                    F.col(tcol)
                    if tcol in frame.columns
                    else F.col(var).try_cast("double")
                )
                cols.append(n.asc_nulls_last() if asc else n.desc_nulls_last())
                cols.append(F.col(var).asc() if asc else F.col(var).desc())
            else:
                e = F.expr(sql)
                cols.append(e.asc() if asc else e.desc())
        return cols

    if q.order_by and not q.distinct:
        # SPARQL orders BEFORE projection; sorting here keeps the
        # term-metadata/datatype companions in scope for expression
        # keys and typed var keys (the projection below is a narrow
        # map over the sorted frame — Catalyst compiles
        # sort+project+limit to TakeOrderedAndProject)
        for sql, _, var in q.order_by:
            if var is None:
                _raise_if_missing_meta(sql, set(acc.columns), "ORDER BY")
        acc = acc.orderBy(*_sort_cols(acc))
    if q.select:
        missing_sel = [v for v in q.select if v not in bound]
        if missing_sel:
            raise ValueError(f"BGP: SELECT variables not bound: {missing_sel}")
        acc = acc.select(*q.select)
    elif keep_meta:
        # internal SELECT-* sub-plan: ride the requested companions
        # out so the enclosing plan (CONSTRUCT emission, outer meta
        # expressions) still sees the RDF term metadata
        metas = [c for c in acc.columns if c.startswith(("__m_", "__t_"))]
        acc = acc.select(*sorted(bound), *metas)
    else:
        acc = acc.select(*sorted(bound))
    if q.distinct:
        acc = acc.distinct()
        if q.order_by:
            # DISTINCT projects the companions away — keys must be
            # expressible over the projected variables (typed var keys
            # fall back to the lexical try-cast inside _sort_cols)
            for sql, _, var in q.order_by:
                if var is None:
                    _raise_if_missing_meta(sql, set(acc.columns), "ORDER BY")
            acc = acc.orderBy(*_sort_cols(acc))
    if q.offset is not None:
        # SPARQL slice: skip OFFSET rows, then take LIMIT
        acc = acc.offset(q.offset)
    if q.limit is not None:
        acc = acc.limit(q.limit)
    return acc
