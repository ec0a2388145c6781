"""CUI/TUI enrichment cascade (SURVEY.md J1-J8, A9, S11).

Re-expresses the reference's per-class fallback loops
(cli/enrichment/OntologyCUIProcessor.java:121-231 ``processCUIs`` /
``findCUIs``, :273-297 ``processTUIs``) as ONE declarative plan:

    (classes ∪ each candidate source, tagged) → one per-concept
            aggregate → coalesce in priority order + stage tag

Priority (reference findCUIs): own ``umls:cui`` → CUI-shaped altLabels
→ mapping targets' CUIs → UMLS lookup by code → (optional, separate
operator) similarity disambiguation → reject.

Where the reference does O(classes) Redis-memoized point lookups
(BaseOntologyDelegate.java:257-283), each input here is read exactly
once; negative caching (utils/EmptyResultsCache.java) is simply the
empty set of a source that holds nothing for a concept (SURVEY.md §4.1).

Scale notes:
  * the class frame, the notation codes and every CUI source share the
    concept key, so ONE tagged-union hash aggregate (``_fused_agg``)
    yields class membership, the min notation code and each source's
    sorted set — one shuffle, whatever the number of stages;
  * the code stage is a code → CUIs dimension (one ``umls`` groupBy)
    broadcast to the aggregate's output; the TUI cascade reads the CUI
    cascade once (``explode_outer`` → broadcast MRSTY join → the same
    aggregate). Dimension tables are ontology-sized (≤ millions), facts
    are page-mention-sized (billions), so every lookup side broadcasts;
  * the per-stage short-circuit of the reference (later stages only
    fire for still-empty keys) is semantically identical to
    coalesce-after-aggregation; the fan-out is bounded by construction,
    so there is no wasted work to short-circuit;
  * stage counters (reference stats/CUIOntologyStats.java:7-33) fall
    out of ``groupBy("cui_stage").count()`` — no accumulators (those
    are at-least-once under task retries).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sifr_project_java_ontology_processing_spark.functions.text import CUI_PATTERN
from sifr_project_java_ontology_processing_spark.functions.uris import (
    MAPPING_PREDICATES,
    uri_fragment_code,
)

# Stage names double as the counter names of the metrics table
# (analogs of stats/CUIOntologyStats.java:7-33).
STAGE_OWN = "own_cui"
STAGE_ALT = "cui_in_alt_label"
STAGE_MAPPING = "cui_in_mappings"
STAGE_CODE = "cui_through_code"
STAGE_NONE = "remaining_without_cui"
# -mc full-UMLS fallback match (scoring.match_fallback,
# OntologyCUIProcessor.java:149-152)
STAGE_MATCH = "matched_umls_fallback"

TUI_STAGE_OWN = "own_tui"
TUI_STAGE_UMLS = "tui_from_umls_by_cui"
TUI_STAGE_MAPPING = "tui_in_mappings"
TUI_STAGE_NONE = "remaining_without_tui"


def _empty_arr():
    return F.array().cast("array<string>")


def _fused_agg(
    sources: list[tuple[DataFrame | None, str | None, str | None]],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """ONE tagged-union hash aggregate per concept over N candidate
    streams ``(concept_iri, value)``, each given as ``(df, out, how)``
    with ``how`` ``"set"`` (sorted-distinct array — the reference's
    TreeSet semantics, O3) or ``"min"`` (its "first of a TreeSet").

    ``sources[0]`` is the class frame: only its concepts get a row, and
    it alone supplies the ``keep`` columns (functionally dependent on
    the concept). Absent sources (``df=None``) come back as null
    columns; a class absent from a present source gets an EMPTY array
    where a per-source left join would give NULL — both read as "stage
    empty" downstream (size() > 0), which the exact cascade oracle
    tests pin.

    This replaces N groupBy + broadcast-join pairs (and the final join
    back to the class frame) with one shuffle whose width is constant in
    the number of stages, at any dimension size."""
    parts, aggs = [], [F.bool_or(F.col("_src") == 0).alias("_class")]
    aggs += [F.first(c, ignorenulls=True).alias(c) for c in keep]
    for i, (df, out, how) in enumerate(sources):
        if df is None:
            continue
        parts.append(
            df.select(
                "concept_iri",
                *(keep if i == 0 else ()),
                F.col("value").cast("string").alias("_v"),
                F.lit(i).alias("_src"),
            )
        )
        if out is not None:
            v = F.when(F.col("_src") == i, F.col("_v"))
            agg = F.min(v) if how == "min" else F.sort_array(F.collect_set(v))
            aggs.append(agg.alias(out))
    tagged = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    out_df = tagged.groupBy("concept_iri").agg(*aggs).where("_class").drop("_class")
    for df, out, how in sources:
        if df is None:
            out_df = out_df.withColumn(
                out, F.lit(None).cast("string" if how == "min" else "array<string>")
            )
    return out_df


def _pick(candidates: list[tuple], none_stage: str) -> tuple:
    """Priority cascade → (values, stage) columns: the first candidate
    ``(condition, values, stage_name)`` whose condition holds wins."""
    (cond, vals, name), *rest = candidates
    values, stage = F.when(cond, vals), F.when(cond, name)
    for cond, vals, name in rest:
        values, stage = values.when(cond, vals), stage.when(cond, name)
    return values.otherwise(_empty_arr()), stage.otherwise(none_stage)


def _nonempty(c: str):
    return F.size(F.col(c)) > 0


# Code-property priority chain (reference code/CompositeCodeFinder.java:24-40):
# skos:notation → icd:cdCode → icpc2p:ICPCCODE, then URI-fragment fallback.
CODE_PREDICATES = [
    "http://www.w3.org/2004/02/skos/core#notation",          # SKOSNotationCodeFinder.java:23
    "http://chu-rouen.fr/cismef/ICD-10#cdCode",              # ICDCodeFinder.java
    "http://purl.lirmm.fr/ontology/ICPC2P#ICPCCODE",         # ICPC2PCodeFinder.java
]


def _code_sources(
    ontology_labels: DataFrame, code_triples: DataFrame | None
) -> list[tuple[DataFrame, str, str]]:
    """The prioritized code-property chain as ``_fused_agg`` "min"
    sources (each property's "first of a TreeSet" = min, O3)."""
    sources = [
        (
            ontology_labels.where(F.col("label_kind") == "notation").select(
                "concept_iri", F.col("label").alias("value")
            ),
            "_code0",
            "min",
        )
    ]
    if code_triples is not None:
        sources += [
            (
                code_triples.where(F.col("pred") == pred).select(
                    "concept_iri", F.col("code").alias("value")
                ),
                f"_code{i}",
                "min",
            )
            for i, pred in enumerate(CODE_PREDICATES[1:], start=1)
        ]
    return sources


def _with_code(df: DataFrame, code_sources: list) -> DataFrame:
    """First non-null code of the chain, then the URI fragment before
    ``_`` (code/URICodeFinder.java:16-28)."""
    cols = [out for _df, out, _how in code_sources]
    frag = uri_fragment_code(F.col("concept_iri"))
    return df.withColumn(
        "code", F.coalesce(*[F.col(c) for c in cols], F.when(frag != "", frag))
    ).drop(*cols)


def _classes_source(classes: DataFrame) -> tuple[DataFrame, None, None]:
    return (
        classes.select("concept_iri", F.lit(None).cast("string").alias("value")),
        None,
        None,
    )


def find_codes(
    classes: DataFrame,
    ontology_labels: DataFrame,
    code_triples: DataFrame | None = None,
) -> DataFrame:
    """Composite code finder (reference code/CompositeCodeFinder.java:24-40):
    first non-null across the prioritized code-property chain
    (CODE_PREDICATES, each "first of a TreeSet" = min, O3), then the URI
    fragment before ``_`` (code/URICodeFinder.java:16-28).

    ``ontology_labels`` rows with label_kind='notation' are the
    skos:notation source; ``code_triples`` (concept_iri, pred, code)
    optionally supplies the icd/icpc2p property assertions.
    Returns (concept_iri, code) with code possibly null, one row per
    distinct class.
    """
    sources = _code_sources(ontology_labels, code_triples)
    return _with_code(_fused_agg([_classes_source(classes), *sources]), sources)


def cui_cascade(
    classes: DataFrame,
    ontology_labels: DataFrame,
    mappings: DataFrame,
    umls_concepts: DataFrame,
    own_cuis: DataFrame | None = None,
    target_cuis: DataFrame | None = None,
    lat: str | None = None,
) -> DataFrame:
    """→ (concept_iri, code, cuis array<string>, cui_stage string).

    classes:        (concept_iri)
    ontology_labels: ONTOLOGY_LABELS schema (pref/alt/hidden/notation)
    mappings:       MAPPINGS schema
    umls_concepts:  UMLS_CONCEPTS schema (the MRCONSO dim)
    own_cuis:       (concept_iri, cui) already-asserted umls:cui triples
    target_cuis:    (concept_iri, cui) for the *target* ontology's classes
    lat:            optional UMLS language restriction (SQLUMLSDelegate
                    :166-191 with-lang vs :193-217 without)

    Plan: class membership, the notation code and the own/alt/mapping
    CUI sets come out of ONE tagged-union aggregate (each input read
    once); the code stage is one broadcast code → CUIs lookup.
    """
    # J1 — own CUIs
    own = (
        own_cuis.select("concept_iri", F.col("cui").alias("value"))
        if own_cuis is not None
        else None
    )

    # P4 — CUI-shaped altLabels (cuis/CUIOntologyDelegateImpl.java:123-138)
    alt = ontology_labels.where(
        (F.col("label_kind") == "alt") & F.trim(F.col("label")).rlike(CUI_PATTERN)
    ).select("concept_iri", F.trim(F.col("label")).alias("value"))

    # J2+J3 — mapping targets' CUIs (6 mapping predicates,
    # DefaultOntologyMappingDelegate.java:81-86; targets per findCUIs :201)
    if target_cuis is not None:
        mapped = (
            mappings.where(F.col("property").isin(MAPPING_PREDICATES))
            .select(F.col("source_iri").alias("concept_iri"), "target_iri")
            .join(
                F.broadcast(
                    target_cuis.select(
                        F.col("concept_iri").alias("target_iri"), "cui"
                    )
                ),
                "target_iri",
            )
            .select("concept_iri", F.col("cui").alias("value"))
        )
    else:
        mapped = None

    code_sources = _code_sources(ontology_labels, None)
    per_class = _with_code(
        _fused_agg(
            [
                _classes_source(classes),
                *code_sources,
                (own, "own_cuis", "set"),
                (alt, "alt_cuis", "set"),
                (mapped, "mapping_cuis", "set"),
            ]
        ),
        code_sources,
    )

    # J4 — UMLS by code (one broadcast code → CUIs dim; DISTINCT per :177,204)
    umls = umls_concepts
    if lat is not None:
        umls = umls.where(F.col("lat") == lat)
    by_code = umls.groupBy("code").agg(
        F.sort_array(F.collect_set("cui")).alias("code_cuis")
    )
    out = per_class.join(F.broadcast(by_code), "code", "left")

    cuis, stage = _pick(
        [
            (_nonempty("own_cuis"), F.col("own_cuis"), STAGE_OWN),
            (_nonempty("alt_cuis"), F.col("alt_cuis"), STAGE_ALT),
            (_nonempty("mapping_cuis"), F.col("mapping_cuis"), STAGE_MAPPING),
            (_nonempty("code_cuis"), F.col("code_cuis"), STAGE_CODE),
        ],
        STAGE_NONE,
    )
    return out.select("concept_iri", "code", cuis.alias("cuis"), stage.alias("cui_stage"))


def tui_cascade(
    cascade_out: DataFrame,
    mappings: DataFrame,
    umls_semtypes: DataFrame,
    own_tuis: DataFrame | None = None,
    target_tuis: DataFrame | None = None,
    reference_bug_compat: bool = True,
) -> DataFrame:
    """TUI cascade (reference processTUIs, OntologyCUIProcessor.java:273-297):
    own ``umls:tui`` → (CUIs found? → MRSTY by CUI) → mapping lookup → none.

    ``reference_bug_compat``: the reference queries the TARGET delegate
    with the mappings' **source** classes (:280 ``Mapping::getSourceClass``)
    where the CUI path uses targets (:201) — almost certainly a bug, kept
    reproducible behind this flag (SURVEY.md §7.4 risk 2). With
    compat=True the mapping stage therefore looks up the *source* IRI in
    the target-TUI dim (matching the reference's, usually-empty, result).

    → (concept_iri, code, cuis, cui_stage, tuis array<string>, tui_stage).

    ``cascade_out`` is read once: ``explode_outer(cuis)`` (a CUI-less
    class keeps one row), a broadcast MRSTY join (J5), then the same
    tagged-union aggregate as cui_cascade, which also regroups the
    cascade columns per concept.
    """
    keep = ("code", "cuis", "cui_stage")
    by_cui = (
        cascade_out.select(
            "concept_iri", *keep, F.explode_outer("cuis").alias("cui")
        )
        .join(F.broadcast(umls_semtypes.select("cui", "tui")), "cui", "left")
        .select("concept_iri", *keep, F.col("tui").alias("value"))
    )
    own = (
        own_tuis.select("concept_iri", F.col("tui").alias("value"))
        if own_tuis is not None
        else None
    )

    if target_tuis is not None:
        key = "source_iri" if reference_bug_compat else "target_iri"
        mapped = (
            mappings.where(F.col("property").isin(MAPPING_PREDICATES))
            .select(F.col(key).alias("lookup_iri"), F.col("source_iri"))
            .join(
                F.broadcast(
                    target_tuis.select(
                        F.col("concept_iri").alias("lookup_iri"), "tui"
                    )
                ),
                "lookup_iri",
            )
            .select(F.col("source_iri").alias("concept_iri"), F.col("tui").alias("value"))
        )
    else:
        mapped = None

    out = _fused_agg(
        [
            (by_cui, "umls_tuis", "set"),
            (own, "own_tuis", "set"),
            (mapped, "mapping_tuis", "set"),
        ],
        keep=keep,
    )
    has_cuis = _nonempty("cuis")
    tuis, stage = _pick(
        [
            (_nonempty("own_tuis"), F.col("own_tuis"), TUI_STAGE_OWN),
            (has_cuis & _nonempty("umls_tuis"), F.col("umls_tuis"), TUI_STAGE_UMLS),
            (~has_cuis & _nonempty("mapping_tuis"), F.col("mapping_tuis"), TUI_STAGE_MAPPING),
        ],
        TUI_STAGE_NONE,
    )
    return out.select(
        "concept_iri", *keep, tuis.alias("tuis"), stage.alias("tui_stage")
    )


def stage_counters(cascade_out: DataFrame, stage_col: str = "cui_stage") -> DataFrame:
    """A9 — named counters as an aggregation over outcome tags
    (replaces stats/OntologyStats.java:44-56 mutable counters)."""
    return (
        cascade_out.groupBy(F.col(stage_col).alias("counter"))
        .agg(F.count(F.lit(1)).alias("value"))
        .orderBy("counter")
    )


def umls_comparison_counters(
    cascade_out: DataFrame,
    umls_concepts: DataFrame,
    lat: str | None = None,
) -> DataFrame:
    """A9 parity tail (round-1 VERDICT gap): the reference's
    ``compareCUIsToUMLS`` counters (OntologyCUIProcessor.java:235-246,
    invoked at :175-177 for every class left with >1 CUI) plus the
    ambiguous-CUI counter itself (:174
    ``CLASSES_WITH_AMBIGUOUS_CUI_STATISTIC``).

    For each ambiguous class: umls_n = |distinct CUIs UMLS maps its code
    to (lat-filtered, getUMLSCUIs :166-191)|; umls_n > |cuis| → LESS,
    umls_n < |cuis| → MORE (classes without a code are skipped by the
    null guard :236, i.e. counted ambiguous only).

    → (counter, value) rows, all three counters always present (0 when
    no class qualifies) so the stats CSV row shape is stable.
    """
    umls = umls_concepts
    if lat is not None:
        umls = umls.where(F.col("lat") == lat)
    umls_counts = umls.groupBy("code").agg(
        F.count_distinct(F.col("cui")).alias("umls_n")
    )
    ambiguous = cascade_out.where(F.size("cuis") > 1)
    compared = ambiguous.join(F.broadcast(umls_counts), "code", "left").withColumn(
        # non-null code unknown to UMLS ⇒ getUMLSCUIs returns the empty
        # set (size 0), which counts toward MORE; null code skips (:236)
        "umls_n",
        F.when(F.col("code").isNotNull(), F.coalesce("umls_n", F.lit(0))),
    )
    # a global aggregate always yields exactly one row, so all three
    # counters are present even when no class qualifies
    counters = {
        "classes_with_ambiguous_cui": F.count(F.lit(1)),
        "classes_with_less_cuis_than_umls": F.count_if(F.col("umls_n") > F.size("cuis")),
        "classes_with_more_cuis_than_umls": F.count_if(F.col("umls_n") < F.size("cuis")),
    }
    counts = compared.agg(*[agg.alias(name) for name, agg in counters.items()])
    return counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(name).alias("counter"), F.col(name).alias("value"))
                    for name in counters
                ]
            )
        ).alias("kv")
    ).select("kv.counter", "kv.value")


def named_classes(triples: DataFrame) -> DataFrame:
    """S2 — class scan with the reference's fallback
    (BaseOntologyDelegate.java:173-190 ``getClasses``): subjects typed
    ``owl:Class``; when the ontology declares none (pure SKOS
    vocabularies), fall back to subjects typed ``skos:Concept``.
    Blank-node subjects are excluded (listNamedClasses = named only).

    → (concept_iri). The emptiness probe is one cheap limit(1) action
    on a filtered dimension scan, not a full count."""
    from sifr_project_java_ontology_processing_spark.functions.uris import (
        OWL_CLASS,
        RDF_TYPE,
        SKOS_CONCEPT,
    )

    def _subjects_of(type_obj: str) -> DataFrame:
        return (
            triples.where(
                (F.col("pred") == RDF_TYPE)
                & (F.col("obj") == type_obj)
                & ~F.col("subj").startswith("_:")
            )
            .select(F.col("subj").alias("concept_iri"))
            .distinct()
        )

    owl = _subjects_of(OWL_CLASS)
    if owl.limit(1).isEmpty():
        return _subjects_of(SKOS_CONCEPT)
    return owl


def ontology_name_from_path(path: str) -> str:
    """F8 — ontology name from a model URL/path
    (BaseOntologyDelegate.java:74-107): URL → file part, else the
    filename; then everything before the first dot (the reference also
    strips a trailing .bz2 from the extension for format sniffing —
    irrelevant to the name)."""
    import re

    if re.match(r"^[^:]{2,6}:.*$", path):  # URL_PATTERN :36
        name = path.split("://", 1)[-1]
        name = "/" + name.split("/", 1)[1] if "/" in name else name
        name = name.rsplit("/", 1)[-1]
    else:
        name = path.replace("\\", "/").rstrip("/").rsplit("/", 1)[-1]
    return name.split(".", 1)[0] if "." in name else name


def reject_sink(cascade_out: DataFrame) -> DataFrame:
    """S11 — concepts with no CUI anywhere (reference streams them to
    ``<ont>_concepts_without_cui.txt`` under a lock,
    OntologyCUIProcessor.java:211-217; here it is just a filtered
    DataFrame the caller writes with ``write.text``)."""
    return cascade_out.where(F.col("cui_stage") == STAGE_NONE).select("concept_iri")
