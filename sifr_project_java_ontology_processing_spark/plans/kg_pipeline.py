"""The flagship KG-construction pipeline (SURVEY.md §7.1; north_star).

    pages ──extract──► extracted ──trie match──► mentions
      ──► mention triples ──► enrichment cascade ──► enrichment triples
      ──► canonicalization (CC over equivalence mappings)
      ──► nodes / edges / triples / metrics

Every stage is a checkpointable snapshot (StageStore) keyed by run_id;
re-running the same run_id resumes after the last committed stage.

Triple kinds emitted (north_star): ``sifr:mention`` (page→concept),
``rdf:type skos:Concept`` per concept (SKOSOntologyDelegateImpl.java:39-54
asserts the same for every generated concept), plus the enrichment
predicates ``umls:cui`` / ``umls:tui`` / ``umls:hasSTY``
(cuis/CUIOntologyDelegateImpl.java:19-21,41-76).

Scale shape: stages 1-2 are map-only (zero shuffle) over the 100 TB
fact table. The dimension phase is ontology-sized: the cascade is one
per-concept aggregate plus broadcast lookups, and the canonical
dictionary is a driver-side union-find whenever the equivalence edges
fit under the CC threshold. Triple assembly is one distinct over the
union of the mention triples, the exploded per-concept triples and the
subClassOf edges; canonical-IRI application to fact rows is a broadcast
join. Head-entity skew in the distinct/groupBys is handled by AQE +
the salted helpers (canonicalize.salted_count) for the hot counters.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sifr_project_java_ontology_processing_spark.functions.uris import (
    RDF_TYPE,
    RDFS_SUBCLASSOF,
    SIFR_MENTION,
    SKOS_CHANGE_NOTE,
    SKOS_CONCEPT,
    SKOS_NOTATION,
    UMLS_CUI,
    UMLS_HAS_STY,
    UMLS_TUI,
    expand,
    sty_uri,
)
from sifr_project_java_ontology_processing_spark.operators import metrics as M
from sifr_project_java_ontology_processing_spark.operators.cascade import (
    STAGE_OWN,
    cui_cascade,
    tui_cascade,
    umls_comparison_counters,
)
from sifr_project_java_ontology_processing_spark.operators.canonicalize import (
    canonical_mapping,
)
from sifr_project_java_ontology_processing_spark.operators.extraction import extract_pages
from sifr_project_java_ontology_processing_spark.operators.mentions import (
    detect_mentions,
    detect_mentions_joined,
    extract_and_detect,
)
from sifr_project_java_ontology_processing_spark.operators.scoring import (
    concept_descriptions,
    disambiguate,
)
from sifr_project_java_ontology_processing_spark.sources.stage_store import StageStore

EQUIVALENCE_PROPERTIES = [
    expand("skos:exactMatch"),
    expand("owl:sameAs"),
]

# E5 tail — the reference's provenance note added next to auto-added
# CUIs/TUIs (OntologyCUIProcessor.java:45, updateCUIs :311-314).
CUI_ADDED_NOTE = (
    "Le LIRMM a enrichi ce concept en CUI et TUI par un processus automatique"
)


def _labels_signature(ontology_labels: DataFrame) -> DataFrame:
    """Order-independent distributed signature of the label dim: (sum
    of per-row hashes folded to 32 bits — ANSI-safe up to 2^31 rows —
    plus row count). No collect; dim-sized aggregation. Committed per
    run so incremental runs can detect dimension drift."""
    h32 = F.pmod(
        F.xxhash64("concept_iri", "label", "label_kind", "lang"),
        F.lit(2**32).cast("long"),
    )
    return ontology_labels.agg(F.sum(h32).alias("h"), F.count(F.lit(1)).alias("n"))


@dataclass
class PipelineResult:
    extracted: DataFrame
    mentions: DataFrame
    triples: DataFrame
    nodes: DataFrame
    edges: DataFrame
    metrics: DataFrame
    stages_resumed: list[str] = field(default_factory=list)
    # opt-in (score_links=True): per-(url, concept, surface) link scores
    scored_mentions: DataFrame | None = None


def run_kg_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    ontology_labels: DataFrame,
    mappings: DataFrame,
    umls_concepts: DataFrame,
    umls_semtypes: DataFrame,
    own_cuis: DataFrame | None = None,
    own_tuis: DataFrame | None = None,
    target_cuis: DataFrame | None = None,
    store: StageStore | None = None,
    run_id: str = "run0",
    disambiguate_cuis: bool = True,
    match_cuis: bool = False,
    score_links: bool = False,
    score_salience: bool = False,
    broadcast_labels: bool = True,
) -> PipelineResult:
    """Compose the full pipeline. With a ``store``, each stage snapshot
    commits under ``root/run_id/<stage>`` and re-runs resume.

    ``broadcast_labels=False`` switches mention detection to the
    no-broadcast inverted-index join (``detect_mentions_joined``) for
    label dimensions too large to hold on every executor; rows emitted
    are identical, only the physical plan changes.

    ``score_salience=True`` adds a ``salience`` column to the nodes
    table: 3-iteration PageRank over the edges table (operators/
    graph.py), nodes outside the edge graph at the teleport floor 0.0
    via the left join."""
    resumed: list[str] = []

    def stage(name: str, thunk, partition_by=None) -> DataFrame:
        if store is None:
            return thunk()
        if store.exists(name):
            resumed.append(name)
        return store.materialize(name, thunk, partition_by)

    def dim_stage(name: str, thunk) -> DataFrame:
        """Dimension-sized stage: with a store it materializes like any
        stage; without one it is cached EAGERLY (localCheckpoint). The
        cascade and the canonical dictionary each feed several consumers
        (triple assembly, nodes, metrics), and re-running the dim DAG
        (the cascade aggregate and its broadcast lookups, the CC probe)
        per consumer is pure fixed cost that caps N→4N scaling
        efficiency (BENCH/BASELINE.md: ~9.6 s constant regardless of
        core count). A lazy persist is not enough: concurrent consumers
        each compute the unpopulated cache. localCheckpoint also CUTS
        THE LINEAGE, so downstream plans contain the tiny materialized
        table instead of the dim DAG."""
        if store is not None:
            return stage(name, thunk)
        from sifr_project_java_ontology_processing_spark.operators.materialize import (
            materialize_once,
        )

        # dimension tables are broadcast downstream by contract, i.e.
        # broadcast-threshold small — materializing them across the
        # full shuffle-partition width (32 checkpoint blocks for a
        # dim-sized frame) is pure task-scheduling overhead in the
        # fixed phase that caps N→4N efficiency. repartition (NOT
        # coalesce: upstream agg/join stages stay wide) to a handful
        # of blocks before the checkpoint; measured 3.9 s → 2.2 s for
        # the dim phase at 8 lanes.
        return materialize_once(thunk().repartition(4))

    # label-dim signature: committed alongside the snapshots so a later
    # incremental run can detect dimension drift (see
    # run_kg_pipeline_incremental)
    if store is not None:
        stage("labels_sig", lambda: _labels_signature(ontology_labels))

    # -- stage 1: extraction (map-only) ------------------------------------
    extracted = stage("extracted", lambda: extract_pages(pages))

    # -- stage 2: mention detection (map-only broadcast trie, or the
    # inverted-index join when the label dim outgrows broadcast) ------------
    # Without a store, extraction is not materialized anywhere, so the
    # trie path fuses html→text→spans into ONE Python pass
    # (extract_and_detect) instead of re-serializing the full corpus
    # between two chained UDF stages; with a store, mentions must read
    # the committed `extracted` snapshot for resume.
    if broadcast_labels and store is None:
        mentions = stage(
            "mentions", lambda: extract_and_detect(spark, pages, ontology_labels)
        )
    else:
        _detect = detect_mentions if broadcast_labels else detect_mentions_joined
        mentions = stage(
            "mentions", lambda: _detect(spark, extracted, ontology_labels)
        )

    # -- stage 3: enrichment cascade over the concept dimension -------------
    def _cascade() -> DataFrame:
        # the cascade's per-concept aggregate dedups the classes
        classes = ontology_labels.select("concept_iri")
        c = cui_cascade(
            classes,
            ontology_labels,
            mappings,
            umls_concepts,
            own_cuis=own_cuis,
            target_cuis=target_cuis,
        )
        c = tui_cascade(c, mappings, umls_semtypes, own_tuis=own_tuis)
        if match_cuis:
            # -mc: rescue cascade rejects via the full-UMLS matcher
            from sifr_project_java_ontology_processing_spark.operators.scoring import (
                match_fallback,
            )

            c = match_fallback(
                c, concept_descriptions(ontology_labels), umls_concepts
            ).drop("matched")
        if disambiguate_cuis:
            # keep the `disambiguated` flag: triple assembly uses it for
            # the changeNote provenance triples (cuiAddedNotesToAdd)
            c = disambiguate(
                c, concept_descriptions(ontology_labels), umls_concepts
            )
        return c

    # -- stage 4: canonical IRI dictionary (CC over equivalence edges) ------
    def _canonical() -> DataFrame:
        all_iris = ontology_labels.select(
            F.col("concept_iri").alias("iri")
        ).distinct()
        return canonical_mapping(mappings, EQUIVALENCE_PROPERTIES, all_iris)

    # cascade and canonical are INDEPENDENT dimension DAGs (cascade:
    # labels⋈mappings⋈UMLS; canonical: CC over equivalence edges) whose
    # eager materializations otherwise serialize on the driver. Spark's
    # scheduler takes concurrent job submissions, so without a store
    # the two dim stages run from two driver threads: on a real cluster
    # the canonical CC's latency-bound fixpoint rounds overlap the
    # cascade's shuffle work instead of leaving executors idle, and in
    # the scaling bench this is pure fixed-cost reduction (the dim
    # phase caps N→4N efficiency — BENCH/BASELINE.md). With a store,
    # stage commit ordering stays serial (resume semantics depend on
    # commit order).
    if store is None:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as _ex:
            _f_cascade = _ex.submit(dim_stage, "cascade", _cascade)
            _f_canonical = _ex.submit(dim_stage, "canonical", _canonical)
            cascade_df = _f_cascade.result()
            canonical = _f_canonical.result()
    else:
        cascade_df = dim_stage("cascade", _cascade)
        canonical = dim_stage("canonical", _canonical)

    # -- stage 5: triple assembly -------------------------------------------
    def _triples() -> DataFrame:
        # one broadcast of the canonical dictionary, reused by every
        # join below (identical broadcast subtrees are planned once)
        canon = F.broadcast(canonical.select("iri", "canonical_iri"))

        def triple(subj, pred: str, obj, literal: bool, lang: str | None = None):
            return F.struct(
                subj.alias("subj"),
                F.lit(pred).alias("pred"),
                obj.alias("obj"),
                F.lit(lang).cast("string").alias("obj_lang"),
                F.lit(literal).alias("obj_is_literal"),
                F.lit(None).cast("string").alias("src_url"),
            )

        mention_triples = mentions.join(
            canon, mentions.concept_iri == canon.iri, "left"
        ).select(
            F.col("url").alias("subj"),
            F.lit(SIFR_MENTION).alias("pred"),
            F.coalesce("canonical_iri", "concept_iri").alias("obj"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(False).alias("obj_is_literal"),
            F.col("url").alias("src_url"),
        )

        # every per-concept triple kind from ONE concept frame
        # (cascade ⋈ canonical ⋈ has-notation flag), exploded once:
        #  * rdf:type skos:Concept for every concept;
        #  * umls:cui / umls:tui literals, and umls:hasSTY — its object
        #    is a RESOURCE (sty_uri builds an IRI; the reference's
        #    createResource at CUIOntologyDelegateImpl), so it must
        #    reach the edges table's 'sty' partition (graph_sink._KIND)
        #    and serialize as <IRI>, not a quoted string;
        #  * E5 tail (updateCodeNotes, OntologyCUIProcessor.java:326-340):
        #    the found code as skos:notation, only for classes that don't
        #    already assert one (the SKOSNotationCodeFinder null check
        #    :333-335);
        #  * cuiAddedNotesToAdd (:150-156 + updateCUIs :311-314): a French
        #    skos:changeNote on every class whose CUIs were ADDED by the
        #    run — any non-own stage that produced CUIs, plus own-stage
        #    classes the disambiguator rewrote (when -dc ran).
        has_notation = (
            ontology_labels.where(F.col("label_kind") == "notation")
            .select("concept_iri", F.lit(True).alias("_has_notation"))
            .distinct()
        )
        enriched = cascade_df.join(
            canon, cascade_df.concept_iri == canon.iri, "left"
        ).join(F.broadcast(has_notation), "concept_iri", "left")
        subj = F.coalesce("canonical_iri", "concept_iri")
        added = (F.col("cui_stage") != STAGE_OWN) & (F.size("cuis") > 0)
        if "disambiguated" in cascade_df.columns:
            added = added | ((F.col("cui_stage") == STAGE_OWN) & F.col("disambiguated"))
        per_concept = F.concat(
            F.array(
                triple(subj, RDF_TYPE, F.lit(SKOS_CONCEPT), False),
                F.when(
                    F.col("code").isNotNull() & F.col("_has_notation").isNull(),
                    triple(subj, SKOS_NOTATION, F.col("code"), True),
                ),
                F.when(
                    added,
                    triple(subj, SKOS_CHANGE_NOTE, F.lit(CUI_ADDED_NOTE), True, "fr"),
                ),
            ),
            F.transform("cuis", lambda c: triple(subj, UMLS_CUI, c, True)),
            F.transform("tuis", lambda t: triple(subj, UMLS_TUI, t, True)),
            F.transform("tuis", lambda t: triple(subj, UMLS_HAS_STY, sty_uri(t), False)),
        )
        concept_triples = (
            enriched.select(F.explode(per_concept).alias("t"))
            .where(F.col("t").isNotNull())
            .select("t.*")
        )

        # north_star triple kinds: subClassOf edges from hierarchical
        # mappings (skos:broader/broadMatch → rdfs:subClassOf), both
        # endpoints canonicalized; self-loops created by canonical
        # merging are dropped.
        hier = mappings.where(
            F.col("property").isin(expand("skos:broadMatch"), expand("skos:broader"))
        )
        cs, ct = canon.alias("cs"), canon.alias("ct")
        subclass_triples = (
            hier.join(cs, hier.source_iri == F.col("cs.iri"), "left")
            .join(ct, hier.target_iri == F.col("ct.iri"), "left")
            .select(
                F.coalesce("cs.canonical_iri", "source_iri").alias("subj"),
                F.lit(RDFS_SUBCLASSOF).alias("pred"),
                F.coalesce("ct.canonical_iri", "target_iri").alias("obj"),
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit(False).alias("obj_is_literal"),
                F.lit(None).cast("string").alias("src_url"),
            )
            .where(F.col("subj") != F.col("obj"))
        )

        # predicates never overlap across the three branches, so one
        # distinct over their union equals a distinct per branch
        return (
            mention_triples.unionByName(concept_triples)
            .unionByName(subclass_triples)
            .distinct()
        )

    triples = stage("triples", _triples)

    # -- stage 6: graph tables ------------------------------------------------
    def _nodes() -> DataFrame:
        return canonical.select(
            "iri",
            "canonical_iri",
            F.lit("concept").alias("kind"),
        )

    def _edges() -> DataFrame:
        return triples.where(~F.col("obj_is_literal")).select(
            F.col("subj").alias("src"),
            F.col("obj").alias("dst"),
            "pred",
            "src_url",
        )

    nodes = stage("nodes", _nodes)
    edges = stage("edges", _edges)

    # -- optional: entity-salience PageRank over the edge table ---------------
    if score_salience:
        from sifr_project_java_ontology_processing_spark.operators.graph import (
            pagerank,
        )

        def _salient_nodes() -> DataFrame:
            pr = pagerank(edges, iterations=3)
            return nodes.join(
                pr.withColumnRenamed("node", "iri"), "iri", "left"
            ).withColumn("salience", F.coalesce(F.col("rank"), F.lit(0.0))).drop("rank")

        nodes = stage("nodes_salient", _salient_nodes)

    # -- metrics / lineage -----------------------------------------------------
    def _metrics() -> DataFrame:
        # A9 parity: ambiguous / less-than-UMLS / more-than-UMLS counters
        # (compareCUIsToUMLS, OntologyCUIProcessor.java:235-246)
        compare = umls_comparison_counters(cascade_df, umls_concepts).select(
            F.lit(run_id).alias("run_id"),
            F.lit("cascade").alias("stage"),
            F.lit(-1).alias("part_id"),
            "counter",
            "value",
        )
        return (
            M.partition_counts(extracted, run_id, "extracted")
            .unionByName(M.partition_counts(mentions, run_id, "mentions"))
            .unionByName(
                M.counter_metrics(cascade_df, run_id, "cascade", "cui_stage", "tui_stage")
            )
            .unionByName(compare)
            .unionByName(M.partition_counts(triples, run_id, "triples", part_col="__none__"))
        )

    metrics_df = stage("metrics", _metrics)

    # -- optional: north_star link scorer (TF-IDF context + edit distance)
    scored = None
    if score_links:
        from sifr_project_java_ontology_processing_spark.operators.linkscore import (
            score_mentions,
        )
        from sifr_project_java_ontology_processing_spark.operators.scoring import (
            concept_descriptions as _descs,
        )

        scored = stage(
            "scored_mentions",
            lambda: score_mentions(
                extracted, mentions, _descs(ontology_labels), labels=ontology_labels
            ),
        )

    return PipelineResult(
        extracted=extracted,
        mentions=mentions,
        triples=triples,
        nodes=nodes,
        edges=edges,
        metrics=metrics_df,
        stages_resumed=resumed,
        scored_mentions=scored,
    )


def run_kg_pipeline_incremental(
    spark: SparkSession,
    pages: DataFrame,
    ontology_labels: DataFrame,
    mappings: DataFrame,
    umls_concepts: DataFrame,
    umls_semtypes: DataFrame,
    store_root: str,
    run_id: str,
    prev_run_id: str,
    **pipeline_kwargs,
) -> PipelineResult:
    """Incremental run over a GROWN corpus: the expensive fact-side UDF
    stages (extraction, mention detection) run only on pages whose url
    has no committed extraction in ``prev_run_id``'s snapshots; dims,
    canonicalization and triple assembly are rebuilt (ontology-side and
    cheap relative to the 100 TB scan).

    Mechanics: the delta is ``pages LEFT ANTI JOIN prev.extracted ON
    url``; the new run's ``extracted``/``mentions`` stages are
    materialized as prev ∪ delta, then the normal pipeline resumes from
    them (its stage() sees the committed snapshots and never rebuilds
    the plan). Under Iceberg the union materialization is a
    metadata-only append of the delta files to the new snapshot; the
    parquet stand-in rewrites rows but preserves the semantics and the
    compute saving — extraction cost is O(|delta|), not O(|corpus|).

    Reusing prev mentions is only sound if the label dimension is the
    one prev ran with — a tiny order-independent signature of
    ``ontology_labels`` is committed per run and compared; a drift
    raises unless ``allow_label_drift=True`` (in which case old pages
    keep their old-dim mentions, by explicit choice).

    Triple-set equality with a from-scratch run over the full corpus is
    pytest-gated (the output never depends on how the corpus grew)."""
    allow_label_drift = pipeline_kwargs.pop("allow_label_drift", False)
    prev = StageStore(spark, store_root, prev_run_id)
    if not (prev.exists("extracted") and prev.exists("mentions")):
        raise ValueError(
            f"prev_run_id={prev_run_id!r} has no committed extracted/mentions "
            "snapshots — run the full pipeline first"
        )
    cur = StageStore(spark, store_root, run_id)

    # Compare prev vs the LIVE dim, not cur's committed copy: if run_id
    # was used before, cur.materialize would return the stale committed
    # signature and a retry after label drift could pass the guard while
    # delta mentions are computed with the new dim (the mixed-dim state
    # the guard exists to reject). The signature is a 1-row aggregate.
    sig_now = _labels_signature(ontology_labels)
    if prev.exists("labels_sig"):
        sig_prev = prev.materialize("labels_sig", None)
        if sig_now.collect() != sig_prev.collect() and not allow_label_drift:
            raise ValueError(
                "ontology_labels differ from the previous run's dimension — "
                "prev mentions would be stale; rerun full, or pass "
                "allow_label_drift=True to accept mixed-dim mentions"
            )
    # Commit this run's signature BEFORE extracted/mentions: if the
    # driver dies after those commit but before run_kg_pipeline's own
    # labels_sig stage, a later incremental run from THIS run would
    # find no signature and silently skip the drift guard (round-3
    # review finding). materialize is compute-if-absent, so a retry
    # with the same run_id keeps the first committed signature — which
    # is exactly the dim its committed mentions were built with.
    if not cur.exists("labels_sig"):
        cur.materialize("labels_sig", lambda: sig_now)

    prev_extracted = prev.materialize("extracted", None)
    prev_mentions = prev.materialize("mentions", None)
    prev_urls = prev_extracted.select("url").distinct()

    delta_pages = pages.join(prev_urls, "url", "left_anti")
    extracted_full = cur.materialize(
        "extracted", lambda: prev_extracted.unionByName(extract_pages(delta_pages))
    )
    # detect over the COMMITTED delta rows (re-running the extraction
    # UDF for the mentions pass would double the dominant cost; the
    # committed snapshot minus prev urls is a parquet scan)
    delta_extracted = extracted_full.join(prev_urls, "url", "left_anti")
    _detect = (
        detect_mentions
        if pipeline_kwargs.get("broadcast_labels", True)
        else detect_mentions_joined
    )
    delta_mentions = _detect(spark, delta_extracted, ontology_labels)
    cur.materialize("mentions", lambda: prev_mentions.unionByName(delta_mentions))

    return run_kg_pipeline(
        spark,
        pages,
        ontology_labels,
        mappings,
        umls_concepts,
        umls_semtypes,
        store=cur,
        run_id=run_id,
        **pipeline_kwargs,
    )
