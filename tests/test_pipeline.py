"""End-to-end KG pipeline: triple-diff P/R gate + checkpoint resume
(north_rule: P/R ≥ 0.95 vs reference-semantics golden triples; resume
from checkpoint reproduces identical output)."""

from __future__ import annotations

import pytest

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
    STY_BASE,
    expand,
)
from sifr_project_java_ontology_processing_spark.plans.kg_pipeline import (
    CUI_ADDED_NOTE,
    EQUIVALENCE_PROPERTIES,
    run_kg_pipeline,
)
from sifr_project_java_ontology_processing_spark.sources.stage_store import StageStore

from .oracle import cascade_oracle, mentions_oracle, union_find_oracle


def _uf(edges):
    # shared union-find oracle; identity for nodes outside any mapping
    m = union_find_oracle(edges)
    return lambda x: m.get(x, x)


def golden_triples(fx) -> set[tuple[str, str, str]]:
    """Independent full-pipeline oracle: mentions + type + enrichment
    triples, canonicalized over equivalence mappings (no disambiguation
    — the engine runs with disambiguate_cuis=False for exact diffing)."""
    canon = _uf(
        [
            (s, t)
            for (s, p, t) in fx.mappings
            if p in EQUIVALENCE_PROPERTIES
        ]
    )
    triples: set[tuple[str, str, str]] = set()
    concepts = sorted({c for (c, _l, _k, _g) in fx.ontology_labels})
    for c in concepts:
        triples.add((canon(c), RDF_TYPE, SKOS_CONCEPT))
    for url, _ts, _html, text, _lang in fx.pages:
        for _i, concept, _ln in mentions_oracle(text, fx.ontology_labels):
            triples.add((url, SIFR_MENTION, canon(concept)))
    # hierarchical mappings → canonicalized rdfs:subClassOf (north_star)
    hier_props = {expand("skos:broadMatch"), expand("skos:broader")}
    for s, p, t in fx.mappings:
        if p in hier_props and canon(s) != canon(t):
            triples.add((canon(s), RDFS_SUBCLASSOF, canon(t)))
    has_notation = {
        c for (c, _l, k, _g) in fx.ontology_labels if k == "notation"
    }
    for c, (code, cuis, stage, tuis, tstage) in cascade_oracle(fx).items():
        for cui in cuis:
            triples.add((canon(c), UMLS_CUI, cui))
        for tui in tuis:
            triples.add((canon(c), UMLS_TUI, tui))
            triples.add((canon(c), UMLS_HAS_STY, f"{STY_BASE}{tui}/"))
        # updateCodeNotes: add skos:notation only where absent
        if code is not None and c not in has_notation:
            triples.add((canon(c), SKOS_NOTATION, code))
        # cuiAddedNotesToAdd: changeNote wherever CUIs were ADDED
        if cuis and stage != "own_cui":
            triples.add((canon(c), SKOS_CHANGE_NOTE, CUI_ADDED_NOTE))
    return triples


def _run(spark, kg_fixture, kg_tables, store=None, run_id="r1", **kw):
    fx = kg_fixture
    own = spark.createDataFrame(
        [(c, cui) for c, cs in fx.concept_cuis.items() for cui in cs],
        "concept_iri string, cui string",
    )
    tgt = spark.createDataFrame(
        [(t, c) for t, cs in fx.target_cuis.items() for c in cs],
        "concept_iri string, cui string",
    )
    own_t = spark.createDataFrame(
        [(c, t) for c, ts in fx.concept_tuis.items() for t in ts],
        "concept_iri string, tui string",
    )
    return run_kg_pipeline(
        spark,
        kg_tables["pages"],
        kg_tables["ontology_labels"],
        kg_tables["mappings"],
        kg_tables["umls_concepts"],
        kg_tables["umls_semtypes"],
        own_cuis=own,
        own_tuis=own_t,
        target_cuis=tgt,
        store=store,
        run_id=run_id,
        disambiguate_cuis=False,  # oracle models the no -dc path
        **kw,
    )


def _triple_set(df):
    return {(r["subj"], r["pred"], r["obj"]) for r in df.select("subj", "pred", "obj").collect()}


def test_pipeline_triples_match_golden_exactly(spark, kg_fixture, kg_tables):
    result = _run(spark, kg_fixture, kg_tables)
    got = _triple_set(result.triples)
    want = golden_triples(kg_fixture)
    missing, extra = want - got, got - want
    # north_rule gate is P/R>=0.95; we hold ourselves to exact equality
    assert not missing and not extra, (
        f"missing={list(missing)[:3]} extra={list(extra)[:3]} "
        f"|got|={len(got)} |want|={len(want)}"
    )


# Spark jobs one cold StageStore build of the test fixture may run
# (labels_sig through metrics): the dimension phase is per-concept
# aggregates, a one-probe CC and a single-distinct triple assembly.
STORE_BUILD_MAX_JOBS = 35


def test_pipeline_store_path_matches_golden(spark, kg_fixture, kg_tables, tmp_path):
    """The StageStore path (what ``cli kg`` runs) against the golden
    triples, with a guard on the number of Spark jobs its cold build
    submits."""
    sc = spark.sparkContext
    group = "kg_store_path_golden"
    sc.setJobGroup(group, "cold StageStore build")
    try:
        result = _run(spark, kg_fixture, kg_tables,
                      store=StageStore(spark, str(tmp_path), "g1"), run_id="g1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    got = _triple_set(result.triples)
    want = golden_triples(kg_fixture)
    assert got == want, (
        f"missing={list(want - got)[:3]} extra={list(got - want)[:3]}"
    )
    # a committed snapshot holds each triple once
    assert result.triples.count() == len(got)
    assert n_jobs <= STORE_BUILD_MAX_JOBS, n_jobs


def test_pipeline_metrics_lineage(spark, kg_fixture, kg_tables):
    result = _run(spark, kg_fixture, kg_tables)
    rows = result.metrics.collect()
    stages = {r["stage"] for r in rows}
    assert {"extracted", "mentions", "cascade", "triples"} <= stages
    ext_total = sum(r["value"] for r in rows if r["stage"] == "extracted" and r["counter"] == "rows")
    assert ext_total == len(kg_fixture.pages)
    # per-partition lineage present (multiple part_ids for extracted)
    parts = {r["part_id"] for r in rows if r["stage"] == "extracted"}
    assert len(parts) >= 1 and all(p >= 0 for p in parts)
    # A9 parity counters (compareCUIsToUMLS :235-246) vs the oracle
    got = {
        r["counter"]: r["value"]
        for r in rows
        if r["counter"].startswith("classes_with_")
    }
    oracle = cascade_oracle(kg_fixture)
    ambiguous = {c: v for c, v in oracle.items() if len(v[1]) > 1}
    umls_by_code = {}
    for code, cui, _lat, _s in kg_fixture.umls_concepts:
        umls_by_code.setdefault(code, set()).add(cui)
    want_less = sum(
        1 for c, (code, cuis, *_rest) in ambiguous.items()
        if code is not None and len(umls_by_code.get(code, ())) > len(cuis)
    )
    want_more = sum(
        1 for c, (code, cuis, *_rest) in ambiguous.items()
        if code is not None and len(umls_by_code.get(code, ())) < len(cuis)
    )
    assert got == {
        "classes_with_ambiguous_cui": len(ambiguous),
        "classes_with_less_cuis_than_umls": want_less,
        "classes_with_more_cuis_than_umls": want_more,
    }, got


def test_pipeline_resume_identical(spark, kg_fixture, kg_tables, tmp_path):
    store = StageStore(spark, str(tmp_path), "runA")
    first = _run(spark, kg_fixture, kg_tables, store=store, run_id="runA")
    assert first.stages_resumed == []
    t1 = _triple_set(first.triples)

    # full resume: every stage reloaded from snapshot
    second = _run(spark, kg_fixture, kg_tables, store=store, run_id="runA")
    assert set(second.stages_resumed) == {
        "labels_sig", "extracted", "mentions", "cascade", "canonical",
        "triples", "nodes", "edges", "metrics",
    }
    assert _triple_set(second.triples) == t1

    # partial resume: kill after stage 2 (invalidate downstream), rerun
    for stage in ("cascade", "canonical", "triples", "nodes", "edges", "metrics"):
        store.invalidate(stage)
    third = _run(spark, kg_fixture, kg_tables, store=store, run_id="runA")
    assert set(third.stages_resumed) == {"labels_sig", "extracted", "mentions"}
    assert _triple_set(third.triples) == t1


def test_pipeline_deterministic_two_runs(spark, kg_fixture, kg_tables):
    a = _triple_set(_run(spark, kg_fixture, kg_tables).triples)
    b = _triple_set(_run(spark, kg_fixture, kg_tables).triples)
    assert a == b


def test_pipeline_joined_mentions_identical_triples(spark, kg_fixture, kg_tables):
    """broadcast_labels=False (inverted-index mention join) must change
    only the physical plan, never the emitted triple set."""
    base = _triple_set(_run(spark, kg_fixture, kg_tables).triples)
    joined = _triple_set(
        _run(spark, kg_fixture, kg_tables, broadcast_labels=False).triples
    )
    assert joined == base


def test_pipeline_incremental_equals_full(spark, kg_fixture, kg_tables, tmp_path):
    """Grow the corpus, rerun incrementally: extraction/mentions resume
    from prev snapshots + delta only, and the triple set is identical to
    a from-scratch run over the full corpus."""
    from pyspark.sql import functions as F

    from sifr_project_java_ontology_processing_spark.plans.kg_pipeline import (
        run_kg_pipeline_incremental,
    )
    from sifr_project_java_ontology_processing_spark.sources.stage_store import (
        StageStore,
    )

    pages = kg_tables["pages"]
    part_a = pages.where(F.crc32(F.col("url")) % 3 != 0)
    root = str(tmp_path / "stages")

    # full run on corpus A
    store_a = StageStore(spark, root, "runA")
    _run(spark, kg_fixture, {**kg_tables, "pages": part_a}, store=store_a,
         run_id="runA")

    # incremental run on the grown corpus (A ∪ B)
    fx = kg_fixture
    own = spark.createDataFrame(
        [(c, cui) for c, cs in fx.concept_cuis.items() for cui in cs],
        "concept_iri string, cui string",
    )
    tgt = spark.createDataFrame(
        [(t, c) for t, cs in fx.target_cuis.items() for c in cs],
        "concept_iri string, cui string",
    )
    own_t = spark.createDataFrame(
        [(c, t) for c, ts in fx.concept_tuis.items() for t in ts],
        "concept_iri string, tui string",
    )
    inc = run_kg_pipeline_incremental(
        spark, pages, kg_tables["ontology_labels"], kg_tables["mappings"],
        kg_tables["umls_concepts"], kg_tables["umls_semtypes"],
        store_root=root, run_id="runB", prev_run_id="runA",
        own_cuis=own, own_tuis=own_t, target_cuis=tgt,
        disambiguate_cuis=False,
    )
    # extraction/mentions were materialized before the pipeline ran —
    # the pipeline itself resumed them (no fact-side recompute)
    assert "extracted" in inc.stages_resumed and "mentions" in inc.stages_resumed

    full = _run(spark, kg_fixture, kg_tables)
    assert _triple_set(inc.triples) == _triple_set(full.triples)

    # the delta really is only the new pages
    prev_urls = {r["url"] for r in part_a.select("url").collect()}
    inc_ext_urls = {
        r["url"]
        for r in StageStore(spark, root, "runB")
        .materialize("extracted", None).select("url").collect()
    }
    all_urls = {r["url"] for r in pages.select("url").collect()}
    assert inc_ext_urls == all_urls and prev_urls < all_urls


def test_pipeline_incremental_label_drift_guard(spark, kg_fixture, kg_tables, tmp_path):
    """Changing the label dim between runs must raise (prev mentions
    would be stale) unless explicitly allowed."""
    import pytest
    from pyspark.sql import functions as F

    from sifr_project_java_ontology_processing_spark.plans.kg_pipeline import (
        run_kg_pipeline_incremental,
    )
    from sifr_project_java_ontology_processing_spark.sources.stage_store import (
        StageStore,
    )

    pages = kg_tables["pages"]
    root = str(tmp_path / "stages")
    _run(spark, kg_fixture, kg_tables, store=StageStore(spark, root, "rA"),
         run_id="rA")
    drifted = kg_tables["ontology_labels"].where(F.col("label_kind") != "hidden")
    with pytest.raises(ValueError, match="differ from the previous run"):
        run_kg_pipeline_incremental(
            spark, pages, drifted, kg_tables["mappings"],
            kg_tables["umls_concepts"], kg_tables["umls_semtypes"],
            store_root=root, run_id="rB", prev_run_id="rA",
            disambiguate_cuis=False,
        )


def test_pipeline_incremental_drift_guard_on_retry(spark, kg_fixture, kg_tables,
                                                   tmp_path):
    """The guard must compare prev vs the LIVE dim, not this run's
    committed signature: after a successful incremental run, retrying
    the SAME run_id with a drifted dim must still raise (a stale
    committed labels_sig would otherwise mask the drift)."""
    import pytest
    from pyspark.sql import functions as F

    from sifr_project_java_ontology_processing_spark.plans.kg_pipeline import (
        run_kg_pipeline_incremental,
    )
    from sifr_project_java_ontology_processing_spark.sources.stage_store import (
        StageStore,
    )

    pages = kg_tables["pages"]
    root = str(tmp_path / "stages")
    _run(spark, kg_fixture, kg_tables, store=StageStore(spark, root, "rA"),
         run_id="rA")
    # successful incremental run commits rB's labels_sig (== rA's)
    run_kg_pipeline_incremental(
        spark, pages, kg_tables["ontology_labels"], kg_tables["mappings"],
        kg_tables["umls_concepts"], kg_tables["umls_semtypes"],
        store_root=root, run_id="rB", prev_run_id="rA",
        disambiguate_cuis=False,
    )
    drifted = kg_tables["ontology_labels"].where(F.col("label_kind") != "hidden")
    with pytest.raises(ValueError, match="differ from the previous run"):
        run_kg_pipeline_incremental(
            spark, pages, drifted, kg_tables["mappings"],
            kg_tables["umls_concepts"], kg_tables["umls_semtypes"],
            store_root=root, run_id="rB", prev_run_id="rA",
            disambiguate_cuis=False,
        )


def test_incremental_commits_sig_before_snapshots(spark, kg_fixture, kg_tables,
                                                  tmp_path, monkeypatch):
    """Crash-window regression (round-3 review): if the driver dies
    after the incremental run materializes extracted/mentions but
    before the pipeline's own labels_sig stage, the run must ALREADY
    have its signature committed — otherwise a later incremental run
    from it silently skips the drift guard."""
    import pytest
    from sifr_project_java_ontology_processing_spark.plans import kg_pipeline as kp
    from sifr_project_java_ontology_processing_spark.sources.stage_store import (
        StageStore,
    )

    root = str(tmp_path / "stages")
    _run(spark, kg_fixture, kg_tables, store=StageStore(spark, root, "rA"),
         run_id="rA")

    def _boom(*a, **k):
        raise RuntimeError("simulated driver death after snapshot commits")

    monkeypatch.setattr(kp, "run_kg_pipeline", _boom)
    with pytest.raises(RuntimeError, match="simulated"):
        kp.run_kg_pipeline_incremental(
            spark, kg_tables["pages"], kg_tables["ontology_labels"],
            kg_tables["mappings"], kg_tables["umls_concepts"],
            kg_tables["umls_semtypes"],
            store_root=root, run_id="rB", prev_run_id="rA",
            disambiguate_cuis=False,
        )
    crashed = StageStore(spark, root, "rB")
    assert crashed.exists("labels_sig"), (
        "labels_sig must commit before extracted/mentions"
    )


def test_pipeline_salience_nodes(spark, kg_fixture, kg_tables):
    """score_salience adds a PageRank salience column to nodes; ranks
    must match pagerank() run standalone on the emitted edges, and
    every node row survives (left join, 0.0 floor for isolates)."""
    from sifr_project_java_ontology_processing_spark.operators.graph import pagerank

    res = _run(spark, kg_fixture, kg_tables, score_salience=True)
    base = _run(spark, kg_fixture, kg_tables)
    assert "salience" in res.nodes.columns
    assert res.nodes.count() == base.nodes.count()
    want = {
        r["node"]: r["rank"] for r in pagerank(base.edges, iterations=3).collect()
    }
    got = {r["iri"]: r["salience"] for r in res.nodes.collect()}
    for iri, sal in got.items():
        assert sal == pytest.approx(want.get(iri, 0.0), abs=1e-9)


def test_pipeline_sty_triples_are_resource_edges(spark, kg_fixture, kg_tables):
    """umls:hasSTY objects are IRIs (sty_uri, mirroring the reference's
    createResource), so they must carry obj_is_literal=False and reach
    the edges table ('sty' partition in graph_sink). Regression: they
    were unioned into the literal batch and never became edges."""
    from pyspark.sql import functions as F

    res = _run(spark, kg_fixture, kg_tables)
    sty = res.triples.where(F.col("pred") == UMLS_HAS_STY).collect()
    assert sty, "fixture must produce hasSTY triples"
    assert all(not r["obj_is_literal"] for r in sty)
    assert all(r["obj"].startswith(STY_BASE) for r in sty)
    edge_dsts = {
        r["dst"]
        for r in res.edges.where(F.col("pred") == UMLS_HAS_STY).collect()
    }
    assert edge_dsts == {r["obj"] for r in sty}
