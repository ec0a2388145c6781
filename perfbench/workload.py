"""One benchmark run of a workload: the measured operations and their
checks.

Both workloads tell the same user story on a different layer stack: a
from-scratch operation, then a closed-loop SELECT batch over its
committed result (one client: each query is sent after the previous one
returns). Traced runs also run the
incremental counterpart in between. A run measures each of them once.

* ``web_crawl``: full = cold KG build of the base pages with the calls
  ``cli kg`` makes (stage snapshots on, graph tables out); incremental =
  ``run_kg_pipeline_incremental`` over the corpus grown by 10 % new
  pages; queries over the cold build's committed triples table.
* ``reason_query``: full = ``rdfs_plus_entail`` over graph tables in the
  ``graph_sink`` layout plus the generated schema and facts, forced to a
  committed table; incremental = ``rdfs_plus_entail_delta`` of an
  instance batch that touches the transitive property; queries over the
  committed entailed graph.

Every output is checked after it is timed: graphs and entailments
against the pure-Python oracles as multisets (a duplicate row is an
error), queries against DuckDB.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import statistics
import time
from collections import Counter

from pyspark.sql import functions as F

from sifr_project_java_ontology_processing_spark.operators.extraction import (
    verify_extraction,
)
from sifr_project_java_ontology_processing_spark.operators.inference import (
    rdfs_plus_entail,
    rdfs_plus_entail_delta,
)
from sifr_project_java_ontology_processing_spark.plans import kg_pipeline
from sifr_project_java_ontology_processing_spark.plans.bgp import (
    execute_bgp,
    parse_sparql,
)
from sifr_project_java_ontology_processing_spark.plans.kg_pipeline import (
    EQUIVALENCE_PROPERTIES,
    run_kg_pipeline,
    run_kg_pipeline_incremental,
)
from sifr_project_java_ontology_processing_spark.sources.graph_sink import (
    write_edges,
    write_nodes,
    write_triples,
)

from . import gen, oracle
from .queries import GRAPH_QUERIES, REASON_QUERIES, canonical_rows, duckdb_results
from .trace import CHECK_GROUP, Recorder, TracingStageStore, tree_cpu_s

COLS5 = ["subj", "pred", "obj", "obj_lang", "obj_is_literal"]
COLS6 = COLS5 + ["src_url"]
CLI_DISAMBIGUATE = False  # cli kg runs -dc only on request (run_kg_pipeline defaults it on)


@dataclasses.dataclass(frozen=True)
class Spec:
    shape: gen.Shape
    tables: tuple[str, ...]  # generated inputs the workload loads
    queries: list  # the SELECT batch


WORKLOADS = {
    # many pages, a small ontology, a quarter of the pages from one hot
    # host mentioning two head concepts; broadcast-trie mention path
    "web_crawl": Spec(
        gen.Shape(
            n_pages=3000, n_new_pages=300, n_concepts=300, hot_host_share=0.25,
            hot_token_share=0.1, n_eq_chains=8, n_eq_cycles=4, broader_share=0.3,
            category_depth=3,
        ),
        ("pages_base", "pages", "ontology_labels", "mappings", "umls_concepts",
         "umls_semtypes"),
        GRAPH_QUERIES,
    ),
    # a web_crawl-shaped graph under a 9-level class hierarchy, a
    # transitive property with an inverse, a symmetric property and
    # domain/range axioms
    "reason_query": Spec(
        gen.Shape(
            n_pages=600, n_new_pages=60, n_concepts=300, hot_host_share=0.25,
            hot_token_share=0.1, n_eq_chains=8, n_eq_cycles=4, broader_share=0.3,
            category_depth=9,
        ),
        ("graph", "facts", "delta"),
        REASON_QUERIES,
    ),
}


@contextlib.contextmanager
def traced_stage_stores(recorder: Recorder):
    """``run_kg_pipeline_incremental`` builds its own stores; route them
    through ``TracingStageStore`` too, for the duration of the call."""
    orig = kg_pipeline.StageStore
    kg_pipeline.StageStore = lambda spark, root, run_id: TracingStageStore(
        spark, root, run_id, recorder
    )
    try:
        yield
    finally:
        kg_pipeline.StageStore = orig


def load(spark, paths: dict[str, str], names) -> dict:
    """Open the named input tables (schema and footers; the operations
    scan them, as ``cli kg`` does)."""
    return {name: spark.read.parquet(paths[name]) for name in names}


def rows(df, cols: list[str]) -> Counter:
    """The table's rows as a multiset, so that a duplicate row never
    equals an oracle set."""
    pdf = df.select(*cols).toPandas()
    return Counter(
        tuple(bool(v) if c == "obj_is_literal" else v for c, v in zip(cols, r))
        for r in pdf.itertuples(index=False, name=None)
    )


def same_rows(got: Counter, want: set) -> bool:
    """Every oracle row exactly once, nothing else."""
    return sum(got.values()) == len(want) and got.keys() == want


@dataclasses.dataclass
class Expected:
    """Oracle outputs of the full and the incremental operation, plus
    the graph ``reason_query`` starts from (computed before the session
    starts; never timed)."""

    full: set
    incremental: set
    graph: set

    @classmethod
    def of(cls, workload: str, cx: gen.Corpus) -> "Expected":
        grown = oracle.graph_triples(cx, cx.pages)
        if workload == "web_crawl":
            base = oracle.graph_triples(cx, cx.pages[: cx.n_base])
            return cls(base, grown, grown)
        asserted = {t[:5] for t in grown} | set(cx.facts)
        return cls(
            oracle.rdfs_plus_closure(asserted),
            oracle.rdfs_plus_closure(asserted | set(cx.delta)),
            grown,
        )


@dataclasses.dataclass
class Samples:
    full_s: float = 0.0
    full_cpu_s: float = 0.0
    full_window: tuple = (0.0, 0.0)  # epoch ms the full operation ran in
    full_rows: int = 0  # committed rows, duplicates included
    incremental_s: float = 0.0
    query_cpu_s: float = 0.0  # the whole batch
    query_ms: list = dataclasses.field(default_factory=list)
    query_names: list = dataclasses.field(default_factory=list)
    parse_ms: list = dataclasses.field(default_factory=list)
    result_rows: int = 0
    measured_s: float = 0.0
    measured_check_s: float = 0.0  # the checks' share of measured_s
    attempted: int = 0
    failed: int = 0
    mismatches: list = dataclasses.field(default_factory=list)

    def record(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.mismatches.append(name)


class Runner:
    """Drives one workload's operations against one SparkSession."""

    def __init__(self, spark, workload: str, tables: dict, out: str,
                 recorder: Recorder) -> None:
        self.spark = spark
        self.workload = workload
        self.spec = WORKLOADS[workload]
        self.t = tables
        self.out = out
        self.rec = recorder
        self.check_s = 0.0

    # ---- operations ----------------------------------------------------------

    def _sink(self, result, dest: str) -> None:
        rec = self.rec
        with rec.span("write_triples", "graph_sink"):
            write_triples(result.triples, f"{dest}/triples")
        with rec.span("write_nodes", "graph_sink"):
            write_nodes(result.nodes, f"{dest}/nodes")
        with rec.span("write_edges", "graph_sink"):
            write_edges(result.edges, f"{dest}/edges")
        with rec.span("write_metrics", "graph_sink"):
            result.metrics.write.mode("overwrite").parquet(f"{dest}/metrics")

    def build(self, pages: str = "pages_base", dest: str = "cold") -> float:
        """Cold build as ``cli kg`` runs it; the output and its stage
        snapshots are deleted first so nothing resumes."""
        shutil.rmtree(f"{self.out}/{dest}", ignore_errors=True)
        shutil.rmtree(f"{self.out}/_stages/{dest}", ignore_errors=True)
        t = self.t
        with self.rec.span(f"build:{dest}", "kg_pipeline") as sp:
            store = TracingStageStore(self.spark, f"{self.out}/_stages", dest, self.rec)
            result = run_kg_pipeline(
                self.spark, t[pages], t["ontology_labels"], t["mappings"],
                t["umls_concepts"], t["umls_semtypes"], store=store, run_id=dest,
                disambiguate_cuis=CLI_DISAMBIGUATE,
            )
            self._sink(result, f"{self.out}/{dest}")
        return sp.wall

    def incremental_build(self) -> float:
        shutil.rmtree(f"{self.out}/inc", ignore_errors=True)
        shutil.rmtree(f"{self.out}/_stages/inc", ignore_errors=True)
        t = self.t
        with self.rec.span("incremental", "kg_pipeline") as sp, traced_stage_stores(self.rec):
            result = run_kg_pipeline_incremental(
                self.spark, t["pages"], t["ontology_labels"], t["mappings"],
                t["umls_concepts"], t["umls_semtypes"],
                store_root=f"{self.out}/_stages", run_id="inc", prev_run_id="cold",
                disambiguate_cuis=CLI_DISAMBIGUATE,
            )
            self._sink(result, f"{self.out}/inc")
        return sp.wall

    def entail(self) -> float:
        with self.rec.span("entail", "inference") as sp:
            graph = self.t["graph"].select(*COLS5).unionByName(self.t["facts"])
            write_triples(rdfs_plus_entail(graph), f"{self.out}/ent")
        return sp.wall

    def delta_entail(self) -> float:
        with self.rec.span("delta_entail", "inference") as sp:
            entailed = self.spark.read.parquet(f"{self.out}/ent")
            write_triples(
                rdfs_plus_entail_delta(entailed, self.t["delta"]), f"{self.out}/ent2"
            )
        return sp.wall

    def query(self, graph, sparql: str) -> tuple[float, float, list]:
        """(parse ms, total ms, result rows) of one SELECT."""
        with self.rec.span("query", "bgp") as sp:
            t0 = time.perf_counter()
            parsed = parse_sparql(sparql)
            parse_ms = (time.perf_counter() - t0) * 1e3
            result = execute_bgp(graph, parsed).collect()
        return parse_ms, sp.wall * 1e3, result

    # ---- checks --------------------------------------------------------------

    def check(self, fn):
        """Run ``fn`` as a correctness check: untimed, in the check job
        group, its wall time kept apart from the measured spans."""
        t0 = time.perf_counter()
        sc = self.rec.sc
        if sc is not None:
            sc.setJobGroup(CHECK_GROUP, "correctness check")
        try:
            return fn()
        finally:
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.check_s += time.perf_counter() - t0

    def table(self, name: str, cols: list[str]) -> Counter:
        return self.check(lambda: rows(self.spark.read.parquet(f"{self.out}/{name}"), cols))

    # ---- the measured operations ---------------------------------------------

    def measure(self, s: Samples, expected: Expected, incremental: bool) -> None:
        """The full operation, the incremental one when asked (traced
        runs), then the query batch over the full operation's committed
        output; each output checked."""
        t0, check0 = time.perf_counter(), self.check_s
        if self.workload == "web_crawl":
            full, incr = self.build, self.incremental_build
            full_table, inc_table, cols = "cold/triples", "inc/triples", COLS6
        else:
            full, incr = self.entail, self.delta_entail
            full_table, inc_table, cols = "ent", "ent2", COLS5
        cpu0, w0 = tree_cpu_s(os.getpid()), time.time() * 1e3
        s.full_s = full()
        s.full_window = (w0, time.time() * 1e3)
        s.full_cpu_s = tree_cpu_s(os.getpid()) - cpu0
        got = self.table(full_table, cols)
        s.record("full", same_rows(got, expected.full))
        s.full_rows = sum(got.values())
        if incremental:
            s.incremental_s = incr()
            s.record("incremental", same_rows(self.table(inc_table, cols), expected.incremental))

        queries = self.spec.queries
        want = self.check(lambda: duckdb_results(f"{self.out}/{full_table}", queries))
        with self.rec.span("read_graph", "bgp"):
            graph = self.spark.read.parquet(f"{self.out}/{full_table}")
        cpu0 = tree_cpu_s(os.getpid())
        for name, sparql, _sql in queries:
            parse_ms, ms, result = self.query(graph, sparql)
            s.parse_ms.append(parse_ms)
            s.query_ms.append(ms)
            s.query_names.append(name)
            s.result_rows += len(result)
            s.record(f"query:{name}", canonical_rows(result) == want[name])
        s.query_cpu_s = tree_cpu_s(os.getpid()) - cpu0
        s.measured_s = time.perf_counter() - t0
        s.measured_check_s = self.check_s - check0


def extraction_ok(runner: Runner) -> bool:
    return runner.check(lambda: verify_extraction(runner.t["pages"]).count() == 0)


def incremental_matches_cold(runner: Runner) -> bool:
    """The incremental run's triples equal a cold build's over the same
    grown corpus (the extra build runs in the check job group)."""
    checker = Runner(runner.spark, runner.workload, runner.t, runner.out,
                     Recorder(runner.rec.sc, group=CHECK_GROUP))
    checker.build(pages="pages", dest="cold_grown")
    inc = runner.table("inc/triples", COLS6)
    return inc == runner.table("cold_grown/triples", COLS6) and max(inc.values()) == 1


def layer_counts(runner: Runner) -> dict[str, float]:
    """Counts the per-layer ratios need, read from the committed tables
    (check group, never timed)."""
    spark, out = runner.spark, runner.out
    if runner.workload != "web_crawl":
        return runner.check(lambda: {
            "asserted": runner.t["graph"].count() + runner.t["facts"].count(),
            "entailed": spark.read.parquet(f"{out}/ent").count(),
        })

    def count():
        st = f"{out}/_stages/cold"
        casc = spark.read.parquet(f"{st}/cascade")
        canon = spark.read.parquet(f"{st}/canonical")
        return {
            "pages": runner.t["pages_base"].count(),
            "mentions": spark.read.parquet(f"{st}/mentions").count(),
            "concepts": casc.count(),
            "enriched": casc.where(F.size("cuis") > 0).count(),
            "iris": canon.count(),
            "merged": canon.where(F.col("iri") != F.col("canonical_iri")).count(),
            "eq_edges": runner.t["mappings"].where(
                F.col("property").isin(*EQUIVALENCE_PROPERTIES)
            ).count(),
        }

    return runner.check(count)


def dir_stats(*paths: str) -> tuple[float, int]:
    """(MiB, data files) under the given directories."""
    size, files = 0, 0
    for p in paths:
        for root, _dirs, names in os.walk(p):
            for n in names:
                if n.startswith(("_", ".")):
                    continue
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size / 2**20, files


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, p: int) -> float:
    """p-th percentile, interpolated between order statistics."""
    return float(statistics.quantiles(xs, n=100, method="inclusive")[p - 1])
