"""KG-build and reason/query benchmark of the engine's public API.

    python3 perfbench/run.py --workload web_crawl --seed 1 --seconds 50 --trace 0

Run from the root of a checkout. Inputs come from ``perfbench/gen.py``
with the given seed; the engine only sees the generated parquet. The
run starts a fresh JVM on ``local[nproc]`` and sets up: session start,
a warm-up pass (the first parquet scan, of one input; for
``reason_query`` also writing its graph tables), then opening every
input table. It then measures the operations of
``perfbench/workload.py`` once each and checks every output.
``--seconds`` is the measuring budget: a run that takes longer says so
on stderr, it is not cut or repeated.

The bounded metrics are CPU seconds (on a host shared with other
tenants, stolen CPU time moves wall-clock figures by tens of percent).
``setup_s``, ``full_cpu_s`` and ``query_cpu_s`` are CPU of this process
tree (this process, the JVM, the Python workers; JIT compiler threads
left out): of set-up, of the full operation and of the query batch.
``triples_per_cpu_s`` is committed rows per CPU second of the full
operation. ``critical_path_cpu_s`` is read from the Spark event log:
per stage of the full operation, the CPU of its longest task, summed.
Skew and lost parallelism move it even when the summed CPU stays the
same. The measured operation is the first of its kind in the JVM: a
Spark job costs ~100 ms here whatever the input size, so a warm-up
build in every run would not fit the run's time budget.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` adds the
incremental operation, gives every layer its own Spark job group, and
reports the per-layer table. It also runs the checks that each cost a
corpus pass. The last stdout line is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``. The lines above it are a readable
table and the host fingerprint. The table gives the wall-clock set-up,
full operation and query p50/p90, the error rate, per-query medians and
the workload's own names for the generic metrics. The tracing overhead
is a traced run's ``trace.full_s`` minus the wall-clock full operation
of an untraced run on the same seed (both write the event log).

Everything the run writes goes under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = "sifr_project_java_ontology_processing_spark"
WORKLOADS = ("web_crawl", "reason_query")
DRIVER_MEMORY = "4g"

# CPU seconds: on a host shared with other tenants, stolen CPU time
# moved wall-clock figures by 40 % between sets of runs of the same code
E2E_UNITS = {
    "setup_s": "s",
    "full_cpu_s": "s",
    "critical_path_cpu_s": "s",
    "triples_per_cpu_s": "triples/s",
    "query_cpu_s": "s",
}
# what the generic end-to-end names mean on each workload
ALIASES = {
    "web_crawl": {"full_cpu_s": "build", "critical_path_cpu_s": "build",
                  "trace.full_s": "build_s", "trace.incremental_s": "incremental_s"},
    "reason_query": {"full_cpu_s": "entail", "critical_path_cpu_s": "entail",
                     "trace.full_s": "entail_s", "trace.incremental_s": "delta_entail_s"},
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment() -> None:
    """Run hygiene: a clean work tree inside the checkout, scratch dirs
    for Spark and the JVM, and PYTHONPATH for the Python workers (a run
    launched outside the repo otherwise fails in every worker)."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata_*,
    # and compiler threads that live as long as the JVM (see tree_cpu_s)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={WORK}/tmp"
    )
    sys.path.insert(0, ROOT)


def start_session(nproc: int):
    """Fresh SparkSession, with an uncompressed event log, through the
    package's own factory; returns (spark, seconds it took)."""
    from sifr_project_java_ontology_processing_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": f"{WORK}/local",
        "spark.sql.warehouse.dir": f"{WORK}/warehouse",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": f"file://{WORK}/events",
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)
    return spark, time.perf_counter() - t0


def run(args: argparse.Namespace) -> dict:
    from perfbench import gen, trace, workload as W
    from sifr_project_java_ontology_processing_spark.sources.graph_sink import (
        write_triples,
    )

    t_run = time.perf_counter()
    nproc = len(os.sched_getaffinity(0))
    spec = W.WORKLOADS[args.workload]
    cx = gen.generate(spec.shape, args.seed)
    paths = gen.write_parquet(cx, f"{WORK}/in")
    expected = W.Expected.of(args.workload, cx)
    load_before = os.getloadavg()[0]
    wall = {"inputs_s": time.perf_counter() - t_run}

    # ---- set-up: session start, warm-up scan, input load ------------------
    cpu_before = trace.tree_cpu_s(os.getpid())
    spark, start_s = start_session(nproc)
    try:
        sc = spark.sparkContext if args.trace else None
        setup = trace.Recorder(sc, group="session")
        with setup.span("warmup", "session") as warm:
            if args.workload == "reason_query":
                # graph tables in the graph_sink layout, from the oracle's
                # web_crawl-shaped build (the build is web_crawl's job)
                gen.write_graph(expected.graph, f"{WORK}/in/graph_rows.parquet")
                write_triples(spark.read.parquet(f"{WORK}/in/graph_rows.parquet"),
                              f"{WORK}/in/graph")
                paths["graph"] = f"{WORK}/in/graph"
            spark.read.parquet(paths[spec.tables[0]]).count()
        with setup.span("load", "session") as load:
            tables = W.load(spark, paths, spec.tables)
        setup_s = start_s + warm.wall + load.wall
        setup_cpu_s = trace.tree_cpu_s(os.getpid()) - cpu_before

        # ---- measured phase ---------------------------------------------------
        rec = trace.Recorder(sc)
        runner = W.Runner(spark, args.workload, tables, f"{WORK}/out", rec)
        s = W.Samples()
        # RSS is sampled in traced runs only: the sampler thread competes
        # with the driver thread for the GIL
        rss = trace.RssSampler(spark.sparkContext._gateway.proc.pid)
        with rss if args.trace else contextlib.nullcontext():
            runner.measure(s, expected, incremental=bool(args.trace))
        if s.measured_s > args.seconds:
            print(f"perfbench: measuring took {s.measured_s:.1f} s, over the "
                  f"{args.seconds:g} s budget", file=sys.stderr)
        host = trace.host_fingerprint(spark)
        if args.trace:
            # engine-side checks that each cost a pass over the corpus;
            # untraced runs rely on the oracle digests, which cover both
            if args.workload == "web_crawl":
                s.record("verify_extraction", W.extraction_ok(runner))
                s.record("incremental_vs_cold", W.incremental_matches_cold(runner))
            counts = W.layer_counts(runner)
    finally:
        trace.stop_session(spark)

    log = trace.read_event_log(f"{WORK}/events")
    if args.trace:
        unnamed = sum(1 for _jid, g in log.jobs() if g is None)
        if unnamed:
            s.mismatches.append(f"{unnamed} jobs outside a named group")
        metrics = layer_metrics(s, rec, runner, log.by_group(), counts, start_s, setup_s)
        metrics["session.peak_rss_mb"] = {"value": rss.peak_mb, "unit": "MiB"}
    else:
        values = {
            "setup_s": setup_cpu_s,
            "full_cpu_s": s.full_cpu_s,
            "critical_path_cpu_s": log.critical_cpu_s(s.full_window),
            "triples_per_cpu_s": s.full_rows / s.full_cpu_s,
            "query_cpu_s": s.query_cpu_s,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    host.update(load_1min_before=load_before, load_1min_after=os.getloadavg()[0])
    wall.update(setup_s=setup_s, measured_s=s.measured_s, checks_s=runner.check_s,
                total_s=time.perf_counter() - t_run)
    return {
        "workload": args.workload,
        "host": host,
        "wall": {k: round(v, 2) for k, v in wall.items()},
        "queries": len(s.query_ms),
        "walls": {"setup_s": setup_s, "full_s": s.full_s,
                  "query_p50_ms": W.median(s.query_ms),
                  "query_p90_ms": W.percentile(s.query_ms, 90)},
        "query_ms": {
            name: round(W.median([ms for n, ms in zip(s.query_names, s.query_ms) if n == name]), 1)
            for name in dict.fromkeys(s.query_names)
        },
        "error_rate": s.failed / s.attempted,
        "mismatches": s.mismatches,
        "result": {
            "correct": s.failed == 0 and not s.mismatches,
            "attempted": s.attempted,
            "failed": s.failed,
            "metrics": metrics,
        },
    }


def layer_metrics(s, rec, runner, agg, counts, start_s, setup_s) -> dict:
    """Per-layer table of a traced run (``session`` is set-up)."""
    from perfbench import trace, workload as W

    self_s = rec.self_time()
    m: dict[str, tuple[float, str]] = {}
    for layer in trace.LAYERS:
        a = agg.get(layer, {})
        m[f"{layer}.wall_s"] = (setup_s if layer == "session" else self_s.get(layer, 0.0), "s")
        m[f"{layer}.jobs"] = (a.get("jobs", 0), "count")
        m[f"{layer}.tasks"] = (a.get("tasks", 0), "count")
        m[f"{layer}.cpu_s"] = (a.get("cpu_s", 0.0), "s")
        m[f"{layer}.gc_s"] = (a.get("gc_s", 0.0), "s")
        m[f"{layer}.shuffle_mb"] = (a.get("shuffle_mb", 0.0), "MiB")
        m[f"{layer}.spill_mb"] = (a.get("spill_mb", 0.0), "MiB")

    def total(layer: str, key: str) -> float:
        return agg.get(layer, {}).get(key, 0.0)

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    shape = runner.spec.shape
    rows = s.full_rows
    build_layers = ("extraction", "mentions", "cascade", "canonicalize",
                    "kg_pipeline", "stage_store", "graph_sink")
    stage_mb, stage_files = W.dir_stats(f"{runner.out}/_stages")
    sink_mb, sink_files = W.dir_stats(f"{runner.out}/cold", f"{runner.out}/inc")
    measured = s.measured_s - s.measured_check_s
    uncovered = measured - rec.covered()
    web = runner.workload == "web_crawl"
    m.update({
        "session.start_s": (start_s, "s"),
        "extraction.pages_per_s": (
            ratio(shape.n_pages + shape.n_new_pages, m["extraction.wall_s"][0])
            if web else 0.0, "pages/s"),
        "mentions.per_page": (ratio(counts.get("mentions", 0), counts.get("pages", 0)),
                              "ratio"),
        "mentions.shuffle_records_per_mention": (
            ratio(total("mentions", "shuffle_records"), counts.get("mentions", 0)),
            "ratio"),
        "cascade.enriched_share": (
            ratio(counts.get("enriched", 0), counts.get("concepts", 0)), "ratio"),
        "canonicalize.eq_edges": (counts.get("eq_edges", 0), "count"),
        "canonicalize.merged_share": (
            ratio(counts.get("merged", 0), counts.get("iris", 0)), "ratio"),
        "kg_pipeline.triples_out": (rows if web else 0, "count"),
        "kg_pipeline.tasks_per_ktriple": (
            ratio(sum(total(layer, "tasks") for layer in build_layers), rows / 1e3)
            if web else 0.0, "ratio"),
        "stage_store.write_mb": (stage_mb, "MiB"),
        "stage_store.files": (stage_files, "count"),
        "stage_store.read_s": (self_s.get("stage_store", 0.0), "s"),
        "graph_sink.write_mb": (sink_mb, "MiB"),
        "graph_sink.files": (sink_files, "count"),
        "inference.inferred_per_asserted": (
            ratio(counts.get("entailed", 0) - counts.get("asserted", 0),
                  counts.get("asserted", 0)), "ratio"),
        "bgp.parse_ms": (W.median(s.parse_ms), "ms"),
        "bgp.query_p50_ms": (W.median(s.query_ms), "ms"),
        "bgp.query_p90_ms": (W.percentile(s.query_ms, 90), "ms"),
        "bgp.jobs_per_query": (ratio(agg.get("bgp", {}).get("jobs", 0), len(s.query_ms)),
                               "ratio"),
        "bgp.rows_read_per_result": (
            ratio(agg.get("bgp", {}).get("input_records", 0), s.result_rows), "ratio"),
        "trace.full_s": (s.full_s, "s"),
        "trace.incremental_s": (s.incremental_s, "s"),
        "trace.uncovered_s": (uncovered, "s"),
        "trace.uncovered_share": (ratio(uncovered, measured), "ratio"),
    })
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def print_report(rep: dict) -> None:
    w = rep["walls"]
    print(f"workload {rep['workload']}  "
          f"error_rate {rep['error_rate']:.4f} ratio  wall clock: "
          f"setup {w['setup_s']:.2f} s, full operation {w['full_s']:.2f} s, "
          f"query p50 {w['query_p50_ms']:.1f} ms / p90 {w['query_p90_ms']:.1f} ms "
          f"over {rep['queries']} queries")
    alias = ALIASES[rep["workload"]]
    for name, m in rep["result"]["metrics"].items():
        label = f"{name} ({alias[name]})" if name in alias else name
        print(f"  {label:40s} {m['value']:14.4f} {m['unit']}")
    print("  per-query median ms: " + " ".join(f"{k}={v}" for k, v in rep["query_ms"].items()))
    if rep["mismatches"]:
        print(f"  mismatches: {rep['mismatches']}")
    print(json.dumps({"host": rep["host"], "wall": rep["wall"]}))


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in (PACKAGE, "tests/oracle.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    prepare_environment()
    rep = run(args)
    print_report(rep)
    print(json.dumps(rep["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
