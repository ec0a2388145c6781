"""Streaming jobs: windowed event aggregation, exact dedup, curation
and entailment lifted to Structured Streaming.

Scale notes: the streaming twins reuse the batch operators' column
logic (imported, not reimplemented), so batch/stream parity is by
construction. The windowed aggregation keeps bounded state via
watermarking; output mode ``update`` for dashboards, ``append`` for
exactly-once sinks after the watermark closes windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_events_hourly(
    events: DataFrame, watermark: str = "2 hours", window: str = "1 hour"
) -> DataFrame:
    """Tumbling-window count/sum per event_type with late-data bound.
    ``events`` must be a streaming DataFrame with ``ts`` event time."""
    # watermarks need TIMESTAMP (not NTZ); normalize once (UTC session TZ)
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_events_stream_demo(
    spark: SparkSession, source_parquet: str, checkpoint_dir: str, out_dir: str
):
    """File-source streaming demo over the events table directory —
    exercises a real StreamingQuery (used by tests with
    ``availableNow`` so it terminates deterministically)."""
    schema = spark.read.parquet(source_parquet).schema
    stream = (
        spark.readStream.schema(schema).format("parquet").load(source_parquet)
    )
    agg = streaming_events_hourly(stream)
    return (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def streaming_exact_dedup(
    docs_stream: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup for a training-data ingest: keep the first
    arrival of each distinct content hash within the watermark horizon.
    The content hash is md5(coalesce(text, '')) — the same null-safe
    key the batch ``curate_corpus``/``exact_dedup`` use, so batch and
    streaming agree that NULL and '' text are one zero-content group.
    ``dropDuplicatesWithinWatermark`` keeps state BOUNDED — each hash is
    held only until the watermark passes its first-seen event time, so
    state is O(arrival rate × horizon), not O(stream history). The
    batch twin is operators/dedup.exact_dedup (keeper = first seen
    instead of min id — streams have no global min)."""
    return (
        docs_stream.withColumn("text_hash", F.md5(F.coalesce(F.col(text_col), F.lit(""))))
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def streaming_curate(
    docs_stream: DataFrame,
    ts_col: str = "ts",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    min_stopword_ratio: float = 0.05,
    allowed_langs: tuple[str, ...] = ("en",),
    watermark: str = "1 hour",
    model_weights: dict[str, float] | None = None,
    model_bias: float = 0.0,
    model_threshold: float = 0.5,
) -> DataFrame:
    """Streaming ingest curation: the stateless curation signals
    (quality + language — the same expressions batch ``curate_corpus``
    composes) evaluated per arriving document, then first-arrival exact
    dedup within the watermark horizon. → the KEPT stream with a
    ``drop_reason``-free contract (dropped rows never emit).

    ``model_weights`` (+ ``model_bias``/``model_threshold``) optionally
    adds the MODEL-BASED quality gate to the ingest stream: the
    trained NB log-odds classifier scored per row by
    ``quality_model.score_quality_inline`` — a constant-folded literal
    map and an ``F.aggregate`` fold, NO groupBy, so it drops into the
    stream as a stateless stage (the grouped batch scorer would be a
    stateful streaming aggregation). Train batch-side on a labeled
    sample, ship ``weights_as_dict(weights)`` here.

    State shape: the only state is the dedup hash set, bounded by the
    watermark exactly as in ``streaming_exact_dedup``; quality/lang/
    model score are pure column expressions. Benchmark decontamination
    is deliberately NOT here — it needs the corpus-vs-benchmark join,
    which belongs to the batch compaction pass (streams curate what CAN
    be decided per row + bounded state; the nightly batch
    decontaminates)."""
    from sifr_project_java_ontology_processing_spark.operators.curation import (
        STOPWORDS,
    )
    from sifr_project_java_ontology_processing_spark.operators.textanalysis import (
        lang_pred_cols,
    )

    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
    n_tok = F.size(toks)
    stop_ratio = F.when(n_tok <= 0, F.lit(0.0)).otherwise(
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))) / n_tok.cast("double")
    )
    quality_ok = (n_tok >= min_tokens) & (stop_ratio >= min_stopword_ratio)
    pred_lang, _hits = lang_pred_cols(F.col(text_col))

    out = docs_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")).where(
        quality_ok & pred_lang.isin(*allowed_langs)
    )
    if model_weights is not None:
        from sifr_project_java_ontology_processing_spark.operators.quality_model import (
            score_quality_inline,
        )

        out = score_quality_inline(
            out, model_weights, model_bias, text_col, model_threshold
        ).where(F.col("is_good")).drop("is_good")
    return (
        out.withColumn("text_hash", F.md5(F.coalesce(F.col(text_col), F.lit(""))))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def streaming_entail(
    triples_stream: DataFrame,
    schema_graph: DataFrame,
) -> DataFrame:
    """Streaming RDFS rule application: each arriving asserted triple
    is emitted together with its rdfs7/2/3/9 consequences, derived
    against a STATIC schema graph whose subClassOf triples are closed
    (batch-side ``rdfs_entail`` output — pass a raw schema through
    ``rdfs_entail`` once at job start).

    The plan is the one ``rdfs_entail_delta`` runs over a delta: the
    schema graph's property rules compile on the driver (a bounded
    collect that raises past ``_CLOSURE_DRIVER_EDGE_MAX`` rows), each
    triple expands in one explode over that map literal, and rdfs9 is
    one broadcast stream-static join. Stateless by construction: no
    watermark and no state store. Cross-batch DEDUPLICATION is
    deliberately not here: consequence triples repeat if re-asserted,
    and the nightly compaction (``rdfs_entail_delta`` on the
    accumulated batch) is the set-semantics point — same split as
    streaming_curate vs batch decontamination."""
    from sifr_project_java_ontology_processing_spark.operators import inference as inf

    g = schema_graph.select(*inf._TRIPLE_COLS)
    schema = inf._compile_schema(g, inf._RDFS, max_depth=20)
    facts = inf._expand_facts(triples_stream.select(*inf._TRIPLE_COLS), schema)
    return inf._with_supertypes(facts, inf._subclass_pairs(g))
