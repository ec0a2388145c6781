"""SKOS ontology generation from dictionary/corpus CSVs — the
reference's ``EHealth2017DictionaryToSkos`` entry point re-expressed as
one linear DataFrame DAG (SURVEY.md §3.2: S3/S4/S5 scans → A1-A6
aggregations → J10 chapter range join → W2 prefLabel pick → triple rows).

Three generation modes (reference :300-366):
  * ``default`` — every dictionary/corpus code becomes a concept with
    all its labels (pref picked by W2 heuristic, rest as altLabels).
  * ``most_frequent`` (-mfc) — each label assigned only to its
    most-frequent code (A4 normalize → A5 argmax).
  * ``adapted`` (-a) — standardized labels kept only when unambiguous
    (single code, A6), raw labels kept for all their codes.

This is also how the engine builds its ``ontology_labels`` broadcast
dimension without external data (SURVEY.md §7.2 M5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sifr_project_java_ontology_processing_spark.functions.text import (
    normalize_code,
    uppercase_ratio,
)
from sifr_project_java_ontology_processing_spark.functions.uris import (
    RDF_TYPE,
    SKOS_BROADER,
    SKOS_CONCEPT,
    SKOS_IN_SCHEME,
    SKOS_PREF_LABEL,
    SKOS_ALT_LABEL,
)

# threshold const (reference EHealth2017DictionaryToSkos.java:38)
UPPERCASE_RATIO_MAX = 0.25


def label_code_pairs(
    dictionary: DataFrame, corpus: DataFrame | None = None
) -> DataFrame:
    """Union of (label, code, origin) pairs from both sources.

    dictionary: (label, code, code2?) — second code column optional
    (reference field 3, :66-67); empty/'NULL' codes dropped (P8 :218,223).
    corpus: (raw_text, std_text, code) (reference fields 6/10/11).
    origin ∈ {dict, std, raw} feeds the adapted mode (A6).
    """
    d = dictionary.select(
        F.trim("label").alias("label"), F.trim("code").alias("code")
    ).withColumn("origin", F.lit("dict"))
    if "code2" in dictionary.columns:
        d2 = dictionary.select(
            F.trim("label").alias("label"), F.trim("code2").alias("code")
        ).withColumn("origin", F.lit("dict"))
        d = d.unionByName(d2)
    parts = [d]
    if corpus is not None:
        parts.append(
            corpus.select(
                F.trim("std_text").alias("label"), F.trim("code").alias("code")
            ).withColumn("origin", F.lit("std"))
        )
        parts.append(
            corpus.select(
                F.trim("raw_text").alias("label"), F.trim("code").alias("code")
            ).withColumn("origin", F.lit("raw"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.where(
        F.col("code").isNotNull()
        & (F.col("code") != "")
        & (F.col("code") != "NULL")
        & F.col("label").isNotNull()
        & (F.col("label") != "")
    ).withColumn("code", normalize_code(F.col("code")))


def most_frequent_code(pairs: DataFrame) -> DataFrame:
    """A4+A5 — per label: normalize candidate-code frequencies to sum 1,
    keep the argmax (freq desc, code asc tie-break).
    → (label, code, freq_share)."""
    counts = pairs.groupBy("label", "code").agg(F.count(F.lit(1)).alias("n"))
    w_label = Window.partitionBy("label")
    shared = counts.withColumn(
        "freq_share", F.round(F.col("n") / F.sum("n").over(w_label), 6)
    )
    w_rank = Window.partitionBy("label").orderBy(F.desc("freq_share"), F.asc("code"))
    return (
        shared.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select("label", "code", "freq_share")
    )


def unambiguous_std_labels(pairs: DataFrame) -> DataFrame:
    """A6 — std labels whose code set has exactly one element, unioned
    with all raw labels (reference :346-366). → (label, code)."""
    std = (
        pairs.where(F.col("origin") == "std")
        .groupBy("label")
        .agg(F.collect_set("code").alias("codes"))
        .where(F.size("codes") == 1)
        .select("label", F.col("codes").getItem(0).alias("code"))
    )
    raw = pairs.where(F.col("origin") == "raw").select("label", "code").distinct()
    return std.unionByName(raw).distinct()


def pick_pref_labels(pairs: DataFrame) -> DataFrame:
    """W2 — per code: shortest label with uppercase ratio <
    UPPERCASE_RATIO_MAX; fallback to any (shortest) label
    (reference :404-425). → (code, pref_label)."""
    good = uppercase_ratio(F.col("label")) < UPPERCASE_RATIO_MAX
    w = Window.partitionBy("code").orderBy(
        F.desc(good), F.asc(F.length("label")), F.asc("label")
    )
    return (
        pairs.select("code", "label")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("code", F.col("label").alias("pref_label"))
    )


def assign_chapters(codes: DataFrame, chapters: DataFrame) -> DataFrame:
    """J10 — first chapter whose hi ≥ code (reference getChapterURI,
    EHealth2017DictionaryToSkos.java:394-402, scans ranges in order and
    takes the first hit; ranges are sorted, so "first" = min hi).
    chapters: (chapter_uri, lo, hi) string bounds. → (code, chapter_uri).

    Reference-parity quirks, kept deliberately (reference_bug_compat):
      * ``lo`` is never checked — getChapterURI compares only
        ``hi < code``, so a code below every range's lo still lands in
        the first range whose hi covers it;
      * a code ABOVE every hi falls back to the FIRST chapter
        (``rangeURI`` is initialized to ``codeRangeURIs.get(0)`` and the
        ``position < size`` guard fails) — NOT to null. chapter_uri is
        null only when the chapters table itself is empty."""
    cand = codes.join(
        F.broadcast(chapters), F.col("code") <= F.col("hi"), "left"
    )
    w = Window.partitionBy("code").orderBy(F.asc("hi"))
    first_ch = F.broadcast(
        chapters.orderBy(F.asc("hi"))
        .limit(1)
        .select(F.lit(1).alias("_k"), F.col("chapter_uri").alias("_fallback"))
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .withColumn("_k", F.lit(1))
        .join(first_ch, "_k", "left")
        .select(
            "code",
            F.coalesce("chapter_uri", "_fallback").alias("chapter_uri"),
        )
    )


def generate_skos(
    dictionary: DataFrame,
    corpus: DataFrame | None = None,
    chapters: DataFrame | None = None,
    mode: str = "default",
    lang: str = "fr",
    base_uri: str = "http://chu-rouen.fr/cismef/CIM-10#",
    scheme_uri: str = "http://chu-rouen.fr/cismef/CIM-10",
) -> DataFrame:
    """Full generator → TRIPLES-shaped DataFrame (obj_lang carries the
    label language, matching the reference's ``@lang`` literals)."""
    pairs = label_code_pairs(dictionary, corpus)

    if mode == "most_frequent":
        kept = most_frequent_code(pairs).select("label", "code")
    elif mode == "adapted":
        kept = unambiguous_std_labels(pairs)
    elif mode == "default":
        kept = pairs.select("label", "code").distinct()
    else:
        raise ValueError(f"unknown mode {mode!r}")

    pref = pick_pref_labels(kept)
    concept = F.concat(F.lit(base_uri), F.col("code"))

    def triple(subj, pred: str, obj, obj_lang=None, literal=False):
        return F.struct(
            subj.alias("subj"),
            F.lit(pred).alias("pred"),
            obj.alias("obj"),
            (F.lit(obj_lang) if obj_lang else F.lit(None)).cast("string").alias("obj_lang"),
            F.lit(literal).alias("obj_is_literal"),
            F.lit(None).cast("string").alias("src_url"),
        )

    codes = kept.select("code").distinct()
    base = codes.select(
        F.explode(
            F.array(
                triple(concept, RDF_TYPE, F.lit(SKOS_CONCEPT)),
                triple(concept, SKOS_IN_SCHEME, F.lit(scheme_uri)),
            )
        ).alias("t")
    ).select("t.*")

    pref_triples = pref.select(
        triple(
            F.concat(F.lit(base_uri), F.col("code")),
            SKOS_PREF_LABEL,
            F.col("pref_label"),
            obj_lang=lang,
            literal=True,
        ).alias("t")
    ).select("t.*")

    alt_triples = (
        kept.join(pref, "code")
        .where(F.col("label") != F.col("pref_label"))
        .select(
            triple(
                F.concat(F.lit(base_uri), F.col("code")),
                SKOS_ALT_LABEL,
                F.col("label"),
                obj_lang=lang,
                literal=True,
            ).alias("t")
        )
        .select("t.*")
    )

    out = base.unionByName(pref_triples).unionByName(alt_triples)

    if chapters is not None:
        ch = assign_chapters(codes, chapters).where(F.col("chapter_uri").isNotNull())
        ch_triples = ch.select(
            triple(
                F.concat(F.lit(base_uri), F.col("code")),
                SKOS_BROADER,
                F.col("chapter_uri"),
            ).alias("t")
        ).select("t.*")
        out = out.unionByName(ch_triples)

    return out.distinct()
