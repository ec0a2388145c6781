"""The fixed SPARQL SELECT batches and their DuckDB replay.

``GRAPH_QUERIES`` run over the triples table a build commits,
``REASON_QUERIES`` over the committed entailed graph. Each query runs
through ``plans.bgp``; the same question is asked of DuckDB as SQL over
the same parquet files (``t``), and the two result bags must be equal.
"""

from __future__ import annotations

from sifr_project_java_ontology_processing_spark.functions.uris import (
    RDF_TYPE as T,
    SIFR_MENTION as M,
    UMLS_CUI as CUI,
)

from .gen import (
    CATEGORY,
    DOCUMENT,
    EX,
    HAS_PART,
    LINKS,
    PAGE,
    PART_OF,
    RELATED,
    TOPIC,
    WHOLE,
)

ROOT_SEC = f"{EX}sec/0"
ROOT_CAT = f"{CATEGORY}0"

# (name, SPARQL, SQL over t(subj, pred, obj, obj_lang, obj_is_literal))
REASON_QUERIES: list[tuple[str, str, str]] = [
    (
        "bgp_star",
        f"""SELECT ?p ?c WHERE {{ ?p <{M}> ?c . ?p <{T}> <{DOCUMENT}> .
            ?c <{T}> <{TOPIC}> . ?p <{PART_OF}> <{ROOT_SEC}> }}""",
        f"""SELECT a.subj, a.obj FROM t a
            JOIN t b ON b.subj = a.subj AND b.pred = '{T}' AND b.obj = '{DOCUMENT}'
            JOIN t c ON c.subj = a.obj AND c.pred = '{T}' AND c.obj = '{TOPIC}'
            JOIN t d ON d.subj = a.subj AND d.pred = '{PART_OF}' AND d.obj = '{ROOT_SEC}'
            WHERE a.pred = '{M}'""",
    ),
    (
        "path_plus",
        f"SELECT ?a ?b WHERE {{ ?a <{LINKS}>+ ?b }}",
        f"""WITH RECURSIVE r(a, b) AS (
              SELECT subj, obj FROM t WHERE pred = '{LINKS}'
              UNION
              SELECT r.a, t.obj FROM r JOIN t ON t.subj = r.b AND t.pred = '{LINKS}')
            SELECT a, b FROM r""",
    ),
    (
        "optional",
        f"""SELECT ?p ?r WHERE {{ ?p <{T}> <{PAGE}>
            OPTIONAL {{ ?p <{RELATED}> ?r }} }}""",
        f"""SELECT a.subj, b.obj FROM t a
            LEFT JOIN t b ON b.subj = a.subj AND b.pred = '{RELATED}'
            WHERE a.pred = '{T}' AND a.obj = '{PAGE}'""",
    ),
    (
        "group_count",
        f"SELECT ?c (COUNT(?p) AS ?n) WHERE {{ ?p <{M}> ?c }} GROUP BY ?c",
        f"SELECT obj, count(*) FROM t WHERE pred = '{M}' GROUP BY obj",
    ),
    (
        "filter_prefix",
        f"""SELECT ?p ?c WHERE {{ ?p <{M}> ?c
            FILTER(STRSTARTS(STR(?p), "https://hot-host0.")) }}""",
        f"""SELECT subj, obj FROM t WHERE pred = '{M}'
            AND starts_with(subj, 'https://hot-host0.')""",
    ),
    (
        "order_limit",
        f"SELECT ?c ?cui WHERE {{ ?c <{CUI}> ?cui }} ORDER BY ?c ?cui LIMIT 50",
        f"SELECT subj, obj FROM t WHERE pred = '{CUI}' ORDER BY subj, obj LIMIT 50",
    ),
    (
        "having",
        f"""SELECT ?k (COUNT(?x) AS ?n) WHERE {{ ?x <{T}> ?k }}
            GROUP BY ?k HAVING(?n >= 20)""",
        f"""SELECT obj, count(*) FROM t WHERE pred = '{T}'
            GROUP BY obj HAVING count(*) >= 20""",
    ),
    (
        "inverse_top",
        f"""SELECT ?w (COUNT(?x) AS ?n) WHERE {{ ?w <{HAS_PART}> ?x . ?w <{T}> <{WHOLE}> }}
            GROUP BY ?w ORDER BY DESC(?n) ?w LIMIT 20""",
        f"""SELECT a.subj, count(*) AS n FROM t a
            JOIN t b ON b.subj = a.subj AND b.pred = '{T}' AND b.obj = '{WHOLE}'
            WHERE a.pred = '{HAS_PART}'
            GROUP BY a.subj ORDER BY n DESC, a.subj LIMIT 20""",
    ),
    (
        "symmetric_pairs",
        f"""SELECT ?a ?b WHERE {{ ?a <{RELATED}> ?b . ?b <{RELATED}> ?a
            FILTER(STR(?a) < STR(?b)) }}""",
        f"""SELECT x.subj, x.obj FROM t x JOIN t y
            ON y.subj = x.obj AND y.obj = x.subj AND y.pred = '{RELATED}'
            WHERE x.pred = '{RELATED}' AND x.subj < x.obj""",
    ),
    (
        "deep_type_count",
        f"SELECT (COUNT(?p) AS ?n) WHERE {{ ?p <{T}> <{ROOT_CAT}> }}",
        f"SELECT count(*) FROM t WHERE pred = '{T}' AND obj = '{ROOT_CAT}'",
    ),
]


_BY_NAME = {q[0]: q for q in REASON_QUERIES}
GRAPH_QUERIES: list[tuple[str, str, str]] = [
    _BY_NAME[n] for n in ("group_count", "filter_prefix", "order_limit", "having")
] + [
    (
        "mention_cui",
        f"SELECT ?p ?cui WHERE {{ ?p <{M}> ?c . ?c <{CUI}> ?cui }}",
        f"""SELECT a.subj, b.obj FROM t a
            JOIN t b ON b.subj = a.obj AND b.pred = '{CUI}'
            WHERE a.pred = '{M}'""",
    ),
    (
        "hot_concepts",
        f"""SELECT ?c (COUNT(?p) AS ?n) WHERE {{ ?p <{M}> ?c
            FILTER(STRSTARTS(STR(?p), "https://hot-host0.")) }}
            GROUP BY ?c ORDER BY DESC(?n) ?c LIMIT 10""",
        f"""SELECT obj, count(*) AS n FROM t WHERE pred = '{M}'
            AND starts_with(subj, 'https://hot-host0.')
            GROUP BY obj ORDER BY n DESC, obj LIMIT 10""",
    ),
]


def canonical_rows(rows) -> list[tuple]:
    """Order-free comparable form of a result bag: every value as its
    lexical string (NULL stays None), rows sorted."""
    return sorted(
        (tuple(None if v is None else str(v) for v in r) for r in rows),
        key=lambda r: tuple((v is None, v or "") for v in r),
    )


def duckdb_results(table_dir: str, queries) -> dict[str, list[tuple]]:
    """Every query's expected rows, from DuckDB over a graph_sink-layout
    (pred_kind-partitioned) parquet table."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW t AS SELECT * FROM read_parquet("
            f"'{table_dir}/**/*.parquet', hive_partitioning = true)"
        )
        return {
            name: canonical_rows(con.execute(sql).fetchall())
            for name, _sparql, sql in queries
        }
    finally:
        con.close()
