"""IRI canonicalization: connected components + skew-safe aggregation
(SURVEY.md §7.1 canonicalization stage; north_rule skew/checkpoint
requirements).

The reference has no canonicalization — its mapping predicates
(skos:exactMatch etc., mapping/DefaultOntologyMappingDelegate.java:27-32)
stay as pairwise triples. At 10^12-document scale, equivalent IRIs must
be merged: mapping/sameAs edges form a graph whose connected components
each get one canonical IRI (the lexicographic min member — deterministic
"first of TreeSet" semantics, SURVEY.md O3).

Algorithm: alternating large-star / small-star (Kiveris et al. 2014,
"Connected Components in MapReduce and Beyond") — converges in
O(log² n) rounds on pathological graphs vs O(diameter) for naive label
propagation, each round a groupBy-min + self-join expressible in pure
DataFrame ops:

  large-star: for each node u, connect every strictly-larger neighbor
              to min(neighborhood ∪ {u});
  small-star: for each node u, connect every smaller-or-equal neighbor
              (and u) to min(neighborhood ∪ {u}).

Checkpointing: ``materialize_once`` each round cuts the lineage chain —
without it, round k's plan contains all k self-joins and the optimizer
re-plans an exponentially growing DAG (SURVEY.md §7.4 risk 3). A round
REPLACES the edge set rather than adding to it, so this loop does not
run on ``materialize.fixpoint`` (the accumulating loop).

Convergence: a round is a fixpoint when no edge changes — detected with
one ``isEmpty()`` on the changed-rows diff (an O(1)-row action, not a
count over the full edge set). A graph still changing after
``max_iter`` rounds raises instead of returning a non-fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sifr_project_java_ontology_processing_spark.operators.materialize import (
    local_frame,
    materialize_once,
)
from pyspark.sql import functions as F


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (large=True) or small-star round.

    ``edges`` is an undirected edge set held as (u, v) pairs; rows are
    interpreted symmetrically. Returns the new (u, v) edge set with
    v = candidate parent (min of the relevant neighborhood).
    """
    sym = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # min over neighborhood ∪ {u}
    nbr_min = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    joined = sym.join(nbr_min, "u")
    if large:
        # connect strictly larger neighbors to m
        out = joined.where(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
    else:
        # connect u and smaller-or-equal neighbors to m
        out = joined.where(F.col("v") <= F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).union(joined.select("u", F.col("m").alias("v")))
    return out.where(F.col("u") != F.col("v")).distinct()


def _local_pairs(spark, rows: list[tuple], node_type) -> DataFrame:
    """(iri, canonical_iri) rows as a broadcast-hinted local relation of
    the caller's node type (string IRIs or numeric ids)."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType([StructField(c, node_type) for c in ("iri", "canonical_iri")])
    return F.broadcast(local_frame(spark, rows, schema))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """edges(src, dst) → (iri, canonical_iri): every node mapped to the
    lexicographic min of its component (singletons excluded — callers
    union isolated nodes mapping to themselves if needed).

    Hybrid strategy (same "broadcast the small side" rule as joins):
    equivalence-edge graphs are usually *dimension*-sized (ontology
    mappings), so when the deduplicated edge count fits under
    ``driver_threshold`` the components are solved with a driver-side
    union-find in one pass: ONE ``limit(driver_threshold + 1)`` collect
    probes the size and fetches the edges at once (the same cost class
    as building a broadcast join side), and the result comes back as a
    broadcast-hinted local relation — its size is known to the planner
    and scanning it starts no Python worker. The distributed
    large-star/small-star path below remains the scale route for
    fact-sized graphs (only it materializes the edge set); set
    ``driver_threshold=0`` to force it. It raises when round
    ``max_iter`` still changed the edge set.
    """
    cur = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    sample = cur.limit(driver_threshold + 1).collect()
    if len(sample) <= driver_threshold:
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for u, v in sample:
            ra, rb = find(u), find(v)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(n, r) for n, r in ((n, find(n)) for n in parent) if n != r]
        return _local_pairs(edges.sparkSession, rows, cur.schema["u"].dataType)

    cur = materialize_once(cur)
    for _ in range(max_iter):
        after_small = materialize_once(
            _star_round(_star_round(cur, large=True), large=False)
        )
        # fixpoint: edge sets identical — ONE action for both diff
        # directions (union of the two excepts, probed with limit(1))
        diff = after_small.exceptAll(cur).union(cur.exceptAll(after_small)).limit(1)
        cur = after_small
        if diff.isEmpty():
            break
    else:
        raise ValueError(
            f"connected_components: no fixpoint within max_iter={max_iter} rounds"
        )

    # at fixpoint every edge is (member, root)
    return cur.select(F.col("u").alias("iri"), F.col("v").alias("canonical_iri"))


def canonical_mapping(
    mappings: DataFrame,
    equivalence_properties: list[str],
    all_iris: DataFrame | None = None,
) -> DataFrame:
    """Mapping triples → canonical-IRI dictionary (NODES-shaped).

    Only *equivalence*-flavored properties (exactMatch, sameAs, …) merge
    components; broader/related mappings are kept as edges, not
    identity. Nodes outside any component map to themselves when
    ``all_iris`` (one column ``iri``) is given.
    """
    eq_edges = mappings.where(F.col("property").isin(equivalence_properties)).select(
        F.col("source_iri").alias("src"), F.col("target_iri").alias("dst")
    )
    cc = connected_components(eq_edges)
    if all_iris is None:
        return cc
    return (
        all_iris.join(cc, "iri", "left")
        .withColumn("canonical_iri", F.coalesce("canonical_iri", "iri"))
        .select("iri", "canonical_iri")
    )


def apply_canonical_map(
    triples: DataFrame,
    mapping: DataFrame,
    *,
    drop_self_loops: bool = True,
    dedup: bool = True,
) -> DataFrame:
    """Rewrite a TRIPLES frame by a canonical-IRI merge map
    (``(iri, canonical_iri)``, e.g. from ``canonical_mapping`` or
    ``inference.ifp_entity_resolution``): subjects always rewrite;
    objects rewrite only when ``obj_is_literal`` is false. Nodes absent
    from the map are their own canonical (left join + coalesce — the
    map holds only non-canonical members).

    ``drop_self_loops`` removes identity edges MERGING CREATES
    (canon(s) == canon(o) on a non-literal triple whose endpoints
    differed before) — two distinct nodes collapsing onto one canonical
    leave a meaningless self-reference — while preserving self-loops
    already asserted in the input.

    Scale shape: the map is component-members-sized (a dimension);
    two broadcast left joins for the rewrite itself, plus ONE
    full-width shuffle for the default set-semantics dedup (merging
    collapses distinct inputs onto identical rows; ``dedup=False``
    skips it when a downstream distinct exists). This is the same
    rewrite kg_pipeline applies inline to its six triple kinds,
    exposed as a standalone operator so ER outputs compose:
    detect (IFP / mappings) → components → rewrite."""
    m = F.broadcast(mapping.select("iri", "canonical_iri"))
    t = triples.join(
        m.withColumnRenamed("iri", "subj").withColumnRenamed(
            "canonical_iri", "_cs"
        ),
        "subj",
        "left",
    ).join(
        m.withColumnRenamed("iri", "obj").withColumnRenamed(
            "canonical_iri", "_co"
        ),
        "obj",
        "left",
    )
    new_subj = F.coalesce("_cs", "subj")
    new_obj = F.when(F.col("obj_is_literal"), F.col("obj")).otherwise(
        F.coalesce("_co", "obj")
    )
    extra = [c for c in triples.columns if c not in ("subj", "pred", "obj")]
    out = t.select(
        new_subj.alias("subj"),
        "pred",
        new_obj.alias("obj"),
        *extra,
        # created-by-merge = endpoints differed before, agree after
        (
            ~F.col("obj_is_literal")
            & (F.col("subj") != F.col("obj"))
            & (new_subj == new_obj)
        ).alias("_merged_loop"),
    )
    if drop_self_loops:
        out = out.where(~F.col("_merged_loop"))
    out = out.drop("_merged_loop")
    if dedup:
        # merging can collapse DISTINCT input triples onto one row
        # ((b,p,x) and (a,p,x) with b→a) — a graph is a set, so dedupe.
        # One full-width shuffle, the same cost class as any distinct;
        # pass dedup=False when a downstream stage distincts anyway
        # (kg_pipeline's triple assembly does).
        out = out.dropDuplicates()
    return out


# --------------------------------------------------------------------------
# Skew handling: salted two-stage aggregation (north_rule requirement)
# --------------------------------------------------------------------------

def salted_count(
    df: DataFrame, keys: list[str], salt_buckets: int = 16, count_col: str = "n"
) -> DataFrame:
    """groupBy(keys).count() that survives head-entity skew: stage 1
    aggregates per (key, salt) so one hot key spreads over
    ``salt_buckets`` reducers; stage 2 sums the partials. Catalyst's
    partial aggregation already map-side-combines, but a single hot key
    still lands on one reducer in stage 2 of the *naive* plan — with a
    pre-salt, stage 2's input is ≤ salt_buckets rows per key.

    Use for hot-IRI / hot-URL counts (the fixture's "head entity" hosts);
    for joins, AQE skew-join handles the split automatically.
    """
    # per-row salt (NOT a key hash — a hot key must spread across buckets)
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    partial = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(
        F.count(F.lit(1)).alias("_partial")
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").alias(count_col))


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe fact⋈dim equi-join without broadcast: facts get a
    per-row salt, the dim side is replicated ×``salt_buckets``, and the
    join runs on (key, salt) — a hot key's rows spread over
    ``salt_buckets`` reducers instead of one. Result is row-identical
    to ``facts.join(dim, key, how)``.

    Use when the dim is too big to broadcast AND a head key dominates
    (the fixture's hot-host URLs); otherwise prefer broadcast or plain
    join + AQE skew-split (spark.sql.adaptive.skewJoin, on by default
    in session.py). Supported ``how``: inner / left."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    salted_facts = facts.withColumn("_salt", salt)
    replicated_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return salted_facts.join(replicated_dim, [key, "_salt"], how).drop("_salt")


def salted_collect_set(
    df: DataFrame, keys: list[str], value: str, salt_buckets: int = 16, out: str = "values"
) -> DataFrame:
    """Two-stage collect_set under skew: partial sets per (key, salt),
    then flatten+dedup. Deterministic (sorted) final arrays."""
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    partial = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(
        F.collect_set(value).alias("_vs")
    )
    return partial.groupBy(*keys).agg(
        F.sort_array(F.array_distinct(F.flatten(F.collect_list("_vs")))).alias(out)
    )
