"""Graph analytics over the constructed KG edge list.

The north-star pipeline materializes nodes/edges tables
(sources/graph_sink.py); downstream KG consumers want salience and
degree diagnostics over them. Reference analog: the reference's Jena
models support graph traversal; its metrics CSVs report per-class
counts (MetricsWriter usage in OntologyCUIProcessor.java) — degree
stats are the distributed twin. PageRank is the classic entity-
salience score for canonical-IRI ranking.

Scale design:

* ``pagerank`` is the iterative-DataFrame-joins shape the north star
  names for CC: edges are hash-REPARTITIONED ON ``src`` ONCE and
  persisted, so every iteration's contribution join shuffles only the
  (node, rank) frame — the big edge relation stays put (on a real
  cluster, write the edge table bucketed by src and even that one-time
  shuffle disappears). Out-degrees are folded into the persisted edge
  frame so each iteration is scan→join→partial-agg→union, nothing
  else.
* Each iteration ends with a lazy ``localCheckpoint`` — lineage is
  cut, so 20 iterations do not build a 20-deep physical lineage; the
  loop caches are released once the checkpointed result materializes.
* The closure frontier and BFS accumulate, on ``materialize.fixpoint``;
  pagerank and label propagation replace their state each iteration.
* Dangling nodes (no out-edges) follow the classic Spark-example
  formulation: their mass is not redistributed; every node keeps the
  (1-d) teleport floor via the left join. This keeps the iteration a
  pure equi-join + partial agg (no global sum barrier per iteration)
  and is the standard large-scale approximation.
* ``degree_stats`` / ``degree_histogram`` are single partial-agg
  passes (map-side combine), skew-safe by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import fixpoint, local_frame


def named_graph_edges(
    quads: DataFrame,
    graph: str | None = None,
    *,
    pred: str | None = None,
) -> DataFrame:
    """(src, dst) edge view of a triples/quads frame restricted to ONE
    graph — the composition point between the named-graph surface
    (rdf_io.read_nquads quads carry a nullable ``graph`` column) and
    the analytics layer: ``pagerank(named_graph_edges(q, "g:one"))``.

    ``graph=None`` selects the DEFAULT graph (NULL labels, or the whole
    frame when there is no graph column — a plain triples table IS the
    default graph). The graph filter is a single literal predicate on
    the scan: partition-pruning-eligible when the quads table is
    written partitioned by graph, so restricting to one graph never
    reads the others. ``pred`` optionally restricts to one predicate
    (same pushdown shape). Literal objects are dropped — they are not
    graph nodes."""
    df = quads
    if "graph" in quads.columns:
        df = (
            df.where(F.col("graph") == graph)
            if graph is not None
            else df.where(F.col("graph").isNull())
        )
    elif graph is not None:
        raise ValueError(
            "named_graph_edges: frame has no graph column; only the "
            "default graph (graph=None) exists"
        )
    if "obj_is_literal" not in df.columns:
        # pre-projected IRI-only frame: nothing to drop
        if pred is not None:
            df = df.where(F.col("pred") == pred)
        return df.select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
    # one edge-semantics implementation: delegate the literal-drop +
    # src/dst projection (and predicate restriction) to triples_to_edges
    return triples_to_edges(df, preds=[pred] if pred is not None else None)


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    partitions: int | None = None,
    reset_nodes: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Returns (node, rank). rank_0 = 1.0 for every node;
    rank_{t+1}(n) = (1-d) + d * sum_{m->n} rank_t(m) / outdeg(m).

    ``reset_nodes`` (one-column frame) switches to PERSONALIZED
    PageRank: the teleport mass (and rank_0) concentrates on the seed
    set — r(n) = 1.0 for seeds, 0.0 elsewhere — so rank becomes
    relatedness TO the seeds (topic-sensitive PageRank, Haveliwala
    2002). Same iteration shape; the reset vector is one extra column
    on the resident node frame.
    Deterministic: no sampling, no float order-dependence beyond
    Spark's partial-agg sum (commutative over doubles produced from
    identical partitioning — the registry oracle rounds).

    The resident edge frame pays exactly ONE exchange: repartition on
    src, then out-degree via a whole-partition window (a local sort,
    no groupBy+join-back), persisted. Each iteration shuffles only the
    rank frame onto that partitioning. A lazy localCheckpoint per
    iteration cuts lineage and defers only the copy into the block
    store, which one final ``count()`` makes: with adaptive execution
    each call still runs the iteration's exchange and broadcast stages
    (4 jobs per iteration with ``partitions=4``: 12, 20 and 32 jobs at
    1, 3 and 6 iterations).
    """
    from pyspark.sql import Window

    # pin ONE partition count for the whole loop: the cached edge frame
    # and the per-iteration rank exchange must agree, or EnsureRequirements
    # re-shuffles the (big) cached side every iteration — the exact
    # mismatch AQE's high initialPartitionNum would otherwise create
    n_part = partitions or int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # out-degree folded in with a window over the partitioning we just
    # created: no extra exchange, one wide edge relation reused every
    # iteration
    e = (
        e.repartition(n_part, "src")
        .withColumn("_deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .persist()
    )

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if reset_nodes is not None:
        seeds = (
            reset_nodes.select(
                F.col(reset_nodes.columns[0]).alias("node")
            ).distinct()
        )
        # a seed with no edges must still appear with its (1-d) teleport
        # floor — union it into the node universe before the left join
        nodes = nodes.unionByName(seeds).distinct()
        nodes = nodes.join(
            seeds.withColumn("_r", F.lit(1.0)), "node", "left"
        ).select("node", F.coalesce("_r", F.lit(0.0)).alias("_r"))
    else:
        nodes = nodes.withColumn("_r", F.lit(1.0))
    nodes = nodes.persist()
    ranks = nodes.select("node", F.col("_r").alias("rank"))
    for _ in range(iterations):
        contribs = (
            e.join(
                ranks.withColumnRenamed("node", "src").repartition(n_part, "src"),
                "src",
            )
            .select("dst", (F.col("rank") / F.col("_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("_in"))
        )
        ranks = (
            nodes.join(contribs.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("_r")
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    ranks.count()  # copy the lazy checkpoints into the block store
    # the result is checkpointed — release the loop caches instead of
    # pinning executor storage for the session lifetime
    e.unpersist()
    nodes.unpersist()
    return ranks


def degree_stats(
    edges: DataFrame, *, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node (node, out_degree, in_degree, degree). One shuffle:
    the union is exploded map-side into (node, is_out) and partially
    aggregated before exchange."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    tagged = e.select(
        F.col("src").alias("node"), F.lit(1).alias("_o"), F.lit(0).alias("_i")
    ).unionByName(
        e.select(F.col("dst").alias("node"), F.lit(0).alias("_o"), F.lit(1).alias("_i"))
    )
    return tagged.groupBy("node").agg(
        F.sum("_o").alias("out_degree"),
        F.sum("_i").alias("in_degree"),
        (F.sum("_o") + F.sum("_i")).alias("degree"),
    )


def degree_histogram(
    edges: DataFrame, *, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(degree, n_nodes) distribution — the KG-quality diagnostic
    (power-law head = hub entities needing salt; see
    canonicalize.salted_count)."""
    return (
        degree_stats(edges, src=src, dst=dst)
        .groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
    )


def triples_to_edges(triples: DataFrame, *, preds: list[str] | None = None) -> DataFrame:
    """Project a triples frame (schemas.TRIPLES) to a (src, dst) edge
    list: IRI→IRI statements only (literals are node attributes, not
    edges), optionally restricted to a predicate whitelist — the
    pushdown-friendly shape graph_sink partitions by."""
    e = triples.where(~F.col("obj_is_literal"))
    if preds is not None:
        e = e.where(F.col("pred").isin(preds))
    return e.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))


_CLOSURE_DRIVER_EDGE_MAX = 65_536  # edge count below which the closure
# runs driver-side: a ≤65k-edge relation is dimension-class (a schema
# hierarchy, a per-graph slice) — collecting it costs the same as one
# broadcast, and the driver loop replaces the 2-jobs-per-BFS-level
# frontier chain with one collect + one local_frame. Also the bound of
# inference._bounded_collect (rdf-list cells, the RDFS-Plus schema).
_CLOSURE_DRIVER_PAIR_MAX = 4_000_000  # output guard: a pathological
# small graph (one long chain) has a quadratic closure; past this many
# pairs the driver loop abandons its work and the distributed frontier
# BFS (output-partitioned, spillable) takes over


def _driver_transitive_closure(rows, cap: int) -> tuple[list, bool] | None:
    """Driver-side twin of the frontier BFS: level-synchronous expansion
    with first-seen (= minimal) depth, cycle-safe via the pair set.
    Level 1 reproduces the distributed loop's exact output — the input
    rows with their MULTIPLICITY (the first level is a projection, not
    a distinct); deeper levels are deduplicated pairs, and a pair seen
    at any earlier level is never re-emitted (the anti-join). Returns
    ``(sorted rows, truncated)`` — truncated when level ``cap`` still
    found new pairs — or None when the pair count passes
    ``_CLOSURE_DRIVER_PAIR_MAX`` (caller falls back to the distributed
    loop)."""
    adj: dict = {}
    seen: set = set()
    frontier = []
    for r in rows:
        key = (r[0], r[1])
        if key not in seen:  # dedupes the adjacency as a side effect
            seen.add(key)
            frontier.append(key)
            adj.setdefault(r[0], []).append(r[1])
    out = [(r[0], r[1], 1) for r in rows]  # multiplicity preserved
    depth = 1
    while depth < cap and frontier:
        new = []
        for a, b in frontier:
            for c in adj.get(b, ()):
                if (a, c) not in seen:
                    seen.add((a, c))
                    new.append((a, c))
        out.extend((a, b, depth + 1) for a, b in new)
        if len(seen) > _CLOSURE_DRIVER_PAIR_MAX:
            return None
        frontier = new
        depth += 1
    return sorted(out), bool(frontier)


def _frontier_transitive_closure(
    raw: DataFrame, cap: int, partitions: int | None
) -> tuple[DataFrame, bool]:
    """Distributed frontier BFS over ``(_mid, dst)`` edges, up to
    ``cap`` levels, on ``materialize.fixpoint``: level 1 is the input,
    and each round joins the frontier to the edges, keeps one row per
    (src, dst) pair and drops the pairs already found. Returns
    ``(paths, truncated)`` — truncated when level ``cap`` still found
    new pairs."""
    if partitions is not None:
        n_part = partitions
    else:
        # size the per-level exchanges to the relation: the explicit
        # hash repartition below bypasses AQE's coalescing, so a small
        # edge set (a schema hierarchy, a per-graph slice) would
        # otherwise pay conf-many near-empty shuffle partitions on
        # EVERY level's every exchange. The count runs against a cache
        # the repartition then reuses. ~64k edges per partition floor;
        # big graphs keep the configured width.
        conf_part = int(
            raw.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        raw = raw.persist()
        n_part = max(1, min(conf_part, raw.count() // 65536 + 1))
    e = raw.repartition(n_part, "_mid").persist()

    def step(frontier: DataFrame, paths: DataFrame) -> DataFrame:
        return (
            frontier.withColumnRenamed("dst", "_mid")
            .repartition(n_part, "_mid")
            .join(e, "_mid")
            .select("src", "dst", (F.col("depth") + 1).alias("depth"))
            .dropDuplicates(["src", "dst"])
            .join(paths, ["src", "dst"], "left_anti")
        )

    level = e.select(F.col("_mid").alias("src"), "dst", F.lit(1).alias("depth"))
    paths, converged = fixpoint(level, step, max_rounds=cap - 1)
    if partitions is None:
        raw.unpersist()
    e.unpersist()  # result is checkpointed; don't pin the edge cache
    return paths, not converged


def _closure(
    edges: DataFrame,
    cap: int,
    partitions: int | None = None,
    driver_threshold: int | None = None,
) -> tuple[DataFrame, bool]:
    """``(paths, truncated)`` of ``(src, dst)`` edges: the body of
    ``transitive_closure`` with the level cap ``cap``, truncated when
    level ``cap`` still found new pairs. A caller that must not lose
    pairs passes its depth bound + 1 and raises when truncated, so a
    hierarchy exactly as deep as the bound still passes."""
    raw = edges.select(F.col("src").alias("_mid"), "dst")
    thresh = (
        _CLOSURE_DRIVER_EDGE_MAX if driver_threshold is None else driver_threshold
    )
    if thresh:
        sample = raw.limit(thresh + 1).collect()
        closed = (
            _driver_transitive_closure(sample, cap) if len(sample) <= thresh else None
        )
        if closed is not None:
            from pyspark.sql.types import IntegerType, StructField, StructType

            schema = StructType(
                [
                    StructField("src", raw.schema[0].dataType, True),
                    StructField("dst", raw.schema[1].dataType, True),
                    StructField("depth", IntegerType(), False),
                ]
            )
            return local_frame(edges.sparkSession, closed[0], schema), closed[1]
    return _frontier_transitive_closure(raw, cap, partitions)


def transitive_closure(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_depth: int | None = None,
    partitions: int | None = None,
    driver_threshold: int | None = None,
) -> DataFrame:
    """Reachability pairs (src, dst, depth) with BFS-minimal depth —
    the SKOS ``broader+`` / ontology-ancestor expansion (the reference
    hand-writes exactly the 2-hop case as chained joins,
    OntologyCUIProcessor mapping stage / cascade J3; this is the
    general fixed-point twin). The one closure loop of the package:
    ``inference``'s schema and transitive-property closures and the
    SPARQL ``+``/``*`` paths run its body (``_closure``).

    Hybrid: an edge set up to ``driver_threshold`` (default
    ``_CLOSURE_DRIVER_EDGE_MAX`` = 65,536; pass 0 to disable) closes
    in a driver-side BFS loop — one collect + one ``local_frame``
    instead of 2 Spark jobs per level — with an output-size guard
    (``_CLOSURE_DRIVER_PAIR_MAX`` = 4M pairs) that falls back to the
    distributed loop for pathological quadratic closures. Larger edge
    sets go straight to the frontier BFS below.

    Frontier BFS on ``materialize.fixpoint``: each level joins the
    previous frontier to the (cached, src-partitioned) edge relation
    and anti-joins already-seen pairs (so diamonds don't re-expand and
    the first-seen depth is the minimum); the loop stops at the
    graph's ACTUAL closure depth even when ``max_depth`` is a generous
    upper bound (a depth-20 bound over a depth-3 hierarchy costs 3
    levels, not 20). Cycles are safe: the anti-join is on (src, dst)
    PAIRS, and a finite graph has a finite closure, so the frontier
    always empties — ``max_depth`` truncates by contract (pairs deeper
    than it are left out, silently), and the 1000-level default cap
    raises (a graph with a >1000-step diameter needs an explicit
    bound). Either path emits a distinct input's pairs once each:
    level 1 is the input itself, deeper levels are deduplicated and
    anti-joined against earlier ones.
    """
    paths, truncated = _closure(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")),
        max_depth if max_depth is not None else 1000,
        partitions,
        driver_threshold,
    )
    if truncated and max_depth is None:
        raise ValueError(
            "transitive_closure: no fixpoint in 1000 levels "
            "(set max_depth for >1000-step diameters)"
        )
    return paths


def triangle_count(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    materialize: bool = True,
) -> DataFrame:
    """Per-node triangle counts (node, triangles) over the UNDIRECTED
    simple graph induced by the edge list — the KG-density diagnostic
    (clustering around hub entities; a canonicalization merge that
    collapses distinct entities shows up as a triangle spike).

    Scale shape — degree orientation + edge-iterator intersection, the
    standard subquadratic pair: every edge is oriented from the
    (degree, node)-smaller endpoint to the larger, so per-node oriented
    out-degree is O(sqrt(m)) on any graph; triangles are then counted
    per EDGE as |N⁺(lo) ∩ N⁺(hi)| over collected out-neighbor arrays
    (the "forward" algorithm) instead of materializing every wedge
    through a shuffle and semi-joining it closed — the wedge set is
    often 20×+ the triangle set (41M wedges vs 1.9M triangles on the
    bench fixture), and the intersection form never shuffles it. The
    orientation changes enumeration order only — the triangle SET is
    orientation-invariant, which is what the relational oracle replays
    with plain lexical a<b<c self-joins. Per-node counts explode each
    edge's corner contributions (lo and hi get |common|, each common
    neighbor gets 1) and partially aggregate — integer arithmetic, no
    FP order dependence.

    ``materialize=True`` (default) eagerly localCheckpoints the
    (per-node, small) result and releases the oriented-edge cache;
    pass False to get the lazy plan (plan inspection / custom
    pipelining) and manage the persisted frame yourself.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    if materialize:
        # und feeds the degree aggregation AND both oriented-join legs;
        # un-materialized, each consumer re-runs the whole upstream
        # edge derivation (often a join) plus the distinct — measured
        # ~3 full evaluations on the bench fixture. Eager (lazy would
        # race: the consumers run inside one job and each would compute
        # the unpopulated cache).
        und = und.localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    # orient by (degree, node): lo -> hi, persisted once for its two
    # consumers (the adjacency aggregation and the edge-iterator join)
    oriented = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("_d", "_da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("_d", "_db"), "b")
        .select(
            F.when(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("e")
        )
        .select("e.lo", "e.hi")
        .persist()
    )
    # out-neighbor adjacency arrays (bounded by the oriented out-degree,
    # the orientation's O(sqrt(m)) guarantee). Every triangle a<b<c in
    # orientation order has edges a→b, a→c, b→c and is found exactly
    # once at its (a, b) edge as c ∈ N⁺(a) ∩ N⁺(b).
    adj = oriented.groupBy("lo").agg(F.collect_list("hi").alias("_ns"))
    ed = (
        oriented.join(
            adj.select(F.col("lo").alias("_la"), F.col("_ns").alias("_na")),
            F.col("lo") == F.col("_la"),
        )
        .join(
            adj.select(F.col("lo").alias("_lb"), F.col("_ns").alias("_nb")),
            F.col("hi") == F.col("_lb"),
            "left",  # a hi with no out-edges has an empty neighbor set
        )
        .select(
            "lo",
            "hi",
            F.array_intersect(
                F.col("_na"),
                # slice(_na, 1, 0) = a type-correct empty array (node
                # ids are not necessarily strings)
                F.coalesce(F.col("_nb"), F.slice(F.col("_na"), 1, 0)),
            ).alias("_w"),
        )
    )
    # one pass over ed: lo and hi each gain |common| triangles, every
    # common neighbor gains 1 — map-side explode, partial-agg sum
    corners = ed.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.col("lo").alias("n"), F.size("_w").alias("c")),
                    F.struct(F.col("hi").alias("n"), F.size("_w").alias("c")),
                ),
                F.transform(
                    "_w", lambda w: F.struct(w.alias("n"), F.lit(1).alias("c"))
                ),
            )
        ).alias("t")
    ).select(F.col("t.n").alias("node"), F.col("t.c").alias("_c"))
    out = corners.groupBy("node").agg(F.sum("_c").alias("triangles"))
    # nodes in no triangle still report 0 (deg is the node universe)
    result = (
        deg.select("node")
        .join(out, "node", "left")
        .select(
            "node", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
        )
    )
    if materialize:
        # sibling discipline (transitive_closure/bfs): materialize the
        # (small, per-node) result and release the oriented-edge cache
        # instead of pinning it for the session
        result = result.localCheckpoint(eager=True)
        oriented.unpersist()
    return result


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 20,
    partitions: int | None = None,
) -> DataFrame:
    """Multi-source directed BFS: (node, dist) with the MINIMUM hop
    count from any source node (sources themselves at dist 0).
    Unreached nodes are absent. The KG use: ontology-root distance /
    provenance-hop audits over the materialized edge table.

    Same frontier discipline as transitive_closure, on
    ``materialize.fixpoint``: the edge relation is repartitioned on src
    ONCE and persisted; each level joins the (small) frontier against
    it, keeps one row per node, anti-joins the visited set (so a node
    keeps its first — minimal — distance and diamonds don't re-expand),
    and localCheckpoints to cut lineage. The visited set is the union
    of the checkpointed levels, never re-copied. Depth-bounded: nodes
    farther than ``max_depth`` are left out by contract; an
    early-empty frontier short-circuits with one O(1) isEmpty probe.
    """
    n_part = partitions or int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    e = (
        edges.select(F.col(src).alias("_from"), F.col(dst).alias("node"))
        .repartition(n_part, "_from")
        .persist()
    )

    def step(frontier: DataFrame, visited: DataFrame) -> DataFrame:
        return (
            frontier.withColumnRenamed("node", "_from")
            .repartition(n_part, "_from")
            .join(e, "_from")
            .select("node", (F.col("dist") + 1).alias("dist"))
            .dropDuplicates(["node"])
            .join(visited, "node", "left_anti")
        )

    seed = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    visited, _converged = fixpoint(seed, step, max_rounds=max_depth)
    e.unpersist()
    return visited


def _argmax_label(counted: DataFrame) -> DataFrame:
    """Deterministic per-node argmax over (node, label, _c) WITHOUT a
    window: max count per node (partial agg), join back on (node, _c),
    min(label) tie-break. Every stage combines map-side, so rows
    concentrate on no single task even when one node has millions of
    distinct neighbor labels (LPA iteration 1, where labels = ids and
    rows-per-node = degree). Kept as a helper so tests can gate the
    physical plan (no Window node) before the checkpoint hides it."""
    best = counted.groupBy("node").agg(F.max("_c").alias("_c"))
    return (
        counted.join(best, ["node", "_c"])
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
    partitions: int | None = None,
) -> DataFrame:
    """Synchronous label propagation (community detection) over the
    undirected graph: (node, label). Labels start as the node's own id;
    each iteration every node adopts the most frequent label among its
    neighbors, ties broken by the LEXICALLY SMALLEST label — fully
    deterministic (classic async LPA is run-order-dependent; the
    synchronous+tie-broken variant replays relationally, which is how
    the registry oracle checks it with unrolled SQL windows).

    Scale shape: edges are symmetrized map-side, repartitioned on the
    join key ONCE and persisted (pagerank's discipline — per iteration
    only the (node, label) frame shuffles); the per-node argmax is
    SORT-FREE: max-count per node (partial agg), join back on
    (node, _c), then min(label) for the deterministic tie-break — all
    three stages combine map-side, so a 50M-degree hub at iteration 1
    (when labels ARE node ids and rows-per-node = degree) never lands
    in a single window task. Isolated nodes (no edges) never appear;
    nodes keep their current label when in-neighbors exist but, per
    the left join, absence of neighbors cannot occur
    post-symmetrization.
    """
    n_part = partitions or int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    fwd = edges.select(F.col(src).alias("_from"), F.col(dst).alias("node"))
    rev = edges.select(F.col(dst).alias("_from"), F.col(src).alias("node"))
    und = (
        fwd.unionByName(rev)
        .where(F.col("_from") != F.col("node"))
        .distinct()
        .repartition(n_part, "_from")
        .persist()
    )
    labels = (
        und.select(F.col("node"))
        .unionByName(und.select(F.col("_from").alias("node")))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iterations):
        counted = (
            und.join(
                labels.withColumnRenamed("node", "_from").repartition(
                    n_part, "_from"
                ),
                "_from",
            )
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("_c"))
            # consumed twice (max-count + join back): materialize once
            .localCheckpoint(eager=True)
        )
        labels = _argmax_label(counted).localCheckpoint(eager=True)
    und.unpersist()
    return labels
