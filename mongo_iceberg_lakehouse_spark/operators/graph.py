"""Iterative graph algorithms as DataFrame loops (link analysis).

The reference engine has no graph operators; this covers the
*iterative-algorithm* class the charter's training-data pipeline needs —
link-analysis quality weights for web corpora (PageRank), community
detection, BFS distance, and the transitive-closure clustering
(:func:`connected_components`) that ``operators/dedup.py``'s survivor
selection runs on its near-dup pairs.

Scale posture (the part naive DataFrame loops get wrong):

- **Lineage truncation.** Each iteration appends a join + aggregation to
  the logical plan; after k iterations a naive loop hands Catalyst an
  O(2^k)-node tree (the rank DataFrame appears under both sides of the
  next join) and every action recomputes all prior iterations.
  ``localCheckpoint`` every ``CHECKPOINT_EVERY`` iterations materializes
  the ranks and cuts the plan back to a leaf — plan size and recompute
  cost stay O(CHECKPOINT_EVERY).
- **One shuffle per iteration.** Contributions are keyed by ``dst``; the
  join of ranks onto edges reads the stored edge table (edges +
  out-degrees are computed once and cut with a lazy ``localCheckpoint``,
  not re-derived per iteration).
- **No driver-side graph.** Only the node count crosses to the driver
  (one scalar); ranks/edges stay distributed end to end, so the same loop
  runs on a 10^9-edge graph given executors.

Dangling-node policy: nodes with no out-edges leak their rank mass (no
uniform redistribution). This matches the plain fixed-point formulation
``r(v) = (1-d)/N + d * sum_{u->v} r(u)/outdeg(u)`` and keeps the oracle
SQL exactly mirrorable; total mass is therefore < 1 when danglers exist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Rounds between lineage cuts in the fixed-round loops below.
CHECKPOINT_EVERY = 2


def _symmetric_edges(
    edges: DataFrame, *, src: str = "src", dst: str = "dst",
    part_key: str = "dst",
) -> DataFrame:
    """Distinct symmetric (src, dst) neighbor list, cut with a lazy
    ``localCheckpoint`` and HASH-PARTITIONED on ``part_key`` (r10 opt
    round). Two structural wins over the previous
    ``und.union(und.flipped).distinct()``:

    - ONE pass over the edge construction: both directions come from a
      2-element explode of each input edge, so an expensive upstream edge
      pipeline (e.g. the two lag-window passes the handoff-graph queries
      build) is not executed twice for the two union branches (Catalyst
      does not dedupe the repeated subtree — PERF_NOTES §7).
    - The iteration loops join this frame on ``part_key`` EVERY round:
      ``repartition(part_key)`` before the dedup means the stored frame's
      outputPartitioning (a checkpoint keeps it) already satisfies the
      join (and, because hash(dst) clusters (src, dst), the
      dropDuplicates too — one exchange total), so no round re-shuffles
      the edge list.

    explode_outer: plain explode would trigger InferFiltersFromGenerate
    and re-inline the pair array into a size()>0 predicate (PERF_NOTES
    §2); the array is always 2 elements, so outer semantics are identical.
    """
    pair = F.explode_outer(
        F.array(
            F.struct(F.col(src).alias("s"), F.col(dst).alias("d")),
            F.struct(F.col(dst).alias("s"), F.col(src).alias("d")),
        )
    )
    return (
        edges.select(F.col(src), F.col(dst))
        .where(F.col(src) != F.col(dst))
        .select(pair.alias("p"))
        .select(F.col("p.s").alias("src"), F.col("p.d").alias("dst"))
        .repartition(part_key)
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )


def _directed_edges(edges: DataFrame) -> DataFrame:
    """Distinct (src, dst) edges without self-loops, cut with a lazy
    ``localCheckpoint`` because the loops below read them every round."""
    return (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list.

    ``edges`` needs columns ``src`` and ``dst``; self-loops and duplicate
    edges are dropped. Returns ``(node, pr)`` for every node appearing as
    a source or destination.
    """
    # e feeds FOUR consumers (both node-set branches, the out-degree agg,
    # and the edge table) — without a cut the upstream edge construction
    # (often lag windows over a joined fact table) executes four times per
    # action (PERF_NOTES §7); the lazy checkpoint stores the slim distinct
    # (src, dst) rows once, and `nodes` re-derives from them each use.
    e = _directed_edges(edges)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # pre-partition the per-round join side on its key: the stored frame's
    # outputPartitioning then satisfies every iteration's ranks join, so
    # no round re-shuffles the edge table (same idiom as _symmetric_edges)
    ee = e.join(outdeg, "src").repartition("src").localCheckpoint(eager=False)
    n = nodes.count()  # single scalar to the driver
    base = (1.0 - damping) / n

    ranks = nodes.select("node", F.lit(1.0 / n).alias("pr"))
    for i in range(iterations):
        # String aliases, not DataFrame["col"] refs: from iteration 2 the
        # right side of both joins derives from `nodes`/`ee` themselves,
        # and instance-bound column refs hit AMBIGUOUS_SELF_JOIN.
        contribs = (
            ee.alias("e")
            .join(ranks.alias("r"), F.col("e.src") == F.col("r.node"))
            .select(
                F.col("e.dst").alias("dst"),
                (F.col("r.pr") / F.col("e.outdeg")).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.alias("n")
            .join(contribs.alias("c"), F.col("n.node") == F.col("c.dst"), "left")
            .select(
                F.col("n.node").alias("node"),
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("c.c"), F.lit(0.0))
                ).alias("pr"),
            )
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < iterations:
            # eager: loop lineage bound (the next use is a join, not an
            # action); the caller's action runs the remaining tail rounds
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count of the undirected graph, one row ``triangles``.

    Scale shape: the naive wedge join (every edge pair sharing a vertex)
    explodes on hubs — a degree-d vertex yields d^2 wedges. Orienting
    every edge from its lower-(degree, id) endpoint to the higher one
    caps each vertex's oriented out-degree at O(sqrt(edges)) (the
    standard Schank/Ortmann bound), so wedge generation is
    O(edges^{3/2}) worst case instead of sum(d^2). The orientation is a
    pairwise (deg, id) tuple comparison attached via two broadcast-able
    degree joins — no global ranking shuffle. Each triangle is produced
    exactly once (its unique orientation source), so the count needs no
    final dedup.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lower_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_v"),
        )
    ).localCheckpoint(eager=False)  # three consumers: both wedge sides + closing
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    ahead = (F.col("e1.deg_v") < F.col("e2.deg_v")) | (
        (F.col("e1.deg_v") == F.col("e2.deg_v")) & (F.col("e1.v") < F.col("e2.v"))
    )
    wedges = e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & ahead).select(
        F.col("e1.v").alias("u"), F.col("e2.v").alias("v")
    )
    closing = oriented.select("u", "v")
    return (
        wedges.join(closing, ["u", "v"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )


def label_propagation(
    edges: DataFrame,
    *,
    iterations: int = 4,
) -> DataFrame:
    """Synchronous label propagation (community detection) over the
    undirected graph, fixed ``iterations`` rounds. Returns
    ``(node, community)``.

    Every node starts labelled with its own id; each round it adopts the
    most frequent label among its neighbors, ties broken by the smallest
    label — fully deterministic, so the result is engine-independent and
    SQL-mirrorable (unrolled CTEs, same posture as :func:`pagerank`).

    Scale shape: the symmetric neighbor list is built once and stored;
    each round is ONE shuffle (neighbor-label counts keyed by node) plus a
    per-node top-1 window over the per-(node,label) partial counts — the
    count aggregation is map-side combined, so hub nodes ship one row per
    distinct neighbor label, not one per neighbor edge.
    ``localCheckpoint`` every ``CHECKPOINT_EVERY`` rounds truncates the
    growing self-referential plan exactly as in :func:`pagerank`.
    """
    nbr = _symmetric_edges(edges, part_key="dst")
    labels = nbr.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for i in range(iterations):
        votes = (
            nbr.alias("e")
            .join(labels.alias("l"), F.col("e.dst") == F.col("l.node"))
            .groupBy(
                F.col("e.src").alias("node"), F.col("l.label").alias("label")
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmin via min_by on the total key (-cnt, label) — replaces the
        # row_number window (PERF_NOTES §6 corollary): one map-side-
        # combinable aggregate instead of exchange + full per-node sort.
        # (cnt DESC, label ASC) == min (-cnt, label); counts are BIGINT so
        # the negation is always safe, labels stay untouched (any orderable
        # type), and labels are distinct per node so the key is total and
        # the winner identical to the window form.
        labels = votes.groupBy("node").agg(
            F.min_by(
                "label", F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
            ).alias("label")
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < iterations:
            # eager: loop lineage bound, as in pagerank
            labels = labels.localCheckpoint(eager=True)
    return labels.select("node", F.col("label").alias("community"))


def connected_components(
    edges: DataFrame,
    *,
    max_iter: int = 30,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Connected components over the undirected graph: every node ends up
    labelled with the SMALLEST node id in its component. Returns
    ``(node, component)`` for every node that appears in the edge list.

    This is the consolidation step of every dedup pipeline — pair
    emitters (MinHash bands, exact-fingerprint chains, containment) give
    EDGES; keeping one canonical document per duplicate GROUP needs the
    transitive closure of those edges.

    Algorithm: hash-to-min with pointer jumping. Each round every node's
    label becomes ``min(own label, label of its label, min over
    neighbors' labels)``; the pointer-jump term (label of label) halves
    chain depth per round, so convergence is O(log diameter) rounds —
    a million-long chain closes in ~20 rounds where pure neighbor
    propagation (hash-min alone) would need a million. Per round: two
    equi-joins + one map-side-combinable min agg; labels only ever
    DECREASE, so the per-round label sum is a strictly-monotone
    convergence metric — the loop early-stops the round it stalls (one
    1-row collect per round, the bounded-aggregate idiom).
    ``localCheckpoint`` every round truncates the self-referential plan
    exactly as in :func:`pagerank` / :func:`label_propagation`.
    """
    sym = _symmetric_edges(edges, src=src, dst=dst, part_key="dst")
    p = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("mn"))
        .select("node", F.least("node", "mn").alias("component"))
    )
    prev_sum: int | None = None
    for _ in range(max_iter):
        jump = (
            p.alias("a")
            .join(p.alias("b"), F.col("a.component") == F.col("b.node"))
            .select(F.col("a.node").alias("node"), F.col("b.component").alias("cand"))
        )
        via_nbr = (
            sym.alias("e")
            .join(p.alias("q"), F.col("e.dst") == F.col("q.node"))
            .select(F.col("e.src").alias("node"), F.col("q.component").alias("cand"))
        )
        p = (
            p.select("node", F.col("component").alias("cand"))
            .unionByName(jump)
            .unionByName(via_nbr)
            .groupBy("node")
            .agg(F.min("cand").alias("component"))
            # lazy: the convergence-metric collect right below is the
            # round's ONE action and materializes the checkpoint as a side
            # effect — eager=True ran a second, separate job per round
            .localCheckpoint(eager=False)
        )
        s = p.agg(F.sum("component")).collect()[0][0]
        if s == prev_sum:
            break
        prev_sum = s
    return p


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    max_hops: int = 4,
) -> DataFrame:
    """Breadth-first hop distance from a seed set over the DIRECTED edge
    list, capped at ``max_hops``. Returns ``(node, dist)`` for every node
    reachable within the cap (seeds at dist 0, whether or not they appear
    in the graph).

    Scale shape — frontier-delta iteration, the property that separates
    a usable distributed BFS from a quadratic one: each round joins only
    the NEWLY-discovered frontier against the edge list (not the whole
    visited set), then one ``left_anti`` against the accumulated
    distances drops already-visited nodes. Per-round shuffle cost is
    O(frontier-adjacent edges); the visited set is only ever the build
    side of the anti-join. ``localCheckpoint`` bounds the union-grown
    plan depth, as in :func:`pagerank`.
    """
    e = _directed_edges(edges)
    dist = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct().select(
        "node", F.lit(0).alias("dist")
    )
    frontier = dist.select("node")
    for i in range(1, max_hops + 1):
        cand = (
            e.alias("e")
            .join(frontier.alias("f"), F.col("e.src") == F.col("f.node"))
            .select(F.col("e.dst").alias("node"))
            .distinct()
        )
        new = cand.join(dist, "node", "left_anti").select(
            "node", F.lit(i).alias("dist")
        )
        dist = dist.unionByName(new)
        frontier = new.select("node")
        if i % CHECKPOINT_EVERY == 0 and i < max_hops:
            # eager: loop lineage bound, as in pagerank
            dist = dist.localCheckpoint(eager=True)
            frontier = frontier.localCheckpoint(eager=True)
    return dist
