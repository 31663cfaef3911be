"""Distributed connected components — duplicate-cluster consolidation.

At 100 TB the step after candidate-pair generation (MinHash bands,
SimHash bands, URL aliasing) is collapsing pairs into clusters:
connected components over the pair graph, each node labeled with the
minimum reachable id so every cluster elects one canonical keeper.
``operators/neardup.py`` ships a bounded one-hop-per-round variant
tuned for SimHash's shallow clusters; this module is the general
operator for graphs whose diameter is NOT known small.

Algorithm: min-label propagation with POINTER DOUBLING (the public
"hash-to-min" family, Rastogi et al. / Kiveris et al.'s two-phase
star contractions are the same idea). Each round runs

1. neighbor-min: ``L(v) <- min(L(v), min_{u~v} L(u))`` — one keyed
   shuffle over the (symmetrized) edge list, and
2. pointer jump: ``L(v) <- L(L(v))`` — one self-join on the label
   forest, which halves the depth of every label chain.

Together a round better-than-halves the un-converged depth, so a
diameter-``d`` component converges in ``O(log d)`` rounds instead of
the ``d`` rounds plain propagation needs — the difference between 40
and 1M-node chains at crawl scale. Each round ends with a
``localCheckpoint`` (lineage otherwise doubles per round and the plan
itself becomes the bottleneck) and an ``isEmpty`` convergence probe —
one cheap job per round, the standard price of iterative algorithms on
Spark; the loop exits at fixpoint, ``max_rounds`` only caps the
pathological case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 12,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Label every node in the undirected graph ``edges`` with the
    minimum node id reachable from it.

    ``edges`` carries one row per (possibly directed, possibly
    duplicated) pair; it is symmetrized and deduplicated here. The node
    set is the edge endpoints, optionally unioned with ``nodes`` (one
    ``node`` column) so isolated nodes — docs with no duplicate pair,
    the overwhelming majority of a crawl — appear in the output as
    their own component. Returns ``(node, component)``, bigint keys.
    """
    fwd = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
    rev = edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
    adj = fwd.union(rev).filter(F.col("node") != F.col("nbr")).distinct()
    # Edge list is re-consumed every round — cut its lineage once.
    # Under AQE (on in every session profile here) the checkpoint does
    # NOT keep the repartition(nbr) layout: on Spark 4.1 the adaptive
    # plan reports UnknownPartitioning, and the checkpointed LogicalRDD
    # records that (with AQE off it keeps hashpartitioning(nbr)). So a
    # sort-merge neighbor-min join still re-exchanges the whole edge
    # list by ``nbr`` every round. Measured on a 4k-node chain with
    # broadcast joins off: 5 shuffle exchanges per round (2 more
    # reused), one of them over the edge list.
    adj = adj.repartition(F.col("nbr")).localCheckpoint(eager=False)

    seed = adj.select("node")
    if nodes is not None:
        seed = seed.union(nodes.select("node"))
    labels = seed.distinct().select("node", F.col("node").alias("component"))
    for _ in range(max_rounds):
        # 1. neighbor-min over the edge list
        nbr_min = (
            adj.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("component").alias("_nc")
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("_nc").alias("_nbr_min"))
        )
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"),
                F.coalesce(F.col("_nbr_min"), F.col("component")),
            ).alias("component"),
            F.col("component").alias("_old"),
        )
        # 2. pointer jump: follow my label's label
        # Carry the round's STARTING label through the jump so
        # convergence is a same-frame column compare — the old shape
        # re-joined the new labels against the old frame (a 2-exchange
        # join per round) just to ask "did anything change?".
        jumped = stepped.alias("a").join(
            stepped.select(
                F.col("node").alias("component"), F.col("component").alias("_pj")
            ).alias("b"),
            "component",
            "left",
        ).select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("_pj"), F.col("component"))
            ).alias("component"),
            "_old",
        )
        jumped = jumped.localCheckpoint(eager=False)
        converged = jumped.filter(
            F.col("component") != F.col("_old")
        ).isEmpty()
        labels = jumped.drop("_old")
        if converged:
            break
    return labels


def pagerank_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping_pct: int = 85,
    scale: int = 10**9,
    nodes: DataFrame | None = None,
    dangling: str = "teleport",
) -> DataFrame:
    """Deterministic integer PageRank over a directed graph — webgraph
    link analysis (host/page authority for crawl prioritization and
    quality signals), the canonical iterative Spark workload.

    All arithmetic is bigint with floor division::

        rank_0(v)   = scale div N
        rank_k+1(v) = (scale * (100-d)) div (100 * N)
                      + (d * sum_{u->v} (rank_k(u) div outdeg(u))) div 100

    On non-negative operands Spark's ``div`` and DuckDB's ``//`` agree
    bit-for-bit, so a fixed iteration count yields IDENTICAL ranks in
    both engines — which is what lets the DuckDB oracle unroll the same
    recurrence and value-hash the result (float PageRank could never
    hash-match across engines: per-iteration sum order differs).
    ``dangling`` controls no-out-edge nodes: ``"teleport"`` (default)
    lets their mass leak to the teleport term only — the standard
    simplification; ``"redistribute"`` adds the canonical correction,
    spreading each iteration's dangling mass uniformly::

        extra_k      = (sum_{outdeg(u)=0} rank_k(u)) div N
        rank_k+1(v)  = base + (d * (sum_in + extra_k)) div 100

    still all-bigint, so the oracle stays exact (the per-iteration
    dangling sum is one scalar subquery in the unrolled CTE chain).
    The dangling sum is computed as a one-row aggregate broadcast into
    the rank update — plan-side, never collected. Duplicate/self edges
    are dropped. One count() job fixes N driver-side (the only
    collect).

    Lineage/checkpoint policy (round-6 measurement): in ``teleport``
    mode each iteration references ``ranks`` exactly ONCE, so the
    lineage is a linear chain — no per-iteration localCheckpoint is
    needed, the 10 iterations compile as one adaptive plan, and the
    per-iteration RDD materialization + job boundaries disappear —
    measured 7.6s -> 4.4s at sf0.1. A localCheckpoint seam also drops
    the frame's output partitioning under AQE (Spark 4.1), so the join
    after it re-exchanges its input; connected_components pays that on
    its edge list every round.
    ``redistribute`` references ``ranks`` twice per iteration (inbound
    join + dangling-mass aggregate), so WITHOUT a checkpoint the plan
    doubles per iteration (2^n_iter subtrees); that mode keeps the
    per-iteration localCheckpoint.
    """
    if dangling not in ("teleport", "redistribute"):
        raise ValueError(f"unknown dangling mode: {dangling!r}")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    node_set = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    )
    if nodes is not None:
        node_set = node_set.union(nodes.select("node"))
    node_set = node_set.distinct().localCheckpoint(eager=False)
    n = node_set.count()
    if n == 0:
        return node_set.select("node", F.lit(0).cast("long").alias("rank_mi"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e2 = e.join(outdeg, "src").localCheckpoint(eager=False)
    base = (scale * (100 - damping_pct)) // (100 * n)
    if dangling == "redistribute":
        # Tag dangling nodes ONCE and carry the flag inside the ranks
        # frame across iterations: the per-iteration dangling sum is
        # then a filter + one-row aggregate instead of an extra join
        # per round (10 joins saved on the default iteration count).
        node_set = (
            node_set.join(
                outdeg.select(
                    F.col("src").alias("node"), F.lit(True).alias("_has_out")
                ),
                "node",
                "left",
            )
            .select(
                "node",
                F.coalesce(F.col("_has_out"), F.lit(False)).alias("_has_out"),
            )
            .localCheckpoint(eager=False)
        )
    ranks = node_set.select(
        "*", F.lit(scale // n).cast("long").alias("rank_mi")
    )
    for _ in range(n_iter):
        inc = (
            e2.join(
                ranks.select(F.col("node").alias("src"), "rank_mi"), "src"
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_mi div outdeg").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_m"))
        )
        upd = node_set.join(inc, "node", "left")
        if dangling == "redistribute":
            # One-row dangling-mass aggregate, broadcast-cross-joined
            # into every node's update (no driver collect).
            dmass = ranks.filter(~F.col("_has_out")).agg(
                F.coalesce(F.sum("rank_mi"), F.lit(0))
                .cast("long")
                .alias("_dm")
            )
            upd = upd.crossJoin(
                F.broadcast(
                    dmass.select(F.expr(f"_dm div {n}").alias("_extra"))
                )
            )
            rank_expr = (
                f"CAST({base} AS BIGINT) + ({damping_pct} * "
                f"(COALESCE(_m, CAST(0 AS BIGINT)) + _extra)) div 100"
            )
        else:
            rank_expr = (
                f"CAST({base} AS BIGINT) + "
                f"({damping_pct} * COALESCE(_m, CAST(0 AS BIGINT))) div 100"
            )
        ranks = upd.select(
            *node_set.columns, F.expr(rank_expr).alias("rank_mi")
        )
        if dangling == "redistribute":
            # double-referenced next iteration (see docstring) — cut.
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "rank_mi")
