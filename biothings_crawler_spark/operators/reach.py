"""Reachability over the crawl link graph: multi-source BFS hop
distance from a seed set (:func:`seed_distance`) and the full
strongly-connected-component labeling built on it
(:func:`scc_census`).

Scale shape: both are delta iterations — each round joins only the
nodes first reached (or still unlabeled) against the edge table, so a
round's shuffle volume is the frontier's out-edge count, never
|V|·|E| — with ``localCheckpoint`` truncating lineage so k rounds
never replan k joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def seed_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Minimum hop distance from any seed node following out-edges:
    ``(node, dist)`` for every node reachable within ``max_hops`` —
    the crawl-depth map a seeded harvest induces (the reference's
    DEPTH_LIMIT is a per-request counter, crawler/spiders/helper.py;
    over a link TABLE the same notion is a multi-source BFS).

    Delta iteration, not dense relaxation: each round joins only the
    FRONTIER (nodes first reached last round) against the edge table,
    then folds new reaches in with a min-agg — so a round's shuffle
    volume is the frontier's out-edge count, never |V|·|E|.  Rounds
    stop early when the frontier empties; lineage is truncated with
    ``localCheckpoint``.  Three hops ride each checkpointed job (the
    connected_components ``check_every`` pattern): a hop is one
    join+agg layer, so batching turns three blocking jobs + three
    ``isEmpty`` actions into one of each — past the fixpoint a hop
    joins an empty frontier, so overrunning by up to two hops inside
    the last batch costs nothing and changes nothing (the min-fold is
    idempotent there).  The frontier is a plain filter over the
    checkpointed labels, never separately materialized.
    """
    check_every = 3
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=True)
    dist = seeds.select(
        F.col(seeds.columns[0]).alias("node"), F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=True)
    frontier = dist
    for hop in range(1, max_hops + 1):
        reached = (
            e.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"), F.lit(hop).cast("long").alias("dist"))
        )
        merged = (
            dist.union(reached)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if hop % check_every == 0 or hop == max_hops:
            merged = merged.localCheckpoint(eager=True)
        frontier = merged.filter(F.col("dist") == hop)
        dist = merged
        if (hop % check_every == 0 or hop == max_hops) and frontier.isEmpty():
            break
    return dist


def scc_census(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_pivots: int = 32,
    max_trim_passes: int = 64,
    max_hops: int = 32,
) -> DataFrame:
    """FULL strongly-connected-component labeling:
    ``(node, scc_label, scc_size)`` with the canonical label =
    the smallest member id.  The crawl planner's duplicate-cluster map
    for redirect rings and mutually-linked mirror families, and the
    precondition for per-SCC condensation analytics.

    Algorithm (FW-BW with trimming, Fleischer et al. 2000 shape):

    1. TRIM to fixpoint: a node with no in-edge or no out-edge in the
       remaining graph is its own SCC — label and remove.  Each pass
       is two distinct-aggs + anti-joins; web-like graphs (short
       tendrils off a core) trim in a handful of passes.
    2. PIVOT PEEL: pivot = smallest remaining node; its SCC =
       fwd(pivot) ∩ bwd(pivot) via two :func:`seed_distance` delta
       iterations (frontier-sized shuffles, lineage checkpointed);
       label the SCC with its min member, remove it, re-trim.  One
       round per NONTRIVIAL SCC — the Broder bow-tie insight says
       real web graphs concentrate mass in one giant SCC, so rounds
       stay small; ``max_pivots``/``max_trim_passes`` are honest
       safety caps that raise rather than emit a wrong labeling.

    Scale plan per round: bounded ``isEmpty``/1-row probes, hash aggs
    and semi/anti joins only — no windows, no closure materialization."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().localCheckpoint(eager=True)
    remaining = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    labels = spark.createDataFrame([], "node long, scc_label long")

    def _trim(rem_nodes, rem_edges):
        nonlocal labels
        for _ in range(max_trim_passes):
            srcs = rem_edges.select(F.col("src").alias("node")).distinct()
            dsts = rem_edges.select(F.col("dst").alias("node")).distinct()
            trivial = (
                rem_nodes.join(srcs, "node", "left_anti")
                .union(rem_nodes.join(dsts, "node", "left_anti"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            if trivial.isEmpty():
                return rem_nodes, rem_edges
            labels = labels.union(
                trivial.select("node", F.col("node").alias("scc_label"))
            ).localCheckpoint(eager=True)
            rem_nodes = rem_nodes.join(
                trivial, "node", "left_anti").localCheckpoint(eager=True)
            rem_edges = (
                rem_edges
                .join(rem_nodes.select(F.col("node").alias("src")),
                      "src", "left_semi")
                .join(rem_nodes.select(F.col("node").alias("dst")),
                      "dst", "left_semi")
                .localCheckpoint(eager=True)
            )
        raise ValueError(f"trim did not converge in {max_trim_passes} passes")

    remaining, e = _trim(remaining, e)
    for _ in range(max_pivots):
        if remaining.isEmpty():
            break
        pivot = remaining.agg(F.min("node").alias("node"))
        fwd = seed_distance(e, pivot, max_hops=max_hops).select("node")
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        bwd = seed_distance(rev, pivot, max_hops=max_hops).select("node")
        scc = fwd.join(bwd, "node", "left_semi").localCheckpoint(eager=True)
        lab = scc.agg(F.min("node").alias("scc_label"))
        labels = labels.union(
            scc.join(F.broadcast(lab)).select("node", "scc_label")
        ).localCheckpoint(eager=True)
        remaining = remaining.join(scc, "node", "left_anti") \
            .localCheckpoint(eager=True)
        e = (
            e.join(remaining.select(F.col("node").alias("src")),
                   "src", "left_semi")
            .join(remaining.select(F.col("node").alias("dst")),
                  "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        remaining, e = _trim(remaining, e)
    else:
        if not remaining.isEmpty():
            raise ValueError(f"more than {max_pivots} nontrivial SCCs")
    sizes = labels.groupBy("scc_label").agg(
        F.count(F.lit(1)).cast("long").alias("scc_size"))
    return labels.join(sizes, "scc_label").select(
        "node", "scc_label", "scc_size")
