"""Distributed connected components — the iterative-graph operator a
dedup pipeline needs to turn near-duplicate PAIRS into CLUSTERS.

Algorithm: min-label propagation with pointer jumping. Each round
does (a) a neighbor-min step — every vertex takes the min of its own
label and its neighbors' labels (one shuffle of the edge list) — and
(b) a pointer-jump step — every vertex replaces its label by its
label's label (one shuffle of the label table), which halves label-
chain depth. (a) alone is the textbook MapReduce CC and needs
O(diameter) rounds; with (b) convergence is O(log diameter) — a
1000-hop chain closes in ~10 rounds (pinned in tests/test_graph.py).
This is the hashing-to-min-label family of Kiveris et al., "Connected
Components in MapReduce and Beyond" (their large-star/small-star is
the edge-rewriting variant of the same bound).

Scale posture: every round shuffles the EDGE list and the LABEL table
(both O(|V| + |E|) of the graph, typically orders of magnitude
smaller than the corpus the graph was derived from), never the source
data. ``localCheckpoint`` truncates lineage every round so later
rounds do not replay earlier ones, and one convergence probe runs per
round (the probe's COUNT is the job that materializes the lazy
checkpoint — one job per round; two rounds per probe was measured
and rejected, see the loop comment); swap for
reliable ``checkpoint`` (HDFS / object store) every few rounds on a
production cluster (the full trade is decided in SCALE.md "Round-16:
localCheckpoint at 100 TB"). The convergence probe is a COUNT
aggregate — no data is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Round cap: with pointer jumping, rounds grow with log2(diameter) —
#: 30 covers diameters up to ~2^29 vertices-in-a-line, far beyond any
#: real near-dup graph; hitting the cap indicates a logic bug, so it
#: raises rather than returning partial labels.
MAX_ITERS = 30


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iters: int = MAX_ITERS
) -> DataFrame:
    """Label every vertex of the undirected graph ``edges`` with its
    component's minimum vertex id.

    ``edges`` may list each pair once in either orientation; it is
    symmetrized internally. Returns ``(vertex, component)`` with one
    row per DISTINCT vertex appearing in ``edges``.

    Upgrade path for adversarial graphs (long chains / huge skewed
    components): switch the round body to Kiveris et al.'s
    large-star/small-star edge rewriting — logarithmic rounds with the
    same per-round join shape, and it additionally shrinks the edge
    list each round; see SCALE.md for the trade-off discussion.
    """
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    sym = sym.distinct().localCheckpoint(eager=True)  # computed once

    labels = (
        sym.select(F.col("u").alias("vertex"))
        .distinct()
        .withColumn("lbl", F.col("vertex"))
        .localCheckpoint(eager=True)
    )

    def _round(cur: DataFrame) -> DataFrame:
        # (a) neighbor-min: vertex takes min(own, neighbors' labels)
        msgs = sym.join(cur, sym.u == cur.vertex).select(
            F.col("v").alias("vertex"), "lbl"
        )
        stepped = (
            cur.union(msgs).groupBy("vertex").agg(F.min("lbl").alias("lbl"))
        )
        # (b) pointer jump: lbl <- label(lbl), halving chain depth
        parent = stepped.select(
            F.col("vertex").alias("p_vertex"), F.col("lbl").alias("p_lbl")
        )
        return stepped.join(
            parent, stepped.lbl == parent.p_vertex, "left"
        ).select(
            "vertex",
            F.coalesce(F.col("p_lbl"), F.col("lbl")).alias("lbl"),
        )

    # One propagation round per LAZY checkpoint + convergence probe:
    # the probe's COUNT is the job that materializes the round's
    # checkpoint, merging the former eager-checkpoint job into the
    # probe (one job per round instead of two). Batching TWO rounds
    # per probe was measured in r16 and REJECTED: the unchecked
    # intermediate round's subtree recomputes inside the deeper plan
    # (sf1 reps 8.6/8.1/8.1 -> 9.5/8.7/8.5 s, jobs 40 -> 43) — same
    # verdict as the r15 round-restructure rejection.
    for _ in range(max_iters):
        jumped = _round(labels).localCheckpoint(eager=False)
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "vertex")
            .filter(F.col("n.lbl") < F.col("o.lbl"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
        )
    return labels.select(F.col("vertex"), F.col("lbl").alias("component"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 3,
    damping: float = 0.85,
    init_rank: float = 0.04,
    teleport: float = 0.006,
) -> DataFrame:
    """Weighted PageRank over ``edges`` with a FIXED iteration count
    (no convergence probe), returning ``(vertex, pr)``.

    Fixed iterations keep the whole computation a deterministic,
    oracle-able dataflow: the caller supplies ``init_rank`` (1/|V|)
    and ``teleport`` ((1-damping)/|V|) as LITERALS so both engines of
    a cross-engine compare parse the identical double. Float
    discipline (the emb_kmeans convention): each edge contribution
    ``round(pr * w / out_w, 12)`` accumulates as DECIMAL(38,12) — an
    order-free sum — and ranks re-round to 12dp per iteration, so
    partial-aggregation order can never flip the result.

    Scale posture: the edge list aggregates ONCE and is
    localCheckpoint'ed (lineage cut — iteration N must not replay the
    corpus-sized join that built the graph; CC precedent above). Each
    round shuffles only O(|E|) contribution rows; the O(|V|) rank
    table is BROADCAST each round (vertex sets up to ~100M rows fit a
    few GB; beyond that swap the two broadcasts for co-partitioned
    joins on vertex — same dataflow, one extra shuffle per round).
    Integral weights keep out-degree sums exact at any width.
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("long").alias("w"),
    )
    ow = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    ew = e.join(ow, "src").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("vertex"))
        .union(e.select(F.col("dst").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ranks = nodes.withColumn("pr", F.lit(float(init_rank)))
    for _ in range(iters):
        # checkpointed inputs have no stats (LogicalRDD defaults to
        # "huge"), so the O(|V|) rank/contribution tables must be
        # broadcast EXPLICITLY or every round plans a sort-merge join
        contrib = (
            ew.alias("E")
            .join(F.broadcast(ranks.alias("R")), F.col("E.src") == F.col("R.vertex"))
            .select(
                F.col("E.dst").alias("cv"),
                F.round(F.col("R.pr") * F.col("E.w") / F.col("E.out_w"), 12)
                .cast("decimal(38,12)")
                .alias("c"),
            )
        )
        summed = contrib.groupBy("cv").agg(F.sum("c").cast("double").alias("s"))
        ranks = (
            nodes.alias("N")
            .join(F.broadcast(summed.alias("S")), F.col("N.vertex") == F.col("S.cv"), "left")
            .select(
                F.col("N.vertex").alias("vertex"),
                F.round(
                    F.lit(float(teleport))
                    + F.lit(float(damping))
                    * F.coalesce(F.col("S.s"), F.lit(0.0)),
                    12,
                ).alias("pr"),
            )
        )
    return ranks
