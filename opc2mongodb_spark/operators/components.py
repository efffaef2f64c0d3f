"""Connected components over candidate-pair edges (dedup clustering).

Completes the dedup pipeline: exact fingerprints collapse identical docs,
MinHash-LSH + Jaccard verification emit near-duplicate PAIRS, and this
operator turns pairs into dedup GROUPS — each document labeled with the
minimum doc id reachable through the pair graph, so ``keep = doc_id ==
cluster_id`` is a deterministic keep-one-per-cluster policy.

Algorithm: iterative min-label propagation (the alternating "large-star"
style loop every distributed CC implementation reduces to):

    label(v) <- min(label(v), min over neighbors' labels)

repeated to fixpoint. Per iteration: one groupBy-min over the edge list +
one join back to labels — both shuffles on the vertex id, map-side
combinable, no skew beyond the degree distribution the graph already has.
Convergence is O(graph diameter) iterations; near-duplicate clusters are
near-cliques, so 2-3 iterations in practice. The driver loop only checks a
scalar "did any label change" count per iteration — no data is collected.

Delta iteration: after round one, only the FRONTIER (vertices whose label
changed last round) propagates — a label that did not change contributes
exactly what it contributed before, so re-sending it is pure waste. Min
propagation is monotone, and any change reaches every neighbor on the very
next round, so frontier propagation converges to the same fixpoint. At
scale this turns late iterations from |E|-sized joins into
|changed-frontier|-sized ones (the standard Pregel/GraphX delta pattern).

At 100 TB: labels and edges are both hash-partitioned on vertex id, so each
iteration is two co-partitioned shuffles; ``localCheckpoint`` cuts the
lineage so the plan does not grow with iterations.

Both loops (``connected_components`` and ``bfs_distances``) are planned in
a private child session (``session._child_session``): AQE off and the
loop's own partition width, everything else as the caller's session has
it. The caller's session is never written, so a query planned beside a
running loop (an HMI lookup, a streaming micro-batch, another batch query)
keeps AQE and the session width. The child shares the SparkContext, so the
loop's checkpoint blocks and their release are unchanged; frames cross
between the two sessions through ``_rebind``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opc2mongodb_spark.session import _child_session

MAX_ITERATIONS = 50  # backstop only; diameter bounds real convergence

# Target edge rows per loop task: the iteration width is
# min(session shuffle partitions, ceil(|E| / _ROWS_PER_TASK)) — small
# graphs run narrow (scheduling-bound otherwise), 100 TB graphs clamp to
# the session width (shuffle-bound, unchanged behavior).
_ROWS_PER_TASK = 65536


def release_checkpoint(df: DataFrame) -> None:
    """Actually free the block-stored RDD behind a localCheckpointed frame.

    ``DataFrame.unpersist()`` only drops CacheManager entries created by
    ``persist()``; the RDD a ``localCheckpoint`` materializes is invisible to
    it and its blocks linger until the JVM's ContextCleaner happens to GC the
    Dataset — measured here: 11 persistent RDDs after three clustering runs,
    every ``unpersist()`` a silent no-op. An iterative operator that
    checkpoints per round MUST release deterministically or a long session
    (bench loop, streaming driver) accumulates executor-memory blocks until
    GC thrash. Walk the analyzed plan's LogicalRDD leaves and unpersist the
    underlying RDDs directly; fall back to the plain unpersist if the JVM
    internals ever shift.
    """
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:  # pragma: no cover - py4j internals shifted
        df.unpersist()


def _rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s logical plan as a frame of ``session``: it is planned and
    executed under ``session``'s conf. Both sessions share one
    SparkContext, so a checkpointed frame keeps reading the same blocks
    (and ``release_checkpoint`` on either frame frees them)."""
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, session)


def _in_loop_session(
    edges: DataFrame,
    inputs: DataFrame,
    loop: Callable[[DataFrame, DataFrame, int], DataFrame],
) -> DataFrame:
    """The prologue both loops share: checkpoint the edge plan, size the
    loop, run ``loop(edges, inputs, width)`` in a private loop session and
    return its (eagerly checkpointed) result as a frame of the caller's
    session.

    The EDGE PLAN is materialized in the caller's session, with AQE on
    (r5): the candidate pairs feeding these operators are usually an
    expensive LSH pipeline, and running it without AQE costs ~2x (no
    runtime coalescing) — measured 3.4 s vs 1.7 s at sf0.1. The loop needs
    AQE off only for its OWN checkpointed frames' partitioning.

    The loop's width adapts to the graph, not the session (r5): every round
    schedules ~3 stages at this width plus a checkpoint, so a
    few-hundred-K-edge graph on a 32-partition session would pay ~100
    near-empty tasks per round in pure scheduling. The count reads the
    just-materialized edge blocks (trivial); at 100 TB edge counts the
    width clamps right back to the session's — cluster behavior
    unchanged."""
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = edges.localCheckpoint(eager=True)
    e_cnt = edges.count()
    loop_part = max(1, min(n_part, -(-2 * e_cnt // _ROWS_PER_TASK)))
    # Under AQE a localCheckpoint reports UnknownPartitioning (Spark 4.1),
    # so every round's co-partitioned joins would re-shuffle both sides;
    # and the loop's groupBy must plan at the width its hash-partitioned
    # frames were written with, or it re-shuffles sym every round
    # (measured 0.5 s/step at sf0.1).
    child = _child_session(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(loop_part),
        },
    )
    try:
        out = loop(_rebind(edges, child), _rebind(inputs, child), loop_part)
    finally:
        release_checkpoint(edges)
    return _rebind(out, spark)


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_iterations: int = MAX_ITERATIONS,
) -> DataFrame:
    """Label every vertex with the minimum vertex id in its component.

    ``vertices``: one column ``id_col``. ``edges``: columns (a_id, b_id),
    undirected. Returns (``id_col``, cluster_id); vertices with no edges are
    their own cluster.

    Shuffle budget: exactly ONE |E|-sized shuffle per propagation step (the
    neighbor-min groupBy); each ``max_iterations`` round fuses TWO steps
    behind a single convergence check (r5), so a graph of diameter d
    converges in ~d/2 driver round-trips. ``sym`` is hash-partitioned on
    ``src`` and ``labels`` on ``vid`` ONCE up front; ``localCheckpoint``
    preserves that partitioning (the loop is planned in a private session
    with AQE off — under AQE the checkpointed LogicalRDD reports
    UnknownPartitioning and every join re-shuffles both sides every
    round), so the frontier join and the labels join are
    zero-exchange co-partitioned joins, ``shuffle_hash``-hinted so the big
    edge side is streamed, never sorted. AQE has nothing to offer inside the
    loop: the groupBy is map-side combinable (hot vertices collapse before
    the shuffle) and the joins never shuffle. One driver action per
    iteration: the convergence count_if scans every partition, which also
    materializes the lazy checkpoint in the same job. The caller's session
    keeps its conf throughout (module docstring).

    Raises ``RuntimeError`` if the propagation has not converged after
    ``max_iterations`` — partially-propagated labels are WRONG answers, never
    returned silently. A graph that legitimately needs more iterations
    (diameter > 50 means a path-like graph, not near-duplicate near-cliques)
    should pass a larger ``max_iterations`` explicitly.
    """
    return _in_loop_session(
        edges.select("a_id", "b_id"),
        vertices,
        lambda e, v, n: _cc_loop(v, e, id_col, max_iterations, n),
    )


def _cc_loop(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str,
    max_iterations: int,
    n_part: int,
) -> DataFrame:
    # Symmetrize in ONE pass over the edge plan: unionAll of two selects
    # would execute the (possibly expensive) upstream pair generation twice.
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a_id").alias("src"), F.col("b_id").alias("dst")),
                F.struct(F.col("b_id").alias("src"), F.col("a_id").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")

    sym = sym.repartition(n_part, "src").localCheckpoint(eager=True)
    labels = (
        vertices.select(F.col(id_col).alias("vid"), F.col(id_col).alias("label"))
        .repartition(n_part, "vid")
        .localCheckpoint(eager=True)
    )

    def _step(lbls: DataFrame, front: DataFrame) -> DataFrame:
        # min label among each vertex's FRONTIER neighbors (delta iteration —
        # unchanged labels were already propagated). Both joins are
        # co-partitioned zero-exchange joins; the shuffle_hash hints build
        # the hash map on the small side ((shrinking) frontier / |V|-sized
        # neighbor-min) and STREAM the big side (sort-merge would re-sort
        # |E| rows every round). Returns (vid, label, _changed).
        neighbor_min = (
            sym.join(front.hint("shuffle_hash"), sym.src == front.vid)
            .groupBy("dst")
            .agg(F.min("label").alias("nmin"))
        )
        return lbls.join(
            neighbor_min.hint("shuffle_hash"),
            lbls.vid == neighbor_min.dst,
            "left",
        ).select(
            "vid",
            F.least(
                F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
            ).alias("label"),
            (F.col("nmin") < F.col("label")).alias("_changed"),
        )

    changed = 0
    frontier = labels  # round one: every vertex propagates
    try:
        for _ in range(max_iterations):
            # TWO propagation steps per convergence check (r5): the check —
            # a count_if scan + driver action + checkpoint materialization —
            # is the per-round fixed cost, and min-propagation needs no
            # convergence decision between steps (step two's frontier is
            # just step one's changed-filter, a lazy plan). Fusing halves
            # the driver round-trips; `changed == 0` after the second step
            # is still exactly the fixpoint (a frontier that propagates
            # nothing new in step two was already fully absorbed).
            # LAZY checkpoints + ONE aggregate action per round: the
            # count_if scan computes every partition, so both checkpoints
            # materialize inside the same job that returns the scalar.
            mid = _step(labels, frontier).localCheckpoint(eager=False)
            new_labels = _step(
                mid.drop("_changed"),
                mid.filter(F.col("_changed")).drop("_changed"),
            ).localCheckpoint(eager=False)
            changed = new_labels.agg(
                F.count_if(F.col("_changed")).alias("n")
            ).first()[0]
            # previous round's checkpoint blocks are dead once the new one
            # is materialized (the agg above) — without this, repeated calls
            # accumulate cached RDD blocks and degrade 4x+ under memory
            # pressure. Release AFTER materialization: the new checkpoint's
            # lineage reads the old blocks until it is persisted.
            release_checkpoint(labels)
            release_checkpoint(mid)
            # next round's frontier: a cheap filter over the checkpointed
            # labels — preserves the (vid, n) partitioning, no lineage growth
            frontier = new_labels.filter(F.col("_changed")).drop("_changed")
            labels = new_labels.drop("_changed")
            if changed == 0:
                break
    finally:
        release_checkpoint(sym)
    if changed != 0:
        release_checkpoint(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; labels would be partially propagated. Pass a larger "
            "max_iterations for graphs with diameter beyond the backstop."
        )

    # Materialize the result off the iteration checkpoint so the final block
    # can be released too; the caller gets a plain, self-contained DataFrame.
    out = labels.select(
        F.col("vid").alias(id_col), F.col("label").alias("cluster_id")
    ).localCheckpoint(eager=True)
    release_checkpoint(labels)
    return out


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    id_col: str = "id",
) -> DataFrame:
    """Minimum hop distance from a seed SET, frontier BFS (Pregel-lite).

    ``edges``: columns (src, dst), DIRECTED — symmetrize upstream for an
    undirected graph. ``seeds``: one column ``id_col``. Returns
    (``id_col``, dist) for every node reachable within ``max_hops`` hops
    (seeds at dist 0); unreachable nodes are absent.

    The connected_components scale discipline, simplified to the monotone
    BFS case: edges are hash-partitioned on src ONCE and checkpointed; the
    per-round frontier-expansion join and the visited anti-join are then
    zero-exchange co-partitioned joins (the distinct-dst groupBy lands the
    new frontier back on the same hash), ``shuffle_hash``-hinted so the
    |E|-sized side streams instead of re-sorting every round. Each round
    is exactly ONE |frontier-expansion|-sized shuffle; lineage is cut per
    round with an eager localCheckpoint (released once superseded), and
    the loop is planned in the same kind of private AQE-off session as
    connected_components, for the same checkpointed-partitioning reason.
    Rounds are bounded by ``max_hops`` BY CONSTRUCTION — no convergence
    backstop needed; an empty frontier exits early (the count doubles as
    the materializing action). Driver state is one scalar per round;
    distances accumulate distributed, O(|V|) rows total."""
    return _in_loop_session(
        edges.select("src", "dst"),
        seeds,
        lambda e, s, n: _bfs_loop(e, s, max_hops, id_col, n),
    )


def _bfs_loop(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    id_col: str,
    n_part: int,
) -> DataFrame:
    sym = edges.repartition(n_part, "src").localCheckpoint(eager=True)
    release_checkpoint(edges)
    visited = (
        seeds.select(F.col(id_col).alias("node"), F.lit(0).alias("dist"))
        .distinct()
        .repartition(n_part, "node")
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("node")
    total = visited.count()
    try:
        for hop in range(1, max_hops + 1):
            # expand: neighbors of the frontier, deduped — the round's one
            # shuffle (groupBy dst); the frontier join is co-partitioned
            expanded = (
                sym.join(frontier.hint("shuffle_hash"), sym.src == frontier.node)
                .groupBy("dst")
                .agg(F.lit(hop).alias("dist"))
                .select(F.col("dst").alias("node"), "dist")
            )
            # new = expanded minus visited: co-partitioned anti join
            new = expanded.join(
                visited.hint("shuffle_hash"), "node", "left_anti"
            )
            # ONE driver action per round: the count materializes the lazy
            # checkpoint in the same job; n_new derives from the running
            # total instead of a second count over the superseded frame
            nxt = visited.unionByName(new).localCheckpoint(eager=False)
            new_total = nxt.count()
            n_new, total = new_total - total, new_total
            release_checkpoint(visited)
            frontier = nxt.filter(F.col("dist") == hop).select("node")
            visited = nxt
            if n_new == 0:
                break
    finally:
        release_checkpoint(sym)
    out = visited.select(F.col("node").alias(id_col), "dist").localCheckpoint(
        eager=True
    )
    release_checkpoint(visited)
    return out
