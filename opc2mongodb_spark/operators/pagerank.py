"""PageRank over a document-similarity graph — graph centrality for corpus
curation: rank documents by how central they are in the near-duplicate /
similarity candidate graph (template hubs score high; the complement of the
degree audit `q_neardup_degree`).

Determinism contract (the lloyd/kmeans discipline): every data-dependent
SUM is decimal-pinned so Spark's partial-aggregation order cannot change the
result — per-edge contributions ``pr(u)/outdeg(u)`` are one IEEE division
each (deterministic), cast to DECIMAL(28,12) (deterministic truncation to a
fixed grid), summed exactly, and only then returned to double for the fixed
scalar sequence ``(1-d)/N + d * (contrib + dangling/N)``. A DuckDB oracle
replays the identical arithmetic (`q_pagerank2`); final values render %.9e
downstream of the repeated divisions.

Scale shape: per round ONE shuffle — the contribution groupBy on the
destination id; out-degrees are computed once and ride the same edge join;
the dangling mass is a 1-row broadcast crossJoin scalar; vertices re-enter
via a left join so isolated documents keep their rank. The loop runs as one
clean AQE plan, without per-round checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEC = "decimal(28,12)"


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    iters: int = 2,
    damping: float = 0.85,
) -> DataFrame:
    """``iters`` synchronous PageRank rounds from a uniform start.

    ``vertices``: one row per node (column ``id_col``). ``edges``: directed
    (src, dst) — pass both directions for an undirected graph. Returns
    (id_col, pr) with pr as DOUBLE; rank mass is conserved up to the
    decimal grid. Raises on ``iters < 1``.

    No per-round checkpoints: under AQE even a lazy localCheckpoint
    materializes its upstream stages at CALL time, so they serialize the
    build (measured 9.1 s vs 3.3 s end-to-end at sf0.1 for 2 rounds); a
    short loop's lineage is fine un-truncated. Callers should checkpoint the EDGE frame themselves when it comes
    from an expensive pipeline — it is consumed once for degrees plus
    once per round, and Spark does not reuse the exchange across those
    references (measured: the un-checkpointed LSH edge pipeline re-ran
    three times, 5.7 s vs 3.3 s).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    n = F.broadcast(vertices.agg(F.count(F.lit(1)).alias("_n")))
    v = vertices.select(F.col(id_col)).crossJoin(n)
    outdeg = edges.groupBy(F.col("src").alias(id_col)).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    base = v.join(outdeg, id_col, "left")

    pr = base.select(
        id_col, "_n", "_deg", (F.lit(1.0) / F.col("_n")).alias("pr")
    )
    for _ in range(iters):
        contrib = (
            edges.join(
                pr.filter(F.col("_deg").isNotNull()).select(
                    F.col(id_col).alias("src"),
                    (F.col("pr") / F.col("_deg")).cast(DEC).alias("_c"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias(id_col))
            .agg(F.sum("_c").alias("_contrib"))
        )
        dangling = F.broadcast(
            pr.filter(F.col("_deg").isNull()).agg(
                F.coalesce(F.sum(F.col("pr").cast(DEC)), F.lit(0).cast(DEC))
                .cast("double")
                .alias("_dm")
            )
        )
        pr = (
            base.join(contrib, id_col, "left")
            .crossJoin(dangling)
            .select(
                id_col,
                "_n",
                "_deg",
                (
                    (1.0 - damping) / F.col("_n")
                    + damping
                    * (
                        F.coalesce(F.col("_contrib").cast("double"), F.lit(0.0))
                        + F.col("_dm") / F.col("_n")
                    )
                ).alias("pr"),
            )
        )
    return pr.select(id_col, "pr")
