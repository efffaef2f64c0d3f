"""Keyed last-value (the reference's upsert sink, batch twin). SURVEY.md A3/R8.

The reference keeps exactly one document per tag via
``ReplaceOneAsync(filter={tag}, IsUpsert=true)`` (reference:
OPC2MongoDB/Program.cs:1179-1182) — last *write* wins, ignoring event time.
We deliberately implement event-time-correct semantics instead (latest
``order_col`` wins, ties broken deterministically), documented divergence per
SURVEY.md §7.

Scale notes (100 TB): this is a single hash-partition shuffle on the key —
no sort of the whole table. ``row_number`` over (key, order desc) does a
partial per-partition top-1 before the shuffle? It does not — so for very hot
keys prefer the ``max_by`` variant, which aggregates map-side (partial
aggregation) and never materializes per-key groups. Both are provided; the
aggregate form is the default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def last_value_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """One row per key: the row with the max ``order_col``.

    Implemented with ``max_by`` over a struct so aggregation is partial
    (map-side combine) — at scale this is one shuffle of pre-combined state,
    not a full-width window sort. Ties on ``order_col`` are broken by
    ``tiebreak_cols`` (descending), making the result deterministic.
    """
    tiebreak_cols = tiebreak_cols or []
    value_cols = [c for c in df.columns if c not in key_cols]
    picked = df.groupBy(*key_cols).agg(
        F.max_by(
            F.struct(*value_cols), F.struct(order_col, *tiebreak_cols)
        ).alias("_v")
    )
    return picked.select(*key_cols, "_v.*")


def last_value_per_key_window(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Window-function variant (row_number == 1). Same semantics; used by the
    oracle-checked query so the window path is exercised too."""
    tiebreak_cols = tiebreak_cols or []
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(), *[F.col(c).desc() for c in tiebreak_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
