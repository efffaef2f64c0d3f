"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (SURVEY.md §2.3): the reference's
essential computation — latest normalized OPC value per (server, tag) with
quality — over the sf0.001 ``events`` table.

``queries()`` / ``oracle_sql()`` expose the full oracle-checked inventory
from ``opc2mongodb_spark.queries`` (SURVEY.md §2.2 binding matrix).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from opc2mongodb_spark.queries import REGISTRY
from opc2mongodb_spark.session import _child_session, build_session_conf

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The keys load_table requires (it checks them, never sets them).
_TABLE_CONF = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def _engine_session(spark: SparkSession) -> SparkSession:
    """``spark`` when it carries the engine's table conf (any session from
    ``session.get_spark`` does), else a child session of it that does: the
    caller's own session is never written."""
    conf = build_session_conf()
    want = {k: conf[k] for k in _TABLE_CONF}
    if all(spark.conf.get(k) == v for k, v in want.items()):
        return spark
    return _child_session(spark, want)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["q_last_value_per_key"].build(
        _engine_session(spark), SMOKE_SF_DIR
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {
        name: lambda spark, sf_dir, build=spec.build: build(
            _engine_session(spark), sf_dir
        )
        for name, spec in REGISTRY.items()
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB twin SQL for every oracle-checkable query."""
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }
