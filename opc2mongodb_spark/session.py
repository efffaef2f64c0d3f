"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every setting is chosen to also be the
right default on a large multi-executor cluster reading ~100 TB:

- AQE on (runtime coalesce / skew-join splitting / plan re-optimization).
- UTC session timezone so timestamp semantics are engine- and host-independent
  (and match the DuckDB oracle, which reads parquet TIMESTAMP as naive UTC).
- Arrow enabled for any pandas-UDF path (the only sanctioned Python hot path).
- shuffle.partitions left to AQE coalescing from a modest initial value in
  local mode; on a real cluster this would be ~2-3x total cores.

The session's conf is a constant of the process: every conf write in the
package lives in this module. The Engine shares one session between the
bridge, the dedup gate, HMI lookups and batch queries, so an operator that
toggled a key while it ran would leak the toggle into every query planned
beside it. An operator that needs other planner settings plans in a child
session of its own (``_child_session``), the way Structured Streaming runs
each query on a clone of the session taken at start.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Streaming state-store provider for production-scale key spaces: the
# default HDFS-backed provider keeps every key in executor heap, which a
# 100 TB deployment's tag/user cardinality outgrows; RocksDB keeps state on
# local disk with incremental checkpoints. Bundled with Spark — no extra
# dependency. The stateful-gate goldens run on BOTH providers
# (tests/test_scale_patterns.py).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def build_session_conf(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """Resolve the full session conf map get_spark() applies — split out so
    the env-default derivation (master from $SPARK_GRAFT_CPUS, the RocksDB
    state-store toggle, extra_conf layering) is assertable without creating
    or mutating a live SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    conf: dict[str, str] = {
        "spark.master": master,
        # local mode: the driver IS the executor — size its heap for the
        # core count (default 1g OOMs under 32 concurrent spilling tasks).
        # Applies only at JVM launch; harmless no-op on an existing session.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        # --- correctness-critical session semantics -------------------------
        "spark.sql.session.timeZone": "UTC",
        # parquet TIMESTAMP(NANOS) columns scan as int64 nanos (Spark cannot
        # read them natively); load_table converts them and refuses a
        # session without this key.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # --- adaptive execution: the 100 TB story ---------------------------
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Runtime sort-merge -> shuffled-hash conversion (guide §3.1): AQE
        # converts an SMJ only when EVERY map-output partition of the
        # build side is below this bound, so — unlike a blanket
        # preferSortMergeJoin=false — the hash build is proven to fit
        # task memory from real shuffle stats before the two sorts are
        # dropped. Scale-independent semantics (a per-task build bound,
        # not a cluster-size constant); 128m matches maxPartitionBytes.
        # Measured r12: q_pagerank2's two per-iteration joins convert,
        # -0.41 s median (outside noise); converted plans elsewhere are
        # neutral, non-qualifying plans are untouched by construction.
        # Precondition: Spark only applies the conversion when this
        # threshold is >= adaptive advisoryPartitionSizeInBytes (64m
        # default) — a smaller value does not mean "tighter build bound",
        # it silently DISABLES the SMJ->SHJ conversion entirely. To
        # genuinely lower the per-task build bound below 64m, scale
        # advisoryPartitionSizeInBytes down with it (extra_conf).
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "128m",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # --- scan efficiency ------------------------------------------------
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.files.maxPartitionBytes": "128m",
        # --- Python boundary: Arrow everywhere ------------------------------
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # quieter driver logs in the harness
        "spark.ui.enabled": "false",
    }
    # deployment toggle: SPARK_GRAFT_STATE_STORE=rocksdb flips every
    # stateful streaming query in the session onto the RocksDB provider.
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        conf["spark.sql.streaming.stateStore.providerClass"] = ROCKSDB_PROVIDER
    conf.update(extra_conf or {})
    return conf


def get_spark(
    app_name: str = "opc2mongodb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same entry points work under the driver harness and in tests. On a
    real cluster the caller simply passes ``master=None`` with a cluster
    ``spark.master`` already set in the environment.
    """
    conf = build_session_conf(master, shuffle_partitions, extra_conf)
    builder = SparkSession.builder.appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _child_session(
    spark: SparkSession, overrides: dict[str, str]
) -> SparkSession:
    """A new session on ``spark``'s SparkContext: every modifiable key as
    ``spark`` has it now, then ``overrides``. ``spark`` itself is never
    written. Sharing the SparkContext, the two sessions share checkpoint
    blocks and the table cache; a frame crosses between them by rebinding
    its logical plan (``operators.components._rebind``)."""
    child = spark.newSession()
    for key, value in {**spark.conf.getAll, **overrides}.items():
        if spark.conf.isModifiable(key):
            child.conf.set(key, value)
    return child
