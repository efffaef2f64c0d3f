"""User-facing facade — what a user of the reference switches to.

The reference's whole surface was: write a .conf, run the exe, get a
per-server "current values" Mongo collection (reference: OPC2MongoDB/
README.md). The equivalent here:

    eng = Engine()                          # session with scale defaults
    eng.ingest("plant.conf", "/data/state") # conf → stream → upsert store
    eng.current_values("/data/state")       # the "collection", as a DataFrame

plus everything the reference never had:

    eng.table("lineitem", sf_dir)           # catalog scan
    eng.sql("SELECT ...", sf_dir)           # full Spark SQL over the catalog
    eng.query("q_join_star", sf_dir)        # the curated operator inventory
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from opc2mongodb_spark.session import get_spark


class Engine:
    def __init__(self, spark: SparkSession | None = None) -> None:
        self.spark = spark or get_spark()
        from opc2mongodb_spark.sources.opc import register as _register_opcsim

        _register_opcsim(self.spark)
        self._stores = {}

    # --- batch catalog ----------------------------------------------------

    def table(self, name: str, sf_dir: str) -> DataFrame:
        from opc2mongodb_spark.sources.tables import load_table

        return load_table(self.spark, sf_dir, name)

    def sql(self, query: str, sf_dir: str) -> DataFrame:
        from opc2mongodb_spark.sources.tables import register_views

        register_views(self.spark, sf_dir)
        return self.spark.sql(query)

    def query(self, name: str, sf_dir: str) -> DataFrame:
        from opc2mongodb_spark.queries import REGISTRY

        return REGISTRY[name].build(self.spark, sf_dir)

    def curate(self, sf_dir: str, **kwargs):
        """Run the composed corpus-curation pipeline (pipelines.py) over the
        documents table; kwargs pass through to ``curate_corpus``."""
        from opc2mongodb_spark.pipelines import curate_corpus

        return curate_corpus(self.table("documents", sf_dir), **kwargs)

    def experiment(self, sf_dir: str, **kwargs):
        """Run the composed A/B read-out (pipelines.experiment_readout —
        SRM validity, raw + CUPED-adjusted lift, MDE sizing in one row)
        over the events table; kwargs pass through."""
        from opc2mongodb_spark.pipelines import experiment_readout

        return experiment_readout(self.table("events", sf_dir), **kwargs)

    def monitor(self, sf_dir: str, **kwargs):
        """Run the composed drift read-out (pipelines.monitor_readout —
        reference-half vs current-half KS, decile PSI, and mix chi2 with
        alarms in one row) over the events table; kwargs pass through."""
        from opc2mongodb_spark.pipelines import monitor_readout

        return monitor_readout(self.table("events", sf_dir), **kwargs)

    def features(self, sf_dir: str):
        """Per-user feature table (pipelines.user_features) over events."""
        from opc2mongodb_spark.pipelines import user_features

        return user_features(self.table("events", sf_dir))

    # --- the reference's job: conf → running ingestion --------------------

    def ingest(
        self,
        config_path: str,
        state_path: str,
        checkpoint_dir: str,
        trigger_seconds: int | None = None,
        sweeps_per_batch: int = 1,
        max_sweeps: int = 16,
    ):
        """Start the OPC→current-values topology (EP1→EP2/3→sink, SURVEY.md
        §3) as one streaming query. Returns (StreamingQuery, store)."""
        from opc2mongodb_spark.opcmodel import raw_to_opc_values
        from opc2mongodb_spark.streaming.sinks import upsert_query

        raw = (
            self.spark.readStream.format("opcsim")
            .option("config", config_path)
            .option("sweeps_per_batch", sweeps_per_batch)
            .option("max_sweeps", max_sweeps)
            .load()
        )
        opc = raw_to_opc_values(raw)
        store = self._store(state_path)
        q = upsert_query(opc, store, checkpoint_dir, trigger_seconds).start()
        return q, store

    def current_values(self, state_path: str) -> DataFrame | None:
        """The committed snapshot of the store (None when it does not
        exist). Safe beside a running ``ingest``: it never sees a
        half-written merge."""
        return self._store(state_path).read(self.spark)

    def _store(self, state_path: str):
        """One store per state path, shared by ``ingest`` and
        ``current_values``: lookups between two commits reuse one
        DataFrame instead of listing the store on every lookup."""
        from opc2mongodb_spark.streaming.sinks import CurrentValuesStore

        key = os.path.abspath(state_path)
        if key not in self._stores:
            self._stores[key] = CurrentValuesStore(state_path)
        return self._stores[key]
