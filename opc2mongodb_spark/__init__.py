"""opc2mongodb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference OPC→MongoDB streaming ETL bridge
(riclolsen/OPC2MongoDB, surveyed in /root/repo/SURVEY.md), generalized into a
full batch + streaming analytics surface and extended with LLM-data-pipeline
operators (dedup, similarity search, multimodal columns, text analysis).

Design stance (SURVEY.md §1.4/§4): everything is declared through the
DataFrame / Spark SQL API so Catalyst + Tungsten choose the physical plan;
Python UDFs only where built-ins genuinely cannot express the semantics
(and then Arrow-batched pandas UDFs, never row-at-a-time).

The public names load on first use (PEP 562): a Python worker that only
unpickles a data source imports that source's module, not the whole
package.
"""

import importlib

_EXPORTS = {
    "CurationResult": "opc2mongodb_spark.pipelines",
    "Engine": "opc2mongodb_spark.engine",
    "curate_corpus": "opc2mongodb_spark.pipelines",
    "experiment_readout": "opc2mongodb_spark.pipelines",
    "monitor_readout": "opc2mongodb_spark.pipelines",
    "get_spark": "opc2mongodb_spark.session",
    "user_features": "opc2mongodb_spark.pipelines",
}

__all__ = [
    "CurationResult",
    "Engine",
    "curate_corpus",
    "experiment_readout",
    "monitor_readout",
    "get_spark",
    "user_features",
]
__version__ = "0.1.0"


def _lazy_exports(namespace: dict, exports: dict[str, str]):
    """A module ``__getattr__`` that imports ``exports[name]`` on first
    access and binds the name into ``namespace``."""

    def __getattr__(name: str):
        if name not in exports:
            raise AttributeError(
                f"module {namespace['__name__']!r} has no attribute {name!r}"
            )
        value = getattr(importlib.import_module(exports[name]), name)
        namespace[name] = value
        return value

    return __getattr__


__getattr__ = _lazy_exports(globals(), _EXPORTS)
