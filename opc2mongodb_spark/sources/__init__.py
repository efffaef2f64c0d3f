from opc2mongodb_spark import _lazy_exports

_EXPORTS = {
    "TABLE_NAMES": "opc2mongodb_spark.sources.tables",
    "load_table": "opc2mongodb_spark.sources.tables",
    "register_views": "opc2mongodb_spark.sources.tables",
    "read_documents_csv": "opc2mongodb_spark.sources.textfiles",
    "read_documents_jsonl": "opc2mongodb_spark.sources.textfiles",
    "split_quarantine": "opc2mongodb_spark.sources.textfiles",
}

__all__ = [
    "TABLE_NAMES",
    "load_table",
    "read_documents_csv",
    "read_documents_jsonl",
    "register_views",
    "split_quarantine",
]

__getattr__ = _lazy_exports(globals(), _EXPORTS)
