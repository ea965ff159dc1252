"""PySpark-native engine with the query/data capabilities of the
reference ``myodish-peak-analysis`` library (see SURVEY.md), plus
LLM-training-data pipeline operators (dedup, similarity search, text
analysis) designed for horizontal scale.

Public surface:

* :class:`~myodish_peak_analysis_spark.api.PeakPipeline` — fluent facade
  mirroring the reference's ``PeakDetection``/``PeakAnalysis`` classes.
* :mod:`~myodish_peak_analysis_spark.operators` — the individual
  DataFrame→DataFrame operators.
* :mod:`~myodish_peak_analysis_spark.llm` — documents/embeddings
  operators (dedup, similarity, text stats).
"""

import importlib

# Resolved on first access (PEP 562) so that importing a submodule, such
# as the worker daemon ``_daemon``, imports no pyspark on the way.
_EXPORTS = {
    "DEFAULT_FS": "schema",
    "MIN_CHANNEL_ROWS": "schema",
    "SIGNAL_SCHEMA": "schema",
    "auto_channels": "schema",
    "read_table": "schema",
    "signal_frame": "schema",
    "get_spark": "session",
}
__all__ = list(_EXPORTS)


def __getattr__(name):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f".{_EXPORTS[name]}", __name__), name)
    globals()[name] = value
    return value
