"""edspdf_spark — a PySpark-native document text-extraction engine.

A from-scratch reimplementation of the capabilities of `aphp/edspdf`
(reference at /root/reference, v0.10.0) designed Spark-first:

* pages table (url, warc_ts, html BINARY, text, lang) -> extract ->
  classify -> aggregate, all expressed as DataFrame transforms whose
  document-local math lives in Arrow-batched UDFs
* every reference operator is document-local (SURVEY.md §2.9), so the
  hot path is an embarrassingly-parallel map: the fused pipeline runs
  extract+classify+aggregate in ONE mapInArrow with ZERO shuffles
* skew defused by salted repartition on url-hash + payload size
* checkpoint/resume via bucketed runs; per-partition lineage+metrics

Every UDF closure imports this package when a Python worker unpickles
it, so a reused worker (Spark sets SPARK_REUSE_WORKER) installs the
zip-importer fix of ``_worker_imports`` here, once per process.
"""

import os as _os

if _os.environ.get("SPARK_REUSE_WORKER"):
    from ._worker_imports import install as _install

    _install()

__version__ = "0.1.0"
