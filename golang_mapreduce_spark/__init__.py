"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference Go MapReduce engine (natedob/GoLang_MapReduce),
re-expressed Spark-first.

The reference implements: whole-file map -> hash-partitioned shuffle ->
sort-based group-by-key -> reduce -> text sink, with a pluggable
(Map, Reduce) UDF surface (reference: 6.5840/src/mr/worker.go:121-258,
6.5840/src/mr/coordinator.go:57-109).  Here, the control plane (scheduling,
barriers, stragglers, RPC) is Spark's; this package provides the query
surface: MapReduce-parity workloads, the relational/window/streaming layer
the reference's paradigm can express but never named, and large-scale
training-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) designed for 100 TB-class inputs.
"""

import sys

from golang_mapreduce_spark.session import get_session

# Inside a PySpark worker (the worker's set-up has imported SparkFiles and
# flagged it), stop each task's set-up from re-reading pyspark.zip and the
# spark-core jar; see _pyworker.  The driver's zipimport is left alone.
_files = sys.modules.get("pyspark.core.files")
if _files is not None and _files.SparkFiles._is_running_on_worker:
    from golang_mapreduce_spark import _pyworker

    _pyworker.install()
del _files

__all__ = ["get_session"]
__version__ = "0.1.0"
