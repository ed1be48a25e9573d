"""reduction_dask_spark — a PySpark-native analytics engine.

Re-expresses the query and data-processing capabilities of the
reference framework ``jchung738/reduction-dask`` (a Dask-futures
feature-selection / dimensionality-reduction framework, see
/root/reference) as an idiomatic Spark DataFrame / Catalyst design,
and extends it with LLM-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) designed for 100 TB scale.

Layout
------
- ``session``    — SparkSession factory tuned for the workload
- ``sources``    — parquet/csv/json loaders for the test star schema
- ``functions``  — portable (Spark ≡ DuckDB) expression helpers
- ``registry``   — the query/oracle registry backing __spark_entry__
- ``operators``  — the operator library (relational, metrics, cv,
                   permutation, distance, importance, tuning,
                   reduction, dedup, similarity, text, multimodal)
- ``streaming``  — Structured Streaming variants of era-bucketed ops
- ``plans``      — plan-inspection helpers (pushdown/broadcast checks)
"""

__version__ = "0.1.0"

import sys

from pyspark import cloudpickle

# UDFs, mappers and stream processors call helpers of this package's
# modules. Pickled by value, they run in a Python worker that cannot
# import the package (a process started outside the checkout with no
# PYTHONPATH entry for it).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

from .registry import QuerySpec, REGISTRY, query  # noqa: E402, F401
