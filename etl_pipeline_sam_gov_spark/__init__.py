"""etl_pipeline_sam_gov_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities of the reference ETL pipeline (``lolearningcode/
etl-pipeline-sam-gov``, ``lambda_function.py``), generalized to a full
analytics engine designed for 100 TB scale:

- ``pipeline``   — the reference-parity contracts pipeline (ingest →
  filter → transform → rank → sink → SQL), expressed as one lazy
  Catalyst-optimizable DataFrame chain (SURVEY.md §2.1-2.11).
- ``operators``  — relational breadth: joins, aggregations, windows,
  set ops, sessionization, as-of joins, dedup, similarity search,
  text analysis, multimodal plumbing (SURVEY.md §2.3-2.7, §2.12).
- ``functions``  — scalar function library (string/date/math/json/array).
- ``streaming``  — Structured Streaming generalization of the
  reference's daily-batch-with-lookback (SURVEY.md §2.9).
- ``registry``   — the query/oracle registry that backs
  ``__spark_entry__.py`` (driver correctness contract).

Import the package to populate the registry::

    import etl_pipeline_sam_gov_spark as eng
    eng.QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.01")

Registry order is registration (module import) order;
``__spark_entry__.queries()`` orders the names for certification.
"""

# First, so it runs in every Python worker that unpickles engine code
# (see pyworker's docstring); a no-op in the driver.
from etl_pipeline_sam_gov_spark import pyworker as _pyworker  # noqa: F401
from etl_pipeline_sam_gov_spark.registry import BASELINE_OF, ORACLES, QUERIES, query

# Importing these modules registers every query in the registry.
from etl_pipeline_sam_gov_spark.pipeline import contracts as _contracts  # noqa: F401
from etl_pipeline_sam_gov_spark.operators import (  # noqa: F401
    aggregates as _aggregates,
    analytics as _analytics,
    behavior as _behavior,
    bpe as _bpe,
    curation as _curation,
    dedup as _dedup,
    dq as _dq,
    graph as _graph,
    ml as _ml,
    relational as _relational,
    retrieval as _retrieval,
    setops as _setops,
    similarity as _similarity,
    text as _text,
    tpch as _tpch,
    windows as _windows,
)
from etl_pipeline_sam_gov_spark.functions import collections as _collections  # noqa: F401
from etl_pipeline_sam_gov_spark.functions import scalar as _scalar  # noqa: F401
from etl_pipeline_sam_gov_spark.functions import udfs as _udfs  # noqa: F401
from etl_pipeline_sam_gov_spark.streaming import jobs as _jobs  # noqa: F401
from etl_pipeline_sam_gov_spark.operators import multimodal as _multimodal  # noqa: F401

__all__ = ["QUERIES", "ORACLES", "BASELINE_OF", "query"]
