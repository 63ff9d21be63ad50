"""oeem_etl_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference ETL toolkit (impactlab/oeem-etl: fetch/parse/transform/upload of
interval energy data — see SURVEY.md §0–§1; the reference checkout at
/root/reference is empty, so no file:line citations are possible and all
reference-capability claims trace to SURVEY.md's public-knowledge tags),
extended with large-scale training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing).

Design stance (SURVEY.md §3–§4):
- Everything is a ``pyspark.sql.DataFrame`` transformation — declarative
  logical plans, Catalyst/Tungsten pick the physical strategy.
- No RDDs, no ``collect()`` in library code paths, no driver-side row loops.
- Python UDFs only where built-ins genuinely cannot express the semantics,
  and then always Arrow-vectorized (pandas_udf / applyInPandas / mapInPandas).
- Driver-side rows become a frame only through ``catalog.local_frame``,
  which ships them as Arrow and plans a ``LocalRelation``.
  ``createDataFrame`` over a Python list pickles an RDD whose Python
  ``map`` costs a Spark job plus a pyspark daemon and a worker per core
  (350 MB on 4 cores).
- Streaming uses Structured Streaming over the same transformations so
  batch-equivalence is checkable.
"""

__version__ = "0.1.0"

from oeem_etl_spark.session import get_session  # noqa: F401
from oeem_etl_spark.catalog import TABLES, load_tables, register_views  # noqa: F401
