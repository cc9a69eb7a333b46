"""bigdatabowl_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query & data-processing capabilities of the
reference system (uditrana/BigDataBowl, an NFL tracking-data analytics engine
written in pandas/NumPy/Torch) as an idiomatic Apache Spark engine:

- relational core (filters/joins/aggregations/windows/sorts/set-ops) as pure
  DataFrame/SQL plans optimized by Catalyst,
- kinematics & scalar function library (``functions/``),
- tracking-data ETL + EPPA kernel lifecycle (``kernels/``, later rounds),
- large-scale training-data pipeline operators: dedup, similarity search,
  text analysis, multimodal column plumbing (``operators/``),
- a declared-query catalog with DuckDB-oracle SQL twins (``plans/catalog.py``)
  that is the correctness gate for every operator.

Design notes (100 TB posture): every plan is declarative DataFrame/SQL so
Catalyst does pushdown/pruning/broadcast selection; small dims are broadcast
explicitly; wide fan-out ops (shingle explode, knn) are expressed so the
shuffle keys are the high-cardinality ones; Python appears only in Arrow-batched
pandas UDFs, never row-at-a-time.
"""

from bigdatabowl_spark import zipcache
from bigdatabowl_spark.session import get_spark  # noqa: F401

# every Python worker imports this package when it unpickles one of our
# UDFs; from then on each importer re-reads its archive once more, and
# after that only when the archive changes
zipcache.install()

__version__ = "0.1.0"
