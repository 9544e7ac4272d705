"""fifa_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of JMGGarcia/fifa-data-pipeline
(reference surveyed in SURVEY.md), extended with the operators a
large-scale (100 TB-class) training-data pipeline needs: exact and
near deduplication, vector similarity search, text analysis, event
windowing/sessionization, and multimodal-column plumbing.

Design principles (SURVEY.md §7):

- Pure functions over DataFrames. No classes wrapping Spark, no
  custom planner; declare logical plans with the DataFrame/SQL API
  and let Catalyst + Tungsten pick the physical strategy.
- Built-in ``pyspark.sql.functions`` in every hot path; Arrow-batched
  Pandas UDFs only where built-ins genuinely can't express the
  semantics (multimodal decode); row-at-a-time Python UDFs nowhere.
- Scale posture: AQE on, broadcast hints for genuinely-small dims,
  explicit partition/cluster layout at write time, a salted join
  for skew.
"""

from fifa_data_pipeline_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
