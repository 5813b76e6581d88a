"""osmdatapy_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of chourmo/osmdatapy, re-expressed Spark-first.

Public API mirrors the reference's three names (reference
``osmdatapy/__init__.py:3-5``): ``OSM`` (engine facade), ``Query``
(composable query builder), plus the Spark-specific table loaders.

Design (see SURVEY.md §1.5): elements are ordinary DataFrames with a fixed
core schema and a ``tags MAP<STRING,STRING>`` column; way membership is
``refs ARRAY<LONG>``; relation membership is
``members ARRAY<STRUCT<ref,type,role>>``.  All predicates compile to
Catalyst ``Column`` expressions so pushdown/pruning are free; the only
Python-side kernels are the per-group ring chaining (``applyInPandas``)
and the PBF blob decoder inside the custom data source.

Importing the package installs ``_pyworker``'s zip-importer fingerprint
check, so every Python worker that unpickles engine code stops re-reading
``pyspark.zip``'s directory at the start of each task.
"""

from osmdatapy_spark import _pyworker  # noqa: F401  (installs on import)
from osmdatapy_spark.query import Query
from osmdatapy_spark.engine import OSM
from osmdatapy_spark.session import get_spark
from osmdatapy_spark.sources.datasource import OSM_datasource

__all__ = ["OSM", "Query", "OSM_datasource", "get_spark"]
__version__ = "0.1.0"
