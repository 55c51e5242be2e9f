"""dateng_data_lakes_apache_spark_spark — a PySpark-native data-lake analytics engine.

Brand-new engine with the query & data-processing capabilities of the
reference repo ``akkuplus/DatEng_Data_Lakes_Apache_Spark`` (a Sparkify
"Data Lake" ETL: JSON → star schema → partitioned Parquet; see
``/root/reference/etl.py``), re-expressed as a reusable, idiomatic
Spark engine and extended with the full relational operator inventory
plus LLM-data-pipeline operators (dedup, similarity search, multimodal
columns, text analysis) per SURVEY.md §2.3.

Layout
------
- ``session``    SparkSession factory (UTC, AQE, Arrow; generalizes etl.py:21-38)
- ``catalog``    parquet-dir table catalog + temp views (generalizes
                 ETL_from_Notebook.py:255-256)
- ``registry``   named query registry: the ``queries()``/``oracle_sql()`` contract
- ``operators/`` relational operator builders (scan/filter/join/agg/window/...)
- ``functions/`` scalar & vector function packs (string/date/math/json/array)
- ``sources/``   schema-applied readers (JSON/CSV/Parquet) + lake sinks
- ``plans/``     plan-inspection helpers (formatted explain, scan read
                 schema, normalized plan snapshots)
- ``streaming/`` Structured Streaming queries (tumbling/session/dedup)
- ``pipelines/`` the reference's star-schema ETL as a library feature
"""

from .caching import cached_indexes, release_caches
from .session import get_spark
from .catalog import table, register_views, TABLES

__all__ = [
    "get_spark",
    "table",
    "register_views",
    "TABLES",
    "cached_indexes",
    "release_caches",
]
__version__ = "0.1.0"
