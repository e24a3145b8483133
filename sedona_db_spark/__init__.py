"""sedona_db_spark — PySpark-native analytics engine with the capabilities
of apache/sedona-db (geospatial SQL) plus LLM-data-pipeline operators.

Entry points:
    from sedona_db_spark import get_spark, st
    spark = get_spark()
"""
from sedona_db_spark import python_worker
from sedona_db_spark.session import get_spark, register_all, load_tables  # noqa: F401
from sedona_db_spark.functions import st  # noqa: F401

python_worker.install()

__version__ = "0.1.0"
