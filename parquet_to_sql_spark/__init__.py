"""parquet_to_sql_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capability surface of
``dotted-ai/parquet-to-sql`` (a Parquet -> PostgreSQL bulk importer,
see /root/reference/src/ParquetImporter.php:28-76) re-expressed
Spark-first, plus a full Spark SQL query layer and LLM-data-pipeline
operators (dedup, similarity search, text analysis, multimodal),
designed for 100 TB scale.

Public API:
    get_spark(...)        -- tuned SparkSession builder
    load_table(...)       -- read one fixture table (handles ns timestamps)
    register_views(...)   -- register all fixture tables as temp views
    Importer              -- Parquet -> SQL table import (reference parity)
    ImportResult          -- import metrics record
"""

from parquet_to_sql_spark.session import get_spark
from parquet_to_sql_spark.catalog import TABLES, load_table, register_views
from parquet_to_sql_spark.result import ImportResult
from parquet_to_sql_spark.worker import install as _install_worker_shim

# In a Python worker, importing any package function (cloudpickle
# imports it by reference) stops later tasks re-reading unchanged zip
# archives; on the driver this does nothing (see worker.py).
_install_worker_shim()

__all__ = [
    "get_spark",
    "TABLES",
    "load_table",
    "register_views",
    "ImportResult",
]

__version__ = "0.1.0"
