"""Parquet source (≈ Readers/CodercatParquetRowReader.php, Spark-first).

The reference streams rows out of ONE local file with a duck-typed
PHP reader (rows()/columns(), schema from footer or first row's keys
— CodercatParquetRowReader.php:17-47). Spark's vectorized reader
subsumes all of that: footer-driven TYPED schema, row-group-aligned
splits, predicate pushdown, and it accepts directories and globs —
which is what makes the same API meaningful at 100 TB (a path is a
dataset, not a file).

Like the reference, which reads a file's footer once per import,
every batch Parquet read in the package goes through ``read_parquet``:
a local path's footer schema is inferred once (on Spark 4 each
inference is a whole Spark job) and reused until the files it names
or the confs that shape inference change.
"""

from __future__ import annotations

import glob as _glob
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from parquet_to_sql_spark.session import apply_runtime_confs, conf_pattern, conf_settings_text

# Confs that change what Spark infers from the same footers; a
# remembered schema is reused only while all of them are unchanged.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    # types of partition columns discovered from directory names
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

_CONF_PATTERNS = tuple(conf_pattern(k) for k in _INFERENCE_CONFS)

# session -> {absolute path: (file signature, inference confs, schema)}
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[tuple, tuple, StructType]]
] = weakref.WeakKeyDictionary()


def file_signature(path: str) -> tuple[tuple[str, int, int], ...]:
    """Sorted ``(file, size, mtime_ns)`` of every file a local path
    names: the file itself, every file under a directory, or every
    file a glob matches.  Empty when nothing matches."""
    files = []
    for root in _glob.glob(path):
        if os.path.isdir(root):
            for d, _, names in os.walk(root):
                files.extend(os.path.join(d, n) for n in names)
        else:
            files.append(root)
    sig = []
    for f in sorted(files):
        try:
            st = os.stat(f)
        except OSError:  # removed while listing: the signature differs anyway
            continue
        sig.append((f, st.st_size, st.st_mtime_ns))
    return tuple(sig)


def inference_confs(
    spark: SparkSession, conf_text: str | None = None
) -> tuple[str | None, ...]:
    """The values set for ``_INFERENCE_CONFS`` in this session, None
    where a conf is unset (so at its default), searched for each key
    in ``conf_text``: the session's conf map as
    ``session.conf_settings_text`` renders it, read here in ONE py4j
    round trip when the caller has none.  A conf set back to its
    default reads differently from an unset one, which costs at most
    one extra inference and never reuses a schema inferred under
    other values."""
    text = conf_settings_text(spark) if conf_text is None else conf_text
    return tuple(m.group(1) if (m := p.search(text)) else None for p in _CONF_PATTERNS)


def read_parquet(
    spark: SparkSession, path: str, conf_text: str | None = None
) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a local path's schema
    once per session.  Later reads of the same unchanged files, under
    the same inference confs, pass the remembered schema and skip
    Spark's footer-inference job.  ``conf_text`` is the session's conf
    map a caller has just read (``apply_runtime_confs`` returns it);
    without it the confs are read here.  Each call still builds a new
    DataFrame (fresh attribute IDs, its own file listing), so
    self-joins of two reads resolve as before.  URI paths
    (``s3a://``, ``hdfs://``, ...) and paths matching no local file
    are read exactly as ``spark.read.parquet`` reads them."""
    if "://" in path:
        return spark.read.parquet(path)
    sig = file_signature(path)
    if not sig:
        return spark.read.parquet(path)
    confs = inference_confs(spark, conf_text)
    # two threads missing at once both infer and store equal entries
    memo = _SCHEMAS.setdefault(spark, {})
    key = os.path.abspath(path)
    hit = memo.get(key)
    if hit is not None and hit[:2] == (sig, confs):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    memo[key] = (sig, confs, df.schema)
    return df


class ParquetSource:
    """Loads a Parquet path (file, directory, or glob) as a DataFrame.

    Path validation mirrors ParquetImporter.php:35-37 (nonexistent
    input fails fast with an explicit error) but generalizes "is_file"
    to "matches at least one file/directory".
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        if not self._exists(path):
            raise FileNotFoundError(f"Parquet path not found: {path}")

    @staticmethod
    def _exists(path: str) -> bool:
        # driver-local checks only make sense for local paths; a URI
        # scheme (s3a://, hdfs://, abfs://, ...) is delegated to
        # Spark's own filesystem — os.path would wrongly reject every
        # remote path the engine is built to read
        if "://" in path:
            return True
        return os.path.exists(path) or bool(_glob.glob(path))

    def load(self) -> DataFrame:
        return read_parquet(self.spark, self.path, apply_runtime_confs(self.spark))

    def columns(self) -> list[str]:
        """Ordered column names (≈ ParquetRowReader::columns()); from
        the footer schema, never from data rows."""
        cols = self.load().columns
        if not cols:
            raise RuntimeError(f"No columns discovered in {self.path}")
        return cols
