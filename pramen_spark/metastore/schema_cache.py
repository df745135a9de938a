"""The parquet schema cache: one bounded map from a parquet path's data
files to the Spark schema of that path, shared by every parquet read of
the package (sources, metastore, catalog loaders).

Each metastore table is a series of immutable per-info-date partitions
that the metastore writes itself, so the schema of a partition is known
the moment it is written (``remember``). Inferring it again on a read
costs a Spark job (footer reads in ``mergeSchemasInParallel``): about
75 ms per inferred ``spark.read.parquet`` against about 16 ms with an
explicit schema (r15 floor probe, local mode). Metadata only: the data is always
scanned from the files when the plan executes.

The key is ``(absolute path, file fingerprint, inference confs, reader
options)``:

- the fingerprint is the sorted ``(relative path, size, mtime_ns)`` of
  the data files under the path (or of the file itself), skipping names
  that start with ``_`` or ``.`` as Spark does, so rewriting any part
  file in place invalidates the entry;
- the session confs that change what inference returns are part of the
  key, so an entry inferred under one value is never served under
  another;
- paths with a scheme other than ``file:`` (``s3a://``, ``hdfs://``, ...)
  and paths that do not exist locally (globs included) bypass the cache
  and infer as a plain read does. A path without a scheme is taken to be
  local, as the rest of the metastore does.

The runner shares one session across a thread pool, so the LRU sits
behind a lock. Inference runs outside the lock; two threads missing on
the same key both infer and store the same schema. Cached ``StructType``
objects are shared: treat them as read-only.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import Mapping, Optional, Tuple
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: entries kept; one per (path, fingerprint, confs, options) seen
CAPACITY = 256

#: session confs that change the schema parquet inference returns
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)


class SchemaCache:
    """Thread-safe LRU map from a key to a ``StructType``, at most
    ``capacity`` entries."""

    def __init__(self, capacity: int = CAPACITY):
        self.capacity = capacity
        self._entries: "OrderedDict[tuple, T.StructType]" = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        with self._lock:
            return len(self._entries)

    def get(self, key: tuple) -> Optional[T.StructType]:
        with self._lock:
            schema = self._entries.get(key)
            if schema is not None:
                self._entries.move_to_end(key)
            return schema

    def put(self, key: tuple, schema: T.StructType) -> None:
        with self._lock:
            self._entries[key] = schema
            self._entries.move_to_end(key)
            while len(self._entries) > self.capacity:
                self._entries.popitem(last=False)


SCHEMAS = SchemaCache()


def _local_path(path: str) -> Optional[str]:
    """Absolute local path, or None for a path on another file system."""
    url = urlparse(path)
    if url.scheme == "file":
        return os.path.abspath(url.path)
    if url.scheme:
        return None
    return os.path.abspath(path)


def fingerprint(path: str) -> Optional[Tuple[Tuple[str, int, int], ...]]:
    """Sorted ``(relative path, size, mtime_ns)`` of the data files under
    ``path``, or of ``path`` itself when it is a file; None when it does
    not exist or changes while it is listed."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        if not os.path.isdir(path):
            return None
        files = []
        for root, dirs, names in os.walk(path, onerror=_raise):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for name in names:
                if not name.startswith(("_", ".")):
                    full = os.path.join(root, name)
                    st = os.stat(full)
                    files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(files))
    except OSError:
        return None


def _raise(err: OSError) -> None:
    raise err


def cache_key(spark: SparkSession, path: str, options: Mapping[str, str]) -> Optional[tuple]:
    """The cache key of a read of ``path``, or None when it bypasses the
    cache."""
    local = _local_path(path)
    files = fingerprint(local) if local is not None else None
    if not files:
        return None
    confs = tuple(spark.conf.get(k) for k in INFERENCE_CONFS)
    return (local, files, confs, tuple(sorted((k, str(v)) for k, v in options.items())))


def parquet_schema(
    spark: SparkSession, path: str, options: Optional[Mapping[str, str]] = None
) -> T.StructType:
    """The schema ``spark.read.options(**options).parquet(path)`` infers,
    from the cache when the files and confs are unchanged."""
    options = dict(options or {})
    key = cache_key(spark, path, options)
    schema = SCHEMAS.get(key) if key is not None else None
    if schema is None:
        schema = spark.read.options(**options).parquet(path).schema
        if key is not None:
            SCHEMAS.put(key, schema)
    return schema


def read_parquet(
    spark: SparkSession, path: str, options: Optional[Mapping[str, str]] = None
) -> DataFrame:
    """``spark.read.options(**options).parquet(path)`` with the schema from
    the cache: no inference job when the schema is known."""
    options = dict(options or {})
    schema = parquet_schema(spark, path, options)
    return spark.read.options(**options).schema(schema).parquet(path)


def load_with_schema(
    spark: SparkSession, data_format: str, path: str, schema: T.StructType
) -> DataFrame:
    """Load a dataset that this package writes with the fixed ``schema``:
    parquet is read with it, so no inference job runs; Delta keeps its
    schema in its log and takes none at read time. Raises as ``load``
    does when the dataset does not exist."""
    reader = spark.read.format(data_format)
    if data_format == "parquet":
        reader = reader.schema(schema)
    return reader.load(path)


def as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable, as Spark reads
    back a parquet file (Scala's ``DataType.asNullable``)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(as_nullable(dt.keyType), as_nullable(dt.valueType), True)
    return dt


def remember(spark: SparkSession, path: str, written: T.StructType) -> None:
    """Store the schema of parquet files just written to ``path`` with
    ``written`` as the DataFrame schema, so the next plain read of
    ``path`` infers nothing. Call it only when the files under ``path``
    all come from that one write (an overwrite)."""
    key = cache_key(spark, path, {})
    if key is not None:
        SCHEMAS.put(key, as_nullable(written))
