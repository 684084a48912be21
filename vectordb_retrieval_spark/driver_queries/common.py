"""Shared helpers for the driver query catalogue."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

K = 10
QUERY_FILTER = "vec_id % 10 = 0"


# scan partition counts per (path, parallelism): the count is a pure
# function of the file layout and session conf, but reading it costs a
# DataFrame→RDD plan conversion in the driver on EVERY catalogue-query
# construction — memoized since r13
_SCAN_NPARTS: dict = {}

# inferred parquet schemas per (path, mtime, size): a bare
# ``spark.read.parquet(path)`` runs a 1-task footer-inference JOB per
# call, and the catalogue pays it once per table reference per query
# invocation (the r14 job breakdown showed it as the first 1-task job
# of every headline query).  The schema is a pure function of the
# files, so infer once per version of the path and hand it to the
# reader explicitly afterwards — schema metadata only, never data
# (every invocation still scans the parquet).  A rewrite of the path
# changes its mtime and so re-infers; a path ``os.stat`` cannot see
# (a remote filesystem) keys on the path alone.
_SCHEMA_MEMO: dict = {}


def read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (path, None, None)
    s = _SCHEMA_MEMO.get(key)
    if s is None:
        s = spark.read.parquet(path).schema
        _SCHEMA_MEMO[key] = s
    return spark.read.schema(s).parquet(path)


def _spread(df: DataFrame, memo_key=None) -> DataFrame:
    """Repartition a scan UP to the session's parallelism when the file
    layout gives fewer partitions than cores (a small local file is one
    row-group → one task, serializing every downstream expression and
    Arrow kernel).  At cluster scale the scan already has ≥ cores
    partitions and this is a no-op — never a down-shuffle of a big scan."""
    p = df.sparkSession.sparkContext.defaultParallelism
    key = (memo_key, p) if memo_key is not None else None
    n = _SCAN_NPARTS.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            _SCAN_NPARTS[key] = n
    if n < p:
        return df.repartition(p)
    return df


def emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/embeddings.parquet"
    return _spread(read_parquet_cached_schema(spark, path), memo_key=path)


def emb_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalogue's serving query batch (QUERY_FILTER) off the RAW
    embeddings scan, NOT the ``_spread`` frame: every consumer collects
    or broadcasts this frame driver-side (query_broadcast_cached /
    collect_or_chunk / an explicit broadcast-join build), so routing it
    through the up-partition exchange adds an AQE stage job per collect
    — at any scale — for zero kernel benefit; off the raw scan the
    filter pushes into the parquet read and the collect is one job
    (r14).  Same rows as ``emb(...).filter(QUERY_FILTER)``, and search
    results depend only on the batch's rows, never its partitioning."""
    return read_parquet_cached_schema(
        spark, f"{sf_dir}/embeddings.parquet"
    ).filter(F.expr(QUERY_FILTER))


def docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/documents.parquet"
    return _spread(read_parquet_cached_schema(spark, path), memo_key=path)


# events.parquet has stored ts as parquet TIMESTAMP(NANOS) in some data
# generations (which Spark's schema inference rejects with
# PARQUET_TYPE_ILLEGAL unless spark.sql.legacy.parquet.nanosAsLong is
# set — the driver's session may not have it) and TIMESTAMP(MICROS) in
# others.  An explicit schema skips footer inference entirely and reads
# the physical INT64; the stored unit is detected from the parquet
# footer (driver-side metadata read, no job) and normalized so ``ts``
# is ALWAYS epoch-nanos regardless of how the file was written.
EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)

_TS_UNIT_FACTOR = {"ns": 1, "us": 1_000, "ms": 1_000_000, "s": 1_000_000_000}


def _events_ts_nanos_factor(path: str) -> int:
    import os
    import warnings

    try:
        import pyarrow.parquet as pq
    except ImportError:
        warnings.warn(
            "pyarrow unavailable; assuming events.ts is stored in nanos — "
            "a micros-unit file would come out 1000x wrong"
        )
        return 1
    # Spark-written events tables are directories of part files; the
    # unit is uniform across parts, so probing one footer suffices
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not parts:
            warnings.warn(
                f"no parquet part files under {path}; assuming nanos ts"
            )
            return 1
        path = os.path.join(path, parts[0])
    field = pq.ParquetFile(path).schema_arrow.field("ts")
    unit = getattr(field.type, "unit", None)
    if unit is None:
        # physical INT64 with no timestamp annotation: the generator's
        # raw-nanos representation
        return 1
    return _TS_UNIT_FACTOR[unit]


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/events.parquet"
    factor = _events_ts_nanos_factor(path)
    df = spark.read.schema(EVENTS_SCHEMA).parquet(path)
    if factor != 1:
        df = df.withColumn("ts", F.col("ts") * F.lit(factor))
    return df


def round6(df: DataFrame) -> DataFrame:
    """Round every double column to 6 dp (both engines round identically
    on values not adjacent to a rounding boundary)."""
    return df.select(
        *[
            F.round(F.col(f.name), 6).alias(f.name)
            if isinstance(f.dataType, (T.DoubleType, T.FloatType))
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def sql_float_list(vals) -> str:
    """A DuckDB DOUBLE[] literal that parses to the exact float64s."""
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"
