"""Loading and registering the synthetic star-schema test tables.

Mirrors the reference's in-memory table registration
(``simple_iceberg_exploration.py:314-318`` — ``con.register('comments',
df)``) with ``createOrReplaceTempView``; at production scale these are
Iceberg/Parquet tables and the reader below is the only place that
changes.

Like an Iceberg reader, which takes the schema from table metadata,
:func:`load_table` does not open a data file to learn the schema on
every read: :func:`table_schema` infers it once per file version and
keeps it in a process-wide dict. Only the ``StructType`` is kept —
never rows, a plan or a file listing — so every read still builds a
fresh relation and sees the file as it is when the action runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
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
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Session confs that change what Parquet schema inference returns for
#: the same file; their values are part of the :data:`_SCHEMAS` key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: (qualified path, length, modification time, *inference conf values)
#: → inferred ``StructType``. Unlocked: two threads that miss at once
#: each run one inference and store equal values.
_SCHEMAS: dict[tuple, StructType] = {}


def ensure_events_read_conf(spark: SparkSession) -> None:
    """Session confs required to read ``events.parquet`` across fixture
    generations — NOTE: mutates two session-wide confs (ADVICE r5: the
    name now says "events read conf", not "nanos", because the TZ pin
    below is not nanos-specific).

    * ``nanosAsLong``: early testdata generations wrote events.ts as
      TIMESTAMP(NANOS), which a session without this conf fails to read
      (footer-schema conversion, PARQUET_TYPE_ILLEGAL). Current
      generations write plain micros, where the conf is a no-op — kept
      (runtime-settable, harmless) so the readers survive either
      generation.
    * ``session.timeZone = UTC``: pins the NTZ→LTZ cast in
      ``normalize_event_ts`` and epoch rendering host-TZ-independent.
      This changes timestamp/cast semantics for the WHOLE session, not
      just events reads, and is deliberately NOT restored afterwards
      (ADVICE r6): the DataFrame we return is lazy — the conf is read
      at *execution* time, so a restore-after-read contextmanager would
      silently undo the pin before the caller's action runs. Sessions
      built by :func:`session.get_spark` already set UTC at creation
      (``_SCALE_SAFE_CONF``), making this a no-op there; a caller
      handing us a foreign session they also use for non-UTC timestamp
      work must re-set the conf after their events actions complete.

    Every reader that touches the file — batch or streaming schema
    inference — calls this first rather than relying on session.py
    defaults: callers may hand us any SparkSession (the round driver
    builds a plain one) and each query must be self-sufficient even
    when it runs first in the session."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin the session timezone so the NTZ→LTZ cast in
    # normalize_event_ts and epoch rendering are host-TZ-independent
    # (identity on this UTC container; determinism elsewhere).
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Bring ``events.ts`` to plain TimestampType regardless of how the
    fixture generation encoded it:

    * ``bigint`` — TIMESTAMP(NANOS) surfaced as epoch-nanos by
      ``nanosAsLong``: integer-divide to micros (DIV, not ``/`` — no
      precision detour through double) and reinterpret as a UTC epoch.
    * ``timestamp_ntz`` — plain micros with ``isAdjustedToUTC=false``:
      cast to TimestampType (identity under the UTC session timezone
      every entry point pins) so downstream window/watermark/epoch
      arithmetic sees one type across generations.
    * ``timestamp`` — already the target type.

    Works on batch and streaming DataFrames alike (pure projection).
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _table_path(sf_dir: str, name: str) -> str:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The schema ``spark.read.parquet`` infers for one table file,
    inferred at most once per file version and session inference confs.

    The key is the Hadoop ``FileStatus`` identity — qualified path,
    length, modification time — so a rewrite at the same path misses,
    and the same call serves ``file://``, ``viewfs://`` or ``s3a://``.
    The values of :data:`_INFERENCE_CONFS` complete the key, so flipping
    e.g. ``binaryAsString`` re-infers. Reading events sets
    :func:`ensure_events_read_conf` first, as :func:`load_table` does.
    The returned object is shared by every caller: do not mutate it.
    """
    path = _table_path(sf_dir, name)
    if name == "events":
        ensure_events_read_conf(spark)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    status = jpath.getFileSystem(
        spark._jsc.hadoopConfiguration()
    ).getFileStatus(jpath)
    key = (
        status.getPath().toString(),
        status.getLen(),
        status.getModificationTime(),
        *(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table.

    The scan stays declarative: Catalyst pushes filters / prunes
    columns into the vectorized Parquet reader, so callers never
    pre-materialize. The schema comes from :func:`table_schema`, so
    only a table's first read per file version runs Spark's one-task
    schema-inference job. Each call still returns a new relation with
    its own attribute ids, so two loads of one table self-join.
    """
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(_table_path(sf_dir, name))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` queries."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
