"""Core data model: the ``records`` table.

Spark mapping of the reference's Record protobuf (reference:
reductstore/src/proto/storage.proto:25-44):

    bucket          string      -- namespace
    entry           string      -- time-series name, may be nested ("cam1/front")
    ts              long        -- UNIX µs; the record ID within an entry
    payload         binary      -- opaque blob
    content_type    string
    state           int         -- 0 STARTED, 1 FINISHED, 2 ERRORED, 3 INVALID
    labels          map<string,string>
    computed_labels map<string,string>  -- extension outputs (@label refs)

Physically: Parquet partitioned by (entry, ts_day).  Parquet row-group
min/max stats on ``ts`` replace the reference's BlockIndex for pruning
(storage.proto:79-99); partitioning on a derived day bucket gives
partition pruning for time-range queries at 100 TB scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

STATE_STARTED, STATE_FINISHED, STATE_ERRORED, STATE_INVALID = 0, 1, 2, 3

RECORDS_SCHEMA = StructType([
    StructField("bucket", StringType(), False),
    StructField("entry", StringType(), False),
    StructField("ts", LongType(), False),
    StructField("payload", BinaryType(), True),
    StructField("content_type", StringType(), True),
    StructField("state", IntegerType(), False),
    StructField("labels", MapType(StringType(), StringType()), False),
    StructField("computed_labels", MapType(StringType(), StringType()), False),
])

US_PER_DAY = 86_400_000_000


def with_partition_cols(df: DataFrame) -> DataFrame:
    """Add the derived day-bucket partition column used by the store layout."""
    return df.withColumn("ts_day", (F.col("ts") / F.lit(US_PER_DAY)).cast("long"))


def raw_ts_us(df: DataFrame, col: str = "ts"):
    """Column expression converting a source timestamp column to epoch µs
    (long), whatever its physical type:

    * long            -- UNIX ns (parquet TIMESTAMP(NANOS) read under
                         ``nanosAsLong``); integer DIV keeps exactness —
                         double division would lose precision at 1e18
    * timestamp[_ntz] -- ``unix_micros`` after an NTZ→LTZ cast that is the
                         identity because the engine pins the session
                         timezone to UTC (prep/session), matching DuckDB's
                         ``epoch_us`` on naive timestamps
    """
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return F.expr(f"{col} DIV 1000")
    return F.unix_micros(F.col(col).cast("timestamp"))


def raw_ts_literal(df: DataFrame, us: int, col: str = "ts"):
    """Literal comparable against the RAW source timestamp column (so the
    predicate constant-folds and reaches the Parquet scan as row-group
    pruning on the physical column)."""
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return F.lit(int(us) * 1000)
    return F.timestamp_micros(F.lit(int(us))).cast(dt)


def events_as_records(spark: SparkSession, sf_dir: str,
                      start_us=None, stop_us=None) -> DataFrame:
    """Map the driver's ``events`` table into the records model.

    entry  <- event_type   (one time series per type)
    ts     <- epoch µs of the event timestamp
    labels <- user / value / k (from props JSON) / big (sparse: only when
              value > 100, exercising $exists and missing-label paths)
    state  <- FINISHED

    ``start_us``/``stop_us`` push the time range onto the RAW source
    column *before* the µs derivation — a filter on the derived epoch
    column cannot reach the Parquet scan (no row-group pruning), but on
    the raw column it does.  The RecordStore path doesn't need this: its
    ``ts`` is physical.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if start_us is not None:
        ev = ev.where(F.col("ts") >= raw_ts_literal(ev, start_us))
    if stop_us is not None:
        ev = ev.where(F.col("ts") < raw_ts_literal(ev, stop_us))
    ts_sql = ("ts DIV 1000" if isinstance(ev.schema["ts"].dataType, LongType)
              else "unix_micros(CAST(ts AS TIMESTAMP))")
    # one selectExpr call instead of ~40 py4j Column constructions — this
    # projection is rebuilt for every `when` query invocation (r10)
    return ev.selectExpr(
        "'events' AS bucket",
        "event_type AS entry",
        f"({ts_sql}) AS ts",
        "CAST(NULL AS BINARY) AS payload",
        "'application/json' AS content_type",
        f"{STATE_FINISHED} AS state",
        "map_filter(map("
        "'user', CAST(user_id AS STRING), "
        "'value', CAST(value AS STRING), "
        "'k', get_json_object(props, '$.k'), "
        "'big', CASE WHEN value > CAST(100.0 AS DOUBLE) THEN 'true' END"
        "), (k, v) -> v IS NOT NULL) AS labels",
        "CAST(NULL AS MAP<STRING, STRING>) AS computed_labels",
        # raw source columns kept so conditions can compile against
        # them directly (events_label_columns) instead of re-building
        # the labels map per reference
        "user_id", "value", "props",
    )


def events_label_columns():
    """Virtual-label expressions for the events mapping — must mirror the
    labels map construction above exactly (absent => null).  Returned as
    SQL TEXT, the only form ``label_columns`` accepts: the Column tiers
    wrap it lazily (``fastcols.FlatCompiler._lc``), and the
    expression-string tier consumes the text directly — constructing
    this dict is ZERO py4j round-trips per `when` query invocation."""
    return {
        "user": "CAST(user_id AS STRING)",
        "value": "CAST(value AS STRING)",
        "k": "get_json_object(props, '$.k')",
        "big": "CASE WHEN value > CAST(100.0 AS DOUBLE) THEN 'true' END",
    }
