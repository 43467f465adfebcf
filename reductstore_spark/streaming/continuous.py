"""Continuous (tailing) queries as Structured Streaming.

The reference's continuous query restarts the historical scan from
``last_ts + 1`` whenever it exhausts current data and never terminates
(reference: reductstore/src/storage/query/continuous.rs:16-84).  The
Spark-native equivalent is a file-source stream over the store layout:
checkpointed offsets give exactly-once restart-from-where-we-stopped for
free on an append-only ingest path.

Stateless `when` conditions compile to the same Column predicates as the
batch path.  The stateful operators ($each_t / $gate) need ordered
per-entry state across micro-batches — `run_stateful_continuous` wires
them through ``applyInPandasWithState`` with a per-entry carried
interpreter state.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..condition.ast import is_stateful
from ..condition.parser import parse_when
from ..plans.planner import _predicate
from ..schema import RECORDS_SCHEMA, STATE_FINISHED


def continuous_query(
    spark: SparkSession,
    store_root: str,
    when=None,
    entries: Optional[Sequence[str]] = None,
    start: Optional[int] = None,
    strict: bool = False,
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Build a streaming DataFrame over a RecordStore path with the same
    filter semantics as QueryEngine.query (minus final ordering — a
    stream has no total order; per-entry ts order is preserved by the
    writer within each batch)."""
    return versioned_stream(spark, store_root, when, entries, start, strict,
                            max_files_per_trigger).drop("__seq")


def versioned_stream(spark: SparkSession, store_root: str, when=None,
                     entries: Optional[Sequence[str]] = None,
                     start: Optional[int] = None, strict: bool = False,
                     max_files_per_trigger: int = 64) -> DataFrame:
    """``continuous_query`` plus each row's store write sequence
    ``__seq``: one micro-batch may carry several versions of a record
    (a rewritten partition and a belated duplicate), and ``__seq`` is
    the only record of which one the source considers newest."""
    reader = (
        spark.readStream
        .schema(_store_schema())
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(store_root)
    )
    df = reader.drop("ts_day")
    if entries is not None:
        # compile the glob to a JVM predicate (same as the batch path):
        # no driver round-trip at registration, and entries that first
        # appear AFTER the stream starts are matched as their files
        # arrive — strictly better than the reference, which resolves
        # the entry list once when the query is registered
        from ..operators.glob import patterns_to_column
        df = df.where(patterns_to_column(list(entries), F.col("entry")))
    else:
        df = df.where(~F.col("entry").rlike(r"(^|/)\$"))
    if start is not None:
        df = df.where(F.col("ts") >= F.lit(int(start)))
    df = df.where(F.col("state") == F.lit(STATE_FINISHED))
    if when is not None:
        node, directives = parse_when(when)
        if is_stateful(node):
            raise NotImplementedError(
                "stateful operators on continuous queries: use "
                "stateful_stream")
        if "#ctx_before" in directives or "#ctx_after" in directives:
            # ctx buffers span micro-batch boundaries — cross-batch
            # state, which the grouped-state path provides
            raise NotImplementedError(
                "ctx paddings on continuous queries: use stateful_stream")
        if "#ext" in directives:
            # the batch path (query.py) applies the ext pipeline after
            # filtering; silently dropping it here would yield
            # untransformed rows under the same `when` — refuse instead
            raise NotImplementedError(
                "#ext pipelines on continuous queries: apply "
                "operators.ext.apply_ext_pipeline per micro-batch "
                "(foreachBatch) or use the batch query path")
        df = df.where(_predicate(df, node, strict))
        sel = directives.get("#select_labels")
        if sel is not None:
            from ..plans.planner import _select_labels
            df = _select_labels(df, directives)
    return df


def _store_schema():
    from pyspark.sql.types import LongType, StructField, StructType

    return StructType(
        list(RECORDS_SCHEMA.fields)
        + [StructField("__seq", LongType(), True),
           StructField("ts_day", LongType(), True)]
    )


def run_to_memory(stream_df: DataFrame, name: str, timeout: int = 120):
    """Drain all currently-available data into an in-memory sink
    (test/dev helper; production sinks use writeStream directly)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return q
