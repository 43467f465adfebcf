"""Replication: a standing filter on the write stream.

Mirrors the reference's TransactionFilter semantics (reference:
reductstore/src/replication/transaction_filter.rs:18-140, settings
reduct_base/src/msg/replication_api.rs:40-65):

* ``entries``: glob include/exclude patterns (empty = everything),
* ``when``: condition over labels — evaluated in strict mode inside the
  reference, but a failing condition only skips the record (errors are
  logged, not fatal) -> non-strict Column predicate here,
* ``dst_prefix``: prepended to destination entry names,
* ``dst_bucket``: destination rename,
* system ``$meta`` entries are never replicated.

Spark-native: Structured Streaming over the source store, filter +
rename transforms, ``foreachBatch`` appending into the destination
RecordStore (which handles upsert-by-timestamp).  The transaction log /
retry machinery of the reference maps to the stream's checkpoint.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..condition.parser import parse_when
from ..sources.store import RecordStore
from .continuous import versioned_stream


@dataclass
class ReplicationSettings:
    src_bucket: str
    dst_bucket: str
    entries: List[str] = field(default_factory=list)
    dst_prefix: str = ""
    when: Optional[dict] = None
    # transfer compression (reference: replication `compression` setting,
    # none|zstd|gzip via HTTP Content-Encoding) — here the batch lands
    # compressed with the corresponding parquet codec
    compression: str = "none"


def replication_stream(spark: SparkSession, src_root: str,
                       settings: ReplicationSettings,
                       exclude_entries: Optional[List[str]] = None) -> DataFrame:
    """The filtered/renamed stream of records to replicate, with each
    row's source write sequence ``__seq``.

    ``exclude_entries``: exact source entry names dropped from the
    stream regardless of the include patterns — used for the PR-1567
    feedback-loop guard (a ``$system``-source replication must not
    replicate its own per-batch diagnostics, or each batch's diagnostic
    record becomes new source data for the next)."""
    df = versioned_stream(
        spark, src_root,
        entries=settings.entries if settings.entries else None,
        when=settings.when,
    )
    df = df.where(F.col("bucket") == settings.src_bucket)
    if exclude_entries:
        df = df.where(~F.col("entry").isin(list(exclude_entries)))
    return df.withColumn(
        "bucket", F.lit(settings.dst_bucket)
    ).withColumn(
        "entry", F.concat(F.lit(settings.dst_prefix), F.col("entry"))
    )


def start_replication(spark: SparkSession, src_root: str, dst_root: str,
                      settings: ReplicationSettings, checkpoint: str,
                      available_now: bool = False, syslog=None,
                      name: str = "replication"):
    """Run the replication pipeline; returns the StreamingQuery.

    ``syslog``: optional SystemEventLog on the SOURCE store — per-batch
    replication diagnostics land under ``replications/<instance>/<name>``
    with status/records labels (the reference aggregates per status code
    on a flush window, PR-1417; here the micro-batch is the natural
    aggregation grain)."""
    dst = RecordStore(spark, dst_root)
    # PR-1567: when $system is the replication SOURCE, the task's own
    # per-batch diagnostics must not re-enter the stream (each batch's
    # diagnostic record would otherwise be fresh source data forever)
    exclude = None
    if syslog is not None:
        from ..sources.syslog import SYSTEM_BUCKET
        if settings.src_bucket == SYSTEM_BUCKET:
            exclude = [f"replications/{syslog.instance}/{name}"]
    stream = replication_stream(spark, src_root, settings,
                                exclude_entries=exclude)

    if settings.compression not in ("none", "zstd", "gzip"):
        raise ValueError(f"unknown compression '{settings.compression}'")

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # keep the source's newest version of each record: the replica
        # gives the whole batch one sequence number of its own
        newest = Window.partitionBy("bucket", "entry", "ts") \
            .orderBy(F.col("__seq").desc())
        batch_df = (batch_df.withColumn("__rn", F.row_number().over(newest))
                    .where(F.col("__rn") == 1).drop("__rn", "__seq"))
        n = batch_df.count()
        try:
            dst.write(batch_df, compression=settings.compression)
        except Exception as exc:
            if syslog is not None:
                ts = batch_df.agg(F.max("ts")).collect()[0][0] or 0
                syslog.emit([(f"replications/{syslog.instance}/{name}", ts,
                              {"status": "error", "message": str(exc),
                               "records": n, "batch": _batch_id})])
            raise
        if syslog is not None:
            ts = batch_df.agg(F.max("ts")).collect()[0][0] or 0
            syslog.emit([(f"replications/{syslog.instance}/{name}", ts,
                          {"status": "ok", "records": n,
                           "batch": _batch_id})])

    writer = (stream.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
