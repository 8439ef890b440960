"""Streaming ingestion (SURVEY.md §2.1 S1/S4/S5/S6 as Structured Streaming).

The reference topology — checkpointed directory-tailing source → durable
file channel → transactional bulk sink (/root/reference/conf/
flume-elasticsearch.conf:1-31) — maps onto Structured Streaming directly:

* S1 new-file discovery  -> ``spark.readStream`` file source (built in)
* S4 checkpointed resume -> ``option("checkpointLocation", ...)`` WAL
* S5 durable channel     -> micro-batch + WAL (no separate queue needed)
* B1/B2 micro-batching   -> ``maxFilesPerTrigger`` / trigger intervals
* S6 transactional sink  -> ``foreachBatch`` writing a staged chunk per
  batch + a lineage commit record *after* the durable write — the same
  at-least-once + idempotent-overwrite contract the ES ``setId`` upsert
  gave the reference (ElasticsearchSink.java:67), here made exactly-once
  by deterministic chunk paths keyed on batch_id.

Each committed micro-batch is a staged chunk with a lineage record (the
unit plans/resume.py checkpoints), so "index the stream so far" is one
idempotent build over the committed chunks — the Lucene flush-then-merge
lifecycle (SURVEY §2.4 I5/I7) at the pipeline level.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.lineage import LineageLog
from ..sources.webpages import WEBPAGES_SCHEMA


def start_ingest(
    spark: SparkSession,
    input_dir: str,
    stage_dir: str,
    checkpoint_dir: str,
    schema: str = WEBPAGES_SCHEMA,
    max_files_per_trigger: int = 8,
    transform=None,
    available_now: bool = True,
):
    """File-source stream -> transformed -> staged chunks with lineage.

    ``transform``: optional fn(DataFrame) -> DataFrame applied per batch
    (e.g. extract/classify/quality columns). Returns the StreamingQuery.
    """
    log = LineageLog(os.path.join(stage_dir, "lineage"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        chunk_id = f"b{batch_id:08d}"
        path = f"{stage_dir}/docs/chunk={chunk_id}"
        out.write.mode("overwrite").parquet(path)  # idempotent on batch replay
        n = spark.read.parquet(path).count()
        log.commit(chunk_id, fingerprint=f"batch:{batch_id}", n_docs=n)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def staged_docs(
    spark: SparkSession, stage_dir: str, schema: str = WEBPAGES_SCHEMA
) -> DataFrame:
    """All committed chunks as one DataFrame (uncommitted chunks — crash
    between write and lineage commit — are excluded, mirroring manifest
    gating I7).

    ``schema`` is the POST-transform schema used only for the empty case
    (no committed chunks yet): pass it when ``start_ingest``'s transform
    adds columns, so the empty and non-empty paths agree."""
    log = LineageLog(os.path.join(stage_dir, "lineage"))
    done = sorted(log.load())
    paths = [f"{stage_dir}/docs/chunk={cid}" for cid in done]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*paths)


def ingest_metrics(stage_dir: str) -> dict[str, Any]:
    """M1/M2 counter analog: per-chunk rows + totals, same shape the Flume
    HTTP counters fed sankey.html (SURVEY §2.6 M3)."""
    log = LineageLog(os.path.join(stage_dir, "lineage"))
    recs = log.load()
    return {
        "chunks": len(recs),
        "docs": sum(int(r.get("n_docs", 0)) for r in recs.values()),
        "per_chunk": {k: r.get("n_docs") for k, r in sorted(recs.items())},
    }
