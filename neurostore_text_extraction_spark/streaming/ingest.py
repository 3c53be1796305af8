"""Structured Streaming ingestion (SURVEY.md §2.10: the reference is
batch-only; this is the optional micro-batch path — new page files →
the same extraction stage graph → catalog snapshots, via foreachBatch).

``readStream`` over a directory of pages parquet; each micro-batch runs
:func:`plans.pipeline.run_extraction`'s stage graph (resume anti-join
included, so replayed files are idempotent — exactly-once by dedup).
With ``availableNow=True`` this drains the backlog and stops: the batch
pipeline and the stream share one code path.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..plans.pipeline import run_extraction
from ..schemas import PAGES_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    store_root: str,
    checkpoint_dir: str,
    num_partitions: int | None = None,
    available_now: bool = True,
):
    """Start (and with available_now, run to completion) the streaming
    extraction. Returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        run_extraction(
            spark, batch_df, store_root, num_partitions=num_partitions
        )

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
