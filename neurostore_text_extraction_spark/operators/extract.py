"""The extraction stage: pages → extracted(text, spans) as a single
Arrow-batched ``mapInArrow`` pass with url-hash salting, per-row fault
isolation, and lineage instrumentation.

Scale design (the part that matters at 100 TB / 10^12 docs):

- **Salting** (north rule): Common-Crawl domains are Zipf-skewed — a
  naive partition-by-domain would straggle. We ``repartition(n,
  xxhash64(url))`` so pages scatter uniformly regardless of domain.
  This is one full shuffle of the html payload; it is worth it because
  the extract UDF dominates wall time and stragglers would otherwise
  set the critical path. Payload sizes are heavy-tailed too, so the
  shuffle also breaks up accidental fat-file partition locality from
  the scan. The partition count ``n`` is whole waves of task slots,
  sized from the input's byte estimate and capped at
  ``spark.sql.shuffle.partitions`` (:func:`salt_partitions`), so AQE
  cannot coalesce the exchange into a task count that leaves a wave
  part-empty.
- **Arrow batching**: ``spark.sql.execution.arrow.maxRecordsPerBatch``
  is capped (session.py) so one multi-MB page cannot blow a batch.
- **Fault isolation** (reference behavior, ``ns_extract/pipelines/
  base.py:740-750``: failed study logged, run continues): per-row
  try/except inside the batch loop; failures emit ``error`` rows so a
  single corrupt page cannot kill a trillion-doc job.
- **Lineage** (north rule; generalizes info.json,
  ``ns_extract/pipelines/data_structures.py:48-56``): each output row
  carries its ``partition_id`` (TaskContext) and amortized ``wall_us``;
  :func:`lineage_from_extracted` rolls them up to one row per
  partition.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from py4j.protocol import Py4JError
from pyspark import TaskContext
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, functions as F

from ..functions.html_extract import extract_document
from ..schemas import EXTRACTED_SCHEMA, LINEAGE_SCHEMA


def salt_partitions(
    est_bytes: int | None, slots: int, split_bytes: int, max_partitions: int
) -> int | None:
    """Partition count for the salt exchange: whole waves of ``slots``
    tasks, each reading about ``split_bytes`` of input or less, but
    never more partitions than ``max_partitions`` rounded down to whole
    waves (and never less than one wave).

    ``slots × clamp(ceil(est_bytes / (slots × split_bytes)), 1,
    max_partitions // slots)``, or None when the size is unknown."""
    if est_bytes is None or est_bytes <= 0:
        return None
    waves = -(-est_bytes // (slots * split_bytes))
    return slots * max(1, min(waves, max_partitions // slots))


def _estimated_salt_partitions(df: DataFrame) -> int | None:
    """:func:`salt_partitions` for ``df`` from driver-side metadata only:
    the optimized plan's ``sizeInBytes``, ``defaultParallelism``,
    ``spark.sql.files.maxPartitionBytes`` and
    ``spark.sql.shuffle.partitions``. No Spark job runs."""
    try:
        spark = df.sparkSession
        conf = spark._jsparkSession.sessionState().conf()
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        return salt_partitions(
            # Spark's estimate for a plan it cannot size
            None if est >= conf.defaultSizeInBytes() else est,
            spark.sparkContext.defaultParallelism,
            conf.filesMaxPartitionBytes(),
            conf.numShufflePartitions(),
        )
    except (AttributeError, Py4JError, CapturedException):
        return None  # no JVM plan (Spark Connect) or no statistics


def salt_by_url(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Explicit skew-defeating repartition on url-hash (north rule).

    ``xxhash64`` is a JVM-side built-in — no Python hop. Uniform in the
    url, so Zipf-skewed domains spread evenly across partitions.

    With ``num_partitions=None`` the count comes from
    :func:`salt_partitions` over the input's size estimate: whole waves
    of ``defaultParallelism`` tasks. A repartition to an explicit count
    is one AQE never coalesces, so no wave runs part-empty (on 1,500
    pages and 4 slots AQE coalesced the count-less repartition's 8
    shuffle partitions into 5 uneven tasks: two waves, the fifth task
    alone). The count is capped at ``spark.sql.shuffle.partitions``
    rounded down to whole waves, the count the count-less repartition
    starts from, so a large input never gets more shuffle partitions
    than before; past the cap a task reads more than
    ``maxPartitionBytes``. Size estimates are upper bounds: the
    anti-join of a resume run is sized as its whole left side, so a
    resume with little left to do can get up to the cap in small
    tasks. An input with no usable estimate keeps the count-less
    repartition.
    """
    if not num_partitions:
        num_partitions = _estimated_salt_partitions(df)
    if num_partitions:
        return df.repartition(num_partitions, F.xxhash64(F.col("url")))
    return df.repartition(F.xxhash64(F.col("url")))


_ARROW_OUT = None  # lazily built pyarrow schema matching EXTRACTED_SCHEMA


def _arrow_out_schema():
    global _ARROW_OUT
    if _ARROW_OUT is None:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        _ARROW_OUT = to_arrow_schema(EXTRACTED_SCHEMA)
    return _ARROW_OUT


def _extract_batches(batches):
    """mapInArrow kernel: consumes pyarrow RecordBatches directly —
    avoids the pandas conversion of the heavy ``html`` binary column
    (measured: pandas round-trip of a 300MB batch stream costs 2-4x the
    zero-copy Arrow path)."""
    import pyarrow as pa

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    schema = _arrow_out_schema()
    for rb in batches:
        t0 = time.perf_counter()
        n = rb.num_rows
        urls = rb.column(rb.schema.get_field_index("url"))
        ts = rb.column(rb.schema.get_field_index("warc_ts"))
        htmls = rb.column(rb.schema.get_field_index("html"))
        langs = rb.column(rb.schema.get_field_index("lang"))
        lang_list = langs.to_pylist()
        texts: list = []
        spans_col: list = []
        kinds: list = []
        errors: list = []
        md5s: list = []
        nbytes: list = []
        for html, lang in zip(htmls.to_pylist(), lang_list):
            if html is None:
                texts.append(None)
                spans_col.append(None)
                kinds.append("error")
                errors.append("null html payload")
                md5s.append(None)
                nbytes.append(0)
                continue
            if isinstance(html, str):
                # schema-violating caller (string column where the
                # contract is binary): coerce instead of aborting the
                # job — row-level fault isolation extends to this
                html = html.encode("utf-8", errors="replace")
            nbytes.append(len(html))
            md5s.append(hashlib.md5(html).hexdigest())
            try:
                text, spans, kind = extract_document(html, lang)
                texts.append(text)
                spans_col.append(
                    [
                        {"start": int(s), "end": int(e), "kind": k}
                        for s, e, k in spans
                    ]
                )
                kinds.append(kind)
                errors.append(None)
            except Exception as exc:  # row-level fault isolation
                texts.append(None)
                spans_col.append(None)
                kinds.append("error")
                errors.append(f"{type(exc).__name__}: {exc}")
        per_row = int((time.perf_counter() - t0) * 1e6) // max(n, 1)
        yield pa.RecordBatch.from_arrays(
            [
                urls.cast(schema.field("url").type),
                ts.cast(schema.field("warc_ts").type),
                pa.array(lang_list, type=pa.string()),
                pa.array(kinds, type=pa.string()),
                pa.array(texts, type=pa.string()),
                pa.array(spans_col, type=schema.field("spans").type),
                pa.array(errors, type=pa.string()),
                pa.array(md5s, type=pa.string()),
                pa.array(nbytes, type=pa.int64()),
                pa.array([pid] * n, type=pa.int32()),
                pa.array([per_row] * n, type=pa.int64()),
            ],
            schema=schema,
        )


def extract_pages(
    pages: DataFrame,
    num_partitions: int | None = None,
    salt: bool = True,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → EXTRACTED_SCHEMA rows.

    One Arrow-batched Python hop; everything before and after stays
    JVM-side. Column pruning: only the four needed columns cross into
    Python (html is the heavy one and is consumed here).

    Skew handling (north rule): ``salt=True`` repartitions on
    ``xxhash64(url)`` before the UDF — required whenever the upstream
    partitioning is row-clustered by domain (e.g. after a join, or
    domain-sorted files), where Zipf-skewed domains would straggle.
    For direct parquet/Iceberg scans the byte-based input splits
    (``spark.sql.files.maxPartitionBytes``, session.py) already bound
    every partition's byte load, so callers may pass ``salt=False`` to
    skip shuffling the payload. That saved nothing on the benchmark's
    1,500 pages in 6 domain-clustered files at 4 cores (traced
    ``extract_fresh``, seed 7): salting made extraction 0.23 s faster
    (``salt.s`` = -0.23 s), since the 6 scan splits run as two uneven
    waves and the salted extraction as one. At 10^12-doc
    scale the default stays True: corpus layout is not guaranteed, and
    correctness of load balance beats the one-pass saving unless the
    scan is known-balanced.
    """
    cols = pages.select("url", "warc_ts", "html", "lang")
    if salt:
        cols = salt_by_url(cols, num_partitions)
    return cols.mapInArrow(_extract_batches, EXTRACTED_SCHEMA)


def lineage_from_extracted(extracted: DataFrame, run_id: str) -> DataFrame:
    """Roll per-row instrumentation up to one lineage row per partition
    (north rule: partition id, input count, bytes, wall time)."""
    now = datetime.now(timezone.utc).isoformat()
    return (
        extracted.groupBy("partition_id")
        .agg(
            F.count("*").alias("input_count"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                "error_count"
            ),
            F.sum("n_html_bytes").alias("bytes"),
            (F.sum("wall_us") / 1000.0).alias("wall_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("partition_id"),
            F.col("input_count").cast("long"),
            F.col("error_count").cast("long"),
            F.col("bytes").cast("long"),
            F.col("wall_ms").cast("double"),
            F.lit(now).alias("date"),
        )
    )
