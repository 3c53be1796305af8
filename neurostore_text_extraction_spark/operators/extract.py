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
  carries its ``partition_id`` (TaskContext) and amortized ``wall_us``.
  Given a :func:`lineage_accumulator`, each extraction task also adds
  one record per partition (rows, errors, html bytes, wall time) as it
  finishes, so lineage is a by-product of the extraction job rather than
  a second pass over its output; :func:`lineage_from_extracted` turns
  the records into one lineage row per partition on the driver.
"""

from __future__ import annotations

import functools
import hashlib
import time
from datetime import datetime, timezone

from py4j.protocol import Py4JError
from pyspark import TaskContext
from pyspark.accumulators import Accumulator, AccumulatorParam
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


class _LineageParam(AccumulatorParam):
    """Merges ``{partition_id: (rows, errors, html_bytes, wall_us)}``
    dicts. A later record for a partition replaces the earlier one, so a
    re-sent update of a re-run task adds nothing."""

    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        value1.update(value2)
        return value1


def lineage_accumulator(spark) -> Accumulator:
    """A fresh accumulator for :func:`extract_pages`'s per-partition
    lineage records."""
    return spark.sparkContext.accumulator({}, _LineageParam())


def _extract_batches(batches, lineage: Accumulator | None = None):
    """mapInArrow kernel: consumes pyarrow RecordBatches directly —
    avoids the pandas conversion of the heavy ``html`` binary column
    (measured: pandas round-trip of a 300MB batch stream costs 2-4x the
    zero-copy Arrow path).

    With ``lineage``, adds one record for the task's partition once its
    input is exhausted: rows, error rows, html bytes and the sum of the
    rows' ``wall_us``. A task that saw no rows adds nothing."""
    import pyarrow as pa

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    schema = _arrow_out_schema()
    rows = n_errors = n_bytes = wall_us = 0
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
        rows += n
        n_errors += n - errors.count(None)
        n_bytes += sum(nbytes)
        wall_us += per_row * n
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
    if lineage is not None and rows:
        lineage += {pid: (rows, n_errors, n_bytes, wall_us)}


def extract_pages(
    pages: DataFrame,
    num_partitions: int | None = None,
    salt: bool = True,
    lineage: Accumulator | None = None,
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

    ``lineage`` (a :func:`lineage_accumulator`) collects one record per
    non-empty partition from the job that runs the extraction. A record
    is added each time a task's update is applied, so the caller must
    know how often that happens in the stage that runs the extraction
    (see :func:`plans.pipeline.run_extraction`).
    """
    cols = pages.select("url", "warc_ts", "html", "lang")
    if salt:
        cols = salt_by_url(cols, num_partitions)
    fn = _extract_batches
    if lineage is not None:
        fn = functools.partial(_extract_batches, lineage=lineage)
    return cols.mapInArrow(fn, EXTRACTED_SCHEMA)


def lineage_from_extracted(records: dict, run_id: str):
    """One lineage row per partition (north rule: partition id, input
    count, error count, bytes, wall time) from a
    :func:`lineage_accumulator`'s records, as a pyarrow table typed by
    ``LINEAGE_SCHEMA``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    now = datetime.now(timezone.utc).isoformat()
    pids = sorted(records)
    rows, errors, nbytes, wall_us = zip(*map(records.get, pids)) if pids else ((),) * 4
    return pa.Table.from_pydict(
        {
            "run_id": [run_id] * len(pids),
            "partition_id": pids,
            "input_count": rows,
            "error_count": errors,
            "bytes": nbytes,
            "wall_ms": [w / 1000.0 for w in wall_us],
            "date": [now] * len(pids),
        },
        schema=to_arrow_schema(LINEAGE_SCHEMA),
    )
