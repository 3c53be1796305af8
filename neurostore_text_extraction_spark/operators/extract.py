"""The extraction stage: pages → extracted(text, spans) as a single
Arrow-batched ``mapInArrow`` pass with url-hash salting, per-row fault
isolation, and lineage instrumentation; in a pipeline run the same pass
validates and writes the results files.

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
- **Results writer** (the Iceberg pattern: tasks write data files and
  report them, the driver commits exactly those): given a
  :class:`ResultsSink`, each extraction task streams its output through
  a pyarrow ``ParquetWriter`` into the run's staged directory, flags
  each row's validity itself (:func:`_valid`), and returns one summary
  row for its partition: rows, errors, html bytes, wall time and the
  files it wrote. The summary rows are the run's lineage and counts;
  :func:`lineage_from_extracted` turns them into lineage rows on the
  driver. No extracted row crosses back into the JVM.
"""

from __future__ import annotations

import functools
import hashlib
import os
import time
from dataclasses import dataclass
from datetime import datetime, timezone

from py4j.protocol import Py4JError
from pyspark import TaskContext
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..functions.html_extract import extract_document
from ..schemas import EXTRACTED_SCHEMA, LINEAGE_SCHEMA, RESULTS_SCHEMA
from .schemaproc import REQUIRED


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




def url_bucket(url: Column, buckets: int) -> Column:
    """The results bucket of a url, ``pmod(xxhash64(url), buckets)``:
    uniform in the url, so Zipf-skewed domains cannot make fat
    buckets."""
    return F.pmod(F.xxhash64(url), F.lit(buckets)).cast("int")


@dataclass(frozen=True)
class ResultsSink:
    """Where a results-writing :func:`extract_pages` puts its rows: the
    staged directory ``path``, which every executor must reach as a
    filesystem path; the run's ``config_hash`` and ``run_id``, which
    every row carries; and ``buckets``, to hive-partition the files on
    :func:`url_bucket`."""

    path: str
    config_hash: str
    run_id: str
    buckets: int | None = None


# What a results-writing extraction task returns: one row for its
# partition, with its lineage counts and the files it wrote (relative
# to the sink path).
WRITTEN_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("errors", T.LongType(), False),
        T.StructField("html_bytes", T.LongType(), False),
        T.StructField("wall_us", T.LongType(), False),
        T.StructField("files", T.ArrayType(T.StringType(), False), False),
    ]
)


def _required_fields(schema: T.StructType) -> tuple[str, ...]:
    """The top-level fields ``schema`` marks required. :func:`_valid`
    checks only those, where ``schemaproc.with_validity`` would also
    check nested ones, so a nested mark raises instead of letting the
    two rules drift apart."""

    def nested_mark(dtype: T.DataType) -> bool:
        if isinstance(dtype, T.ArrayType):
            return nested_mark(dtype.elementType)
        return isinstance(dtype, T.StructType) and any(
            (f.metadata or {}).get(REQUIRED) or nested_mark(f.dataType) for f in dtype.fields
        )

    nested = [f.name for f in schema.fields if nested_mark(f.dataType)]
    if nested:
        raise ValueError(f"fields {nested} mark nested fields required; _valid cannot check them")
    return tuple(f.name for f in schema.fields if (f.metadata or {}).get(REQUIRED))


_REQUIRED = _required_fields(EXTRACTED_SCHEMA)  # once per process, at import


@functools.cache
def _arrow_schemas():
    """EXTRACTED_SCHEMA, the results files' schema and WRITTEN_SCHEMA in
    pyarrow. The results files take RESULTS_SCHEMA with every top-level
    field nullable, as in the snapshots compaction writes with Spark: a
    row with a null required field is still written, flagged invalid."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    results = to_arrow_schema(RESULTS_SCHEMA)
    return (
        to_arrow_schema(EXTRACTED_SCHEMA),
        pa.schema([f.with_nullable(True) for f in results]),
        to_arrow_schema(WRITTEN_SCHEMA),
    )


def _extract_batch(rb, pid: int):
    """The kernel over one input batch: an EXTRACTED_SCHEMA batch with
    one row per page, in input order. Each row's ``wall_us`` is the
    batch's kernel time split evenly over its rows."""
    import pyarrow as pa

    schema = _arrow_schemas()[0]
    t0 = time.perf_counter()
    n = rb.num_rows
    urls = rb.column("url")
    ts = rb.column("warc_ts")
    langs = rb.column("lang")
    lang_list = langs.to_pylist()
    texts: list = []
    spans_col: list = []
    kinds: list = []
    errors: list = []
    md5s: list = []
    nbytes: list = []
    for html, lang in zip(rb.column("html").to_pylist(), lang_list):
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
                [{"start": int(s), "end": int(e), "kind": k} for s, e, k in spans]
            )
            kinds.append(kind)
            errors.append(None)
        except Exception as exc:  # row-level fault isolation
            texts.append(None)
            spans_col.append(None)
            kinds.append("error")
            errors.append(f"{type(exc).__name__}: {exc}")
    per_row = int((time.perf_counter() - t0) * 1e6) // max(n, 1)
    return pa.RecordBatch.from_arrays(
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


def _extract_batches(batches):
    """mapInArrow kernel: consumes pyarrow RecordBatches directly —
    avoids the pandas conversion of the heavy ``html`` binary column
    (measured: pandas round-trip of a 300MB batch stream costs 2-4x the
    zero-copy Arrow path)."""
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    for rb in batches:
        yield _extract_batch(rb, pid)


def _valid(out):
    """Per-row validity of an EXTRACTED_SCHEMA batch, the rule of
    ``schemaproc.with_validity(EXTRACTED_SCHEMA)`` and-ed with no kernel
    error and non-empty text: every required field is non-null,
    ``error`` is null, and ``text`` is non-null and not empty."""
    import pyarrow.compute as pc

    ok = pc.and_(
        pc.is_null(out.column("error")),
        pc.fill_null(pc.not_equal(out.column("text"), ""), False),
    )
    for name in _REQUIRED:
        ok = pc.and_(ok, pc.is_valid(out.column(name)))
    return ok


def _in_progress(path: str) -> str:
    head, tail = os.path.split(path)
    return os.path.join(head, "." + tail)


def _write_results(batches, sink: ResultsSink):
    """mapInArrow function of a results-writing :func:`extract_pages`.
    Extracts each input batch, adds ``valid``, ``config_hash`` and
    ``run_id``, and writes it to this task's parquet file under
    ``sink.path``: ``part-<partition>-<taskAttemptId>.parquet``, or one
    such file per bucket under ``url_bucket=<b>/`` with
    ``sink.buckets``. Then yields the partition's WRITTEN_SCHEMA row. A
    task that sees no rows writes and yields nothing.

    A file is written under its name with a leading dot, which readers
    skip, and renamed once closed. A failed attempt leaves that file
    behind; the driver keeps only the files the summary rows name.

    Each Arrow batch is written as one zstd row group (zstd is the
    session's parquet codec). Batches hold at most ``maxRecordsPerBatch``
    rows (256, session.py), so a task holds one batch plus one encoded
    row group per open file, whatever its partition's size."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ctx = TaskContext.get()
    pid = ctx.partitionId()
    name = f"part-{pid:05d}-{ctx.taskAttemptId()}.parquet"
    file_schema, summary_schema = _arrow_schemas()[1:]
    writers: dict[str, pq.ParquetWriter] = {}  # file, relative to sink.path

    def write(rel: str, batch) -> None:
        if rel not in writers:
            path = os.path.join(sink.path, rel)
            if os.path.dirname(rel):
                # mkdir, not makedirs: a straggling attempt must not
                # recreate a staged directory its run has removed
                try:
                    os.mkdir(os.path.dirname(path))
                except FileExistsError:
                    pass
            writers[rel] = pq.ParquetWriter(_in_progress(path), file_schema, compression="zstd")
        writers[rel].write_batch(batch)

    rows = errors = html_bytes = wall_us = 0
    try:
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            out = _extract_batch(rb, pid)
            res = pa.RecordBatch.from_arrays(
                out.columns
                + [
                    _valid(out),
                    pa.array([sink.config_hash] * n, pa.string()),
                    pa.array([sink.run_id] * n, pa.string()),
                ],
                schema=file_schema,
            )
            if sink.buckets:
                bucket = rb.column("url_bucket")
                for b in pc.unique(bucket).to_pylist():
                    write(f"url_bucket={b}/{name}", res.filter(pc.equal(bucket, b)))
            else:
                write(name, res)
            rows += n
            errors += n - out.column("error").null_count
            html_bytes += pc.sum(out.column("n_html_bytes")).as_py()
            wall_us += pc.sum(out.column("wall_us")).as_py()
    finally:
        for w in writers.values():
            w.close()
    if not rows:
        return
    for rel in writers:
        path = os.path.join(sink.path, rel)
        os.rename(_in_progress(path), path)
    yield pa.RecordBatch.from_pylist(
        [
            {
                "partition_id": pid,
                "rows": rows,
                "errors": errors,
                "html_bytes": html_bytes,
                "wall_us": wall_us,
                "files": list(writers),
            }
        ],
        schema=summary_schema,
    )


def extract_pages(
    pages: DataFrame,
    num_partitions: int | None = None,
    salt: bool = True,
    sink: ResultsSink | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → EXTRACTED_SCHEMA rows.

    One Arrow-batched Python hop; everything before it stays JVM-side.
    Column pruning: only the four needed columns cross into Python
    (html is the heavy one and is consumed here).

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

    With a ``sink`` the tasks write the results rows themselves
    (:func:`_write_results`) and the frame holds one WRITTEN_SCHEMA row
    per non-empty partition instead: nothing but those rows comes back
    from Python. With ``sink.buckets`` the hop also takes the url's
    :func:`url_bucket`, computed JVM-side, as an input column.
    """
    cols = pages.select("url", "warc_ts", "html", "lang")
    if sink is not None and sink.buckets:
        cols = cols.withColumn("url_bucket", url_bucket(F.col("url"), sink.buckets))
    if salt:
        cols = salt_by_url(cols, num_partitions)
    if sink is None:
        return cols.mapInArrow(_extract_batches, EXTRACTED_SCHEMA)
    return cols.mapInArrow(functools.partial(_write_results, sink=sink), WRITTEN_SCHEMA)


def lineage_from_extracted(records, run_id: str):
    """One lineage row per partition (north rule: partition id, input
    count, error count, bytes, wall time) from the WRITTEN_SCHEMA rows
    of a results-writing :func:`extract_pages`, as a pyarrow table
    typed by ``LINEAGE_SCHEMA``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    now = datetime.now(timezone.utc).isoformat()
    recs = sorted(records, key=lambda r: r["partition_id"])
    return pa.Table.from_pydict(
        {
            "run_id": [run_id] * len(recs),
            "partition_id": [r["partition_id"] for r in recs],
            "input_count": [r["rows"] for r in recs],
            "error_count": [r["errors"] for r in recs],
            "bytes": [r["html_bytes"] for r in recs],
            "wall_ms": [r["wall_us"] / 1000.0 for r in recs],
            "date": [now] * len(recs),
        },
        schema=to_arrow_schema(LINEAGE_SCHEMA),
    )
