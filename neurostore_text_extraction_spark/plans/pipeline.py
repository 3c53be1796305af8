"""The end-to-end extraction pipeline (the reference's
``transform_dataset``, ``ns_extract/pipelines/base.py:121-234``,
re-expressed as one DataFrame job per SURVEY.md §3.2's mapping):

    pages → observe(input count)
          → left_anti(newest prior result) # O2 incremental / exact resume
          → repartition(xxhash64(url))     # skew salting (north rule)
          → mapInArrow(extract)            # Arrow-batched front-end,
                                           #   lineage records per task
          → validate → observe(rows, errors)
          → results staged                 # the one job that extracts
          → lineage, runs staged           # by the driver, no Spark job
          → rename lineage, runs, results  # results last: the commit

Job plan of a run: the results write runs the anti-join, extraction and
validation, fills both Observations and collects the lineage records in
the same job, so the run's counts and lineage cost no job. The anti-join
reads the results table with its schema (no footer job), pruned to url,
input_md5 and config_hash. The driver writes the lineage rows and the
runs row with pyarrow. On a fresh store the only Spark jobs are the
results write's salt exchange and write; the results rename is the
run's commit point.

Whole-run memoization (O1, ``base.py:157-162``): if nothing is left
after the anti-join, the results write produces no rows, nothing is
committed to any table, and the run returns early. Exact resume: resume
and ``read_results`` read only the results table, whose rename commits
the run after its lineage and runs rows. A run killed before that
rename is invisible to both and is redone in full by the next run; a
multi-snapshot history replays only missing urls. Results rows carry
their ``run_id``; the run's date is in its ``runs`` row.

``post_process="only"`` mode (``base.py:172-215``): replay a transform
over the persisted results table without re-extraction — see
:func:`replay_postprocess`.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators.extract import extract_pages, lineage_accumulator, lineage_from_extracted
from ..operators.incremental import config_hash, unprocessed
from ..operators.schemaproc import with_validity
from ..schemas import EXTRACTED_SCHEMA, RESULTS_SCHEMA, RUNS_SCHEMA
from ..sources.catalog import Catalog

EXTRACTOR_NAME = "main_content_extraction"
EXTRACTOR_VERSION = "1.1.0"  # versioned like the reference's _version (base.py:851)


@dataclass
class RunResult:
    run_id: str
    config_hash: str
    n_input: int  # pages given to the run
    n_processed: int  # pages left after the resume anti-join, i.e. written
    n_errors: int
    skipped: bool  # whole-run cache hit


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    store_root: str,
    kwargs: dict | None = None,
    num_partitions: int | None = None,
    resume: bool = True,
    auto_compact_after: int | None = 16,
    corpus_scoped: bool = False,
    salt: bool = True,
    partition_buckets: int | None = None,
) -> RunResult:
    """See module docstring. ``auto_compact_after``: once a table's
    snapshot history exceeds this many snapshots it is compacted to the
    latest row per key, keeping ``read_results``'s latest-pick (and the
    resume anti-join's right side) bounded at O(auto_compact_after)
    files per scan for arbitrarily long-lived pipelines. ``None``
    disables.

    ``partition_buckets=N`` writes the results table hive-partitioned
    on ``url_bucket = pmod(xxhash64(url), N)`` (north rule: results
    back to *partitioned* tables keyed on url-hash — uniform in the
    url, so Zipf-skewed domains cannot produce fat partitions). Point
    lookups via :func:`read_results_for_url` then prune all but one
    bucket directory at planning time. Use the same N for the lifetime
    of a store (the layout must stay consistent across snapshots).

    ``corpus_scoped=True`` folds the corpus identity (the commutative
    url-set digest, A5) into the run's cache key — the distributed form
    of the reference DependentPipeline's group-identity hash
    (``base.py:646-669``) and its ``-1``/``-2`` fresh-dir suffixing
    (``base.py:163-165``, ``utils.py:91-114``): the same config over a
    DIFFERENT corpus is a cache miss and recomputes into fresh results
    rows, while re-running the identical corpus still memoizes. Costs
    one column-pruned scan of the id column per run; default off — the
    per-(url, config) newest-md5 match already handles per-doc
    incrementality."""
    cat = Catalog(store_root)
    if corpus_scoped:
        from ..operators.incremental import corpus_hash_scalable

        digest = corpus_hash_scalable(pages, id_col="url").first()["corpus_sha256"]
        cfg = config_hash(EXTRACTOR_VERSION, {**(kwargs or {}), "_corpus": digest})
    else:
        cfg = config_hash(EXTRACTOR_VERSION, kwargs)
    run_id = uuid.uuid4().hex[:12]
    now = datetime.now(timezone.utc).isoformat()

    # Observations are filled by the first job over the observed frame:
    # the results write below. Attach them after any earlier action on
    # ``pages`` (the corpus digest above).
    inputs, outputs = Observation(), Observation()
    pages = pages.observe(inputs, F.count(F.lit(1)).alias("n"))
    # resume state: the results table, pruned to the resume key
    key = T.StructType([RESULTS_SCHEMA[c] for c in ("url", "input_md5", "config_hash")])
    prior = cat.read(spark, "results", schema=key) if resume else None
    todo = unprocessed(pages, prior, cfg)

    # ``salt`` is an execution detail (same rows either way), so it is
    # deliberately NOT part of the config hash — toggling it must not
    # invalidate the cache.
    #
    # Each extraction task adds its partition's lineage record to
    # ``lineage``. Without ``partition_buckets`` the extraction runs in
    # the results write's result stage, where Spark applies a successful
    # task's update exactly once. With ``partition_buckets`` it runs in
    # the bucket exchange's shuffle-map stage, where a re-run stage can
    # send a task's update again; records are keyed by partition id, so
    # the re-sent record replaces the first and adds no second one.
    lineage = lineage_accumulator(spark)
    ext = extract_pages(todo, num_partitions=num_partitions, salt=salt, lineage=lineage)
    # per-row validity = no kernel error AND non-empty text AND schema
    # conformance (required-marked fields non-null — the generic
    # StructType-walk validator, ≙ the reference's per-study pydantic
    # validation at base.py:1072-1095; failures flag, never abort).
    # Rows carry their run's identity, so per-config results survive
    # compaction and can be selected on read.
    validated = with_validity(ext, EXTRACTED_SCHEMA, out_col="_schema_ok").select(
        *EXTRACTED_SCHEMA.names,
        (
            F.col("error").isNull()
            & F.col("_schema_ok")
            & F.col("text").isNotNull()
            & (F.length("text") > 0)
        ).alias("valid"),
        F.lit(cfg).alias("config_hash"),
        F.lit(run_id).alias("run_id"),
    )
    partition_by = None
    if partition_buckets:
        # repartition ON the bucket before the partitioned write: each
        # write task then owns whole buckets, so the snapshot holds
        # O(buckets) files instead of O(extract_tasks × buckets) — the
        # small-files failure mode of naive partitionBy at scale. Costs
        # one shuffle of the output rows (not the html payload — that
        # was consumed by the extract kernel).
        validated = validated.withColumn(
            "url_bucket",
            F.pmod(F.xxhash64(F.col("url")), F.lit(partition_buckets)).cast("int"),
        ).repartition(partition_buckets, F.col("url_bucket"))
        partition_by = ["url_bucket"]
    # observe the frame the writer consumes: an observation below the
    # bucket exchange is lost when AQE replaces an empty exchange's
    # consumer with an empty relation
    validated = validated.observe(
        outputs, F.count(F.lit(1)).alias("n"), F.count("error").alias("errors")
    )
    try:
        staged = cat.stage(
            validated, "results", partition_by=partition_by, row_count=lambda: outputs.get["n"]
        )
    finally:
        # The driver's accumulator registry never frees an accumulator,
        # and a stream calls this once per micro-batch: drop the records.
        # They are one 4-tuple per non-empty extraction partition, about
        # 0.25 KB each (CPython, measured), so 10^6 partitions hold about
        # 250 MB on the driver.
        records, lineage.value = lineage.value, {}
    n_input = inputs.get["n"]
    if staged is None:
        # O1 whole-run memoization: the anti-join left nothing to do
        return RunResult(run_id, cfg, n_input, 0, 0, True)

    run_row = {
        "run_id": run_id,
        "extractor": EXTRACTOR_NAME,
        "version": EXTRACTOR_VERSION,
        "config_hash": cfg,
        "kwargs_json": json.dumps(kwargs or {}, sort_keys=True),
        "schema_json": EXTRACTED_SCHEMA.json(),
        "date": now,
    }
    staged_lineage = cat.stage_arrow(lineage_from_extracted(records, run_id), "lineage")
    staged_runs = cat.stage_arrow(
        pa.Table.from_pylist([run_row], schema=to_arrow_schema(RUNS_SCHEMA)), "runs"
    )
    # The results rename is the run's commit point. Resume and
    # read_results read only results, so they never see a run killed
    # before it. A lineage or runs reader may: a run killed between the
    # renames leaves lineage (and runs) rows whose run_id has no results
    # rows; join on results' run_id to skip them.
    cat.commit(staged_lineage, "lineage")
    cat.commit(staged_runs, "runs")
    cat.commit(staged, "results", partition_by=partition_by)
    if auto_compact_after is not None:
        # results keyed by (url, config_hash): latest row per url per
        # config survives, so compaction never drops another config's
        # results or resume state; lineage/runs rows are unique per key,
        # so their compaction is a pure file-count bound.
        cat.maybe_compact(
            spark,
            "results",
            ["url", "config_hash"],
            max_snapshots=auto_compact_after,
            partition_by=["url_bucket"] if partition_buckets else None,
        )
        cat.maybe_compact(
            spark, "lineage", ["run_id", "partition_id"], max_snapshots=auto_compact_after
        )
        cat.maybe_compact(spark, "runs", ["run_id"], max_snapshots=auto_compact_after)
    counts = outputs.get
    return RunResult(run_id, cfg, n_input, counts["n"], counts["errors"], False)


def read_results(
    spark: SparkSession, store_root: str, config_hash: str | None = None
) -> DataFrame:
    """Latest result per url across snapshots (W3 newest-prior pick:
    later snapshot wins — snapshot paths sort by sequence number).
    Delegates to Catalog.read_latest, the same latest-wins rule compact
    applies, so reads are identical before/after (auto-)compaction.

    ``config_hash`` restricts the pick to one run configuration (≙
    reading one ``<config_hash>/`` directory in the reference's output
    store); default is latest-across-configs. A filter on a window
    partition column is pushed below the window, so it prunes at the
    scan."""
    cat = Catalog(store_root)
    if not cat.exists("results"):
        raise FileNotFoundError(f"no results table under {store_root}")
    if config_hash is None:
        return cat.read_latest(spark, "results", ["url"])
    return cat.read_latest(spark, "results", ["url", "config_hash"]).where(
        F.col("config_hash") == config_hash
    )


def read_results_for_url(
    spark: SparkSession,
    store_root: str,
    url: str,
    partition_buckets: int,
    config_hash: str | None = None,
) -> DataFrame:
    """Point lookup against a bucket-partitioned results table: the
    ``url_bucket = pmod(xxhash64(url), N)`` predicate folds to a
    literal at planning time, so all other bucket directories are
    pruned from the scan (verify: the plan's partition filter lists
    one bucket). Scans 1/N of the store regardless of corpus size."""
    df = read_results(spark, store_root, config_hash=config_hash)
    return df.where(
        (
            F.col("url_bucket")
            == F.pmod(F.xxhash64(F.lit(url)), F.lit(partition_buckets)).cast("int")
        )
        & (F.col("url") == url)
    )


def replay_postprocess(
    spark: SparkSession, store_root: str, transform
) -> DataFrame:
    """post_process='only' (``base.py:172-215``): apply ``transform``
    to the persisted results without re-running extraction."""
    return transform(read_results(spark, store_root))
