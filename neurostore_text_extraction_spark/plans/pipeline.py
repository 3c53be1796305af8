"""The end-to-end extraction pipeline (the reference's
``transform_dataset``, ``ns_extract/pipelines/base.py:121-234``,
re-expressed as one DataFrame job per SURVEY.md §3.2's mapping):

    pages → observe(input count)
          → left_anti(newest prior result) # O2 incremental / exact resume
          → repartition(xxhash64(url))     # skew salting (north rule)
          → mapInArrow(extract, validate,  # Arrow-batched front-end; each
                       write results file) #   task writes its own file
          → collect(one row per partition) # the one job that extracts
          → stage the reported files       # by the driver, no Spark job
          → lineage, runs staged           # by the driver, no Spark job
          → rename lineage, runs, results  # results last: the commit

Job plan of a run: the ``collect()`` of the extraction's summary rows
runs the anti-join and the extraction; each extraction task validates
its rows and writes them to a parquet file of its own with pyarrow,
then returns one row with its partition's counts and file names. Those
rows are the run's lineage and counts, so neither costs a job, and no
extracted row crosses back into the JVM. The anti-join reads the
results table with its schema (no footer job), pruned to url,
input_md5 and config_hash. The driver stages exactly the files the
rows name and writes the lineage rows and the runs row with pyarrow.
On a fresh store the only Spark jobs are the salt exchange and the
collect; the results rename is the run's commit point.

Whole-run memoization (O1, ``base.py:157-162``): if nothing is left
after the anti-join, no task writes a row, nothing is committed to any
table, and the run returns early. Exact resume: resume and
``read_results`` read only the results table, whose rename commits the
run after its lineage and runs rows. A run killed before that rename is
invisible to both and is redone in full by the next run; a
multi-snapshot history replays only missing urls. A run that fails
removes what it staged under ``.tmp``. Results rows carry their
``run_id``; the run's date is in its ``runs`` row.

``post_process="only"`` mode (``base.py:172-215``): replay a transform
over the persisted results table without re-extraction — see
:func:`replay_postprocess`.
"""

from __future__ import annotations

import json
import shutil
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators.extract import ResultsSink, extract_pages, lineage_from_extracted, url_bucket
from ..operators.incremental import config_hash, unprocessed
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

    # The Observation is filled by the first job over the observed frame:
    # the extraction's collect below. Attach it after any earlier action
    # on ``pages`` (the corpus digest above).
    inputs = Observation()
    pages = pages.observe(inputs, F.count(F.lit(1)).alias("n"))
    # resume state: the results table, pruned to the resume key
    key = T.StructType([RESULTS_SCHEMA[c] for c in ("url", "input_md5", "config_hash")])
    prior = cat.read(spark, "results", schema=key) if resume else None
    todo = unprocessed(pages, prior, cfg)

    partition_by = ["url_bucket"] if partition_buckets else None
    written = cat.stage_dir("results", partition_by)
    staged = [written]  # removed at the end: committed ones are gone by then
    try:
        # ``salt`` is an execution detail (same rows either way), so it
        # is deliberately NOT part of the config hash — toggling it must
        # not invalidate the cache.
        #
        # Each extraction task writes its rows under ``written`` and
        # returns one row naming its files; the results rows carry their
        # validity (``operators.extract._valid``: the required fields of
        # EXTRACTED_SCHEMA non-null, no kernel error, non-empty text ≙ the
        # reference's per-study validation at base.py:1072-1095; failures
        # flag, never abort) and their run's identity, so per-config
        # results survive compaction and can be selected on read.
        #
        # With ``partition_buckets`` each task writes one file per bucket
        # it holds, so a snapshot has at most tasks × N files. Compaction
        # already writes shuffle partitions × N, and auto-compaction still
        # bounds the snapshot history.
        sink = ResultsSink(written, cfg, run_id, partition_buckets)
        # This collect is the one job that extracts. The extraction runs
        # in its result stage, and Spark takes one successful attempt's
        # result per partition of a result stage and drops any other
        # attempt's, so each partition's row arrives exactly once. A
        # file no row names is a failed or superseded attempt's.
        parts = extract_pages(todo, num_partitions=num_partitions, salt=salt, sink=sink).collect()
        n_input = inputs.get["n"]
        n_rows = sum(r["rows"] for r in parts)
        if n_rows == 0:
            # O1 whole-run memoization: the anti-join left nothing to do
            return RunResult(run_id, cfg, n_input, 0, 0, True)
        results = cat.stage_files(written, [f for r in parts for f in r["files"]])
        staged.append(results)
        lineage = cat.stage_arrow(lineage_from_extracted(parts, run_id), "lineage")
        staged.append(lineage)
        run_row = {
            "run_id": run_id,
            "extractor": EXTRACTOR_NAME,
            "version": EXTRACTOR_VERSION,
            "config_hash": cfg,
            "kwargs_json": json.dumps(kwargs or {}, sort_keys=True),
            "schema_json": EXTRACTED_SCHEMA.json(),
            "date": now,
        }
        runs = cat.stage_arrow(
            pa.Table.from_pylist([run_row], schema=to_arrow_schema(RUNS_SCHEMA)), "runs"
        )
        staged.append(runs)
        # The results rename is the run's commit point. Resume and
        # read_results read only results, so they never see a run killed
        # before it. A lineage or runs reader may: a run killed between
        # the renames leaves lineage (and runs) rows whose run_id has no
        # results rows; join on results' run_id to skip them.
        cat.commit(lineage, "lineage")
        cat.commit(runs, "runs")
        cat.commit(results, "results", partition_by=partition_by)
    finally:
        # whatever this run staged and did not commit, including the
        # files of failed task attempts, leaves .tmp with it
        for d in staged:
            shutil.rmtree(d, ignore_errors=True)
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
            partition_by=partition_by,
        )
        cat.maybe_compact(
            spark, "lineage", ["run_id", "partition_id"], max_snapshots=auto_compact_after
        )
        cat.maybe_compact(spark, "runs", ["run_id"], max_snapshots=auto_compact_after)
    return RunResult(run_id, cfg, n_input, n_rows, sum(r["errors"] for r in parts), False)


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
            F.col("url_bucket") == url_bucket(F.lit(url), partition_buckets)
        )
        & (F.col("url") == url)
    )


def replay_postprocess(
    spark: SparkSession, store_root: str, transform
) -> DataFrame:
    """post_process='only' (``base.py:172-215``): apply ``transform``
    to the persisted results without re-running extraction."""
    return transform(read_results(spark, store_root))
