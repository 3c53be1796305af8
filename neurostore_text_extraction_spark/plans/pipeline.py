"""The end-to-end extraction pipeline (the reference's
``transform_dataset``, ``ns_extract/pipelines/base.py:121-234``,
re-expressed as one DataFrame job per SURVEY.md §3.2's mapping):

    pages → observe(input count)
          → left_anti(manifest)            # O2 incremental / exact resume
          → repartition(xxhash64(url))     # skew salting (north rule)
          → mapInArrow(extract)            # Arrow-batched front-end
          → validate → observe(rows, errors)
          → results snapshot               # the one job that extracts
          → lineage, manifest, runs        # from the written snapshot

Job plan of a run: the results write runs the anti-join, extraction and
validation, and fills both Observations in the same job, so the run's
counts cost no count job. Lineage is a ``groupBy`` over the written
snapshot and the manifest a projection of it, both read back with the
schema just written (no footer job); the runs row is built JVM-side. On
a fresh store that is 6 Spark jobs: results (salt exchange + write),
lineage (exchange + write), manifest, runs.

Whole-run memoization (O1, ``base.py:157-162``): if nothing is left
after the manifest anti-join, the results write produces no rows,
``Catalog.append`` commits nothing, and the run returns early. Exact
resume: a killed run commits nothing (snapshot rename is atomic), a
partially complete multi-snapshot history replays only missing urls.

``post_process="only"`` mode (``base.py:172-215``): replay a transform
over the persisted results table without re-extraction — see
:func:`replay_postprocess`.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..operators.extract import extract_pages, lineage_from_extracted
from ..operators.incremental import config_hash, unprocessed
from ..schemas import EXTRACTED_SCHEMA, MANIFEST_SCHEMA, RUNS_SCHEMA
from ..sources.catalog import Catalog

EXTRACTOR_NAME = "main_content_extraction"
EXTRACTOR_VERSION = "1.1.0"  # versioned like the reference's _version (base.py:851)


@dataclass
class RunResult:
    run_id: str
    config_hash: str
    n_input: int  # pages given to the run
    n_processed: int  # pages left after the manifest anti-join, i.e. written
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
    """See module docstring. ``auto_compact_after``: once the results/
    manifest snapshot history exceeds this many snapshots it is
    compacted to the latest row per key, keeping ``read_results``'s
    latest-pick (and the manifest anti-join's right side) bounded at
    O(auto_compact_after) files per scan for arbitrarily long-lived
    pipelines. ``None`` disables.

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
    DIFFERENT corpus is a cache miss and recomputes into fresh manifest
    rows, while re-running the identical corpus still memoizes. Costs
    one column-pruned scan of the id column per run; default off — the
    per-(url, md5, config) manifest match already handles per-doc
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
    manifest = cat.read(spark, "manifest", schema=MANIFEST_SCHEMA) if resume else None
    todo = unprocessed(pages, manifest, cfg)

    # ``salt`` is an execution detail (same rows either way), so it is
    # deliberately NOT part of the config hash — toggling it must not
    # invalidate the cache.
    ext = extract_pages(todo, num_partitions=num_partitions, salt=salt)
    # per-row validity = no kernel error AND non-empty text AND schema
    # conformance (required-marked fields non-null — the generic
    # StructType-walk validator, ≙ the reference's per-study pydantic
    # validation at base.py:1072-1095; failures flag, never abort)
    from ..operators.schemaproc import with_validity

    validated = (
        with_validity(ext, EXTRACTED_SCHEMA, out_col="_schema_ok")
        .withColumn(
            "valid",
            F.col("error").isNull()
            & F.col("_schema_ok")
            & F.col("text").isNotNull()
            & (F.length("text") > 0),
        )
        .drop("_schema_ok")
        # rows carry their run's config identity (≙ the reference's
        # <config_hash>/ output directory level): per-config results
        # survive compaction and can be selected on read.
        .withColumn("config_hash", F.lit(cfg))
    )
    # One pass: write results, derive lineage/manifest from the written
    # snapshot (re-read is a cheap columnar scan; avoids caching the
    # heavy text in memory and avoids recomputing the UDF 3x).
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
    snap = cat.append(
        validated, "results", partition_by=partition_by, row_count=lambda: outputs.get["n"]
    )
    n_input = inputs.get["n"]
    if snap is None:
        # O1 whole-run memoization: the anti-join left nothing to do
        return RunResult(run_id, cfg, n_input, 0, 0, True)
    written = spark.read.schema(validated.schema).parquet(snap)

    cat.append(lineage_from_extracted(written, run_id), "lineage")
    cat.append(
        written.select(
            "url",
            "input_md5",
            F.lit(cfg).alias("config_hash"),
            F.lit(run_id).alias("run_id"),
            F.lit(now).alias("date"),
        ),
        "manifest",
    )
    run_row = (
        run_id,
        EXTRACTOR_NAME,
        EXTRACTOR_VERSION,
        cfg,
        json.dumps(kwargs or {}, sort_keys=True),
        EXTRACTED_SCHEMA.json(),
        now,
    )
    # one JVM-side row: no Python worker, one output file
    cat.append(
        spark.range(1, numPartitions=1).select(
            *(F.lit(v).alias(f.name) for f, v in zip(RUNS_SCHEMA.fields, run_row))
        ),
        "runs",
    )
    if auto_compact_after is not None:
        # results keyed by (url, config_hash): latest row per url per
        # config survives, so compaction never drops another config's
        # results; manifest keyed by its full match tuple so every
        # config's skip rows survive; lineage/runs rows are unique per
        # key, so their compaction is a pure file-count bound.
        cat.maybe_compact(
            spark,
            "results",
            ["url", "config_hash"],
            max_snapshots=auto_compact_after,
            partition_by=["url_bucket"] if partition_buckets else None,
        )
        cat.maybe_compact(
            spark,
            "manifest",
            ["url", "input_md5", "config_hash"],
            max_snapshots=auto_compact_after,
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
    store); default is latest-across-configs. The filter lands before
    the window, so it prunes at the scan."""
    cat = Catalog(store_root)
    snaps = cat.snapshots("results")
    if not snaps:
        raise FileNotFoundError(f"no results table under {store_root}")
    if config_hash is None:
        return cat.read_latest(spark, "results", ["url"])
    df = (
        cat.read(spark, "results")
        .where(F.col("config_hash") == config_hash)
        .withColumn("_snap", F.input_file_name())
    )
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(F.col("_snap").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_snap")
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
