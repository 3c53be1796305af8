"""SparkSession factory tuned for the extraction workload.

Local mode here, but every knob is chosen for the 1000-executor /
100 TB case and merely *verified* on local[N]:

- AQE on (runtime coalesce + skew-join splitting).
- ``spark.sql.shuffle.partitions`` (2x cores, at least 8) is the
  initial count of the exchanges that name none — joins, aggregates —
  which AQE then coalesces; on a real cluster set it ~2-3x total cores.
  The extraction salt exchange names its own count instead, whole waves
  of task slots sized from the input's bytes and capped at this value
  (``operators/extract.salt_partitions``), which AQE leaves alone.
- Arrow batch size capped so one fat page (multi-MB html) cannot blow
  up a single Arrow record batch inside a pandas UDF (SURVEY.md §7
  hard-part (d)).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Keep Arrow batches modest: pages are heavy-tailed (fixture HTML is
# 180-636 KB; tail to multi-MB), so 256 rows/batch bounds per-batch
# memory at ~hundreds of MB even in the tail.
ARROW_BATCH_ROWS = 256


def default_driver_memory() -> str:
    """Half the host's physical RAM: in local mode the driver heap also
    holds the executors' memory, and the other half is left to the
    Python workers and the page cache."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(phys // 2 // 2**20, 1024)}m"


def checkpoint_dir() -> str:
    """Reliable-checkpoint target: $SPARK_CHECKPOINT_DIR, else a
    directory under the system temp dir."""
    return os.environ.get(
        "SPARK_CHECKPOINT_DIR", os.path.join(tempfile.gettempdir(), "spark-checkpoints")
    )


def get_spark(
    app_name: str = "neurostore_text_extraction_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    master: str | None = "auto",
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all cores.

    ``master="auto"`` (default) runs local[cores] — the test/bench
    path. ``master=None`` sets NO master, so the one supplied by
    ``spark-submit --master …`` wins (code-set properties outrank the
    submit command line; see ``scripts/submit_extract.py``) — the
    multi-executor-cluster path, where only the SQL confs below apply
    and executor counts/memory come from the submit invocation.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores) * 2, 8)
    # $SPARK_GRAFT_MASTER overrides the auto local[N] master — the
    # multi-executor evidence path. E.g. local-cluster[4,8,6144] spawns
    # 4 real executor JVMs (8 cores / 6 GiB each), so broadcasts,
    # shuffle blocks, and the Arrow UDF protocol cross true process
    # boundaries exactly as on a standalone cluster, while the same
    # tests/bench/oracle harnesses run unchanged.
    env_master = os.environ.get("SPARK_GRAFT_MASTER")
    if master == "auto" and env_master:
        master = env_master
    builder = SparkSession.builder
    if master == "auto":
        builder = builder.master(f"local[{cores}]")
    elif master is not None:
        builder = builder.master(master)
        if master.startswith("local-cluster"):
            # executor JVMs spawn Python workers from their own cwd —
            # the package must be importable there (same effect as
            # spark-submit --py-files, without zipping on every run)
            repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            existing = os.environ.get("PYTHONPATH", "")
            builder = builder.config(
                "spark.executorEnv.PYTHONPATH",
                f"{repo_root}:{existing}" if existing else repo_root,
            )
            # local-cluster[n,cores,mem]'s mem is WORKER capacity; the
            # executor heap defaults to 1g regardless — size it to the
            # worker slab so the bench runs with realistic executor
            # memory instead of silently tiny heaps
            try:
                parts = master.rstrip("]").split("[")[1].split(",")
                exec_cores = int(parts[1])
                mem_mb = int(parts[2])
                builder = builder.config(
                    "spark.executor.memory",
                    os.environ.get("SPARK_EXECUTOR_MEM", f"{mem_mb}m"),
                )
                # each executor JVM must size its internal pools (GC,
                # JIT, netty IO, ForkJoin) as the c-core node it
                # emulates — availableProcessors() otherwise reports
                # the whole machine, so n executors spawn n*(machine
                # cores) GC/JIT threads and fight each other, a
                # contention mode real cluster nodes don't have
                builder = builder.config(
                    "spark.executor.extraJavaOptions",
                    f"-XX:ActiveProcessorCount={exec_cores}",
                )
            except (ValueError, IndexError):
                pass
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Page rows are fat (10KB-2MB of html) and downstream work is
        # ~ms/row of Python, so scan splits must be small enough to keep
        # every core fed (128MB default → 3 tasks for a 300MB table →
        # concurrency 3/32). But splits must stay >= the parquet row
        # group size: a split smaller than a row group makes several
        # tasks re-decode the same group (measured superlinear blowup at
        # 4MB splits over 20MB row groups). 8MB splits matched to the
        # 8MB row groups below = literally one-group-per-task — measured
        # +45% extraction throughput at 32 cores over 32MB splits, which
        # packed multiple files per task and left a ~1.3-wave straggler
        # shape (36 coarse tasks over 32 cores).
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "2m")
        .config("spark.hadoop.parquet.block.size", str(8 * 1024 * 1024))
        .config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", default_driver_memory())
        )
        # shuffle and spill files: the system temp dir unless
        # $SPARK_LOCAL_DIRS says otherwise. Payload-heavy exchanges (the
        # url-hash salt shuffle moves every html byte) are disk-bound on
        # a slow disk; point it at tmpfs or local NVMe where there is
        # room for them.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", os.path.join(tempfile.gettempdir(), "spark-local")),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # wide-aggregate plans (the K=128 MinHash signature groupBy has
        # 128 agg buffers) exceed the default codegen field cap (100)
        # and silently fall back to interpreted eval — measured ~13%
        # slower on the signature stage. Raise the cap; the generated
        # method still stays under the JIT's huge-method limit.
        .config("spark.sql.codegen.maxFields", "400")
        # reliable-checkpoint files are reference-tracked and deleted
        # when the checkpointed RDD is garbage-collected — without this
        # every _materialize_recoverable call would leave its files on
        # the checkpoint store forever
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # recoverable-materialization target (operators/dedup.
    # _materialize_recoverable): local-mode default is the temp dir; on
    # a real cluster point SPARK_CHECKPOINT_DIR at HDFS/S3 — reliable
    # checkpoint storage is what makes corpus-sized stage results
    # survive executor loss
    if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        spark.sparkContext.setCheckpointDir(checkpoint_dir())
    return spark
