"""spark-submit driver for the extraction pipeline (north rule: "the
job is launched via spark-submit --py-files on multi-executor
clusters").

    spark-submit --master <cluster> --py-files <pkg.zip> \
        scripts/submit_extract.py \
        --input  <pages parquet dir>   # (url, warc_ts, html, text, lang)
        --store  <output store root>   # results/lineage/runs
        [--num-partitions N] [--salt] [--corpus-scoped] [--no-resume]
        [--partition-buckets N]        # hive-partition results on url-hash

The package code resolves from the ``--py-files`` zip (built by
``scripts/submit.sh``); no repo checkout is needed on the cluster. The
session factory is called with ``master=None`` so the submit-provided
master and executor topology win. The extraction tasks' Python
workers write the results files into the store themselves, and the
driver commits them by rename, so ``--store`` must be a filesystem path
that the driver and every executor reach (a shared mount). Exit code 0
on success; the run's result counters are printed as one JSON line for
workflow schedulers.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet directory")
    ap.add_argument("--store", required=True, help="output store root")
    ap.add_argument("--num-partitions", type=int, default=None)
    ap.add_argument(
        "--salt",
        action="store_true",
        help="url-hash salt repartition before extraction (skewed domains)",
    )
    ap.add_argument(
        "--corpus-scoped",
        action="store_true",
        help="fold the corpus identity digest into the run cache key",
    )
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--partition-buckets",
        type=int,
        default=None,
        help="write results hive-partitioned on pmod(xxhash64(url), N) "
        "(use the same N for the store's lifetime)",
    )
    args = ap.parse_args()

    from neurostore_text_extraction_spark.plans.pipeline import run_extraction
    from neurostore_text_extraction_spark.session import get_spark

    spark = get_spark(app_name="nse-extract-submit", master=None)
    pages = spark.read.parquet(args.input)
    result = run_extraction(
        spark,
        pages,
        args.store,
        num_partitions=args.num_partitions,
        resume=not args.no_resume,
        corpus_scoped=args.corpus_scoped,
        salt=args.salt,
        partition_buckets=args.partition_buckets,
    )
    print(
        json.dumps(
            {
                "run_id": result.run_id,
                "config_hash": result.config_hash,
                "n_input": result.n_input,
                "n_processed": result.n_processed,
                "n_errors": result.n_errors,
                "skipped": result.skipped,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
