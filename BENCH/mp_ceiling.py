"""No-Spark multiprocessing ceiling for the 8-vs-32 scaling gate.

Runs the SAME extraction function (functions.html_extract.
extract_document) over the SAME bench corpus with a plain
multiprocessing.Pool at each worker count — zero framework, zero JVM,
zero Arrow. The resulting docs/s ratio between worker counts is the
HOST'S ceiling for any framework at those levels (this box drops
per-core speed under all-core load: DVFS + allocator contention), so
Spark's 8→32 efficiency is judged against it:

    normalized_eff = (spark_32/spark_8) / (mp_32/mp_8)

Prints one JSON line: {"8": docs_per_sec, "32": docs_per_sec, ...}.

Usage: python BENCH/mp_ceiling.py [--pages-dir DIR] [--levels 8,32]
       [--repeats 3] [--max-docs 64000]
"""

from __future__ import annotations

import argparse
import glob
import json
import multiprocessing as mp
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _work(payload: bytes) -> int:
    from neurostore_text_extraction_spark.functions.html_extract import (
        extract_document,
    )

    text, spans, kind = extract_document(payload, "en")
    return len(text)


def _work_file(path: str) -> int:
    """Scan-inclusive unit of work: read one parquet part file and
    extract every page in it — the exact shape of a Spark task
    (per-partition scan pipelined into the extract kernel)."""
    import pyarrow.parquet as pq

    from neurostore_text_extraction_spark.functions.html_extract import (
        extract_document,
    )

    t = pq.read_table(path, columns=["html"], use_threads=False)
    n = 0
    for v in t["html"]:
        extract_document(v.as_py(), "en")
        n += 1
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-dir", default=None)
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--max-docs", type=int, default=64000)
    ap.add_argument(
        "--include-read",
        action="store_true",
        help="time the parquet read+decode inside each rep (apples-to-"
        "apples with Spark, whose timing includes its scan)",
    )
    args = ap.parse_args()

    # where bench.py cached its pages: $SPARK_GRAFT_PAGES_DIR, else the
    # newest nse_bench_pages_* under the system temp dir
    pages_dir = args.pages_dir or os.environ.get("SPARK_GRAFT_PAGES_DIR")
    if pages_dir is None:
        cands = sorted(glob.glob(os.path.join(tempfile.gettempdir(), "nse_bench_pages_*")))
        if not cands:
            raise SystemExit("no bench pages parquet found; run bench.py first")
        pages_dir = cands[-1]

    import pyarrow.parquet as pq

    table = pq.read_table(pages_dir, columns=["html"])
    payloads = [v.as_py() for v in table["html"]][: args.max_docs]
    total_mb = sum(len(p) for p in payloads) / 1e6
    print(
        f"corpus: {len(payloads)} docs {total_mb:.1f} MB from {pages_dir}",
        file=sys.stderr,
    )

    levels = [int(x) for x in args.levels.split(",")]
    out = {}
    for workers in levels:
        best = 0.0
        with mp.Pool(workers) as pool:
            pool.map(_work, payloads[:256], chunksize=32)  # warm-up
            for _ in range(args.repeats):
                if args.include_read:
                    files = sorted(glob.glob(os.path.join(pages_dir, "*.parquet")))
                    t0 = time.perf_counter()
                    n_done = sum(pool.map(_work_file, files, chunksize=1))
                else:
                    t0 = time.perf_counter()
                    pool.map(_work, payloads, chunksize=64)
                    n_done = len(payloads)
                dt = time.perf_counter() - t0
                best = max(best, n_done / dt)
                print(
                    f"mp workers={workers}: {n_done/dt:.0f} docs/s",
                    file=sys.stderr,
                )
        out[str(workers)] = round(best, 1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
