"""Benchmark harness. Runs the headline workload at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...,
     "extract_docs_per_sec": ..., "extract_mb_per_sec": ..., "cpus": N}

The flagship metric is the extraction pipeline (BASELINE.json: extracted
docs/sec and GB/s of html bytes); the rest are representative operator
queries from __spark_entry__.queries(). BENCH/run_scaling.py runs this
at two parallelism levels for the N-vs-4N scaling-efficiency evidence.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# extraction corpus size scales with the sf dir (sf0.1 → 4000 pages)
_SF_GUESS = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1
# Sized so the extraction stage runs tens of seconds at 32 cores —
# fixed costs (JVM scheduling, python-worker fork) must not dominate,
# or the N-vs-4N scaling measurement measures startup, not throughput.
N_PAGES = int(os.environ.get("SPARK_GRAFT_N_PAGES", str(max(400, int(640000 * _SF_GUESS)))))
# salt=True re-shuffles every html byte on xxhash64(url) before the
# extract UDF (the skew guard). On ONE box that shuffle is a fixed
# shared memory/disk pipe; with splits matched to row groups (round 3)
# the plain scan path is faster AND is the production plan for
# balanced inputs — so the default benchmark measures it, and the salt
# stays an opt-in skew guard. BENCH/run_scaling.py measures both paths.
SALT = os.environ.get("SPARK_GRAFT_SALT", "0").lower() not in ("0", "false")
# operator-query sweep can be skipped when only the extraction
# throughput is being measured (BENCH/run_scaling.py salt=0 probes)
RUN_QUERIES = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "1").lower() not in ("0", "false")


def _calib_work(_):
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return x


def _host_parallel_eff(n_procs: int) -> float:
    """Self-calibration: measure what all-core scaling THIS HOST gives
    a pure-Python CPU workload right now (no Spark involved). The box
    shows phantom load + DVFS windows where 32-way efficiency swings
    between ~1.0 and ~0.6 across hours; publishing the measured ceiling
    next to the Spark numbers lets a reader separate 'the engine
    scales' from 'the host was throttled during this run' (r5: two
    runs 30 min apart differed 2.5x on every query uniformly while
    single-core speed was unchanged)."""
    import multiprocessing as mp

    t0 = time.perf_counter()
    _calib_work(0)
    single = time.perf_counter() - t0
    ctx = mp.get_context("fork")
    with ctx.Pool(n_procs) as p:
        t0 = time.perf_counter()
        p.map(_calib_work, range(n_procs * 2))
        wall = time.perf_counter() - t0
    return round((n_procs * 2 * single) / (wall * n_procs), 3)


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from neurostore_text_extraction_spark.operators.extract import extract_pages
    from neurostore_text_extraction_spark.session import get_spark
    from neurostore_text_extraction_spark.sources.pages import (
        generate_pages,
        pages_view,
    )

    spark = get_spark(app_name="nse-bench", cores=CPUS)
    timings: dict[str, float] = {}

    # --- flagship: extraction pipeline, production shape: parquet scan
    # → (salted) Arrow UDF → count. The corpus parquet is generated once
    # and cached under the system temp dir (generation excluded from
    # timing); $SPARK_GRAFT_PAGES_DIR puts it elsewhere, e.g. on tmpfs.
    pages_dir = os.environ.get(
        "SPARK_GRAFT_PAGES_DIR",
        os.path.join(tempfile.gettempdir(), f"nse_bench_pages_{N_PAGES}"),
    )
    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        pages_view(generate_pages(spark, N_PAGES, 128)).write.mode(
            "overwrite"
        ).parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    n_docs = pages.count()
    total_bytes = pages.agg(F.sum(F.length("html"))).first()[0]

    # warmup: full pass (page cache + python workers + JIT)
    extract_pages(pages, salt=SALT).agg(F.count("*")).first()

    # this host shows heavy uncorrelated contention (load >> in-VM CPU
    # use); min-of-N approximates the uncontended machine, median shown
    # alongside (BENCH/BASELINE.md documents the protocol)
    reps = int(os.environ.get("SPARK_GRAFT_EXTRACT_REPS", "3"))
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        ext = extract_pages(pages, num_partitions=CPUS * 2, salt=SALT)
        n_ok = ext.where(
            F.col("error").isNull() & (F.length("text") > 0)
        ).count()
        walls.append(time.perf_counter() - t0)
    walls_by_rep = list(walls)  # pre-sort order, for per-pass totals
    walls.sort()
    t_extract = walls[0]
    timings["extract_pipeline"] = round(t_extract, 3)
    assert n_ok >= n_docs * 0.99, f"extraction failures: {n_ok}/{n_docs}"

    # --- representative operator queries (driver-contract entries) ---
    qs = entry.queries()
    bench_queries = [
        "word_stats",
        "tfidf",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "quality_features",
        "pricing_summary",
        "topk_per_group",
        "revenue_topn",
        "latest_order_per_customer",
        "ann_bruteforce",
        "ann_lsh",
        "extract_roundtrip",
        # round-2 operators
        "entity_link",
        "llm_demographics",
        "repetition_features",
        "contamination_check",
        "pii_url_scrub",
        "eval_prf",
        "dedup_clusters",
        "session_windows",
        # round-3 operators
        "dedup_embedding",
        "line_dedup",
        "lm_perplexity",
        "substr_dedup",
        # round-4 operators
        "url_quality_filter",
    ]
    if not RUN_QUERIES:
        bench_queries = []
    # Per-query min-of-N (VERDICT r3 next-round #1a): this host shows
    # documented 3-10x phantom-load spikes that land on random queries
    # in single-shot runs — r3's driver artifact charged 38.7s to a
    # query that runs in ~6s on a quiet host. The min over N=3 reps
    # approximates the uncontended machine per query, INSIDE the
    # artifact the driver records (not in side samples). Reps are
    # INTERLEAVED (3 full passes over the query list, min per query
    # across passes) rather than back-to-back: a sustained multi-
    # minute load spike then taxes one pass of many queries instead
    # of every rep of whichever query it lands on (observed: all 3
    # back-to-back ann reps inside one spike window → 8.5s recorded
    # for a 1.1s query). Medians published alongside.
    query_reps = max(1, int(os.environ.get("SPARK_GRAFT_QUERY_REPS", "3")))
    # Wall-clock budget guard: pass 1 always completes (every query
    # gets a measurement); later passes only start while the budget
    # holds, so a driver-side timeout can never truncate the artifact
    # mid-pass — under heavy host load the bench degrades to fewer
    # passes instead of a killed process with no JSON line.
    budget_sec = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "420"))
    bench_t0 = time.perf_counter()
    # extraction's median reported OUTSIDE timings: the headline
    # `value` sums timings, and the median is a transparency stat of
    # the SAME work, not extra workload (r2/r3 double-counted it —
    # their published totals carry ~one extra extraction pass)
    medians: dict[str, float] = {
        "extract_pipeline": round(walls[(len(walls) - 1) // 2], 3)
    }
    q_walls: dict[str, list[float]] = {name: [] for name in bench_queries}
    passes_run = 0
    # Warm-plan reuse (VERDICT r4 #5): the literal-hyperplane-fold
    # queries pay ~2s of ANALYSIS on every DataFrame construction — a
    # one-time cost in production (a 10^9-row job builds its plan
    # once), but the per-pass rebuild re-charged it to every rep, so
    # the published min reflected cold analysis, not execution. For
    # LAZY queries, build the DataFrame once and execute it per pass:
    # each write action re-runs physical planning and the FULL
    # computation (fresh RDDs — no cross-action shuffle/stage reuse),
    # only analysis is (honestly) amortized. EAGER queries
    # (dedup_embedding etc.) compute at construction and must be
    # rebuilt per pass.
    REUSE_PLAN = {"ann_lsh"}
    built: dict[str, object] = {}
    for _pass in range(query_reps):
        if _pass > 0 and time.perf_counter() - bench_t0 > budget_sec:
            break
        passes_run += 1
        for name in bench_queries:
            t0 = time.perf_counter()
            if name in REUSE_PLAN and name in built:
                df = built[name]
            else:
                df = qs[name](spark, SF_DIR)
                if name in REUSE_PLAN:
                    built[name] = df
            df.write.format("noop").mode("overwrite").save()
            q_walls[name].append(time.perf_counter() - t0)
    for name in bench_queries:
        qw = sorted(q_walls[name])
        timings[name] = round(qw[0], 3)
        # lower median: for even rep counts take the smaller middle
        # element — the conservative (load-spike-resistant) convention
        medians[name] = round(qw[(len(qw) - 1) // 2], 3)

    total = round(sum(timings.values()), 3)
    # Achievable end-to-end figure (ADVICE r4): `value` sums per-query
    # minima taken ACROSS interleaved passes — a composite no single
    # run achieves. best_single_pass_sec is the best total any one
    # complete pass actually measured (its extraction rep + its query
    # sweep), i.e. a wall time a user could reproduce in one go.
    pass_totals = [
        walls_by_rep[min(p, len(walls_by_rep) - 1)]
        + sum(q_walls[name][p] for name in bench_queries)
        for p in range(passes_run)
        if all(len(q_walls[name]) > p for name in bench_queries)
    ]
    best_pass = round(min(pass_totals), 3) if pass_totals else total
    print(
        json.dumps(
            {
                "metric": "headline workload wall time (extraction pipeline + operator queries)",
                "value": total,
                "value_kind": "sum_of_per_query_min_across_passes",
                "best_single_pass_sec": best_pass,
                "unit": "sec",
                "queries": timings,
                "queries_median": medians,
                "query_reps": query_reps,
                "query_passes_run": passes_run,
                "sf": _SF_GUESS,
                "extract_docs_per_sec": round(n_docs / t_extract, 1),
                "extract_mb_per_sec": round(total_bytes / 1e6 / t_extract, 1),
                "extract_n_docs": n_docs,
                "extract_total_mb": round(total_bytes / 1e6, 1),
                "cpus": CPUS,
                "salt": SALT,
                # measured host ceiling for this run window (1.0 =
                # unthrottled; see _host_parallel_eff) — compare the
                # Spark numbers against THIS, not against an assumed
                # idle machine
                "host_parallel_eff": _host_parallel_eff(CPUS),
            }
        )
    )


if __name__ == "__main__":
    main()
