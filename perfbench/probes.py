"""Measurements taken beside the workloads: host context, memory, and
the single-layer probes of the traced run."""

from __future__ import annotations

import multiprocessing as mp
import os
import statistics
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --- host context ---------------------------------------------------------


def _calib_work(_) -> int:
    x = 0
    for i in range(1_000_000):
        x += i * i % 7
    return x


def host_parallel_eff(procs: int) -> float:
    """Framework-free parallel efficiency of this host right now: one
    pure-Python loop timed alone, then ``2 * procs`` copies over
    ``procs`` processes. 1.0 means all cores ran at single-core speed;
    lower values flag a throttled or shared window."""
    t0 = time.perf_counter()
    _calib_work(0)
    single = time.perf_counter() - t0
    with mp.get_context("fork").Pool(procs) as pool:
        pool.map(_calib_work, range(procs))  # start every worker first
        t0 = time.perf_counter()
        pool.map(_calib_work, range(procs * 2), chunksize=1)
        wall = time.perf_counter() - t0
    return (procs * 2 * single) / (wall * procs)


def host_context(procs: int) -> dict:
    return {
        "nproc": procs,
        "loadavg": list(os.getloadavg()),
        "parallel_eff": host_parallel_eff(procs),
    }


# --- memory -----------------------------------------------------------------


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended while we looked
    return 0


class RssSampler:
    """Peak of the summed resident memory of every process this one
    started (the driver JVM and the Python workers under it), sampled
    from /proc while the sampler is entered. Each process counts its
    proportional share (PSS), so pages that forked Python workers share
    with their daemon count once, however many workers the scheduler
    happened to fork."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def take_mb(self) -> float:
        """The peak since the last call, in MB; starts a new peak."""
        peak, self.peak_kb = self.peak_kb, 0
        return peak / 1024.0


# --- layer probes -----------------------------------------------------------


def kernel_ms_per_doc(rows: list[dict], passes: int = 3) -> float:
    """``functions.html_extract.extract_document`` on one core over
    ``rows``: median over ``passes`` of the per-doc mean. Every output
    must be byte-identical to the row's golden text."""
    from neurostore_text_extraction_spark.functions.html_extract import extract_document

    samples = []
    for _ in range(passes):
        t0 = time.perf_counter()
        outs = [extract_document(r["html"], r["lang"])[0] for r in rows]
        samples.append((time.perf_counter() - t0) * 1000.0 / len(rows))
        bad = sum(o != r["golden_text"] for o, r in zip(outs, rows))
        if bad:
            raise AssertionError(f"kernel probe: {bad}/{len(rows)} texts differ from golden")
    return statistics.median(samples)


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def extract_ladder(pages, reps: int = 2) -> dict[str, float]:
    """Noop-sink runs over the same pages, each one step deeper into
    ``operators.extract``: scan, scan plus an identity Arrow hop,
    ``extract_pages(salt=False)`` and ``extract_pages(salt=True)``.
    Steps are interleaved and each reports its median."""
    from pyspark.sql import functions as F

    from neurostore_text_extraction_spark.operators.extract import extract_pages

    cols = pages.select("url", "warc_ts", "html", "lang")
    steps = {
        "scan.s": lambda: cols.select(F.length("html")),
        # a lambda is pickled by value, so the Python workers need not
        # import this file
        "hop.s": lambda: cols.mapInArrow(lambda batches: batches, cols.schema),
        "extract.s": lambda: extract_pages(pages, salt=False),
        "salted.s": lambda: extract_pages(pages, salt=True),
    }
    times: dict[str, list[float]] = {k: [] for k in steps}
    for _ in range(reps):
        for k, build in steps.items():
            times[k].append(_noop(build()))
    med = {k: statistics.median(v) for k, v in times.items()}
    return {
        "scan.s": med["scan.s"],
        "hop.s": med["hop.s"],
        "extract.s": med["extract.s"],
        "salt.s": med["salted.s"] - med["extract.s"],
    }


def unprocessed_probe(pages, manifest, cfg: str, reps: int = 3) -> dict[str, float]:
    """``operators.incremental.unprocessed`` alone: the work list
    against ``manifest`` (None for an empty store) run to a noop sink.
    Returns the median time and rows out over rows in."""
    from neurostore_text_extraction_spark.operators.incremental import unprocessed

    todo = unprocessed(pages, manifest, cfg)
    t = statistics.median(_noop(todo) for _ in range(reps))
    return {
        "incremental.unprocessed_s": t,
        "incremental.todo_frac": todo.count() / pages.count(),
    }
