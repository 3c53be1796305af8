"""Pipeline benchmark: one workload, measured for ``--seconds``.

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see README.md beside this
file for why each exists): ``extract_fresh``, ``extract_resume``,
``dedup_corpus``.

``--trace 0`` prints the end-to-end metrics: set-up time (session start
through a cold warm-up job over a slice of the input), the median wall
time per repetition (a window holds too few repetitions for a tail
percentile), docs per second and the peak resident memory of the
driver JVM plus its Python workers (median over repetitions of each
repetition's peak). ``--trace 1`` runs untraced repetitions, then
traced ones, then the single-layer probes, and prints the per-layer
metrics, including the tracing overhead.

Every repetition's output is checked against the seeded inputs' known
answers; the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` (rows) and ``metrics``. The line before it
records the host context, the time spent in each phase, every
repetition's wall time and ``fail_frac``. The exit code is 1 when a
check failed and 2 when the program under test is not there.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

PACKAGE = "neurostore_text_extraction_spark"
MIN_REPS = 3
# per-layer numbers need no end-to-end steadiness; fewer repetitions
# keep a traced run well inside its time limit
TRACE_REPS = 2
# driver heap for local mode on a 15 GiB host shared with nproc Python
# workers; committed and touched up front, so the JVM's share of the
# RSS does not depend on when the heap happens to grow
DRIVER_MEM = "1g"
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h
HERE = os.path.dirname(os.path.abspath(__file__))


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true", help="toy input sizes (self-test)")
    return p.parse_args(argv)


def _spark_env(work: str, procs: int, event_log: bool) -> None:
    """Host-safe settings, through the variables session.get_spark
    reads, plus a Spark conf directory this benchmark owns."""
    conf = os.path.join(work, "conf")
    events = os.path.join(work, "events")
    os.makedirs(conf)
    os.makedirs(events)
    shutil.copy(os.path.join(HERE, "log4j2.properties"), conf)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("spark.ui.showConsoleProgress false\n")
        f.write(
            f"spark.driver.extraJavaOptions -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}\n"
        )
        f.write(f"spark.eventLog.enabled {'true' if event_log else 'false'}\n")
        f.write("spark.eventLog.rolling.enabled false\n")
        f.write("spark.eventLog.compress false\n")
        f.write(f"spark.eventLog.dir file://{events}\n")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(procs),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_CHECKPOINT_DIR=os.path.join(work, "checkpoints"),
        SPARK_CONF_DIR=conf,
        SPARK_LOCAL_IP="127.0.0.1",
    )


def _start_session():
    from neurostore_text_extraction_spark.session import get_spark

    return get_spark(app_name="perfbench")


def _stop_session(spark) -> None:
    """Stop Spark, then close the driver JVM's stdin, which makes it
    exit, and wait for it, so no process of this run outlives it."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so a Python worker that outlives the
    JVM that forked it is still found, and stopped, by
    ``_stop_descendants``."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"perfbench: prctl: {os.strerror(ctypes.get_errno())}", file=sys.stderr)


def _stop_descendants(timeout_s: float = 30.0) -> None:
    """Kill every process still under this one and reap it, so none
    outlives the run, whatever an orderly Spark shutdown left behind or
    an error path skipped."""
    from perfbench import probes

    deadline = time.monotonic() + timeout_s
    while True:
        while True:  # reap ended children, adopted orphans included
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = probes.descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            print(f"perfbench: processes {left} did not end", file=sys.stderr)
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass  # ended while we looked
        time.sleep(0.05)


def _window(w, spark, seconds: float, group: str, after_rep=None, min_reps: int = MIN_REPS) -> list:
    """Repetitions until ``seconds`` have passed (at least ``min_reps``),
    each under its own Spark job group."""
    outs = []
    t_end = time.perf_counter() + seconds
    while len(outs) < min_reps or time.perf_counter() < t_end:
        spark.sparkContext.setJobGroup(f"{group}-{len(outs)}", f"perfbench {w.name}")
        outs.append(w.rep(spark))
        if after_rep:
            after_rep()
    spark.sparkContext.setJobGroup("perfbench-other", "perfbench untimed")
    return outs


def _end_to_end(w, spark, seconds: float, setup_s: float) -> tuple[dict, list]:
    from perfbench import probes

    peaks: list[float] = []
    with probes.RssSampler() as rss:
        rss.take_mb()  # the window starts here
        outs = _window(w, spark, seconds, "perfbench-rep", lambda: peaks.append(rss.take_mb()))
    med = statistics.median(o.wall_s for o in outs)
    metrics = {
        "setup_s": setup_s,
        "wall_s": med,
        "docs_per_s": w.n_docs / med,
        "peak_rss_mb": statistics.median(peaks),
    }
    return metrics, outs


def _rep_layers(w, root, out, before_files) -> dict[str, float]:
    from perfbench import trace, workloads

    self_t = trace.layer_self_times(root)
    m = {
        "pipeline.self_s": self_t.get("plans.pipeline", 0.0),
        "trace.uncovered_s": trace.uncovered(root, out.start, out.wall_s),
    }
    for layer in ("operators.extract", "operators.incremental", "sources.catalog", "spark.write_job"):
        m[f"self.{layer}_s"] = self_t.get(layer, 0.0)
    for table in ("results", "lineage", "manifest", "runs"):
        m[f"catalog.append.{table}_s"] = trace.span_total(root, f"sources.catalog.append[{table}]")
    m["catalog.compact_s"] = trace.span_total(root, "sources.catalog.maybe_compact[")
    if getattr(w, "last_store", None):
        files, size = workloads.store_files(w.last_store)
        m["catalog.files_written"] = files - before_files[0]
        m["catalog.bytes_written"] = size - before_files[1]
    else:
        m["catalog.files_written"] = m["catalog.bytes_written"] = 0
    m.update(_dedup_layers(root))
    return m


def _dedup_layers(root) -> dict[str, float]:
    """``operators.dedup`` metrics of one traced repetition (all 0 when
    it ran no dedup)."""
    from perfbench import trace

    self_t = trace.layer_self_times(root)
    cc = [s for s in root.walk() if s.name == "operators.dedup.connected_components_star"]
    pairs = [s for s in root.walk() if s.name == "operators.dedup.minhash_lsh_pairs"]
    m = {
        "self.operators.dedup_s": self_t.get("operators.dedup", 0.0),
        "self.spark.checkpoint_job_s": self_t.get("spark.checkpoint_job", 0.0),
        "dedup.pairs_build_s": sum(s.dur for s in pairs),
        "dedup.pairs_exec_s": 0.0,
        "dedup.cc_s": 0.0,
        "dedup.cc_rounds": 0,
    }
    if cc:
        # the first checkpoint inside connected_components_star
        # materializes its input edges, i.e. runs the candidate-pair plan
        ckpts = [c for c in cc[0].children if c.layer == "spark.checkpoint_job"]
        m["dedup.pairs_exec_s"] = ckpts[0].dur
        m["dedup.cc_s"] = cc[0].dur - ckpts[0].dur
        m["dedup.cc_rounds"] = len(ckpts) - 1
    return m


def _dedup_probe(spark, seed: int, work: str, sizes, procs: int) -> tuple[dict[str, float], list]:
    """``operators.dedup`` measured from another workload's traced run:
    the ``dedup_corpus`` workload on its own seeded input, its first
    job, then one traced repetition (a dedup repetition is several
    times an extraction one, and the traced run must stay short)."""
    from perfbench import trace, workloads

    d = workloads.DedupCorpus(seed, os.path.join(work, "dedup"), sizes, procs)
    outs = [d.warm_up(spark)]
    d.prepare(spark)
    tracer = trace.Tracer()
    tracer.install()
    try:
        with tracer.span("bench.rep", "bench") as root:
            outs.append(d.rep(spark))
    finally:
        tracer.uninstall()
    outs.append(d.finish(spark))
    m = _dedup_layers(root)
    m["dedup.candidate_pairs"] = d.candidate_pairs
    m["dedup.planted_recall"] = d.planted_recall
    return m, outs


def _traced(w, spark, args) -> tuple[dict, list, list[str]]:
    """An untraced window, then a traced one of the same length; the
    difference of their median walls is the tracing overhead."""
    from perfbench import trace, workloads

    plain = _window(w, spark, args.seconds, "perfbench-plain", min_reps=TRACE_REPS)
    tracer = trace.Tracer()
    tracer.install()
    before = workloads.store_files(getattr(w, "base_store", None))
    traced, per_rep, groups = [], [], []
    t_end = time.perf_counter() + args.seconds
    try:
        while len(traced) < TRACE_REPS or time.perf_counter() < t_end:
            group = f"perfbench-traced-{len(traced)}"
            groups.append(group)
            spark.sparkContext.setJobGroup(group, f"perfbench {w.name} traced")
            with tracer.span("bench.rep", "bench") as root:
                out = w.rep(spark)
            traced.append(out)
            layers = _rep_layers(w, root, out, before)
            layers.update(trace.status_counts(spark.sparkContext, group))
            per_rep.append(layers)
    finally:
        spark.sparkContext.setJobGroup("perfbench-other", "perfbench untimed")
        tracer.uninstall()
    os.makedirs(".perfbench_out", exist_ok=True)
    tracer.dump(os.path.join(".perfbench_out", f"trace-{w.name}-seed{args.seed}.json"))
    metrics = {k: statistics.median(r[k] for r in per_rep) for k in per_rep[0]}
    metrics["trace.overhead_s"] = statistics.median(o.wall_s for o in traced) - statistics.median(
        o.wall_s for o in plain
    )
    return metrics, plain + traced, groups


def _probes(w, spark, procs: int) -> dict[str, float]:
    """Single-layer probes: the kernel and the ``operators.extract``
    ladder on ``extract_fresh`` only (the resume run's time goes to its
    dedup probe), the work-list probe on both extraction workloads."""
    from perfbench import probes, workloads

    zero = dict.fromkeys(
        (
            "kernel.ms_per_doc", "extract.ceiling_frac", "extract.docs_per_s", "scan.s",
            "hop.s", "extract.s", "salt.s", "incremental.unprocessed_s", "incremental.todo_frac",
        ),
        0.0,
    )  # fmt: skip
    pages = w.probe_pages()
    if pages is None:
        return zero
    m = dict(zero)
    if isinstance(w, workloads.ExtractFresh):
        m["kernel.ms_per_doc"] = probes.kernel_ms_per_doc(w.kernel_rows())
        m.update(probes.extract_ladder(pages))
        m["extract.docs_per_s"] = w.n_docs / m["extract.s"]
        ceiling = procs * 1000.0 / m["kernel.ms_per_doc"]
        m["extract.ceiling_frac"] = m["extract.docs_per_s"] / ceiling
    manifest, cfg = w.probe_manifest(spark)
    m.update(probes.unprocessed_probe(pages, manifest, cfg))
    return m


def run(args, work: str) -> tuple[dict, dict, int, int, list[str]]:
    from perfbench import probes, trace, workloads

    procs = probes.nproc()
    ctx = {"host_start": probes.host_context(procs)}
    phases = {}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    sizes = workloads.TOY if args.toy else workloads.FULL
    w = workloads.WORKLOADS[args.workload](args.seed, os.path.join(work, "data"), sizes, procs)
    _spark_env(work, procs, event_log=bool(args.trace))
    phase("inputs")
    spark = _start_session()
    try:
        # set-up = session start through the end of the first job, a
        # warm-up over a slice of the input on the workload's own path
        warm = w.warm_up(spark)
        setup_s = warm.start + warm.wall_s - clock
        phase("setup")
        w.prepare(spark)
        # the slice-sized first job leaves the JIT partly cold; one
        # full repetition, checked but not timed, finishes the warm-up
        primed = w.rep(spark)
        phase("prepare")
        if args.trace:
            metrics, outs, groups = _traced(w, spark, args)
        else:
            metrics, outs = _end_to_end(w, spark, args.seconds, setup_s)
        phase("window")
        done = w.finish(spark)
        phase("finish")
        probe_outs = []
        if args.trace:
            metrics.update(_probes(w, spark, procs))
            if isinstance(w, workloads.DedupCorpus):
                metrics["dedup.candidate_pairs"] = w.candidate_pairs
                metrics["dedup.planted_recall"] = w.planted_recall
            elif isinstance(w, workloads.ExtractResume):
                dedup, probe_outs = _dedup_probe(spark, args.seed, work, sizes, procs)
                metrics.update(dedup)
            else:
                metrics["dedup.candidate_pairs"] = metrics["dedup.planted_recall"] = 0
            phase("probes")
    finally:
        _stop_session(spark)
    if args.trace:
        per_group = list(trace.event_log_stats(os.path.join(work, "events"), groups).values())
        for k in per_group[0]:
            metrics[k] = statistics.median(p[k] for p in per_group)
    ctx.update(
        workload=w.name,
        seed=args.seed,
        sizes=sizes.__dict__,
        docs=w.n_docs,
        setup_s=setup_s,
        phases_s=phases,
        rep_walls_s=[o.wall_s for o in outs],
        host_end=probes.host_context(procs),
    )
    checked = [warm, primed, *outs, done, *probe_outs]
    attempted = sum(o.attempted for o in checked)
    failed = sum(o.failed for o in checked)
    problems = [p for o in checked for p in o.problems]
    return metrics, ctx, attempted, failed, problems


def _unit(name: str) -> str:
    if name.endswith("_ms") or name.endswith("ms_per_doc"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("docs_per_s"):
        return "1/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_frac") or name.endswith("_recall"):
        return "ratio"
    if name.endswith("bytes_written"):
        return "bytes"
    return "count"


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {root}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    # temporary files of this process, its pools and the JVM stay in
    # the checkout and go with the work directory
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    _adopt_orphans()
    try:
        metrics, ctx, attempted, failed, problems = run(args, work)
    finally:
        _stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0 and not problems
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    if failed:
        print(f"perfbench: CHECK FAILED: {failed} of {attempted} rows wrong", file=sys.stderr)
    ctx["fail_frac"] = failed / max(attempted, 1)
    print(json.dumps({"context": ctx}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
