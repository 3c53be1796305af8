"""Spans recorded from outside the package.

:class:`Tracer` keeps spans in memory. :meth:`Tracer.install` wraps the
package's public functions where their callers look them up, plus the
two pyspark calls that run a Spark job on the package's behalf:

- ``run_extraction`` is replaced in ``plans.pipeline`` (the workloads
  look it up there on every call); ``plans.pipeline`` imports
  ``extract_pages``, ``unprocessed`` and ``lineage_from_extracted`` by
  name, so those are replaced in the pipeline module's namespace;
- ``minhash_lsh_pairs`` and ``connected_components_star`` are replaced
  in ``operators.dedup``, where the dedup workload looks them up;
- ``Catalog`` methods are replaced on the class;
- ``DataFrameWriter.parquet`` (the job behind every catalog commit) and
  the local-mode ``DataFrame.localCheckpoint`` (the job behind every
  connected-components round) become child spans of whichever span is
  open.

A span's self time is its duration minus the part of its interval that
its child spans cover. Lazy DataFrame builders (``extract_pages``,
``unprocessed``) only build a plan, so their spans hold build time; the
work they describe runs inside the next span that starts a job.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: "Span | None"
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        # children of one span run sequentially on the driver thread,
        # so their intervals do not overlap
        return self.dur - sum(c.dur for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class Tracer:
    def __init__(self) -> None:
        self.roots: list[Span] = []
        self._open: Span | None = None
        self._restore: list[tuple[object, str, object]] = []

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def _wrap(self, owner, attr: str, layer: str, name_of=None) -> None:
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            name = name_of(args, kwargs) if name_of else f"{layer}.{attr}"
            with tracer.span(name, layer):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        from neurostore_text_extraction_spark.operators import dedup
        from neurostore_text_extraction_spark.plans import pipeline
        from neurostore_text_extraction_spark.sources.catalog import Catalog

        self._wrap(pipeline, "run_extraction", "plans.pipeline")
        self._wrap(pipeline, "extract_pages", "operators.extract")
        self._wrap(pipeline, "lineage_from_extracted", "operators.extract")
        self._wrap(pipeline, "unprocessed", "operators.incremental")
        self._wrap(dedup, "minhash_lsh_pairs", "operators.dedup")
        self._wrap(dedup, "connected_components_star", "operators.dedup")

        def table_arg(args, kwargs):
            table = kwargs.get("table", args[2] if len(args) > 2 else "?")
            return f"sources.catalog.{{}}[{table}]"

        for meth in ("append", "read", "read_latest", "compact", "maybe_compact"):
            self._wrap(
                Catalog,
                meth,
                "sources.catalog",
                lambda a, k, m=meth: table_arg(a, k).format(m),
            )
        self._wrap(DataFrameWriter, "parquet", "spark.write_job")
        self._wrap(DataFrame, "localCheckpoint", "spark.checkpoint_job")

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        def enc(s: Span) -> dict:
            return {
                "name": s.name,
                "layer": s.layer,
                "start": s.start,
                "end": s.end,
                "children": [enc(c) for c in s.children],
            }

        with open(path, "w") as f:
            json.dump([enc(r) for r in self.roots], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> Span:
        t = self.tracer
        s = Span(self.name, self.layer, time.perf_counter(), t._open)
        (t._open.children if t._open else t.roots).append(s)
        t._open = s
        self.span = s
        return s

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.tracer._open = self.span.parent


def layer_self_times(root: Span) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in root.walk():
        out[s.layer] = out.get(s.layer, 0.0) + s.self_time
    return out


def span_total(root: Span, prefix: str) -> float:
    return sum(s.dur for s in root.walk() if s.name.startswith(prefix))


def uncovered(root: Span, start: float, wall: float) -> float:
    """The part of the timed interval ``[start, start + wall]`` inside
    ``root`` that none of its child spans covers."""
    end = start + wall
    return wall - sum(
        min(c.end, end) - max(c.start, start) for c in root.children if c.end > start and c.start < end
    )


# --- Spark's event log ---------------------------------------------------


def event_log_stats(log_dir: str, groups: list[str]) -> dict[str, dict[str, float]]:
    """Per job group: shuffle bytes written, bytes spilled and task
    durations of the jobs started under it, read from the event log
    Spark writes into ``log_dir`` (complete once the context stops)."""
    stage_group: dict[int, str] = {}
    acc = {g: {"written": 0, "spilled": 0, "durations": []} for g in groups}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in acc:
                        stage_group.update((sid, group) for sid in ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                    a = acc[stage_group[ev["Stage ID"]]]
                    info = ev["Task Info"]
                    a["durations"].append(info["Finish Time"] - info["Launch Time"])
                    m = ev.get("Task Metrics") or {}
                    a["written"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    a["spilled"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {
        g: {
            "spark.shuffle_write_mb": a["written"] / 1e6,
            "spark.spill_mb": a["spilled"] / 1e6,
            "spark.task_p50_ms": float(statistics.median(a["durations"])) if a["durations"] else 0.0,
            "spark.task_max_ms": float(max(a["durations"])) if a["durations"] else 0.0,
        }
        for g, a in acc.items()
    }


def status_counts(sc, job_group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under ``job_group``, from the
    status tracker. Stages that ran no task (skipped because their
    shuffle output was reused) are not counted."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(job_group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    done = [tracker.getStageInfo(sid) for sid in stage_ids]
    tasks = [st.numCompletedTasks for st in done if st is not None and st.numCompletedTasks]
    return {"spark.jobs": len(jobs), "spark.stages": len(tasks), "spark.tasks": sum(tasks)}
