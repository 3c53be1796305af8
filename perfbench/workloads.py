"""The three workloads. Each drives the package only through its public
functions, times one call per repetition, and checks every output
against the seeded inputs' known answers.

A workload object is built from a seed (inputs generated, not timed).
``warm_up`` runs the workload's path once over a slice of its input
(the run's first job), ``prepare`` points Spark at the full input (and,
for the resume workload, builds the prior store), ``rep`` runs one
timed repetition followed by its untimed correctness check, and
``finish`` makes the checks that span repetitions.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from . import corpus


@dataclass(frozen=True)
class Sizes:
    fresh_docs: int
    resume_docs: int
    dedup_docs: int
    corpus_files: int
    kernel_sample: int


FULL = Sizes(fresh_docs=1500, resume_docs=1000, dedup_docs=200, corpus_files=6, kernel_sample=200)
TOY = Sizes(fresh_docs=48, resume_docs=48, dedup_docs=40, corpus_files=2, kernel_sample=8)

RESUME_NEW_FRAC = 0.05  # share of the resumed input the store has never seen
RESUME_CHANGED_FRAC = 0.05  # share that keeps its url but has changed html
DEDUP_PLANTED_FRAC = 0.10  # near-duplicate copies added to the dedup input
DEDUP_WARM_PAIRS = 4  # planted pairs in the dedup warm-up input


@dataclass
class Outcome:
    """One repetition: its wall time, rows attempted, rows failed, any
    structural problem found by the check, and when the timed call
    started (``time.perf_counter``)."""

    wall_s: float
    attempted: int
    failed: int
    problems: list[str]
    start: float = 0.0


def check_extraction(store: str, rr, golden: dict[str, str], expected: set[str]) -> tuple[int, list[str]]:
    """Rows of the run's results snapshot whose text is not byte-
    identical to its golden text, whose ``error`` is set, or that are
    missing; plus lineage problems: one lineage row per written
    partition, with ``input_count`` summing to the rows written."""
    from neurostore_text_extraction_spark.sources.catalog import Catalog

    cat = Catalog(store)
    problems: list[str] = []
    res = pq.read_table(cat.snapshots("results")[-1], columns=["url", "text", "error", "partition_id"])
    urls = res.column("url").to_pylist()
    texts = res.column("text").to_pylist()
    errors = res.column("error").to_pylist()
    failed = sum(
        e is not None or t != golden.get(u) for u, t, e in zip(urls, texts, errors)
    )
    seen = set(urls)
    failed += len(expected - seen)
    if len(seen) != len(urls) or seen - expected:
        problems.append(f"results snapshot holds {len(urls)} rows for {len(expected)} expected urls")
    if rr.skipped or rr.n_processed != len(expected):
        problems.append(f"run processed {rr.n_processed} rows, expected {len(expected)}")
    lin = pq.read_table(cat.snapshots("lineage")[-1], columns=["run_id", "partition_id", "input_count"]).to_pylist()
    lin = [r for r in lin if r["run_id"] == rr.run_id]
    parts = {p for p in res.column("partition_id").to_pylist()}
    if len(lin) != len(parts) or {r["partition_id"] for r in lin} != parts:
        problems.append(f"{len(lin)} lineage rows for {len(parts)} written partitions")
    if sum(r["input_count"] for r in lin) != len(urls):
        problems.append("lineage input_count does not sum to the rows written")
    return failed, problems


def store_files(path: str | None) -> tuple[int, int]:
    """Regular files under ``path`` and their total bytes."""
    n = size = 0
    for d, _, files in os.walk(path or ""):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


class _Extraction:
    """Shared repetition: ``run_extraction`` over ``self.pages`` into a
    store that starts as a copy of ``self.base_store`` (None: empty)."""

    base_store: str | None = None
    last_store: str | None = None

    def __init__(self, work_dir: str, sizes: Sizes, rows: list[dict]) -> None:
        self.work_dir = work_dir
        self.sizes = sizes
        self.corpus_rows = rows
        self.n_docs = len(rows)
        self.pages_dir = os.path.join(work_dir, "pages")
        self._n_store = 0

    def _new_store(self) -> str:
        self._n_store += 1
        return os.path.join(self.work_dir, f"store-{self._n_store}")

    def _drop_last_store(self) -> None:
        if self.last_store is not None:
            shutil.rmtree(self.last_store, ignore_errors=True)
            self.last_store = None

    def _run(self, spark, pages, golden: dict[str, str], expected: set[str], base: str | None) -> Outcome:
        from neurostore_text_extraction_spark.plans.pipeline import run_extraction

        store = self._new_store()
        if base is not None:
            shutil.copytree(base, store)
        t0 = time.perf_counter()
        rr = run_extraction(spark, pages, store)
        wall = time.perf_counter() - t0
        failed, problems = check_extraction(store, rr, golden, expected)
        self._drop_last_store()
        self.last_store = store
        return Outcome(wall, len(expected), failed, problems, t0)

    def rep(self, spark) -> Outcome:
        return self._run(spark, self.pages, self.golden, self.expected, self.base_store)

    def warm_up(self, spark) -> Outcome:
        """The first job: ``run_extraction`` over one input file into an
        empty store."""
        path = os.path.join(self.warm_dir, "part-000.parquet")
        urls = set(pq.read_table(path, columns=["url"]).column("url").to_pylist())
        return self._run(spark, spark.read.parquet(path), self.warm_golden, urls, None)

    def finish(self, spark) -> Outcome:
        self._drop_last_store()
        return Outcome(0.0, 0, 0, [])

    def probe_pages(self):
        return self.pages

    def probe_manifest(self, spark):
        return None, self.cfg

    def kernel_rows(self) -> list[dict]:
        return self.corpus_rows[: self.sizes.kernel_sample]


class ExtractFresh(_Extraction):
    name = "extract_fresh"

    def __init__(self, seed: int, work_dir: str, sizes: Sizes, procs: int) -> None:
        c = corpus.fresh_corpus(seed, sizes.fresh_docs, procs)
        super().__init__(work_dir, sizes, c.rows)
        self.golden = self.warm_golden = c.golden
        self.expected = set(c.golden)
        self.warm_dir = self.pages_dir
        corpus.write_pages(c.rows, self.pages_dir, sizes.corpus_files)

    def prepare(self, spark) -> None:
        from neurostore_text_extraction_spark.operators.incremental import config_hash
        from neurostore_text_extraction_spark.plans.pipeline import EXTRACTOR_VERSION

        self.pages = spark.read.parquet(self.pages_dir)
        self.cfg = config_hash(EXTRACTOR_VERSION, None)


class ExtractResume(_Extraction):
    name = "extract_resume"

    def __init__(self, seed: int, work_dir: str, sizes: Sizes, procs: int) -> None:
        c = corpus.resume_corpus(
            seed, sizes.resume_docs, RESUME_NEW_FRAC, RESUME_CHANGED_FRAC, procs
        )
        super().__init__(work_dir, sizes, c.current.rows)
        self.prior = c.prior
        self.golden = c.current.golden
        self.expected = c.todo_urls
        self.prior_dir = self.warm_dir = os.path.join(work_dir, "prior-pages")
        self.warm_golden = c.prior.golden
        corpus.write_pages(c.prior.rows, self.prior_dir, sizes.corpus_files)
        corpus.write_pages(c.current.rows, self.pages_dir, sizes.corpus_files)

    def prepare(self, spark) -> None:
        """Build the prior store once (not timed); each repetition
        starts from a fresh copy of it."""
        from neurostore_text_extraction_spark.plans.pipeline import run_extraction

        self.pages = spark.read.parquet(self.pages_dir)
        store = os.path.join(self.work_dir, "prior-store")
        rr = run_extraction(spark, spark.read.parquet(self.prior_dir), store)
        failed, problems = check_extraction(store, rr, self.prior.golden, set(self.prior.golden))
        if failed or problems:
            raise AssertionError(f"prior store is wrong: {failed} rows failed; {problems}")
        self.base_store = store
        self.cfg = rr.config_hash

    def finish(self, spark) -> Outcome:
        """Exact resume, not timed: rerunning the same corpus on the
        last repetition's store is a whole-run cache hit, and
        ``read_results`` yields every url exactly once with its golden
        text."""
        from neurostore_text_extraction_spark.plans.pipeline import read_results, run_extraction

        problems = []
        rr = run_extraction(spark, self.pages, self.last_store)
        if not rr.skipped:
            problems.append(f"rerun of a finished corpus was not skipped: {rr}")
        got = read_results(spark, self.last_store).select("url", "text").toPandas()
        urls = list(got["url"])
        if len(urls) != len(set(urls)):
            problems.append(f"read_results repeats urls: {len(urls)} rows, {len(set(urls))} urls")
        failed = len(set(self.golden) - set(urls))
        failed += sum(t != self.golden.get(u) for u, t in zip(urls, got["text"]))
        self._drop_last_store()
        return Outcome(0.0, len(self.golden), failed, problems)

    def probe_manifest(self, spark):
        from neurostore_text_extraction_spark.sources.catalog import Catalog

        return Catalog(self.base_store).read(spark, "manifest"), self.cfg


class _UnionFind:
    def __init__(self) -> None:
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


class DedupCorpus:
    name = "dedup_corpus"

    def __init__(self, seed: int, work_dir: str, sizes: Sizes, procs: int) -> None:
        self.work_dir = work_dir
        self.sizes = sizes
        self.corpus = corpus.dedup_corpus(seed, sizes.dedup_docs, DEDUP_PLANTED_FRAC, procs)
        self.n_docs = len(self.corpus.docs)
        self.docs_dir = os.path.join(work_dir, "docs")
        self._write_docs(self.corpus.docs, self.docs_dir, sizes.corpus_files)
        # warm-up input: a few planted pairs, originals and copies, so
        # the warm-up runs the star rounds too
        self.warm_pairs = self.corpus.planted[:DEDUP_WARM_PAIRS]
        warm_ids = {d for pair in self.warm_pairs for d in pair}
        self.warm_dir = os.path.join(work_dir, "warm-docs")
        self._write_docs([d for d in self.corpus.docs if d[0] in warm_ids], self.warm_dir, 1)
        self.outputs: list[dict[int, int]] = []

    @staticmethod
    def _write_docs(docs: list[tuple[int, str]], out_dir: str, n_files: int) -> None:
        """``n_files`` parquet files, so the signature stage runs as
        several tasks rather than one."""
        os.makedirs(out_dir, exist_ok=True)
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
        step = -(-len(docs) // n_files)
        for k, i in enumerate(range(0, len(docs), step)):
            part = docs[i : i + step]
            table = pa.Table.from_pydict(
                {"doc_id": [d for d, _ in part], "text": [t for _, t in part]}, schema=schema
            )
            pq.write_table(table, os.path.join(out_dir, f"part-{k:03d}.parquet"))

    @staticmethod
    def clusters(docs):
        from neurostore_text_extraction_spark.operators.dedup import (
            connected_components_star,
            minhash_lsh_pairs,
        )

        pairs = minhash_lsh_pairs(docs, with_jaccard=False)
        return pairs, connected_components_star(pairs, assume_distinct=True)

    def _run(self, docs) -> tuple[float, float, dict[int, int]]:
        t0 = time.perf_counter()
        self.pairs, cc = self.clusters(docs)
        rows = cc.collect()
        return t0, time.perf_counter() - t0, {r["doc_id"]: r["cluster_id"] for r in rows}

    def warm_up(self, spark) -> Outcome:
        """The first job: clusters of the warm-up docs, which must be
        exactly their planted pairs, each clustered under its original."""
        t0, wall, got = self._run(spark.read.parquet(self.warm_dir))
        want = {d: a for a, b in self.warm_pairs for d in (a, b)}
        failed = sum(got.get(d) != c for d, c in want.items()) + len(set(got) - set(want))
        return Outcome(wall, len(want), failed, [], t0)

    def prepare(self, spark) -> None:
        self.docs = spark.read.parquet(self.docs_dir)

    def rep(self, spark) -> Outcome:
        t0, wall, got = self._run(self.docs)
        self.outputs.append(got)
        # checked in finish(), against one collection of the pair graph
        return Outcome(wall, self.n_docs, 0, [], t0)

    def finish(self, spark) -> Outcome:
        """Union-find over the candidate pairs (collected once, not
        timed; the pair set is a pure function of the input) is the
        oracle for every repetition's clusters: a doc fails when its
        ``cluster_id`` differs from the oracle's component minimum."""
        pairs = [(r["doc_a"], r["doc_b"]) for r in self.pairs.collect()]
        uf = _UnionFind()
        for a, b in pairs:
            uf.union(a, b)
        want = {d: uf.find(d) for d in uf.parent}
        failed = 0
        for got in self.outputs:
            failed += sum(got.get(d) != c for d, c in want.items())
            failed += len(set(got) - set(want))
        self.candidate_pairs = len(pairs)
        last = self.outputs[-1]
        hit = sum(
            a in last and last.get(a) == last.get(b) for a, b in self.corpus.planted
        )
        self.planted_recall = hit / len(self.corpus.planted)
        return Outcome(0.0, 0, failed, [])

    def probe_pages(self):
        return None


WORKLOADS = {w.name: w for w in (ExtractFresh, ExtractResume, DedupCorpus)}
