"""Seeded inputs for the benchmark workloads.

Every page comes from ``sources.pages.generate_row(row_id, seed)``, so
the program only ever sees generated pages and every expected output
is known by construction (``golden_text``). Input preparation is not
timed.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# Changed pages keep their url but take their html (and golden text)
# from the same row under a derived seed.
_CHANGED_SEED_XOR = 0x5EED


def _gen_chunk(args: tuple[list[int], int]) -> list[dict]:
    from neurostore_text_extraction_spark.sources.pages import generate_row

    row_ids, seed = args
    return [generate_row(i, seed) for i in row_ids]


def generate_rows(row_ids: list[int], seed: int, procs: int) -> list[dict]:
    """``generate_row`` over ``row_ids`` in ``procs`` forked workers;
    same rows, same order as a serial loop. Forked, not spawned: a
    spawn pool starts a resource-tracker process that outlives it."""
    if procs <= 1 or len(row_ids) < 64:
        return _gen_chunk((row_ids, seed))
    step = -(-len(row_ids) // procs)
    chunks = [(row_ids[i : i + step], seed) for i in range(0, len(row_ids), step)]
    with mp.get_context("fork").Pool(len(chunks)) as pool:
        parts = pool.map(_gen_chunk, chunks)
    return [r for part in parts for r in part]


def _domain(url: str) -> str:
    return url.split("/", 3)[2]


_PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def write_pages(rows: list[dict], out_dir: str, n_files: int) -> None:
    """Write pages as ``n_files`` parquet files clustered by domain,
    the way crawl-ordered WARC segments arrive: each file holds a run
    of whole domains, so the scan partitions are domain-skewed."""
    rows = sorted(rows, key=lambda r: (_domain(r["url"]), r["url"]))
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(rows) // n_files)
    for k, i in enumerate(range(0, len(rows), step)):
        part = rows[i : i + step]
        table = pa.Table.from_pydict(
            {name: [r[name] for r in part] for name in _PAGES_SCHEMA.names},
            schema=_PAGES_SCHEMA,
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{k:03d}.parquet"))


@dataclass
class PagesCorpus:
    rows: list[dict]
    golden: dict[str, str] = field(init=False)

    def __post_init__(self) -> None:
        self.golden = {r["url"]: r["golden_text"] for r in self.rows}


def fresh_corpus(seed: int, n_docs: int, procs: int) -> PagesCorpus:
    return PagesCorpus(generate_rows(list(range(n_docs)), seed, procs))


@dataclass
class ResumeCorpus:
    prior: PagesCorpus  # what the store already holds
    current: PagesCorpus  # what the resumed run receives
    todo_urls: set[str]  # new urls plus changed-html urls


def resume_corpus(
    seed: int, n_docs: int, new_frac: float, changed_frac: float, procs: int
) -> ResumeCorpus:
    """Prior corpus: rows ``[0, n_docs)``. Current corpus: the same
    rows, of which a seeded ``changed_frac`` keep their url but carry
    different html, plus ``new_frac * n_docs`` rows the store has never
    seen."""
    n_new = max(1, int(n_docs * new_frac))
    rows = generate_rows(list(range(n_docs + n_new)), seed, procs)
    prior = rows[:n_docs]
    rng = random.Random(seed)
    changed_ids = sorted(rng.sample(range(n_docs), max(1, int(n_docs * changed_frac))))
    alt = generate_rows(changed_ids, seed ^ _CHANGED_SEED_XOR, procs)
    current = list(prior)
    for i, a in zip(changed_ids, alt):
        current[i] = {**a, "url": prior[i]["url"]}
    current.extend(rows[n_docs:])
    todo = {current[i]["url"] for i in changed_ids} | {r["url"] for r in rows[n_docs:]}
    return ResumeCorpus(PagesCorpus(prior), PagesCorpus(current), todo)


@dataclass
class DedupCorpus:
    docs: list[tuple[int, str]]  # (doc_id, text)
    planted: list[tuple[int, int]]  # (original doc_id, near-duplicate doc_id)


def _perturb(text: str, rng: random.Random, edits: int) -> str:
    """A near-duplicate: ``edits`` single-word substitutions."""
    words = text.split(" ")
    for _ in range(edits):
        words[rng.randrange(len(words))] = rng.choice(("alpha", "beta", "gamma", "delta"))
    return " ".join(words)


def dedup_corpus(
    seed: int, n_docs: int, planted_frac: float, procs: int
) -> DedupCorpus:
    """The golden texts of ``n_docs`` seeded pages (what extraction
    must produce) plus a seeded ``planted_frac`` share of near-duplicate
    copies, each a few word substitutions away from its original."""
    rows = generate_rows(list(range(n_docs)), seed, procs)
    docs = [(i, r["golden_text"]) for i, r in enumerate(rows)]
    rng = random.Random(seed)
    originals = sorted(rng.sample(range(n_docs), max(1, int(n_docs * planted_frac))))
    planted = []
    for j, i in enumerate(originals):
        copy_id = n_docs + j
        # substitutions scale with length so every copy stays well above
        # the LSH threshold (Jaccard of 3-shingles ~ 1 - 6*edits/words)
        edits = max(1, len(docs[i][1].split(" ")) // 200)
        docs.append((copy_id, _perturb(docs[i][1], rng, edits)))
        planted.append((i, copy_id))
    return DedupCorpus(docs, planted)
