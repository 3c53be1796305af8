"""End-to-end pipeline tests (reference layer-4 determinism suite,
``tests/test_word_count.py:86-120`` etc.): golden roundtrip, serial ≡
parallel, idempotent re-run (whole-run memoization), incremental
change detection, kill-and-resume, lineage accounting."""

import pyspark.sql.functions as F
import pytest

from neurostore_text_extraction_spark.operators.extract import extract_pages
from neurostore_text_extraction_spark.plans.pipeline import (
    read_results,
    replay_postprocess,
    run_extraction,
)
from neurostore_text_extraction_spark.sources.catalog import Catalog
from neurostore_text_extraction_spark.sources.pages import generate_pages, pages_view

N_ROWS = 150


@pytest.fixture(scope="module")
def corpus(spark):
    gen = generate_pages(spark, N_ROWS, 8).cache()
    gen.count()
    yield gen
    gen.unpersist()


def test_extraction_matches_goldens(spark, corpus):
    ext = extract_pages(pages_view(corpus), num_partitions=8)
    joined = ext.join(corpus.select("url", "golden_text", "golden_kind"), "url")
    assert joined.count() == N_ROWS
    assert joined.filter("error is not null").count() == 0
    assert joined.filter("text != golden_text").count() == 0
    assert joined.filter("kind != golden_kind").count() == 0


def test_serial_equals_parallel(spark, corpus):
    pages = pages_view(corpus)
    a = extract_pages(pages, num_partitions=1).select("url", "text", "spans")
    b = extract_pages(pages, num_partitions=32).select("url", "text", "spans")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_pipeline_run_resume_idempotent(spark, corpus, tmp_path):
    store = str(tmp_path / "store")
    pages = pages_view(corpus)

    r1 = run_extraction(spark, pages, store, num_partitions=8)
    assert not r1.skipped
    assert r1.n_processed == N_ROWS and r1.n_errors == 0

    # idempotent re-run: whole-run memoization, nothing re-processed
    r2 = run_extraction(spark, pages, store, num_partitions=8)
    assert r2.skipped

    # results table: byte-identical to goldens
    res = read_results(spark, store)
    assert res.count() == N_ROWS
    mism = res.join(corpus.select("url", "golden_text"), "url").filter(
        "text != golden_text"
    )
    assert mism.count() == 0


def test_kill_and_resume_exact(spark, corpus, tmp_path):
    """Simulated partial failure: first run only covers half the corpus
    (as if the job died before the rest committed); the resume run must
    process exactly the remainder and the union must equal a full run."""
    store = str(tmp_path / "store2")
    pages = pages_view(corpus)
    first_half = pages.where(F.xxhash64("url") % 2 == 0)
    r1 = run_extraction(spark, first_half, store, num_partitions=8)
    assert 0 < r1.n_processed < N_ROWS

    r2 = run_extraction(spark, pages, store, num_partitions=8)
    assert not r2.skipped
    assert r1.n_processed + r2.n_processed == N_ROWS
    # n_input counts the pages given to the run, n_processed the ones
    # the manifest anti-join left
    assert r2.n_input == N_ROWS and r2.n_processed < N_ROWS

    res = read_results(spark, store)
    assert res.count() == N_ROWS
    assert res.join(
        corpus.select("url", "golden_text"), "url"
    ).filter("text != golden_text").count() == 0


# Spark jobs one run_extraction launches on a fresh store: results (salt
# exchange + write), lineage (exchange + write), manifest, runs
FRESH_RUN_JOBS = 6


def test_fresh_run_job_budget(spark, corpus, tmp_path):
    """Run counts come from Observations filled by the results write, so
    a bookkeeping job (a probe, a count, a footer read) that comes back
    shows up here as a job over the budget."""
    sc = spark.sparkContext
    group = f"job-budget-{tmp_path.name}"
    sc.setJobGroup(group, "run_extraction job budget")
    try:
        r = run_extraction(spark, pages_view(corpus), str(tmp_path / "store"), num_partitions=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r.n_processed == N_ROWS
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= FRESH_RUN_JOBS


@pytest.mark.parametrize("buckets", [None, 4])
def test_memoized_rerun_commits_nothing(spark, corpus, tmp_path, buckets):
    """A rerun over a finished corpus writes no rows: no table gains a
    snapshot and the empty write leaves no directory under .tmp (with
    partition_buckets the empty write also goes through partitionBy)."""
    import os

    store = str(tmp_path / "store")
    pages = pages_view(corpus)
    run_extraction(spark, pages, store, num_partitions=8, partition_buckets=buckets)
    cat = Catalog(store)
    tables = ("results", "lineage", "manifest", "runs")
    before = {t: cat.snapshots(t) for t in tables}
    r = run_extraction(spark, pages, store, num_partitions=8, partition_buckets=buckets)
    assert r.skipped and r.n_processed == 0 and r.n_input == N_ROWS
    assert {t: cat.snapshots(t) for t in tables} == before
    assert os.listdir(os.path.join(store, ".tmp")) == []


def test_changed_input_reprocessed(spark, corpus, tmp_path):
    store = str(tmp_path / "store3")
    pages = pages_view(corpus)
    run_extraction(spark, pages, store, num_partitions=8)

    # mutate one page's html → exactly that page is reprocessed
    changed = pages.withColumn(
        "html",
        F.when(
            F.xxhash64("url") % 31 == 0,
            F.concat(F.col("html"), F.lit(b"<!-- changed -->")),
        ).otherwise(F.col("html")),
    )
    n_changed = pages.where(F.xxhash64("url") % 31 == 0).count()
    assert n_changed > 0
    r = run_extraction(spark, changed, store, num_partitions=8)
    assert r.n_processed == n_changed

    # read_results picks the newest snapshot per url
    res = read_results(spark, store)
    assert res.count() == N_ROWS


def test_lineage_accounts_for_every_row(spark, corpus, tmp_path):
    store = str(tmp_path / "store4")
    run_extraction(spark, pages_view(corpus), store, num_partitions=8)
    lin = Catalog(store).read(spark, "lineage")
    agg = lin.agg(
        F.sum("input_count").alias("n"), F.sum("bytes").alias("b")
    ).first()
    assert agg["n"] == N_ROWS
    assert agg["b"] > 0
    assert lin.select("partition_id").distinct().count() == lin.count()


def test_replay_postprocess_only(spark, corpus, tmp_path):
    store = str(tmp_path / "store5")
    run_extraction(spark, pages_view(corpus), store, num_partitions=8)
    out = replay_postprocess(
        spark,
        store,
        lambda df: df.select("url", F.length("text").alias("n_chars")),
    )
    assert out.count() == N_ROWS
    assert out.filter("n_chars > 0").count() == N_ROWS


def test_error_isolation_in_pipeline(spark, tmp_path):
    import pandas as pd

    bad = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u1", "u2"],
                "warc_ts": [None, None],
                "html": [None, b"<html><body><p>Fine page with plenty of words to keep here always, truly.</p></body></html>"],
                "text": [None, None],
                "lang": [None, None],
            }
        ),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    store = str(tmp_path / "store6")
    r = run_extraction(spark, bad, store, num_partitions=2)
    assert r.n_errors == 1
    res = read_results(spark, store)
    assert res.filter("valid").count() == 1
    assert res.filter("not valid").count() == 1


def test_manifest_compaction(spark, corpus, tmp_path):
    """Catalog.compact collapses the snapshot history to latest-per-key
    in ONE snapshot; resume semantics (skip-on-no-change) survive it."""
    from pyspark.sql import functions as F

    from neurostore_text_extraction_spark.sources.catalog import Catalog

    store = str(tmp_path / "store")
    pages = pages_view(corpus)
    run_extraction(spark, pages, store, num_partitions=8)
    # second run over a changed subset -> second manifest snapshot
    changed = pages.withColumn(
        "html",
        F.when(
            F.xxhash64("url") % 17 == 0,
            F.concat(F.col("html"), F.lit(b"<!-- v2 -->")),
        ).otherwise(F.col("html")),
    )
    assert pages.where(F.xxhash64("url") % 17 == 0).count() > 0
    run_extraction(spark, changed, store, num_partitions=8)
    cat = Catalog(store)
    assert len(cat.snapshots("manifest")) == 2
    before = cat.read(spark, "manifest")
    n_keys = before.select("url").distinct().count()

    cat.compact(spark, "manifest", key_cols=["url"], order_col="date")
    assert len(cat.snapshots("manifest")) == 1
    after = cat.read(spark, "manifest")
    assert after.count() == n_keys  # one latest row per url
    # the compacted manifest still memoizes: re-run of the changed
    # corpus is a whole-run cache hit
    r3 = run_extraction(spark, changed, store, num_partitions=8)
    assert r3.skipped


def test_compact_append_compact_ordering(spark, tmp_path):
    """Snapshot numbering must be max+1, not len: after compact deletes
    snap-0/1 and writes snap-2, a length-derived name for the next
    append would be snap-1 — sorting BEFORE the compacted snapshot, so
    the next compact would resurrect the stale compacted row."""
    cat = Catalog(str(tmp_path / "cat"))
    mk = lambda v: spark.createDataFrame([(1, v)], "k int, v string")
    cat.append(mk("a"), "t")
    cat.append(mk("b"), "t")
    cat.compact(spark, "t", key_cols=["k"])
    assert cat.read(spark, "t").collect()[0].v == "b"
    cat.append(mk("c"), "t")
    # the new append must carry a HIGHER sequence number than the
    # compacted snapshot
    seqs = [s.split("snap-")[1][:6] for s in cat.snapshots("t")]
    assert seqs == sorted(seqs) and len(set(seqs)) == 2
    assert cat.read_latest(spark, "t", ["k"]).collect()[0].v == "c"
    cat.compact(spark, "t", key_cols=["k"])
    assert cat.read(spark, "t").collect()[0].v == "c"


def test_time_travel_read_as_of(spark, tmp_path):
    """Iceberg-style time travel: read(as_of=seq) sees the table as it
    was at that snapshot; compaction expires history (asking for an
    expired sequence raises, never silently returns post-compact
    state)."""
    import pytest as _pytest

    cat = Catalog(str(tmp_path / "cat"))
    mk = lambda v: spark.createDataFrame([(1, v)], "k int, v string")
    cat.append(mk("a"), "t")
    cat.append(mk("b"), "t")
    cat.append(mk("c"), "t")
    seqs = cat.snapshot_seqs("t")
    assert seqs == [0, 1, 2]
    # as-of the first snapshot: only 'a' visible
    assert [r.v for r in cat.read(spark, "t", as_of=0).collect()] == ["a"]
    assert cat.read_latest(spark, "t", ["k"], as_of=1).collect()[0].v == "b"
    assert cat.read_latest(spark, "t", ["k"], as_of=2).collect()[0].v == "c"
    # scan-level pruning: the as-of plan reads one snapshot's files
    plan = cat.read(spark, "t", as_of=0)._jdf.queryExecution().toString()
    assert "snap-000001" not in plan
    # compaction expires the history it replaced
    cat.compact(spark, "t", key_cols=["k"])
    with _pytest.raises(ValueError, match="expired"):
        cat.read(spark, "t", as_of=1)
    # the compacted snapshot itself remains addressable
    assert cat.read(spark, "t", as_of=cat.snapshot_seqs("t")[0]).collect()[0].v == "c"
    # a sequence that was never committed raises (no plausible-looking
    # current-state fallback)
    with _pytest.raises(ValueError, match="never committed"):
        cat.read(spark, "t", as_of=99)


def test_read_latest_dedupes_crashed_compact_state(spark, tmp_path):
    """A crash between compact's append and its rmtree leaves the old
    snapshots beside the compacted one; read() shows duplicates (by
    contract), read_latest must dedupe to the compacted (newest) row,
    and a re-run of compact collapses the leftovers."""
    import shutil

    cat = Catalog(str(tmp_path / "cat"))
    mk = lambda v: spark.createDataFrame([(1, v)], "k int, v string")
    cat.append(mk("a"), "t")
    cat.append(mk("b"), "t")
    # simulate the crash: snapshot the pre-compact state, compact, then
    # restore the originals next to the compacted snapshot
    saved = {
        s: str(tmp_path / ("bak-" + s.rsplit("/", 1)[-1])) for s in cat.snapshots("t")
    }
    for s, bak in saved.items():
        shutil.copytree(s, bak)
    cat.compact(spark, "t", key_cols=["k"])
    for s, bak in saved.items():
        shutil.move(bak, s)
    assert len(cat.snapshots("t")) == 3
    assert cat.read(spark, "t").count() == 3  # duplicates visible, by contract
    # compacted snapshot has the highest seq -> latest-wins gives 'b'
    assert cat.read_latest(spark, "t", ["k"]).collect()[0].v == "b"
    # and a compact re-run heals the layout without losing the row
    cat.compact(spark, "t", key_cols=["k"])
    assert len(cat.snapshots("t")) == 1
    assert cat.read(spark, "t").collect()[0].v == "b"


def test_auto_compaction_bounds_snapshot_history(spark, corpus, tmp_path):
    """Long-lived incremental pipeline: snapshot history stays bounded
    by auto_compact_after, and memoization still holds afterwards."""
    store = str(tmp_path / "store")
    pages = pages_view(corpus).limit(30).cache()
    pages.count()
    target = pages.select("url").orderBy("url").first().url
    for i in range(8):
        changed = pages.withColumn(
            "html",
            F.when(
                F.col("url") == target,
                F.concat(F.col("html"), F.lit(f"<!-- v{i} -->".encode())),
            ).otherwise(F.col("html")),
        )
        run_extraction(spark, changed, store, num_partitions=4, auto_compact_after=4)
    cat = Catalog(store)
    assert len(cat.snapshots("manifest")) <= 5
    assert len(cat.snapshots("results")) <= 5
    # memoization survives compaction: identical re-run skips
    last = pages.withColumn(
        "html",
        F.when(
            F.col("url") == target,
            F.concat(F.col("html"), F.lit(b"<!-- v7 -->")),
        ).otherwise(F.col("html")),
    )
    assert run_extraction(spark, last, store, num_partitions=4).skipped
    # and read_results still returns one latest row per url
    assert read_results(spark, store).groupBy("url").count().where("count > 1").count() == 0
    pages.unpersist()


def test_corpus_scoped_cache_key(spark, corpus, tmp_path):
    """corpus_scoped=True folds the url-set digest into the cache key
    (reference DependentPipeline group-identity hash + fresh-dir
    semantics): same config + different corpus = miss over the whole
    new corpus; same corpus = hit."""
    store = str(tmp_path / "store")
    a = pages_view(corpus).limit(20).cache()
    b = pages_view(corpus).limit(25).cache()
    a.count(), b.count()
    r1 = run_extraction(spark, a, store, num_partitions=4, corpus_scoped=True)
    assert not r1.skipped and r1.n_processed == 20
    assert run_extraction(spark, a, store, num_partitions=4, corpus_scoped=True).skipped
    r3 = run_extraction(spark, b, store, num_partitions=4, corpus_scoped=True)
    assert not r3.skipped and r3.n_processed == 25  # full fresh recompute
    assert run_extraction(spark, b, store, num_partitions=4, corpus_scoped=True).skipped
    a.unpersist(), b.unpersist()


def test_session_split_config_matches_row_groups(spark):
    """Scan splits must EQUAL the parquet row-group size (8MB): larger
    splits pack multiple files per task (straggler waves — measured
    -45% extraction throughput at 32 cores), smaller ones re-decode
    shared row groups superlinearly."""
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == "8m"
    assert spark.conf.get("spark.hadoop.parquet.block.size") == str(8 * 1024 * 1024)


def test_session_defaults_fit_the_host(monkeypatch, tmp_path):
    """Without overrides the driver heap is at most half of physical RAM
    and checkpoints go under the system temp dir; the env var still
    wins."""
    import os
    import tempfile

    from neurostore_text_extraction_spark.session import checkpoint_dir, default_driver_memory

    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert default_driver_memory().endswith("m")
    assert int(default_driver_memory()[:-1]) <= max(phys_mb // 2, 1024)
    monkeypatch.delenv("SPARK_CHECKPOINT_DIR", raising=False)
    assert checkpoint_dir().startswith(tempfile.gettempdir())
    monkeypatch.setenv("SPARK_CHECKPOINT_DIR", str(tmp_path))
    assert checkpoint_dir() == str(tmp_path)


def test_results_carry_config_and_survive_compaction_per_config(spark, corpus, tmp_path):
    """Results rows carry their run's config_hash (the reference's
    <config_hash>/ output level); compaction keyed by (url, config)
    keeps BOTH configs' results, and read_results(config_hash=...)
    selects one configuration."""
    store = str(tmp_path / "store")
    pages = pages_view(corpus).limit(20).cache()
    pages.count()
    r1 = run_extraction(spark, pages, store, num_partitions=4)
    r2 = run_extraction(
        spark, pages, store, num_partitions=4, kwargs={"variant": "b"}
    )
    assert r1.config_hash != r2.config_hash and not r2.skipped
    cat = Catalog(store)
    cat.compact(spark, "results", key_cols=["url", "config_hash"])
    # both configs' rows survive the compaction
    res = cat.read(spark, "results")
    assert res.select("config_hash").distinct().count() == 2
    assert res.count() == 40
    # per-config read returns exactly that run's rows
    one = read_results(spark, store, config_hash=r1.config_hash)
    assert one.count() == 20
    assert one.select("config_hash").distinct().first()[0] == r1.config_hash
    # default read: one latest row per url
    assert read_results(spark, store).groupBy("url").count().where("count > 1").count() == 0
    pages.unpersist()


def test_partitioned_results_write_and_bucket_pruned_lookup(spark, tmp_path):
    """partition_buckets: results snapshots are hive-partitioned on
    url_bucket; reads still see every row; a point lookup prunes all
    other bucket directories at planning time; compaction preserves
    the partitioned layout."""
    import os

    from neurostore_text_extraction_spark.plans.pipeline import (
        read_results,
        read_results_for_url,
        run_extraction,
    )
    from neurostore_text_extraction_spark.sources.catalog import Catalog
    from neurostore_text_extraction_spark.sources.pages import (
        generate_pages,
        pages_view,
    )

    store = str(tmp_path / "store")
    pages = pages_view(generate_pages(spark, 30, 4))
    run_extraction(spark, pages, store, partition_buckets=4, salt=False)
    cat = Catalog(store)
    snap = cat.snapshots("results")[0]
    subdirs = sorted(d for d in os.listdir(snap) if d.startswith("url_bucket="))
    assert subdirs and all(d.startswith("url_bucket=") for d in subdirs)

    res = read_results(spark, store)
    assert res.count() == 30 and "url_bucket" in res.columns

    url = res.select("url").first()["url"]
    hit = read_results_for_url(spark, store, url, partition_buckets=4)
    assert hit.count() == 1
    # planning-time pruning: the executed scan reads ONE bucket dir
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "url_bucket" in plan
    import re

    m = re.findall(r"url_bucket=(\d+)", plan)
    assert len(set(m)) <= 1

    # second config's run + forced compaction keep the layout partitioned
    run_extraction(
        spark, pages, store, kwargs={"v": 2}, partition_buckets=4, salt=False
    )
    cat.compact(
        spark, "results", ["url", "config_hash"], partition_by=["url_bucket"]
    )
    snaps = cat.snapshots("results")
    assert len(snaps) == 1
    assert any(d.startswith("url_bucket=") for d in os.listdir(snaps[0]))
    assert read_results(spark, store).count() == 30


def test_schema_evolution_add_column(spark, tmp_path):
    """A column added in a later snapshot must appear on read (NULL
    for earlier rows) — the default first-file-schema read silently
    DROPS it — and must survive latest-pick reads and compaction."""
    cat = Catalog(str(tmp_path / "cat"))
    cat.append(spark.createDataFrame([(1, "a")], "k int, v string"), "t")
    cat.append(
        spark.createDataFrame([(2, "b", 9.5)], "k int, v string, score double"),
        "t",
    )
    df = cat.read(spark, "t")
    assert set(df.columns) == {"k", "v", "score"}
    rows = {r["k"]: r for r in df.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5

    latest = cat.read_latest(spark, "t", ["k"])
    assert {r["k"]: r["score"] for r in latest.collect()} == {1: None, 2: 9.5}

    cat.compact(spark, "t", key_cols=["k"])
    after = cat.read(spark, "t")
    assert set(after.columns) == {"k", "v", "score"}
    assert after.count() == 2


def test_catalog_partition_spec_recorded_and_enforced(spark, tmp_path):
    """The first append records the table's partition layout; later
    appends with a different layout fail at WRITE time instead of
    producing a mixed-snapshot table that only breaks at read time
    (ADVICE r3). Compaction inherits the recorded spec by default."""
    import pytest as _pytest

    cat = Catalog(str(tmp_path / "cat"))
    df = spark.createDataFrame(
        [(1, 0, "a"), (2, 1, "b")], "id long, bucket int, v string"
    )
    cat.append(df, "t", partition_by=["bucket"])
    # same layout: fine
    cat.append(df, "t", partition_by=["bucket"])
    # different layout: rejected
    with _pytest.raises(ValueError, match="partition_by"):
        cat.append(df, "t")
    with _pytest.raises(ValueError, match="partition_by"):
        cat.append(df, "t", partition_by=["v"])
    # compact with no explicit layout inherits the recorded one
    cat.compact(spark, "t", key_cols=["id"])
    snaps = cat.snapshots("t")
    assert len(snaps) == 1
    import os as _os

    assert any(d.startswith("bucket=") for d in _os.listdir(snaps[0]))
    # and reads still see the partition column
    got = cat.read(spark, "t")
    assert "bucket" in got.columns and got.count() == 2
    # unpartitioned tables record the empty spec and reject partitioning
    cat.append(df, "u")
    with _pytest.raises(ValueError, match="partition_by"):
        cat.append(df, "u", partition_by=["bucket"])
