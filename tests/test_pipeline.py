"""End-to-end pipeline tests (reference layer-4 determinism suite,
``tests/test_word_count.py:86-120`` etc.): golden roundtrip, serial ≡
parallel, idempotent re-run (whole-run memoization), incremental
change detection, kill-and-resume, lineage accounting."""

import pyspark.sql.functions as F
import pytest

from neurostore_text_extraction_spark.operators.extract import (
    extract_pages,
    salt_by_url,
    salt_partitions,
)
from neurostore_text_extraction_spark.plans.pipeline import (
    read_results,
    replay_postprocess,
    run_extraction,
)
from neurostore_text_extraction_spark.schemas import RESULTS_SCHEMA
from neurostore_text_extraction_spark.sources.catalog import Catalog
from neurostore_text_extraction_spark.sources.pages import generate_pages, pages_view

N_ROWS = 150
TABLES = ("results", "lineage", "runs")  # all a store holds


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

    # results table: byte-identical to goldens, written as declared
    res = read_results(spark, store)
    assert res.schema.simpleString() == RESULTS_SCHEMA.simpleString()
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
    # the resume anti-join left
    assert r2.n_input == N_ROWS and r2.n_processed < N_ROWS

    res = read_results(spark, store)
    assert res.count() == N_ROWS
    assert res.join(
        corpus.select("url", "golden_text"), "url"
    ).filter("text != golden_text").count() == 0


# Spark jobs one run_extraction launches on a fresh store: the salt
# exchange and the collect of the extraction tasks' summary rows; the
# tasks write the results files. Lineage and runs take no job.
FRESH_RUN_JOBS = 2
# ... and on a store holding a prior run, with new and changed pages: the
# collect, whose anti-join against the prior results adds two jobs
RESUME_RUN_JOBS = 4
# ... and on a fresh store with partition_buckets: the same two jobs, as
# the tasks write one file per bucket and no bucket exchange runs
BUCKETED_FRESH_RUN_JOBS = 2


def _run_jobs(spark, group, *args, **kwargs):
    """run_extraction's result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "run_extraction job budget")
    try:
        r = run_extraction(spark, *args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return r, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_run_job_budget(spark, corpus, tmp_path):
    """The input count comes from an Observation filled by the
    extraction job, and the other counts and lineage from its tasks'
    summary rows, so a bookkeeping job (a probe, a count, a footer read,
    a lineage pass) that comes back shows up here as a job over the
    budget."""
    # default num_partitions: sizing the salt exchange runs no job
    r, jobs = _run_jobs(spark, f"fresh-{tmp_path.name}", pages_view(corpus), str(tmp_path / "store"))
    assert r.n_processed == N_ROWS
    assert jobs <= FRESH_RUN_JOBS


def test_resume_run_job_budget(spark, corpus, tmp_path):
    store = str(tmp_path / "store")
    pages = pages_view(corpus)
    run_extraction(spark, pages.where(F.xxhash64("url") % 3 != 0), store)
    changed = pages.withColumn(
        "html",
        F.when(
            F.xxhash64("url") % 7 == 0, F.concat(F.col("html"), F.lit(b"<!-- changed -->"))
        ).otherwise(F.col("html")),
    )
    r, jobs = _run_jobs(spark, f"resume-{tmp_path.name}", changed, store)
    assert not r.skipped and 0 < r.n_processed < N_ROWS
    assert jobs <= RESUME_RUN_JOBS


def test_bucketed_fresh_run_job_budget(spark, corpus, tmp_path):
    """With partition_buckets the tasks write each bucket's file, so no
    exchange on the bucket runs after the extraction."""
    r, jobs = _run_jobs(
        spark, f"buckets-{tmp_path.name}", pages_view(corpus), str(tmp_path / "store"), partition_buckets=4
    )
    assert r.n_processed == N_ROWS
    assert jobs <= BUCKETED_FRESH_RUN_JOBS


def test_default_salt_runs_one_task_per_slot(spark, corpus, tmp_path):
    """The test corpus is far below one wave of scan splits, so the salt
    exchange runs exactly one extraction task per slot: one lineage row
    each, none coalesced away by AQE."""
    store = str(tmp_path / "store")
    run_extraction(spark, pages_view(corpus), store)
    lineage = Catalog(store).read(spark, "lineage")
    assert lineage.count() == spark.sparkContext.defaultParallelism


def test_salt_partitions_rule():
    mb = 2**20
    # small input: one wave
    assert salt_partitions(1, 4, 8 * mb, 8) == 4
    assert salt_partitions(32 * mb, 4, 8 * mb, 8) == 4
    # large input: whole waves, at most split_bytes per task
    assert salt_partitions(32 * mb + 1, 4, 8 * mb, 8) == 8
    n = salt_partitions(10**12, 8, 8 * mb, 10**6)
    assert n % 8 == 0 and 10**12 / n <= 8 * mb < 10**12 / (n - 8)
    # very large input: capped at max_partitions rounded down to whole
    # waves, and never below one wave
    assert salt_partitions(10**14, 8000, 8 * mb, 20000) == 16000
    assert salt_partitions(10**14, 8, 8 * mb, 4) == 8
    # unknown size: no count, i.e. today's AQE-coalesced repartition
    assert salt_partitions(None, 4, 8 * mb, 8) is None
    assert salt_partitions(0, 4, 8 * mb, 8) is None


def test_salt_by_url_count_from_size_estimate(spark):
    """A sized input gets an explicit count in whole waves, capped at
    the shuffle partitions; an input Spark cannot size (an RDD) keeps
    the count-less repartition."""

    def count(salted):
        opt = salted._jdf.queryExecution().logical().optNumPartitions()
        return None if opt.isEmpty() else opt.get()

    slots = spark.sparkContext.defaultParallelism
    sized = spark.range(100).selectExpr("cast(id as string) as url")
    assert count(salt_by_url(sized)) == slots
    assert count(salt_by_url(sized, 3)) == 3
    unsized = spark.createDataFrame(sized.rdd, sized.schema)
    assert count(salt_by_url(unsized)) is None

    est = sized._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    split = -(-int(est) // (2 * slots))  # the estimate fills two waves
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        spark.conf.set("spark.sql.shuffle.partitions", str(3 * slots))
        assert count(salt_by_url(sized)) == 2 * slots
        # a one-byte split asks for ~est waves; the cap keeps whole waves
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
        spark.conf.set("spark.sql.shuffle.partitions", str(3 * slots + 1))
        assert count(salt_by_url(sized)) == 3 * slots
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("buckets", [None, 4])
def test_memoized_rerun_commits_nothing(spark, corpus, tmp_path, buckets):
    """A rerun over a finished corpus writes no rows: no table gains a
    snapshot and the run leaves no directory under .tmp."""
    import os

    store = str(tmp_path / "store")
    pages = pages_view(corpus)
    run_extraction(spark, pages, store, num_partitions=8, partition_buckets=buckets)
    cat = Catalog(store)
    before = {t: cat.snapshots(t) for t in TABLES}
    r = run_extraction(spark, pages, store, num_partitions=8, partition_buckets=buckets)
    assert r.skipped and r.n_processed == 0 and r.n_input == N_ROWS
    assert {t: cat.snapshots(t) for t in TABLES} == before
    assert sorted(os.listdir(store)) == [".tmp", *sorted(TABLES)]
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


def _lineage(spark, store, run_id):
    """The run's lineage rows as sorted (partition_id, input_count,
    error_count, bytes) tuples."""
    lin = Catalog(store).read(spark, "lineage").where(F.col("run_id") == run_id)
    return sorted(
        tuple(r) for r in lin.select("partition_id", "input_count", "error_count", "bytes").collect()
    )


def _lineage_oracle(spark, store, run_id):
    """:func:`_lineage` as a groupBy over the run's results rows."""
    res = Catalog(store).read(spark, "results").where(F.col("run_id") == run_id)
    agg = res.groupBy("partition_id").agg(
        F.count(F.lit(1)), F.count("error"), F.sum("n_html_bytes")
    )
    return sorted(tuple(r) for r in agg.collect())


@pytest.mark.parametrize("buckets", [None, 4])
def test_lineage_accounts_for_every_row(spark, corpus, tmp_path, buckets):
    """Lineage rows come from the extraction tasks' summary rows; with
    buckets a task's rows spread over one file per bucket. Either way
    they match the written rows."""
    store = str(tmp_path / "store4")
    r = run_extraction(
        spark, pages_view(corpus), store, num_partitions=8, partition_buckets=buckets
    )
    lin = _lineage(spark, store, r.run_id)
    assert lin == _lineage_oracle(spark, store, r.run_id)
    assert sum(row[1] for row in lin) == N_ROWS
    assert sum(row[3] for row in lin) > 0


def test_lineage_counts_errors_and_keeps_runs_apart(spark, corpus, tmp_path):
    """A run with an error row after a run over the corpus in the same
    session: each run's lineage matches its own rows, so no record of
    the first run's eight partitions reaches the second's."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    ra = run_extraction(spark, pages_view(corpus), a, num_partitions=8)
    rb = run_extraction(spark, _pages(spark, ("u1", None), ("u2", GOOD_HTML)), b, num_partitions=8)
    assert _lineage(spark, a, ra.run_id) == _lineage_oracle(spark, a, ra.run_id)
    lin = _lineage(spark, b, rb.run_id)
    assert lin == _lineage_oracle(spark, b, rb.run_id)
    assert sum(row[1] for row in lin) == 2 and sum(row[2] for row in lin) == 1
    assert Catalog(b).read(spark, "lineage").where(F.col("run_id") != rb.run_id).count() == 0


def test_run_killed_between_renames_leaves_no_partial_run(spark, corpus, tmp_path, monkeypatch):
    """Three attempts at one run die at their 1st, 2nd and 3rd table
    rename, and a fourth in its extraction job. After each, every run in
    results has lineage rows summing to its results rows and one runs
    row, and .tmp is empty; the failed extraction changed no table. The
    rerun is not skipped: it commits all three tables and read_results
    serves the golden text."""
    import os

    from neurostore_text_extraction_spark.sources import catalog

    store = str(tmp_path / "store")
    sub = corpus.where(F.xxhash64("url") % 4 == 0)
    n = sub.count()
    real_rename = os.rename

    def per_run(table, agg):
        df = Catalog(store).read(spark, table)
        if df is None:
            return {}
        return {r[0]: r[1] for r in df.groupBy("run_id").agg(agg).collect()}

    def check_complete():
        results = per_run("results", F.count(F.lit(1)))
        lineage = per_run("lineage", F.sum("input_count"))
        runs = per_run("runs", F.count(F.lit(1)))
        for run_id, rows in results.items():
            assert lineage.get(run_id) == rows and runs.get(run_id) == 1
        assert os.listdir(os.path.join(store, ".tmp")) == []
        return results

    for crash_at in (1, 2, 3):
        renames = []

        def rename(src, dst):
            if os.path.basename(dst).startswith("snap-"):
                renames.append(dst)
                if len(renames) == crash_at:
                    raise OSError("killed at a table rename")
            real_rename(src, dst)

        monkeypatch.setattr(catalog.os, "rename", rename)
        with pytest.raises(OSError, match="killed"):
            run_extraction(spark, pages_view(sub), store, num_partitions=2)
        monkeypatch.undo()
        check_complete()

    # one input partition, not salted: the extraction task itself fails
    cat = Catalog(store)
    before = {t: cat.snapshots(t) for t in TABLES}
    poisoned = pages_view(sub).coalesce(1).withColumn(
        "url",
        F.when(F.xxhash64("url") % 3 == 0, F.raise_error(F.lit("poisoned url"))).otherwise(F.col("url")),
    )
    with pytest.raises(Exception, match="poisoned url"):
        run_extraction(spark, poisoned, store, salt=False)
    assert {t: cat.snapshots(t) for t in TABLES} == before
    check_complete()

    r = run_extraction(spark, pages_view(sub), store, num_partitions=2)
    assert not r.skipped and r.n_processed == n
    assert check_complete()[r.run_id] == n
    got = read_results(spark, store).join(sub.select("url", "golden_text"), "url")
    assert got.count() == n and got.where("text != golden_text").count() == 0


def test_commit_keeps_only_the_reported_files(spark, corpus, tmp_path, monkeypatch):
    """A file in the tasks' staged directory that no summary row names,
    such as a failed attempt's, is not committed."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    stray = "part-00000-999999.parquet"
    real_stage_dir = Catalog.stage_dir

    def stage_dir(self, table, partition_by=None):
        d = real_stage_dir(self, table, partition_by)
        if table == "results":
            pq.write_table(pa.table({"url": ["stray"]}), os.path.join(d, stray))
        return d

    monkeypatch.setattr(Catalog, "stage_dir", stage_dir)
    store = str(tmp_path / "store")
    sub = corpus.where(F.xxhash64("url") % 4 == 0)
    r = run_extraction(spark, pages_view(sub), store, num_partitions=2)
    (snap,) = Catalog(store).snapshots("results")
    assert stray not in os.listdir(snap)
    assert read_results(spark, store).where(F.col("url") == "stray").count() == 0
    assert read_results(spark, store).count() == r.n_processed == sub.count()
    assert os.listdir(os.path.join(store, ".tmp")) == []


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


GOOD_HTML = b"<html><body><p>Fine page with plenty of words to keep here always, truly.</p></body></html>"


def _pages(spark, *url_html):
    return spark.createDataFrame(
        [(url, None, html, None, None) for url, html in url_html],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_task_validity_matches_the_jvm_rule(spark, tmp_path):
    """The extraction tasks flag each results row's validity; on every
    row the flag equals the JVM rule over extract_pages' output:
    with_validity(EXTRACTED_SCHEMA) and no error and non-empty text. A
    null-url page, a null payload and an empty page are invalid."""
    from neurostore_text_extraction_spark.operators.schemaproc import with_validity
    from neurostore_text_extraction_spark.schemas import EXTRACTED_SCHEMA

    pages = _pages(
        spark,
        ("u1", None),
        ("u2", GOOD_HTML),
        ("u3", b"<html><body></body></html>"),
        (None, GOOD_HTML),
        ("u5", b"<div>" * 5000 + b"x"),
    )
    store = str(tmp_path / "store")
    run_extraction(spark, pages, store, num_partitions=2)
    got = Catalog(store).read(spark, "results").select("url", "input_md5", "valid")
    oracle = with_validity(
        extract_pages(pages, num_partitions=2), EXTRACTED_SCHEMA, out_col="_schema_ok"
    ).select(
        "url",
        "input_md5",
        (
            F.col("error").isNull()
            & F.col("_schema_ok")
            & F.col("text").isNotNull()
            & (F.length("text") > 0)
        ).alias("valid"),
    )
    want = {(r.url, r.input_md5): r.valid for r in oracle.collect()}
    assert {(r.url, r.input_md5): r.valid for r in got.collect()} == want
    assert [url for (url, _), ok in want.items() if ok] == ["u2"] and len(want) == 5


def test_nested_required_mark_is_rejected():
    """The task-side validity rule checks top-level fields only, so a
    schema that marks a nested field required is refused."""
    from pyspark.sql import types as T

    from neurostore_text_extraction_spark.operators.extract import _required_fields

    inner = T.StructType([T.StructField("x", T.StringType(), True, metadata={"required": True})])
    top = T.StructField("a", T.StringType(), True, metadata={"required": True})
    assert _required_fields(T.StructType([top, T.StructField("b", T.StringType())])) == ("a",)
    with pytest.raises(ValueError, match="nested"):
        _required_fields(T.StructType([top, T.StructField("b", T.ArrayType(inner))]))


def test_error_isolation_in_pipeline(spark, tmp_path):
    bad = _pages(spark, ("u1", None), ("u2", GOOD_HTML))
    store = str(tmp_path / "store6")
    r = run_extraction(spark, bad, store, num_partitions=2)
    assert r.n_errors == 1
    res = read_results(spark, store)
    assert res.filter("valid").count() == 1
    assert res.filter("not valid").count() == 1


def test_null_html_rerun_is_memoized(spark, tmp_path):
    """A null payload's error row holds a null input md5; the rerun
    matches it null-safely, so it is skipped and commits nothing."""
    pages = _pages(spark, ("u1", None), ("u2", GOOD_HTML))
    store = str(tmp_path / "store")
    run_extraction(spark, pages, store, num_partitions=2)
    cat = Catalog(store)
    before = {t: cat.snapshots(t) for t in TABLES}
    r = run_extraction(spark, pages, store, num_partitions=2)
    assert r.skipped and r.n_processed == 0
    assert {t: cat.snapshots(t) for t in TABLES} == before


def test_error_row_stays_done_until_html_changes(spark, tmp_path):
    """Only new or changed inputs are processed (SURVEY P2): a page
    whose extraction raised holds an error row with its payload's md5,
    so a rerun skips it; new html for the url is extracted."""
    store = str(tmp_path / "store")
    # nesting past the parser's recursion limit raises RecursionError
    deep = _pages(spark, ("u1", b"<div>" * 5000 + b"x"))
    r1 = run_extraction(spark, deep, store, num_partitions=1)
    assert r1.n_errors == 1
    assert run_extraction(spark, deep, store, num_partitions=1).skipped
    r3 = run_extraction(spark, _pages(spark, ("u1", GOOD_HTML)), store, num_partitions=1)
    assert not r3.skipped and r3.n_processed == 1 and r3.n_errors == 0
    assert [r.valid for r in read_results(spark, store).collect()] == [True]


def test_resume_compares_newest_prior_md5(spark, corpus, tmp_path):
    """A page whose html goes A -> B -> A is extracted again on the
    third run: the skip decision compares with the newest prior result
    for the url, not with every md5 the url ever had."""
    store = str(tmp_path / "store")
    pages = pages_view(corpus)
    a_row, b_row = corpus.orderBy("url").limit(2).collect()
    assert a_row.golden_text != b_row.golden_text
    a = pages.where(F.col("url") == a_row.url)
    b = a.withColumn("html", F.lit(bytes(b_row.html)))
    assert not run_extraction(spark, a, store, num_partitions=1).skipped
    assert not run_extraction(spark, b, store, num_partitions=1).skipped
    r3 = run_extraction(spark, a, store, num_partitions=1)
    assert not r3.skipped and r3.n_processed == 1
    assert [r.text for r in read_results(spark, store).collect()] == [a_row.golden_text]


def test_resume_survives_results_compaction(spark, corpus, tmp_path):
    """Compacting results to the newest row per (url, config) keeps the
    resume state: the latest corpus is a whole-run cache hit, and pages
    changed back to their first version are extracted again."""
    store = str(tmp_path / "store")
    pages = pages_view(corpus)
    run_extraction(spark, pages, store, num_partitions=8)
    # second run over a changed subset -> second results snapshot
    changed = pages.withColumn(
        "html",
        F.when(
            F.xxhash64("url") % 17 == 0,
            F.concat(F.col("html"), F.lit(b"<!-- v2 -->")),
        ).otherwise(F.col("html")),
    )
    n_changed = pages.where(F.xxhash64("url") % 17 == 0).count()
    assert n_changed > 0
    run_extraction(spark, changed, store, num_partitions=8)
    cat = Catalog(store)
    assert len(cat.snapshots("results")) == 2

    cat.compact(spark, "results", key_cols=["url", "config_hash"])
    assert len(cat.snapshots("results")) == 1
    assert cat.read(spark, "results").count() == N_ROWS  # one row per url
    assert run_extraction(spark, changed, store, num_partitions=8).skipped
    assert run_extraction(spark, pages, store, num_partitions=8).n_processed == n_changed


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
    import os

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
    # the store mixes a compaction's Spark-written snapshot with the
    # extraction tasks' pyarrow-written ones; they read back as one table
    spark_written = [os.path.exists(os.path.join(s, "_SUCCESS")) for s in cat.snapshots("results")]
    assert any(spark_written) and not all(spark_written)
    res = read_results(spark, store)
    assert res.schema.simpleString() == RESULTS_SCHEMA.simpleString()
    got = res.join(corpus.select("url", "golden_text"), "url")
    assert got.count() == 30 and got.where("text != golden_text").count() == 0
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


def test_bucketed_store_reads_after_a_second_run(spark, tmp_path):
    """A bucketed results table with two snapshots reads back: Spark's
    partition discovery rejects several hive-partitioned snapshot roots
    in one read, so each snapshot is read on its own. A third run, whose
    resume reads both, is a whole-run cache hit."""
    from neurostore_text_extraction_spark.plans.pipeline import read_results_for_url

    gen = generate_pages(spark, 200, 8).cache()
    pages = pages_view(gen)
    store = str(tmp_path / "store")
    run_extraction(spark, pages.where(F.xxhash64("url") % 3 != 0), store, partition_buckets=4)
    assert not run_extraction(spark, pages, store, partition_buckets=4).skipped
    assert len(Catalog(store).snapshots("results")) == 2
    golden = gen.select("url", "golden_text")
    got = read_results(spark, store).join(golden, "url")
    assert got.count() == 200 and got.where("text != golden_text").count() == 0
    for first_run in (True, False):
        row = golden.where((F.xxhash64("url") % 3 != 0) == first_run).orderBy("url").first()
        hit = read_results_for_url(spark, store, row.url, partition_buckets=4).collect()
        assert [h.text for h in hit] == [row.golden_text]
    assert run_extraction(spark, pages, store, partition_buckets=4).skipped
    gen.unpersist()


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
