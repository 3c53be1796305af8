"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001;
``queries()`` exposes one DataFrame callable per implemented operator
(SURVEY.md §2 + training-data extensions); ``oracle_sql()`` gives each
an exact DuckDB twin. Column names and rounding are aligned on both
sides because the driver's compare hashes values after sorting columns
by name.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the engine package lives next to this file; make imports robust to
# the driver loading this module from any working directory
_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
# python WORKERS don't inherit driver sys.path mutations — export via
# the environment for sessions created after this import...
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

_PKG_ZIP: str | None = None


def _ensure_pkg_on_workers(spark: "SparkSession") -> None:
    """...and for an already-running session (driver-created spark with
    a different cwd), ship the package zip to workers via addPyFile —
    the canonical mechanism, idempotent per context."""
    global _PKG_ZIP
    try:
        if _PKG_ZIP is None:
            import shutil
            import tempfile

            _PKG_ZIP = shutil.make_archive(
                os.path.join(tempfile.gettempdir(), "nse_spark_pkg"),
                "zip",
                root_dir=_REPO,
                base_dir="neurostore_text_extraction_spark",
            )
        spark.sparkContext.addPyFile(_PKG_ZIP)
    except Exception:
        pass  # already added to this context, or non-writable tmp

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from neurostore_text_extraction_spark.operators import (
    dedup,
    incremental,
    lm,
    similarity,
    textquality,
    tfidf as tfidf_ops,
    wordstats,
)
from neurostore_text_extraction_spark.operators.extract import extract_pages
TOK = r"\w\w+"  # sklearn-parity token pattern (runs of >=2 word chars)


# fan-out decision cache: queries() rebuilds frames many times per bench
# pass. The key carries the path's length and mtime (one stat), so a
# path rewritten under the same driver gets a fresh decision.
_FANOUT: dict[tuple[str, int, int, int], int] = {}


def _scan_fanout(spark: SparkSession, path: str) -> int:
    """Partitions to round-robin the scan into, or 0 for none.

    The testdata tables are SINGLE parquet files with ONE row group, so
    every scan stage runs as one task no matter what
    ``maxPartitionBytes`` says — row groups are unsplittable — and all
    per-row derivation (tokenize, shingle, md5, signature mins) lands
    on 1 of N cores. Small-input guard: when the input's natural split
    count is below the session parallelism, repartition right after the
    read (the byte shuffle is bounded by the — small — input itself).
    At scale the condition goes false: a corpus with >= cores splits is
    left untouched, so nothing is ever shuffled just for fan-out.

    Opt-in per query (measured A/B, interleaved, local[32] sf0.1): the
    fan-out exchange pays off only where per-row derivation dominates
    the stage (quality_features 2.5x faster — dozens of regex/HOF
    evaluations per doc). Plans that consume the scan subtree several
    times (minhash: 5 consumers) instead pay one extra 64-task stage
    PER consumer and get 1.3-2x SLOWER, so fan-out stays off there."""
    par = spark.sparkContext.defaultParallelism
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        st = fs.getFileStatus(p)
        key = (path, par, st.getLen(), st.getModificationTime())
        if key not in _FANOUT:
            size = fs.getContentSummary(p).getLength()
            max_split = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
            )
            # 2 waves: smooths per-doc cost variance
            _FANOUT[key] = par * 2 if (size + max_split - 1) // max_split < par else 0
    except Exception:
        return 0  # unsized source: leave the scan alone
    return _FANOUT[key]


def _t(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    _ensure_pkg_on_workers(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if fanout:
        n = _scan_fanout(spark, path)
        if n:
            df = df.repartition(n)
    return df


# --- flagship -------------------------------------------------------------

_WRAP_PRE = (
    '<html><head><title>t</title><script>var x=1;</script></head><body>'
    '<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/b">More</a></nav>'
    '<div class="article-content"><p>'
)
_WRAP_POST = (
    "</p></div>"
    '<footer>Copyright <a href="#">Terms</a> <a href="#">Privacy</a></footer>'
    "</body></html>"
)


def _wrapped_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → synthetic pages rows (url, warc_ts, html, text, lang):
    known main content wrapped in boilerplate, built JVM-side."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(F.lit(_WRAP_PRE), F.coalesce(F.col("text"), F.lit("")), F.lit(_WRAP_POST)),
            "utf-8",
        ).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: boilerplate-strip extraction over sf0.001 pages built
    from the documents table; returns extracted text + spans + lineage
    columns. Driver checks rows>0 and schema stability."""
    pages = _wrapped_pages(spark, "/root/testdata/sf0.001")
    ext = extract_pages(pages, num_partitions=8)
    return ext.select(
        "url", "kind", "text", "spans", "error", "n_html_bytes", "partition_id"
    )


# --- query helpers --------------------------------------------------------


def _q_word_stats(spark, sf):
    """A1 word_count + A2 word_deviance, same per-doc grain, joined
    into one registry entry (the driver records ~50 correctness rows;
    merging same-grain queries keeps every operator oracled while
    freeing slots for the round-3 corpus operators)."""
    docs = _t(spark, sf, "documents")
    # fused (r6): word_deviance derives from the same per-doc
    # word_count — compute the count once, broadcast the 1-row mean
    # back, and emit both columns from one projection instead of
    # joining two corpus-sized frames on doc_id
    wc = wordstats.word_count(docs)
    mean = wc.agg(
        F.floor(F.sum("word_count") / F.count("*")).cast("long").alias("_mean_wc")
    )
    return (
        wc.crossJoin(F.broadcast(mean))
        .select(
            "doc_id",
            "word_count",
            F.abs(F.col("word_count") - F.col("_mean_wc"))
            .cast("long")
            .alias("word_deviance"),
        )
        .orderBy("doc_id")
    )


def _q_line_dedup(spark, sf):
    """C4/RefinedWeb inter-document line dedup + C4 §2.2 line-level
    transformations (round 4): docs wrapped with a shared nav header
    (dropped as cross-doc dup), the doc text with a terminal period
    (kept), a doc-unique javascript notice (dropped by the C4 js
    rule), a doc-unique unpunctuated line (dropped by the terminal-
    punctuation rule), a doc-unique 2-word line (dropped by the
    min-words rule), and a doc-unique kept sentence — every rule
    exercised non-vacuously, order preserved."""
    from neurostore_text_extraction_spark.operators import webtext

    sid = F.col("doc_id").cast("string")
    docs = (
        _t(spark, sf, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.lit("SHARED NAV HEADER"),
                F.concat(F.col("text"), F.lit(".")),
                F.concat(F.lit("JavaScript required for page "), sid, F.lit(".")),
                F.concat(F.lit("no punct line "), sid),
                F.concat(F.lit("w"), sid, F.lit(" ok.")),
                F.concat(F.lit("unique line "), sid, F.lit(" stays right here.")),
            ).alias("text"),
        )
    )
    return webtext.line_dedup(docs, max_doc_freq=1, c4_line_filters=True)


def _q_lm_perplexity(spark, sf):
    """CCNet-style LM quality scoring (bigram+add-one perplexity) AND
    Brants et al. stupid-backoff trigram scoring, both trained on the
    documents corpus — same per-doc grain, one registry entry."""
    docs = _t(spark, sf, "documents")
    # ONE tokenizer pass for the whole query: the persisted (id, _toks)
    # frame feeds both trainings (4 count-table actions read the cache
    # instead of re-tokenizing per action) and both scoring plans; it
    # is unpersisted once training has materialized its checkpointed
    # count tables — the lazy scoring side then re-derives tokens at
    # execution (cheap) rather than pinning executor storage across
    # calls. Pre-r6 this query tokenized the corpus 7x.
    toks = dedup.with_tokens(docs).persist()
    # prime the cache with one cheap action, then train both models
    # from driver threads so their (independent) count-table jobs
    # overlap (guide §2.6) instead of serializing ~6 job latencies
    toks.count()
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        f_bi = pool.submit(lm.train_bigram_lm, docs, tokens=toks)
        f_bo = pool.submit(lm.train_backoff_lm, docs, tokens=toks)
        model, backoff = f_bi.result(), f_bo.result()
    out = lm.score_perplexity(docs, model, tokens=toks)
    sbo = lm.score_stupid_backoff(docs, backoff, tokens=toks)
    toks.unpersist()
    return out.join(sbo, "doc_id").select(
        "doc_id",
        "n_bigrams",
        F.round("avg_neg_logp", 6).alias("avg_neg_logp"),
        F.round("perplexity", 3).alias("perplexity"),
        "n_trigrams",
        F.round("avg_neg_logscore", 6).alias("sbo_neg_logscore"),
    )


def _q_tfidf(spark, sf):
    out = tfidf_ops.tfidf(_t(spark, sf, "documents"), min_df=2)
    return out.select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"))


def _q_exact_dedup(spark, sf):
    return dedup.exact_duplicates(_t(spark, sf, "documents"))


def _docs_with_neardups(spark, sf):
    """documents ∪ perturbed copies (3-word tail appended, ids offset)
    — guarantees true near-duplicate pairs so the LSH/SimHash pair
    queries stay non-vacuous at production parameters."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    pert = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate tail")).alias("text"),
    )
    return docs.unionAll(pert)


_NEARDUP_DOCS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000, text || ' near duplicate tail' FROM documents"
)


def _q_minhash_pairs(spark, sf):
    out = dedup.minhash_lsh_pairs(_docs_with_neardups(spark, sf))
    return out.select("doc_a", "doc_b", F.round("est_jaccard", 3).alias("est_jaccard"))


def _q_dedup_clusters(spark, sf):
    """Connected components over the MinHash-LSH candidate pairs —
    emits dedup *clusters*, not just pairs. Uses the large-star/
    small-star formulation (O(log² component) rounds independent of
    graph diameter — the 10^12-doc path); the min-label-propagation
    twin produces identical labels and stays pytest-equivalence-checked.

    ``with_jaccard=False``: components only need the candidate-pair
    GRAPH, so the per-pair signature re-joins (est_jaccard) are
    skipped — same pair set, two fewer joins over the corpus-sized
    signature frame (r6 optimization)."""
    pairs = dedup.minhash_lsh_pairs(
        _docs_with_neardups(spark, sf), with_jaccard=False
    )
    # the candidate pairs are already distinct with doc_a < doc_b —
    # skip the components' defensive input dedup shuffle
    return dedup.connected_components_star(pairs, assume_distinct=True)


def _q_simhash(spark, sf):
    return dedup.simhash(_t(spark, sf, "documents"))


def _q_simhash_pairs(spark, sf):
    out = dedup.simhash_pairs(_docs_with_neardups(spark, sf))
    return out.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


def _q_ngram_jaccard(spark, sf):
    out = dedup.ngram_jaccard_pairs(_t(spark, sf, "documents"), threshold=0.2)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _q_quality(spark, sf):
    """Quality scoring + language-ID per doc — both text-analysis
    operators over the documents table, one row per doc, exercised
    through their real APIs and joined into one registry entry (the
    driver records at most ~50 correctness rows; merging same-grain
    feature queries keeps every operator oracled)."""
    # r6 optimization: the three per-doc frames are computed in ONE
    # staged pipeline (text/tokens/words/lines → counts → outputs)
    # instead of three corpus scans glued by two doc_id sort-merge
    # joins — every count evaluates once per row, and the scan is
    # fanned out (this is the most per-row-compute-heavy query in the
    # bench; measured 2.5x from fan-out alone). Output rows/columns
    # are identical: the joins were inner on the unique doc_id over
    # three same-source one-row-per-doc frames.
    docs = _t(spark, sf, "documents", fanout=True)
    # the synthetic corpus has no sentence punctuation / bullets /
    # code braces, so the C4+Gopher flags are exercised over a
    # deterministically varied wrapper (same construction in the SQL
    # twin) — every rule fires on some docs and not others
    varied_text = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit(" End one. End two. End three.")
        ).otherwise(F.lit(" no sentence end")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" lorem ipsum")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" {")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("\n- bullet javascript line\nends with ..."),
        ).otherwise(F.lit("")),
    )
    vb = textquality.c4_prebind_cols(F.coalesce(varied_text, F.lit("")))
    pre = docs.select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("_t"),
        tfidf_ops.tokens_col("text").alias("_toks"),
        vb["_t"].alias("_vt"),
        vb["_words"].alias("_vwords"),
        vb["_lines"].alias("_vlines"),
    )
    q_counts = textquality.quality_counts(F.col("_t"), F.col("_toks"))
    l_counts = textquality.lang_counts(F.col("_toks"))
    c_counts = textquality.c4_counts(
        F.col("_vt"), F.col("_vwords"), F.col("_vlines")
    )
    mid = pre.select(
        "doc_id",
        *(c.alias(n) for n, c in q_counts.items()),
        *(c.alias(n) for n, c in l_counts.items()),
        *(c.alias(n) for n, c in c_counts.items()),
    )
    bound = {n: F.col(n) for n in (*q_counts, *l_counts, *c_counts)}
    return mid.select(
        "doc_id",
        *(c.alias(n) for n, c in textquality.quality_out_cols(bound).items()),
        textquality.lang_pred_col(bound).alias("lang_pred"),
        *(c.alias(n) for n, c in textquality.c4_out_cols(bound).items()),
    )


def _q_token_fingerprints(spark, sf):
    """Token counting + winnowing fingerprints, same per-doc grain,
    joined into one registry entry (same slot-budget rationale as
    word_stats; fingerprints' n_tokens is renamed to avoid colliding
    with future joins)."""
    # fused (r6): both operators are per-doc projections over the same
    # source — one staged pipeline (text+tokens bound once, md5'd
    # shingle array bound once) instead of two corpus scans glued by a
    # doc_id join
    docs = _t(spark, sf, "documents")
    pre = docs.select(
        "doc_id",
        F.trim(F.coalesce(F.col("text"), F.lit(""))).alias("_t"),
        tfidf_ops.tokens_col("text").alias("_toks"),
    )
    tc = textquality.token_count_cols(F.col("_t"))
    mid = pre.select(
        "doc_id",
        *(c.alias(n) for n, c in tc.items()),
        F.transform(
            dedup.shingles_from_tokens(F.col("_toks"), 4), F.md5
        ).alias("_h"),
        F.size(F.col("_toks")).cast("long").alias("n_sk_tokens"),
    )
    return mid.select(
        "doc_id",
        "ws_tokens",
        "bpe_tokens_est",
        F.array_min(F.col("_h")).alias("fp_min"),
        F.array_max(F.col("_h")).alias("fp_max"),
        "n_sk_tokens",
    )


def _q_substr_dedup(spark, sf):
    """ExactSubstr-style rolling-window duplication stats (Lee et al.
    2021): fraction of each doc's 20-token windows occurring more than
    once in the corpus."""
    return dedup.substr_dup_stats(_t(spark, sf, "documents"), window_tokens=20)


def _q_incremental(spark, sf):
    """Changed-doc anti-join (O2/P2): manifest covers doc_id%3==0 but
    docs with doc_id%7==0 have a stale hash → work list is everything
    not covered by a fresh manifest row."""
    docs = _t(spark, sf, "documents")
    current = docs.select("doc_id", F.md5(F.col("text")).alias("input_md5"))
    manifest = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit("OLD")))
            .otherwise(F.col("text"))
        ).alias("input_md5"),
    )
    return incremental.changed_ids(current, manifest, id_col="doc_id")


def _q_source_priority(spark, sf):
    """S9 prioritized source resolution as coalesce over simulated
    nullable per-source columns."""
    docs = _t(spark, sf, "documents")
    pubget = F.when(F.col("doc_id") % 3 != 0, F.concat(F.lit("P:"), F.col("text")))
    ace = F.when(F.col("doc_id") % 2 != 0, F.concat(F.lit("A:"), F.col("text")))
    db = F.concat(F.lit("D:"), F.col("text"))
    return docs.select(
        "doc_id", F.coalesce(pubget, ace, db).alias("resolved_text")
    )


def _q_add_pipeline(spark, sf):
    """S10 end-to-end: synthesized upstream results table with three
    semvers ('1.10.1' must beat '1.2.0' numerically) and two configs
    under the latest version (newest config_date wins); attach =
    left join, docs with doc_id%10==0 have no result (dangling)."""
    from neurostore_text_extraction_spark.operators.resolve import add_pipeline

    docs = _t(spark, sf, "documents")
    covered = docs.where(F.col("doc_id") % 10 != 0)

    def run_rows(ver, cfg, date):
        return covered.select(
            F.col("doc_id"),
            F.lit("word_count").alias("extractor"),
            F.lit(ver).alias("version"),
            F.lit(cfg).alias("config_hash"),
            F.lit(date).cast("date").alias("config_date"),
            F.concat_ws(
                "/", F.lit(ver), F.lit(cfg), (F.col("doc_id") * 2).cast("string")
            ).alias("payload"),
        )

    results = (
        run_rows("0.9.9", "old", "2023-01-01")
        .unionAll(run_rows("1.2.0", "old", "2023-06-01"))
        .unionAll(run_rows("1.10.1", "abc", "2024-01-01"))
        .unionAll(run_rows("1.10.1", "def", "2024-06-01"))
        .unionAll(
            # decoy rows from another extractor, newest of all
            run_rows("9.9.9", "zzz", "2025-01-01").withColumn(
                "extractor", F.lit("other")
            )
        )
    )
    out = add_pipeline(
        docs.select("doc_id"),
        results,
        extractor="word_count",
        id_col="doc_id",
        warn_dangling=False,
    )
    return out.select("doc_id", "version", "config_hash", "payload")


def _q_source_attach(spark, sf):
    """S4 processed-source attach + S9 resolution through the real
    resolve_sources API: nullable per-source struct columns
    (pubget/ace/db), dot-path field access, coalesce priority."""
    from neurostore_text_extraction_spark.operators.resolve import resolve_sources

    docs = _t(spark, sf, "documents")
    did = F.col("doc_id")
    attached = docs.select(
        "doc_id",
        F.when(
            did % 3 != 0,
            F.struct(F.concat(F.lit("P:"), F.col("text")).alias("text")),
        ).alias("pubget"),
        F.when(
            did % 2 != 0,
            F.struct(F.concat(F.lit("A:"), F.col("text")).alias("text")),
        ).alias("ace"),
        F.struct(F.concat(F.lit("D:"), F.col("text")).alias("text")).alias("db"),
    )
    return attached.select(
        "doc_id",
        resolve_sources(attached, "text", ("pubget", "ace", "db")).alias(
            "resolved_text"
        ),
    )


def _q_latest_order(spark, sf):
    """W3 newest-prior-result pick: latest order per customer."""
    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        )
    )


def _q_topk_per_group(spark, sf):
    """W4 top-k: 3 priciest lineitems per returnflag."""
    li = _t(spark, sf, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    return (
        li.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").alias("price"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def _q_pricing_summary(spark, sf):
    """TPC-H Q1-shaped aggregate; money sums in DECIMAL for exact
    cross-engine equality, then cast to double."""
    li = _t(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            (F.sum(dec("l_extendedprice")).cast("double") / F.count("*")).alias(
                "avg_price"
            ),
            F.count("*").cast("long").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            F.round("avg_price", 4).alias("avg_price"),
            "count_order",
        )
    )


def _q_revenue_topn(spark, sf):
    """Q3-shaped join: customer ⨝ orders ⨝ lineitem, top 10 orders by
    revenue. Dimension side broadcast explicitly."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    rev = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
    )
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(rev, orders.o_orderkey == rev.l_orderkey)
        .where(F.col("o_orderstatus") != "F")
    )
    return (
        joined.select(
            "o_orderkey",
            "c_name",
            F.round("revenue", 2).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def _q_ann_bruteforce(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


_LSH_PLANES = 4
_LSH_DIM = 64
_LSH_TABLES = 8  # L independent tables: recall@5 = 0.97 on sf0.01
_LSH_PROBES = 3  # probe bucket + 2 single-bit-flip neighbors per table


def _q_ann_lsh(spark, sf):
    """LSH-bucketed ANN: sign-signature bucket join over 8 hash tables
    with 3 probes each, exact cosine re-rank within candidates (the
    consolidated similarity.lsh_topk; measured recall@5 = 0.97 vs
    brute force — see BENCH/recall_lsh.py)."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.lsh_topk(
        emb,
        queries,
        dim=_LSH_DIM,
        k=5,
        n_planes=_LSH_PLANES,
        n_probes=_LSH_PROBES,
        n_tables=_LSH_TABLES,
    )
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


_NDUP_PLANES = 8  # 256 buckets/table: self-join stays sparse as N grows
_NDUP_TABLES = 4


def _q_dedup_embedding(spark, sf):
    """Embedding-cosine near-duplicate pairs (task-brief dedup family):
    LSH self-join + exact cosine re-rank. Near-dups are synthesized
    deterministically — every vec_id % 10 == 0 vector gets a copy with
    +0.1 on its first coordinate (cosine ≈ 0.995 to its unit-norm
    source — recall ≈ 1 at the 8-plane/4-table config, while
    random uniform pairs stay ≪ 0.9), so the expected pair set is
    closed-form for the oracle."""
    emb = _t(spark, sf, "embeddings")
    v = F.col("embedding").cast("array<double>")
    base = emb.select("vec_id", v.alias("embedding"))
    perturbed = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at(v, 1) + F.lit(0.1)),
            F.slice(v, 2, _LSH_DIM - 1),
        ).alias("embedding"),
    )
    out = similarity.embedding_neardup_pairs(
        base.unionAll(perturbed),
        dim=_LSH_DIM,
        threshold=0.9,
        n_planes=_NDUP_PLANES,
        n_tables=_NDUP_TABLES,
    )
    return out.select("doc_a", "doc_b", F.round("cosine", 4).alias("cosine"))


def _q_mean_pool(spark, sf):
    """A4 embedding mean-pool, grouped by label, exploded to (label,
    dim, mean) rows."""
    emb = _t(spark, sf, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim0", "v"))
        .groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 5).alias("mean_v"))
    )


def _q_textnorm_abbrev(spark, sf):
    """Registry-merged row (round 4, budget): F1 normalize_string
    (capwords parity) JOINED with F2 Schwartz–Hearst abbreviation
    detection (input salted with a known definition so the oracle is
    expressible) — both per-doc pandas-UDF text functions over
    documents; operators unchanged, separately pytest-covered."""
    from neurostore_text_extraction_spark.operators.postprocess import (
        extract_abbreviations_udf,
        normalize_string_udf,
    )

    docs = _t(spark, sf, "documents")
    norm = docs.select(
        "doc_id", normalize_string_udf(F.col("text")).alias("norm_text")
    )
    salted = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" Magnetic Resonance Imaging (MRI) end.")
        ).alias("salted"),
    )
    ab = salted.select(
        "doc_id", F.explode(extract_abbreviations_udf(F.col("salted"))).alias("ab")
    ).select("doc_id", "ab.short_text", "ab.long_text")
    return norm.join(ab, "doc_id", "left")


def _q_url_quality_filter(spark, sf):
    """RefinedWeb §3.1.1-style URL triage: curated domain blocklist
    (subdomain-aware) + flagged-word scoring over the URL itself —
    the cheapest filter in a crawl pipeline, exercised with
    deterministically planted bad domains and bad path words."""
    from neurostore_text_extraction_spark.operators.webtext import (
        url_quality_filter,
    )

    did = F.col("doc_id")
    urls = _synth_urls(spark, sf).select(
        "doc_id",
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit("https://ads.blocked"),
                (did % 3).cast("string"),
                F.lit(".example/page"),
            ),
        )
        .when(
            did % 13 == 0,
            F.concat(F.lit("https://ok.example/casino/bonus"), did.cast("string")),
        )
        .otherwise(F.col("url"))
        .alias("url"),
    )
    out = url_quality_filter(
        urls,
        blocked_domains=["blocked0.example", "blocked1.example", "blocked2.example"],
    )
    return out.select(
        "doc_id", "domain", "n_banned_hits", "blocked_domain", "keep_url"
    )


def _q_extract_roundtrip(spark, sf):
    """The graft axis, oracle-checked: wrap each doc's text in a
    boilerplate page JVM-side, extract main content via the Arrow UDF
    pipeline, expect exactly the whitespace-collapsed original text."""
    docs = _t(spark, sf, "documents").where(
        F.size(F.expr(f"regexp_extract_all(lower(text), r'{TOK}', 0)")) >= 8
    )
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(F.lit(_WRAP_PRE), F.col("text"), F.lit(_WRAP_POST)), "utf-8"
        ).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )
    ext = extract_pages(pages, num_partitions=None, salt=True)
    return ext.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("text").alias("extracted_text"),
    )


# --- round-1 extension queries (U4/U7/U8/F13/F14/A5/S3/multimodal) ---

_LEXICON = [
    (1, "brain imaging study", True),
    (2, "data analysis method", True),
    (3, "memory task response", False),
    (4, "signal processing model", True),
    (5, "language learning network", False),
    (6, "attention control group", True),
    (7, "emotion regulation effect", False),
    (8, "cortex activation measure", True),
]


def _q_entity_link(spark, sf):
    """U7 char-ngram cosine candidate generation + threshold/top-k.

    Mentions are lexicon terms (picked by doc_id) perturbed with a noise
    suffix from the doc's own text, so candidate scores are high for the
    source concept and moderate for related ones — a non-vacuous,
    discriminating result set at the production thresholds (reference
    semantics: ``umls_disease/model.py:249-273``)."""
    from neurostore_text_extraction_spark.operators.entity_link import link_entities

    docs = _t(spark, sf, "documents").where(
        F.col("text").isNotNull() & (F.length("text") >= 24)
    )
    names = F.array(*[F.lit(name) for _, name, _ in _LEXICON])
    mentions = docs.select(
        F.col("doc_id").alias("mention_id"),
        F.concat(
            F.element_at(names, (F.col("doc_id") % 8 + 1).cast("int")),
            F.lit(" "),
            F.substring("text", 1, 6),
        ).alias("mention"),
    )
    lexicon = spark.createDataFrame(
        _LEXICON, "concept_id int, concept_name string, has_definition boolean"
    )
    out = link_entities(mentions, lexicon, k=3, threshold=0.15, no_definition_threshold=0.2)
    return out.select(
        "mention_id", "concept_id", F.round("score", 6).alias("score"), "rank"
    )


def _q_llm_demographics(spark, sf):
    """U5 ParticipantDemographics LLM stage with the deterministic stub
    client: Template prompt + $-escape (F7) + mapInPandas batching +
    JSON parse + schema validation. The synthesized text includes a
    literal '$' so the escape path is exercised on every row."""
    from neurostore_text_extraction_spark.operators.llm_extract import (
        StubLLMClient,
        llm_extract,
    )

    docs = _t(spark, sf, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("Cost was $"),
            (F.col("doc_id") % 9).cast("string"),
            F.lit(". We enrolled "),
            (F.col("doc_id") % 50 + 10).cast("string"),
            F.lit(" patients and "),
            (F.col("doc_id") % 20 + 5).cast("string"),
            F.lit(" controls."),
        ).alias("text"),
    )
    out = llm_extract(pages, StubLLMClient, id_col="doc_id")
    return out.select(
        "doc_id", F.explode("groups").alias("g"), "valid"
    ).select("doc_id", "g.group_name", "g.count", "valid")


def _q_llm_task(spark, sf):
    """U6 TaskExtractor: same machinery, task prompt/schema."""
    from neurostore_text_extraction_spark.operators.llm_extract import (
        TASK_PROMPT,
        StubLLMClient,
        llm_extract,
    )

    docs = _t(spark, sf, "documents")
    task = F.element_at(
        F.array(F.lit("stroop"), F.lit("nback"), F.lit("gonogo"), F.lit("flanker")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("Participants performed the "), task, F.lit(" task twice.")
        ).alias("text"),
    )
    out = llm_extract(
        pages,
        lambda: StubLLMClient(mode="tasks"),
        prompt_template=TASK_PROMPT,
        mode="tasks",
        id_col="doc_id",
    )
    return out.select("doc_id", F.explode("tasks").alias("task"), "valid")


_CTX_SOURCE = "We analysed the brain imaging study (BIS) cohort."


def _q_entity_link_ctx(spark, sf):
    """J3 abbreviation-context linking: the mention carries a short
    form ('BIS') defined in its study's source text; the mention is
    expanded before candidate generation, so it links strongly to the
    'brain imaging study' concept. Oracle = replace() + same cosine."""
    from neurostore_text_extraction_spark.operators.entity_link import (
        link_entities_with_context,
    )

    docs = _t(spark, sf, "documents").where(
        F.col("text").isNotNull() & (F.length("text") >= 24)
    )
    mentions = docs.select(
        F.col("doc_id").alias("mention_id"),
        F.concat(F.lit("BIS "), F.substring("text", 1, 6)).alias("mention"),
        F.lit(_CTX_SOURCE).alias("source_text"),
    )
    lexicon = spark.createDataFrame(
        _LEXICON, "concept_id int, concept_name string, has_definition boolean"
    )
    out = link_entities_with_context(
        mentions, lexicon, k=3, threshold=0.15, no_definition_threshold=0.2
    )
    return out.select(
        "mention_id", "concept_id", F.round("score", 6).alias("score"), "rank"
    )


def _groups_col():
    g1 = F.struct(
        F.lit("control").alias("group_name"),
        F.lit(None).cast("string").alias("diagnosis"),
        F.when(F.col("doc_id") % 5 != 0, (F.col("doc_id") % 7 - 1).cast("int")).alias("count"),
        F.lit(None).cast("int").alias("male_count"),
        (F.col("doc_id") % 3).cast("int").alias("female_count"),
    )
    g2 = F.struct(
        F.lit("patient").alias("group_name"),
        F.lit("mdd").cast("string").alias("diagnosis"),
        (F.col("doc_id") % 10).cast("int").alias("count"),
        (F.col("doc_id") % 4).cast("int").alias("male_count"),
        F.lit(None).cast("int").alias("female_count"),
    )
    return F.when(F.col("doc_id") % 4 == 0, F.array(g1)).otherwise(F.array(g1, g2))


def _q_demographics(spark, sf):
    """F13 nested demographic cleanup over synthesized groups."""
    from neurostore_text_extraction_spark.operators.demographics import clean_groups

    docs = _t(spark, sf, "documents").select("doc_id", _groups_col().alias("groups"))
    return clean_groups(docs, id_col="doc_id")


def _q_nested_postprocess(spark, sf):
    """F6 generic schema-metadata-driven rewrite + validation: the
    declared schema marks groups[].diagnosis for abbreviation
    expansion + normalization and groups[].count as required; the
    rewrite runs entirely in higher-order functions (no UDF except the
    one Schwartz–Hearst extraction per row)."""
    from pyspark.sql import types as T

    from neurostore_text_extraction_spark.operators import schemaproc as SP

    schema = T.StructType(
        [
            T.StructField(
                "groups",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("group_name", T.StringType()),
                            T.StructField(
                                "diagnosis",
                                T.StringType(),
                                metadata={SP.NORMALIZE: True, SP.EXPAND: True},
                            ),
                            T.StructField(
                                "count", T.IntegerType(), metadata={SP.REQUIRED: True}
                            ),
                        ]
                    )
                ),
                metadata={SP.REQUIRED: True},
            )
        ]
    )
    docs = _t(spark, sf, "documents")
    diagnosis = (
        F.when(F.col("doc_id") % 3 == 0, "  major depressive disorder ")
        .when(F.col("doc_id") % 3 == 1, "None")
        .otherwise("MDD")
    )
    count = F.when(F.col("doc_id") % 5 != 0, (F.col("doc_id") % 7).cast("int"))
    df = docs.select(
        "doc_id",
        F.lit("We studied major depressive disorder (MDD) patients.").alias("src"),
        F.array(
            F.struct(
                F.lit("patient").alias("group_name"),
                diagnosis.alias("diagnosis"),
                count.alias("count"),
            )
        ).alias("groups"),
    )
    out = SP.with_validity(SP.apply_schema_postprocess(df, schema, source_col="src"), schema)
    return out.select("doc_id", F.explode("groups").alias("g"), "valid").select(
        "doc_id", "g.diagnosis", F.col("g.count").alias("count"), "valid"
    )


def _q_patient_study(spark, sf):
    """U8: any group named 'patient' → bool, via F.exists."""
    from neurostore_text_extraction_spark.operators.demographics import (
        has_patient_group,
    )

    docs = _t(spark, sf, "documents").select("doc_id", _groups_col().alias("groups"))
    return docs.select("doc_id", has_patient_group(F.col("groups")).alias("has_patient"))


def _q_metrics_normalize(spark, sf):
    """F14 evaluation metric normalizers."""
    from neurostore_text_extraction_spark.functions import metrics as M

    docs = _t(spark, sf, "documents")
    num_str = F.concat(F.lit("~"), F.col("doc_id").cast("string"), F.lit("kg"))
    bool_str = (
        F.when(F.col("doc_id") % 3 == 0, "Yes")
        .when(F.col("doc_id") % 3 == 1, "no")
        .otherwise("maybe")
    )
    age_str = F.concat(
        (F.col("doc_id") % 40 + 18).cast("string"),
        F.lit(" to "),
        (F.col("doc_id") % 40 + 25).cast("string"),
    )
    return docs.select(
        "doc_id",
        M.norm_text(F.substring("text", 1, 40)).alias("norm_text"),
        M.coerce_numeric(num_str).alias("num_val"),
        M.coerce_boolean(bool_str).alias("bool_val"),
        M.age_range_lo(age_str).alias("age_lo"),
        M.age_range_hi(age_str).alias("age_hi"),
    )


def _eval_pairs(spark, sf):
    """Synthesized (truth, pred) tables with deterministic error
    patterns: wrong values, nulls, case/whitespace noise, within- and
    out-of-tolerance numeric drift."""
    d = _t(spark, sf, "documents").select("doc_id")
    did = F.col("doc_id")
    truth = d.select(
        "doc_id",
        F.lit("Patient Group").alias("group_name"),
        (did % 30).cast("string").alias("count"),
        F.when(did % 2 == 0, "Yes").otherwise("no").alias("has_patient"),
    )
    pred = d.select(
        "doc_id",
        F.when(did % 7 == 0, F.lit(None).cast("string"))
        .when(did % 5 == 0, "other group")
        .otherwise("  PATIENT   GROUP ")
        .alias("group_name"),
        F.when(did % 6 == 0, F.lit(None).cast("string"))
        .when(did % 4 == 0, (did % 30 + 2).cast("string"))
        .when(did % 3 == 0, ((did % 30) + F.lit(0.4)).cast("string"))
        .otherwise((did % 30).cast("string"))
        .alias("count"),
        F.when(did % 11 == 0, "maybe")
        .when(did % 3 == 0, F.when(did % 2 == 0, "no").otherwise("yes"))
        .otherwise(F.when(did % 2 == 0, "YES").otherwise("NO"))
        .alias("has_patient"),
    )
    return truth, pred


def _q_eval_prf(spark, sf):
    """Evaluation harness: per-field precision/recall/F1 with F14
    normalization + numeric tolerance (reference
    calculate_metrics.py:86-152)."""
    from neurostore_text_extraction_spark.operators.evaluation import (
        FieldSpec,
        field_prf,
    )

    truth, pred = _eval_pairs(spark, sf)
    out = field_prf(
        truth,
        pred,
        [
            FieldSpec("group_name", "text"),
            FieldSpec("count", "numeric", tolerance=0.5),
            FieldSpec("has_patient", "bool"),
        ],
        id_col="doc_id",
    )
    return out.select(
        "field",
        "matches",
        "total_ground_truth",
        "total_extracted",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


def _q_corpus_hash(spark, sf):
    """A5 DependentPipeline group-identity hash, BOTH forms in one row:
    the reference-parity sorted-collect sha256 and the commutative
    (count, bit_xor, bit_xor) scale-path digest. One query proves the
    parity form and the scale form over the same corpus."""
    from neurostore_text_extraction_spark.operators.incremental import (
        corpus_hash_df,
        corpus_hash_scalable,
    )

    docs = _t(spark, sf, "documents")
    parity = corpus_hash_df(docs, id_col="doc_id")
    scalable = corpus_hash_scalable(docs, id_col="doc_id").select(
        F.col("corpus_sha256").alias("corpus_sha256_scalable")
    )
    return parity.crossJoin(scalable)


def _q_identifiers_json(spark, sf):
    """S2 identifier load + S6 metadata load with the NaN-repair quirk:
    packed identifiers.json → typed (pmid, pmcid, doi) via native
    from_json, and a pandas-artifact metadata.json (title is the float
    NaN token for doc_id % 5 == 0) → typed (title, abstract) with NaN
    coerced to '' (reference ``ns_extract/pipelines/utils.py:70-74``)."""
    from neurostore_text_extraction_spark.sources.catalog import (
        parse_identifiers,
        parse_study_metadata,
    )

    docs = _t(spark, sf, "documents")
    js = F.concat(
        F.lit('{"pmid": "'),
        (F.col("doc_id") + 10000).cast("string"),
        F.lit('", "pmcid": "PMC'),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit('"}')).otherwise(
            F.concat(F.lit('", "doi": "10.1000/'), F.col("doc_id").cast("string"), F.lit('"}'))
        ),
    )
    title = F.when(F.col("doc_id") % 5 == 0, F.lit("NaN")).otherwise(
        F.concat(F.lit('"Study '), F.col("doc_id").cast("string"), F.lit('"'))
    )
    meta_js = F.concat(
        F.lit('{"title": '),
        title,
        F.lit(', "abstract": "About topic '),
        (F.col("doc_id") % 13).cast("string"),
        F.lit('", "year": 20'),
        F.lpad((F.col("doc_id") % 25).cast("string"), 2, "0"),
        F.lit("}"),
    )
    parsed = docs.select(
        "doc_id",
        parse_identifiers(js).alias("ids"),
        parse_study_metadata(meta_js).alias("meta"),
    )
    return parsed.select(
        "doc_id", "ids.pmid", "ids.pmcid", "ids.doi",
        "meta.title", "meta.abstract", "meta.year",
    )


def _q_table_pairing(spark, sf):
    """S3 pubget table-file pairing by filename stem (groupBy+pivot)."""
    from neurostore_text_extraction_spark.sources.tables import pair_table_files

    docs = _t(spark, sf, "documents")
    stem = F.concat(F.lit("table_00"), (F.col("doc_id") % 3).cast("string"))
    csv_rows = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.concat(stem, F.lit(".csv")).alias("filename"),
        F.concat(F.lit("csvdata:"), F.col("doc_id").cast("string")).alias("payload"),
    )
    info_rows = docs.where(F.col("doc_id") % 4 != 0).select(
        F.col("doc_id").cast("string").alias("url"),
        F.concat(stem, F.lit("_info.json")).alias("filename"),
        F.concat(F.lit("info:"), F.col("doc_id").cast("string")).alias("payload"),
    )
    return pair_table_files(csv_rows.unionAll(info_rows))


def _q_hash_embedding(spark, sf):
    """U4 chunk→hash-embed→mean-pool pipeline, exploded to (doc, dim,
    v); punctuation-free docs yield exactly one chunk, so the oracle
    recomputes the hashing-trick vector in SQL."""
    from neurostore_text_extraction_spark.operators.embeddings import embed_documents

    docs = _t(spark, sf, "documents").where(
        F.col("text").isNotNull()
        & (F.size(F.split(F.lower(F.trim("text")), r"\s+")) >= 5)
        & (F.length(F.trim("text")) > 0)
    )
    emb = embed_documents(docs)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim", "v")
    ).select("doc_id", "dim", F.round("v", 6).alias("v"))


def _q_blob_metadata(spark, sf):
    """Multimodal binary columns, both layers in one grain (r5): the
    byte-level metadata pass (sniff/size/sha256) over the raw text
    blob, PLUS real pixel-derived fields from the from-scratch PNG
    codec — each doc's first 64 utf-8 bytes (zero-padded) become an
    8x8 gray image, encoded to PNG in the UDF, then decoded by
    ``image_stats`` (zlib inflate + unfiltering) back to pixels whose
    sum and aHash the DuckDB oracle recomputes independently from the
    same bytes. Exercises encode -> sniff -> decode -> hash end to
    end inside a green row."""
    from neurostore_text_extraction_spark.operators.multimodal import (
        audio_stats,
        blob_metadata,
        image_stats,
    )

    docs = _t(spark, sf, "documents").where(F.col("text").isNotNull())
    blobs = docs.select(
        F.col("doc_id").cast("string").alias("blob_id"),
        F.encode("text", "utf-8").alias("raw"),
    )
    meta = blob_metadata(blobs, blob_col="raw").select(
        "blob_id", "media_type", "n_bytes", "sha256"
    )

    def _to_png(batches):
        import numpy as np
        import pandas as pd

        from neurostore_text_extraction_spark.functions.image_codec import (
            encode_png,
        )

        for pdf in batches:
            pngs = [
                encode_png(
                    np.frombuffer(
                        bytes(r)[:64].ljust(64, b"\0"), np.uint8
                    ).reshape(8, 8, 1)
                )
                for r in pdf["raw"]
            ]
            yield pd.DataFrame({"blob_id": pdf["blob_id"], "blob": pngs})

    pngs = blobs.mapInPandas(_to_png, "blob_id string, blob binary")
    px = image_stats(pngs).select(
        "blob_id",
        F.col("media_type").alias("png_type"),
        "width",
        "height",
        "channels",
        "px_sum",
        "ahash",
    )

    def _to_wav(batches):
        import numpy as np
        import pandas as pd

        from neurostore_text_extraction_spark.functions.audio_codec import (
            encode_wav,
        )

        for pdf in batches:
            wavs = [
                encode_wav(
                    np.frombuffer(bytes(r)[:64].ljust(64, b"\0"), np.uint8),
                    8000,
                    bits=8,
                )
                for r in pdf["raw"]
            ]
            yield pd.DataFrame({"blob_id": pdf["blob_id"], "blob": wavs})

    # audio twin (r5): the SAME 64 source bytes become 8-bit PCM mono
    # @8 kHz, encoded to RIFF/WAVE in the UDF and decoded back by the
    # from-scratch chunk-walking parser; the oracle recomputes the
    # exact-integer signal features (sum == px_sum by construction,
    # zero crossings / peak of the 128-centered signal) from the hex
    # bytes — audio encode -> sniff -> decode -> features all land in
    # this one green row alongside the PNG path.
    wavs = blobs.mapInPandas(_to_wav, "blob_id string, blob binary")
    au = audio_stats(wavs).select(
        "blob_id",
        F.col("media_type").alias("wav_type"),
        "sample_rate",
        F.col("n_samples").alias("wav_n"),
        F.col("duration_ms").alias("wav_ms"),
        F.col("sample_sum").alias("wav_sum"),
        F.col("zero_crossings").alias("wav_zc"),
        F.col("peak").alias("wav_peak"),
    )
    return meta.join(px, "blob_id").join(au, "blob_id")



# --- webtext corpus-preparation queries ------------------------------------


def _synth_urls(spark, sf):
    """Messy URLs with known canonical forms: uppercase scheme/host,
    default port, tracking params, fragments, trailing slashes — plus
    a NON-default port case (http://host:443) that must be PRESERVED:
    the default-port strip is scheme-aware (http drops only :80,
    https only :443), so http on 443 names a distinct resource."""
    docs = _t(spark, sf, "documents")
    did = F.col("doc_id")
    host = F.concat(F.lit("WWW.Example"), (did % 50).cast("string"), F.lit(".COM"))
    scheme = F.when(did % 7 == 0, F.lit("HTTP://")).otherwise(F.lit("HTTPS://"))
    suffix = (
        F.when(did % 4 == 0, F.lit("/?utm_source=x&fbclid=1"))
        .when(did % 4 == 1, F.concat(F.lit("?id="), did.cast("string"), F.lit("&utm_medium=email")))
        .when(did % 4 == 2, F.lit("#section2"))
        .otherwise(F.lit(""))
    )
    return docs.select(
        "doc_id",
        F.concat(
            scheme, host, F.lit(":443/path"), did.cast("string"), suffix
        ).alias("url"),
        F.length(F.coalesce("text", F.lit(""))).cast("long").alias("n_bytes"),
    )


def _q_domain_stats(spark, sf):
    from neurostore_text_extraction_spark.operators.webtext import domain_stats

    return domain_stats(_synth_urls(spark, sf), size_col="n_bytes")


def _q_pii_url_scrub(spark, sf):
    """Registry-merged row (round 4, budget): PII-shaped redaction
    with audit counts (synthesized contact blurbs, closed-form
    oracle) JOINED with URL canonicalization — both per-doc
    transforms over documents; the underlying operators are unchanged
    and separately pytest-covered."""
    from neurostore_text_extraction_spark.operators.webtext import (
        canonicalize_urls,
        pii_scrub,
    )

    docs = _t(spark, sf, "documents")
    did = F.col("doc_id")
    blurb = F.concat(
        F.lit("Contact user"),
        did.cast("string"),
        F.lit("@mail.example.com or call 555-123-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.when(did % 3 == 0, F.lit(" from 192.168.0.1")).otherwise(F.lit("")),
        F.lit(" today."),
    )
    out = pii_scrub(docs.select("doc_id", blurb.alias("text")))
    urls = canonicalize_urls(_synth_urls(spark, sf)).select(
        "doc_id", "canonical_url"
    )
    return out.select(
        "doc_id", "scrubbed_text", "n_emails", "n_ssns", "n_ips", "n_phones"
    ).join(urls, "doc_id")


def _q_repetition_features(spark, sf):
    """C4/Gopher-style repetition quality signals over the documents
    table (sorted-runs top-word count: O(n log n), no shuffle)."""
    from neurostore_text_extraction_spark.operators.webtext import (
        repetition_features,
    )

    return repetition_features(_t(spark, sf, "documents"))


def _q_contamination(spark, sf):
    """Benchmark decontamination: fraction of each doc's distinct
    3-word shingles present in a broadcast benchmark set (docs with
    doc_id % 97 == 0 ARE the benchmark → frac 1.0 for them)."""
    from neurostore_text_extraction_spark.operators.webtext import (
        contamination_check,
    )

    docs = _t(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0).select("text")
    return contamination_check(docs, bench)


def _q_event_sessions(spark, sf):
    """Batch sessionization over the events stream table (the batch
    analog of streaming session windows): a session breaks when a
    user's inter-event gap exceeds 30 minutes; per user report session
    count and events-per-session."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    ).withColumn(
        "new_session",
        (
            F.col("prev_ts").isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")) > 1800)
        ).cast("int"),
    )
    sess = gaps.withColumn(
        "session_id", F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").cast("long").alias("n_sessions"),
            F.round(F.count("*") / F.max("session_id"), 4).alias("events_per_session"),
        )
    )


def _q_session_windows(spark, sf):
    """Gap-based session windows via the built-in F.session_window
    (batch form of the streaming operator in streaming/sessions.py;
    session end = last event + gap)."""
    from neurostore_text_extraction_spark.streaming.sessions import session_counts

    ev = _t(spark, sf, "events")
    return session_counts(ev, gap="30 minutes", streaming=False)


def _q_events_json(spark, sf):
    """JSON field extraction + typed aggregation over the event props
    column (S6 JSON-source analog)."""
    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(k).cast("long").alias("sum_k"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )



# --- corpus_prep_report fixture (round 4): deterministic per-doc
# variants that exercise EVERY drop reason of the corpus-prep chain
# non-vacuously. Classes by doc_id:
#   %17==1          -> NULL text                  (null_text)
#   %3 !=0          -> raw synthetic text         (c4_filter: no sentences)
#   %15==0          -> one fixed 60-word body     (exact_dup, min id kept)
#   %15==3          -> 60 distinct tokens + per-doc tail token
#                                                 (near_dup, jaccard ~0.92)
#   %15==6          -> 80 PAIR-shared tokens (group doc_id//30) + 40
#                      per-doc tokens             (substr_dup: ~55% of
#                      20-token windows corpus-duplicated, while the
#                      3-shingle jaccard ~0.50 stays under the 0.7
#                      near-dup threshold)
#   %15 in {9,12}   -> raw text + sentence tail   (kept, or gopher_filter
#                      when the raw text fails Gopher)
_CPR_TAIL = ". End one sentence. End two sentence. End three sentence."
_CPR_DUP = (
    "engine pipeline parses tokens into columns with great care and speed "
    * 6
).strip()
_CPR_NEAR = " ".join(f"nearbase{i}" for i in range(60))


def _corpus_prep_docs(spark, sf):
    did = F.col("doc_id")
    sid = did.cast("string")
    gid = F.floor(did / 30).cast("long").cast("string")
    sub_shared = F.concat_ws(
        " ", *[F.concat(F.lit("sub"), gid, F.lit(f"w{i}")) for i in range(80)]
    )
    uniq = F.concat_ws(
        " ", *[F.concat(F.lit(f"u{k}x"), sid) for k in range(40)]
    )
    text = (
        F.when(did % 17 == 1, F.lit(None).cast("string"))
        .when(did % 3 != 0, F.col("text"))
        .when(did % 15 == 0, F.lit(_CPR_DUP + _CPR_TAIL))
        .when(
            did % 15 == 3,
            F.concat(F.lit(_CPR_NEAR + " tailx"), sid, F.lit(_CPR_TAIL)),
        )
        .when(
            did % 15 == 6,
            F.concat(sub_shared, F.lit(" "), uniq, F.lit(_CPR_TAIL)),
        )
        .otherwise(F.concat(F.col("text"), F.lit(_CPR_TAIL)))
    )
    return _t(spark, sf, "documents").select("doc_id", text.alias("text"))


def _q_corpus_prep_report(spark, sf):
    """The flagship user journey's drop report (VERDICT r3 next-round
    #6): C4+Gopher filters -> exact dedup -> MinHash near-dup clusters
    -> ExactSubstr dup cap, one row per drop reason (+ 'kept'). The
    oracle twin composes the existing quality/minhash/cluster/substr
    CTE twins over the same fixture."""
    from neurostore_text_extraction_spark.plans.corpus_prep import (
        prepare_training_corpus,
    )

    res = prepare_training_corpus(_corpus_prep_docs(spark, sf), eager=False)
    return res.report.select(
        "reason", F.col("n_docs").cast("long").alias("n_docs")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # A1+A2 merged per-doc (frees a slot within the driver's ~50-row
        # budget); tfidf_df's HAVING path is exercised inside tfidf's
        # min_df=2 idf — its former slot funds line_dedup below
        "word_stats": _q_word_stats,
        "tfidf": _q_tfidf,
        "line_dedup": _q_line_dedup,
        "corpus_prep_report": _q_corpus_prep_report,
        "lm_perplexity": _q_lm_perplexity,
        "dedup_exact": _q_exact_dedup,
        "dedup_minhash_lsh": _q_minhash_pairs,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_simhash": _q_simhash,
        "dedup_simhash_pairs": _q_simhash_pairs,
        "dedup_ngram_jaccard": _q_ngram_jaccard,
        "dedup_embedding": _q_dedup_embedding,
        "quality_features": _q_quality,
        # token_counts + fingerprints merged (same per-doc grain); the
        # freed slot funds substr_dedup
        "token_fingerprints": _q_token_fingerprints,
        "substr_dedup": _q_substr_dedup,
        "incremental_changed": _q_incremental,
        # S6 JSON source — early in the dict: the r2 driver recorded 50
        # of 51 registered queries and this (then-last) one lost its row
        "events_json": _q_events_json,
        "source_priority": _q_source_priority,
        "source_attach": _q_source_attach,
        "add_pipeline_latest": _q_add_pipeline,
        "latest_order_per_customer": _q_latest_order,
        "topk_per_group": _q_topk_per_group,
        "pricing_summary": _q_pricing_summary,
        "revenue_topn": _q_revenue_topn,
        "ann_bruteforce": _q_ann_bruteforce,
        "ann_lsh": _q_ann_lsh,
        "embedding_mean_pool": _q_mean_pool,
        "textnorm_abbrev": _q_textnorm_abbrev,
        "url_quality_filter": _q_url_quality_filter,
        "extract_roundtrip": _q_extract_roundtrip,
        "entity_link": _q_entity_link,
        "entity_link_ctx": _q_entity_link_ctx,
        "llm_demographics": _q_llm_demographics,
        "llm_task": _q_llm_task,
        "demographics_clean": _q_demographics,
        "nested_postprocess": _q_nested_postprocess,
        "patient_study": _q_patient_study,
        "metrics_normalize": _q_metrics_normalize,
        "eval_prf": _q_eval_prf,
        "corpus_hash": _q_corpus_hash,
        "identifiers_json": _q_identifiers_json,
        "table_pairing": _q_table_pairing,
        "hash_embedding": _q_hash_embedding,
        "blob_metadata": _q_blob_metadata,

        "domain_stats": _q_domain_stats,
        "pii_url_scrub": _q_pii_url_scrub,
        "repetition_features": _q_repetition_features,
        "contamination_check": _q_contamination,
        "event_sessions": _q_event_sessions,
        "session_windows": _q_session_windows,
    }


# --- DuckDB oracles ---------------------------------------------------------

_TOKS = r"regexp_extract_all(lower(text), '\w\w+')"
_WC = (
    "CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0 "
    r"ELSE len(regexp_split_to_array(trim(text), '\s+')) END"
)

_SHINGLES3 = (
    f"CASE WHEN len({_TOKS}) < 3 THEN [array_to_string({_TOKS}, ' ')] "
    f"ELSE list_transform(generate_series(1, len({_TOKS}) - 2), "
    f"i -> array_to_string(({_TOKS})[i:i+2], ' ')) END"
)
_SHINGLES4 = (
    f"CASE WHEN len({_TOKS}) < 4 THEN [array_to_string({_TOKS}, ' ')] "
    f"ELSE list_transform(generate_series(1, len({_TOKS}) - 3), "
    f"i -> array_to_string(({_TOKS})[i:i+3], ' ')) END"
)


def _hex_int_sql(expr: str, start: int, n: int) -> str:
    """Parse n hex chars of md5 output (1-based offset) into a BIGINT
    — nibble-by-nibble arithmetic, identical on both engines."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substring({expr}, {start + i}, 1)) - 1)"
        f" * {16 ** (n - 1 - i)}"
        for i in range(n)
    )
    return f"({terms})"


def _minhash_ctes(docs_sql: str | None = None) -> str:
    """Shared CTE chain for the MinHash-LSH oracles: source docs
    (default: docs-with-neardups; ``docs_sql`` overrides — it must
    select (doc_id, text)) → shingles → double-hash signature
    (h1 + i*h2 mod 2^32, mirroring dedup.minhash_signatures) → 32
    bands of 4 → bucket cap → candidate pairs → slot-equality
    est_jaccard."""
    k = dedup.MINHASH_K
    bs = dedup.LSH_BAND_SIZE
    n_bands = k // bs
    mins = ", ".join(f"min((h1 + {i} * h2) % 4294967296) AS mh_{i}" for i in range(k))
    sig_list = ", ".join(f"mh_{i}" for i in range(k))
    band_concat = " || '|' || ".join(f"sig[{bs} * b + {j + 1}]::VARCHAR" for j in range(bs))
    return f"""
    d AS ({docs_sql or _NEARDUP_DOCS_SQL}),
    sh AS (SELECT doc_id, unnest({_SHINGLES3}) AS sh FROM d),
    hv AS (
      SELECT doc_id, {_hex_int_sql('h', 1, 8)} AS h1, {_hex_int_sql('h', 9, 8)} AS h2
      FROM (SELECT doc_id, md5(sh) AS h FROM sh)
    ),
    mins AS (SELECT doc_id, {mins} FROM hv GROUP BY doc_id),
    sigt AS (SELECT doc_id, [{sig_list}] AS sig FROM mins),
    bands AS (
      SELECT doc_id, b AS band_idx, md5({band_concat}) AS band_hash
      FROM sigt, (SELECT unnest(generate_series(0, {n_bands - 1})) AS b) bl
    ),
    capped AS (
      SELECT doc_id, band_idx, band_hash FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS bsz FROM bands
      ) WHERE bsz <= {dedup.LSH_BUCKET_CAP}
    ),
    cpairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT doc_a, doc_b,
             len(list_filter(generate_series(1, {k}),
                             i -> sa.sig[i] = sb.sig[i])) / {float(k)} AS est_jaccard
      FROM cpairs
      JOIN sigt sa ON sa.doc_id = doc_a
      JOIN sigt sb ON sb.doc_id = doc_b
    )"""


def _lang_hits_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in textquality.LANG_MARKERS[lang])
    return f"len(list_filter({_TOKS}, x -> x in ({markers})))"


def _plane_weights_sql(n_tables: int | None = None, n_planes: int | None = None) -> str:
    """Literal hyperplane arrays for the LSH oracles: one row per
    (table, plane) from the same deterministic generator the Spark
    side uses (similarity.plane_weights). Defaults to the ann_lsh
    config; the near-dup oracle passes its own shape."""
    n_tables = _LSH_TABLES if n_tables is None else n_tables
    n_planes = _LSH_PLANES if n_planes is None else n_planes
    rows = []
    for t in range(n_tables):
        ws = similarity.plane_weights(_LSH_DIM, n_planes, table=t)
        for p in range(n_planes):
            rows.append(
                f"({t}, {p}, [" + ", ".join(repr(x) for x in ws[p]) + "]::DOUBLE[])"
            )
    return f"(VALUES {', '.join(rows)}) AS planes(t, p, w)"



_GROUPS_SQL = (
    "SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN [g1] ELSE [g1, g2] END AS groups "
    "FROM (SELECT doc_id, "
    "{'group_name': 'control', 'diagnosis': CAST(NULL AS VARCHAR), "
    " 'count': CASE WHEN doc_id % 5 != 0 THEN (doc_id % 7 - 1)::INT END, "
    " 'male_count': CAST(NULL AS INT), 'female_count': (doc_id % 3)::INT} AS g1, "
    "{'group_name': 'patient', 'diagnosis': 'mdd', 'count': (doc_id % 10)::INT, "
    " 'male_count': (doc_id % 4)::INT, 'female_count': CAST(NULL AS INT)} AS g2 "
    "FROM documents) s"
)


def _lexicon_values_sql() -> str:
    return ", ".join(
        f"({cid}, '{name}', {str(has).lower()})" for cid, name, has in _LEXICON
    )


def _lexicon_case_sql() -> str:
    """doc_id % 8 → lexicon term, mirroring the Spark element_at pick."""
    whens = " ".join(
        f"WHEN {i} THEN '{name}'" for i, (_, name, _) in enumerate(_LEXICON)
    )
    return f"(CASE (doc_id % 8) {whens} END)"


def _entity_link_oracle(mention_expr: str) -> str:
    """Char-3-gram tf-idf cosine linking oracle, parameterized on the
    mention construction expression (shared by entity_link /
    entity_link_ctx). idf = ln((1+n)/(1+df)) + 1 fitted on the lexicon
    (sklearn smooth idf, scispacy CandidateGenerator parity); mention
    ngrams outside the lexicon vocabulary are dropped by the idf join."""
    return f"""
        WITH lex(concept_id, concept_name, has_definition) AS (VALUES {_lexicon_values_sql()}),
        m AS (
          SELECT doc_id AS mention_id, lower({mention_expr}) AS s
          FROM documents WHERE text IS NOT NULL AND length(text) >= 24
        ),
        mg0 AS (
          SELECT mention_id, ng, COUNT(*)::DOUBLE AS cnt FROM (
            SELECT mention_id, unnest(list_transform(
              generate_series(1, length(s) - 2), i -> substring(s, i, 3))) AS ng
            FROM m WHERE length(s) >= 3
          ) GROUP BY 1, 2
        ),
        cgr0 AS (
          SELECT concept_id, ng, COUNT(*)::DOUBLE AS cnt FROM (
            SELECT concept_id, unnest(list_transform(
              generate_series(1, length(lower(concept_name)) - 2),
              i -> substring(lower(concept_name), i, 3))) AS ng
            FROM lex
          ) GROUP BY 1, 2
        ),
        idf AS (
          SELECT ng,
                 ln((1.0 + (SELECT COUNT(*) FROM lex)) / (1.0 + COUNT(*))) + 1.0 AS w
          FROM cgr0 GROUP BY ng
        ),
        cgr AS (
          SELECT concept_id, ng, cgr0.cnt * idf.w AS cnt
          FROM cgr0 JOIN idf USING (ng)
        ),
        mg AS (
          SELECT mention_id, ng, mg0.cnt * idf.w AS cnt
          FROM mg0 JOIN idf USING (ng)
        ),
        mn AS (SELECT mention_id, sqrt(SUM(cnt*cnt)) AS m_norm FROM mg GROUP BY 1),
        cn AS (SELECT concept_id, sqrt(SUM(cnt*cnt)) AS c_norm FROM cgr GROUP BY 1),
        dots AS (
          SELECT mg.mention_id, cgr.concept_id, SUM(mg.cnt * cgr.cnt) AS dot
          FROM mg JOIN cgr USING (ng) GROUP BY 1, 2
        ),
        scored AS (
          SELECT d.mention_id, d.concept_id, d.dot / (mn.m_norm * cn.c_norm) AS score
          FROM dots d JOIN mn USING (mention_id) JOIN cn USING (concept_id)
        ),
        thresholded AS (
          SELECT s.* FROM scored s JOIN lex USING (concept_id)
          WHERE (lex.has_definition AND s.score >= 0.15)
             OR (NOT lex.has_definition AND s.score >= 0.2)
        ),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY mention_id
                    ORDER BY score DESC, concept_id ASC) AS rank
          FROM thresholded
        )
        SELECT mention_id, concept_id, round(score, 6) AS score, rank::INT AS rank
        FROM ranked WHERE rank <= 3
    """


def oracle_sql() -> dict[str, str]:
    simhash_bit = (
        "((strpos('0123456789abcdef', substring(h, b // 4 + 1, 1)) - 1)"
        " >> (b % 4)) & 1"
    )
    return {
        "word_stats": f"""
            WITH wc AS (SELECT doc_id, ({_WC})::BIGINT AS word_count FROM documents),
            m AS (SELECT CAST(floor(SUM(word_count) / COUNT(*)) AS BIGINT) AS mean_wc FROM wc)
            SELECT doc_id, word_count,
                   abs(word_count - mean_wc)::BIGINT AS word_deviance
            FROM wc, m
        """,
        "line_dedup": r"""
            WITH d AS (
              SELECT doc_id,
                     'SHARED NAV HEADER' || chr(10) ||
                     text || '.' || chr(10) ||
                     'JavaScript required for page ' || doc_id || '.' || chr(10) ||
                     'no punct line ' || doc_id || chr(10) ||
                     'w' || doc_id || ' ok.' || chr(10) ||
                     'unique line ' || doc_id || ' stays right here.' AS text
              FROM documents WHERE text IS NOT NULL
            ),
            ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM d),
            ln AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS pos, l FROM ls),
            lx AS (SELECT doc_id, pos, l[pos] AS line, trim(l[pos]) AS key FROM ln),
            over_cap AS (
              SELECT key FROM (
                SELECT key, COUNT(*) AS nd
                FROM (SELECT DISTINCT doc_id, key FROM lx WHERE key != '')
                GROUP BY key
              ) WHERE nd > 1
            ),
            fl AS (
              SELECT *,
                (key != '' AND (
                  key IN (SELECT key FROM over_cap)
                  OR NOT regexp_matches(key, '[.!?”"’'']$')
                  OR len(regexp_split_to_array(key, '\s+')) < 3
                  OR contains(lower(key), 'javascript')
                )) AS dropped
              FROM lx
            ),
            re AS (
              SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     SUM(CASE WHEN key != '' THEN 1 ELSE 0 END)::BIGINT AS n_lines_kept
              FROM fl WHERE NOT dropped GROUP BY doc_id
            ),
            dr AS (
              SELECT doc_id, SUM(CASE WHEN dropped THEN 1 ELSE 0 END)::BIGINT AS n_dropped
              FROM fl GROUP BY doc_id
            )
            SELECT d.doc_id, COALESCE(re.clean_text, '') AS clean_text,
                   COALESCE(re.n_lines_kept, 0)::BIGINT AS n_lines_kept,
                   COALESCE(dr.n_dropped, 0)::BIGINT AS n_lines_dropped
            FROM d LEFT JOIN re USING (doc_id) LEFT JOIN dr USING (doc_id)
        """,
        "corpus_prep_report": f"""
            WITH RECURSIVE vd AS (
              SELECT doc_id,
                CASE
                  WHEN doc_id % 17 = 1 THEN NULL
                  WHEN doc_id % 3 != 0 THEN text
                  WHEN doc_id % 15 = 0 THEN trim(repeat('engine pipeline parses tokens into columns with great care and speed ', 6)) || '. End one sentence. End two sentence. End three sentence.'
                  WHEN doc_id % 15 = 3 THEN array_to_string(list_transform(generate_series(0, 59), i -> 'nearbase' || i), ' ') || ' tailx' || doc_id || '. End one sentence. End two sentence. End three sentence.'
                  WHEN doc_id % 15 = 6 THEN array_to_string(list_transform(generate_series(0, 79), i -> 'sub' || (doc_id // 30) || 'w' || i), ' ') || ' ' || array_to_string(list_transform(generate_series(0, 39), k -> 'u' || k || 'x' || doc_id), ' ') || '. End one sentence. End two sentence. End three sentence.'
                  ELSE text || '. End one sentence. End two sentence. End three sentence.'
                END AS text
              FROM documents
            ),
            cb AS (
              SELECT doc_id, coalesce(text, '') AS t, lower(coalesce(text, '')) AS lt,
                     list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                 w -> w != '') AS words,
                     list_filter(string_split(coalesce(text, ''), chr(10)),
                                 l -> trim(l) != '') AS lines
              FROM vd
            ),
            cf AS (
              SELECT doc_id,
                len(words) AS n_words,
                len(regexp_extract_all(t, '[^.!?]+[.!?]')) AS n_sentences,
                CASE WHEN len(words) > 0 THEN
                  list_sum(list_transform(words, w -> length(w))) / CAST(len(words) AS DOUBLE)
                ELSE 0.0 END AS mean_word_len,
                CASE WHEN len(words) > 0 THEN
                  ((length(t) - length(replace(t, '#', '')))
                   + (length(t) - length(replace(t, '...', ''))) / 3
                   + (length(t) - length(replace(t, '…', ''))))
                  / CAST(len(words) AS DOUBLE)
                ELSE 0.0 END AS symbol_word_ratio,
                CASE WHEN len(words) > 0 THEN
                  len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                  / CAST(len(words) AS DOUBLE)
                ELSE 0.0 END AS frac_alpha_words,
                CASE WHEN len(lines) > 0 THEN
                  len(list_filter(lines, l -> regexp_matches(trim(l), '^([-*•])')))
                  / CAST(len(lines) AS DOUBLE)
                ELSE 0.0 END AS frac_lines_bullet,
                CASE WHEN len(lines) > 0 THEN
                  len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
                  / CAST(len(lines) AS DOUBLE)
                ELSE 0.0 END AS frac_lines_ellipsis_end,
                contains(lt, 'lorem ipsum') AS has_lorem_ipsum,
                contains(t, '{{') AS has_curly_brace
              FROM cb
            ),
            ck AS (
              SELECT doc_id,
                     (n_sentences >= 3 AND NOT has_lorem_ipsum AND NOT has_curly_brace)
                       AS keep_c4,
                     (n_words >= 50 AND n_words <= 100000
                      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                      AND symbol_word_ratio < 0.1 AND frac_alpha_words >= 0.8
                      AND frac_lines_bullet < 0.9 AND frac_lines_ellipsis_end < 0.3)
                       AS keep_gopher
              FROM cf
            ),
            r1 AS (
              SELECT vd.doc_id, vd.text,
                     CASE WHEN vd.text IS NULL THEN 'null_text'
                          WHEN NOT ck.keep_c4 THEN 'c4_filter'
                          WHEN NOT ck.keep_gopher THEN 'gopher_filter' END AS reason
              FROM vd JOIN ck USING (doc_id)
            ),
            fok AS (SELECT doc_id, text FROM r1 WHERE reason IS NULL),
            reps AS (SELECT MIN(doc_id) AS rep FROM fok GROUP BY md5(text)),
            {_minhash_ctes("SELECT doc_id, text FROM fok")},
            pairs7 AS (SELECT doc_a, doc_b FROM scored WHERE est_jaccard >= 0.7),
            pedges AS (
              SELECT doc_a AS u, doc_b AS v FROM pairs7
              UNION SELECT doc_b, doc_a FROM pairs7
            ),
            reach(u, r) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM pedges)
              UNION
              SELECT e.u, reach.r FROM pedges e JOIN reach ON reach.u = e.v
            ),
            clus AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u),
            r2 AS (
              SELECT r1.doc_id, r1.text,
                     coalesce(r1.reason,
                       CASE WHEN r1.doc_id NOT IN (SELECT rep FROM reps)
                              THEN 'exact_dup'
                            WHEN EXISTS (SELECT 1 FROM clus c
                                         WHERE c.doc_id = r1.doc_id
                                           AND c.doc_id != c.cluster_id)
                              THEN 'near_dup' END) AS reason
              FROM r1
            ),
            s2 AS (SELECT doc_id, text FROM r2 WHERE reason IS NULL),
            ssh AS (
              SELECT doc_id, unnest(
                CASE WHEN len({_TOKS}) < 20 THEN [array_to_string({_TOKS}, ' ')]
                ELSE list_transform(generate_series(1, len({_TOKS}) - 19),
                                    i -> array_to_string(({_TOKS})[i:i+19], ' ')) END
              ) AS w
              FROM s2 WHERE len({_TOKS}) > 0
            ),
            sc AS (SELECT w, COUNT(*) AS n FROM ssh GROUP BY w),
            sdf AS (
              SELECT doc_id,
                     round(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END)
                           / COUNT(*)::DOUBLE, 6) AS dup_frac
              FROM ssh JOIN sc USING (w) GROUP BY doc_id
            ),
            r3 AS (
              SELECT r2.doc_id,
                     coalesce(r2.reason,
                       CASE WHEN coalesce(sdf.dup_frac, 0.0) > 0.5
                            THEN 'substr_dup' END) AS reason
              FROM r2 LEFT JOIN sdf ON sdf.doc_id = r2.doc_id
            )
            SELECT coalesce(reason, 'kept') AS reason,
                   COUNT(*)::BIGINT AS n_docs
            FROM r3 GROUP BY 1
        """,
        "lm_perplexity": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            dbg AS (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1])) AS bg
              FROM toks WHERE len(t) >= 2
            ),
            counts AS (SELECT bg, COUNT(*)::BIGINT AS c FROM dbg GROUP BY bg),
            split AS (
              SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2, c
              FROM counts
            ),
            ctx AS (SELECT w1, SUM(c)::BIGINT AS c1 FROM split GROUP BY w1),
            vocab AS (
              SELECT COUNT(*)::DOUBLE AS v FROM
              (SELECT w1 AS w FROM split UNION SELECT w2 FROM split)
            ),
            rows_scored AS (
              SELECT d.doc_id,
                     -ln((COALESCE(s.c, 0) + 1.0) / (COALESCE(ctx.c1, 0) + vocab.v))
                       AS nlp
              FROM dbg d
              LEFT JOIN split s ON s.w1 = split_part(d.bg, ' ', 1)
                               AND s.w2 = split_part(d.bg, ' ', 2)
              LEFT JOIN ctx ON ctx.w1 = split_part(d.bg, ' ', 1)
              CROSS JOIN vocab
            ),
            agg AS (
              SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams, AVG(nlp) AS a
              FROM rows_scored GROUP BY doc_id
            ),
            -- stupid-backoff trigram scoring (Brants et al.): raw
            -- count tables, alpha=0.4 backoff, unseen-last-word floor
            -- at pseudo-count 1
            dtg AS (
              SELECT doc_id, t.w1, t.w2, t.w3 FROM (
                SELECT doc_id, unnest(list_transform(
                  generate_series(1, len(t) - 2),
                  i -> {{'w1': t[i], 'w2': t[i+1], 'w3': t[i+2]}})) AS t
                FROM toks WHERE len(t) >= 3
              )
            ),
            c3t AS (SELECT w1, w2, w3, COUNT(*)::BIGINT AS c3 FROM dtg GROUP BY 1,2,3),
            c2t AS (
              SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
                     COUNT(*)::BIGINT AS c2
              FROM dbg GROUP BY 1, 2
            ),
            c1t AS (
              SELECT w, COUNT(*)::BIGINT AS c1 FROM (
                SELECT unnest(t) AS w FROM toks
              ) GROUP BY w
            ),
            ntok AS (SELECT COALESCE(SUM(c1), 0)::DOUBLE AS n FROM c1t),
            sbo_rows AS (
              SELECT d.doc_id,
                -ln(CASE
                  WHEN c3t.c3 IS NOT NULL THEN c3t.c3 / cp.c2::DOUBLE
                  WHEN cb.c2 IS NOT NULL THEN 0.4 * cb.c2 / cm.c1::DOUBLE
                  ELSE 0.16 * GREATEST(COALESCE(cl.c1, 0), 1) / ntok.n
                END) AS nls
              FROM dtg d
              LEFT JOIN c3t ON c3t.w1 = d.w1 AND c3t.w2 = d.w2 AND c3t.w3 = d.w3
              LEFT JOIN c2t cp ON cp.w1 = d.w1 AND cp.w2 = d.w2
              LEFT JOIN c2t cb ON cb.w1 = d.w2 AND cb.w2 = d.w3
              LEFT JOIN c1t cm ON cm.w = d.w2
              LEFT JOIN c1t cl ON cl.w = d.w3
              CROSS JOIN ntok
            ),
            sbo AS (
              SELECT doc_id, COUNT(*)::BIGINT AS n_trigrams, AVG(nls) AS s
              FROM sbo_rows GROUP BY doc_id
            )
            SELECT ids.doc_id, COALESCE(agg.n_bigrams, 0)::BIGINT AS n_bigrams,
                   round(agg.a, 6) AS avg_neg_logp,
                   round(exp(agg.a), 3) AS perplexity,
                   COALESCE(sbo.n_trigrams, 0)::BIGINT AS n_trigrams,
                   round(sbo.s, 6) AS sbo_neg_logscore
            FROM (SELECT DISTINCT doc_id FROM documents) ids
            LEFT JOIN agg USING (doc_id)
            LEFT JOIN sbo USING (doc_id)
        """,
        "tfidf": f"""
            WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
            tf AS (SELECT doc_id, term, COUNT(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
            n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
            dfreq AS (
              SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
              HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            idf AS (SELECT term, ln((1.0 + n_docs) / (1.0 + df)) + 1.0 AS idf FROM dfreq, n),
            raw AS (SELECT doc_id, tf.term, tf * idf AS w FROM tf JOIN idf USING (term)),
            nrm AS (SELECT doc_id, sqrt(SUM(w * w)) AS norm FROM raw GROUP BY 1)
            SELECT raw.doc_id, raw.term, round(w / norm, 6) AS tfidf
            FROM raw JOIN nrm USING (doc_id)
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_md5, COUNT(*)::BIGINT AS n_docs,
                   MIN(doc_id) AS representative
            FROM documents GROUP BY md5(text)
        """,
        "dedup_minhash_lsh": f"""
            WITH {_minhash_ctes()}
            SELECT doc_a, doc_b, round(est_jaccard, 3) AS est_jaccard FROM scored
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_minhash_ctes()},
            edges AS (
              SELECT doc_a AS u, doc_b AS v FROM scored
              UNION SELECT doc_b, doc_a FROM scored
            ),
            reach(u, r) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v
            )
            SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
        """,
        "dedup_simhash_pairs": f"""
            WITH d AS ({_NEARDUP_DOCS_SQL}),
            toks AS (
              SELECT doc_id, md5(unnest({_TOKS})) AS h FROM d
            ),
            bits AS (
              SELECT doc_id, b, SUM((((strpos('0123456789abcdef', substring(h, b // 4 + 1, 1)) - 1)
                     >> (b % 4)) & 1) * 2 - 1) AS s
              FROM toks, (SELECT unnest(generate_series(0, {dedup.SIMHASH_BITS - 1})) AS b)
              GROUP BY 1, 2
            ),
            sims AS (
              SELECT doc_id,
                     SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
              FROM bits GROUP BY doc_id
            ),
            blocks AS (
              SELECT doc_id, simhash, b AS block_idx,
                     (simhash >> (b * 8)) & 255 AS block_val
              FROM sims, (SELECT unnest(generate_series(0, 3)) AS b) t
            )
            SELECT doc_a, doc_b, hamming::INT AS hamming FROM (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     bit_count(xor(a.simhash, b.simhash)) AS hamming
              FROM blocks a JOIN blocks b
                ON a.block_idx = b.block_idx AND a.block_val = b.block_val
               AND a.doc_id < b.doc_id
            ) WHERE hamming <= 3
        """,
        "dedup_simhash": f"""
            WITH toks AS (
              SELECT doc_id, md5(unnest({_TOKS})) AS h FROM documents
            ),
            bits AS (
              SELECT doc_id, b, SUM(({simhash_bit}) * 2 - 1) AS s
              FROM toks, (SELECT unnest(generate_series(0, {dedup.SIMHASH_BITS - 1})) AS b)
              GROUP BY 1, 2
            )
            SELECT doc_id,
                   SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
            FROM bits GROUP BY doc_id
        """,
        "dedup_ngram_jaccard": f"""
            WITH sh0 AS (SELECT DISTINCT doc_id, unnest({_SHINGLES3}) AS sh FROM documents),
            sh AS (
              SELECT doc_id, sh FROM (
                SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS dfc FROM sh0
              ) WHERE dfc <= {dedup.NGRAM_MAX_DF}
            ),
            sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n_sh FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS n_inter
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.2
        """,
        "dedup_embedding": f"""
            WITH pw AS (SELECT * FROM {_plane_weights_sql(_NDUP_TABLES, _NDUP_PLANES)}),
            base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            pert AS (
              SELECT vec_id + 1000000 AS vec_id,
                     [emb[1] + 0.1] || emb[2:{_LSH_DIM}] AS emb
              FROM base WHERE vec_id % 10 = 0
            ),
            allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
            bucketed AS (
              SELECT a.vec_id, pw.t,
                     SUM(CASE WHEN list_inner_product(a.emb, pw.w) > 0
                              THEN (1 << pw.p) ELSE 0 END)::INT AS bucket
              FROM allv a, pw GROUP BY a.vec_id, a.emb, pw.t
            ),
            capped AS (
              SELECT vec_id, t, bucket FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY t, bucket) AS bsz FROM bucketed
              ) WHERE bsz <= 10000
            ),
            cand AS (
              SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
              FROM capped a JOIN capped b
                ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
            ),
            scored AS (
              SELECT doc_a, doc_b, list_cosine_similarity(va.emb, vb.emb) AS cosine
              FROM cand
              JOIN allv va ON va.vec_id = doc_a
              JOIN allv vb ON vb.vec_id = doc_b
            )
            SELECT doc_a, doc_b, round(cosine, 4) AS cosine
            FROM scored WHERE cosine >= 0.9
        """,
        "quality_features": f"""
            WITH b AS (
              SELECT doc_id, coalesce(text, '') AS t, {_TOKS} AS toks,
                     len({_TOKS}) AS n_tokens,
                     len(list_filter({_TOKS},
                         x -> x in ('the','and','of','to','is','that','with','for'))) AS stop_hits
              FROM documents
            ),
            f AS (
              SELECT doc_id, n_tokens,
                CASE WHEN n_tokens > 0 THEN
                  list_sum(list_transform(toks, x -> length(x))) / CAST(n_tokens AS DOUBLE)
                ELSE 0.0 END AS mean_token_len,
                CASE WHEN n_tokens > 0 THEN stop_hits / CAST(n_tokens AS DOUBLE)
                     ELSE 0.0 END AS stopword_ratio,
                CASE WHEN length(t) > 0 THEN
                  (length(t) - length(regexp_replace(t, '[.,;:!?]', '', 'g')))
                    / CAST(length(t) AS DOUBLE)
                ELSE 0.0 END AS punct_ratio
              FROM b
            )
            ,
            q AS (
              SELECT doc_id, n_tokens::BIGINT AS n_tokens,
                     round(mean_token_len, 4) AS mean_token_len,
                     round(stopword_ratio, 4) AS stopword_ratio,
                     round(punct_ratio, 4) AS punct_ratio,
                     round(
                       (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END)
                       + (CASE WHEN mean_token_len >= 2.0 AND mean_token_len <= 12.0 THEN 0.2 ELSE 0.0 END)
                       + (CASE WHEN stopword_ratio >= 0.05 THEN 0.2 ELSE 0.0 END)
                       + (CASE WHEN punct_ratio <= 0.2 THEN 0.2 ELSE 0.0 END), 2) AS quality_score
              FROM f
            ),
            h AS (
              SELECT doc_id,
                     {_lang_hits_sql('en')} AS h_en, {_lang_hits_sql('es')} AS h_es,
                     {_lang_hits_sql('de')} AS h_de, {_lang_hits_sql('fr')} AS h_fr
              FROM documents
            ),
            l AS (
              SELECT doc_id, CASE
                WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
                WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
                WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
                WHEN h_de = greatest(h_en, h_es, h_de, h_fr) THEN 'de'
                ELSE 'fr' END AS lang_pred
              FROM h
            )
            ,
            cg_varied AS (
              SELECT doc_id,
                     coalesce(text, '')
                     || (CASE WHEN doc_id % 3 = 0 THEN ' End one. End two. End three.'
                              ELSE ' no sentence end' END)
                     || (CASE WHEN doc_id % 5 = 0 THEN ' lorem ipsum' ELSE '' END)
                     || (CASE WHEN doc_id % 7 = 0 THEN ' {{' ELSE '' END)
                     || (CASE WHEN doc_id % 4 = 0 THEN chr(10) || '- bullet javascript line'
                              || chr(10) || 'ends with ...' ELSE '' END)
                     AS text
              FROM documents
            ),
            cg_base AS (
              SELECT doc_id, coalesce(text, '') AS t, lower(coalesce(text, '')) AS lt,
                     list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                 w -> w != '') AS words,
                     list_filter(string_split(coalesce(text, ''), chr(10)),
                                 l -> trim(l) != '') AS lines
              FROM cg_varied
            ),
            cg_f AS (
              SELECT doc_id,
                len(words) AS n_words,
                len(regexp_extract_all(t, '[^.!?]+[.!?]')) AS n_sentences,
                CASE WHEN len(words) > 0 THEN
                  list_sum(list_transform(words, w -> length(w))) / CAST(len(words) AS DOUBLE)
                ELSE 0.0 END AS mean_word_len,
                CASE WHEN len(words) > 0 THEN
                  ((length(t) - length(replace(t, '#', '')))
                   + (length(t) - length(replace(t, '...', ''))) / 3
                   + (length(t) - length(replace(t, '…', ''))))
                  / CAST(len(words) AS DOUBLE)
                ELSE 0.0 END AS symbol_word_ratio,
                CASE WHEN len(words) > 0 THEN
                  len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                  / CAST(len(words) AS DOUBLE)
                ELSE 0.0 END AS frac_alpha_words,
                CASE WHEN len(lines) > 0 THEN
                  len(list_filter(lines, l -> regexp_matches(trim(l), '[.!?"]$')))
                  / CAST(len(lines) AS DOUBLE)
                ELSE 0.0 END AS frac_lines_term_punct,
                CASE WHEN len(lines) > 0 THEN
                  len(list_filter(lines, l -> regexp_matches(trim(l), '^([-*•])')))
                  / CAST(len(lines) AS DOUBLE)
                ELSE 0.0 END AS frac_lines_bullet,
                CASE WHEN len(lines) > 0 THEN
                  len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
                  / CAST(len(lines) AS DOUBLE)
                ELSE 0.0 END AS frac_lines_ellipsis_end,
                contains(lt, 'lorem ipsum') AS has_lorem_ipsum,
                contains(t, '{{') AS has_curly_brace,
                len(list_filter(lines, l -> contains(lower(l), 'javascript'))) > 0
                  AS has_javascript_line
              FROM cg_base
            ),
            cg_flags AS (
              -- flags from UNROUNDED values (spark side does the same);
              -- separate CTE so rounded output aliases can reuse the
              -- input names without ambiguity
              SELECT *,
                     (n_sentences >= 3 AND NOT has_lorem_ipsum AND NOT has_curly_brace)
                       AS keep_c4,
                     (n_words >= 50 AND n_words <= 100000
                      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                      AND symbol_word_ratio < 0.1 AND frac_alpha_words >= 0.8
                      AND frac_lines_bullet < 0.9 AND frac_lines_ellipsis_end < 0.3)
                       AS keep_gopher
              FROM cg_f
            ),
            cg AS (
              SELECT doc_id, n_words::BIGINT AS n_words,
                     n_sentences::BIGINT AS n_sentences,
                     round(mean_word_len, 4) AS mean_word_len,
                     round(symbol_word_ratio, 4) AS symbol_word_ratio,
                     round(frac_alpha_words, 4) AS frac_alpha_words,
                     round(frac_lines_term_punct, 4) AS frac_lines_term_punct,
                     round(frac_lines_bullet, 4) AS frac_lines_bullet,
                     round(frac_lines_ellipsis_end, 4) AS frac_lines_ellipsis_end,
                     has_lorem_ipsum, has_curly_brace, has_javascript_line,
                     keep_c4, keep_gopher
              FROM cg_flags
            )
            SELECT q.*, l.lang_pred, cg.n_words, cg.n_sentences, cg.mean_word_len,
                   cg.symbol_word_ratio, cg.frac_alpha_words, cg.frac_lines_term_punct,
                   cg.frac_lines_bullet, cg.frac_lines_ellipsis_end, cg.has_lorem_ipsum,
                   cg.has_curly_brace, cg.has_javascript_line, cg.keep_c4, cg.keep_gopher
            FROM q JOIN l USING (doc_id) JOIN cg USING (doc_id)
        """,
        "token_fingerprints": f"""
            WITH tc AS (
              SELECT doc_id,
                ({_WC})::BIGINT AS ws_tokens,
                (ceil(length(regexp_replace(coalesce(trim(text), ''), '[^0-9A-Za-z]', '', 'g')) / 4.0)
                 + length(regexp_replace(coalesce(trim(text), ''), '[0-9A-Za-z\\s]', '', 'g')))::BIGINT
                AS bpe_tokens_est
              FROM documents
            ),
            fp AS (
              SELECT doc_id, list_aggregate(hs, 'min') AS fp_min,
                     list_aggregate(hs, 'max') AS fp_max, n_sk_tokens
              FROM (SELECT doc_id,
                           list_transform({_SHINGLES4}, x -> md5(x)) AS hs,
                           len({_TOKS})::BIGINT AS n_sk_tokens
                    FROM documents)
            )
            SELECT tc.doc_id, tc.ws_tokens, tc.bpe_tokens_est,
                   fp.fp_min, fp.fp_max, fp.n_sk_tokens
            FROM tc JOIN fp USING (doc_id)
        """,
        "substr_dedup": f"""
            WITH sh AS (
              SELECT doc_id, unnest(
                CASE WHEN len({_TOKS}) < 20 THEN [array_to_string({_TOKS}, ' ')]
                ELSE list_transform(generate_series(1, len({_TOKS}) - 19),
                                    i -> array_to_string(({_TOKS})[i:i+19], ' ')) END
              ) AS w
              FROM documents WHERE len({_TOKS}) > 0
            ),
            c AS (SELECT w, COUNT(*) AS n FROM sh GROUP BY w)
            SELECT doc_id, COUNT(*)::BIGINT AS n_windows,
                   SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_windows,
                   round(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END)
                         / COUNT(*)::DOUBLE, 6) AS dup_frac
            FROM sh JOIN c USING (w) GROUP BY doc_id
        """,
        "incremental_changed": """
            WITH current AS (SELECT doc_id, md5(text) AS m FROM documents),
            manifest AS (
              SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN text || 'OLD' ELSE text END) AS m
              FROM documents WHERE doc_id % 3 = 0
            )
            SELECT c.doc_id FROM current c
            WHERE NOT EXISTS (
              SELECT 1 FROM manifest f WHERE f.doc_id = c.doc_id AND f.m = c.m
            )
        """,
        "source_priority": """
            SELECT doc_id, coalesce(
              CASE WHEN doc_id % 3 != 0 THEN 'P:' || text END,
              CASE WHEN doc_id % 2 != 0 THEN 'A:' || text END,
              'D:' || text) AS resolved_text
            FROM documents
        """,
        "add_pipeline_latest": """
            SELECT doc_id,
                   CASE WHEN doc_id % 10 != 0 THEN '1.10.1' END AS version,
                   CASE WHEN doc_id % 10 != 0 THEN 'def' END AS config_hash,
                   CASE WHEN doc_id % 10 != 0
                        THEN '1.10.1/def/' || CAST(doc_id * 2 AS VARCHAR) END AS payload
            FROM documents
        """,
        "source_attach": """
            SELECT doc_id, coalesce(
              CASE WHEN doc_id % 3 != 0 THEN 'P:' || text END,
              CASE WHEN doc_id % 2 != 0 THEN 'A:' || text END,
              'D:' || text) AS resolved_text
            FROM documents
        """,
        "latest_order_per_customer": """
            SELECT o_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_date
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders
            ) WHERE rn = 1
        """,
        "topk_per_group": """
            SELECT l_returnflag, l_orderkey, l_linenumber,
                   l_extendedprice AS price, rk::INT AS rk
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY l_returnflag
                ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rk
              FROM lineitem
            ) WHERE rk <= 3
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
                   COUNT(*)::BIGINT AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_topn": """
            WITH rev AS (
              SELECT l_orderkey,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
                AS revenue
              FROM lineitem GROUP BY l_orderkey
            )
            SELECT o_orderkey, c_name, round(revenue, 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN rev ON o_orderkey = l_orderkey
            WHERE o_orderstatus != 'F'
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "ann_bruteforce": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
                       FROM embeddings WHERE vec_id < 10),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(q.qe, e.embedding::DOUBLE[]) AS cosine
              FROM q, embeddings e
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, round(cosine, 4) AS cosine, rank::INT AS rank
            FROM ranked WHERE rank <= 5
        """,
        "ann_lsh": f"""
            WITH pw AS (SELECT * FROM {_plane_weights_sql()}),
            evecs AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            bucketed AS (
              SELECT e.vec_id, pw.t,
                     SUM(CASE WHEN list_inner_product(e.emb, pw.w) > 0
                              THEN (1 << pw.p) ELSE 0 END)::INT AS bucket
              FROM evecs e, pw GROUP BY e.vec_id, e.emb, pw.t
            ),
            q0 AS (SELECT vec_id AS query_id, t, bucket
                   FROM bucketed WHERE vec_id < 10),
            qprobe AS (
              SELECT query_id, t, bucket FROM q0
              UNION ALL SELECT query_id, t, xor(bucket, 1) FROM q0
              UNION ALL SELECT query_id, t, xor(bucket, 2) FROM q0
            ),
            cand AS (
              SELECT DISTINCT q.query_id, b.vec_id
              FROM qprobe q JOIN bucketed b ON q.t = b.t AND q.bucket = b.bucket
            ),
            scored AS (
              SELECT c.query_id, c.vec_id,
                     list_cosine_similarity(qv.emb, bv.emb) AS cosine
              FROM cand c
              JOIN evecs qv ON qv.vec_id = c.query_id
              JOIN evecs bv ON bv.vec_id = c.vec_id
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, round(cosine, 4) AS cosine, rank::INT AS rank
            FROM ranked WHERE rank <= 5
        """,
        "embedding_mean_pool": """
            SELECT label, dim, round(avg(v), 5) AS mean_v FROM (
              SELECT label, unnest(embedding)::DOUBLE AS v,
                     unnest(generate_series(1, len(embedding))) AS dim
              FROM embeddings
            ) GROUP BY label, dim
        """,
        "textnorm_abbrev": r"""
            WITH n AS (
              SELECT doc_id,
                replace(array_to_string(
                  list_transform(regexp_split_to_array(trim(coalesce(text, '')), '\s+'),
                                 w -> upper(w[1]) || lower(w[2:])),
                  ' '), chr(8217), '''') AS c
              FROM documents
            ),
            nt AS (
              SELECT doc_id,
                     CASE WHEN c IN ('', 'None', 'Nan', 'N/a', 'Null') THEN NULL ELSE c END
                     AS norm_text
              FROM n
            ),
            ab AS (
              SELECT doc_id, 'MRI' AS short_text,
                     'Magnetic Resonance Imaging' AS long_text
              FROM documents WHERE text IS NOT NULL
            )
            SELECT nt.doc_id, nt.norm_text, ab.short_text, ab.long_text
            FROM nt LEFT JOIN ab USING (doc_id)
        """,
        "url_quality_filter": """
            WITH u AS (
              SELECT doc_id,
                CASE
                  WHEN doc_id % 11 = 0 THEN
                    'https://ads.blocked' || (doc_id % 3) || '.example/page'
                  WHEN doc_id % 13 = 0 THEN
                    'https://ok.example/casino/bonus' || doc_id
                  ELSE
                    (CASE WHEN doc_id % 7 = 0 THEN 'HTTP://' ELSE 'HTTPS://' END)
                    || 'WWW.Example' || (doc_id % 50) || '.COM:443/path' || doc_id
                    || (CASE WHEN doc_id % 4 = 0 THEN '/?utm_source=x&fbclid=1'
                             WHEN doc_id % 4 = 1 THEN '?id=' || doc_id || '&utm_medium=email'
                             WHEN doc_id % 4 = 2 THEN '#section2'
                             ELSE '' END)
                END AS url
              FROM documents
            ),
            d AS (
              SELECT doc_id, url,
                     lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1)) AS domain
              FROM u
            ),
            s AS (
              SELECT doc_id, url, domain,
                len(list_filter(['casino','viagra','lottery','betting','escort','warez','freebet','clickbait'],
                                w -> contains(lower(url), w)))::INT AS n_banned_hits,
                (domain IN ('blocked0.example', 'blocked1.example', 'blocked2.example')
                 OR domain LIKE '%.blocked0.example'
                 OR domain LIKE '%.blocked1.example'
                 OR domain LIKE '%.blocked2.example') AS blocked_domain
              FROM d
            )
            SELECT doc_id, domain, n_banned_hits, blocked_domain,
                   (NOT blocked_domain AND n_banned_hits <= 0) AS keep_url
            FROM s
        """,
        "extract_roundtrip": r"""
            SELECT doc_id,
                   regexp_replace(trim(text), '\s+', ' ', 'g') AS extracted_text
            FROM documents
            WHERE len(regexp_extract_all(lower(text), '\w\w+')) >= 8
        """,
        "entity_link": _entity_link_oracle(
            f"{_lexicon_case_sql()} || ' ' || substring(text, 1, 6)"
        ),
        "entity_link_ctx": _entity_link_oracle(
            "replace('BIS ' || substring(text, 1, 6), 'BIS', 'brain imaging study')"
        ),
        "llm_demographics": """
            SELECT doc_id, 'patients' AS group_name,
                   (doc_id % 50 + 10)::INT AS count, true AS valid
            FROM documents
            UNION ALL
            SELECT doc_id, 'controls', (doc_id % 20 + 5)::INT, true
            FROM documents
        """,
        "llm_task": """
            SELECT doc_id,
                   CASE (doc_id % 4) WHEN 0 THEN 'stroop' WHEN 1 THEN 'nback'
                        WHEN 2 THEN 'gonogo' ELSE 'flanker' END AS task,
                   true AS valid
            FROM documents
        """,
        "demographics_clean": f"""
            WITH g AS (
              SELECT doc_id, unnest(groups, recursive := true) FROM ({_GROUPS_SQL}) t
            )
            SELECT doc_id, group_name,
              CASE WHEN diagnosis IS NULL AND lower(group_name) = 'control'
                   THEN 'healthy' ELSE diagnosis END AS diagnosis,
              greatest(0, count)::INT AS count,
              coalesce(
                CASE WHEN male_count IS NOT NULL THEN greatest(0, male_count) END,
                greatest(0, count) - CASE WHEN female_count IS NOT NULL
                                          THEN greatest(0, female_count) END
              )::INT AS male_count,
              coalesce(
                CASE WHEN female_count IS NOT NULL THEN greatest(0, female_count) END,
                greatest(0, count) - CASE WHEN male_count IS NOT NULL
                                          THEN greatest(0, male_count) END
              )::INT AS female_count
            FROM g WHERE count IS NOT NULL
        """,
        "nested_postprocess": """
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 1 THEN NULL
                        ELSE 'Major Depressive Disorder' END AS diagnosis,
                   CASE WHEN doc_id % 5 != 0 THEN (doc_id % 7)::INT END AS count,
                   (doc_id % 5 != 0) AS valid
            FROM documents
        """,
        "patient_study": f"""
            SELECT doc_id,
                   len(list_filter(groups, g -> lower(g.group_name) = 'patient')) > 0
                   AS has_patient
            FROM ({_GROUPS_SQL}) t
        """,
        "metrics_normalize": r"""
            SELECT doc_id,
              regexp_replace(lower(trim(substring(text, 1, 40))), '\s+', ' ', 'g') AS norm_text,
              CAST(doc_id AS DOUBLE) AS num_val,
              CASE WHEN doc_id % 3 = 0 THEN true
                   WHEN doc_id % 3 = 1 THEN false END AS bool_val,
              (doc_id % 40 + 18)::INT AS age_lo,
              (doc_id % 40 + 25)::INT AS age_hi
            FROM documents
        """,
        "eval_prf": r"""
            WITH pairs AS (
              SELECT doc_id,
                'Patient Group' AS t_name,
                CASE WHEN doc_id % 7 = 0 THEN NULL
                     WHEN doc_id % 5 = 0 THEN 'other group'
                     ELSE '  PATIENT   GROUP ' END AS p_name,
                CAST(doc_id % 30 AS VARCHAR) AS t_count,
                CASE WHEN doc_id % 6 = 0 THEN NULL
                     WHEN doc_id % 4 = 0 THEN CAST(doc_id % 30 + 2 AS VARCHAR)
                     WHEN doc_id % 3 = 0 THEN CAST((doc_id % 30) + 0.4 AS VARCHAR)
                     ELSE CAST(doc_id % 30 AS VARCHAR) END AS p_count,
                CASE WHEN doc_id % 2 = 0 THEN 'Yes' ELSE 'no' END AS t_bool,
                CASE WHEN doc_id % 11 = 0 THEN 'maybe'
                     WHEN doc_id % 3 = 0 THEN
                       (CASE WHEN doc_id % 2 = 0 THEN 'no' ELSE 'yes' END)
                     ELSE (CASE WHEN doc_id % 2 = 0 THEN 'YES' ELSE 'NO' END)
                END AS p_bool
              FROM documents
            ),
            norm AS (
              SELECT
                regexp_replace(lower(trim(t_name)), '\s+', ' ', 'g') AS tn,
                regexp_replace(lower(trim(p_name)), '\s+', ' ', 'g') AS pn,
                CAST(nullif(regexp_replace(t_count, '[^0-9.]', '', 'g'), '') AS DOUBLE) AS tc,
                CAST(nullif(regexp_replace(p_count, '[^0-9.]', '', 'g'), '') AS DOUBLE) AS pc,
                CASE WHEN lower(trim(t_bool)) IN ('true','yes','y','1') THEN true
                     WHEN lower(trim(t_bool)) IN ('false','no','n','0') THEN false END AS tb,
                CASE WHEN lower(trim(p_bool)) IN ('true','yes','y','1') THEN true
                     WHEN lower(trim(p_bool)) IN ('false','no','n','0') THEN false END AS pb
              FROM pairs
            ),
            counts AS (
              SELECT 'group_name' AS field,
                     SUM(CASE WHEN tn IS NOT NULL AND pn IS NOT NULL AND tn = pn
                              THEN 1 ELSE 0 END)::BIGINT AS matches,
                     COUNT(tn)::BIGINT AS total_ground_truth,
                     COUNT(pn)::BIGINT AS total_extracted
              FROM norm
              UNION ALL
              SELECT 'count',
                     SUM(CASE WHEN tc IS NOT NULL AND pc IS NOT NULL
                              AND abs(tc - pc) <= 0.5 THEN 1 ELSE 0 END)::BIGINT,
                     COUNT(tc)::BIGINT, COUNT(pc)::BIGINT
              FROM norm
              UNION ALL
              SELECT 'has_patient',
                     SUM(CASE WHEN tb IS NOT NULL AND pb IS NOT NULL AND tb = pb
                              THEN 1 ELSE 0 END)::BIGINT,
                     COUNT(tb)::BIGINT, COUNT(pb)::BIGINT
              FROM norm
            )
            SELECT field, matches, total_ground_truth, total_extracted,
                   round(CASE WHEN total_extracted > 0
                              THEN matches / CAST(total_extracted AS DOUBLE)
                              ELSE 0.0 END, 6) AS precision,
                   round(CASE WHEN total_ground_truth > 0
                              THEN matches / CAST(total_ground_truth AS DOUBLE)
                              ELSE 0.0 END, 6) AS recall,
                   round(CASE WHEN (CASE WHEN total_extracted > 0
                                    THEN matches / CAST(total_extracted AS DOUBLE)
                                    ELSE 0.0 END
                              + CASE WHEN total_ground_truth > 0
                                     THEN matches / CAST(total_ground_truth AS DOUBLE)
                                     ELSE 0.0 END) > 0
                         THEN 2 * (matches / CAST(total_extracted AS DOUBLE))
                                * (matches / CAST(total_ground_truth AS DOUBLE))
                              / ((matches / CAST(total_extracted AS DOUBLE))
                                 + (matches / CAST(total_ground_truth AS DOUBLE)))
                         ELSE 0.0 END, 6) AS f1
            FROM counts
        """,
        "corpus_hash": f"""
            WITH hv AS (
              SELECT {_hex_int_sql('h', 1, 8)} AS h1, {_hex_int_sql('h', 9, 8)} AS h2
              FROM (SELECT md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
            ),
            parity AS (
              SELECT sha256(string_agg(CAST(doc_id AS VARCHAR), '_'
                     ORDER BY CAST(doc_id AS VARCHAR))) AS corpus_sha256
              FROM documents
            ),
            scal AS (
              SELECT sha256(COUNT(*)::VARCHAR || '_' || bit_xor(h1)::VARCHAR
                     || '_' || bit_xor(h2)::VARCHAR) AS corpus_sha256_scalable
              FROM hv
            )
            SELECT corpus_sha256, corpus_sha256_scalable FROM parity, scal
        """,
        "identifiers_json": r"""
            WITH raw AS (
              SELECT doc_id,
                     '{"title": '
                       || CASE WHEN doc_id % 5 = 0 THEN 'NaN'
                               ELSE '"Study ' || CAST(doc_id AS VARCHAR) || '"' END
                       || ', "abstract": "About topic ' || CAST(doc_id % 13 AS VARCHAR)
                       || '", "year": 20' || lpad(CAST(doc_id % 25 AS VARCHAR), 2, '0')
                       || '}' AS meta_js
              FROM documents
            ),
            repaired AS (
              SELECT doc_id,
                     regexp_replace(meta_js, '("title"\s*:\s*)NaN', '\1""') AS meta_js
              FROM raw
            )
            SELECT doc_id,
                   CAST(doc_id + 10000 AS VARCHAR) AS pmid,
                   'PMC' || CAST(doc_id AS VARCHAR) AS pmcid,
                   CASE WHEN doc_id % 4 != 0
                        THEN '10.1000/' || CAST(doc_id AS VARCHAR) END AS doi,
                   json_extract_string(meta_js, '$.title') AS title,
                   json_extract_string(meta_js, '$.abstract') AS abstract,
                   CAST(json_extract(meta_js, '$.year') AS INT) AS year
            FROM repaired
        """,
        "table_pairing": """
            WITH files AS (
              SELECT CAST(doc_id AS VARCHAR) AS url,
                     'table_00' || CAST(doc_id % 3 AS VARCHAR) AS stem,
                     'data' AS kind,
                     'csvdata:' || CAST(doc_id AS VARCHAR) AS payload
              FROM documents
              UNION ALL
              SELECT CAST(doc_id AS VARCHAR), 'table_00' || CAST(doc_id % 3 AS VARCHAR),
                     'info', 'info:' || CAST(doc_id AS VARCHAR)
              FROM documents WHERE doc_id % 4 != 0
            )
            SELECT url, stem,
                   MAX(CASE WHEN kind = 'data' THEN payload END) AS data,
                   MAX(CASE WHEN kind = 'info' THEN payload END) AS info
            FROM files GROUP BY url, stem
        """,
        "hash_embedding": r"""
            WITH docs AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
              FROM documents
              WHERE text IS NOT NULL AND length(trim(text)) > 0
                AND len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 5
            ),
            hs AS (SELECT doc_id, md5(unnest(toks)) AS h FROM docs),
            contrib AS (
              SELECT doc_id,
                ((strpos('0123456789abcdef', substring(h, 7, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substring(h, 8, 1)) - 1)) % 64 AS bucket,
                CASE WHEN ((strpos('0123456789abcdef', substring(h, 10, 1)) - 1) & 1) = 1
                     THEN 1.0 ELSE -1.0 END AS sign
              FROM hs
            ),
            sums AS (SELECT doc_id, bucket, SUM(sign) AS s FROM contrib GROUP BY 1, 2),
            norms AS (SELECT doc_id, sqrt(SUM(s * s)) AS n FROM sums GROUP BY 1),
            dims AS (
              SELECT d.doc_id, b.dim FROM (SELECT DISTINCT doc_id FROM sums) d,
                   (SELECT unnest(generate_series(0, 63)) AS dim) b
            )
            SELECT dims.doc_id, dims.dim,
                   round(coalesce(s.s, 0.0) / n.n, 6) AS v
            FROM dims
            LEFT JOIN sums s ON s.doc_id = dims.doc_id AND s.bucket = dims.dim
            JOIN norms n ON n.doc_id = dims.doc_id
        """,
        "blob_metadata": """
            -- byte-level metadata over the raw text blob + pixel
            -- fields recomputed INDEPENDENTLY of the PNG codec: the
            -- 8x8 gray image is the first 64 utf-8 bytes zero-padded,
            -- so px_sum = sum of those bytes and aHash bit i is set
            -- iff 64*byte_i > px_sum (strict mean comparison, exact
            -- in integers). Bit 63 wraps to the sign bit via HUGEINT.
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS blob_id, text,
                     hex(encode(text)) AS hx
              FROM documents WHERE text IS NOT NULL
            ),
            b AS (
              SELECT blob_id, i,
                CASE WHEN 2*i+2 <= length(hx)
                  THEN 16*(strpos('0123456789ABCDEF', substring(hx, 2*i+1, 1))-1)
                     + (strpos('0123456789ABCDEF', substring(hx, 2*i+2, 1))-1)
                  ELSE 0 END AS v
              FROM d, unnest(generate_series(0, 63)) AS t(i)
            ),
            s AS (SELECT blob_id, SUM(v)::BIGINT AS px_sum FROM b GROUP BY blob_id),
            ah AS (
              SELECT b.blob_id,
                SUM(CASE WHEN 64*v > s.px_sum
                    THEN (CAST(1 AS HUGEINT) << i) ELSE 0 END) AS ahu
              FROM b JOIN s USING (blob_id) GROUP BY b.blob_id
            ),
            -- audio twin: the same 64 bytes as 8-bit PCM mono @8kHz.
            -- Zero crossing at i <=> (v_i-128)*(v_{i+1}-128) < 0
            -- (strict sign flip of the centered signal), peak =
            -- max |v-128|; both exact in integers, mirroring
            -- audio_codec.audio_features verbatim.
            wv AS (
              SELECT blob_id,
                SUM(CASE WHEN nv IS NOT NULL
                         AND (v - 128) * (nv - 128) < 0 THEN 1 ELSE 0 END)
                  ::BIGINT AS wav_zc,
                MAX(abs(v - 128))::BIGINT AS wav_peak
              FROM (
                SELECT blob_id, v,
                       lead(v) OVER (PARTITION BY blob_id ORDER BY i) AS nv
                FROM b
              ) GROUP BY blob_id
            )
            SELECT d.blob_id,
                   'application/octet-stream' AS media_type,
                   octet_length(encode(text))::BIGINT AS n_bytes,
                   sha256(text) AS sha256,
                   'image/png' AS png_type,
                   8::INT AS width, 8::INT AS height, 1::INT AS channels,
                   s.px_sum,
                   (CASE WHEN ah.ahu >= CAST(9223372036854775808 AS HUGEINT)
                         THEN ah.ahu - CAST(18446744073709551616 AS HUGEINT)
                         ELSE ah.ahu END)::BIGINT AS ahash,
                   'audio/wav' AS wav_type,
                   8000::INT AS sample_rate,
                   64::BIGINT AS wav_n,
                   8::BIGINT AS wav_ms,
                   s.px_sum AS wav_sum,
                   wv.wav_zc,
                   wv.wav_peak
            FROM d JOIN s USING (blob_id) JOIN ah ON ah.blob_id = d.blob_id
                 JOIN wv ON wv.blob_id = d.blob_id
        """,
        "domain_stats": """
            WITH u AS (
              SELECT doc_id,
                     'www.example' || CAST(doc_id % 50 AS VARCHAR) || '.com' AS domain,
                     length(coalesce(text, '')) AS nb
              FROM documents
            )
            SELECT domain, COUNT(*)::BIGINT AS n_pages,
                   SUM(nb)::BIGINT AS total_bytes,
                   round(AVG(nb), 2) AS avg_bytes
            FROM u GROUP BY domain
        """,
        "pii_url_scrub": """
            SELECT doc_id,
                   'Contact <EMAIL> or call <PHONE>'
                   || CASE WHEN doc_id % 3 = 0 THEN ' from <IP>' ELSE '' END
                   || ' today.' AS scrubbed_text,
                   1::INT AS n_emails, 0::INT AS n_ssns,
                   (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::INT AS n_ips,
                   1::INT AS n_phones,
                   CASE WHEN doc_id % 7 = 0 THEN 'http://' ELSE 'https://' END
                   || 'www.example' || CAST(doc_id % 50 AS VARCHAR) || '.com'
                   || CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END
                   || '/path' || CAST(doc_id AS VARCHAR)
                   || CASE WHEN doc_id % 4 = 1
                           THEN '?id=' || CAST(doc_id AS VARCHAR) ELSE '' END
                   AS canonical_url
            FROM documents
        """,
        "repetition_features": r"""
            WITH w AS (
              SELECT doc_id,
                list_sort(regexp_extract_all(lower(coalesce(text, '')), '\w\w+')) AS sw,
                list_filter(regexp_split_to_array(coalesce(text, ''), '\n'),
                            l -> trim(l) != '') AS lines
              FROM documents
            ),
            m AS (
              SELECT doc_id, sw, lines, len(sw) AS nw, len(lines) AS nl,
                CASE WHEN len(sw) > 0 THEN
                  list_filter(generate_series(1, len(sw)),
                              i -> i = 1 OR sw[i] != sw[greatest(i - 1, 1)])
                ELSE []::BIGINT[] END AS starts
              FROM w
            ),
            r AS (
              SELECT doc_id, nw, nl, lines,
                CASE WHEN len(starts) > 0 THEN
                  list_max(list_transform(generate_series(1, len(starts)),
                           j -> coalesce(starts[j + 1], nw + 1) - starts[j]))
                ELSE 0 END AS topc
              FROM m
            )
            SELECT doc_id,
              round(CASE WHEN nl > 0
                    THEN (nl - len(list_distinct(lines))) / nl::DOUBLE
                    ELSE 0 END, 4) AS dup_line_frac,
              round(CASE WHEN nw > 0 THEN topc / nw::DOUBLE ELSE 0 END, 4)
                AS top_word_frac,
              round(CASE WHEN nl > 0
                    THEN list_sum(list_transform(lines, l -> length(l))) / nl::DOUBLE
                    ELSE 0 END, 4) AS mean_line_len,
              nl::INT AS n_lines
            FROM r
        """,
        "contamination_check": f"""
            WITH doc_sh AS (
              SELECT DISTINCT doc_id, unnest({_SHINGLES3}) AS sh FROM documents
            ),
            bench AS (
              SELECT DISTINCT unnest({_SHINGLES3}) AS sh FROM documents
              WHERE doc_id % 97 = 0
            )
            SELECT d.doc_id, COUNT(*)::BIGINT AS n_shingles,
                   SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                     AS n_contaminated,
                   round(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)
                         / COUNT(*)::DOUBLE, 6) AS contamination_frac
            FROM doc_sh d LEFT JOIN bench b ON d.sh = b.sh
            GROUP BY d.doc_id
        """,
        "event_sessions": """
            WITH gaps AS (
              SELECT user_id, event_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
              FROM events
            ),
            marked AS (
              SELECT user_id, event_id, ts,
                CASE WHEN prev_ts IS NULL
                          OR date_diff('second', prev_ts, ts) > 1800
                     THEN 1 ELSE 0 END AS new_session
              FROM gaps
            ),
            sess AS (
              SELECT user_id,
                     SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM marked
            )
            SELECT user_id, MAX(session_id)::BIGINT AS n_sessions,
                   round(COUNT(*) / CAST(MAX(session_id) AS DOUBLE), 4) AS events_per_session
            FROM sess GROUP BY user_id
        """,
        "session_windows": """
            WITH gaps AS (
              SELECT user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
              FROM events
            ),
            marked AS (
              SELECT user_id, ts,
                     CASE WHEN prev IS NULL
                               OR date_diff('second', prev, ts) >= 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM gaps
            ),
            sess AS (
              SELECT user_id, ts,
                     SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM marked
            )
            SELECT user_id, MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   COUNT(*)::BIGINT AS n_events
            FROM sess GROUP BY user_id, sid
        """,
        "events_json": """
            SELECT event_type, COUNT(*)::BIGINT AS n,
                   CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
                   round(AVG(value), 4) AS avg_value
            FROM events GROUP BY event_type
        """,
    }
