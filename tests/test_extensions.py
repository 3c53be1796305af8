"""Tests for extension operators: embedding pipeline (U4/F8/F9),
entity linking (U7), demographics cleanup (F13/U8), metrics (F14),
multimodal plumbing, streaming ingest."""

import pandas as pd
import pytest
import pyspark.sql.functions as F

from neurostore_text_extraction_spark.functions import metrics as M
from neurostore_text_extraction_spark.operators import embeddings as E
from neurostore_text_extraction_spark.operators import multimodal as MM
from neurostore_text_extraction_spark.operators.demographics import (
    clean_groups,
    has_patient_group,
    recollect_groups,
)
from neurostore_text_extraction_spark.operators.entity_link import link_entities


def test_chunk_text_packing():
    text = "One two three four five six. Seven eight nine ten eleven. " * 3
    chunks = E.chunk_text(text, max_tokens=12, min_tokens=5)
    assert chunks
    for c in chunks:
        assert len(c.split()) <= 12
    # tiny chunks dropped
    assert E.chunk_text("Hi there.", max_tokens=10, min_tokens=5) == []
    assert E.chunk_text("") == []
    # oversized single sentence hard-splits
    long_sent = " ".join(["w"] * 30)
    got = E.chunk_text(long_sent, max_tokens=10, min_tokens=5)
    assert all(len(c.split()) <= 10 for c in got)
    assert sum(len(c.split()) for c in got) == 30


def test_hash_embed_deterministic_normalized():
    v1 = E.hash_embed("the quick brown fox jumps")
    v2 = E.hash_embed("the quick brown fox jumps")
    assert v1 == v2
    assert abs(sum(x * x for x in v1) - 1.0) < 1e-9
    assert E.hash_embed("") == [0.0] * E.EMBED_DIM


def test_embed_documents_pipeline(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"), (2, None), (3, "x y")],
        "doc_id long, text string",
    )
    out = E.embed_documents(df).collect()
    got = {r.doc_id: r.embedding for r in out}
    # doc 2 (null) and doc 3 (<5 tokens after chunk filter) drop out
    assert set(got) == {1}
    expected = E.hash_embed("alpha beta gamma delta epsilon zeta eta theta")
    assert all(abs(a - b) < 1e-12 for a, b in zip(got[1], expected))


def test_split_paragraphs(spark):
    df = spark.createDataFrame(
        [(1, "## Head\n\npara one here\n\npara two here")], "doc_id long, text string"
    )
    rows = E.split_paragraphs(df).collect()
    assert [r.para for r in sorted(rows, key=lambda r: r.para_idx)] == [
        "## Head",
        "para one here",
        "para two here",
    ]


def test_link_entities_exact_match_first(spark):
    mentions = spark.createDataFrame(
        [(1, "brain imaging study"), (2, "zzqq vvkk")],
        "mention_id long, mention string",
    )
    lexicon = spark.createDataFrame(
        [
            (10, "brain imaging study", True),
            (11, "brain imaging method", True),
            (12, "unrelated concept", False),
        ],
        "concept_id int, concept_name string, has_definition boolean",
    )
    rows = link_entities(mentions, lexicon, k=2, threshold=0.3).collect()
    by_mention = {}
    for r in rows:
        by_mention.setdefault(r.mention_id, []).append(r)
    top = sorted(by_mention[1], key=lambda r: r.rank)[0]
    assert top.concept_id == 10 and abs(top.score - 1.0) < 1e-9
    assert 2 not in by_mention  # garbage mention: nothing above threshold


def test_link_entities_idf_downweights_common_trigrams(spark):
    """scispacy CandidateGenerator parity (reference umls_disease/
    model.py:239-247): the candidate cosine is over *tf-idf-weighted*
    char 3-grams, so a concept matching the mention only through
    high-df trigrams ('atio', 'tion' — present in most lexicon
    entries) must rank BELOW a concept matching through discriminative
    trigrams ('zebr', 'ebra'). With raw counts the ranking inverts."""
    lexicon = spark.createDataFrame(
        [
            (1, "activation station", True),
            (2, "education nation", True),
            (3, "creation formation", True),
            (4, "donation rotation", True),
            (5, "mutation citation", True),
            (6, "zebra quartz", True),
        ],
        "concept_id int, concept_name string, has_definition boolean",
    )
    mentions = spark.createDataFrame(
        [(1, "zebra donation")], "mention_id int, mention string"
    )

    def scores(idf):
        rows = link_entities(
            mentions, lexicon, k=6, threshold=0.0,
            no_definition_threshold=0.0, idf_weighting=idf,
        ).collect()
        return {r.concept_id: r.score for r in rows}

    raw, idf = scores(False), scores(True)
    # raw counts: the 'ation'-only concept 2 outranks discriminative 6
    assert raw[2] > raw[6]
    # tf-idf: the discriminative match wins; true concept 4 stays first
    assert idf[6] > idf[2]
    assert max(idf, key=idf.get) == 4


def test_clean_groups_imputation(spark):
    df = spark.createDataFrame(
        [
            (
                "u1",
                [
                    ("control", None, 10, None, 4),  # male imputed 6
                    ("patient", "mdd", None, 1, 1),  # dropped: null count
                    ("mixed", "x", -3, None, None),  # clipped to 0, both null
                ],
            )
        ],
        "url string, groups array<struct<group_name:string,diagnosis:string,"
        "count:int,male_count:int,female_count:int>>",
    )
    rows = clean_groups(df).collect()
    got = {r.group_name: r for r in rows}
    assert set(got) == {"control", "mixed"}
    c = got["control"]
    assert c.diagnosis == "healthy" and c["count"] == 10
    assert c.male_count == 6 and c.female_count == 4
    m = got["mixed"]
    assert m["count"] == 0 and m.male_count is None and m.female_count is None
    # recollect round-trip keeps one row per url
    assert recollect_groups(clean_groups(df)).count() == 1


def test_has_patient_group(spark):
    df = spark.createDataFrame(
        [("a", [("Patient",)]), ("b", [("control",)])],
        "url string, groups array<struct<group_name:string>>",
    )
    got = {r.url: r.p for r in df.select("url", has_patient_group(F.col("groups")).alias("p")).collect()}
    assert got == {"a": True, "b": False}


def test_metrics_normalizers(spark):
    df = spark.createDataFrame(
        [("  MiXed   Case\ttext ", "~42kg", "Yes", "ages 18-25 years")],
        "t string, n string, b string, a string",
    )
    r = df.select(
        M.norm_text(F.col("t")).alias("t"),
        M.coerce_numeric(F.col("n")).alias("n"),
        M.coerce_boolean(F.col("b")).alias("b"),
        M.age_range_lo(F.col("a")).alias("lo"),
        M.age_range_hi(F.col("a")).alias("hi"),
    ).first()
    assert r.t == "mixed case text"
    assert r.n == 42.0
    assert r.b is True
    assert (r.lo, r.hi) == (18, 25)


def test_blob_metadata_and_sniff(spark):
    blobs = spark.createDataFrame(
        pd.DataFrame(
            {
                "blob_id": ["png", "pdf", "plain", "nul"],
                "blob": [b"\x89PNG\r\n rest", b"%PDF-1.4 x", b"hello world", None],
            }
        ),
        "blob_id string, blob binary",
    )
    rows = {r.blob_id: r for r in MM.blob_metadata(blobs).collect()}
    assert rows["png"].media_type == "image/png"
    assert rows["pdf"].media_type == "application/pdf"
    assert rows["plain"].media_type == "application/octet-stream"
    assert rows["plain"].n_bytes == 11
    assert rows["nul"].media_type is None


def test_extract_features_fake_decode(spark):
    blobs = spark.createDataFrame(
        pd.DataFrame({"blob_id": ["a"], "blob": [b"\x10" * 5000]}),
        "blob_id string, blob binary",
    )
    row = MM.extract_features(blobs).first()
    assert len(row.features) == 16
    # deterministic fake decode: 0x10/255 everywhere in the first 4096B
    assert abs(row.features[0] - 0x10 / 255.0) < 1e-6


def test_decode_blob_jpeg_raises_png_decodes():
    import pytest

    # round 5: JPEG decodes for real too — a truncated stream now fails
    # with the typed codec error, and genuinely codec-less media (mp3)
    # still raises NotImplementedError
    from neurostore_text_extraction_spark.functions.image_codec import (
        ImageDecodeError,
    )

    with pytest.raises(ImageDecodeError):
        MM.decode_blob(b"\xff\xd8\xff rest", "image/jpeg", fake=False)
    with pytest.raises(NotImplementedError):
        MM.decode_blob(b"ID3 mp3 bytes", "audio/mpeg", fake=False)
    # png decodes for REAL via the from-scratch codec
    import numpy as np

    from neurostore_text_extraction_spark.functions.image_codec import encode_png

    arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    out = MM.decode_blob(encode_png(arr), "image/png", fake=False)
    assert (out == arr).all()


def test_streaming_ingest(spark, tmp_path):
    from neurostore_text_extraction_spark.plans.pipeline import read_results
    from neurostore_text_extraction_spark.sources.pages import (
        generate_pages,
        pages_view,
    )
    from neurostore_text_extraction_spark.streaming.ingest import stream_extract

    gen = generate_pages(spark, 40, 4).cache()
    input_dir = str(tmp_path / "in")
    pages_view(gen).write.parquet(input_dir)
    store = str(tmp_path / "store")
    q = stream_extract(
        spark, input_dir, store, str(tmp_path / "ckpt"), num_partitions=4
    )
    res = read_results(spark, store)
    assert res.count() == 40
    mism = res.join(gen.select("url", "golden_text"), "url").filter(
        "text != golden_text"
    )
    assert mism.count() == 0
    # replay with a new checkpoint: no duplicates (idempotent by the
    # resume anti-join)
    stream_extract(spark, input_dir, store, str(tmp_path / "ckpt2"), num_partitions=4)
    assert read_results(spark, store).count() == 40
    gen.unpersist()


def test_streaming_checkpoint_resume_skips_seen_files(spark, tmp_path):
    """True checkpoint resume: after draining batch 1, a restart with
    the SAME checkpoint must not re-read the already-committed source
    files — only files added after the first drain enter the second
    run's micro-batches (source-offset tracking, not just resume
    idempotency)."""
    from neurostore_text_extraction_spark.plans.pipeline import read_results
    from neurostore_text_extraction_spark.sources.catalog import Catalog
    from neurostore_text_extraction_spark.sources.pages import (
        generate_pages,
        pages_view,
    )
    from neurostore_text_extraction_spark.streaming.ingest import stream_extract

    input_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    g1 = generate_pages(spark, 20, 2)
    pages_view(g1).write.mode("append").parquet(input_dir)
    stream_extract(spark, input_dir, store, ckpt, num_partitions=2)
    assert read_results(spark, store).count() == 20
    runs_after_first = Catalog(store).read(spark, "runs").count()

    # second drain on the SAME checkpoint with no new files: the source
    # reports nothing, so no micro-batch runs and no new run row appears
    stream_extract(spark, input_dir, store, ckpt, num_partitions=2)
    assert Catalog(store).read(spark, "runs").count() == runs_after_first

    # add batch 2 (new urls); resume processes ONLY the new files —
    # observable through the results rows: batch-1 urls keep their
    # original run_id (they were never re-extracted, not even re-matched)
    g2 = generate_pages(spark, 40, 2).where(
        "CAST(regexp_extract(url, '/([0-9]+)$', 1) AS INT) >= 20"
    )
    pages_view(g2).write.mode("append").parquet(input_dir)
    stream_extract(spark, input_dir, store, ckpt, num_partitions=2)
    res = read_results(spark, store)
    assert res.count() == 40
    assert Catalog(store).read(spark, "results").count() == 40  # no rework
    assert res.select("run_id").distinct().count() == runs_after_first + 1


def test_embedding_neardup_pairs(spark):
    """LSH self-join near-dup: a tiny perturbation of a unit vector is
    found above threshold, an unrelated vector is not; intermediates
    are unpersisted (same eager contract as the text dedup ops)."""
    import math

    from neurostore_text_extraction_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    # earlier tests may leave recoverable-persist entries (the
    # documented _materialize_recoverable contract) in the shared
    # session's CacheManager — this test asserts only about ITS OWN
    # intermediates, so start from a clean cache
    spark.catalog.clearCache()
    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    near = [1.0, 0.05] + [0.0] * (dim - 2)
    far = [0.0] * (dim - 1) + [1.0]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "vec_id long, embedding array<double>"
    )
    rows = embedding_neardup_pairs(df, dim=dim, threshold=0.9).collect()
    assert [(r.doc_a, r.doc_b) for r in rows] == [(1, 2)]
    expected = 1.0 / math.sqrt(1.0 + 0.05 * 0.05)
    assert abs(rows[0].cosine - expected) < 1e-9
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty()


def test_embedding_neardup_bucket_cap_plan(spark):
    """The bucket cap must be the anti-join form (no Window on the
    bucket key) — same scale rule as the text dedup caps."""
    from neurostore_text_extraction_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])], "vec_id long, embedding array<double>"
    )
    plan = (
        embedding_neardup_pairs(df, dim=2, eager=False)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "LeftAnti" in plan


def test_ivf_build_and_search_recall(spark):
    """IVF coarse-quantizer ANN: deterministic build (no RNG), probing
    all lists equals exact brute force, and a partial probe keeps high
    recall on clustered data while scanning a fraction of the corpus."""
    import math
    import random

    from neurostore_text_extraction_spark.operators import similarity

    rng = random.Random(7)
    dim = 16
    rows = []
    # 4 well-separated clusters of 30 vectors each
    for c in range(4):
        center = [1.0 if i == c * 4 else 0.0 for i in range(dim)]
        for j in range(30):
            v = [x + rng.uniform(-0.05, 0.05) for x in center]
            n = math.sqrt(sum(x * x for x in v))
            rows.append((c * 100 + j, [x / n for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = similarity.ivf_build(vecs, dim=dim, n_centroids=4, n_iters=3)
    assigned = assigned.cache()
    # every vector lands in a list; list count == centroid count
    assert assigned.count() == 120
    assert assigned.select("_list").distinct().count() <= 4

    queries = vecs.where("vec_id % 100 = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(vecs, queries, k=5)
    # full probe == exact
    full = similarity.ivf_topk(assigned, cents, queries, k=5, nprobe=4)
    assert full.exceptAll(exact).count() == 0 and exact.exceptAll(full).count() == 0
    # single-list probe on separated clusters: perfect recall@5 here
    one = similarity.ivf_topk(assigned, cents, queries, k=5, nprobe=1)
    exact_ids = {(r.query_id, r.vec_id) for r in exact.collect()}
    one_ids = {(r.query_id, r.vec_id) for r in one.collect()}
    assert len(one_ids & exact_ids) / len(exact_ids) == 1.0
    assigned.unpersist()


def test_ivf_partitioned_store_prunes_at_scan(spark, tmp_path):
    """ivf_write + ivf_topk_indexed: the store is hive-partitioned by
    inverted list; a 1-probe query batch plans ONLY its probed list
    directories (static partition pruning) and returns the same rows
    as the in-memory search."""
    import math
    import random

    from neurostore_text_extraction_spark.operators import similarity

    rng = random.Random(11)
    dim = 16
    rows = []
    for c in range(4):
        center = [1.0 if i == c * 4 else 0.0 for i in range(dim)]
        for j in range(25):
            v = [x + rng.uniform(-0.05, 0.05) for x in center]
            n = math.sqrt(sum(x * x for x in v))
            rows.append((c * 100 + j, [x / n for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = similarity.ivf_build(vecs, dim=dim, n_centroids=4, n_iters=2)
    path = str(tmp_path / "ivf")
    similarity.ivf_write(assigned, path)
    import os

    dirs = sorted(d for d in os.listdir(path) if d.startswith("_list="))
    assert len(dirs) >= 2  # clusters landed in distinct partitions

    queries = vecs.where("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivf_topk_indexed(spark, path, cents, queries, k=5, nprobe=1)
    mem = similarity.ivf_topk(assigned, cents, queries, k=5, nprobe=1)
    assert got.exceptAll(mem).count() == 0 and mem.exceptAll(got).count() == 0
    # the scan reads files from exactly ONE _list partition directory
    import re

    probed = {
        m.group(1)
        for f in got.inputFiles()
        for m in [re.search(r"_list=(\d+)", f)]
        if m
    }
    assert len(probed) == 1


def test_ivf_join_path_equals_literal_path(spark):
    """The large-k broadcast-centroid-join path (VERDICT r3 #3) must
    produce IDENTICAL assignments and search results to the literal
    path — same distances, same lowest-id tie-break."""
    import math
    import random

    from neurostore_text_extraction_spark.operators import similarity

    rng = random.Random(11)
    dim = 8
    rows = []
    for c in range(4):
        center = [1.0 if i == c * 2 else 0.0 for i in range(dim)]
        for j in range(15):
            v = [x + rng.uniform(-0.1, 0.1) for x in center]
            n = math.sqrt(sum(x * x for x in v))
            rows.append((c * 100 + j, [x / n for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    a_lit, c_lit = similarity.ivf_build(
        vecs, dim=dim, n_centroids=4, n_iters=2, method="literal"
    )
    a_join, c_join = similarity.ivf_build(
        vecs, dim=dim, n_centroids=4, n_iters=2, method="join"
    )
    # centroid trajectories agree to float-sum-order noise (F.avg's
    # accumulation order across tasks is nondeterministic at ulp level
    # for EITHER method — the methods are algebraically identical)
    for cl, cj in zip(c_lit, c_join):
        assert cl == pytest.approx(cj, rel=1e-9, abs=1e-12)
    lit_map = {r["vec_id"]: r["_list"] for r in a_lit.collect()}
    join_map = {r["vec_id"]: r["_list"] for r in a_join.collect()}
    assert lit_map == join_map

    queries = vecs.where("vec_id % 100 = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t_lit = similarity.ivf_topk(
        a_lit, c_lit, queries, k=3, nprobe=2, method="literal"
    ).collect()
    t_join = similarity.ivf_topk(
        a_lit, c_lit, queries, k=3, nprobe=2, method="join"
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(
        [(r["query_id"], r["rank"], r["vec_id"]) for r in t_lit]
    ) == sorted([(r["query_id"], r["rank"], r["vec_id"]) for r in t_join])


def test_ivf_join_path_plan_stays_small_at_large_k(spark):
    """At k=1024 the literal path would unroll ~k*dim literal nodes;
    the join path's plan must stay O(1) in k (the centroids are data,
    not plan). Asserted on the optimized-plan string size, and that
    'auto' selects the join path above the threshold."""
    from neurostore_text_extraction_spark.operators import similarity

    dim = 64
    assert not similarity._use_literal_path("auto", 1024, dim)
    vecs = spark.createDataFrame(
        [(1, [0.1] * dim)], "vec_id long, embedding array<double>"
    )
    centroids = [[float(i % 7) / 7.0] * dim for i in range(1024)]
    assigned = similarity._assign_via_join(vecs, centroids, "embedding")
    plan = assigned._jdf.queryExecution().optimizedPlan().toString()
    # a literal unroll at k=1024,dim=64 would be ~65k nodes and MBs of
    # plan text; the join plan is a few KB regardless of k
    assert len(plan) < 50_000, f"plan unexpectedly large: {len(plan)} chars"
    queries = spark.createDataFrame(
        [(9, [0.1] * dim)], "query_id long, embedding array<double>"
    )
    topk = similarity.ivf_topk(
        assigned, centroids, queries, k=1, nprobe=2, method="join"
    )
    qplan = topk._jdf.queryExecution().optimizedPlan().toString()
    assert len(qplan) < 100_000, f"query plan unexpectedly large: {len(qplan)}"


def test_ivf_indexed_empty_store_returns_empty(spark, tmp_path):
    """partitionBy over an EMPTY assigned frame writes no files;
    ivf_topk_indexed must return an empty result frame, not raise
    'unable to infer schema' (ADVICE r3)."""
    from neurostore_text_extraction_spark.operators import similarity

    dim = 4
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>, _list int"
    )
    path = str(tmp_path / "ivf_empty")
    similarity.ivf_write(empty, path)
    cents = [[0.0] * dim, [1.0] * dim]
    queries = spark.createDataFrame(
        [(1, [0.5] * dim)], "query_id long, embedding array<double>"
    )
    got = similarity.ivf_topk_indexed(spark, path, cents, queries, k=3, nprobe=1)
    assert got.count() == 0
    assert set(got.columns) == {"query_id", "vec_id", "cosine", "rank"}


def test_ivf_join_path_null_vector_matches_literal(spark):
    """NULL/mismatched vectors must get a NULL list id on BOTH paths —
    the fold path briefly returned a phantom -1 cluster (round-4
    review regression)."""
    from neurostore_text_extraction_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    join_rows = {
        r["vec_id"]: r["_list"]
        for r in similarity._assign_via_join(vecs, cents, "embedding").collect()
    }
    assert join_rows[1] == 0
    assert join_rows[2] is None
    assert join_rows[3] is None  # dim mismatch nulls the distance


def test_ivf_build_tolerates_null_and_wrong_dim_vectors(spark):
    """Regression (round 5): a corpus containing NULL or wrong-dim
    vectors used to crash the k-means update — posexplode of a
    mismatched-dim vector contributed a wrong-length "mean" under a
    None list key and the centroid rewrite indexed new[None]. Such
    rows must instead get _list NULL and stay out of the update."""
    from neurostore_text_extraction_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, None),
        (4, [1.0, 2.0]),  # wrong dim
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = similarity.ivf_build(
        vecs, dim=4, n_centroids=2, n_iters=2
    )
    got = {r["vec_id"]: r["_list"] for r in assigned.collect()}
    assert got[3] is None and got[4] is None
    assert all(got[i] is not None for i in (0, 1, 2))
    # centroids stay 4-dim (the wrong-dim row contributed nothing)
    assert all(len(c) == 4 for c in cents)
