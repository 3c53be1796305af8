"""Incremental recomputation + exact resume (O1–O3 in SURVEY.md §4,
north rule "checkpoint manifests enabling exact resume"; the results
table is the manifest).

Reference behavior generalized:
- config identity: 6-byte shake_256 of version + sorted kwargs
  (``ns_extract/pipelines/base.py:264-298``);
- change detection: per-doc input MD5 vs the newest prior result
  (``base.py:372-411``, ``utils.py:40-54``);
- the work queue is everything *not* matched — a ``left_anti`` join,
  the distributed form of ``_filter_unprocessed_studies``
  (``base.py:509-532``).

At 10^12 docs the results table is itself big; the anti-join
shuffles both sides on ``url`` — the key the results table is written
by, so with bucketed/Iceberg tables this is a co-located join.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, functions as F

from ..sources.catalog import SNAPSHOT_PATH


def config_hash(version: str, kwargs: dict | None = None) -> str:
    """6-byte shake_256 hex of version + canonical kwargs — the run's
    cache key (≙ ``base.py:264-268``)."""
    payload = version + json.dumps(kwargs or {}, sort_keys=True, default=str)
    return hashlib.shake_256(payload.encode("utf-8")).hexdigest(6)


def unprocessed(
    pages: DataFrame,
    prior: DataFrame | None,
    cfg_hash: str,
    id_col: str = "url",
    md5_col: str = "input_md5",
) -> DataFrame:
    """pages rows whose md5 differs from the newest ``prior`` result
    (a results table read, or None) for their url under ``cfg_hash`` —
    new docs, changed docs (also changed back to an older version), and
    docs from other configs. A null payload has a null md5, so md5s
    match null-safely. ``md5(html)`` is native ``F.md5``: the skip
    decision never touches Python.
    """
    with_md5 = pages.withColumn("_cur_md5", F.md5(F.col("html")))
    if prior is None:
        return with_md5.drop("_cur_md5")
    # the newest md5 per url: greatest snapshot path, the order
    # Catalog.read_latest picks by (paths sort by sequence number)
    done = (
        prior.where(F.col("config_hash") == cfg_hash)
        .groupBy(F.col(id_col).alias("_done_id"))
        .agg(F.max_by(md5_col, F.col(SNAPSHOT_PATH)).alias("_done_md5"))
    )
    match = (F.col(id_col) == F.col("_done_id")) & F.col("_cur_md5").eqNullSafe(
        F.col("_done_md5")
    )
    return with_md5.join(done, match, "left_anti").drop("_cur_md5")


def changed_ids(
    current: DataFrame,
    prior: DataFrame,
    id_col: str = "url",
    md5_col: str = "input_md5",
) -> DataFrame:
    """Set-semantics helper (SURVEY §2.6): ids in current whose hash
    differs or that are absent from prior."""
    return current.select(id_col, md5_col).join(
        prior.select(id_col, md5_col), [id_col, md5_col], "left_anti"
    ).select(id_col)


def corpus_hash_df(df: "DataFrame", id_col: str = "url") -> "DataFrame":
    """A5 corpus-keys hash (``base.py:646-669``): sha256 of the sorted,
    '_'-joined id list — the DependentPipeline group-identity component
    of the cache key. One row out. At large scale prefer hashing the
    snapshot id instead; this is the exact reference-parity form."""
    return df.agg(
        F.sha2(
            F.concat_ws("_", F.sort_array(F.collect_list(F.col(id_col).cast("string")))),
            256,
        ).alias("corpus_sha256")
    )


def corpus_hash_scalable(df: "DataFrame", id_col: str = "url") -> "DataFrame":
    """Scale-safe A5: a commutative digest of the id set — (count,
    bit_xor of two independent 32-bit md5 words per id) folded into one
    sha256. Fully map-side-combinable, no sorted collect_list single
    task; order- and partitioning-independent by construction. Use this
    (or the Iceberg snapshot id) as the DependentPipeline group
    identity at scale; ``corpus_hash_df`` stays as the reference-parity
    form."""
    h = F.md5(F.col(id_col).cast("string"))
    hv = df.select(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("h2"),
    )
    return hv.agg(
        F.sha2(
            F.concat_ws(
                "_",
                F.count("*").cast("string"),
                F.bit_xor("h1").cast("string"),
                F.bit_xor("h2").cast("string"),
            ),
            256,
        ).alias("corpus_sha256")
    )
