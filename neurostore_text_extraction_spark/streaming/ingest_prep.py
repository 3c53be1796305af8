"""The streaming corpus-prep back half (VERDICT r3 next-round #8):
crawl stream → stateless quality gate → watermark-bounded exact dedup
→ keyed-hash sampler → a gated, deduped, sampled lake — the full
ingest-time pipeline, composed from the operators the batch path uses.

Stage properties on a stream:

- **quality gate** (:func:`streaming.quality.quality_filter`): pure
  narrow column expressions (C4/Gopher signals + folded classifier
  literals) — stateless, no watermark.
- **exact dedup** (:func:`streaming.dedup.dedup_stream`):
  ``dropDuplicatesWithinWatermark`` keyed on (url[, md5(html)]) —
  per-key state bounded by the event-time watermark horizon; replays
  older than the horizon are the batch resume anti-join's job.
- **sampler** (:func:`operators.webtext.sample_by_hash`): the keep
  decision is a pure function of ``xxhash64(key, seed)`` — stateless,
  deterministic across engines and re-partitionings, so the streamed
  sample is byte-identical to the batch sample of the same rows
  (asserted in ``tests/test_streaming_ingest_prep.py``).

Stage ORDER: url triage → gate → dedup → sample. The gate first (cheapest, biggest
reduction — junk never allocates dedup state); the sampler after
dedup so sampling rates apply to unique documents, not to re-fetch
multiplicity (a retry storm must not change a url's keep odds — with
hash sampling it cannot either way, but rate ACCOUNTING is on uniques).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.webtext import (
    URL_BANNED_WORDS,
    sample_by_hash,
    url_quality_filter,
)
from .dedup import dedup_stream
from .quality import quality_filter


def prep_stream(
    pages: DataFrame,
    text_col: str = "text",
    url_blocked_domains=None,
    url_banned_words: tuple | None = None,
    url_max_word_hits: int = 0,
    require_c4: bool = True,
    require_gopher: bool = True,
    quality_model=None,
    min_clf_score: float = 0.5,
    watermark: str = "30 minutes",
    ts_col: str = "warc_ts",
    key_cols: tuple[str, ...] = ("url",),
    by_content: bool = True,
    content_col: str | None = None,
    sample_rate: float = 1.0,
    sample_key: str = "url",
    sample_seed: int = 0,
) -> DataFrame:
    """Compose the ingest-prep chain over a (streaming or batch)
    pages frame. Works identically on both: the batch form is the
    oracle the streaming tests compare against (``by_content=True``
    keeps batch-side dropDuplicates deterministic — the key then
    includes the content hash, so 'first wins' cannot pick different
    survivors across runs for byte-identical dups)."""
    # Triage runs when ANY of its knobs is active (ADVICE r4): a
    # domain blocklist OR an explicit banned-word list — a caller
    # enabling only the word filter must get URL filtering, not a
    # silent no-op. url_banned_words=None means "defaults, but only
    # if triage is otherwise on" (opting into domain blocking must not
    # silently force an unrelated substring filter is preserved by the
    # explicit-opt-in shape: pass url_banned_words=() to disable words
    # while domain-blocking, or a tuple to word-filter alone).
    triage_active = url_blocked_domains is not None or url_banned_words is not None
    if triage_active:
        # cheapest gate first: URL-level triage is a pure narrow map
        # (or broadcast-set UDF) over the url alone — blocked pages
        # never even reach the text-quality expressions.
        triage_cols = ("domain", "n_banned_hits", "blocked_domain", "keep_url")
        clash = [c for c in triage_cols if c in pages.columns]
        if clash:
            # url_quality_filter would overwrite these and the drop
            # below would delete the caller's data — refuse loudly
            raise ValueError(
                f"prep_stream URL triage writes columns {triage_cols}; "
                f"input already carries {clash} — rename them upstream"
            )
        pages = (
            url_quality_filter(
                pages,
                blocked_domains=url_blocked_domains,
                banned_words=(
                    URL_BANNED_WORDS if url_banned_words is None else url_banned_words
                ),
                max_word_hits=url_max_word_hits,
            )
            .where(F.col("keep_url"))
            .drop(*triage_cols)
        )
    gated = quality_filter(
        pages,
        text_col=text_col,
        require_c4=require_c4,
        require_gopher=require_gopher,
        quality_model=quality_model,
        min_clf_score=min_clf_score,
    )
    deduped = dedup_stream(
        gated,
        watermark=watermark,
        ts_col=ts_col,
        key_cols=key_cols,
        by_content=by_content,
        content_col=content_col,
    )
    if sample_rate < 1.0:
        deduped = sample_by_hash(
            deduped, sample_rate, key_col=sample_key, seed=sample_seed
        )
    return deduped
