"""Streaming deduplication (SURVEY.md §2.10 depth × the dedup family):
drop repeated urls/content inside a watermark-bounded window, the
streaming twin of ``operators/dedup.exact_duplicates``.

A crawl stream re-emits the same url (re-fetches, mirror hosts after
canonicalization, retry storms). ``dropDuplicatesWithinWatermark``
keeps per-key state only until the event-time watermark passes it —
bounded state, unlike ``dropDuplicates`` on a stream, whose state grows
forever (the OOM every unbounded-state streaming job eventually hits at
crawl scale). First-observation-wins within the watermark horizon;
duplicates older than the horizon are the batch layer's job
(the resume anti-join already makes replays idempotent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def dedup_stream(
    pages: DataFrame,
    watermark: str = "30 minutes",
    ts_col: str = "warc_ts",
    key_cols: tuple[str, ...] = ("url",),
    by_content: bool = False,
    content_col: str | None = None,
) -> DataFrame:
    """First row per key within the watermark horizon.

    - ``key_cols=("url",)``: URL-level dedup (apply
      ``webtext.canonical_url_col`` upstream to fold mirrors).
    - ``by_content=True`` adds md5(content) to the key, so a
      re-crawled url with CHANGED bytes passes through (the streaming
      analogue of the resume's (url, input_md5) match) while
      byte-identical re-fetches are dropped. ``content_col`` names
      the content column; None auto-picks ``html`` when present else
      ``text`` (post-extraction streams carry no raw html — the
      hard-coded column was a round-4 review finding).

    Works on batch DataFrames too (falls back to plain dropDuplicates)
    so the same operator is testable against a batch oracle."""
    keys = list(key_cols)
    df = pages
    if by_content:
        if content_col is None:
            content_col = "html" if "html" in df.columns else "text"
        df = df.withColumn("_content_md5", F.md5(F.col(content_col)))
        keys.append("_content_md5")
    if not df.isStreaming:
        return df.dropDuplicates(keys).drop("_content_md5")
    out = df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return out.drop("_content_md5") if by_content else out
