"""Engine table schemas (SURVEY.md §1.4, FIXTURES.md §1/§4).

The primary input is the ``pages`` table from BASELINE.json's
input_hint: ``(url string, warc_ts timestamp, html binary,
text string, lang string)``. Output tables generalize the reference's
per-study results.json / info.json / pipeline_info.json trees
(``ns_extract/pipelines/utils.py:309-342``, ``:286-307``, ``:242-284``)
into partitioned-parquet tables with Iceberg-layout semantics.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
            T.StructField("kind", T.StringType(), False),
        ]
    )
)

# Output of the extraction stage (mapInArrow) — one row per page.
# partition_id / wall_us / n_html_bytes are the per-row side of the
# per-partition lineage rows (north rule), which the extraction tasks
# total as they write these rows to the results files. "required"
# metadata drives the schema-conformance validity flag
# (operators/schemaproc.with_validity ≙ the reference's per-row
# pydantic validation, base.py:1072-1095); the results-writing tasks
# derive the same rule from it (operators/extract._valid), so only
# top-level fields may be marked. Required fields stay nullable: a
# page with a null url is a bad page that yields an invalid row, and a
# non-null declaration would let Spark fold the null check away (or
# fail the job converting the row).
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True, metadata={"required": True}),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        # html | jats | pdf | error
        T.StructField("kind", T.StringType(), True, metadata={"required": True}),
        T.StructField("text", T.StringType(), True),
        T.StructField("spans", SPAN_TYPE, True),
        T.StructField("error", T.StringType(), True),
        T.StructField(
            "input_md5", T.StringType(), True, metadata={"required": True}
        ),
        T.StructField("n_html_bytes", T.LongType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("wall_us", T.LongType(), True),
    ]
)

# A results row: the extracted row, its validity flag and the identity
# of the run that wrote it (its config_hash ≙ the reference's
# <config_hash>/ output directory level).
RESULTS_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields
    + [
        T.StructField("valid", T.BooleanType(), True),
        T.StructField("config_hash", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_count", T.LongType(), False),
        T.StructField("error_count", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("wall_ms", T.DoubleType(), False),
        T.StructField("date", T.StringType(), False),
    ]
)

RUNS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("extractor", T.StringType(), False),
        T.StructField("version", T.StringType(), False),
        T.StructField("config_hash", T.StringType(), False),
        T.StructField("kwargs_json", T.StringType(), True),
        T.StructField("schema_json", T.StringType(), True),
        T.StructField("date", T.StringType(), False),
    ]
)
