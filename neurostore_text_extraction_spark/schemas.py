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
# partition_id / wall_us / n_html_bytes feed the per-partition lineage
# aggregation (north rule: per-partition lineage rows). "required"
# metadata drives the generic schema-conformance validity flag
# (operators/schemaproc.with_validity ≙ the reference's per-row
# pydantic validation, base.py:1072-1095).
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False, metadata={"required": True}),
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

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("input_md5", T.StringType(), True),
        T.StructField("config_hash", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
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
