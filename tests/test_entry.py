"""Driver-contract tests: entry() smoke, and the full queries() vs
oracle_sql() DuckDB cross-check at sf0.001 (replicating the driver's
CORRECTNESS gate locally)."""

import oracle_check


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"url", "text", "spans", "kind"}


def test_every_query_has_oracle_or_is_flagged():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    # every operator claimed done has an oracle (none are non-SQL here)
    assert set(oracles) == set(qs)


def test_queries_match_duckdb_oracles_sf0001():
    results = oracle_check.run_all("/root/testdata/sf0.001")
    failures = {k: v for k, v in results.items() if v}
    assert not failures, failures


def test_scan_fanout_decision_follows_a_rewritten_path(spark, tmp_path):
    """The fan-out cache key carries the path's size and mtime, so a
    parquet file rewritten at the same path gets a fresh decision."""
    import os

    import __spark_entry__ as e

    path = str(tmp_path / "t.parquet")
    spark.range(10).coalesce(1).write.parquet(path)
    e._scan_fanout(spark, path)
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(path)
    os.utime(path, ns=(0, 0))  # a different mtime even on a coarse clock
    e._scan_fanout(spark, path)
    assert len([k for k in e._FANOUT if k[0] == path]) == 2
