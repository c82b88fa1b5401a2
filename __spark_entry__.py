"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The inventory lives in ``datafusion_datasource_orc_spark.operators``; every
operator registers its Spark callable and DuckDB oracle side-by-side
(operators/registry.py), which keeps output column names aligned between the
two — the comparator hashes values under sorted column names.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Mirrors the reference's flagship group-by golden
    (tests/basic_reading.rs:919-948) over the ORC scan path: parquet →
    ORC materialization → spark.read.orc → filter → groupBy → count.
    """
    from datafusion_datasource_orc_spark.operators.scan import orc_groupby_count

    return orc_groupby_count(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in registry
    order."""
    from datafusion_datasource_orc_spark.operators import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for EVERY registered query (since
    round 5 — multimodal_decode's stub-decode features became exact integer
    byte sums + single IEEE divisions, so even it is hash-checked; a
    missing oracle row is now a regression, see tests/test_oracle_parity).

    Sketches are oracle-exact by construction: simhash buckets are
    md5-nibble bit votes DuckDB replicates exactly; minhash-LSH /
    vector-LSH / IVF / SQ / PQ / power-iteration use engine-replicable
    integer-mix or exact-decimal arithmetic; and the approx percentile /
    heavy-hitter / distinct queries emit exact twins + boolean
    sketch-guarantee columns."""
    from datafusion_datasource_orc_spark.operators import ORACLES

    return dict(ORACLES)
