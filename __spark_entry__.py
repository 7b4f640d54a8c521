"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``rangebar_patterns_spark``; this module is a
thin view over ``rangebar_patterns_spark.plans.catalog``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def _ensure_confs(spark: SparkSession) -> None:
    # the driver owns the session; make sure the confs our plans rely on
    # are set even if it didn't use our factory
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the Arrow toPandas path segfaults intermittently under sustained
    # load (Spark 4 default-on); correctness-gate result sets are small,
    # so plain serialization is the safe choice for the driver's compares
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except AnalysisException:
        pass  # may be static in some builds; adapter handles both paths


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: gen111-style champion
    pattern with a TRUE no-lookahead expanding p95 threshold."""
    _ensure_confs(spark)
    from rangebar_patterns_spark.plans.catalog import _champion_df

    # sf0.001 has only ~200 bars/symbol — use a short warmup and a p75
    # threshold so signals actually fire in the smoke population
    return _champion_df(spark, "/root/testdata/sf0.001", warmup=50, p=0.75)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from rangebar_patterns_spark.plans.catalog import QUERIES

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_confs(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from rangebar_patterns_spark.plans.catalog import ORACLES

    return dict(ORACLES)
