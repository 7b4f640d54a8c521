from __future__ import annotations

import duckdb
import pytest

from rangebar_patterns_spark.session import get_spark
from rangebar_patterns_spark.sources.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    # Spark 4 converts toPandas() via Arrow by default; that native path
    # segfaults intermittently under the suite's sustained load (observed
    # ~1-in-3 full runs, always inside compare_frames' toPandas).  The
    # comparison frames here are small — plain JVM serialization is fine.
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    yield spark


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same testdata tables registered as views,
    mirroring the driver's oracle harness."""
    con = duckdb.connect()
    # the suite co-resides with a large-heap Spark JVM; DuckDB's default
    # memory limit (80% of RAM) overcommits under that pressure and the
    # heaviest oracle twins die with OutOfMemoryException mid-suite.  The
    # sf0.001 oracles run comfortably in a few GB; cap explicitly and allow
    # spill-to-disk for anything that exceeds it.  Thread count is capped
    # low as well: 32-way parallel aggregation under memory pressure was
    # observed to flip ordered-fold results intermittently mid-suite
    # (merge-order sensitivity of list aggregates when operators spill) —
    # single-run re-execution always passed.  Fewer threads = deterministic
    # merge trees at fixture scale, with no measurable suite slowdown.
    con.execute("SET memory_limit='24GB'")
    con.execute("SET threads=4")
    con.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def compare_frames(spark_df, duck_df, rtol=0.0, atol=0.0):
    """Order-insensitive comparison mirroring the driver's check: sort
    columns by name, sort rows, compare values."""
    import pandas as pd

    sp = spark_df.toPandas()
    du = duck_df
    assert sorted(sp.columns) == sorted(du.columns), (
        f"schema mismatch: {sorted(sp.columns)} vs {sorted(du.columns)}"
    )
    cols = sorted(sp.columns)
    sp = sp[cols].sort_values(cols).reset_index(drop=True)
    du = du[cols].sort_values(cols).reset_index(drop=True)
    assert len(sp) == len(du), f"row count mismatch: {len(sp)} vs {len(du)}"
    for c in cols:
        # strict dtype parity when no NULLs force a pandas up-cast
        if not (sp[c].isna().any() or du[c].isna().any()):
            assert sp[c].dtype == du[c].dtype, (
                f"dtype mismatch on {c}: spark={sp[c].dtype} duck={du[c].dtype}"
            )
    for c in cols:
        s, d = sp[c], du[c]
        if s.dtype.kind == "f" or d.dtype.kind == "f":
            import numpy as np

            s = s.astype(float)
            d = d.astype(float)
            both_nan = s.isna() & d.isna()
            close = np.isclose(s, d, rtol=rtol, atol=atol, equal_nan=True)
            bad = ~(both_nan | close)
            assert not bad.any(), (
                f"column {c}: {bad.sum()} mismatches, first at idx "
                f"{bad.idxmax()}: spark={s[bad].iloc[0]!r} duck={d[bad].iloc[0]!r}"
            )
        else:
            pd.testing.assert_series_equal(
                s, d, check_names=False, check_dtype=False, obj=f"column {c}"
            )
