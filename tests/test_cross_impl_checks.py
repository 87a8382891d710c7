"""Independent cross-implementation checks (round-5 review findings).

1. a_session_window_agg's batch lag/cumsum kernel is now the SAME
   construction its DuckDB oracle runs, so the oracle alone can no
   longer catch a shared construction bug (strict-gap boundary,
   cumsum tiebreak). The builtin ``session_window`` is an independent
   implementation — pin batch-kernel == builtin here.
2. synth_partsupp (test-local) is the reference implementation of the
   Q2/Q20 partsupp synthesis; PARTSUPP_CTE is its DuckDB twin built
   from the SAME PS_*_EXPR strings. Pin the cross-engine table equality so a
   drifted constant can never silently break 'definitionally
   identical'.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from sync_spark.operators.extended_queries import a_session_window_agg
from sync_spark.operators.relational import _t, dec
from sync_spark.operators.tpch_queries import (
    PARTSUPP_CTE,
    PS_AVAILQTY_EXPR,
    PS_COST_EXPR,
)


def synth_partsupp(spark, sf_dir: str):
    """The Spark twin of PARTSUPP_CTE (Q2/Q20 inline the same PS_*_EXPR
    strings into their fused plans): one distinct on the pair key, the
    derived columns key arithmetic."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_partkey", "l_suppkey").distinct().select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
        F.expr(PS_AVAILQTY_EXPR).cast("long").alias("ps_availqty"),
        F.expr(PS_COST_EXPR).cast("long").alias("ps_supplycost_c"),
    )


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_session_kernel_matches_builtin(spark, sf_dir):
    manual = {tuple(r) for r in a_session_window_agg(spark, sf_dir).collect()}
    ev = _t(spark, sf_dir, "events")
    builtin = {
        tuple(r)
        for r in (
            ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(dec("value")).cast("double").alias("session_value"),
            )
            .select(
                "user_id",
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                    "session_start"
                ),
                F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                    "session_end"
                ),
                "n_events",
                "session_value",
            )
            .collect()
        )
    }
    assert manual == builtin and len(manual) > 0


def test_synth_partsupp_matches_oracle_cte(spark):
    sf_dir = "/root/testdata/sf0.001"
    got = {
        tuple(r)
        for r in synth_partsupp(spark, sf_dir)
        .select("ps_partkey", "ps_suppkey", "ps_availqty", "ps_supplycost_c")
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')"
    )
    want = set(
        map(tuple, con.execute(PARTSUPP_CTE + "SELECT * FROM partsupp").fetchall())
    )
    con.close()
    assert got == want and len(got) > 1000
