"""SparkSession factory tuned for the engine.

Local-mode defaults are sized from ``SPARK_GRAFT_CPUS`` (driver
contract) but every setting here is the one we'd also want on a real
cluster: AQE on (runtime coalesce + skew-join handling), Arrow for
any pandas exchange, UTC session time so results are comparable with
the DuckDB oracle and stable across machines.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

def get_spark(app_name: str = "sync_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count — at
    cluster scale this is overridden by AQE's coalescing anyway
    (``spark.sql.adaptive.coalescePartitions``), so the static value
    only needs to be a sane upper bound for local runs.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # DataFrame debug-context capture (SPARK-47274) decorates every
        # DataFrame/Column API call with a Python stack walk plus THREE
        # py4j round-trips (conf.get + PySparkCurrentOrigin.set/clear)
        # purely to enrich error messages with user call sites. That is
        # a per-API-call DRIVER tax — independent of data scale and of
        # core count — measured at 16.4s -> 11.9s summed query
        # construction across the 141-query registry (interleaved
        # per-query A/B pairs, r11 opt round). Serving/bench sessions
        # run analyzed, tested plans; error-site enrichment belongs in
        # development sessions, so it is off here (static conf — must
        # be set at build time).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # let AQE own the output partitioning of persisted frames
        # (default false pins a cached plan's pre-AQE shuffle shape, so
        # a persisted aggregate caches shuffle.partitions near-empty
        # partitions and every consumer schedules them as tasks —
        # d_simhash_pairs' cached chunk relation ran 100 near-empty
        # tasks per action at bench scale). Interleaved calm-window
        # A/Bs (r11 opt round, second continuation): 6/6 wins on the
        # simhash floor (1.06 -> 0.84s at sf0.001), statistical wash
        # on every other persisted operator at sf0.001/sf0.1; a
        # hot-window draw of the same A/B read 2/6 — decided in the
        # calm window. Scale posture: coalescing near-empty cached
        # partitions is what the conf exists for; values are
        # partitioning-independent throughout (the repo's order-free
        # aggregate discipline), confirmed by the full driver-sim
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # static conf: set at build time so bucketed saveAsTable has a
        # writable warehouse without polluting the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR", os.path.join(tempfile.gettempdir(), "sync_spark_warehouse")
            ),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Load every parquet table under ``sf_dir`` and register temp views.

    Returns {name: DataFrame}. Registration makes ``spark.sql`` usable
    with the same table names the DuckDB oracle sees.
    """
    names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    from sync_spark.sources.readers import read_table

    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            # read_table memoizes the immutable corpus per session —
            # a ten-table registration pass was paying ~1s of repeated
            # listing + footer inference per call otherwise
            df = read_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
