"""SparkSession factory.

Defaults are tuned so the same code is correct on ``local[32]`` for tests
and on a 1000-executor cluster for production:

- AQE on (runtime coalesce, skew-join splitting, dynamic join selection);
- shuffle partitions sized for the local box (clusters override via
  spark-submit conf — AQE coalesces the excess either way);
- UTC session timezone so results compare cleanly against the DuckDB
  oracle (DuckDB timestamps are naive/UTC);
- Arrow enabled for any pandas interchange (vectorized, not per-row pickle);
- PySpark's per-call Python call-site capture off (plan building is
  driver time on every daily run).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))


def default_parallelism() -> int:
    """The core count get_spark() sizes ``local[N]`` with — the public
    accessor for harness code (bench.py sizes its Arrow-pool warmup by
    it). Reading the private ``_DEFAULT_CPUS`` from outside silently
    diverges if session internals change (ADVICE r11)."""
    return int(_DEFAULT_CPUS)


def get_spark(
    app_name: str = "etl-data-peri-institute-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession with scale-aware defaults."""
    cpus = int(_DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferWindowGroupLimit (partial rank-limit before the exchange)
        # only fires when the rank bound is under this threshold
        # (default 1000). Our SF-adaptive edge/candidate budgets (e.g.
        # g_kcore_decomposition's 5x supplier count) legitimately exceed
        # that while staying orders of magnitude under the frame size —
        # pushing the partial limit is still the winning plan there, so
        # raise the ceiling. (Round-5 spill probe: the k-core window
        # input is 5M rows at 10x; bounded, only ~tasks x budget move.)
        .config("spark.sql.optimizer.windowGroupLimitThreshold", str(1 << 20))
        # PySpark's call-site capture for error messages: with it on,
        # every F.col and Column method call records its Python caller
        # over ~8 py4j calls (~1-3 ms each against ~0.06 ms for one
        # py4j round trip). Off, errors still raise; their message
        # loses the Python call-site fragment.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
