"""SparkSession factory.

One place to own the configuration that the scale story depends on:
Arrow-vectorized Python interop, AQE (incl. skew-join splitting), UTC
session time (the reference stores naive-UTC timestamps,
/root/reference/database.py:20-22), and a shuffle-partition count sized to
the core count rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batches carry multi-MB image payloads through pandas UDFs; cap rows
# per batch so a batch stays well under executor memory even at 128x128 RGB.
ARROW_MAX_RECORDS = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2048"))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "newscrawler-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with the engine's standard config.

    ``cores`` pins ``local[N]`` — used by the bench to run the identical job
    at two parallelism levels (local[8] vs local[32]) for the scaling-
    efficiency evidence. If a session already exists it is returned as-is
    (Spark cannot change master in-process), so benches must stop() between
    levels.
    """
    n = cores or default_parallelism()
    master = os.environ.get("SPARK_MASTER", f"local[{n}]")
    # Deployment rule (BENCH.md §2): multi-executor masters (local-cluster /
    # standalone / YARN) need >= 4x total cores of shuffle partitions or the
    # expand/commit window starves (measured: store merge queued 123s -> 3s).
    # Single-JVM local[N] is fastest near 1x cores (per-task overhead wins at
    # sf0.1), so only the multi-executor default changes.
    sp_default = max(n, 8) if master.startswith("local[") else max(4 * n, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(
                shuffle_partitions
                or int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS", "0"))
                or sp_default
            ),
        )
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        # only meaningful under a multi-executor master (local-cluster /
        # standalone / YARN); local[N] ignores it
        .config("spark.executor.memory", os.environ.get("SPARK_EXECUTOR_MEMORY", "4g"))
        # executor python workers must find this package when the master
        # forks real executor JVMs (local-cluster / standalone) — the
        # in-process sys.path hack only covers the driver. Equivalent to
        # spark-submit --py-files for an installed checkout.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(
                p for p in (
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    os.environ.get("PYTHONPATH", ""),
                ) if p
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    # Scheduler mode stays Spark's default FIFO (BENCH.md §2.4c A/B): FAIR
    # was hypothesized to help the concurrent commit jobs share slots, but
    # the interleaved 8-leg A/B measured it 9–13% SLOWER end-to-end (mean
    # 909.6 vs 998.8 URLs/s), with the loss in the long decode/fetch stage.
    # spark.locality.wait=0 is the default: Spark's 3 s wait idles free
    # slots waiting for a cache-local executor — a real cost for the
    # expand window and commit tail's many tiny cached-input jobs (the same
    # A/B measured locality.wait=0 at mean 1,046.8 vs 998.8 URLs/s with the
    # expand phase at 61.2 vs 75.2 s). On the deployment side the scan
    # source is an object store (no data locality to wait for), which is
    # the standard setting for S3/GCS-backed clusters; HDFS-local
    # deployments can restore the wait via
    # extra_conf={"spark.locality.wait": "3s"}.
    builder = builder.config("spark.locality.wait", "0")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_warmed_app_ids: set[str] = set()


def warm_engine(spark: SparkSession | None = None) -> bool:
    """One-time, input-independent engine warmup (guide §1.2: time the
    computation, not the machinery).

    A fresh Spark JVM pays multi-second one-offs on whichever query runs
    first: whole-stage-codegen compiler bring-up, shuffle writer/reader
    class loading, the broadcast/window exec paths, the parquet-mr reader
    stack, and the fork of the Arrow Python worker daemons. Measured on
    this box those one-offs are ~4-6 s charged to the first scan query and
    ~1.5 s to the first Arrow UDF query — session overhead, not query cost.

    This helper exercises each of those paths once against synthetic
    ``spark.range`` data and a throwaway temp-dir parquet file. It reads
    NOTHING from any input dataset and materializes no reusable result —
    every query still computes from its parquet inputs — so repeated
    invocations are cheap no-ops and the warmup can never leak data or
    results across runs. Callers run it in their untimed setup.
    """
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return False
    app_id = spark.sparkContext.applicationId
    if app_id in _warmed_app_ids:
        return False
    _warmed_app_ids.add(app_id)
    import shutil
    import tempfile

    from pyspark.sql import Window as _W
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobDescription("engine_warmup (untimed one-off; synthetic data only)")
    try:
        n = default_parallelism()

        def _agg_sort():
            # codegen + hash aggregate + exchange + sort machinery
            (
                spark.range(0, 100_000, 1, n)
                .select(F.pmod(F.xxhash64("id"), F.lit(9973)).alias("k"))
                .groupBy("k").count().orderBy(F.desc("count")).limit(5).collect()
            )

        def _bjoin_window():
            # broadcast join + window exec paths
            big = spark.range(0, 10_000, 1, n).select(
                F.pmod("id", F.lit(64)).alias("k"), F.col("id").alias("v")
            )
            small = spark.range(0, 64).select(F.col("id").alias("k"))
            w = _W.partitionBy("k").orderBy(F.desc("v"))
            (
                big.join(F.broadcast(small), "k")
                .withColumn("r", F.row_number().over(w))
                .filter(F.col("r") <= 2).count()
            )

        def _parquet():
            # parquet writer+reader class stack, against a throwaway temp file
            tmp = tempfile.mkdtemp(prefix="warmup-parquet-")
            try:
                p = os.path.join(tmp, "w.parquet")
                spark.range(0, 1024, 1, 4).selectExpr(
                    "id", "cast(id as string) s", "cast(id as double) d"
                ).write.mode("overwrite").parquet(p)
                spark.read.parquet(p).filter(F.col("id") % 7 == 0).count()
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

        def _arrow():
            # fork the Arrow Python worker daemons on every core so the first
            # real pandas-UDF stage reuses warm workers instead of fork+import
            def _ident(it):
                for pdf in it:
                    yield pdf

            spark.range(0, n, 1, n).mapInPandas(_ident, "id long").count()

        # the four paths are independent Spark jobs — warm them concurrently
        # (wall = max stage, not sum; same trick as the engine's commit pool)
        from concurrent.futures import ThreadPoolExecutor

        ok = True
        with ThreadPoolExecutor(max_workers=4) as pool:
            for f in [pool.submit(g) for g in (_agg_sort, _bjoin_window, _parquet, _arrow)]:
                try:
                    f.result()
                except Exception:
                    ok = False  # best-effort; never block a real query
        return ok
    except Exception:
        return False  # warmup is best-effort; never block a real query
    finally:
        sc.setJobDescription(None)
