"""Integration tests for the real-Iceberg backend (VERDICT r02 next #7).

The iceberg-spark runtime jar cannot be fetched in this sandbox (no
network), so everything here auto-skips via ``iceberg_available``. On a
cluster with the jar, the same tests exercise CREATE TABLE ... USING
iceberg, MERGE INTO (upsert + delete), writeTo append/overwrite, snapshot
rollback, and a full engine bootstrap+epoch over IcebergCatalog.

The interface itself (module import, method surface parity with the
parquet twin, engine wiring) is asserted unconditionally — the adapter must
at least compile and match the contract even where it cannot run.
"""

import inspect

import pytest
from pyspark.sql import functions as F

from newscrawler_spark import datagen
from newscrawler_spark.engine.crawl import CrawlConfig, CrawlEngine
from newscrawler_spark.iceberg_backend import (
    IcebergCatalog,
    IcebergTable,
    configure_hadoop_catalog,
    iceberg_available,
)
from newscrawler_spark.tablelib import Catalog, SnapshotTable


def test_backend_surface_parity():
    """Every table method the engine calls exists on both backends with the
    same name; the engine accepts an injected catalog."""
    needed = [
        "read", "append", "overwrite", "merge_upsert", "merge_delta",
        "prepare_tombstone", "delete_where", "compact", "expire_snapshots", "is_empty",
        "current_snapshot_id", "set_current", "history", "max_dirs_per_bucket",
    ]
    for m in needed:
        assert callable(getattr(SnapshotTable, m)), m
        assert callable(getattr(IcebergTable, m)), m
    # keyword-compatible signatures for the calls the engine makes
    for m in ["merge_upsert", "merge_delta", "prepare_tombstone"]:
        a = set(inspect.signature(getattr(SnapshotTable, m)).parameters)
        b = set(inspect.signature(getattr(IcebergTable, m)).parameters)
        assert a <= b | {"summary", "touched"}, (m, a - b)
    assert "catalog" in inspect.signature(CrawlEngine.__init__).parameters
    assert issubclass(IcebergCatalog, Catalog)


@pytest.fixture(scope="module")
def ice(spark, tmp_path_factory):
    if not iceberg_available(spark):
        pytest.skip("iceberg-spark runtime jar not on the classpath (sandbox)")
    wh = str(tmp_path_factory.mktemp("ice_wh"))
    configure_hadoop_catalog(spark, "ice", wh)
    return "ice"


@pytest.mark.integration
def test_iceberg_table_roundtrip(spark, ice, tmp_path):
    t = IcebergTable(spark, f"{ice}.t", "k long, v string, bucket int")
    s0 = t.current_snapshot_id()
    assert s0 == 0 and t.is_empty()
    df = spark.range(0, 10).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.pmod(F.col("id"), F.lit(4)).cast("int").alias("bucket"),
    )
    s1 = t.append(df)
    assert t.read(spark).count() == 10 and s1 != 0
    # upsert: update 5, insert 5 new
    delta = spark.range(5, 15).select(
        F.col("id").alias("k"),
        F.lit("upd").alias("v"),
        F.pmod(F.col("id"), F.lit(4)).cast("int").alias("bucket"),
    )
    t.merge_upsert(spark, delta, "k")
    assert t.read(spark).count() == 15
    assert t.read(spark).filter("v = 'upd'").count() == 10
    # merge_delta: delete 0-4, insert 100
    t.merge_delta(
        spark,
        t.prepare_tombstone(spark.range(0, 5).select(F.col("id").alias("k")), "k"),
        spark.createDataFrame([(100, "new", 0)], "k long, v string, bucket int"),
        "k",
    )
    assert t.read(spark).count() == 11
    # time travel + rollback
    assert t.read(spark, snapshot_id=s1).count() == 10
    t.set_current(s1)
    assert t.read(spark).count() == 10
    t.delete_where(spark, "k >= 5")
    assert t.read(spark).count() == 5


@pytest.mark.integration
def test_engine_epoch_on_iceberg(spark, ice, small_cfg, tmp_path):
    cat = IcebergCatalog(spark, str(tmp_path), f"{ice}.crawl")
    eng = CrawlEngine(spark, str(tmp_path), small_cfg, catalog=cat)
    eng.bootstrap(
        datagen.gen_seeds_spark(
            spark, small_cfg.n_seed_urls, small_cfg.seed, small_cfg.n_hosts
        )
    )
    stats = eng.run_epoch(0)
    assert stats["fetched"] > 0
    assert eng.seen.read(spark).count() > 0
