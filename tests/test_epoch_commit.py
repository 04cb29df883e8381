"""A table commit that fails mid-epoch.

The epoch must raise only after its in-flight commits have finished, leave
the last checkpoint where it was, and let a fresh engine resume from that
checkpoint to the sequential oracle's result.
"""

import threading

import pytest

from newscrawler_spark import datagen
from newscrawler_spark.engine.crawl import CrawlEngine
from newscrawler_spark.oracle import OracleCrawl

N_EPOCHS = 4


def test_failed_commit_rolls_back_and_resumes_to_oracle(
    spark, small_cfg, seed_rows, tmp_path, monkeypatch
):
    eng = CrawlEngine(spark, str(tmp_path), small_cfg)
    eng.bootstrap(
        datagen.gen_seeds_spark(
            spark, small_cfg.n_seed_urls, small_cfg.seed, small_cfg.n_hosts
        )
    )
    eng.run_epoch(0)

    def fail(*args, **kwargs):
        raise RuntimeError("injected fetch_log commit failure")

    monkeypatch.setattr(eng.fetch_log, "append", fail)
    with pytest.raises(RuntimeError, match="injected fetch_log commit failure"):
        eng.run_epoch(1)
    alive = [t.name for t in threading.enumerate() if t.name.startswith("epoch-commit")]
    assert not alive, alive
    assert eng.catalog.last_checkpoint()["epoch"] == 0
    del eng  # simulate process death; all state on disk

    eng2 = CrawlEngine(spark, str(tmp_path), small_cfg)
    start = eng2.resume_epoch()
    assert start == 1
    for e in range(start, N_EPOCHS):
        eng2.run_epoch(e)

    orc = OracleCrawl(small_cfg)
    orc.bootstrap(seed_rows)
    for e in range(N_EPOCHS):
        orc.run_epoch(e)
    order = sorted(
        (r["epoch"], r["seq"], r["url_hash"])
        for r in eng2.crawl_order_with_seq().collect()
    )
    assert order == sorted(orc.res.order)
    assert {r["url_hash"] for r in eng2.seen.read(spark).collect()} == orc.res.seen
    stored = {r["url_hash"] for r in eng2.store.read(spark).select("url_hash").collect()}
    assert stored == set(orc.res.store)
