"""Scaling workload definition + single-level runner.

    python scripts/bench_scaling_workload.py --run N

runs one drain at N cores (or on $SPARK_MASTER) and prints one JSON line:
throughput, driver commit seconds and the per-phase seconds summed over the
epochs. scripts/bench_scaling_cluster.py runs it once per leg.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORES = (4, 16)
# Payload-heavy shape: real crawl payloads are camera-scale images whose
# decode+validate costs tens of ms, so the measured drain is decode-
# dominated like a production image crawl. One large epoch = the realistic
# cluster regime (millions of URLs per drain cycle).
WORKLOAD = {
    "n_seed_urls": 300_000,
    "n_payload": 3_000,
    "n_hosts": 15_000,
    "batch_size": 120_000,
    "epochs": 1,
    "img_sizes": "256",
    "arrow_batch": "128",
}

# Amdahl probe: SPARK_GRAFT_SCALE_MULT=m multiplies the parallel work
# (seeds, hosts, batch) by m while the per-epoch fixed cost (planning,
# job-launch latency, driver commit protocol) stays constant — the measured
# efficiency-vs-workload-size curve is the sandbox evidence that the serial
# component amortizes at production scale.
_MULT = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "1"))
if _MULT != 1:
    WORKLOAD = dict(
        WORKLOAD,
        n_seed_urls=WORKLOAD["n_seed_urls"] * _MULT,
        n_hosts=WORKLOAD["n_hosts"] * _MULT,
        batch_size=WORKLOAD["batch_size"] * _MULT,
    )


def run_level(cores: int) -> dict:
    import shutil
    import tempfile

    from newscrawler_spark import datagen
    from newscrawler_spark.engine.crawl import CrawlConfig, CrawlEngine
    from newscrawler_spark.session import get_spark

    spark = get_spark(app_name=f"scaling-{cores}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = CrawlConfig(
        seed=42,
        n_hosts=WORKLOAD["n_hosts"],
        n_payload=WORKLOAD["n_payload"],
        n_seed_urls=WORKLOAD["n_seed_urls"],
        batch_size=WORKLOAD["batch_size"],
        bucket_count=128,
        salt_buckets=8,
    )
    root = tempfile.mkdtemp(prefix=f"scale-{cores}-")
    try:
        eng = CrawlEngine(spark, root, cfg)
        seeds = datagen.gen_seeds_spark(spark, cfg.n_seed_urls, cfg.seed, cfg.n_hosts)
        eng.payload_df().count()  # payload table build is outside the timer
        tb = time.time()
        eng.bootstrap(seeds)
        boot = time.time() - tb
        t0 = time.time()
        fetched = 0
        driver_commit = 0.0
        phases: dict[str, float] = {}
        for e in range(WORKLOAD["epochs"]):
            st = eng.run_epoch(e)
            fetched += st["fetched"]
            driver_commit += st.get("driver_commit_s", 0.0)
            for name, sec in eng._last_epoch_marks:
                phases[name] = round(phases.get(name, 0.0) + sec, 2)
        # deferred bloom maintenance of the last epoch lands inside the timer
        eng._await_bloom()
        wall = time.time() - t0
        return {
            "cores": cores,
            "bootstrap_sec": round(boot, 2),
            "wall_sec": round(wall, 2),
            "urls": fetched,
            "urls_per_sec": round(fetched / wall, 2),
            "driver_commit_sec": round(driver_commit, 3),
            "phases_sec": phases,
        }
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--run":
        sys.exit("usage: bench_scaling_workload.py --run CORES")
    print(json.dumps(run_level(int(sys.argv[2]))))
