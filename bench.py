"""Headline benchmark — prints ONE JSON line for the driver.

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus one crawl-frontier
drain throughput measurement (the BASELINE.json north-star metric).

Output: {"metric": ..., "value": total_sec, "unit": "sec",
         "queries": {name: sec, ...}, "sf": ...,
         "drain_urls_per_sec": ..., ...}

Scaling-efficiency evidence (1 vs 4 executors) lives in
scripts/bench_scaling_cluster.py → BENCH.md, since one JVM cannot switch masters.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from newscrawler_spark.session import get_spark, warm_engine  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "search_keywords",
    "window_drain",
    "group_agg_decimal",
    "broadcast_dim_join",
    "anti_join_seen",
    "dedup_exact",
    "minhash_md5",
    "lang_id",
    "quality_features",
    "cosine_topk",
    "simhash_pairs",
    "decode_features",
    "sessionize",
    "windowed_agg",
]

DRAIN = {
    "n_seed_urls": 20_000,
    "n_payload": 4_000,
    "n_hosts": 500,
    "batch_size": 4_000,
    "epochs": 3,
}


def bench_queries(spark) -> dict[str, float]:
    import __spark_entry__ as E

    qs = E.queries()
    out: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        n = df.count()  # force full execution
        out[name] = round(time.time() - t0, 3)
        _ = n
    # the gated `simhash_pairs` measures the md5 ORACLE TWIN (DuckDB can
    # reproduce md5); users run the xxhash64 production operator, which is
    # what this entry times (VERDICT r02 wrong #2)
    from newscrawler_spark.functions import dedup as D

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    t0 = time.time()
    sh = D.simhash(docs, "doc_id", "text")
    n = D.simhash_near_pairs(sh, "doc_id", max_hamming=7, n_chunks=8).count()
    out["simhash_prod"] = round(time.time() - t0, 3)
    _ = n
    return out


def bench_drain(spark) -> dict:
    from newscrawler_spark import datagen
    from newscrawler_spark.engine.crawl import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(
        seed=42,
        n_hosts=DRAIN["n_hosts"],
        n_payload=DRAIN["n_payload"],
        n_seed_urls=DRAIN["n_seed_urls"],
        batch_size=DRAIN["batch_size"],
        bucket_count=128,
        salt_buckets=8,
    )
    root = tempfile.mkdtemp(prefix="bench-drain-")
    try:
        eng = CrawlEngine(spark, root, cfg)
        seeds = datagen.gen_seeds_spark(spark, cfg.n_seed_urls, cfg.seed, cfg.n_hosts)
        eng.payload_df().count()  # warm the payload cache outside the timer
        tb = time.time()
        eng.bootstrap(seeds)
        boot = time.time() - tb
        t0 = time.time()
        fetched = 0
        phases: dict[str, float] = {}
        for e in range(DRAIN["epochs"]):
            st = eng.run_epoch(e)
            fetched += st["fetched"]
            for name, sec in getattr(eng, "_last_epoch_marks", []):
                phases[name] = phases.get(name, 0.0) + sec
        # land the last epoch's deferred bloom maintenance inside the timer:
        # in steady state it overlaps the next fetch, but a finite bench must
        # not stop the clock with committed work still in flight
        eng._await_bloom()
        wall = time.time() - t0  # engine epochs only — the comparable number
        # phase split so the next regression names its phase
        # (select/fetch/expand/commit; "bootstrap" is the one-off seed leg,
        # reported separately so round-over-round drain numbers measure the
        # engine, not datagen — VERDICT r04 next-step #2)
        phases = {k: round(v, 2) for k, v in phases.items()}
        phases["bootstrap"] = round(boot, 2)
        return {
            "drain_sec": round(wall, 3),
            "drain_sec_gross": round(wall + boot, 3),
            "drain_bootstrap_sec": round(boot, 3),
            "drain_urls": fetched,
            "drain_urls_per_sec": round(fetched / wall, 2),
            "drain_urls_per_sec_gross": round(fetched / (wall + boot), 2),
            "drain_phases": phases,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def ambient_probe() -> dict | None:
    """Same-window host-noise context for the official per-round number.

    Round 4's record showed a ~25% across-the-board bench swing on queries
    whose code had not changed; measured-window reps attributed it to
    ambient shared-VM DRAM contention (BENCH.md, bench_reps_r5.json). This
    probe runs the bare decode+validate kernel (scripts/bench_kernel.py —
    no Spark) in a subprocess BEFORE the session starts, so every recorded
    BENCH_r{N}.json carries the window's own hardware ceiling and loadavg
    alongside the timings. Probe time is NOT part of the reported value.
    """
    try:
        script = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "scripts", "bench_kernel.py"
        )
        out = subprocess.run(
            [sys.executable, script, "1600", "256", "8,32"],
            capture_output=True, text=True, timeout=300,
        )
        kernel = json.loads(out.stdout.strip().splitlines()[-1])
        return {
            "kernel_rows_per_sec": kernel["best_rows_per_sec"],
            "kernel_ceiling_eff_8_to_32": kernel["kernel_ceiling_eff_N_to_4N"],
            "loadavg": [round(x, 2) for x in os.getloadavg()],
        }
    except Exception:
        return None


def wait_for_window() -> tuple[dict | None, dict]:
    """Bounded pre-flight: re-probe the bare-kernel 8->32 ceiling until it
    clears SPARK_GRAFT_WAIT_CEILING (default 0.68 — between the contended
    0.53 windows that under-reported BENCH_r04/r05 by ~20% and the box's
    quiet-day 0.74+) or the SPARK_GRAFT_WAIT_SECS budget (default 1200 s)
    runs out; then measure regardless. Every probe is recorded so the
    official JSON self-documents its window either way. Disable with
    SPARK_GRAFT_WAIT_CEILING=0 (VERDICT r05 next-step #3)."""
    ceiling = float(os.environ.get("SPARK_GRAFT_WAIT_CEILING", "0.68"))
    budget = float(os.environ.get("SPARK_GRAFT_WAIT_SECS", "1200"))
    t0 = time.time()
    effs: list[float | None] = []
    waited = False
    while True:
        amb = ambient_probe()
        effs.append(None if amb is None else amb["kernel_ceiling_eff_8_to_32"])
        ok = (
            amb is None
            or ceiling <= 0
            or amb["kernel_ceiling_eff_8_to_32"] >= ceiling
        )
        out_of_time = time.time() - t0 > budget
        if ok or out_of_time:
            return amb, {
                "waited_for_window": waited,
                "window_found": bool(ok),
                "wait_sec": round(time.time() - t0, 1),
                "wait_ceiling": ceiling,
                "probe_effs": effs,
            }
        waited = True
        time.sleep(float(os.environ.get("SPARK_GRAFT_WAIT_POLL_SEC", "120")))


def main() -> None:
    ambient, window_wait = wait_for_window()
    spark = get_spark(app_name="newscrawler-bench", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    # untimed one-off JVM warm-up (codegen, shuffle, Arrow worker fork), so
    # it does not land on whichever query happens to run first
    warm_engine(spark)
    queries = bench_queries(spark)
    drain = bench_drain(spark)
    total = round(sum(queries.values()) + drain["drain_sec"], 3)
    result = {
        "metric": "headline query suite + frontier drain wall time (drain net of one-off bootstrap; gross alongside)",
        "value": total,
        "unit": "sec",
        "queries": {**queries, "frontier_drain": drain["drain_sec"]},
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cpus": CPUS,
        "drain_urls": drain["drain_urls"],
        "drain_urls_per_sec": drain["drain_urls_per_sec"],
        "drain_sec_gross": drain["drain_sec_gross"],
        "drain_bootstrap_sec": drain["drain_bootstrap_sec"],
        "drain_urls_per_sec_gross": drain["drain_urls_per_sec_gross"],
        "drain_phases": drain["drain_phases"],
        "ambient": ambient,
        "waited_for_window": window_wait["waited_for_window"],
        "window_wait": window_wait,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
