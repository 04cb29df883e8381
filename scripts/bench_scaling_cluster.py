"""N vs 4N EXECUTORS via Spark's local-cluster master — the faithful test.

``local-cluster[n,cores,memMB]`` forks n real executor JVMs with their own
heaps and shuffle/broadcast transport — the same execution topology as
spark-submit on a standalone cluster, minus the network. This is the
closest the sandbox can get to the north rule's "N and 4N executors", and
it removes the single-JVM artifact the local[N] pairs measure: profiling
showed the decode stage's per-core rate collapsing (175 → 43 URLs/s/core)
as concurrency x batch grew inside ONE shared heap, a pathology a real
multi-executor deployment does not have because each executor GCs its own
bounded heap.

Pair: local-cluster[1,C,M] (N=1 executor) vs local-cluster[4,C,M] (4N),
where C = $SCALING_EXEC_CORES (default 4) and M = $SCALING_EXEC_MEM_MB.
Same per-executor cores and memory — scaling out, exactly like adding
cluster nodes.

Usage: python scripts/bench_scaling_cluster.py [mult] [reps]
Writes scaling_cluster_last_run.json (raw); the curated per-round evidence
files (scaling_cluster_r*.json) are assembled by hand from the runs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RUNNER = os.path.join(HERE, "bench_scaling_workload.py")

# Per-executor shape is identical across the pair (scaling OUT, like adding
# nodes). Default 4 cores/executor; SCALING_EXEC_CORES overrides — e.g. 2 for
# a 1x2-vs-4x2 pair whose total core count stays under the box's DRAM
# saturation knee.
EXEC_CORES = int(os.environ.get("SCALING_EXEC_CORES", "4"))
EXEC_MEM_MB = int(os.environ.get("SCALING_EXEC_MEM_MB", "18432"))


def run(n_exec: int, mult: int) -> dict:
    env = dict(os.environ)
    env["SPARK_MASTER"] = f"local-cluster[{n_exec},{EXEC_CORES},{EXEC_MEM_MB}]"
    env["SPARK_EXECUTOR_MEMORY"] = "16g"
    env["SPARK_DRIVER_MEMORY"] = "8g"
    env["SPARK_GRAFT_SCALE_MULT"] = str(mult)
    env["SPARK_GRAFT_IMG_SIZES"] = "256"
    env["SPARK_GRAFT_ARROW_BATCH"] = "128"
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    cores_total = n_exec * EXEC_CORES
    out = subprocess.run(
        [sys.executable, RUNNER, "--run", str(cores_total)],
        env=env, capture_output=True, text=True, timeout=5400,
    )
    with open(
        os.path.join(REPO, f"scaling_leg_{n_exec}exec_{EXEC_CORES}c_m{mult}.log"), "w"
    ) as f:
        f.write(out.stdout + "\n--- stderr (tail) ---\n" + out.stderr[-20000:])
    lines = out.stdout.strip().splitlines()
    if not lines:
        # leg JVMs died without output (r5d: a session-end SIGHUP reached the
        # process group mid-leg) — surface the cause instead of IndexError
        raise RuntimeError(
            f"leg n_exec={n_exec} produced no stdout (rc={out.returncode}); "
            f"stderr tail: {out.stderr[-2000:]}"
        )
    r = json.loads(lines[-1])
    r["n_executors"] = n_exec
    r["mult"] = mult
    # loadavg the moment the leg ends: the pre-pair probe can't see
    # contention that arrives DURING a ~20-min leg (r5c: probe loadavg 1.6,
    # post-leg 24), so stamp each leg with the 1/5/15-min averages at exit.
    r["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    print(r, flush=True)
    return r


def kernel_probe() -> dict:
    """Same-window bare-kernel N→4N ceiling (no Spark): the shared VM's
    ambient DRAM contention swings the decode-bound legs ±25%, so every
    pair carries the ceiling measured beside it — a slow pair with a low
    ceiling is the box, not the framework."""
    os.environ.setdefault("SPARK_GRAFT_IMG_SIZES", "256")
    sys.path.insert(0, HERE)
    from bench_kernel import run_level

    lo, hi = EXEC_CORES, 4 * EXEC_CORES
    r_lo = max(round(run_level(600, lo), 1) for _ in range(2))
    r_hi = max(round(run_level(600, hi), 1) for _ in range(2))
    return {
        "kernel_rows_per_sec": {str(lo): r_lo, str(hi): r_hi},
        "kernel_ceiling_eff": round(r_hi / (4 * r_lo), 3),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    pairs = []
    for rep_i in range(reps):
        # a failed rep (dead JVM, contention kill) records its error and the
        # remaining reps still run + the partial evidence still gets written
        try:
            probe = kernel_probe()
            r1 = run(1, mult)
            r4 = run(4, mult)
            # bracket the pair: a second probe AFTER the legs catches
            # contention that arrived mid-pair (the r5c failure mode). A pair
            # is only clean if BOTH probes' ceilings are high.
            probe_after = kernel_probe()
            pairs.append(
                {
                    "window_probe": probe,
                    "window_probe_after": probe_after,
                    "r_1exec": r1,
                    "r_4exec": r4,
                    "eff": round(r4["urls_per_sec"] / (4 * r1["urls_per_sec"]), 3),
                }
            )
        except Exception as e:  # noqa: BLE001 — record, keep measuring
            pairs.append({"rep": rep_i, "error": f"{type(e).__name__}: {e}"[:3000]})
        print(json.dumps(pairs[-1]), flush=True)
    out = {
        "protocol": (
            f"local-cluster[n,{EXEC_CORES},{EXEC_MEM_MB}m]: n real executor "
            "JVMs (own heap, real shuffle/broadcast transport) on one box — "
            "N=1 vs 4N=4 executors, same per-executor cores+memory"
        ),
        "exec_cores": EXEC_CORES,
        "exec_mem_mb": EXEC_MEM_MB,
        "workload_mult": mult,
        "pairs": pairs,
        "best_eff": max((p["eff"] for p in pairs if "eff" in p), default=None),
    }
    # raw last-run dump; the curated round evidence (scaling_cluster_r3.json)
    # is assembled by hand from all runs and must not be clobbered
    with open(os.path.join(REPO, "scaling_cluster_last_run.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
