"""Crawl-frontier benchmark entry point.

    python3 perfbench/run.py --workload crawl_discover --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run is one fresh Spark JVM at
local[nproc]. Workloads: crawl_discover, crawl_refresh (drain.py) and
query_suite (suite.py). With --trace 0 the last stdout line carries the
end-to-end metrics; with --trace 1 the public entry points of each layer
are wrapped in spans (spans.py) and the line carries the per-layer
metrics. The line before it is the run record: environment, samples,
exact counts, checks. Scratch files live under .perfbench/ in the
repository root; the run record and the spans are kept there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

import common
import drain
import spans
import suite

WORKLOADS = ("crawl_discover", "crawl_refresh", "query_suite")
END_TO_END = {
    "setup_s": "s",
    "op_ref": "ref",
    "pass_ref": "ref",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.rss_peak_mb": "MB",
    "crawl.bootstrap_s": "s",
    "crawl.select_s": "s",
    "crawl.fetch_s": "s",
    "crawl.expand_s": "s",
    "crawl.commit_s": "s",
    "crawl.tail_s": "s",
    "crawl.plan_s": "s",
    "crawl.jobs_per_epoch": "count",
    "crawl.stages_per_epoch": "count",
    "crawl.tasks_per_epoch": "count",
    "crawl.fetched_per_epoch": "count",
    "crawl.discovered_per_epoch": "count",
    "seenfilter.split_new_s": "s",
    "seenfilter.exact_share": "ratio",
    "seenfilter.fpp": "ratio",
    "seenfilter.maintain_s": "s",
    "seenfilter.wait_s": "s",
    "seenfilter.maintain_jobs": "count",
    **{f"tablelib.commit_s.{t}": "s" for t in drain.TABLES},
    "tablelib.compact_s": "s",
    "tablelib.driver_commit_s": "s",
    "tablelib.files": "count",
    "tablelib.bytes": "B",
    "codecs.decode_rows_per_s_1w": "rows/s",
    "codecs.decode_rows_per_s_nw": "rows/s",
    **{f"query.{q}_s": "s" for q in suite.QUERIES},
    **{f"query.{q}_jobs": "count" for q in suite.QUERIES},
    "query.simhash_pairs_recall": "ratio",
    "trace.op_s_p50": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_share": "ratio",
}
KERNEL_ROWS = {"crawl_discover": 300, "crawl_refresh": 300, "query_suite": 200}


def _program_present(root: str) -> bool:
    return os.path.isfile(os.path.join(root, "newscrawler_spark", "__init__.py")) and (
        os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    )


def _session(workdir: str, n: int):
    from newscrawler_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    spark = get_spark(
        app_name="perfbench",
        cores=n,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run visible to the census
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not _program_present(root):
        print("perfbench: newscrawler_spark/ and __spark_entry__.py not found; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    state = os.path.join(root, ".perfbench")
    os.makedirs(state, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=state)
    os.makedirs(os.path.join(workdir, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")

    # a SIGTERM ends the run through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        env = common.EnvRecord()
        # the payload rows the workload decodes: the drains' own, or the
        # 200 fixed rows decode_features reads
        kernel = common.kernel_rows_per_s(KERNEL_ROWS[args.workload], (
            42 if args.workload == "query_suite" else args.seed))
        n = common.nproc()

        t0 = time.perf_counter()
        spark = _session(workdir, n)
        start_s = time.perf_counter() - t0

        tracer = spans.Tracer() if args.trace else spans.NullTracer()
        census = common.Census(spark.sparkContext) if args.trace else None
        if args.trace:
            spans.instrument(tracer)
        if args.workload == "query_suite":
            res = suite.run(spark, args.seed, args.seconds, workdir, tracer, census)
        else:
            res = drain.run(spark, args.workload, args.seed, args.seconds, workdir,
                            tracer, census)
        rss = common.rss_peak_mb(spark)
    finally:
        if spark is not None:
            spark.stop()
        killed = common.stop_all()
        shutil.rmtree(workdir, ignore_errors=True)

    setup_s = start_s + res["setup_parts_s"]
    op_p50 = common.median(res["op_s"])
    e2e = {
        "setup_s": setup_s,
        "op_ref": common.geomean(res["op_ref"]),
        "pass_ref": common.median(res["pass_ref"]),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "env": {**env.finish(kernel), "killed_at_exit": len(killed)},
        "end_to_end": e2e,
        "op_s_p50": op_p50,
        "pass_s_p50": common.median(res["pass_s"]),
        "rss_peak_mb": rss,
        "op_latency": common.latency_summary(res["op_s"]),
        "pass_s": res["pass_s"],
        "failed_share": res["failed"] / max(res["attempted"], 1),
        **{k: v for k, v in res.items()
           if k not in ("op_s", "pass_s", "op_ref", "pass_ref", "layers")},
    }
    if args.trace:
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update(res["layers"])
        layers["session.start_s"] = start_s
        layers["session.warm_s"] = res.get("warm_s", 0.0)
        layers["session.rss_peak_mb"] = rss
        layers["codecs.decode_rows_per_s_1w"] = kernel["1"]
        layers["codecs.decode_rows_per_s_nw"] = kernel[str(n)]
        layers["trace.op_s_p50"] = op_p50
        layers["trace.overhead_s"] = len(tracer.spans) * tracer.span_cost_s()
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        tracer.dump(os.path.join(state, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    record["metrics"] = {k: v["value"] for k, v in metrics.items()}
    with open(os.path.join(state, f"record-{args.workload}-{args.seed}-{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
