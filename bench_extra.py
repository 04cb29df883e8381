"""Round-7 measurement harness (guide §1): per-query isolation via the noop
sink, labelled jobs, repeat timing, and `.explain("formatted")` capture.

NOT the official bench — bench.py is frozen for driver measurement; this
file exists so OPTIMIZATION_r07.md numbers are reproducible.

Usage:
    python bench_extra.py [--plans DIR] [--reps N] [--only q1,q2,...]

Prints one JSON line per query: {"name":..., "secs": [...], "best": ...}.
Plans are written to DIR/<name>.txt when --plans is given.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from newscrawler_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# bench.py's headline list + the prod simhash twin it times inline
HEADLINE = [
    "search_keywords", "window_drain", "group_agg_decimal",
    "broadcast_dim_join", "anti_join_seen", "dedup_exact", "minhash_md5",
    "lang_id", "quality_features", "cosine_topk", "simhash_pairs",
    "decode_features", "sessionize", "windowed_agg",
]


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", default=None)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--only", default=None)
    ap.add_argument("--count", action="store_true",
                    help="time .count() like bench.py instead of the noop sink")
    args = ap.parse_args()

    spark = get_spark(app_name="newscrawler-bench-extra", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E
    from newscrawler_spark.functions import dedup as D
    from newscrawler_spark.session import warm_engine

    warm_engine(spark)
    qs = E.queries()
    names = list(HEADLINE) + ["simhash_prod"]
    if args.only:
        names = [n for n in args.only.split(",") if n]

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    for name in names:
        def build():
            if name == "simhash_prod":
                docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
                sh = D.simhash(docs, "doc_id", "text")
                return D.simhash_near_pairs(sh, "doc_id", max_hamming=7, n_chunks=8)
            return qs[name](spark, SF_DIR)

        secs = []
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            df = build()
            if args.count:
                df.count()
            else:
                noop(df)
            secs.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        if args.plans:
            try:
                plan = build()._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            except Exception:
                import io
                from contextlib import redirect_stdout

                buf = io.StringIO()
                with redirect_stdout(buf):
                    build().explain("formatted")
                plan = buf.getvalue()
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(plan)
        print(json.dumps({"name": name, "secs": secs, "best": min(secs)}),
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
