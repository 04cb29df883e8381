"""query_suite: the 15 headline queries in closed-loop passes.

One client: the next query starts when the previous one has finished. The
inputs are parquet tables made from the seed (tables.py). Set-up is
``warm_engine`` and ``queries()``. The timed passes then run
while they still fit in the measuring time (at least one). Each query runs
after clearing Spark's cache and is timed to its result: the collected rows
for the queries with a DuckDB ``oracle_sql()`` twin, which are checked
against it after the timer stops, and a noop sink for the two without one.
The first pass is the first run of each query in the JVM; there is no
untimed pass, because a run has no time for one.
"""

from __future__ import annotations

import os
import time

from common import Census, median, reference_s
from tables import write_tables

# bench.py's HEADLINE list; simhash_prod is added below
HEADLINE = [
    "search_keywords", "window_drain", "group_agg_decimal", "broadcast_dim_join",
    "anti_join_seen", "dedup_exact", "minhash_md5", "lang_id", "quality_features",
    "cosine_topk", "simhash_pairs", "decode_features", "sessionize", "windowed_agg",
]
QUERIES = HEADLINE + ["simhash_prod"]
# no oracle twin: executed and counted, but reported as unchecked
UNCHECKED = {"decode_features", "simhash_prod"}
# capped by design on large inputs: checked as a subset, with its recall
SUBSET = {"simhash_pairs"}
TABLE_ROWS = 0.025  # share of the reference sf0.1 row counts
REF_EVERY = 3  # queries between reference job samples


def _simhash_prod(spark, sf: str):
    """The production xxhash64 SimHash pairs operator, as bench.py times it."""
    from newscrawler_spark.functions import dedup as D

    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    return D.simhash_near_pairs(D.simhash(docs, "doc_id", "text"), "doc_id",
                                max_hamming=7, n_chunks=8)


def _norm_cell(v) -> str:
    # scripts/validate_entry.py's normalisation
    if isinstance(v, float):
        return f"{v:.10g}"
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    return str(v)


def _norm_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)


def _references(sf: str, oracles: dict[str, str]) -> dict:
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "orders", "part", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    out = {}
    for name in QUERIES:
        if name in oracles:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            out[name] = (cols, res.fetchall())
    con.close()
    return out


def _check(name: str, cols: list[str], rows: list[tuple], ref) -> tuple[bool, float | None]:
    """(passed, recall) of one collected result against its reference."""
    ocols, orows = ref
    if sorted(cols) != sorted(ocols):
        return False, None
    mine, theirs = _norm_rows(cols, rows), _norm_rows(ocols, orows)
    if name in SUBSET:
        truth = set(theirs)
        ok = len(set(mine)) == len(mine) and all(r in truth for r in mine)
        return ok, len(mine) / max(len(theirs), 1)
    return mine == theirs, None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(spark, seed: int, seconds: float, workdir: str, tracer,
        census: Census | None) -> dict:
    import __spark_entry__ as E

    from newscrawler_spark.session import warm_engine

    sf = os.path.join(workdir, f"tables-{seed}")
    write_tables(sf, seed, TABLE_ROWS)
    t_setup = time.perf_counter()
    # explicit, so moving the warm-up out of queries() shifts no metric
    warm_engine(spark)
    warm_s = time.perf_counter() - t_setup
    qs = {**E.queries(), "simhash_prod": _simhash_prod}
    setup_s = time.perf_counter() - t_setup
    refs_sql = _references(sf, E.oracle_sql())

    # timed passes, closed loop; each query runs after clearing Spark's
    # cache and is timed to its result: the collected rows when it has an
    # oracle, a noop sink when it has none. Results are checked after the
    # timers stop. The reference job is sampled before every REF_EVERY-th
    # query and after the pass, and each query's wall is divided by the
    # mean of the samples just before and just after its group, so the
    # ratio follows the host's speed through the pass.
    status: dict[str, str] = {}
    recall = None
    times: dict[str, list[float]] = {n: [] for n in QUERIES}
    counts: dict[str, dict] = {}
    passes: list[float] = []
    refs: list[float] = []
    op_ref: list[float] = []
    pass_ref: list[float] = []
    reference_s(spark, workdir)  # its first run in a JVM is cold: not a sample
    attempted = failed = 0
    measured = 0.0
    while True:
        passes.append(0.0)
        samples: list[float] = []
        walls: list[tuple[int, float]] = []
        for i, name in enumerate(QUERIES):
            if i % REF_EVERY == 0:
                samples.append(reference_s(spark, workdir))
            spark.catalog.clearCache()
            before = census.jobs() if census else None
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span(f"query.{name}") as sid:
                    tracer.set_root(sid)
                    df = qs[name](spark, sf)
                    if name in refs_sql:
                        cols, rows = df.columns, [tuple(r) for r in df.collect()]
                    else:
                        _noop(df)
            except Exception as ex:
                status[name] = f"error: {type(ex).__name__}: {ex}"
                failed += 1
                continue
            finally:
                tracer.set_root(None)
            times[name].append(time.perf_counter() - t0)
            passes[-1] += times[name][-1]
            walls.append((i, times[name][-1]))
            if census and name not in counts:
                counts[name] = census.count(census.jobs() - before)
            if name in UNCHECKED:
                status[name] = "unchecked"
                continue
            ok, r = _check(name, cols, rows, refs_sql[name])
            if ok:
                status.setdefault(name, "pass")
            else:
                status[name], failed = "fail", failed + 1
            if name in SUBSET:
                recall = r
        spark.catalog.clearCache()
        samples.append(reference_s(spark, workdir))
        ratios = [t / ((samples[i // REF_EVERY] + samples[i // REF_EVERY + 1]) / 2)
                  for i, t in walls]
        op_ref += ratios
        pass_ref.append(sum(ratios))
        refs += samples
        measured += passes[-1]
        if failed or measured + passes[-1] > seconds:
            break

    layers = {}
    if tracer.enabled:
        for name in QUERIES:
            layers[f"query.{name}_s"] = median(times[name])
            layers[f"query.{name}_jobs"] = counts.get(name, {}).get("jobs", 0)
        layers["query.simhash_pairs_recall"] = recall or 0.0
    return {
        "attempted": attempted,
        "failed": failed,
        "setup_parts_s": setup_s,
        "warm_s": warm_s,
        "op_s": [t for name in QUERIES for t in times[name]],
        "pass_s": passes,
        "reference_s": refs,
        "op_ref": op_ref,
        "pass_ref": pass_ref,
        "layers": layers,
        "query_s": times,
        "census": {"per_query": counts},
        "checks": status,
        "simhash_pairs_recall": recall,
    }
