"""crawl_discover and crawl_refresh: closed-loop frontier drains.

One client: the next epoch starts when ``run_epoch`` returns. A drain is
bootstrap (set-up) + a fixed number of epochs + landing the last deferred
bloom job. Drains repeat from a fresh catalog while the next one still
fits in the measuring time; every drain is the same work. Outputs are
checked against the sequential ``OracleCrawl`` after the timers stop.
Set-up is JVM start, the payload cache and bootstrap; the drains skip
``warm_engine``, whose one-off paths bootstrap exercises anyway.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import numpy as np

from common import Census, median, reference_s
from spans import BLOOM_GROUP, descendants, self_times

SHAPES = {
    # frontier several times the batch, Zipf hosts so the politeness quota
    # binds on hot hosts, link expansion and the bloom seen filter on
    "crawl_discover": {
        "epochs": 1,
        "cfg": dict(n_seed_urls=3_000, n_hosts=500, n_payload=300,
                    batch_size=200, bucket_count=8, salt_buckets=4,
                    salt_min_rows=1_000, host_quota=10),
    },
    # a recrawl of a known URL list: no expansion, full batches, so fetch
    # + decode and the store merge carry the epoch
    "crawl_refresh": {
        "epochs": 3,
        "cfg": dict(n_seed_urls=8_000, n_hosts=2_000, n_payload=300,
                    batch_size=1_200, bucket_count=16, salt_buckets=4,
                    salt_min_rows=2_000, host_quota=300, expand=False),
    },
}
PHASES = {"select_batch": "select", "fetch+log_agg": "fetch",
          "expand": "expand", "parallel_commit": "commit"}
REF_SAMPLES = 3  # reference job walls per drain
TABLES = ("frontier", "seen", "store", "host_state", "fetch_log",
          "crawl_order", "seen_bloom")
COMMIT_OPS = ("append", "overwrite", "merge_upsert", "merge_delta",
              "prepare_tombstone")


def config(workload: str, seed: int):
    from newscrawler_spark.engine.crawl import CrawlConfig

    return CrawlConfig(seed=seed, **SHAPES[workload]["cfg"])


def _dir_size(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _one_drain(spark, cfg, epochs: int, workdir: str, tracer, census,
               refs: list[float]) -> dict:
    from pyspark.sql import functions as F

    from newscrawler_spark import datagen
    from newscrawler_spark.engine.crawl import CrawlEngine

    root = tempfile.mkdtemp(prefix="catalog-", dir=workdir)
    eng = CrawlEngine(spark, root, cfg)
    t0 = time.perf_counter()
    payload = eng.payload_df()
    payload.count()
    t1 = time.perf_counter()
    eng.bootstrap(datagen.gen_seeds_spark(spark, cfg.n_seed_urls, cfg.seed, cfg.n_hosts))
    t2 = time.perf_counter()
    # untimed shape checks: frontier size and its hottest host
    per_host = eng.frontier.read(spark).groupBy("host").count()
    frontier0, host_max0 = per_host.agg(F.sum("count"), F.max("count")).first()
    bloom_before = census.jobs(BLOOM_GROUP) if census else None

    d = {"payload_s": t1 - t0, "bootstrap_s": t2 - t1, "frontier0": int(frontier0 or 0),
         "host_max0": int(host_max0 or 0), "epochs": [], "error": None}
    t_first = time.perf_counter()
    for e in range(epochs):
        before = census.jobs() if census else None
        ts = time.perf_counter()
        try:
            with tracer.span("engine.crawl.run_epoch", epoch=e) as sid:
                tracer.set_root(sid)
                st = eng.run_epoch(e)
        except Exception as ex:  # counted as a failed op, the drain stops
            d["error"] = f"epoch {e}: {type(ex).__name__}: {ex}"
            break
        finally:
            tracer.set_root(None)
        te = time.perf_counter()
        rec = {"wall_s": te - ts, "span": sid,
               "marks": {PHASES.get(n, n): s for n, s in eng._last_epoch_marks},
               **{k: st[k] for k in ("fetched", "discovered", "stored", "dead",
                                     "driver_commit_s")}}
        if census:
            rec["census"] = census.count(census.jobs() - before)
        d["epochs"].append(rec)
    if d["error"] is None:
        try:
            eng._await_bloom()  # the drain ends when committed work has landed
        except Exception as ex:
            d["error"] = f"deferred bloom: {type(ex).__name__}: {ex}"
    d["wall_s"] = time.perf_counter() - t_first
    # sampled once the drain has landed, when it has warmed the paths the
    # job uses; none between epochs, where the deferred bloom job runs
    refs += [reference_s(spark, workdir) for _ in range(REF_SAMPLES)]
    if census:
        d["bloom_census"] = census.count(census.jobs(BLOOM_GROUP) - bloom_before)
    d["files"], d["bytes"] = _dir_size(root)
    d["engine"], d["root"], d["payload"] = eng, root, payload
    return d


def _outputs(spark, eng) -> dict:
    """The drain's results as plain Python, for the oracle comparison."""
    rows = eng.crawl_order_with_seq().collect()
    order = sorted((r["epoch"], r["seq"], r["url_hash"]) for r in rows)
    per_host: dict[tuple[int, str], int] = {}
    for r in rows:
        per_host[r["epoch"], r["host"]] = per_host.get((r["epoch"], r["host"]), 0) + 1
    seen = {r["url_hash"] for r in eng.seen.read(spark).select("url_hash").collect()}
    store = {
        r["url_hash"]: (r["image_id"], r["caption"], r["phash"], r["w"], r["h"],
                        r["fmt"], r["first_epoch"], r["last_epoch"],
                        r["fmt"] != "qpng" or r["psnr"] >= 40.0)
        for r in eng.store.read(spark).collect()
    }
    # the most URLs one host got in each epoch's batch (the quota caps it)
    host_max = {}
    for (e, _), n in per_host.items():
        host_max[e] = max(host_max.get(e, 0), n)
    return {"order": order, "seen": seen, "store": store,
            "host_max": [host_max[e] for e in sorted(host_max)]}


def _oracle(cfg, epochs: int):
    from newscrawler_spark import datagen
    from newscrawler_spark.oracle import OracleCrawl

    orc = OracleCrawl(cfg)
    seeds = datagen.gen_seeds_pdf(np.arange(cfg.n_seed_urls), cfg.seed, cfg.n_hosts)
    orc.bootstrap([tuple(r) for r in seeds.itertuples(index=False)])
    stats = [orc.run_epoch(e) for e in range(epochs)]
    store = {
        k: (v["image_id"], v["caption"], v["phash"], v["w"], v["h"], v["fmt"],
            v["first_epoch"], v["last_epoch"], True)
        for k, v in orc.res.store.items()
    }
    return {"order": sorted(orc.res.order), "seen": orc.res.seen,
            "store": store, "stats": stats}


def _failed_epochs(d: dict, out: dict, ref: dict, epochs: int) -> list[int]:
    """Epochs whose output differs from the oracle's. Order and per-epoch
    counts localise a difference; a seen or store difference fails every
    epoch of the drain."""
    bad = set(range(len(d["epochs"]), epochs))  # never ran
    if out["seen"] != ref["seen"] or out["store"] != ref["store"]:
        return list(range(epochs))
    for e, rec in enumerate(d["epochs"]):
        mine = [x for x in out["order"] if x[0] == e]
        theirs = [x for x in ref["order"] if x[0] == e]
        st = ref["stats"][e]
        if mine != theirs or any(rec[k] != st[k] for k in ("fetched", "discovered", "stored")):
            bad.add(e)
    return sorted(bad)


def _split_new_isolated(spark, eng, cfg) -> dict:
    """split_new warm and alone: a fixed discovered set (every seen key plus
    as many keys known to be new) against the end-of-run seen table, forced
    through a noop sink. Also the exact-join share and the measured bloom
    false-positive rate on the new keys."""
    from pyspark.sql import functions as F

    from newscrawler_spark.engine.seenfilter import bloom_probe

    seen = eng.seen.read(spark).select("url_hash", "bucket")
    n_seen = seen.count()
    fresh = (
        spark.range(n_seen)
        .select(F.xxhash64(F.lit(cfg.seed), F.lit("perfbench-new"), "id").alias("url_hash"))
        .withColumn("bucket", F.pmod("url_hash", F.lit(cfg.bucket_count)).cast("int"))
        .join(seen.select("url_hash"), "url_hash", "left_anti")
    )
    disc = seen.unionByName(fresh).cache()
    n_probed = disc.count()

    def run() -> float:
        t0 = time.perf_counter()
        eng.seen_bloom.split_new(spark, disc, eng.seen).write.format("noop").mode(
            "overwrite").save()
        return time.perf_counter() - t0

    run()
    secs = median([run() for _ in range(3)])
    blooms = eng.seen_bloom.table.read(spark).select("bucket", "words", "m")
    probed = disc.join(blooms, "bucket", "left").withColumn(
        "hit", F.col("words").isNull() | bloom_probe(F.col("words"), F.col("url_hash"), F.col("m"))
    )
    n_exact = probed.filter("hit").count()
    fresh_p = probed.join(seen.select("url_hash"), "url_hash", "left_anti")
    n_fresh = fresh_p.count()
    n_fp = fresh_p.filter(F.col("words").isNotNull() & F.col("hit")).count()
    disc.unpersist()
    return {"split_new_s": secs, "exact_share": n_exact / max(n_probed, 1),
            "fpp": n_fp / max(n_fresh, 1)}


def _layer_metrics(drains: list[dict], tracer) -> dict:
    """Per-layer numbers from the traced drains (all epochs pooled)."""
    spans = tracer.spans
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    eps = [rec for d in drains for rec in d["epochs"]]
    n_ep = max(len(eps), 1)

    plan, unattributed, breakdown = [], [], []
    for rec in eps:
        kids = descendants(spans, rec["span"])
        plan.append(sum(
            s["end"] - s["start"] for s in kids
            if s["name"].endswith(("select_batch", "fetch_batch", "expand_jvm", "split_new"))
        ))
        own = selfs[rec["span"]]
        unattributed.append(own / max(rec["wall_s"], 1e-9))
        # the epoch's wall = its own self time + the union of its children;
        # per layer, the children's self times (concurrent commits overlap)
        by_layer: dict[str, float] = {}
        for s in kids:
            by_layer[_layer(s["name"])] = by_layer.get(_layer(s["name"]), 0.0) + selfs[s["id"]]
        breakdown.append({"wall_s": rec["wall_s"], "self_s": own,
                          "children_s": rec["wall_s"] - own, "layers_self_s": by_layer})

    def total(pred) -> float:
        return sum(s["end"] - s["start"] for s in spans if pred(s))

    def outermost_table(s) -> bool:
        p = by_id.get(s["parent"])
        return not (p and p["name"].startswith("tablelib."))

    boot_ids = {s["id"] for s in spans if s["name"] == "engine.crawl.bootstrap"}
    in_boot = set()
    for b in boot_ids:
        in_boot.update(s["id"] for s in descendants(spans, b))

    def drain_span(s) -> bool:
        return s["id"] not in in_boot and s["id"] not in boot_ids

    m = {}
    for key in ("select", "fetch", "expand", "commit"):
        m[f"crawl.{key}_s"] = median([rec["marks"].get(key, 0.0) for rec in eps])
    m["crawl.tail_s"] = median([rec["wall_s"] - sum(rec["marks"].values()) for rec in eps])
    m["crawl.plan_s"] = median(plan)
    for key in ("jobs", "stages", "tasks"):
        m[f"crawl.{key}_per_epoch"] = median([rec["census"][key] for rec in eps])
    m["crawl.fetched_per_epoch"] = median([rec["fetched"] for rec in eps])
    m["crawl.discovered_per_epoch"] = median([rec["discovered"] for rec in eps])
    m["crawl.bootstrap_s"] = median([d["bootstrap_s"] for d in drains])
    m["trace.unattributed_share"] = median(unattributed)

    bloom = [s for s in spans if s["name"].startswith(("engine.seenfilter.add_keys",
                                                       "engine.seenfilter.rebuild_buckets"))
             and drain_span(s)]
    m["seenfilter.maintain_s"] = sum(s["end"] - s["start"] for s in bloom) / n_ep
    # the part of the bloom work that outlasts the point where the drain
    # needs it is the time callers spend blocked in _await_bloom
    m["seenfilter.wait_s"] = total(
        lambda s: drain_span(s) and s["name"] == "engine.crawl.await_bloom") / n_ep
    m["seenfilter.maintain_jobs"] = median([d["bloom_census"]["jobs"] for d in drains])

    for t in TABLES:
        m[f"tablelib.commit_s.{t}"] = total(
            lambda s: drain_span(s) and outermost_table(s)
            and any(s["name"] == f"tablelib.{op}:{t}" for op in COMMIT_OPS)
        ) / n_ep
    m["tablelib.compact_s"] = total(
        lambda s: drain_span(s) and outermost_table(s)
        and s["name"].startswith(("tablelib.compact:", "tablelib.expire_snapshots:"))
    ) / n_ep
    m["tablelib.driver_commit_s"] = sum(rec["driver_commit_s"] for rec in eps) / n_ep
    m["tablelib.files"] = median([d["files"] for d in drains])
    m["tablelib.bytes"] = median([d["bytes"] for d in drains])
    return m, breakdown


def _layer(span_name: str) -> str:
    parts = span_name.split(":")[0].split(".")
    return ".".join(parts[:2]) if parts[0] == "engine" else parts[0]


def run(spark, workload: str, seed: int, seconds: float, workdir: str,
        tracer, census: Census | None) -> dict:
    cfg = config(workload, seed)
    epochs = SHAPES[workload]["epochs"]
    drains: list[dict] = []
    refs: list[float] = []
    measured = 0.0
    while True:
        d = _one_drain(spark, cfg, epochs, workdir, tracer, census, refs)
        drains.append(d)
        measured += d["wall_s"]
        if not d["error"]:
            d["out"] = _outputs(spark, d["engine"])  # untimed
        if d["error"] or measured + d["wall_s"] > seconds:
            break
        shutil.rmtree(d["root"], ignore_errors=True)
        d["payload"].unpersist()

    # ---- untimed from here: oracle check, isolation probes, teardown
    ref = _oracle(cfg, epochs)
    failed = sum(
        epochs if d["error"] else len(_failed_epochs(d, d["out"], ref, epochs))
        for d in drains
    )
    last = drains[-1]
    layers, breakdown = {}, []
    if tracer.enabled and not last["error"]:
        layers, breakdown = _layer_metrics(drains, tracer)
        iso = (_split_new_isolated(spark, last["engine"], cfg) if cfg.expand
               else {"split_new_s": 0.0, "exact_share": 0.0, "fpp": 0.0})
        layers.update({f"seenfilter.{k}": v for k, v in iso.items()})
    shutil.rmtree(last["root"], ignore_errors=True)

    eps = [rec for d in drains for rec in d["epochs"]]
    fetched = [sum(r["fetched"] for r in d["epochs"]) for d in drains]
    props = {
        "frontier0": [d["frontier0"] for d in drains],
        "salted_select": all(d["frontier0"] >= cfg.salt_min_rows for d in drains),
        "full_batches": all(r["fetched"] == cfg.batch_size for r in eps),
        "zero_discoveries": all(r["discovered"] == 0 for r in eps),
        # the hottest host holds more than the quota at epoch 0, and every
        # epoch's batch takes exactly the quota from some host
        "host_max0": [d["host_max0"] for d in drains],
        "batch_host_max": [d["out"]["host_max"] for d in drains if "out" in d],
        "quota_binds": all(
            d["host_max0"] > cfg.host_quota
            and d["out"]["host_max"] == [cfg.host_quota] * epochs
            for d in drains if "out" in d),
        # median share of the epoch wall per run_epoch phase
        "phase_share": {
            p: median([r["marks"].get(p, 0.0) / r["wall_s"] for r in eps])
            for p in PHASES.values()},
    }
    return {
        "attempted": epochs * len(drains),
        "failed": failed,
        "setup_parts_s": median([d["payload_s"] + d["bootstrap_s"] for d in drains]),
        "op_s": [r["wall_s"] for r in eps],
        "pass_s": [d["wall_s"] for d in drains],
        "reference_s": refs,
        "op_ref": [r["wall_s"] / median(refs) for r in eps],
        "pass_ref": [d["wall_s"] / median(refs) for d in drains],
        "drain_urls_per_s": median([f / d["wall_s"] for f, d in zip(fetched, drains)]),
        "layers": layers,
        "epochs": [{"wall_s": r["wall_s"], **r["marks"]} for r in eps],
        "epoch_spans": breakdown,
        "census": {
            "per_epoch": [{**r.get("census", {}), "fetched": r["fetched"],
                           "discovered": r["discovered"]} for r in drains[0]["epochs"]],
            "files": drains[0]["files"],
        },
        "properties": props,
        "errors": [d["error"] for d in drains if d["error"]],
    }
