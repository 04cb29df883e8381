"""In-memory span tracer that wraps the program's public entry points from
outside, plus the self-time arithmetic over the recorded spans.

A span is (id, name, start, end, parent, thread). Spans nest per thread;
a span opened on a thread with no open span takes ``Tracer.root`` as its
parent, so commit-pool work lands under the epoch that spawned it. The
deferred bloom thread is background work and stays unparented. Nothing is
written until ``dump``.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import types
from contextlib import contextmanager

BACKGROUND_THREADS = ("bloom-maintain",)
BLOOM_GROUP = "perfbench-bloom"


class NullTracer:
    """Stands in for the tracer in untraced runs: every span is free."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None

    def set_root(self, sid) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.root: int | None = None
        self._tls = threading.local()
        self._ids = itertools.count(1)

    def set_root(self, sid: int | None) -> None:
        self.root = sid

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._tls.__dict__.setdefault("stack", [])
        thread = threading.current_thread().name
        if stack:
            parent = stack[-1]
        elif thread.startswith(BACKGROUND_THREADS):
            parent = None
        else:
            parent = self.root
        sid = next(self._ids)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append(
                {"id": sid, "name": name, "start": t0, "end": t1,
                 "parent": parent, "thread": thread, **attrs}
            )

    # ---------------------------------------------------------- wrapping

    def wrap(self, owner, attr: str, name: str, per_table: bool = False,
             job_group: str | None = None) -> None:
        """Replace ``owner.attr`` with a spanned twin. ``per_table`` appends
        the receiver's table name; ``job_group`` tags the Spark jobs the
        call submits so the census can tell them from foreground jobs."""
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def spanned(*a, **kw):
            label = f"{name}:{a[0].name}" if per_table else name
            if job_group is None:
                with tracer.span(label):
                    return orig(*a, **kw)
            sc = a[1].sparkContext  # (self, spark, ...) signature
            sc.setLocalProperty("spark.jobGroup.id", job_group)
            try:
                with tracer.span(label):
                    return orig(*a, **kw)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        setattr(owner, attr, spanned)

    def wrap_module(self, module, prefix: str) -> None:
        """Span every public function defined in ``module``."""
        for attr, fn in list(vars(module).items()):
            if (
                isinstance(fn, types.FunctionType)
                and not attr.startswith("_")
                and fn.__module__ == module.__name__
            ):
                self.wrap(module, attr, f"{prefix}.{attr}")

    def span_cost_s(self, n: int = 20_000) -> float:
        """Measured cost of opening and closing one span."""
        probe = Tracer()
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines, times relative to the first span."""
        t_origin = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                rec = dict(s)
                rec["start"] = round(s["start"] - t_origin, 6)
                rec["end"] = round(s["end"] - t_origin, 6)
                f.write(json.dumps(rec) + "\n")


def instrument(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the benchmark reports."""
    from newscrawler_spark import tablelib
    from newscrawler_spark.engine import crawl, seenfilter
    from newscrawler_spark.functions import (
        dedup, multimodal, sessions, similarity, text, textstats,
    )
    from newscrawler_spark.queries import surface

    for attr in ("bootstrap", "select_batch", "fetch_batch", "expand_jvm"):
        tracer.wrap(crawl.CrawlEngine, attr, f"engine.crawl.{attr}")
    # the one place a caller blocks on the deferred bloom job: inside the
    # next epoch after its fetch phase, and at the end of the drain
    tracer.wrap(crawl.CrawlEngine, "_await_bloom", "engine.crawl.await_bloom")
    tracer.wrap(seenfilter.SeenBloom, "split_new", "engine.seenfilter.split_new")
    for attr in ("add_keys", "rebuild_buckets"):
        tracer.wrap(seenfilter.SeenBloom, attr, f"engine.seenfilter.{attr}",
                    job_group=BLOOM_GROUP)
    for attr in ("append", "overwrite", "merge_upsert", "merge_delta",
                 "prepare_tombstone", "compact", "expire_snapshots"):
        tracer.wrap(tablelib.SnapshotTable, attr, f"tablelib.{attr}", per_table=True)
    tracer.wrap(tablelib.Catalog, "checkpoint", "tablelib.checkpoint")
    for mod in (dedup, multimodal, sessions, similarity, text, textstats):
        tracer.wrap_module(mod, "functions." + mod.__name__.rsplit(".", 1)[-1])
    tracer.wrap_module(surface, "queries.surface")


# ------------------------------------------------------------- arithmetic


def union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        inside = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in kids.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(inside)
    return out


def descendants(spans: list[dict], root: int) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out
