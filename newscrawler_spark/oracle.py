"""Sequential pure-Python reference-semantics oracle.

A tiny, obviously-correct, single-threaded model of the crawl loop with the
*same* declared semantics as ``engine.crawl.CrawlEngine``: identical
admission filters (caption>=1000, /root/reference/main.py:183-184),
ordering (priority desc, discovered_at asc, url_hash asc —
main.py:187/google_news_crawler.py:518 with deterministic tie-breaks),
seen-set rule (first canonical occurrence wins,
google_news_crawler.py:306-313), per-host politeness quota
(article_extractor.py:82-105 expressed per 60s epoch), retry/backoff
(scraping_config.py:12-16), and upsert rule (main.py:214-227).

pytest asserts engine ≡ oracle on: (a) emitted crawl order, (b) final
URL-seen set, (c) stored payload rows, (d) resume-from-checkpoint ≡
uninterrupted run. Shares every pure function (canonicalize, xxh64,
payload_row, expand_links, fetch_status) with the engine, so any divergence
is a real scheduling/dataflow bug, not fixture drift.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

from . import codecs, datagen
from .urlnorm import canonical_host_py, canonicalize_py
from .xxh64 import xxh64_str


@dataclass
class FrontierRow:
    url: str  # canonical
    host: str
    url_hash: int
    priority: float
    discovered_at: dt.datetime
    retry_count: int = 0
    not_before: int = 0


@dataclass
class OracleResult:
    order: list[tuple[int, int, int]] = field(default_factory=list)  # epoch, seq, url_hash
    seen: set[int] = field(default_factory=set)
    store: dict[int, dict] = field(default_factory=dict)
    log: list[dict] = field(default_factory=list)


class OracleCrawl:
    def __init__(self, cfg):
        self.cfg = cfg
        self.frontier: dict[int, FrontierRow] = {}
        self.res = OracleResult()
        self.blocked = set(datagen.blocklist_hosts(cfg.seed, cfg.n_hosts)) | set(
            datagen.robots_denied_hosts(cfg.seed, cfg.n_hosts)
        )  # static excluded domains + robots.txt-disallowed hosts
        self._payload_cache: dict[int, tuple] = {}

    # --------------------------------------------------------------- setup

    def bootstrap(self, seed_rows: list[tuple]) -> None:
        """seed_rows: (url, priority, discovered_at, category, language)."""
        for url, priority, discovered_at, _cat, _lang in seed_rows:
            host = canonical_host_py(url)
            if host in self.blocked:
                continue
            canon = canonicalize_py(url)
            h = xxh64_str(canon)
            if h in self.res.seen:
                continue  # first occurrence wins (seeds are in index order)
            self.res.seen.add(h)
            self.frontier[h] = FrontierRow(canon, host, h, float(priority), discovered_at)

    # --------------------------------------------------------------- epoch

    def _payload(self, idx: int) -> tuple:
        if idx not in self._payload_cache:
            self._payload_cache[idx] = datagen.payload_row(idx, self.cfg.seed)
        return self._payload_cache[idx]

    def requeue(self, rows: list[tuple]) -> int:
        """Force-refresh twin of CrawlEngine.requeue: re-insert seen URLs
        into the frontier (skipping gated hosts and URLs already pending)."""
        n = 0
        for url, priority, discovered_at, _cat, _lang in rows:
            host = canonical_host_py(url)
            if host in self.blocked:
                continue
            canon = canonicalize_py(url)
            h = xxh64_str(canon)
            if h in self.frontier:
                continue
            self.frontier[h] = FrontierRow(canon, host, h, float(priority), discovered_at)
            n += 1
        return n

    def run_epoch(self, epoch: int) -> dict:
        cfg = self.cfg
        eligible = [r for r in self.frontier.values() if r.not_before <= epoch]
        eligible.sort(key=lambda r: (-r.priority, r.discovered_at, r.url_hash))
        taken: list[FrontierRow] = []
        per_host: dict[str, int] = defaultdict(int)
        for r in eligible:
            if per_host[r.host] >= cfg.host_quota:
                continue
            per_host[r.host] += 1
            taken.append(r)
            if len(taken) >= cfg.batch_size:
                break

        n_stored = n_discovered = n_dead = n_cached = 0
        discovered_rows: list[FrontierRow] = []
        epoch_discovered: dict[int, str] = {}
        for seq, r in enumerate(taken, start=1):
            self.res.order.append((epoch, seq, r.url_hash))
            del self.frontier[r.url_hash]
            if r.url_hash in self.res.store:
                # cache-aside: served from the store — no HTTP, no decode,
                # no expansion (article_extractor.py:419-433)
                self.res.store[r.url_hash]["last_epoch"] = epoch
                n_cached += 1
                continue
            status = datagen.fetch_status(r.url_hash, cfg.seed)
            if status != 200:
                if r.retry_count < cfg.max_retries:
                    back = datagen.POLITENESS["backoff_batches"][
                        min(r.retry_count, len(datagen.POLITENESS["backoff_batches"]) - 1)
                    ]
                    r.retry_count += 1
                    r.not_before = epoch + back
                    self.frontier[r.url_hash] = r
                else:
                    n_dead += 1
                continue
            # fetch success: payload by pmod address, decode+validate
            idx = r.url_hash % cfg.n_payload
            image_id, data, w, h, fmt, caption, phash = self._payload(idx)
            valid, psnr_v = self._validate(idx, data, w, h, fmt, phash)
            if valid and len(caption) >= cfg.min_caption_len:
                prev = self.res.store.get(r.url_hash)
                self.res.store[r.url_hash] = {
                    "url_hash": r.url_hash,
                    "image_id": image_id,
                    "caption": caption,
                    "phash": phash,
                    "w": w,
                    "h": h,
                    "fmt": fmt,
                    "first_epoch": prev["first_epoch"] if prev else epoch,
                    "last_epoch": epoch,
                }
                n_stored += 1
            # link expansion
            if cfg.expand:
                for child in datagen.expand_links(
                    r.url_hash, cfg.seed, cfg.n_hosts, cfg.n_seed_urls
                ):
                    chost = canonical_host_py(child)
                    if chost in self.blocked:
                        continue
                    canon = canonicalize_py(child)
                    ch = xxh64_str(canon)
                    if ch in self.res.seen:
                        continue
                    if ch in epoch_discovered:
                        # within-epoch dedup: engine keeps min url string
                        if canon < epoch_discovered[ch]:
                            epoch_discovered[ch] = canon
                            for d in discovered_rows:
                                if d.url_hash == ch:
                                    d.url = canon
                                    d.host = chost
                        continue
                    epoch_discovered[ch] = canon
                    discovered_rows.append(
                        FrontierRow(
                            canon,
                            chost,
                            ch,
                            (ch % 1_000_000) / 1_000_000.0,
                            datagen.EPOCH
                            + dt.timedelta(
                                seconds=(epoch + 1)
                                * datagen.POLITENESS["batch_interval_s"]
                            ),
                            0,
                            epoch + 1,
                        )
                    )
        for d in discovered_rows:
            self.res.seen.add(d.url_hash)
            self.frontier[d.url_hash] = d
            n_discovered += 1
        stats = {
            "epoch": epoch,
            "fetched": len(taken),
            "cached": n_cached,
            "stored": n_stored,
            "discovered": n_discovered,
            "dead": n_dead,
            "done": len(taken) == 0 and not self.frontier,
        }
        self.res.log.append(stats)
        return stats

    def _validate(self, idx, data, w, h, fmt, phash) -> tuple[bool, float]:
        try:
            arr = codecs.decode(data, fmt)
        except Exception:
            return False, 0.0
        if arr.shape[1] != w or arr.shape[0] != h:
            return False, 0.0
        expected = datagen.expected_pixels(idx, self.cfg.seed)
        if fmt == "qpng":
            p = codecs.psnr(expected, arr)
            if p < 40.0:
                return False, p
        else:
            if not np.array_equal(expected, arr):
                return False, 0.0
            p = float("inf")
        if codecs.average_phash(arr) != phash:
            return False, p
        return True, p

    def drain(self, max_epochs: int = 100) -> OracleResult:
        for e in range(max_epochs):
            if self.run_epoch(e)["done"]:
                break
        return self.res
