"""Partitioned bloom URL-seen prefilter (north rule: "partitioned
bloom/cuckoo seen-filter").

The exact anti-join against `seen` is the authority — a bloom false
positive must never drop a URL the reference would crawl (SURVEY.md J1).
The bloom's job is to keep the *join input* small: at 10^10 seen URLs,
most discovered links are either definitely new (bloom miss → skip the
join entirely) or duplicates (exact join confirms). Split:

    maybe = disc WHERE bloom_probe(words[bucket], url_hash)
    new   = (disc − maybe)  ∪  (maybe LEFT ANTI JOIN seen ON url_hash)

One bloom per host-hash bucket, persisted as (bucket, words array<long>,
n_items) in a snapshot table — the filter rides the same commit/rollback
protocol as the data and is rebuilt only for buckets whose seen-set
changed (COW granularity).

Spark 4.1 does not expose ``bloom_filter_agg``/``might_contain`` as SQL
functions (they are internal to runtime join filters), so the filter is
built from public primitives and stays entirely inside codegen:

    build: k bit positions per key  = pmod(xxhash64(i, url_hash), m)
           word or-accumulation     = bit_or(shiftleft(1L, pos % 64))
                                      grouped by (bucket, pos div 64)
           dense bitmap             = transform(sequence(...), w -> map[w])
    probe: AND over i of (shiftright(words[pos div 64], pos % 64) & 1) = 1

The probe is a scalar expression evaluated after a broadcast join on
bucket — no shuffle of the discovered side.
"""

from __future__ import annotations

import logging
import math
from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tablelib import SnapshotTable

BLOOM_DDL = "bucket int, words array<long>, m int, n_items long"
K_HASHES = 5
# floor size per bucket bloom; 2^17 bits = 16 KiB (~2% fpp at 25k keys).
# Actual m is sized PER BUCKET from its key count at rebuild time
# (m = next_pow2(k*n/ln2), see _m_for) so a bucket holding 10^8 keys at the
# 10^10-URL regime gets a proportionally larger bitmap instead of a
# saturated (fpp→1, dead-weight) one — VERDICT r01 perf #3.
DEFAULT_M_BITS = 1 << 17
MAX_M_BITS = 1 << 27  # 16 MiB/bucket cap

# Rebuilds size the bitmap for BUILD_HEADROOM x the current key count, so a
# bucket absorbs ~4x growth through O(delta) incremental add_keys before
# its next resize-rebuild (which rescans the bucket's seen slice). Without
# headroom the exact-fit power-of-two sizing put ~every bucket one epoch
# away from its resize boundary — measured at the mult=16 bench shape as a
# 74 s seen+bloom commit tail (vs 13 s at mult=8) from epoch-1 rebuilds.
# Cost: ≤4x bloom memory, still ≤ MAX_M_BITS/bucket; resizes amortize
# geometrically like vector doubling.
BUILD_HEADROOM = 4

# Above this aggregate bitmap size the probe join stops hinting broadcast
# and shuffles on bucket instead (disc arrives bucket-partitioned from
# select_batch, so the exchange is one-sided and bounded). At the 10^10-seen
# design point the per-bucket blooms total ~k*n/ln2 bits ~= 9 GB — far past
# any sane broadcast — while at test/bench scale they are a few MiB and the
# broadcast path is strictly cheaper.
BROADCAST_BLOOM_BYTES = 128 << 20


def _m_for(n_items: int) -> int:
    """Power-of-two bit count targeting ~e^-ln2 load: m = k*n/ln2."""
    target = max(DEFAULT_M_BITS, K_HASHES * max(n_items, 1) / math.log(2))
    return min(MAX_M_BITS, 1 << math.ceil(math.log2(target)))


def estimated_fpp(n_items: int, m_bits: int) -> float:
    """Standard bloom fpp: (1 - e^(-k*n/m))^k."""
    return (1.0 - math.exp(-K_HASHES * n_items / m_bits)) ** K_HASHES


def required_bucket_count(n_seen_total: int) -> int:
    """Smallest power-of-two bucket count at which every bucket's bitmap —
    sized with BUILD_HEADROOM for growth — stays under MAX_M_BITS, so the
    m-cap can never saturate a bloom into a no-op prefilter. At 10^10 seen
    URLs this returns 2048 (vs the 128 default, whose 7.8e7-key buckets
    would cap out at fpp ~0.75)."""
    cap_keys = int(MAX_M_BITS * math.log(2) / (K_HASHES * BUILD_HEADROOM))
    buckets = 1
    while n_seen_total > buckets * cap_keys:
        buckets *= 2
    return buckets


def check_bucket_sizing(counts: dict[int, int]) -> list[int]:
    """Return buckets whose headroom-sized bitmap target exceeds MAX_M_BITS
    (i.e. the pow-of-two sizing will silently cap and fpp will degrade).
    Callers log/raise with a ``required_bucket_count`` recommendation;
    correctness is unaffected either way (the exact anti-join is the
    authority) — this guards the bloom's *usefulness* at scale."""
    return sorted(
        b
        for b, n in counts.items()
        if K_HASHES * BUILD_HEADROOM * max(n, 1) / math.log(2) > MAX_M_BITS
    )


def _positions(url_hash: Column, m: Column | int) -> list[Column]:
    m = m if isinstance(m, Column) else F.lit(m)
    return [
        F.pmod(F.xxhash64(F.lit(i).cast("long"), url_hash), m)
        for i in range(K_HASHES)
    ]


def _scatter_positions(pos: DataFrame) -> DataFrame:
    """(bucket, m, pos) raw bit positions → (bucket, words, m) dense bitmap.

    One vectorized numpy scatter per bucket (grouped Arrow batch), fed the
    RAW k-hash positions — the former intermediate ``groupBy(bucket,
    word_idx).bit_or`` pre-aggregation bought almost no reduction (k
    positions rarely share a word) while costing a full extra exchange +
    codegen stage on the maintenance path, so the scatter now consumes
    positions directly. The pure-JVM alternative — ``transform(sequence(0,
    W-1), w -> map[w])`` over a ``map_from_arrays`` — is O(W²): Spark maps
    are unsorted arrays, so every ``element_at`` is a linear scan; at
    m=2^25 (W=524k words) that construction measures in hours. The scatter
    is O(positions + W) and runs in the bloom MAINTENANCE path only —
    probes stay pure codegen. Bit values are identical to the old
    ``bit_or(shiftleft(1L, pos % 64))`` construction (uint64 shift viewed
    as two's-complement int64, so bit 63 wraps to the sign bit the same
    way).
    """
    import numpy as np
    import pandas as pd

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        m = int(pdf["m"].iat[0])
        arr = np.zeros(m // 64, dtype=np.int64)
        p = pdf["pos"].to_numpy().astype(np.uint64)
        bits = (np.uint64(1) << (p % np.uint64(64))).view(np.int64)
        np.bitwise_or.at(arr, (p // np.uint64(64)).astype(np.int64), bits)
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iat[0])], "words": [arr.tolist()],
             "m": [m]}
        )

    return pos.groupBy("bucket").applyInPandas(
        build, "bucket int, words array<long>, m int"
    )


def _scatter_words_agg(pos: DataFrame) -> DataFrame:
    """(bucket, m, pos) → dense bitmap via a word-level bit_or pre-aggregate.

    The DENSE-path twin of :func:`_scatter_positions`: when positions
    approach bitmap saturation (full rebuilds at headroom load — k·n ≈
    m·ln2 set bits), pre-aggregating to one row per word reduces the
    exchange into the Python scatter by ~k·n/W ≈ 7x (measured at the 10^8
    validation point: rebuild via raw positions shuffled 5·10^8 rows vs
    6.7·10^7 words). Sparse deltas (per-epoch add_keys) skip this — there
    the pre-agg buys no reduction and costs an extra stage.
    """
    import numpy as np
    import pandas as pd

    words = (
        pos.select(
            "bucket",
            "m",
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("bucket", "m", "word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        m = int(pdf["m"].iat[0])
        arr = np.zeros(m // 64, dtype=np.int64)
        np.bitwise_or.at(
            arr, pdf["word_idx"].to_numpy(),
            pdf["word"].to_numpy().astype(np.int64),
        )
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iat[0])], "words": [arr.tolist()],
             "m": [m]}
        )

    return words.groupBy("bucket").applyInPandas(
        build, "bucket int, words array<long>, m int"
    )


def bloom_probe(words: Column, url_hash: Column, m: Column | int) -> Column:
    """True iff all k bit positions for url_hash are set in the bitmap."""
    tests = []
    for pos in _positions(url_hash, m):
        word = F.element_at(words, (pos / 64).cast("int") + 1)
        # python F.shiftright only takes a literal count; the SQL function
        # accepts an expression — call it directly
        bit = F.call_function(
            "shiftright", word, (pos % 64).cast("int")
        ).bitwiseAND(F.lit(1))
        tests.append(bit == 1)
    return reduce(and_, tests)


class SeenBloom:
    def __init__(self, table: SnapshotTable):
        self.table = table

    # ------------------------------------------------------- metadata

    def _meta(self, spark: SparkSession) -> dict[int, tuple[int, int]]:
        """{bucket: (m, n_items)} for the CURRENT bloom snapshot.

        The writers (add_keys / rebuild_buckets) already hold these dicts
        driver-side and stamp them into the manifest summary
        (``bloom_meta``), so readers get them for free — split_new's
        broadcast-size decision and add_keys' resize check used to each
        run a column-pruned read + collect job per epoch just to recover
        what the previous commit already knew. Falls back to the collect
        for tables written before this scheme (or by another writer).
        Manifest growth is O(bucket_count) smallints — the same order as
        the manifest's per-bucket entries themselves."""
        if self.table.is_empty():
            return {}
        summ = self.table.snapshot().summary.get("bloom_meta")
        if summ is not None:
            return {int(b): (int(mn[0]), int(mn[1])) for b, mn in summ.items()}
        return {
            r["bucket"]: (int(r["m"]), int(r["n_items"]))
            for r in self.table.read(spark)
            .select("bucket", "m", "n_items")
            .collect()
        }

    @staticmethod
    def _meta_summary(meta: dict[int, tuple[int, int]]) -> dict:
        return {"bloom_meta": {str(b): [m, n] for b, (m, n) in meta.items()}}

    @staticmethod
    def _pack_hint(meta: dict[int, tuple[int, int]]) -> int | None:
        """Row hint for a single-file bloom-table write, or None.

        The generic pack threshold assumes ~100 B rows; bloom rows carry
        m/8-byte bitmaps, so gate on actual bitmap bytes (<= 64 MB -> one
        file is comfortably under any target file size, and one write
        task handles it) instead of the row count."""
        total_bytes = sum(m // 8 for m, _ in meta.values())
        return len(meta) if total_bytes <= 64 * 1024 * 1024 else None

    def rebuild_buckets(
        self, spark: SparkSession, seen: SnapshotTable, buckets: list[int]
    ) -> int:
        """Recompute blooms for the buckets whose seen-set changed, sizing
        each bucket's bitmap from its own key count (one tiny count job —
        <= len(buckets) rows to the driver — then one build pass)."""
        if not buckets:
            return self.table.current_snapshot_id()
        rows = seen.read(spark, buckets=buckets)
        counts = {
            r["bucket"]: int(r["n"])
            for r in rows.groupBy("bucket").agg(F.count("*").alias("n")).collect()
        }
        if not counts:
            return self.table.current_snapshot_id()
        saturated = check_bucket_sizing(counts)
        if saturated:
            worst = max(counts[b] for b in saturated)
            cap_keys = int(MAX_M_BITS * math.log(2) / (K_HASHES * BUILD_HEADROOM))
            factor = 1 << max(0, math.ceil(math.log2(worst / cap_keys)))
            logging.getLogger(__name__).warning(
                "bloom m-cap saturated for %d bucket(s) %s (worst %d keys vs "
                "%d-key/bucket budget): fpp will degrade until the frontier "
                "is re-bucketed to >= %dx the current bucket_count "
                "(required_bucket_count gives the absolute sizing)",
                len(saturated), saturated[:8], worst, cap_keys, factor,
            )
        mdf = spark.createDataFrame(
            [(b, _m_for(BUILD_HEADROOM * n)) for b, n in counts.items()],
            "bucket int, m int",
        )
        r2 = rows.join(F.broadcast(mdf), on="bucket")
        pos = r2.select(
            "bucket",
            "m",
            F.explode(
                F.array(*_positions(F.col("url_hash"), F.col("m")))
            ).alias("pos"),
        )
        counts_df = spark.createDataFrame(
            [(b, n) for b, n in counts.items()], "bucket int, n_items long"
        )
        # rebuilds are the DENSE case: pre-aggregate to words before the
        # scatter (see _scatter_words_agg — ~7x smaller exchange at 10^8)
        dense = _scatter_words_agg(pos).join(F.broadcast(counts_df), on="bucket")
        dense = dense.select("bucket", "words", "m", "n_items")
        meta = self._meta(spark)
        meta.update({b: (_m_for(BUILD_HEADROOM * n), n) for b, n in counts.items()})
        return self.table.merge_upsert(
            spark, dense, "bucket",
            summary=self._meta_summary(meta),
            pack_rows=self._pack_hint(meta),
        )

    def add_keys(
        self,
        spark: SparkSession,
        delta: DataFrame,
        counts: dict[int, int] | None = None,
    ) -> list[int]:
        """Incrementally OR the delta keys into the per-bucket blooms.

        Bloom bits are a pure OR over keys, so at unchanged m this produces
        EXACTLY the bitmap a full rebuild would — without rescanning the
        seen table: per-epoch bloom maintenance is O(epoch delta), which is
        what survives a 10^10-key seen set. Buckets that have no bloom yet,
        or whose key count has outgrown their bitmap (``_m_for`` target
        exceeds current m), are NOT updated — they are returned for a full
        resize-rebuild and must be treated as stale until then.
        ``delta`` needs (url_hash, bucket) and should be this epoch's newly
        appended keys only. ``counts`` (per-bucket delta key counts) may be
        passed when the caller already aggregated them — the crawl epoch
        collects exactly these for its lineage log — saving one distributed
        count job on the commit path's critical tail.
        """
        if counts is None:
            counts = {
                r["bucket"]: int(r["n"])
                for r in delta.groupBy("bucket").agg(F.count("*").alias("n")).collect()
            }
        if not counts:
            return []
        meta = self._meta(spark)
        resize = [
            b
            for b, c in counts.items()
            if b not in meta or _m_for(meta[b][1] + c) > meta[b][0]
        ]
        ok = [b for b in counts if b not in set(resize)]
        if not ok:
            return sorted(resize)
        mdf = spark.createDataFrame(
            [(b, meta[b][0]) for b in ok], "bucket int, m int"
        )
        d2 = delta.join(F.broadcast(mdf), on="bucket")
        pos = d2.select(
            "bucket",
            "m",
            F.explode(F.array(*_positions(F.col("url_hash"), F.col("m")))).alias("pos"),
        )
        # dense delta bitmap (one linear scatter straight from positions),
        # then a linear zip_with OR — the old map-lookup transform was
        # O(W x delta_words) per bucket
        delta_dense = (
            _scatter_positions(pos).withColumnRenamed("words", "dwords").drop("m")
        )
        old = self.table.read(spark).select("bucket", "words", "m", "n_items")
        cdf = spark.createDataFrame(
            [(b, counts[b]) for b in ok], "bucket int, n_new long"
        )
        merged = (
            old.join(delta_dense, on="bucket")
            .join(F.broadcast(cdf), on="bucket")
            .select(
                "bucket",
                F.zip_with(
                    "words", "dwords", lambda a, b: a.bitwiseOR(b)
                ).alias("words"),
                "m",
                (F.col("n_items") + F.col("n_new")).alias("n_items"),
            )
        )
        # self-merge without the generic merge_upsert: we already hold the
        # old table DataFrame, so carrying the untouched buckets forward is
        # a filter+union and the commit is ONE overwrite write job — the
        # generic path re-read the table and anti-joined the delta keys,
        # two extra stages per epoch on the maintenance path
        full = old.filter(~F.col("bucket").isin(list(ok))).unionByName(merged)
        new_meta = dict(meta)
        new_meta.update({b: (meta[b][0], meta[b][1] + counts[b]) for b in ok})
        self.table.overwrite(
            full, {"op": "bloom_add", **self._meta_summary(new_meta)},
            pack_rows=self._pack_hint(new_meta),
        )
        return sorted(resize)

    def split_new(
        self,
        spark: SparkSession,
        disc: DataFrame,
        seen: SnapshotTable,
        stale_buckets: set[int] | None = None,
    ) -> DataFrame:
        """Return the definitely-new rows of ``disc`` (exactness preserved).

        disc must carry (url_hash, bucket). Rows in buckets with no bloom
        yet — or whose bloom is stale (``stale_buckets``, i.e. seen grew
        since the last rebuild) — go straight to the exact join: a stale
        bloom could miss a recently-seen hash, so it must not be allowed
        to declare "definitely new". This is what lets rebuilds be
        amortized across epochs without giving up exactness.
        """
        if self.table.is_empty():
            return disc.join(
                seen.read(spark).select("url_hash"), on="url_hash", how="left_anti"
            )
        blooms = self.table.read(spark).select("bucket", "words", "m")
        if stale_buckets:
            blooms = blooms.filter(~F.col("bucket").isin(list(stale_buckets)))
        # Broadcast only while the aggregate bitmaps are genuinely small.
        # The (bucket, m) metadata scan is column-pruned parquet — bounded
        # by bucket_count rows, never touching the words arrays. Past the
        # threshold the join shuffles on bucket instead (disc is already
        # bucket-partitioned from select_batch, so only the tiny bloom side
        # moves); at the 10^10-seen design point the bitmaps total ~9 GB
        # and an unconditional broadcast would sink every executor.
        # manifest-carried metadata: no per-epoch read+collect job just to
        # size the broadcast decision (see _meta)
        total_bytes = sum(m // 8 for m, _ in self._meta(spark).values())
        if total_bytes <= BROADCAST_BLOOM_BYTES:
            blooms = F.broadcast(blooms)
        probed = disc.join(blooms, on="bucket", how="left")
        hit = bloom_probe(F.col("words"), F.col("url_hash"), F.col("m"))
        definitely_new = probed.filter(F.col("words").isNotNull() & ~hit).drop(
            "words", "m"
        )
        maybe = probed.filter(F.col("words").isNull() | hit).drop("words", "m")
        checked = maybe.join(
            seen.read(spark).select("url_hash"), on="url_hash", how="left_anti"
        )
        return definitely_new.unionByName(checked)
