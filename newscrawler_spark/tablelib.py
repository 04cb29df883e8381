"""Snapshot-manifest tables over parquet — the Iceberg-shaped storage layer.

The north rule calls for Iceberg tables partitioned by host-hash bucket with
MERGE, per-commit snapshot ids, and time travel. No Iceberg runtime jar can
be fetched in this sandbox (no network), so this module provides the same
contract on plain parquet + JSON manifests:

- every commit produces a new immutable snapshot (``manifests/v<id>.json``)
  listing, **per bucket**, the parquet directories that make up the table;
- the current-version pointer is flipped atomically (``os.replace``);
- ``merge_upsert`` is partition-level copy-on-write (COW): only the buckets
  present in the delta are rewritten, untouched buckets carry their old
  data directories forward by reference — exactly Iceberg's COW granularity;
- ``merge_delta`` is merge-on-read (MOR): the commit appends the insert rows
  and references a tombstone key-file set written by ``prepare_tombstone``
  (Iceberg equality deletes); readers apply the tombstones and ``compact``
  folds them back into data files;
- ``read(..., buckets=[...])`` prunes at the manifest level (the analog of
  Iceberg partition pruning), and ``read(..., snapshot_id=n)`` time-travels.

On a real cluster this module is swapped for
``spark.read/writeTo(...).using("iceberg")`` with
``PARTITIONED BY (bucket(B, host_hash))`` — the engine code only talks to
this interface. Reference analog: the Postgres ``articles`` table with its
unique url index and upsert loop (/root/reference/database.py:24-43,
main.py:209-230) — here uniqueness is enforced by the MERGE key, and the
"index" is bucket pruning + min/max stats in parquet footers.

Layout::

    <root>/<name>/
        manifests/v0001.json ...
        VERSION                  # atomic pointer: current snapshot id
        data/snap-0001-<op>/pbucket=K/part-*.parquet

``pbucket`` is a *copy* of the logical ``bucket`` column used only as the
partitionBy key, so the logical column survives in the data files and leaf
directories can be read directly without basePath tricks.
"""

from __future__ import annotations

import functools
import json
import logging
import os
import shutil
import tempfile
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

BUCKET_COL = "bucket"
_PB = "pbucket"

# Packed-commit threshold (guide §6: sensible output file sizing). A delta
# below this many rows is written as ONE shared data dir (single file)
# registered under every bucket it contains, instead of one dir per bucket:
# 128 five-KB files for a 20k-row delta is pure open/list/task overhead on
# both the write and every later read. Pruned reads of packed dirs add a
# `bucket IN (...)` filter (cheap codegen), and packed dirs carry exact
# per-bucket zone maps computed from the (tiny) file itself, so manifest
# pruning stays sound. At the 10^10-row design point epoch deltas are
# millions of rows and keep the per-bucket layout; packing engages for
# small tables and small tail deltas at ANY scale — the row bound is a
# proxy for "the whole delta fits in a fraction of one target-size file"
# (64k rows x ~100 B ≈ 6 MB << the 64-512 MB target).
PACK_ROWS = 65536
_PACKED_MARK = "-packed"


def _is_packed(rel_dir: str) -> bool:
    return os.path.basename(rel_dir).endswith(_PACKED_MARK)


# Driver-resident commit accounting: time spent in the commit PROTOCOL
# itself (manifest serialization, fsync, pointer flip, checkpoint file) —
# the part of a commit that cannot be distributed. Everything else in a
# table commit is ordinary Spark job time that scales with executors. The
# crawl engine reports this per epoch; the design target is sub-second.
_driver_commit_ns = 0
_driver_commit_lock = threading.Lock()


def take_driver_commit_seconds() -> float:
    """Return accumulated driver-resident commit seconds and reset."""
    global _driver_commit_ns
    with _driver_commit_lock:
        ns, _driver_commit_ns = _driver_commit_ns, 0
    return ns / 1e9


def _atomic_write(path: str, content: str) -> None:
    global _driver_commit_ns
    t0 = time.perf_counter_ns()
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".tmp-")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
        with _driver_commit_lock:
            _driver_commit_ns += time.perf_counter_ns() - t0


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str
    entries: dict[str, list[str]]  # bucket (as str) -> relative data dirs
    summary: dict[str, Any] = field(default_factory=dict)
    # merge-on-read state (Iceberg equality-delete analog): tombstone key
    # dirs per bucket + a sequence number per dir. A data row survives iff
    # its dir's seq >= the max tombstone seq for its key (same-commit
    # insert beats same-commit delete = MERGE delete-then-insert).
    deletes: dict[str, list[str]] = field(default_factory=dict)
    dir_seq: dict[str, int] = field(default_factory=dict)
    # zone-map stats per data dir (Iceberg manifest column stats analog):
    # {"n": row_count, "lo": {col: min}, "hi": {col: max}} gathered from
    # parquet footers at commit time for tables created with stats_cols.
    # Immutable per dir, carried forward by reference like entries.
    dir_stats: dict[str, dict] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "snapshot_id": self.snapshot_id,
                "parent_id": self.parent_id,
                "operation": self.operation,
                "entries": self.entries,
                "summary": self.summary,
                "deletes": self.deletes,
                "dir_seq": self.dir_seq,
                "dir_stats": self.dir_stats,
            },
            sort_keys=True,
        )

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        d = json.loads(s)
        return Snapshot(
            d["snapshot_id"], d["parent_id"], d["operation"], d["entries"],
            d["summary"], d.get("deletes", {}), d.get("dir_seq", {}),
            d.get("dir_stats", {}),
        )


def _locked(fn):
    """Serialize mutations of ONE table: the commit protocol is
    read-sid -> write manifest -> flip pointer, so two concurrent writers
    (a stream foreachBatch racing an epoch commit thread, ADVICE r02) could
    allocate the same snapshot id and silently drop one commit. An RLock per
    table keeps same-table commits sequential while different tables still
    commit in parallel from the epoch pool. (Real Iceberg provides the same
    guarantee via optimistic retry on the catalog pointer.)"""

    @functools.wraps(fn)
    def inner(self, *a, **kw):
        with self._commit_lock:
            return fn(self, *a, **kw)

    return inner


class SnapshotTable:
    """One bucketed table with snapshot isolation, COW upserts and MOR
    delete+insert merges."""

    def __init__(
        self,
        root: str,
        name: str,
        schema_ddl: str | None = None,
        partitioned: bool = True,
        stats_cols: list[str] | None = None,
    ):
        self.dir = os.path.join(root, name)
        self.name = name
        self.schema_ddl = schema_ddl
        # small lineage/state tables skip bucket dirs (no pruning need, and
        # a shuffle-per-commit would be pure overhead)
        self.partitioned = partitioned
        # columns whose per-dir min/max zone maps are kept in the manifest
        # (numeric only); enables bucket_stats() pruning for readers
        self.stats_cols = list(stats_cols or [])
        # per-bucket stats for freshly written packed dirs, keyed by rel
        # dir, consumed by the next _commit's dir_stats assembly
        self._packed_pb: dict[str, dict] = {}
        self._commit_lock = threading.RLock()
        os.makedirs(os.path.join(self.dir, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(self.dir, "data"), exist_ok=True)
        if not os.path.exists(self._version_path()):
            snap = Snapshot(0, None, "create", {})
            self._write_manifest(snap)
            _atomic_write(self._version_path(), "0")

    # ------------------------------------------------------------ plumbing

    def _version_path(self) -> str:
        return os.path.join(self.dir, "VERSION")

    def _manifest_path(self, sid: int) -> str:
        return os.path.join(self.dir, "manifests", f"v{sid:06d}.json")

    def _write_manifest(self, snap: Snapshot) -> None:
        _atomic_write(self._manifest_path(snap.snapshot_id), snap.to_json())

    def current_snapshot_id(self) -> int:
        with open(self._version_path()) as f:
            return int(f.read().strip())

    def snapshot(self, sid: int | None = None) -> Snapshot:
        sid = self.current_snapshot_id() if sid is None else sid
        with open(self._manifest_path(sid)) as f:
            return Snapshot.from_json(f.read())

    def set_current(self, sid: int) -> None:
        """Flip the pointer (also used by checkpoint rollback on resume)."""
        if not os.path.exists(self._manifest_path(sid)):
            raise ValueError(f"{self.name}: no snapshot {sid}")
        _atomic_write(self._version_path(), str(sid))

    def history(self) -> list[int]:
        files = sorted(os.listdir(os.path.join(self.dir, "manifests")))
        return [int(f[1:-5]) for f in files if f.startswith("v")]

    # ------------------------------------------------------------- reading

    def _selected(self, snap: Snapshot, table: dict, buckets) -> list[str]:
        out: list[str] = []
        for b, dirs in table.items():
            if buckets is not None and self.partitioned and int(b) not in buckets:
                continue  # manifest-level partition pruning
            out.extend(dirs)
        # a packed dir is registered under every bucket it contains — dedup
        # so multi-bucket selections scan the shared file exactly once
        return list(dict.fromkeys(out))

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        snap = self.snapshot(snapshot_id)
        rel_dirs = self._selected(snap, snap.entries, buckets)
        if not rel_dirs:
            if self.schema_ddl:
                return spark.createDataFrame([], self.schema_ddl)
            raise ValueError(f"{self.name}: empty table and no schema_ddl to infer")
        reader = spark.read
        if self.schema_ddl:
            # explicit schema: no per-file footer schema merge on wide reads
            reader = reader.schema(self.schema_ddl)
        # pruned read of a packed (shared, multi-bucket) dir: the scan sees
        # the whole small file, so re-apply the bucket predicate as a row
        # filter — a no-op for rows from exclusive per-bucket dirs
        def _prune(df: DataFrame) -> DataFrame:
            if buckets is not None and any(_is_packed(d) for d in rel_dirs):
                return df.filter(F.col(BUCKET_COL).isin([int(b) for b in buckets]))
            return df

        tomb_dirs = self._selected(snap, snap.deletes, buckets)
        if not tomb_dirs:
            return _prune(
                reader.parquet(*(os.path.join(self.dir, d) for d in rel_dirs))
            )
        # merge-on-read: apply equality tombstones at scan time. Data dirs
        # are grouped by commit sequence (few groups — compaction bounds
        # them), tombstones aggregated to max seq per key; a row survives
        # iff its seq >= that (same-commit re-insert wins over the delete).
        key = snap.summary.get("mor_key")
        if not key:
            raise ValueError(f"{self.name}: tombstones present but no mor_key")
        by_seq: dict[int, list[str]] = {}
        for d in rel_dirs:
            by_seq.setdefault(snap.dir_seq.get(d, 0), []).append(d)
        data = None
        for seq, dirs in sorted(by_seq.items()):
            part = reader.parquet(
                *(os.path.join(self.dir, d) for d in dirs)
            ).withColumn("_seq", F.lit(seq))
            data = part if data is None else data.unionByName(part)
        tby_seq: dict[int, list[str]] = {}
        for d in tomb_dirs:
            tby_seq.setdefault(snap.dir_seq.get(d, 0), []).append(d)
        tombs = None
        for seq, dirs in sorted(tby_seq.items()):
            part = spark.read.parquet(
                *(os.path.join(self.dir, d) for d in dirs)
            ).select(key, F.lit(seq).alias("_seq"))
            tombs = part if tombs is None else tombs.unionByName(part)
        tomb_agg = tombs.groupBy(key).agg(F.max("_seq").alias("_tmax"))
        return (
            _prune(data)  # tombstone superset from packed dirs is harmless
            .join(tomb_agg, on=key, how="left")
            .filter(F.col("_tmax").isNull() | (F.col("_seq") >= F.col("_tmax")))
            .drop("_seq", "_tmax")
        )

    def is_empty(self, snapshot_id: int | None = None) -> bool:
        return not self.snapshot(snapshot_id).entries

    # ------------------------------------------------------------- writing

    def _write_data(
        self, df: DataFrame, op: str, pack_rows: int | None = None
    ) -> dict[str, list[str]]:
        """Write df partitioned by bucket; return {bucket: [reldir]}.

        ``pack_rows``: caller's (upper-bound) row-count hint. When it is at
        or under ``PACK_ROWS`` the whole delta is written as ONE shared
        dir/file registered under every bucket present (see PACK_ROWS
        rationale at module top). ``repartition(1)`` (not coalesce: coalesce
        would collapse the parallelism of the producing plan) bounds the
        write to a single target-size-fraction file.
        """
        packed = pack_rows is not None and pack_rows <= PACK_ROWS
        if self.partitioned and packed:
            rel = os.path.join("data", f"snap-{uuid.uuid4().hex[:12]}-{op}{_PACKED_MARK}")
            out = os.path.join(self.dir, rel)
            df.repartition(1).write.mode("overwrite").parquet(out)
            present, pb = self._packed_readback(out, pack_rows)
            if self.stats_cols:
                self._packed_pb[rel] = pb
            return {str(b): [rel] for b in present}
        rel = os.path.join("data", f"snap-{uuid.uuid4().hex[:12]}-{op}")
        out = os.path.join(self.dir, rel)
        if not self.partitioned:
            # same small-files rule for unpartitioned tables: a sub-
            # threshold delta has no business writing one ~KB file per
            # shuffle partition (host_state/fetch_log/crawl_order wrote
            # 32-64 tiny files per epoch commit)
            if packed:
                df = df.repartition(1)
            df.write.mode("overwrite").parquet(out)
            return {"all": [rel]}
        (
            # hash-repartition on bucket first so each bucket lands wholly in
            # one task -> exactly one file per bucket per commit instead of
            # (tasks x buckets) small files
            df.repartition(F.col(BUCKET_COL))
            .withColumn(_PB, F.col(BUCKET_COL))
            .write.mode("overwrite")
            .partitionBy(_PB)
            .parquet(out)
        )
        entries: dict[str, list[str]] = {}
        for child in sorted(os.listdir(out)):
            if child.startswith(f"{_PB}="):
                b = child.split("=", 1)[1]
                entries[b] = [os.path.join(rel, child)]
        return entries

    def next_sid(self) -> int:
        return max(self.history()) + 1

    def _packed_readback(
        self, out_abs: str, pack_rows: int
    ) -> tuple[list[int], dict]:
        """Driver-side per-bucket census of a freshly written packed dir.

        A packed dir spans buckets, so the manifest needs (a) which buckets
        to register it under and (b) exact per-bucket zone maps — a packed
        dir's footer stats cover the whole file and would otherwise
        overcount every bucket's row bound, which `_frontier_scan_buckets`
        rule 2 relies on as a LOWER bound (unsound pruning). The dir is by
        definition small (<= PACK_ROWS rows), so reading the bucket +
        stats columns with pyarrow on the driver costs ~ms and is counted
        as driver commit time. A row count above the caller's ``pack_rows``
        hint is logged: the file is still correct, but an under-stated hint
        can pack a delta far past PACK_ROWS into one file and one task."""
        global _driver_commit_ns
        import pyarrow.parquet as pq

        t0 = time.perf_counter_ns()
        import pyarrow as pa

        files = sorted(
            fn for fn in os.listdir(out_abs) if fn.endswith(".parquet")
        )
        if not files:
            with _driver_commit_lock:
                _driver_commit_ns += time.perf_counter_ns() - t0
            return [], {}
        # stats columns may be absent (e.g. tombstone key files carry only
        # (key, bucket)): request only what the file actually has — absent
        # columns are simply omitted from the zone maps ("unbounded")
        have = set(pq.read_schema(os.path.join(out_abs, files[0])).names)
        stat_cols = [
            c for c in self.stats_cols if c != BUCKET_COL and c in have
        ]
        cols = [BUCKET_COL] + stat_cols
        parts = [
            pq.read_table(os.path.join(out_abs, fn), columns=cols)
            for fn in files
        ]
        tbl = pa.concat_tables(parts) if len(parts) > 1 else parts[0]
        aggs = [(BUCKET_COL, "count")] + [
            (c, fn) for c in stat_cols for fn in ("min", "max")
        ]
        g = tbl.group_by(BUCKET_COL).aggregate(aggs).to_pydict()
        pb: dict[str, dict] = {}
        for i, b in enumerate(g[BUCKET_COL]):
            lo: dict[str, Any] = {}
            hi: dict[str, Any] = {}
            for c in self.stats_cols:
                if c != BUCKET_COL and c not in stat_cols:
                    continue  # column absent from this file: unbounded
                vlo = b if c == BUCKET_COL else g[f"{c}_min"][i]
                vhi = b if c == BUCKET_COL else g[f"{c}_max"][i]
                if (
                    vlo is None or vhi is None
                    or isinstance(vlo, bool)
                    or not isinstance(vlo, (int, float))
                ):
                    continue  # non-numeric/missing: omitted = "unbounded"
                lo[c] = vlo
                hi[c] = vhi
            pb[str(b)] = {"n": g[f"{BUCKET_COL}_count"][i], "lo": lo, "hi": hi}
        if tbl.num_rows > pack_rows:
            log.warning(
                "%s: packed write of %d rows exceeds the pack_rows hint %d",
                self.name, tbl.num_rows, pack_rows,
            )
        with _driver_commit_lock:
            _driver_commit_ns += time.perf_counter_ns() - t0
        return sorted(int(b) for b in pb), pb

    def _footer_stats(self, rel_dirs: list[str]) -> dict[str, dict]:
        """Gather {n, lo, hi} per data dir from parquet footers — the same
        column stats an Iceberg writer records in its manifest files, read
        here driver-side at O(files-per-commit) cost (one footer per bucket
        per commit; on a real cluster the write tasks would report these).
        Columns with missing/non-numeric footer stats are omitted, which
        readers must treat as "unbounded". Counted as driver-resident
        commit time."""
        global _driver_commit_ns
        import pyarrow.parquet as pq

        t0 = time.perf_counter_ns()
        out: dict[str, dict] = {}
        want = set(self.stats_cols)
        for rel in rel_dirs:
            full = os.path.join(self.dir, rel)
            try:
                files = [f for f in os.listdir(full) if f.endswith(".parquet")]
            except FileNotFoundError:
                continue
            n = 0
            lo: dict[str, Any] = {}
            hi: dict[str, Any] = {}
            bad: set[str] = set()
            for fn in files:
                md = pq.read_metadata(os.path.join(full, fn))
                n += md.num_rows
                for gi in range(md.num_row_groups):
                    rg = md.row_group(gi)
                    for ci in range(rg.num_columns):
                        col = rg.column(ci)
                        name = col.path_in_schema
                        if name not in want or name in bad:
                            continue
                        st = col.statistics
                        if (
                            st is None
                            or not st.has_min_max
                            or isinstance(st.min, bool)
                            or not isinstance(st.min, (int, float))
                        ):
                            bad.add(name)
                            continue
                        lo[name] = st.min if name not in lo else min(lo[name], st.min)
                        hi[name] = st.max if name not in hi else max(hi[name], st.max)
            for b in bad:
                lo.pop(b, None)
                hi.pop(b, None)
            out[rel] = {"n": n, "lo": lo, "hi": hi}
        with _driver_commit_lock:
            _driver_commit_ns += time.perf_counter_ns() - t0
        return out

    def bucket_stats(self, snapshot_id: int | None = None) -> dict[int, dict] | None:
        """Aggregate the manifest zone maps per bucket:
        ``{bucket: {"n": data_rows, "tomb": tombstone_rows, "lo": {...},
        "hi": {...}}}``. Returns None when the table keeps no stats, isn't
        bucket-partitioned, or any live dir predates stats collection —
        callers then fall back to a full scan. ``n - tomb`` is a LOWER
        bound on live rows (tombstones may overcount: a key deleted twice,
        or never present); lo/hi stay conservative under merge-on-read
        deletes (a deleted extremum only widens the range)."""
        if not self.stats_cols or not self.partitioned:
            return None
        snap = self.snapshot(snapshot_id)

        def _bucket_view(d: str, b: str) -> dict | None:
            """This dir's stats AS SEEN BY bucket b, or None -> fall back.

            Packed dirs span buckets: use the exact per-bucket zone maps
            recorded at write time; whole-file stats would overcount b's
            row bound (rule-2 pruning needs a lower bound) and a packed
            dir without them is unusable for pruning."""
            s = snap.dir_stats.get(d)
            if s is None:
                return None
            if _is_packed(d):
                pb = s.get("pb")
                if pb is None:
                    return None
                return pb.get(b, {"n": 0, "lo": {}, "hi": {}})
            return s

        out: dict[int, dict] = {}
        for b, dirs in snap.entries.items():
            if b == "all":
                return None
            n = 0
            lo: dict[str, Any] = {}
            hi: dict[str, Any] = {}
            for d in dirs:
                s = _bucket_view(d, b)
                if s is None:
                    return None
                n += s["n"]
                if s["n"] == 0:
                    continue  # an empty dir constrains nothing
                for c in self.stats_cols:
                    if c not in s["lo"]:
                        return None  # footer stats unavailable for this col
                    lo[c] = min(lo.get(c, s["lo"][c]), s["lo"][c])
                    hi[c] = max(hi.get(c, s["hi"][c]), s["hi"][c])
            tomb = 0
            for d in snap.deletes.get(b, []):
                s = _bucket_view(d, b)
                if s is None:
                    return None
                tomb += s["n"]
            out[int(b)] = {"n": n, "tomb": tomb, "lo": lo, "hi": hi}
        return out

    def _commit(
        self,
        entries: dict[str, list[str]],
        op: str,
        summary: dict[str, Any],
        deletes: dict[str, list[str]] | None = None,
        dir_seq: dict[str, int] | None = None,
    ) -> int:
        parent_snap = self.snapshot()
        parent = self.current_snapshot_id()
        sid = self.next_sid()
        # mor_key is sticky: once a table has had MOR commits, readers of
        # later append snapshots still need it to interpret tombstones
        if "mor_key" not in summary and parent_snap.summary.get("mor_key"):
            summary = {**summary, "mor_key": parent_snap.summary["mor_key"]}
        deletes = deletes if deletes is not None else {}
        dir_seq = dir_seq if dir_seq is not None else {}
        live = {d for dirs in entries.values() for d in dirs} | {
            d for dirs in deletes.values() for d in dirs
        }
        dir_seq = {d: s for d, s in dir_seq.items() if d in live}
        dir_stats: dict[str, dict] = {}
        if self.stats_cols:
            dir_stats = dict(parent_snap.dir_stats)
            dir_stats.update(
                self._footer_stats([d for d in sorted(live) if d not in dir_stats])
            )
            dir_stats = {d: s for d, s in dir_stats.items() if d in live}
            # packed dirs span buckets: attach the exact per-bucket zone
            # maps computed at write time (whole-file footer stats would
            # overcount every registered bucket — see _packed_readback)
            for d in list(dir_stats):
                if _is_packed(d) and "pb" not in dir_stats[d]:
                    pb = self._packed_pb.pop(d, None)
                    if pb is not None:
                        dir_stats[d] = {**dir_stats[d], "pb": pb}
        snap = Snapshot(
            sid, parent, op, entries, summary, deletes, dir_seq, dir_stats
        )
        self._write_manifest(snap)
        self.set_current(sid)
        return sid

    @_locked
    def append(
        self,
        df: DataFrame,
        summary: dict | None = None,
        pack_rows: int | None = None,
    ) -> int:
        sid = self.next_sid()
        cur = self.snapshot()
        new = self._write_data(df, "append", pack_rows=pack_rows)
        merged = {b: list(dirs) for b, dirs in cur.entries.items()}
        dir_seq = dict(cur.dir_seq)
        for b, dirs in new.items():
            merged.setdefault(b, []).extend(dirs)
            for d in dirs:
                dir_seq[d] = sid
        return self._commit(
            merged, "append", summary or {},
            deletes={b: list(d) for b, d in cur.deletes.items()}, dir_seq=dir_seq,
        )

    @_locked
    def overwrite(
        self,
        df: DataFrame,
        summary: dict | None = None,
        pack_rows: int | None = None,
    ) -> int:
        new = self._write_data(df, "overwrite", pack_rows=pack_rows)
        return self._commit(new, "overwrite", summary or {})

    @_locked
    def merge_upsert(
        self,
        spark: SparkSession,
        delta: DataFrame,
        key: str,
        summary: dict | None = None,
        touched: list[int] | None = None,
        preserve_cols: list[str] | None = None,
        pack_rows: int | None = None,
    ) -> int:
        """MERGE INTO self USING delta ON key — last-writer-wins, COW.

        Only buckets present in the delta are rewritten; every other bucket's
        data directories are carried forward by reference. The rewrite is a
        bucket-pruned read + anti-join + union, i.e. a storage-partitioned
        merge: at scale both sides are already hashed by the same bucket
        function, so no full-table shuffle happens.

        ``touched``: pass the delta's bucket list when the caller already
        knows it (saves a distinct+collect job). ``preserve_cols``: columns
        whose MATCHED value keeps the current row's value (the reference's
        update-keeps-created_at upsert, main.py:214-227) — folded into the
        merge's own bucket-pruned read, no extra table scan.
        """
        if not self.partitioned:
            # small table: plain full COW rewrite
            if not self.is_empty():
                current = self.read(spark)
                if preserve_cols:
                    delta = self._apply_preserve(current, delta, key, preserve_cols)
                kept = current.join(delta.select(key).distinct(), on=key, how="left_anti")
                delta = kept.unionByName(delta)
            new_entries = self._write_data(delta, "merge", pack_rows=pack_rows)
            return self._commit(new_entries, "merge", summary or {})

        delta = delta.cache()
        if touched is None:
            touched = [r[0] for r in delta.select(BUCKET_COL).distinct().collect()]
        cur = self.snapshot()
        # packed parent dirs are shared across buckets: rewriting SOME of a
        # packed dir's buckets while other buckets keep referencing it would
        # resurrect the rewritten buckets' stale rows on full reads — extend
        # the rewrite to every co-resident bucket (packed dirs are small by
        # construction, so the extra rewrite is bounded)
        touched = self._expand_touched_for_packed(cur.entries, touched)
        sid = self.next_sid()
        entries = {b: list(d) for b, d in cur.entries.items()}
        deletes = {b: list(d) for b, d in cur.deletes.items()}
        dir_seq = dict(cur.dir_seq)
        have = [b for b in touched if str(b) in entries]
        if have:
            current = self.read(spark, buckets=have)
            if preserve_cols:
                delta = self._apply_preserve(current, delta, key, preserve_cols)
            kept = current.join(
                delta.select(key).distinct(), on=key, how="left_anti"
            )
            rewritten = kept.unionByName(delta.filter(F.col(BUCKET_COL).isin(have)))
        else:
            rewritten = delta.limit(0)
        new_only = delta.filter(~F.col(BUCKET_COL).isin(have)) if have else delta
        out = rewritten.unionByName(new_only)
        # pack_rows is the caller's bound on the REWRITTEN OUTPUT (touched
        # buckets' current rows + delta), not just the delta
        new_entries = self._write_data(out, "merge", pack_rows=pack_rows)
        for b in touched:
            entries[str(b)] = []
            deletes.pop(str(b), None)  # COW rewrite folds tombstones in
        for b, dirs in new_entries.items():
            entries[b] = dirs
            for d in dirs:
                dir_seq[d] = sid
        entries = {b: d for b, d in entries.items() if d}
        delta.unpersist()
        return self._commit(
            entries, "merge", summary or {},
            deletes=deletes, dir_seq=dir_seq,
        )

    @staticmethod
    def _expand_touched_for_packed(
        entries: dict[str, list[str]], touched
    ) -> list[int]:
        """Close ``touched`` over shared packed dirs (fully-live-or-dead).

        A packed dir registered under buckets {a, b, c} must be dropped
        from ALL of them when any one is rewritten; dropping it pulls its
        other buckets into the rewrite, which may reference further packed
        dirs — iterate to the (bounded) fixed point."""
        touched = set(touched)
        while True:
            sel = {
                d
                for b in touched
                for d in entries.get(str(b), [])
                if _is_packed(d)
            }
            grew = False
            for b, dirs in entries.items():
                if int(b) in touched:
                    continue
                if any(d in sel for d in dirs):
                    touched.add(int(b))
                    grew = True
            if not grew:
                return sorted(touched)

    @staticmethod
    def _apply_preserve(
        current: DataFrame, delta: DataFrame, key: str, preserve_cols: list[str]
    ) -> DataFrame:
        old = current.select(
            key, *[F.col(c).alias(f"__old_{c}") for c in preserve_cols]
        )
        out = delta.join(old, on=key, how="left")
        for c in preserve_cols:
            out = out.withColumn(c, F.coalesce(f"__old_{c}", c)).drop(f"__old_{c}")
        return out

    def prepare_tombstone(
        self, delete_keys: DataFrame, key: str, pack_rows: int | None = None
    ) -> dict[str, list[str]]:
        """Write the MOR tombstone key-file set for a later ``merge_delta``.
        The written dirs are inert until a commit's manifest references them
        (a failed epoch leaves orphans the compaction GC collects), so
        callers may overlap this write with other work — the crawl engine
        writes the epoch's tombstone during link expansion, taking it off
        the commit tail."""
        return self._write_data(
            delete_keys.select(key, BUCKET_COL), "mordelete", pack_rows=pack_rows
        )

    @_locked
    def merge_delta(
        self,
        spark: SparkSession,
        tombstones: dict[str, list[str]] | None,
        inserts: DataFrame | None,
        key: str,
        summary: dict | None = None,
        pack_rows: int | None = None,
    ) -> int:
        """MERGE with WHEN MATCHED DELETE + NOT MATCHED INSERT semantics.

        The frontier's per-epoch update (drop fetched rows, add retries +
        discoveries), as merge-on-read (Iceberg equality-delete analog):
        ``tombstones`` is what ``prepare_tombstone`` returned for the keys
        to delete (or None). The commit APPENDS the insert rows and
        references the tombstone dirs; nothing is rewritten, so the commit
        is O(epoch delta) even when the table holds 10^10 rows. Readers
        anti-join the accumulated tombstones (seq-aware: a same-commit
        re-insert of a deleted key survives, matching MERGE
        delete-then-insert). ``compact()`` folds tombstones back into data
        files.
        """
        cur = self.snapshot()
        sid = self.next_sid()
        entries = {b: list(d) for b, d in cur.entries.items()}
        deletes = {b: list(d) for b, d in cur.deletes.items()}
        dir_seq = dict(cur.dir_seq)
        if inserts is not None:
            new = self._write_data(inserts, "morinsert", pack_rows=pack_rows)
            for b, dirs in new.items():
                entries.setdefault(b, []).extend(dirs)
                for d in dirs:
                    dir_seq[d] = sid
        for b, dirs in (tombstones or {}).items():
            deletes.setdefault(b, []).extend(dirs)
            for d in dirs:
                dir_seq[d] = sid
        return self._commit(
            entries, "mordelta", {**(summary or {}), "mor_key": key},
            deletes=deletes, dir_seq=dir_seq,
        )

    @_locked
    def delete_where(
        self, spark: SparkSession, condition: str, summary: dict | None = None
    ) -> int:
        """DELETE FROM self WHERE condition (full COW rewrite)."""
        if self.is_empty():
            return self.current_snapshot_id()
        kept = self.read(spark).filter(f"NOT ({condition})")
        new_entries = self._write_data(kept, "delete")
        return self._commit(new_entries, "delete", summary or {})

    def max_dirs_per_bucket(self) -> int:
        snap = self.snapshot()
        data = max((len(d) for d in snap.entries.values()), default=0)
        tomb = max((len(d) for d in snap.deletes.values()), default=0)
        return max(data, tomb)

    @_locked
    def compact(
        self,
        spark: SparkSession,
        summary: dict | None = None,
        pack_rows: int | None = None,
    ) -> int:
        """Rewrite the table so each bucket is one data dir (Iceberg
        rewrite_data_files): appends accumulate dirs per bucket; compaction
        bounds read amplification. ``pack_rows`` (caller's upper bound on
        LIVE rows, e.g. from manifest stats or an engine-side estimate)
        lets a small table compact to one packed file instead of one file
        per bucket."""
        if self.is_empty():
            return self.current_snapshot_id()
        if pack_rows is None and self.stats_cols:
            # manifest-derived bound: sum of per-dir data rows (ignores
            # tombstones, so it over-counts — conservative for packing)
            snap = self.snapshot()
            seen_dirs: set[str] = set()
            total = 0
            for dirs in snap.entries.values():
                for d in dirs:
                    if d in seen_dirs:
                        continue
                    seen_dirs.add(d)
                    s = snap.dir_stats.get(d)
                    if s is None:
                        total = None
                        break
                    total += s["n"]
                if total is None:
                    break
            pack_rows = total
        return self.overwrite(
            self.read(spark), summary or {"op": "compact"}, pack_rows=pack_rows
        )

    @_locked
    def expire_snapshots(self, keep_last: int = 10) -> None:
        """GC old manifests + unreferenced data dirs (Iceberg expire_snapshots)."""
        hist = self.history()
        keep = set(hist[-keep_last:]) | {self.current_snapshot_id()}
        live_dirs: set[str] = set()
        for sid in keep:
            snap = self.snapshot(sid)
            for table in (snap.entries, snap.deletes):
                for dirs in table.values():
                    for d in dirs:
                        live_dirs.add(d.split(os.sep)[1])  # snap-... component
        data_root = os.path.join(self.dir, "data")
        for child in os.listdir(data_root):
            if child not in live_dirs:
                shutil.rmtree(os.path.join(data_root, child), ignore_errors=True)
        for sid in hist:
            if sid not in keep:
                os.unlink(self._manifest_path(sid))


class Catalog:
    """A directory of SnapshotTables + an atomic multi-table checkpoint.

    ``checkpoint(epoch, ids)`` records {table -> snapshot_id} for a drain
    epoch in one atomic file write; ``restore_latest()`` rolls every table
    pointer back to the last fully-committed epoch, which makes a torn
    epoch (crash between per-table commits) invisible — the Iceberg analog
    is a single multi-table transaction commit.
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._tables: dict[str, SnapshotTable] = {}

    def table(
        self,
        name: str,
        schema_ddl: str | None = None,
        partitioned: bool = True,
        stats_cols: list[str] | None = None,
    ) -> SnapshotTable:
        if name not in self._tables:
            self._tables[name] = SnapshotTable(
                self.root, name, schema_ddl, partitioned, stats_cols
            )
        elif schema_ddl and self._tables[name].schema_ddl is None:
            self._tables[name].schema_ddl = schema_ddl
        return self._tables[name]

    def _ckpt_path(self) -> str:
        return os.path.join(self.root, "CHECKPOINT")

    def checkpoint(
        self, epoch: int, snapshot_ids: dict[str, int], extra: dict | None = None
    ) -> None:
        payload = {"epoch": epoch, "snapshots": snapshot_ids}
        if extra:
            payload.update(extra)
        _atomic_write(self._ckpt_path(), json.dumps(payload))

    def last_checkpoint(self) -> dict | None:
        if not os.path.exists(self._ckpt_path()):
            return None
        with open(self._ckpt_path()) as f:
            return json.loads(f.read())

    def restore_latest(self) -> int:
        """Roll all tables to the last checkpoint; return its epoch (-1 if none)."""
        ck = self.last_checkpoint()
        if ck is None:
            return -1
        for name, sid in ck["snapshots"].items():
            self.table(name).set_current(sid)
        return ck["epoch"]
