"""Snapshot-table semantics: append/merge/delete, time travel, checkpoints."""

import logging

import pytest
from pyspark.sql import functions as F

from newscrawler_spark import tablelib
from newscrawler_spark.tablelib import Catalog

DDL = "k long, bucket int, v string"


def _df(spark, rows):
    return spark.createDataFrame(rows, DDL)


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "cat"))


def test_append_and_read(spark, cat):
    t = cat.table("t", DDL)
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b")]))
    t.append(_df(spark, [(3, 0, "c")]))
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2, 3}


def test_bucket_pruned_read(spark, cat):
    t = cat.table("t", DDL)
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b"), (3, 2, "c")]))
    got = {r["k"] for r in t.read(spark, buckets=[0, 2]).collect()}
    assert got == {1, 3}


def test_merge_upsert_last_writer_wins(spark, cat):
    t = cat.table("t", DDL)
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b")]))
    t.merge_upsert(spark, _df(spark, [(2, 1, "B"), (4, 3, "d")]), "k")
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B", 4: "d"}


def test_merge_upsert_rewrites_only_touched_buckets(spark, cat):
    t = cat.table("t", DDL)
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b")]))
    before = t.snapshot().entries["0"]
    t.merge_upsert(spark, _df(spark, [(2, 1, "B")]), "k")
    after = t.snapshot().entries["0"]
    assert before == after  # bucket 0 untouched -> same data dirs (COW)
    assert t.snapshot().entries["1"] != before


def test_merge_delta_delete_and_insert(spark, cat):
    t = cat.table("t", DDL)
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b"), (3, 2, "c")]))
    tomb = t.prepare_tombstone(_df(spark, [(2, 1, "x")]), "k")
    inserts = _df(spark, [(9, 1, "ins"), (10, 5, "new")])
    t.merge_delta(spark, tomb, inserts, "k")
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 3: "c", 9: "ins", 10: "new"}


def test_delete_where(spark, cat):
    t = cat.table("t", DDL)
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b")]))
    t.delete_where(spark, "v = 'a'")
    assert {r["k"] for r in t.read(spark).collect()} == {2}


def test_time_travel(spark, cat):
    t = cat.table("t", DDL)
    s1 = t.append(_df(spark, [(1, 0, "a")]))
    s2 = t.append(_df(spark, [(2, 1, "b")]))
    assert {r["k"] for r in t.read(spark, snapshot_id=s1).collect()} == {1}
    assert {r["k"] for r in t.read(spark, snapshot_id=s2).collect()} == {1, 2}
    assert t.snapshot().parent_id == s1


def test_checkpoint_rollback_hides_torn_commit(spark, cat):
    t = cat.table("t", DDL)
    s1 = t.append(_df(spark, [(1, 0, "a")]))
    cat.checkpoint(0, {"t": s1})
    t.append(_df(spark, [(2, 1, "torn")]))  # commit after checkpoint = torn epoch
    epoch = cat.restore_latest()
    assert epoch == 0
    assert {r["k"] for r in t.read(spark).collect()} == {1}


def test_empty_table_reads_with_schema(spark, cat):
    t = cat.table("t", DDL)
    df = t.read(spark)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "bucket", "v"]


def test_expire_snapshots_keeps_current(spark, cat):
    t = cat.table("t", DDL)
    for i in range(5):
        t.append(_df(spark, [(i, i % 2, str(i))]))
    t.expire_snapshots(keep_last=2)
    assert {r["k"] for r in t.read(spark).collect()} == {0, 1, 2, 3, 4}


def test_append_with_filter_pushdown_explains_pruning(spark, cat):
    t = cat.table("t", DDL)
    t.append(_df(spark, [(i, i % 4, f"v{i}") for i in range(100)]))
    plan = t.read(spark).filter(F.col("k") == 5)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "Filter" in plan


def test_two_tables_merge_independence(spark, cat):
    """Transcript-style second payload table (reference main.py:377-506):
    two keyed tables in one catalog, each with its own MERGE history —
    commits to one never move the other's snapshot pointer or data."""
    store = cat.table("store2", DDL)
    transcripts = cat.table("transcripts", DDL)
    store.append(_df(spark, [(1, 0, "img-a"), (2, 1, "img-b")]))
    t_v0 = transcripts.current_snapshot_id()
    transcripts.merge_upsert(spark, _df(spark, [(1, 0, "tr-a")]), "k")
    transcripts.merge_upsert(spark, _df(spark, [(1, 0, "tr-a2"), (5, 2, "tr-e")]), "k")
    store_before = {r["k"]: r["v"] for r in store.read(spark).collect()}
    assert {r["k"]: r["v"] for r in transcripts.read(spark).collect()} == {
        1: "tr-a2", 5: "tr-e"
    }
    # store's pointer and rows untouched by the transcript merges
    assert store_before == {1: "img-a", 2: "img-b"}
    # time travel still works per table
    assert transcripts.read(spark, snapshot_id=t_v0 + 1).count() == 1
    # filtered pagination over the second table (main.py:455-506)
    page = (
        transcripts.read(spark)
        .orderBy(F.desc("v"), F.asc("k"))
        .offset(1)
        .limit(1)
        .collect()
    )
    assert [r["k"] for r in page] == [1]  # desc order: tr-e (k=5) first, offset skips it


def test_merge_delta_mor_basic_and_timetravel(spark, cat):
    """MOR deletes: commit appends tombstones, read applies them; time
    travel to the pre-delete snapshot still sees the full table."""
    t = cat.table("mor", DDL)
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b"), (3, 0, "c")]))
    pre = t.current_snapshot_id()
    t.merge_delta(
        spark, t.prepare_tombstone(_df(spark, [(2, 1, "x")]), "k"), None, "k"
    )
    assert {r["k"] for r in t.read(spark).collect()} == {1, 3}
    assert {r["k"] for r in t.read(spark, snapshot_id=pre).collect()} == {1, 2, 3}
    # bucket pruning still works under MOR
    assert {r["k"] for r in t.read(spark, buckets=[0]).collect()} == {1, 3}


def test_merge_delta_mor_delete_then_reinsert_same_commit(spark, cat):
    """The retry pattern: one commit deletes the fetched keys AND re-inserts
    some of them (with new values) — the re-inserted rows must survive."""
    t = cat.table("mor2", DDL)
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b"), (3, 2, "c")]))
    t.merge_delta(
        spark,
        t.prepare_tombstone(_df(spark, [(1, 0, "_"), (2, 1, "_")]), "k"),
        _df(spark, [(1, 0, "a-retry")]),
        "k",
    )
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a-retry", 3: "c"}
    # a later delete of the re-inserted key wins again
    t.merge_delta(
        spark, t.prepare_tombstone(_df(spark, [(1, 0, "_")]), "k"), None, "k"
    )
    assert {r["k"] for r in t.read(spark).collect()} == {3}


def test_mor_compact_folds_tombstones(spark, cat):
    t = cat.table("mor3", DDL)
    t.append(_df(spark, [(i, i % 4, f"v{i}") for i in range(20)]))
    t.merge_delta(
        spark,
        t.prepare_tombstone(_df(spark, [(i, i % 4, "_") for i in range(0, 20, 2)]), "k"),
        _df(spark, [(100, 0, "new")]),
        "k",
    )
    before = {r["k"] for r in t.read(spark).collect()}
    assert before == set(range(1, 20, 2)) | {100}
    t.compact(spark)
    snap = t.snapshot()
    assert not snap.deletes  # tombstones folded into data files
    assert {r["k"] for r in t.read(spark).collect()} == before


def test_concurrent_appends_never_lose_a_commit(spark, tmp_path):
    """ADVICE r02: two writers racing the read-sid -> manifest -> pointer
    protocol on the SAME table must serialize — every append lands, no
    snapshot id is double-allocated."""
    from concurrent.futures import ThreadPoolExecutor

    from newscrawler_spark.tablelib import SnapshotTable

    t = SnapshotTable(str(tmp_path), "race", "k long, bucket int")
    dfs = [
        spark.range(i * 10, i * 10 + 10).select(
            F.col("id").alias("k"), F.lit(i % 4).cast("int").alias("bucket")
        )
        for i in range(8)
    ]
    with ThreadPoolExecutor(max_workers=8) as pool:
        sids = list(pool.map(lambda d: t.append(d), dfs))
    assert len(set(sids)) == len(sids), f"duplicate snapshot ids: {sids}"
    assert t.read(spark).count() == 80
    # history is a contiguous chain: every append has a distinct manifest
    assert set(sids) <= set(t.history())


def test_bucket_stats_zone_maps(spark, cat):
    """Manifest zone maps: per-bucket n/lo/hi from parquet footers, carried
    forward by reference through COW merges like the data dirs themselves."""
    sddl = "k long, bucket int, v double"
    t = cat.table("t", sddl, stats_cols=["k", "v"])
    t.append(spark.createDataFrame([(1, 0, 5.0), (9, 0, 1.0), (4, 1, 2.5)], sddl))
    st = t.bucket_stats()
    assert st[0] == {"n": 2, "tomb": 0, "lo": {"k": 1, "v": 1.0}, "hi": {"k": 9, "v": 5.0}}
    assert st[1] == {"n": 1, "tomb": 0, "lo": {"k": 4, "v": 2.5}, "hi": {"k": 4, "v": 2.5}}
    dirs0 = t.snapshot().entries["0"]
    t.merge_upsert(spark, spark.createDataFrame([(4, 1, 7.0)], sddl), "k")
    st2 = t.bucket_stats()
    assert t.snapshot().entries["0"] == dirs0  # untouched bucket: same dirs
    assert st2[0] == st[0]  # ... and same stats, no recompute
    assert st2[1]["hi"]["v"] == 7.0


def test_bucket_stats_mor_tombstones_lower_bound(spark, cat):
    """Under merge-on-read deletes the zone maps stay conservative: tomb
    counts make n - tomb a live-row lower bound; lo/hi may be stale-wide
    (a deleted extremum) but never narrower than the data."""
    sddl = "k long, bucket int, v double"
    t = cat.table("t", sddl, stats_cols=["k"])
    t.append(spark.createDataFrame([(i, 0, float(i)) for i in range(10)], sddl))
    dels = spark.createDataFrame([(0, 0, 0.0), (9, 0, 0.0)], sddl)
    t.merge_delta(spark, t.prepare_tombstone(dels, "k"), None, "k")
    st = t.bucket_stats()
    assert st[0]["n"] == 10 and st[0]["tomb"] == 2
    assert st[0]["n"] - st[0]["tomb"] == t.read(spark).count()
    # extremes were deleted but the bound only widens, never narrows
    assert st[0]["lo"]["k"] <= 1 and st[0]["hi"]["k"] >= 8
    t.compact(spark)
    st2 = t.bucket_stats()
    assert st2[0] == {"n": 8, "tomb": 0, "lo": {"k": 1}, "hi": {"k": 8}}


def test_bucket_stats_absent_without_stats_cols(spark, cat):
    t = cat.table("t", DDL)
    t.append(_df(spark, [(1, 0, "a")]))
    assert t.bucket_stats() is None


def test_merge_delta_mor_pre_written_tombstone(spark, cat):
    """A tombstone written by prepare_tombstone stays inert until
    merge_delta references it, and keeps the seq-aware same-commit
    re-insert of a deleted key (the crawl engine pre-writes the epoch
    tombstone during link expansion to keep it off the commit tail)."""
    t = cat.table("t", DDL)
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b"), (3, 2, "c")]))
    tomb = t.prepare_tombstone(
        _df(spark, [(2, 1, "x"), (3, 2, "x")]).select("k", "bucket"), "k"
    )
    # dirs are inert until a commit references them
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2, 3}
    inserts = _df(spark, [(2, 1, "REINS"), (9, 5, "new")])
    t.merge_delta(spark, tomb, inserts, "k")
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "REINS", 9: "new"}


# ------------------------------------------------------------- packed commits


def test_packed_append_single_shared_dir_reads_identically(spark, cat):
    t = cat.table("t", DDL)
    rows = [(i, i % 5, f"v{i}") for i in range(50)]
    t.append(_df(spark, rows), pack_rows=50)
    snap = t.snapshot()
    dirs = {d for ds in snap.entries.values() for d in ds}
    assert len(dirs) == 1 and all(d.endswith("-packed") for d in dirs)
    assert set(snap.entries) == {str(b) for b in range(5)}  # per-bucket reg
    got = {(r["k"], r["bucket"], r["v"]) for r in t.read(spark).collect()}
    assert got == set(rows)


def test_packed_bucket_pruned_read_filters_shared_file(spark, cat):
    t = cat.table("t", DDL)
    t.append(_df(spark, [(i, i % 4, "x") for i in range(40)]), pack_rows=40)
    got = {r["k"] for r in t.read(spark, buckets=[1, 3]).collect()}
    assert got == {i for i in range(40) if i % 4 in (1, 3)}


def test_packed_and_unpacked_dirs_mix_in_one_table(spark, cat):
    t = cat.table("t", DDL)
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b")]))  # per-bucket dirs
    t.append(_df(spark, [(3, 0, "c"), (4, 2, "d")]), pack_rows=2)  # packed
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2, 3, 4}
    assert {r["k"] for r in t.read(spark, buckets=[0]).collect()} == {1, 3}


def test_packed_over_threshold_falls_back_to_bucket_dirs(spark, cat, monkeypatch):
    monkeypatch.setattr(tablelib, "PACK_ROWS", 10)
    t = cat.table("t", DDL)
    t.append(_df(spark, [(i, i % 3, "x") for i in range(30)]), pack_rows=30)
    dirs = {d for ds in t.snapshot().entries.values() for d in ds}
    assert not any(d.endswith("-packed") for d in dirs)


def test_packed_bucket_stats_are_exact_per_bucket(spark, cat):
    # a packed dir spans buckets; stats must NOT overcount each bucket
    t = cat.table("t", DDL, stats_cols=["k"])
    rows = [(i, i % 3, "x") for i in range(12)]  # 4 rows per bucket
    t.append(_df(spark, rows), pack_rows=12)
    stats = t.bucket_stats()
    assert stats is not None
    for b in range(3):
        ks = [k for k, bb, _ in rows if bb == b]
        assert stats[b]["n"] == 4
        assert stats[b]["lo"]["k"] == min(ks)
        assert stats[b]["hi"]["k"] == max(ks)


def test_packed_mor_tombstone_read_and_stats(spark, cat):
    t = cat.table("t", DDL, stats_cols=["k"])
    t.append(_df(spark, [(i, i % 2, "x") for i in range(8)]), pack_rows=8)
    tomb = t.prepare_tombstone(
        _df(spark, [(0, 0, "x"), (1, 1, "x")]), "k", pack_rows=2
    )
    inserts = _df(spark, [(100, 0, "new")])
    t.merge_delta(spark, tomb, inserts, "k", pack_rows=1)
    got = {r["k"] for r in t.read(spark).collect()}
    assert got == {2, 3, 4, 5, 6, 7, 100}
    # packed tombstone dirs: per-bucket tomb counts stay exact
    stats = t.bucket_stats()
    assert stats is not None
    assert stats[0]["tomb"] == 1 and stats[1]["tomb"] == 1
    # pruned MOR read through packed data + packed tombstones
    got0 = {r["k"] for r in t.read(spark, buckets=[0]).collect()}
    assert got0 == {2, 4, 6, 100}


def test_packed_merge_upsert_and_compact(spark, cat):
    t = cat.table("t", DDL, stats_cols=["k"])
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b")]), pack_rows=2)
    t.merge_upsert(spark, _df(spark, [(2, 1, "B"), (4, 3, "d")]), "k", pack_rows=4)
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B", 4: "d"}
    # compact uses the manifest row bound -> packs the small table to 1 dir
    t.compact(spark)
    dirs = {d for ds in t.snapshot().entries.values() for d in ds}
    assert len(dirs) == 1 and all(d.endswith("-packed") for d in dirs)
    assert {r["k"]: r["v"] for r in t.read(spark).collect()} == got


def test_packed_prewritten_tombstone_roundtrip(spark, cat):
    t = cat.table("t", DDL)
    t.append(_df(spark, [(i, i % 2, "x") for i in range(6)]), pack_rows=6)
    tomb = t.prepare_tombstone(
        _df(spark, [(0, 0, "x"), (3, 1, "x")]).select("k", "bucket"),
        "k", pack_rows=2,
    )
    assert all(
        d.endswith("-packed") for dirs in tomb.values() for d in dirs
    ) and set(tomb) == {"0", "1"}
    t.merge_delta(spark, tomb, _df(spark, [(9, 0, "ins")]), "k", pack_rows=1)
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2, 4, 5, 9}


def test_packed_partial_merge_does_not_resurrect_stale_rows(spark, cat):
    # regression: packed dir under buckets {0,1,2}; merging only bucket 1
    # must drop the shared dir from ALL buckets (fully-live-or-dead), or a
    # full read resurrects bucket-1's old row via bucket 0/2's registration
    t = cat.table("t", DDL)
    t.append(_df(spark, [(1, 0, "a"), (2, 1, "b"), (3, 2, "c")]), pack_rows=3)
    t.merge_upsert(spark, _df(spark, [(2, 1, "B")]), "k", pack_rows=4)
    rows = t.read(spark).collect()
    assert len(rows) == 3
    assert {r["k"]: r["v"] for r in rows} == {1: "a", 2: "B", 3: "c"}
    # same through a merge_delta over the rewritten packed dir
    t.merge_delta(spark, t.prepare_tombstone(_df(spark, [(3, 2, "x")]), "k"),
                  _df(spark, [(7, 2, "g")]), "k", pack_rows=4)
    rows = t.read(spark).collect()
    assert len(rows) == 3
    assert {r["k"]: r["v"] for r in rows} == {1: "a", 2: "B", 7: "g"}


def test_understated_pack_rows_hint_warns_and_keeps_rows(spark, cat, caplog):
    # an under-stated hint still writes one correct packed file, but is a
    # silent perf cliff at scale — the readback's row count flags it
    t = cat.table("t", DDL)
    rows = [(i, i % 3, "x") for i in range(10)]
    with caplog.at_level(logging.WARNING, logger="newscrawler_spark.tablelib"):
        t.append(_df(spark, rows), pack_rows=2)
    warned = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warned) == 1
    assert "t:" in warned[0].getMessage() and "10 rows" in warned[0].getMessage()
    assert "hint 2" in warned[0].getMessage()
    assert {(r["k"], r["bucket"], r["v"]) for r in t.read(spark).collect()} == set(rows)
