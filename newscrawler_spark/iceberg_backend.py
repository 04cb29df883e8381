"""Real-Iceberg backend for the engine's table interface.

``tablelib.SnapshotTable``/``Catalog`` define the storage contract the crawl
engine codes against (per-bucket partitioning, MERGE upsert, MERGE
delete+insert, predicate delete, snapshot ids + time travel, compaction,
snapshot expiry, atomic multi-table checkpoint). This module implements the
SAME surface against a real Apache Iceberg catalog via the public Spark
APIs — ``writeTo(...).append()/overwrite``, ``MERGE INTO``, ``DELETE FROM``,
metadata tables (``.history``, ``.files``) and the ``system.*`` procedures
(rollback_to_snapshot, rewrite_data_files, expire_snapshots).

The sandbox has no network, so the iceberg-spark runtime jar cannot be
fetched here: every test that constructs an :class:`IcebergTable` is
integration-marked and auto-skips when :func:`iceberg_available` is False
(tests/test_iceberg_backend.py). On a real cluster, enable with::

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \
      --conf spark.sql.catalog.ice=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.ice.type=hadoop \
      --conf spark.sql.catalog.ice.warehouse=<warehouse-path> ...

and build the engine with ``CrawlEngine(spark, root,
catalog=IcebergCatalog(spark, root, "ice.crawl"))`` — ``root`` still holds
the checkpoint file; all data lives in the Iceberg warehouse.

Reference analog: the storage layer is load-bearing in the reference too
(/root/reference/database.py:24-57 — the articles table + upsert loop).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tablelib import BUCKET_COL, Catalog


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def configure_hadoop_catalog(
    spark: SparkSession, catalog: str, warehouse: str
) -> None:
    """Point a session-level Iceberg hadoop catalog at ``warehouse``.

    Iceberg catalogs are lazily instantiated, so this works at runtime on an
    existing session — provided the runtime jar is already on the classpath
    (it cannot be added after JVM start)."""
    spark.conf.set(
        f"spark.sql.catalog.{catalog}", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set(f"spark.sql.catalog.{catalog}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{catalog}.warehouse", warehouse)


class IcebergTable:
    """``tablelib.SnapshotTable``'s surface over a real Iceberg table.

    Differences from the parquet twin, by design:
    - snapshot ids are Iceberg's (random longs, not dense integers); 0 means
      "empty, pre-first-commit" and cannot be rolled back to — the engine
      only rolls back to ids it checkpointed, which are real snapshots;
    - ``pack_rows`` (the parquet twin's packed small-delta commit hint) is
      accepted on every writer and ignored: Iceberg sizes output files
      itself (write.target-file-size-bytes) and its writers already avoid
      the one-file-per-partition explosion the twin's packing works around;
    - merge-on-read is a TABLE PROPERTY (write.delete.mode=merge-on-read),
      and Iceberg writes its own delete files inside MERGE, so
      ``prepare_tombstone`` returns the lazy key DataFrame that
      ``merge_delta`` deletes by;
    - compaction/expiry go through the documented system procedures.
    """

    def __init__(
        self,
        spark: SparkSession,
        namespace: str,
        name: str,
        schema_ddl: str | None = None,
        partitioned: bool = True,
    ):
        self.spark = spark
        self.name = name
        self.schema_ddl = schema_ddl
        self.partitioned = partitioned
        self.full = f"{namespace}.{name}"
        self._catalog = namespace.split(".", 1)[0]
        self._ident = self.full.split(".", 1)[1]  # namespace-local identifier
        self._commit_lock = threading.RLock()
        part = (
            f"PARTITIONED BY ({BUCKET_COL})"
            if partitioned and schema_ddl and BUCKET_COL in schema_ddl
            else ""
        )
        props = (
            "TBLPROPERTIES ('write.delete.mode'='merge-on-read', "
            "'write.merge.mode'='merge-on-read', 'format-version'='2')"
        )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.full} ({schema_ddl}) "
            f"USING iceberg {part} {props}"
        )

    # ---------------------------------------------------------------- reads

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        reader = spark.read.format("iceberg")
        if snapshot_id:
            reader = reader.option("snapshot-id", str(snapshot_id))
        df = reader.load(self.full)
        if snapshot_id == 0:
            df = df.limit(0)
        if buckets is not None and self.partitioned:
            # identity partition on bucket -> Iceberg partition pruning
            df = df.filter(F.col(BUCKET_COL).isin([int(b) for b in buckets]))
        return df

    def is_empty(self, snapshot_id: int | None = None) -> bool:
        return not self.read(self.spark, snapshot_id).limit(1).take(1)

    def history(self) -> list[int]:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.full}.history ORDER BY made_current_at"
        ).collect()
        return [0] + [int(r["snapshot_id"]) for r in rows]

    def current_snapshot_id(self) -> int:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.full}.history "
            "ORDER BY made_current_at DESC LIMIT 1"
        ).collect()
        return int(rows[0]["snapshot_id"]) if rows else 0

    def set_current(self, sid: int) -> None:
        """Checkpoint rollback (Catalog.restore_latest)."""
        if sid == 0:
            self.spark.sql(f"DELETE FROM {self.full} WHERE true")
            return
        self.spark.sql(
            f"CALL {self._catalog}.system.rollback_to_snapshot"
            f"('{self._ident}', {int(sid)})"
        )

    def bucket_stats(self, snapshot_id: int | None = None) -> None:
        """No manifest-level zone maps exposed here: returning None makes
        engine callers read the whole table and rely on Iceberg's own
        file-stat scan pruning (min/max per data file) plus the pushed
        ``not_before`` predicate — the native equivalent of what
        tablelib.bucket_stats enables for the parquet twin."""
        return None

    def max_dirs_per_bucket(self) -> int:
        """Read-amplification proxy: max data files in one partition."""
        rows = self.spark.sql(
            f"SELECT count(*) AS n FROM {self.full}.files GROUP BY partition"
        ).collect()
        return max((int(r["n"]) for r in rows), default=0)

    # --------------------------------------------------------------- writes

    def append(self, df: DataFrame, summary: dict | None = None,
               pack_rows: int | None = None) -> int:
        with self._commit_lock:
            df.writeTo(self.full).append()
            return self.current_snapshot_id()

    def overwrite(self, df: DataFrame, summary: dict | None = None,
                  pack_rows: int | None = None) -> int:
        with self._commit_lock:
            df.writeTo(self.full).overwrite(F.lit(True))
            return self.current_snapshot_id()

    def _merge(self, delta: DataFrame, key: str, matched: str) -> None:
        view = f"_delta_{self.name}"
        delta.createOrReplaceTempView(view)
        self.spark.sql(
            f"MERGE INTO {self.full} t USING {view} s "
            f"ON t.{key} = s.{key} {matched} "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        self.spark.catalog.dropTempView(view)

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
        """MERGE INTO ... WHEN MATCHED UPDATE / NOT MATCHED INSERT.

        ``preserve_cols`` keep the existing value on update (first_epoch
        semantics), exactly like the parquet twin."""
        with self._commit_lock:
            keep = set(preserve_cols or [])
            sets = ", ".join(
                f"t.{c} = s.{c}" for c in delta.columns if c != key and c not in keep
            )
            matched = f"WHEN MATCHED THEN UPDATE SET {sets}" if sets else ""
            self._merge(delta, key, matched)
            return self.current_snapshot_id()

    def prepare_tombstone(
        self, delete_keys: DataFrame, key: str, pack_rows: int | None = None
    ) -> DataFrame:
        """The keys a later ``merge_delta`` deletes, as a lazy DataFrame:
        nothing is written here, because Iceberg writes its own delete
        files inside MERGE."""
        return delete_keys.select(key)

    def merge_delta(
        self,
        spark: SparkSession,
        tombstones: DataFrame | None,
        inserts: DataFrame | None,
        key: str,
        summary: dict | None = None,
        pack_rows: int | None = None,
    ) -> int:
        """Delete by key then insert — same-commit insert beats delete, the
        parquet twin's MERGE semantics. ``tombstones`` is what
        ``prepare_tombstone`` returned (or None)."""
        with self._commit_lock:
            if tombstones is not None and tombstones.take(1):
                view = f"_del_{self.name}"
                tombstones.createOrReplaceTempView(view)
                self.spark.sql(
                    f"MERGE INTO {self.full} t USING {view} s "
                    f"ON t.{key} = s.{key} WHEN MATCHED THEN DELETE"
                )
                self.spark.catalog.dropTempView(view)
            if inserts is not None:
                inserts.writeTo(self.full).append()
            return self.current_snapshot_id()

    def delete_where(
        self, spark: SparkSession, condition: str, summary: dict | None = None
    ) -> int:
        with self._commit_lock:
            self.spark.sql(f"DELETE FROM {self.full} WHERE {condition}")
            return self.current_snapshot_id()

    def compact(self, spark: SparkSession, summary: dict | None = None,
                pack_rows: int | None = None) -> int:
        with self._commit_lock:
            self.spark.sql(
                f"CALL {self._catalog}.system.rewrite_data_files"
                f"(table => '{self._ident}')"
            )
            return self.current_snapshot_id()

    def expire_snapshots(self, keep_last: int = 10) -> None:
        with self._commit_lock:
            self.spark.sql(
                f"CALL {self._catalog}.system.expire_snapshots"
                f"(table => '{self._ident}', retain_last => {int(keep_last)})"
            )


class IcebergCatalog(Catalog):
    """Catalog twin: Iceberg tables + the same file-based atomic multi-table
    checkpoint (Iceberg has no multi-table transaction; the checkpoint file
    plus per-table rollback_to_snapshot gives the engine the identical
    torn-epoch recovery protocol)."""

    def __init__(self, spark: SparkSession, root: str, namespace: str):
        super().__init__(root)
        self.spark = spark
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {namespace}")

    def table(
        self,
        name: str,
        schema_ddl: str | None = None,
        partitioned: bool = True,
        stats_cols: list[str] | None = None,
    ):
        # stats_cols is accepted for interface parity and ignored: Iceberg
        # keeps per-file column stats in its own manifests, and
        # IcebergTable.bucket_stats() (None) makes readers fall back to
        # letting Iceberg's scan planning do the pruning natively.
        if name not in self._tables:
            self._tables[name] = IcebergTable(
                self.spark, self.namespace, name, schema_ddl, partitioned
            )
        return self._tables[name]
