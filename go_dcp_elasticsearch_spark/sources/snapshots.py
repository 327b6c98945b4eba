"""Snapshot-versioned change source (SURVEY.md A1) — "read exactly the
delta between snapshot A and snapshot B", the Iceberg incremental-read
contract (``option("start-snapshot-id", a).option("end-snapshot-id", b)``)
re-expressed over the engine's own corpus mirror, since the sandbox has no
lakehouse format on the classpath.

Reference parity: go-dcp's whole identity is resumable CDC — checkpointing
is forced to manual (connector.go:186) and vBucket offsets are committed
only AFTER the sink acknowledged the flushed batch (bulk.go:320-332);
crash => replay from the last committed offset (at-least-once, integration
resume behavior test/integration/integration_test.go:25-79). Here the
snapshot id IS the offset: ``SnapshotStore.commit`` is the producer's
append, the index's lineage log records the last APPLIED snapshot (the
ack-gated checkpoint), and ``resume_apply`` replays exactly the committed
range the index has not yet seen.

Layout under ``store_dir`` (= the index dir, shared with the mirror):
  _changelog/snapshot_id=N/   one parquet partition per committed snapshot
                              (partition-pruned range reads)
  _snapshots/rec-*.json       commit log: one immutable metadata file per
                              snapshot, written through the Hadoop FS API
                              so it lives NEXT TO THE DATA on HDFS/S3A
                              (O(ms), not a Spark job; a retired
                              appended meta.jsonl is refused)
  _corpus/                    the head-state mirror (write_corpus_mirror)

Scale shape: ``read_changes_between`` reads ONLY the requested snapshot
partitions (directory-level pruning); the LWW collapse shuffles once on the
doc key; ``commit`` rewrites only the mirror buckets the feed touches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class SnapshotStore:
    """Versioned change log + head-state mirror for one corpus."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        key_cols: list[str] = ("repo", "path"),
        order_col: str = "seq_no",
    ):
        self.spark = spark
        self.store_dir = store_dir.rstrip("/")
        self.key_cols = list(key_cols)
        self.order_col = order_col
        self.changelog_path = f"{self.store_dir}/_changelog"
        self.meta_dir = f"{self.store_dir}/_snapshots"
        from go_dcp_elasticsearch_spark.metadata import RecordLog

        self._meta_log = RecordLog(spark, self.meta_dir)

    # ---------- metadata ----------

    def _meta_records(self) -> list[dict]:
        return self._meta_log.records()

    def snapshots(self) -> list[dict]:
        """Committed snapshots, oldest first: [{snapshot_id, n_changes}]."""
        return sorted(
            (r for r in self._meta_records() if "snapshot_id" in r),
            key=lambda r: int(r["snapshot_id"]),
        )

    def expired_ids(self) -> set[int]:
        """Snapshot ids whose changelog partitions were expired."""
        out: set[int] = set()
        for r in self._meta_records():
            out.update(r.get("expired", []))
        return out

    def current_snapshot_id(self) -> int:
        """Highest committed snapshot id; 0 = bootstrap (no changes yet)."""
        snaps = self.snapshots()
        return max((s["snapshot_id"] for s in snaps), default=0)

    def _append_meta(self, rec: dict) -> None:
        # one immutable file per record (metadata.RecordLog): durable
        # BEFORE the caller's next step — expire's intent record is on
        # disk before any directory delete — portable to HDFS/S3A
        self._meta_log.append(rec)

    # ---------- producer side ----------

    def bootstrap(self, corpus: DataFrame, n_buckets: int = 64) -> int:
        """Write the initial mirror state as snapshot 0."""
        from go_dcp_elasticsearch_spark.streaming.pipeline import write_corpus_mirror

        write_corpus_mirror(
            self.spark, self.store_dir, corpus, key_cols=self.key_cols,
            n_buckets=n_buckets,
        )
        self._append_meta({"snapshot_id": 0, "n_changes": 0, "bootstrap": True})
        return 0

    def commit(self, changes: DataFrame) -> int:
        """Append one snapshot: write the LWW-deduped feed as a changelog
        partition, fold it into the head mirror, record metadata. Returns
        the new snapshot id.

        ``changes`` columns: key_cols..., action ('index'|'delete'),
        commit, lang, content (null for deletes), ``order_col``.
        """
        from go_dcp_elasticsearch_spark.operators.dedup import last_write_wins
        from go_dcp_elasticsearch_spark.streaming.pipeline import (
            upsert_corpus_mirror,
        )

        sid = self.current_snapshot_id() + 1
        feed = last_write_wins(changes, self.key_cols, self.order_col).select(
            *self.key_cols, "action", "commit", "lang", "content",
            F.col(self.order_col).cast("long").alias(self.order_col),
        ).persist()
        n = feed.count()
        if n:
            # idempotent partition write: a crash between the changelog
            # append and the meta append means a RETRIED commit reuses the
            # same snapshot id — clear the partition first (the same
            # intent-first pattern expire_snapshots uses) so the retry
            # never leaves duplicate rows in snapshot_id=N.
            from go_dcp_elasticsearch_spark.fsutil import delete_dir

            if delete_dir(self.spark, f"{self.changelog_path}/snapshot_id={sid}"):
                self.spark.catalog.refreshByPath(self.changelog_path)
            # file sizing: ~1M changes per file; one file for typical
            # deltas, parallel files for bulk re-ingest snapshots
            n_files = max(1, -(-int(n) // 1_000_000))
            feed.withColumn("snapshot_id", F.lit(sid)).repartition(n_files).write.mode(
                "append"
            ).partitionBy("snapshot_id").parquet(self.changelog_path)
            upsert_corpus_mirror(
                self.spark, self.store_dir, feed, self.key_cols,
                order_col=self.order_col,
            )
        # n == 0: metadata-only snapshot — writing an empty DataFrame
        # creates no parquet files, and a data-file-less changelog would
        # crash later range reads with a schema-inference error
        feed.unpersist()
        self._append_meta({"snapshot_id": sid, "n_changes": int(n)})
        return sid

    # ---------- consumer side ----------

    def read_changes_between(
        self, start_snapshot_id: int, end_snapshot_id: int | None = None
    ) -> DataFrame:
        """The NET change feed for the half-open range (start, end]: per
        key, the action/content of the newest (snapshot_id, order) change
        wins — exactly what a state-based apply needs (replaying each
        intermediate mutation would reach the same state; the reference's
        at-least-once replay is likewise collapsed by its keyed upserts).

        Mirrors Iceberg's ``start-snapshot-id`` (exclusive) /
        ``end-snapshot-id`` (inclusive) incremental-read options. The scan
        touches only the requested ``snapshot_id=N`` directories.
        """
        if end_snapshot_id is None:
            end_snapshot_id = self.current_snapshot_id()
        if end_snapshot_id <= start_snapshot_id:
            raise ValueError(
                f"empty snapshot range ({start_snapshot_id}, {end_snapshot_id}]"
            )
        gone = {
            s for s in self.expired_ids()
            if start_snapshot_id < s <= end_snapshot_id
        }
        if gone:
            raise ValueError(
                f"snapshot range ({start_snapshot_id}, {end_snapshot_id}] "
                f"includes expired snapshots {sorted(gone)}; resume from a "
                "fresh bootstrap of the head mirror instead"
            )
        from go_dcp_elasticsearch_spark.fsutil import exists

        if not exists(self.spark, self.changelog_path):
            # every committed snapshot in range was zero-change (the
            # changelog directory is only created by a non-empty commit):
            # a legitimate empty feed, not an error
            return self.spark.createDataFrame([], self._feed_schema())
        df = self.spark.read.parquet(self.changelog_path).filter(
            (F.col("snapshot_id") > start_snapshot_id)
            & (F.col("snapshot_id") <= end_snapshot_id)
        )
        w = Window.partitionBy(*self.key_cols).orderBy(
            F.col("snapshot_id").desc(), F.col(self.order_col).desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _feed_schema(self):
        """Changelog schema without reading changelog files: key/content
        column types come from the mirror (bootstrap always writes it),
        plus the action column and the snapshot_id partition column, in
        the same order a partitioned parquet read would produce."""
        from pyspark.sql.types import IntegerType, StringType, StructField, StructType

        mirror = self.spark.read.parquet(f"{self.store_dir}/_corpus").drop("_bucket")
        by_name = {f.name: f for f in mirror.schema.fields}
        fields = [by_name[k] for k in self.key_cols]
        fields.append(StructField("action", StringType(), True))
        fields += [by_name[c] for c in ("commit", "lang", "content") if c in by_name]
        fields.append(by_name[self.order_col])
        fields.append(StructField("snapshot_id", IntegerType(), True))
        return StructType(fields)

    def corpus_at_head(self, with_bucket: bool = False) -> DataFrame:
        """The post-change corpus state. ``with_bucket=True`` keeps the
        ``_bucket`` LAYOUT column for callers that care about the mirror's
        physical layout; consumers like apply_changes_to_index accept and
        drop it. (Bucket-PRUNING the rebuild content join was measured a
        no-op for update deltas and reverted — the rebuild needs every key
        of the rebuilt shards, whose hashes touch all buckets, and pruning
        with a foreign modulus would silently drop rebuild content; see
        the rationale comment in changes.apply_changes_to_index.)"""
        df = self.spark.read.parquet(f"{self.store_dir}/_corpus")
        return df if with_bucket else df.drop("_bucket")

    # ---------- retention ----------

    def expire_snapshots(self, keep_after: int) -> list[int]:
        """Drop changelog partitions with snapshot_id <= ``keep_after``
        (Iceberg's expire_snapshots): the head mirror already folds their
        net effect, so they are only needed for range reads starting below
        ``keep_after``. Callers must not expire past any consumer's
        checkpoint (``applied_snapshot_id``) or its next resume would find
        a hole and replay from an unreadable base. Returns the expired ids.

        Crash safety: the ``expired`` INTENT record is fsync'd to the
        metadata log BEFORE any directory is deleted — a crash between the
        two leaves an over-approximate expired set (range reads fail loud,
        never silently incomplete), and a re-run completes the deletes
        (dirs whose ids are already marked are still swept). Zero-change
        snapshots (no partition directory was ever written) are NOT
        marked: nothing is lost by reading across them, so they must not
        brick a consumer's resume range.

        Scale shape: pure directory deletes — no data read or rewritten."""
        from go_dcp_elasticsearch_spark.fsutil import delete_dir, exists

        already = self.expired_ids()
        to_mark = [
            int(s["snapshot_id"])
            for s in self.snapshots()
            if 0 < int(s["snapshot_id"]) <= keep_after
            and int(s["snapshot_id"]) not in already
            and exists(
                self.spark,
                f"{self.changelog_path}/snapshot_id={int(s['snapshot_id'])}",
            )
        ]
        if to_mark:
            self._append_meta({"expired": to_mark})
        swept = False
        for sid in sorted(set(to_mark) | already):
            if sid <= keep_after:
                swept |= delete_dir(
                    self.spark, f"{self.changelog_path}/snapshot_id={sid}"
                )
        if swept:
            self.spark.catalog.refreshByPath(self.changelog_path)
        return to_mark


def applied_snapshot_id(index_dir: str, spark: SparkSession | None = None) -> int:
    """The index's checkpoint: highest snapshot id recorded as applied in
    the lineage log (``snapshot_apply`` stage records), 0 if none. Reads
    through the Hadoop FS layer, so the checkpoint lives next to the data
    on HDFS/S3A (connector.go:186 parity)."""
    from go_dcp_elasticsearch_spark.plans.lineage import LineageLog

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("applied_snapshot_id needs an active SparkSession")
    log = LineageLog(spark, f"{index_dir.rstrip('/')}/_lineage")
    return max(
        (
            int(r["partition_id"])
            for r in log._records()
            if r.get("stage") == "snapshot_apply"
        ),
        default=0,
    )


def resume_apply(
    spark: SparkSession,
    index_dir: str,
    store: SnapshotStore | None = None,
) -> dict:
    """Resume the index from its checkpoint: read the committed-but-not-
    applied snapshot range, apply it, and commit the new checkpoint ONLY
    after the apply returned (ack-gated, bulk.go:320-332 — a crash during
    apply leaves the checkpoint at the old snapshot and the next resume
    replays the same range; apply_changes_to_index is an idempotent
    deterministic overwrite, so replay is exactly-once in effect).

    Returns {"from_snapshot", "to_snapshot", "n_changed", ...} (the apply
    summary), or {"from_snapshot": s, "to_snapshot": s} when up to date.
    """
    from go_dcp_elasticsearch_spark.plans.lineage import LineageLog
    from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index

    store = store or SnapshotStore(spark, index_dir)
    last_applied = applied_snapshot_id(index_dir, spark)
    head = store.current_snapshot_id()
    if head <= last_applied:
        return {"from_snapshot": last_applied, "to_snapshot": last_applied,
                "n_changed": 0}
    feed = store.read_changes_between(last_applied, head)
    out = apply_changes_to_index(
        spark, index_dir, store.corpus_at_head(),
        feed.select(*store.key_cols, "action", store.order_col),
        key_cols=store.key_cols, order_col=store.order_col,
    )
    log = LineageLog(spark, f"{index_dir.rstrip('/')}/_lineage")
    pre = log.record_count()
    log.commit("snapshot_apply", head, out["n_changed"])
    # the snapshot_apply record changes no index state — carry the keymap
    # the apply just maintained across it (epoch bump only)
    from go_dcp_elasticsearch_spark.index import keymap as km_mod
    from go_dcp_elasticsearch_spark.index.builder import IndexPaths

    km_mod.bump_epoch(spark, IndexPaths(index_dir), pre, log.record_count())
    out.update({"from_snapshot": last_applied, "to_snapshot": head})
    return out
