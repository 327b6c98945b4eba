"""Streaming ingest pipeline — the reference's DCP stream role, played by
Structured Streaming (SURVEY.md A1/A10/A18).

Reference model: go-dcp delivers mutation/deletion/expiration events; the
connector maps -> batches (count/byte/time triggers, bulk.go:206-208,
118-122) -> flushes to the sink -> commits source offsets only after ack
(manual checkpointing, connector.go:186, bulk.go:320-332). Crash => replay
from last committed offset => at-least-once, idempotent keyed upserts.

Spark mapping:
- source offsets + ack-gated commit  -> ``checkpointLocation`` (offsets are
  committed only after the micro-batch's sink write returns),
- count trigger  -> ``maxFilesPerTrigger``/``maxOffsetsPerTrigger``,
- time trigger   -> ``Trigger.ProcessingTime``; drain-then-exit shutdown
  (connector.go:62-65, final synchronous flush) -> ``Trigger.AvailableNow``,
- rebalance barrier (A19, bulk.go:124-141) -> native task re-scheduling.

The micro-batch body reuses the SAME batch operators (dispatch -> map ->
LWW dedup -> sink append) — one code path for batch and streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from go_dcp_elasticsearch_spark.operators.dedup import last_write_wins


def stream_changes(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    sink_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    order_col: str = "seq_no",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream change files from ``source_dir`` into an actions table.

    Each micro-batch is LWW-deduped per key (A7 applies within a batch in
    the reference too: bulk.go:179-195) and appended with its batch id —
    the replayable, ordered action log the indexer consumes.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        deduped = last_write_wins(batch_df, key_cols, order_col)
        (
            deduped.withColumn("_micro_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _bucket_expr(key_cols: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets)).cast(
        "int"
    )


def write_corpus_mirror(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    key_cols: list[str] = ("repo", "path"),
    n_buckets: int = 64,
) -> None:
    """Bootstrap the index's content forward store (``_corpus``).

    The reference can rebuild any document because Elasticsearch stores
    `_source`; our postings are derived, so shard rebuilds need a content
    authority. The mirror is hash-bucketed on the doc key so a streaming
    micro-batch only rewrites the buckets its keys touch (dynamic
    partition overwrite), never the whole corpus.
    """
    key_cols = list(key_cols)
    if "seq_no" in corpus.columns:
        # the mirror's durable seq type is long (64-bit CDC sequences);
        # writing the bootstrap as int32 would clash with later upsert
        # files at read time (parquet INT32 vs INT64 in one table)
        corpus = corpus.withColumn("seq_no", F.col("seq_no").cast("long"))
    (
        corpus.withColumn("_bucket", _bucket_expr(key_cols, n_buckets))
        .repartition(n_buckets, F.col("_bucket"))
        .write.mode("overwrite")
        .partitionBy("_bucket")
        .parquet(f"{index_dir}/_corpus")
    )
    # the bucket count is part of the mirror's layout: persist it so every
    # later consumer buckets identically (a mismatched modulus would route
    # an upsert to a different partition than the row it replaces)
    from go_dcp_elasticsearch_spark.session import tiny_df

    tiny_df(spark, [(int(n_buckets),)], "n_buckets int").write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/_corpus_meta")


def upsert_corpus_mirror(
    spark: SparkSession,
    index_dir: str,
    feed: DataFrame,
    key_cols: list[str],
    order_col: str = "seq_no",
    n_buckets: int = 64,
) -> list[int]:
    """Merge an LWW-deduped change feed into the ``_corpus`` mirror,
    rewriting ONLY the hash buckets the feed's keys touch (dynamic
    partition overwrite). Shared by the streaming micro-batch body and
    the snapshot store's commit path. Returns the touched bucket ids so
    a delta-strategy caller can prune its mirror read to the same set.

    ``feed`` columns: key_cols..., action ('index'|'delete'), commit,
    lang, content (null for deletes), ``order_col``. The modulus persisted
    by ``write_corpus_mirror`` wins over the parameter."""
    corpus_path = f"{index_dir}/_corpus"
    try:
        n_buckets = int(
            spark.read.parquet(f"{index_dir}/_corpus_meta").collect()[0]["n_buckets"]
        )
    except Exception:
        pass
    touched = (
        feed.select(_bucket_expr(key_cols, n_buckets).alias("_bucket"))
        .distinct()
        .collect()
    )
    touched_buckets = [int(r["_bucket"]) for r in touched]
    if not touched_buckets:
        return []

    from go_dcp_elasticsearch_spark.fsutil import delete_dir

    # merge the touched buckets: survivors keep content, upserts win.
    old = spark.read.parquet(corpus_path).filter(
        F.col("_bucket").isin(touched_buckets)
    )
    # the mirror's seq_no is 64-bit (write_corpus_mirror casts the
    # bootstrap): rewriting some buckets as int64 next to int32 files would
    # leave a table that fails at read, so any other type is refused
    # before the first write (dtypes are already resolved: no extra job)
    seq_type = dict(old.dtypes).get("seq_no", "bigint")
    if seq_type != "bigint":
        raise ValueError(
            f"corpus mirror {corpus_path}: seq_no is {seq_type}, expected "
            "bigint; re-bootstrap it with write_corpus_mirror"
        )
    # no broadcast hint on the feed keys: a bulk re-ingest snapshot can
    # carry millions of keys; let AQE broadcast only when it actually fits
    survivors = old.join(feed.select(*key_cols), key_cols, "left_anti")
    # seq_no is a 64-bit CDC sequence — cast("int") would wrap silently
    upserts = feed.filter(F.col("action") != "delete").select(
        *key_cols, "commit", "lang", "content",
        F.col(order_col).cast("long").alias("seq_no"),
    ).withColumn("_bucket", _bucket_expr(key_cols, n_buckets))
    merged = survivors.unionByName(upserts).persist()
    merged.count()  # materialize before overwriting what `old` reads
    # a bucket whose every row was deleted receives no merged rows, so
    # dynamic overwrite would leave its stale directory — remove it
    # BEFORE the write (after `merged` is materialized from it): a crash
    # between delete and write is just a partial apply that at-least-once
    # replay heals, whereas deleting after the write would leave a
    # crash window that permanently resurrects deleted documents if the
    # producer never retries. (This replaces the old semi-join GC against
    # the index docs table, which silently dropped committed-but-not-yet-
    # APPLIED inserts from the mirror under deferred apply.)
    live = {
        int(r["_bucket"])
        for r in merged.select("_bucket").distinct().collect()
    }
    for b in set(touched_buckets) - live:
        delete_dir(spark, f"{corpus_path}/_bucket={b}")
    from go_dcp_elasticsearch_spark.sources.changes import _dynamic_overwrite

    with _dynamic_overwrite(spark):
        merged.repartition(max(len(touched_buckets), 1), F.col("_bucket")).write.mode(
            "overwrite"
        ).partitionBy("_bucket").parquet(corpus_path)
    spark.catalog.refreshByPath(corpus_path)
    merged.unpersist()
    return touched_buckets


def stream_changes_to_index(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    index_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] = ("repo", "path"),
    order_col: str = "seq_no",
    n_buckets: int = 64,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    apply_strategy: str = "rebuild",
    auto_fold: bool = True,
) -> StreamingQuery:
    """The full reference loop end-to-end: stream change events ->
    incrementally maintain the QUERYABLE index (go-dcp delivers events,
    the connector ships them, Elasticsearch indexes them; here the sink
    IS the index). Requires ``write_corpus_mirror`` bootstrap.

    Micro-batch body (all idempotent deterministic overwrites, so
    Structured Streaming's at-least-once replay = exactly-once state):
      1. LWW-dedup the batch (A7).
      2. Merge upserts/deletes into the touched ``_corpus`` buckets only
         (dynamic partition overwrite on the key-hash bucket).
      3. ``apply_changes_to_index`` — per ``apply_strategy``: "rebuild"
         (default; exact shard-scoped rebuild), "delta" (O(changed docs)
         segment + tombstones — the Elasticsearch model, where every
         bulk flush becomes tiny new Lucene segments; the right strategy
         for high-frequency micro-batches whose keys scatter), or
         "auto".
    The source offset commits after the batch returns (ack-gated manual
    checkpointing, connector.go:186 + bulk.go:320-332).

    ``auto_fold``: when a delta-strategy apply reports
    ``compact_recommended`` (un-folded segments past the pressure
    threshold), fold them into the base inside the same micro-batch —
    the streaming analogue of Lucene's background segment merges; keeps
    an unbounded stream's tombstone set and segment count bounded.

    Stream schema: key_cols..., action ('index'|'delete'), commit, lang,
    content (null for deletes), ``order_col``.
    """
    from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index

    # fail fast at the CALL SITE: an invalid strategy raising inside
    # foreachBatch would surface asynchronously at the first non-empty
    # micro-batch, after that batch's mirror merge already applied
    if apply_strategy not in ("rebuild", "delta", "auto"):
        raise ValueError(
            f"stream_changes_to_index: unknown apply_strategy {apply_strategy!r}"
        )
    key_cols = list(key_cols)
    corpus_path = f"{index_dir}/_corpus"
    # layout authority: the modulus the mirror was written with wins over
    # the parameter (see write_corpus_mirror)
    try:
        n_buckets = int(
            spark.read.parquet(f"{index_dir}/_corpus_meta").collect()[0]["n_buckets"]
        )
    except Exception:
        pass
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        feed = last_write_wins(batch_df, key_cols, order_col).persist()
        touched_buckets = upsert_corpus_mirror(
            spark, index_dir, feed, key_cols, order_col=order_col,
            n_buckets=n_buckets,
        )
        mirror = spark.read.parquet(corpus_path)
        if apply_strategy == "delta":
            # the delta apply consults the mirror ONLY for this batch's
            # changed keys' content — partition-prune the read to the
            # buckets the merge just touched (O(batch), not O(corpus)).
            # rebuild/auto keep the full mirror: a shard rebuild re-reads
            # every doc of the touched SHARDS, and shard != bucket.
            mirror = mirror.filter(F.col("_bucket").isin(touched_buckets))
        new_corpus = mirror.drop("_bucket")
        result = apply_changes_to_index(
            spark, index_dir, new_corpus,
            feed.select(*key_cols, "action",
                        F.col(order_col).cast("long").alias(order_col)),
            key_cols=key_cols, order_col=order_col,
            strategy=apply_strategy,
        )
        if auto_fold and result.get("compact_recommended"):
            from go_dcp_elasticsearch_spark.index.segments import fold_segments

            fold_segments(spark, index_dir)
        feed.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
