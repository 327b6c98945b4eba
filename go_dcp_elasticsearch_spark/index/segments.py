"""Delta segments + tombstones: O(changed-docs) incremental index writes.

The reference's sink (Elasticsearch/Lucene) absorbs each bulk flush as a
handful of tiny NEW segments plus a tombstone ("liveDocs") set over the
old ones, and folds them into bigger segments later — that segment model
is the contract behind its sustained CDC rate (continuous bulk.go flushes,
README.md:29-31; an update is delete-by-id + add-with-new-docid, never an
in-place rewrite). This module is the Spark-native analogue for our
parquet index layout:

  {index}/delta/postings/seg=K/   POSTINGS_SCHEMA rows for segment K —
                                  the changed docs' postings only, same
                                  block encoding as the base.
  {index}/delta/docs/seg=K/       docs-table rows for segment K plus an
                                  ``_alive`` flag: alive rows are the
                                  changed docs' new forward entries (with
                                  NEW doc_ids — the Lucene update model);
                                  dead rows are tombstones carrying the
                                  superseded/deleted doc_id.

Readers merge base + segments and drop tombstoned doc_ids:

- ``read_docs`` is the live forward-store view (base ∪ alive-delta,
  anti-join tombstones).
- ``BM25Query`` unions base posting blocks (seg = -1) with segment blocks
  and filters tombstoned ids inside the score kernels.

Statistics semantics (documented trade, identical to Lucene/ES):
``n_docs``/``avgdl`` stay EXACT across delta applies (tombstoned docs'
doc_len is known from the docs table and subtracted from the stats
partials); per-term ``df`` is exact for INSERTED docs (their postings are
in the segment) but still counts dead docs' contributions until
compaction — Lucene likewise keeps deleted docs in docFreq until segment
merge, and Elasticsearch inherits that. ``fold_segments`` (run by
``compact_index`` and by rebuild-mode applies that find pending segments)
restores fully exact statistics: it decodes only the base/segment blocks
that actually contain a tombstoned id, drops those ids, merges segment
blocks into the base partitions, and re-derives the touched shards'
dictionary/stats partials.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.types import IntegerType, StructField, StructType

from go_dcp_elasticsearch_spark.index.builder import (
    POSTINGS_SCHEMA,
    IndexPaths,
    read_index_meta,
)

# seg value used for base posting blocks when unioned with segment blocks
# (segment ids are >= 0; kernels key decode caches by (term, seg, block_id))
BASE_SEG = -1

# segment postings as read back: the block columns plus the ``seg=K``
# partition column. Reads pass it so Spark runs no footer-inference job.
DELTA_POSTINGS_SCHEMA = StructType(
    POSTINGS_SCHEMA.fields + [StructField("seg", IntegerType(), False)]
)

# test-only fault injection for the fold commit protocol: set to one of
# "after_stage" / "after_marker" / "mid_commit" / "before_cleanup" /
# "mid_cleanup" to kill the fold at that point (see fold_segments)
FOLD_CRASHPOINT: str | None = None


class InjectedFoldCrash(RuntimeError):
    """Raised by the fold's fault-injection hook (tests only)."""


def _crash(point: str) -> None:
    if FOLD_CRASHPOINT == point:
        raise InjectedFoldCrash(point)


def _fold_root(paths: IndexPaths) -> str:
    return f"{paths.delta_root}/_fold"


def _fold_marker(paths: IndexPaths) -> str:
    return f"{_fold_root(paths)}/COMMIT.json"


# Single-committer guard for the fold commit (the Lucene write.lock
# analogue): _commit_fold's per-shard delete+rename moves are idempotent
# under CRASH-and-rerun but NOT safe under two live committers (one can
# delete a base shard dir the other just renamed into place). The lock
# file is created atomically (create-exclusive) before the COMMIT marker
# and removed with the stage on success, on structured failure, or —
# after a hard kill — stolen once it is older than this TTL. Heartbeats
# between commit phases keep a live slow committer's lock fresh. Like
# Lucene's lock factory this is best-effort mutual exclusion on a
# filesystem: a committer stalled beyond the TTL mid-phase can still be
# raced, which is the documented operational bound, not a silent default.
FOLD_LOCK_TTL_SEC = 300.0


def _fold_lock(paths: IndexPaths) -> str:
    return f"{_fold_root(paths)}/LOCK"


def _acquire_fold_lock(spark, paths: IndexPaths) -> bool:
    import time

    from go_dcp_elasticsearch_spark.fsutil import (
        create_exclusive,
        delete_dir,
        file_mtime,
    )

    lock = _fold_lock(paths)
    stamp = json.dumps({"ts": time.time()})
    if create_exclusive(spark, lock, stamp):
        return True
    mt = file_mtime(spark, lock)
    if mt is not None and (time.time() - mt) < FOLD_LOCK_TTL_SEC:
        return False  # a live committer (or one dead < TTL) holds it
    delete_dir(spark, lock)  # stale: holder died without releasing
    return create_exclusive(spark, lock, stamp)


def _release_fold_lock(spark, paths: IndexPaths) -> None:
    from go_dcp_elasticsearch_spark.fsutil import delete_dir

    delete_dir(spark, _fold_lock(paths))


def ensure_no_pending_fold(spark, paths: IndexPaths, op: str) -> None:
    """Writer-path guard: raise when a fold COMMIT marker survives a
    recover_pending_fold call — i.e. another live session holds the
    commit lock. A writer proceeding anyway would mutate the delta area
    mid-commit (e.g. write a segment that the committer's cleanup then
    deletes wholesale). Readers don't need this: they just observe the
    in-flight state."""
    from go_dcp_elasticsearch_spark.fsutil import exists

    if exists(spark, _fold_marker(paths)):
        raise RuntimeError(
            f"{op}: a fold commit is in progress in another session "
            f"(commit lock held); retry once it completes"
        )


def _heartbeat_fold_lock(spark, paths: IndexPaths) -> None:
    import time

    from go_dcp_elasticsearch_spark.fsutil import write_file

    try:
        write_file(
            spark, _fold_lock(paths), json.dumps({"ts": time.time()}),
            overwrite=True,
        )
    except Exception:  # noqa: BLE001 — heartbeat is best-effort
        pass


def _list_segments_raw(spark, paths: IndexPaths) -> list[int]:
    """Directory listing of ``delta/docs`` WITHOUT the pending-fold
    recovery check — used by the fold commit itself."""
    from go_dcp_elasticsearch_spark.fsutil import hadoop_fs

    fs, p = hadoop_fs(spark, paths.delta_docs)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("seg="):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def recover_pending_fold(spark, paths: IndexPaths) -> dict | None:
    """Complete a fold whose process died after the COMMIT marker was
    written (the Lucene segments_N model: once the generation file is
    durable, the merge is committed and recovery finishes the file moves;
    before it, the staged output is garbage and the pre-fold state is
    authoritative). Idempotent under crash-and-rerun — every reader
    entry point calls this, so a half-committed fold can never STAY
    double-exposed. Recovery only runs under the fold commit LOCK: if
    another session holds it (a live committer, or one dead for less
    than FOLD_LOCK_TTL_SEC), this call returns None WITHOUT mutating
    anything — two concurrent _commit_fold runs could otherwise delete a
    base shard the other just renamed into place. A reader that skips
    recovery reads the in-flight state (transient, bounded by the TTL).
    Returns the fold summary when recovery ran, else None."""
    from go_dcp_elasticsearch_spark.fsutil import exists

    if not exists(spark, _fold_marker(paths)):
        return None
    if not _acquire_fold_lock(spark, paths):
        return None
    try:
        if not exists(spark, _fold_marker(paths)):
            # the lock holder finished between our two checks
            _release_fold_lock(spark, paths)
            return None
        return _commit_fold(spark, paths)
    except BaseException:
        # structured failure (incl. injected test crashes): release so
        # the next entrant retries immediately; a hard kill leaves the
        # lock to the TTL steal
        _release_fold_lock(spark, paths)
        raise


def list_segments(spark, paths: IndexPaths) -> list[int]:
    """Sorted segment ids present under the delta area (directory listing
    of ``delta/docs`` — every apply writes the docs part, postings may be
    legitimately empty for a delete-only or token-less delta). Completes
    any pending fold commit first (see recover_pending_fold), so readers
    never observe the crashed half of a fold."""
    recover_pending_fold(spark, paths)
    return _list_segments_raw(spark, paths)


def has_segments(spark, paths: IndexPaths) -> bool:
    return bool(list_segments(spark, paths))


def next_segment_id(spark, paths: IndexPaths) -> int:
    segs = list_segments(spark, paths)
    return (segs[-1] + 1) if segs else 0


def read_delta_docs(spark, paths: IndexPaths) -> DataFrame | None:
    """All segment docs rows (alive + tombstones), with the ``seg``
    partition column. None when no segments exist."""
    if not has_segments(spark, paths):
        return None
    return spark.read.parquet(paths.delta_docs)


def read_docs(
    spark, index_dir: str | IndexPaths, segs: list[int] | None = None
) -> DataFrame:
    """The LIVE forward-store view: base docs ∪ alive segment rows, minus
    tombstoned doc_ids. Identical to ``read.parquet({index}/docs)`` when
    no segments are pending — every docs consumer (metadata joins,
    with_meta, verify) reads this so delta applies are immediately
    visible. Doc_ids are never reused, so the anti-join on doc_id alone
    is sufficient (an id dies at most once).

    ``segs``: pin the view to an explicit committed-segment snapshot
    (the list a BM25Query handle captured at refresh) instead of the
    current directory listing — a fold/apply committing between a top-k
    job and a metadata join then cannot change which rows this view
    yields (pass ``[]`` for a no-segments snapshot)."""
    paths = index_dir if isinstance(index_dir, IndexPaths) else IndexPaths(index_dir)
    # complete any marker-committed fold BEFORE listing base files — the
    # recovery renames base partition dirs, and a scan built from the
    # pre-recovery listing would hit FileNotFound mid-job
    recover_pending_fold(spark, paths)
    base = spark.read.parquet(paths.docs)
    if segs is None:
        delta = read_delta_docs(spark, paths)
    elif not segs:
        delta = None
    else:
        delta = read_delta_docs(spark, paths)
        if delta is not None:
            delta = delta.filter(F.col("seg").isin([int(s) for s in segs]))
    if delta is None:
        return base
    alive = delta.filter(F.col("_alive")).select(*base.columns)
    tombs = delta.filter(~F.col("_alive")).select("doc_id")
    return base.unionByName(alive).join(tombs, "doc_id", "left_anti")


def read_tombstones(spark, paths: IndexPaths) -> DataFrame | None:
    """(doc_id, shard) of every tombstoned doc across segments (None when
    no segments)."""
    delta = read_delta_docs(spark, paths)
    if delta is None:
        return None
    return delta.filter(~F.col("_alive")).select("doc_id", "shard")


def tombstone_ids(spark, paths: IndexPaths) -> np.ndarray:
    """Sorted int64 array of all tombstoned doc_ids — collected driver-
    side once per index epoch by BM25Query.refresh, which ships it to the
    score kernels as a Spark BROADCAST (one copy per executor per epoch,
    not one per task per query). Bounded HARD by the compaction policy:
    fold_segments clears it, and apply_changes_to_index force-folds once
    the delta area reaches ``COMPACT_FORCE_FRACTION`` of the corpus or
    ``MAX_PENDING_TOMBSTONES`` ids (the earlier RECOMMEND fraction stays
    advisory for streaming's auto_fold)."""
    tombs = read_tombstones(spark, paths)
    if tombs is None:
        return np.empty(0, dtype=np.int64)
    # Arrow transfer + numpy sort: at the 8M-id hard cap the row-based
    # collect pickled one Row per tombstone through py4j (r7)
    arr = tombs.select("doc_id").toPandas()["doc_id"].to_numpy()
    return np.sort(arr.astype(np.int64))


def read_delta_postings(
    spark, paths: IndexPaths, segs: list[int] | None = None
) -> DataFrame | None:
    """Segment posting blocks, restricted to COMMITTED segments (those
    whose docs dir exists — the commit point). An orphan postings dir
    left by a crash between the two segment writes is thereby invisible:
    its seg id is absent from the docs listing, and the ``seg``-partition
    ``isin`` filter prunes the directory. None when nothing committed."""
    if segs is None:
        segs = list_segments(spark, paths)
    else:
        recover_pending_fold(spark, paths)
    if not segs:
        return None
    from go_dcp_elasticsearch_spark.fsutil import exists

    if not exists(spark, paths.delta_postings):
        return None
    return (
        spark.read.schema(DELTA_POSTINGS_SCHEMA).parquet(paths.delta_postings)
        .filter(F.col("seg").isin([int(s) for s in segs]))
        .select(*DELTA_POSTINGS_SCHEMA.fieldNames())
    )


def delta_df_frame(
    spark, paths: IndexPaths, segs: list[int] | None = None
) -> DataFrame | None:
    """(term, df) contributions of the committed segments, derived from
    the segment postings blocks (sum of block ``count``). Folded into the
    global dictionary projection by BM25Query._global_df_frame — exact
    for inserted docs; dead docs' df remains counted in the BASE
    dictionary until fold_segments (the Lucene docFreq semantics)."""
    delta = read_delta_postings(spark, paths, segs)
    if delta is None:
        return None
    return delta.groupBy("term").agg(F.sum("count").alias("df"))


def resolve_tomb(tomb):
    """ndarray | pyspark Broadcast | None -> ndarray | None. Score
    kernels accept the tombstone set either as a plain array (tests,
    fold) or as a Broadcast (BM25Query ships it once per executor per
    epoch instead of once per task per query)."""
    if tomb is None:
        return None
    return getattr(tomb, "value", tomb)


def drop_tombstoned(uniq: np.ndarray, tomb: np.ndarray) -> np.ndarray:
    """Boolean keep-mask over sorted-unique ``uniq`` ids: False where the
    id is tombstoned. Vectorized sorted-membership (searchsorted), no
    Python loop."""
    if len(tomb) == 0:
        return np.ones(len(uniq), dtype=bool)
    pos = np.searchsorted(tomb, uniq)
    hit = (pos < len(tomb)) & (tomb[np.minimum(pos, len(tomb) - 1)] == uniq)
    return ~hit


def fold_segments(spark, index_dir: str) -> dict:
    """Fold pending delta segments into the base layout (the Lucene
    segment merge): for every DIRTY shard (one holding a tombstoned doc
    or segment rows), drop tombstoned doc_ids from its posting blocks
    (decoding ONLY blocks whose id range contains a tombstone), append
    the segment blocks, renumber block_ids per (term, shard), rewrite the
    shard's docs partition from the live view, and re-derive its
    dictionary/stats partials. Untouched shards are never read or
    written. After the fold all statistics are exact again.

    Crash contract (the Lucene segments_N generation-commit model the
    reference's sink relies on): the folded output is STAGED under
    ``delta/_fold/{docs,postings}`` while the base and the segments are
    untouched — a crash there leaves the pre-fold state authoritative
    and the stale stage is cleared on the next fold. The fsync'd
    ``delta/_fold/COMMIT.json`` marker is the single commit point; from
    then on ``_commit_fold`` (re-run idempotently by every reader entry
    point via recover_pending_fold, serialized by the commit LOCK — see
    FOLD_LOCK_TTL_SEC) moves the staged partitions into the base with
    per-shard delete+rename and clears the delta area LAST — so a kill
    at ANY point either never exposes the fold or completes it, and
    segment postings can never appear both in the base and in a
    still-listed segment (the double-count hazard of a delete-after-
    overwrite ordering without a commit record). At most one committer
    runs at a time: concurrent readers return without mutating, and
    concurrent WRITERS abort loudly (ensure_no_pending_fold).

    Returns {"n_segments", "dirty_shards", "n_tombstones"}; no-op dict
    when no segments are pending. Called by compact_index before its
    merge/split phases and by rebuild-mode apply_changes_to_index.
    """
    import json

    from go_dcp_elasticsearch_spark.functions.codec import (
        BLOCK_SIZE,
        encode_blocks_bulk,
        varbyte_decode,
    )
    from go_dcp_elasticsearch_spark.fsutil import (
        delete_dir,
        exists,
        rename,
        write_file,
    )

    read_index_meta(spark, index_dir)  # format gate, before any write
    paths = IndexPaths(index_dir)
    # completes a previously crashed fold commit, if any (via recovery);
    # if recovery was SKIPPED because another live session holds the
    # commit lock, abort — clearing the stage below would destroy that
    # committer's marker and staged output mid-commit
    segs = list_segments(spark, paths)
    ensure_no_pending_fold(spark, paths, "fold_segments")
    if not segs:
        return {"n_segments": 0, "dirty_shards": [], "n_tombstones": 0}
    # a stage left by a fold that died BEFORE its commit marker is
    # garbage (the marker is the commit point) — clear it
    delete_dir(spark, _fold_root(paths))

    delta = spark.read.parquet(paths.delta_docs)
    # tombstones per shard, collected once driver-side (bounded by the
    # un-compacted delta) and shipped to the fold kernel as a BROADCAST —
    # a closure capture would re-serialize the arrays into every task
    tomb_rows = delta.filter(~F.col("_alive")).select("doc_id", "shard").collect()
    tomb_by_shard: dict[int, list[int]] = {}
    for r in tomb_rows:
        tomb_by_shard.setdefault(int(r["shard"]), []).append(int(r["doc_id"]))
    tomb_arrays = {
        s: np.array(sorted(ids), dtype=np.int64) for s, ids in tomb_by_shard.items()
    }
    tomb_bc = spark.sparkContext.broadcast(tomb_arrays)

    seg_shards = {
        int(r["shard"])
        for r in delta.select("shard").distinct().collect()
    }
    dirty = sorted(seg_shards)  # tombstone shards ⊆ delta docs shards

    # ---- docs fold: stage dirty shards' partitions from the live view.
    # All reads in the stage phase hit the UNTOUCHED base, so no persist/
    # materialize dance is needed (the old in-place fold had to cache
    # before overwriting its own input).
    live = read_docs(spark, paths)
    base_cols = [f.name for f in spark.read.parquet(paths.docs).schema.fields]
    new_docs = live.filter(F.col("shard").isin(dirty)).select(*base_cols)

    # ---- postings fold kernel: per block, decode only if its id range
    # overlaps the shard's tombstone set; segment blocks are treated
    # uniformly with base blocks (a doc inserted by seg J and updated by
    # seg K > J has its dead postings in SEG J, not in the base).
    base_blocks = (
        spark.read.parquet(paths.postings)
        .filter(F.col("shard").isin(dirty))
        .withColumn("seg", F.lit(BASE_SEG))
    )
    # committed segments only: an orphan postings dir (crash between the
    # two segment writes) has ids that never entered the docs table and
    # must not be folded into the base — delete_dir(delta_root) below
    # clears the orphan bytes
    seg_blocks = read_delta_postings(spark, paths, segs)
    blocks = (
        base_blocks if seg_blocks is None else base_blocks.unionByName(seg_blocks)
    )

    pcols = [f.name for f in POSTINGS_SCHEMA.fields] + ["_seg_ord"]
    out_schema = (
        "term string, shard int, block_id int, ids_vb binary, tfs_vb binary, "
        "dls_vb binary, count int, max_doc_id long, max_tf long, tf_sum long, "
        "min_dl long, _seg_ord int"
    )

    def fold_kernel(iterator):
        from go_dcp_elasticsearch_spark.sources.changes import _first_varint

        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({c: [] for c in pcols})
                continue
            # vectorized tombstone-overlap screen (r7): the overwhelmingly
            # common row is "no tombstone in this block's id range" — a
            # metadata move. The old per-row itertuples walk materialized
            # every row (including its posting bytes) into Python objects
            # and rebuilt them via 11 list appends; here only the overlap
            # DECISION touches Python per row (one first-varint parse),
            # the searchsorted screen runs per shard GROUP, and
            # pass-through rows move as whole DataFrame slices. Output
            # rows and their ORDER are identical to the per-row walk.
            shards_a = pdf["shard"].to_numpy()
            max_ids = pdf["max_doc_id"].to_numpy()
            vbs = pdf["ids_vb"].to_numpy()
            needs = np.zeros(n, dtype=bool)
            tombs = tomb_bc.value
            for sh in np.unique(shards_a):
                tomb = tombs.get(int(sh))
                if tomb is None or len(tomb) == 0:
                    continue
                idx = np.nonzero(shards_a == sh)[0]
                first_ids = np.fromiter(
                    (_first_varint(bytes(vbs[i])) for i in idx),
                    dtype=np.int64, count=len(idx),
                )
                lo = np.searchsorted(tomb, first_ids)
                hi = np.searchsorted(tomb, max_ids[idx], side="right")
                needs[idx[lo < hi]] = True

            def passthrough(s):
                return pd.DataFrame({
                    **{c: s[c].to_numpy() for c in pcols if c != "_seg_ord"},
                    "_seg_ord": s["seg"].to_numpy(),
                })

            if not needs.any():
                yield passthrough(pdf)
                continue

            # ONE mask slice for the pass-through rows + a Python walk
            # over only the (rare) overlap rows. Intra-batch row order is
            # not load-bearing: the renumber exchange sorts by (shard,
            # term, _seg_ord, block_id) before assigning new block ids —
            # the same total order the per-row walk relied on.
            pieces = [passthrough(pdf[~needs])]
            out = {c: [] for c in pcols}

            def emit(term, shard, ids_vb, tfs_vb, dls_vb, cnt, max_id,
                     max_tf, tf_sum, min_dl, seg_ord, blk):
                out["term"].append(term)
                out["shard"].append(shard)
                out["block_id"].append(blk)
                out["ids_vb"].append(ids_vb)
                out["tfs_vb"].append(tfs_vb)
                out["dls_vb"].append(dls_vb)
                out["count"].append(cnt)
                out["max_doc_id"].append(max_id)
                out["max_tf"].append(max_tf)
                out["tf_sum"].append(tf_sum)
                out["min_dl"].append(min_dl)
                out["_seg_ord"].append(seg_ord)

            for row in pdf[needs].itertuples(index=False):
                sh = int(row.shard)
                tomb = tombs[sh]
                seg_ord = int(row.seg)
                gaps = varbyte_decode(bytes(row.ids_vb))
                ids = np.cumsum(gaps, dtype=np.uint64).astype(np.int64)
                keep = drop_tombstoned(ids, tomb)
                if keep.all():
                    emit(row.term, sh, row.ids_vb, row.tfs_vb, row.dls_vb,
                         int(row.count), int(row.max_doc_id), int(row.max_tf),
                         int(row.tf_sum), int(row.min_dl), seg_ord,
                         int(row.block_id))
                elif keep.any():
                    tfs = varbyte_decode(bytes(row.tfs_vb)).astype(np.int64)
                    dls = varbyte_decode(bytes(row.dls_vb)).astype(np.int64)
                    ids_k, tfs_k, dls_k = ids[keep], tfs[keep], dls[keep]
                    for j, (ids_vb, tfs_vb, dls_vb, cnt, max_id, max_tf,
                            tf_sum) in enumerate(
                        encode_blocks_bulk(ids_k, tfs_k, dls_k)
                    ):
                        start = j * BLOCK_SIZE
                        emit(row.term, sh, ids_vb, tfs_vb, dls_vb, cnt,
                             max_id, max_tf, tf_sum,
                             int(dls_k[start : start + cnt].min()), seg_ord,
                             int(row.block_id))
                # else: block entirely dead — emit nothing
            if out["term"]:
                pieces.append(pd.DataFrame(out))
            yield pd.concat(pieces, ignore_index=True)

    provisional = blocks.mapInPandas(fold_kernel, schema=out_schema)
    n_out = max(len(dirty), 1)

    # block_id renumbering FUSED into the (salted) shard exchange (r7):
    # the old shape ran a row_number window partitioned by (term, shard)
    # — one full shuffle+sort of every folded block — and then a SECOND
    # shuffle to the shard layout for the write. One perfect-partitioner
    # exchange (each dirty shard its own task), a partition-local sort,
    # and a vectorized renumber kernel produce the identical rows and
    # file order with half the shuffles.
    from go_dcp_elasticsearch_spark.functions.hashing import label_salt_expr

    def renumber(iterator):
        pdfs = list(iterator)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if not len(pdf):
            return
        # rows arrive sorted by (shard, term, _seg_ord, block_id):
        # sequential index within each (shard, term) group is the new
        # block_id — exactly the window's row_number ordering
        shards_a = pdf["shard"].to_numpy()
        terms_a = pdf["term"].to_numpy()
        n = len(pdf)
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = (terms_a[1:] != terms_a[:-1]) | (shards_a[1:] != shards_a[:-1])
        gstarts = np.nonzero(change)[0]
        glens = np.diff(np.append(gstarts, n))
        pdf = pdf.drop(columns=["_seg_ord"]).copy()
        pdf["block_id"] = (
            np.arange(n, dtype=np.int64) - np.repeat(gstarts, glens)
        ).astype(np.int32)
        yield pdf[[f.name for f in POSTINGS_SCHEMA.fields]]

    new_postings = (
        provisional.repartition(n_out, label_salt_expr(dirty))
        .sortWithinPartitions("shard", "term", "_seg_ord", "block_id")
        .mapInPandas(
            renumber,
            schema="term string, shard int, block_id int, ids_vb binary, "
                   "tfs_vb binary, dls_vb binary, count int, max_doc_id long, "
                   "max_tf long, tf_sum long, min_dl long",
        )
    )

    # ---- STAGE: write the folded output beside the base (base and
    # segments untouched — a crash anywhere in here leaves the pre-fold
    # state authoritative and the stage is garbage-collected next fold)
    stage = _fold_root(paths)
    new_docs.repartition(n_out, F.col("shard")).write.mode(
        "overwrite"
    ).partitionBy("shard").parquet(f"{stage}/docs")
    new_postings.write.mode("overwrite").partitionBy("shard").parquet(
        f"{stage}/postings"
    )
    tomb_bc.unpersist()
    docs_live = _list_shard_dirs(spark, f"{stage}/docs")
    postings_live = _list_shard_dirs(spark, f"{stage}/postings")
    _crash("after_stage")

    # ---- COMMIT POINT: the fsync'd marker makes the fold durable (the
    # segments_N generation file). Written via tmp+rename so a crash
    # mid-write can never leave a half-parseable marker.
    marker = {
        "segs": [int(s) for s in segs],
        "dirty": [int(s) for s in dirty],
        "docs_live": sorted(int(s) for s in docs_live),
        "postings_live": sorted(int(s) for s in postings_live),
        "n_tombstones": len(tomb_rows),
    }
    # the commit lock precedes the marker (lock lifetime covers marker
    # lifetime): readers act on the marker only, so the lock is never
    # contended before this point — failure here means a concurrent
    # fold_segments call, which is caller misuse, not a race to recover
    if not _acquire_fold_lock(spark, paths):
        raise RuntimeError(
            "fold_segments: another fold commit holds the lock"
        )
    try:
        tmp = _fold_marker(paths) + ".tmp"
        write_file(spark, tmp, json.dumps(marker), overwrite=True)
        if not rename(spark, tmp, _fold_marker(paths)):
            raise RuntimeError(f"fold_segments: could not commit marker {tmp}")
        _crash("after_marker")

        return _commit_fold(spark, paths)
    except BaseException:
        _release_fold_lock(spark, paths)
        raise


def _list_shard_dirs(spark, path: str) -> set[int]:
    """shard labels present as ``shard=N`` partition dirs under path."""
    from go_dcp_elasticsearch_spark.fsutil import hadoop_fs

    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return set()
    out = set()
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("shard="):
            out.add(int(name.split("=", 1)[1]))
    return out


def _commit_fold(spark, paths: IndexPaths) -> dict:
    """Second half of the fold commit protocol — IDEMPOTENT, re-runnable
    from the durable COMMIT marker after a crash at any point:

      1. per dirty shard: delete the base ``shard=N`` dir and RENAME the
         staged dir into place (a shard that folded to zero rows has no
         staged dir and its base dir is just deleted; a shard whose
         staged dir is already gone was moved by a previous run — skip);
      2. re-derive the dirty shards' dictionary/stats partials from the
         now-final base (pure recompute — idempotent);
      3. clear the delta area in READER-SAFE order: segment docs and
         postings first (readers discover segments by the docs listing),
         the marker + stage LAST — so a crash mid-cleanup can only leave
         the marker, which re-runs this function, never a state where
         folded postings are also still listed as segments;
      4. lineage commit (bumps the query epoch).
    """
    import json

    from go_dcp_elasticsearch_spark.fsutil import (
        delete_dir,
        exists,
        read_file,
        rename,
    )
    from go_dcp_elasticsearch_spark.index.builder import (
        IndexBuilder,
        read_stats_partials,
        write_stats_tables,
    )
    from go_dcp_elasticsearch_spark.sources.changes import (
        _delete_shard_partitions,
        _rewrite_dictionary_partials,
    )

    m = json.loads(read_file(spark, _fold_marker(paths)))
    dirty = [int(s) for s in m["dirty"]]
    docs_live = {int(s) for s in m["docs_live"]}
    postings_live = {int(s) for s in m["postings_live"]}
    stage = _fold_root(paths)

    first = True
    for area, base_root, live in (
        ("docs", paths.docs, docs_live),
        ("postings", paths.postings, postings_live),
    ):
        for s in dirty:
            stage_dir = f"{stage}/{area}/shard={s}"
            base_dir = f"{base_root}/shard={s}"
            if s not in live:
                # folded to zero rows: the base dir must go (idempotent)
                delete_dir(spark, base_dir)
            elif exists(spark, stage_dir):
                delete_dir(spark, base_dir)
                if not rename(spark, stage_dir, base_dir):
                    raise RuntimeError(
                        f"fold commit: rename {stage_dir} -> {base_dir} failed"
                    )
            # else: already moved by a previous (crashed) commit run
            if first:
                first = False
                _crash("mid_commit")
    spark.catalog.refreshByPath(paths.docs)
    spark.catalog.refreshByPath(paths.postings)
    _heartbeat_fold_lock(spark, paths)

    # partials — pure recompute from the final base, partition-pruned to
    # the dirty shards (exact from here on)
    emptied_dict = set(dirty) - postings_live
    _delete_shard_partitions(spark, paths.dictionary, emptied_dict)
    _rewrite_dictionary_partials(
        spark, _PathsShim(paths, max(len(dirty), 1)), postings_live
    )
    partials = read_stats_partials(spark, paths)
    if docs_live:
        stat_rows = (
            spark.read.parquet(paths.docs)
            .filter(F.col("shard").isin(sorted(docs_live)))
            .groupBy("shard")
            .agg(F.count("*").alias("n_docs"), F.sum("doc_len").alias("sum_dl"))
            .collect()
        )
        for r in stat_rows:
            partials[int(r["shard"])] = (int(r["n_docs"]), int(r["sum_dl"]))
    for s in set(dirty) - docs_live:
        partials.pop(int(s), None)
    write_stats_tables(spark, paths, partials)
    _heartbeat_fold_lock(spark, paths)
    _crash("before_cleanup")

    # ordered cleanup: segments first, marker last (see docstring)
    delete_dir(spark, paths.delta_docs)
    delete_dir(spark, paths.delta_postings)
    _crash("mid_cleanup")
    delete_dir(spark, stage)
    delete_dir(spark, paths.delta_root)

    b = IndexBuilder(spark, str(paths.root), n_shards=max(len(dirty), 1))
    pre_count = b.lineage.record_count()
    b.lineage.commit("fold", -1, int(m["n_tombstones"]))
    # the fold leaves the live key -> (doc_id, shard, doc_len) view
    # untouched, so a valid keymap carries across it (epoch bump only)
    from go_dcp_elasticsearch_spark.index import keymap as km_mod

    km_mod.bump_epoch(spark, paths, pre_count, b.lineage.record_count())
    return {
        "n_segments": len(m["segs"]),
        "dirty_shards": dirty,
        "n_tombstones": int(m["n_tombstones"]),
    }


class _PathsShim:
    """Minimal builder-shaped object for _rewrite_dictionary_partials
    (which wants ``.paths`` and ``.n_shards``)."""

    def __init__(self, paths: IndexPaths, n_shards: int):
        self.paths = paths
        self.n_shards = n_shards
