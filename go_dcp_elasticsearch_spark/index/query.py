"""BM25 top-k retrieval over the sharded compressed index (SURVEY.md B9/B10).

Every query is a ``ClauseSpec`` (the ES ``bool`` shape: a match query is
``should`` or ``must`` alone) served by one of two physical strategies,
with bitwise-identical scores:

1. ``topk_exact`` — declarative DataFrame path (_exact_scored_bool): decode
   candidate posting blocks (Arrow UDF), score with JVM expressions, global
   ``orderBy(score desc, doc_id).limit(k)`` (Spark executes TakeOrdered —
   per-partition heaps + driver merge, no full sort). This path is the one
   mirrored 1:1 by the DuckDB oracle SQL.

2. ``topk_pruned`` — shard-parallel block-max two-phase pruning (the
   MaxScore/Block-Max-WAND family): per shard, compute per-doc score UPPER
   bounds from block-max metadata WITHOUT decoding tf payloads (doc-id
   membership via decoded id streams; ub = sum over terms of
   idf * bound(max_tf, min_dl, avgdl) of the containing block, the bound
   evaluated at query time under the current avgdl); exact-score the top-k
   docs by UB to obtain a valid threshold lambda <= true kth score; fully
   score only docs with UB >= lambda. Sound (candidate set provably
   contains the true top-k) and exact. Each shard returns a local top-k;
   the global answer is the merge of n_shards * k rows — the Elasticsearch
   shard-fan-in model the reference relies on implicitly. One kernel
   (_make_spec_kernel) serves topk_pruned, topk_bool and topk_batch,
   over one of three routes (see _spec_topk): inputs of at most
   DRIVER_MAX_POSTINGS candidate postings run it on the driver — with no
   Spark job when the index's postings are resident on the driver
   (RESIDENT_MAX_BYTES), else after one scan job — and larger ones run it
   distributed, one Python task per shard.

Scale notes: query terms + dictionary rows + stats are O(query) and
broadcast; the only large read is the postings scan, pruned by a
``term IN (...)`` predicate pushed into Parquet row-group stats (postings
are written sorted by term within each shard partition). A resident index
is keyed on its postings file listing: a refresh whose listing is
unchanged keeps the blocks, and any change (a new delta segment, the shard
files a fold or rebuild rewrote) re-reads every listed file in one job.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from go_dcp_elasticsearch_spark.functions.bm25 import B, K1, idf as idf_py
from go_dcp_elasticsearch_spark.functions.codec import varbyte_decode
from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py
from go_dcp_elasticsearch_spark.index.builder import IndexPaths

TOPK_SCHEMA = StructType(
    [
        StructField("query_id", LongType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("tf", LongType(), False),
        StructField("dl", LongType(), False),
    ]
)

# the postings columns the shard kernel reads
_BLOCK_COLS = ("shard", "term", "seg", "block_id", "ids_vb", "tfs_vb",
               "dls_vb", "max_tf", "min_dl")

# result schemas: a query's hits, and a batch's hits keyed by query_id
_HITS = "doc_id long, score double"
_QUERY_HITS = "query_id long, doc_id long, score double"


@dataclass(frozen=True)
class ClauseSpec:
    """One query in the ES ``bool`` shape, over analyzed terms: ``must``
    and ``should`` terms score; a doc needs every ``must`` and every
    ``filter`` term, at least one term of each ``terms`` group, at least
    ``msm`` distinct ``should`` terms and no ``must_not`` term. ``after``
    is the search_after cursor (score, doc_id). A disjunctive query is
    ``should`` alone, a conjunctive one ``must`` alone."""

    must: tuple = ()
    should: tuple = ()
    filter: tuple = ()
    must_not: tuple = ()
    terms: tuple = ()
    msm: int = 0
    after: tuple | None = None

    def all_terms(self) -> set[str]:
        return {*self.must, *self.should, *self.filter, *self.must_not,
                *(t for grp in self.terms for t in grp)}


class BM25Query:
    """Query handle over one index LAYOUT: n_docs/avgdl/shard salts and
    the (term, df) dictionary projection are snapshotted per epoch — and,
    for an index of at most RESIDENT_MAX_BYTES of postings, the postings
    blocks themselves, so a small pruned query runs no Spark job.

    Staleness is handled automatically: every index mutation (build stage,
    ``apply_changes_to_index``, ``compact_index``) commits a lineage
    record, so the lineage record count is a monotonic INDEX EPOCH; each
    query does one cheap directory listing and calls :meth:`refresh`
    itself when the epoch moved — a held handle cannot serve stale
    idf/stats or hit FileNotFound on overwritten parquet across COMPLETED
    maintenance operations (Elasticsearch likewise serves always-fresh
    results after every bulk, bulk.go:284-318 -> searchable on refresh).
    This is freshness, not isolation: the epoch bumps only when a
    maintenance commit lands, so a query racing an IN-FLIGHT apply or
    compact from another session can still observe partially-overwritten
    parquet — single-writer-at-a-time is the supported maintenance model.
    Manual :meth:`refresh` remains available for callers that mutate the
    index out of band."""

    # above this many distinct terms the global (term -> df) map stays in
    # executor memory (persisted DataFrame, filter+collect per query)
    # instead of a driver-side dict — bounds driver memory for huge
    # vocabularies while keeping the common case at ZERO dictionary jobs
    # per warm query (~2M terms ~= 150 MB of dict, well under driver heap)
    DRIVER_DICT_MAX_TERMS = 2_000_000
    # a pruned query (or batch) whose candidate postings — the sum over its
    # specs of their terms' df, read from the driver dict — number at most
    # this many runs its shard kernel on the DRIVER (see _spec_topk): from
    # the resident blocks with no Spark job, else after one scan-only job.
    # At 2-5 us per posting the kernel then costs at most ~0.3 s, below the
    # fixed cost of the shard shuffle + Python stage alone (~0.4 s), so the
    # driver route cannot lose; bigger inputs keep the shard-parallel plan
    DRIVER_MAX_POSTINGS = 100_000
    # an index whose committed postings files (base shards + pinned delta
    # segments) total at most this many bytes on disk keeps their blocks
    # on the driver per epoch (see _load_resident); a larger index keeps
    # the scan-job and distributed routes. The cap is where the resident
    # load stops paying for itself. Measured on 4-CPU local[4], synthetic
    # code indexes, 4 shards, resident vs dictionary route: at 4.05 MiB of
    # postings (just over the cap) the blocks take 21 MB as pandas (5.3x;
    # driver RSS +47 MB vs +15 MB), a warm open 0.81 vs 0.70 s, a refresh
    # after a delta apply 1.03-1.10 vs 1.29-1.42 s, a small query 0.045 s
    # at 0 jobs vs 0.185 s at 1; at 13 MiB the RSS is +147 vs +22 MB, a
    # warm open 1.33 vs 1.18 s and a refresh 1.57-2.30 vs 1.58-2.08 s, so
    # the load no longer pays for itself on refresh
    RESIDENT_MAX_BYTES = 4 << 20

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        driver_dict_max_terms: int | None = None,
    ):
        from go_dcp_elasticsearch_spark.index.builder import read_index_meta
        from go_dcp_elasticsearch_spark.plans.lineage import LineageLog

        read_index_meta(spark, index_dir)  # format gate
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        self._lineage_log = LineageLog(spark, self.paths.lineage)
        self.driver_dict_max_terms = (
            self.DRIVER_DICT_MAX_TERMS
            if driver_dict_max_terms is None
            else int(driver_dict_max_terms)
        )
        self._resident = None
        self.refresh()

    def _current_epoch(self) -> int:
        return self._lineage_log.record_count()

    def _ensure_fresh(self) -> None:
        """Re-snapshot if the index epoch moved: one FS listing (~ms)
        before every query, so a query never serves epoch-cached
        relations whose files a completed maintenance commit replaced."""
        if self._current_epoch() != self._epoch:
            self.refresh()

    def refresh(self) -> "BM25Query":
        """Invalidate all cached state and re-snapshot the index: unpersist
        + drop the dictionary cache, re-read n_docs/avgdl, re-derive the
        shard count and the perfect-partitioner salts (compaction can
        change the shard set). Safe to call between queries; returns self."""
        # snapshot the epoch BEFORE reading any state: a maintenance
        # commit landing mid-refresh then bumps the epoch past this value
        # and the next query refreshes again — reading it last would
        # absorb that mutation's count WITHOUT its data and pin the stale
        # snapshot until a further mutation
        from go_dcp_elasticsearch_spark.sources.changes import _phase_tracer

        _rtrace = _phase_tracer("refresh")
        self._epoch = self._current_epoch()
        if hasattr(self, "_dict_df"):
            self._dict_df.unpersist()
            del self._dict_df
        if hasattr(self, "_df_map"):
            del self._df_map
        spark = self.spark
        spark.catalog.refreshByPath(self.paths.postings)
        spark.catalog.refreshByPath(self.paths.docs)
        spark.catalog.refreshByPath(self.paths.dictionary)
        from go_dcp_elasticsearch_spark.index.segments import (
            list_segments,
            tombstone_ids,
        )

        spark.catalog.refreshByPath(self.paths.stats_shards)
        # delta-segment snapshot: the committed segment list and the
        # tombstoned doc_ids are pinned HERE so every query this handle
        # serves sees one consistent (segments, tombstones) pair — a
        # segment committed after this refresh becomes visible on the
        # next epoch bump, never half-visible mid-query
        self._segs = list_segments(spark, self.paths)
        _rtrace("refreshByPath+segs")
        # docs-table schema cache for range (doc-values) validation —
        # loaded lazily on the first range/agg call, pinned per epoch
        self._docs_fields: dict[str, str] | None = None
        # keyword-field list from _meta, for terms_filter validation
        self._kw_fields: list[str] | None = None
        # tombstones ship to the score kernels as a BROADCAST, not a
        # closure capture: one Arrow-serialized copy per executor per
        # epoch instead of one per task per query (at the hard compaction
        # cap the array can reach tens of MB). The old broadcast is
        # dropped on every refresh so executor memory tracks the epoch.
        if getattr(self, "_tomb_bc", None) is not None:
            self._tomb_bc.unpersist()
            self._tomb_bc = None
        tomb_arr = tombstone_ids(spark, self.paths) if self._segs else None
        _rtrace("tombstones")
        if tomb_arr is not None and len(tomb_arr):
            self._tomb_bc = spark.sparkContext.broadcast(tomb_arr)
            self._tomb = self._tomb_bc
        else:
            self._tomb = None
        # stats AND the shard-label bound come from ONE read of the tiny
        # stats partials (every maintenance path keeps a partial per live
        # label, including delta-minted ones) — the old per-refresh docs
        # metadata scan for max(shard) is gone.
        from go_dcp_elasticsearch_spark.index.builder import (
            read_stats_partials,
            stats_from_partials,
        )

        parts = read_stats_partials(spark, self.paths)
        self.n_docs, self.avgdl = stats_from_partials(parts)
        max_label = max(parts, default=0)
        # the partials already cover every DELTA-minted label in every
        # non-crash state (each delta apply writes a partial per insert
        # shard), so no per-refresh segment scan for max(shard) is needed;
        # the crash window between a segment's docs and stats writes could
        # hide a label, which only merges that shard into another task
        # (kernels group by shard within a partition) and heals at fold
        self.n_shards = int(max_label) + 1
        self._salts = self._shard_salts()
        # r7 (guide §1.2 fixed costs / §5 driver): ~0.2 s of every
        # single-query wall was DRIVER-side plan construction — the
        # 2*n_shards-literal salt map and fresh parquet relations were
        # rebuilt through py4j per query. All three are EPOCH-CONSTANT,
        # so they are built once here and shared by every query this
        # handle serves; the cached relations also pin their file
        # listing to the refresh snapshot, which is exactly the
        # per-handle consistency contract in the class docstring (a
        # crashed-fold recovery mid-epoch re-snapshots via
        # _maybe_recover before any cached relation is served).
        from go_dcp_elasticsearch_spark.index.builder import POSTINGS_SCHEMA
        from go_dcp_elasticsearch_spark.index.segments import (
            BASE_SEG,
            read_delta_postings,
            read_docs,
        )

        self._salt_col = F.create_map(
            *[
                x
                for sh, sl in sorted(self._salts.items())
                for x in (F.lit(sh), F.lit(sl))
            ]
        )[F.col("shard")].cast("int")
        self._base_blocks = (
            spark.read.schema(POSTINGS_SCHEMA).parquet(self.paths.postings)
            .withColumn("seg", F.lit(BASE_SEG))
        )
        self._delta_blocks = (
            read_delta_postings(spark, self.paths, self._segs)
            if self._segs
            else None
        )
        self._docs_view = read_docs(spark, self.paths, segs=self._segs)
        _rtrace("stats+salts")
        # warm the dictionary projection EAGERLY: serving handles refresh
        # once per epoch, and loading the (term -> df) map here means no
        # query — including the first after a refresh — pays for it;
        # lazily loading it made the first query absorb the aggregation
        # job and dominate p95. A resident index derives it from the
        # resident blocks instead of aggregating the dictionary.
        if self._load_resident():
            _rtrace("resident")
        else:
            self._load_dictionary()
            _rtrace("dictionary")
        return self

    def _load_resident(self) -> bool:
        """Keep this epoch's committed postings blocks on the driver when
        their files total at most RESIDENT_MAX_BYTES; returns whether the
        index is resident.

        The byte total comes from the FS listing of base ``shard=N`` and
        pinned delta ``seg=N`` files (no Spark job). The blocks are keyed
        on that whole listing, (path, length, mtime) per file: a refresh
        whose listing did not change keeps them, and any change (a new
        delta segment, the shard files a fold or rebuild apply rewrote)
        re-reads every listed file in one scan job — so a handle never
        serves blocks a fold has replaced. The (term -> df) map is the
        per-term sum of the resident blocks' ``count``: equal to the
        dictionary aggregation, which counts the same postings."""
        from go_dcp_elasticsearch_spark.fsutil import list_data_files

        base = list_data_files(self.spark, self.paths.postings)
        segs = {f"seg={s}" for s in self._segs}
        delta = [
            f for f in list_data_files(self.spark, self.paths.delta_postings)
            if f[0].rsplit("/", 2)[-2] in segs
        ] if segs else []
        listing = tuple(base + delta)
        if sum(f[1] for f in listing) > self.RESIDENT_MAX_BYTES:
            self._resident = None
            return False
        if self._resident is None or self._resident[0] != listing:
            frame = self._read_postings_files(base, delta)
            groups = frame.groupby("term", sort=False)
            df = groups["count"].sum()
            if len(df) > self.driver_dict_max_terms:
                self._resident = None
                return False
            df_map = dict(zip(df.index.tolist(), (int(x) for x in df.tolist())))
            self._resident = (listing, frame, groups.indices, df_map)
        self._df_map = self._resident[3]
        return True

    def _read_postings_files(
        self, base: list[tuple], delta: list[tuple]
    ) -> pd.DataFrame:
        """The blocks (_BLOCK_COLS + ``count``) of the listed base and
        delta postings files, read in ONE scan job with the schema given
        (no footer-inference job)."""
        from go_dcp_elasticsearch_spark.index.builder import POSTINGS_SCHEMA
        from go_dcp_elasticsearch_spark.index.segments import (
            BASE_SEG,
            DELTA_POSTINGS_SCHEMA,
        )

        cols = [*_BLOCK_COLS, "count"]
        scans = []
        if base:
            scans.append(
                self.spark.read.schema(POSTINGS_SCHEMA)
                .option("basePath", self.paths.postings)
                .parquet(*[f[0] for f in base])
                .withColumn("seg", F.lit(BASE_SEG)).select(*cols)
            )
        if delta:
            scans.append(
                self.spark.read.schema(DELTA_POSTINGS_SCHEMA)
                .option("basePath", self.paths.delta_postings)
                .parquet(*[f[0] for f in delta]).select(*cols)
            )
        if not scans:
            return pd.DataFrame(columns=cols)
        return reduce(DataFrame.unionByName, scans).toPandas()

    def _shard_salts(self) -> dict[int, int]:
        """shard -> integer salt with pmod(hash(salt), n_shards) == shard.

        The salt map buys a PERFECT 1-shard-per-task partitioner for every
        later query: plain repartition(n, "shard") hashes n keys into n
        buckets and birthday collisions make one task do two shards' work
        (the straggler sets query wall time), while repartitionByRange
        adds a sampling pass per query. Computed LOCALLY with the numpy
        murmur3 mirror of Spark's int hash (bit-exactness pytest-asserted)
        — zero Spark jobs at refresh, and O(n) numpy work that stays cheap
        at 100k shards where the old 64*n-row driver probe job did not.
        A salt mismatch would only merge two shards into one task (the
        kernel runs per shard group within a partition), never corrupt
        results."""
        from go_dcp_elasticsearch_spark.functions.hashing import partition_salts

        salts = partition_salts(self.n_shards)
        return {shard: salts[shard] for shard in range(self.n_shards)}

    # ---------- shared helpers ----------

    def analyze(self, query: str) -> list[str]:
        """Query text -> unique canonical terms (same analyzer as indexing)."""
        return sorted(set(tokenize_py(query)))

    def _global_df_frame(self) -> DataFrame:
        """Global (term, df) over the shard-partitioned dictionary
        partials (v4 layout: one (term, df, cf) row per shard containing
        the term — what makes incremental refresh O(delta)), plus the
        pending delta segments' contributions (exact for inserted docs;
        dead docs stay counted in the base partials until fold — the
        Lucene docFreq semantics)."""
        from go_dcp_elasticsearch_spark.index.builder import DICTIONARY_SCHEMA
        from go_dcp_elasticsearch_spark.index.segments import delta_df_frame

        base = (
            self.spark.read.schema(DICTIONARY_SCHEMA)
            .parquet(self.paths.dictionary)
            .select("term", "df")
        )
        extra = delta_df_frame(self.spark, self.paths, self._segs) if self._segs else None
        if extra is not None:
            base = base.unionByName(extra)
        return base.groupBy("term").agg(F.sum("df").alias("df"))

    def _load_dictionary(self) -> None:
        """Cache the global (term -> df) map DRIVER-side under the index
        epoch: a query then runs exactly ONE Spark job (the score kernel)
        — the previous executor-cached filter+collect was a second
        per-query job whose fixed scheduling cost (~0.1-0.3 s) dominated
        single-query latency. Vocabularies above ``driver_dict_max_terms``
        fall back to the executor-cache path (persisted frame,
        filter+collect per query) so driver memory stays bounded; the
        overflow probe is the same single aggregation job either way
        (limit(bound+1) detects overflow)."""
        agg = self._global_df_frame()
        # toPandas (Arrow) instead of collect(): the row-based collect
        # pickles one Row per term through py4j — at the 2M-term cap that
        # is the slow path; Arrow moves the two columns as batches (r7,
        # guide §6 "Arrow for driver transfers")
        pdf = agg.limit(self.driver_dict_max_terms + 1).toPandas()
        if len(pdf) <= self.driver_dict_max_terms:
            self._df_map: dict[str, int] | None = dict(
                zip(pdf["term"].tolist(), (int(x) for x in pdf["df"].tolist()))
            )
        else:
            self._df_map = None
            self._dict_df = agg.persist()

    def _term_stats(self, terms: list[str]) -> dict[str, float]:
        """idf per query term from the epoch-cached dictionary map (see
        _load_dictionary).

        df is CLAMPED to n_docs: with pending delta segments, df keeps
        counting dead docs (Lucene docFreq semantics) while n_docs is
        exact, so a term every doc contains could report df > n_docs —
        and idf = ln(1 + (N - df + 0.5)/(df + 0.5)) would go NEGATIVE,
        silently turning the block-max w*ub into a LOWER bound and
        breaking topk_pruned's soundness. min(df, n_docs) keeps idf > 0
        (Lucene pairs its idf with a docCount that also includes deleted
        docs; our exact n_docs needs the clamp instead). Applied in BOTH
        code paths so pruned and exact stay rank-identical."""
        n = self.n_docs
        if not hasattr(self, "_df_map"):
            self._load_dictionary()
        if self._df_map is not None:
            return {
                t: idf_py(n, min(self._df_map[t], n))
                for t in terms
                if t in self._df_map
            }
        d = self._dict_df.filter(F.col("term").isin(terms)).collect()
        return {r["term"]: idf_py(n, min(int(r["df"]), n)) for r in d}

    def _maybe_recover(self) -> None:
        """Heal a crashed fold before serving from the epoch-cached
        relations or resident blocks (one marker-existence probe on the
        common path, the same check read_docs runs). A COMPLETED recovery
        renamed base dirs and committed a lineage record, so the cached
        relations point at deleted files — re-snapshot."""
        from go_dcp_elasticsearch_spark.index.segments import (
            recover_pending_fold,
        )

        if recover_pending_fold(self.spark, self.paths) is not None:
            self.refresh()

    def _docs_snapshot(self) -> DataFrame:
        """The live docs view pinned to this handle's refresh snapshot
        (see read_docs) — epoch-cached, one plan build per refresh."""
        self._maybe_recover()
        return self._docs_view

    def _candidate_blocks(self, terms: list[str]) -> DataFrame:
        """Postings scan (base + committed delta segments, ``seg`` column,
        base = -1) with the term predicate pushed into Parquet, over the
        epoch-cached relations (built once per refresh, not per query)."""
        self._maybe_recover()
        base = self._base_blocks.filter(F.col("term").isin(terms))
        if self._delta_blocks is None:
            return base
        return base.unionByName(
            self._delta_blocks.filter(F.col("term").isin(terms))
        )

    # ---------- strategy 1: exact declarative ----------

    def decoded_postings(self, terms: list[str]) -> DataFrame:
        """Candidate blocks -> (term, doc_id, tf, dl) rows via Arrow
        decode; tombstoned doc_ids (delta-segment updates/deletes) are
        dropped inside the decode kernel (vectorized sorted-membership)."""
        from go_dcp_elasticsearch_spark.index.segments import (
            drop_tombstoned,
            resolve_tomb,
        )

        blocks = self._candidate_blocks(terms)
        tomb_ref = self._tomb

        def decode(iterator):
            tomb = resolve_tomb(tomb_ref)
            for pdf in iterator:
                outs = []
                for term, ids_vb, tfs_vb, dls_vb in zip(
                    pdf["term"], pdf["ids_vb"], pdf["tfs_vb"], pdf["dls_vb"]
                ):
                    gaps = varbyte_decode(bytes(ids_vb))
                    ids = np.cumsum(gaps, dtype=np.uint64).astype(np.int64)
                    tfs = varbyte_decode(bytes(tfs_vb)).astype(np.int64)
                    dls = varbyte_decode(bytes(dls_vb)).astype(np.int64)
                    if tomb is not None and len(tomb):
                        keep = drop_tombstoned(ids, tomb)
                        ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
                    outs.append(
                        pd.DataFrame(
                            {"term": term, "doc_id": ids, "tf": tfs, "dl": dls}
                        )
                    )
                yield pd.concat(outs) if outs else pd.DataFrame(
                    {"term": [], "doc_id": [], "tf": [], "dl": []}
                )

        return blocks.select("term", "ids_vb", "tfs_vb", "dls_vb").mapInPandas(
            decode, schema=DECODED_SCHEMA
        )

    def topk_exact(
        self, query: str, k: int = 10, mode: str = "any",
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Exact BM25 top-k: JVM-side scoring (_exact_scored_bool) and a
        global TakeOrdered; scores equal topk_pruned's bitwise.

        ``mode="any"`` (default) is the disjunctive BM25 top-k;
        ``mode="all"`` keeps only docs containing EVERY query term — the
        Elasticsearch ``bool.must`` semantics. A query term absent from
        the whole corpus makes an "all" query empty (ES behaves the
        same).

        ``after``: the ES ``search_after`` cursor — the (score, doc_id)
        sort values of the LAST hit of the previous page; only hits
        strictly after it in (score desc, doc_id asc) order return. See
        AFTER_EPS for the tie tolerance."""
        spec, idfs = self._match_spec(query, mode, after)
        if spec is None:
            return _local_frame(self.spark, _HITS)
        return self._exact_scored_bool(spec, idfs).orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(k)

    def _match_spec(self, query: str, mode: str, after):
        """(ClauseSpec, idfs) of a match query — ``should`` for
        mode="any", ``must`` for mode="all" — or (None, {}) when the
        result is provably empty (no terms; an "all" term absent)."""
        _check_mode(mode)
        _check_after(after)
        self._ensure_fresh()
        terms = self.analyze(query)
        idfs = self._term_stats(terms) if terms else {}
        if not idfs or (mode == "all" and len(idfs) < len(terms)):
            return None, {}
        if mode == "all":
            return ClauseSpec(must=tuple(terms), after=after), idfs
        return ClauseSpec(should=tuple(sorted(idfs)), after=after), idfs

    def _per_shard(self, blocks: DataFrame, kernel, out_schema: str) -> DataFrame:
        """Run a per-shard kernel with EXACTLY one-ish shard per task.

        ``groupBy("shard").applyInPandas`` hashes n_shards keys into
        spark.sql.shuffle.partitions buckets — birthday collisions put two
        shards in one task and that straggler sets the query's wall time.
        Repartitioning on the probed salt (see _shard_salts) assigns each
        shard its OWN task deterministically; the mapInPandas wrapper runs
        the kernel per shard group within the partition."""

        def run(iterator):
            pdfs = list(iterator)
            if not pdfs:
                return
            pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
            yield from _shard_hits(pdf, kernel)

        # epoch-cached salt expression (see refresh): rebuilding the
        # 2*n_shards-literal map per query was pure py4j latency
        return blocks.repartition(max(self.n_shards, 1), self._salt_col).mapInPandas(
            run, schema=out_schema
        )

    # ---------- strategy 2: shard-parallel block-max pruning ----------

    def topk_pruned(
        self, query: str, k: int = 10, mode: str = "any",
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Block-max pruned top-k: per-shard kernel + global merge.

        ``mode="all"`` = conjunctive (every query term must match — ES
        ``bool.must``). Conjunction is decided entirely per shard: a doc
        lives in exactly one shard, so ALL its postings for all terms are
        in that shard's blocks — no cross-shard coordination needed, and
        a shard missing one of the terms simply yields nothing.

        ``after``: the ES ``search_after`` deep-pagination cursor — the
        (score, doc_id) sort values of the previous page's LAST hit;
        only hits strictly after it in (score desc, doc_id asc) order
        return, so page N+1 costs the same as page 1 (no from+size
        over-fetch). Pruning stays sound under a cursor: a passing doc's
        score is <= the cursor score, so each doc's block-max UB is
        CLAMPED to the cursor score before threshold selection, and the
        threshold lambda is taken over cursor-passing probe docs only —
        both bounds still dominate every passing doc's true score.
        Cursor ties use the AFTER_EPS tolerance (pruned and exact paths
        return bitwise-equal scores; ES compares the sort values it
        itself returned, same contract).

        A query whose candidate postings fit DRIVER_MAX_POSTINGS is
        computed when this call is made — with no Spark job on a resident
        index (RESIDENT_MAX_BYTES), else one scan job — and returned as a
        local frame; larger ones return a lazy shard-parallel plan (see
        _spec_topk)."""
        spec, idfs = self._match_spec(query, mode, after)
        if spec is None:
            return _local_frame(self.spark, _HITS)
        return self._spec_topk({0: spec}, idfs, k)

    def _spec_topk(
        self, specs: dict[int, ClauseSpec], idfs: dict[str, float], k: int,
        chunk_size: int = 128, per_query: bool = False,
    ) -> DataFrame:
        """The pruned physical path for any batch of clause specs: the
        candidate blocks of the union of their terms, the spec kernel per
        shard, then the merge of the local top-k rows into (doc_id, score)
        — or, with ``per_query``, each query's top-k with its query_id.

        Three routes. Small inputs (candidate postings <=
        DRIVER_MAX_POSTINGS, decided from the driver dict at zero jobs)
        run NOW on the driver: their blocks are sliced from the resident
        map (index postings <= RESIDENT_MAX_BYTES; no Spark job) or else
        scanned in one job collected through Arrow, the same kernel runs
        per shard group in this process, and the merged rows come back as
        a local frame, so collecting the result runs no further job.
        Otherwise the plan stays lazy: one postings scan, one shard
        shuffle, the kernel in a Python stage per shard, then a global
        TakeOrdered (single query) or a window (per_query)."""
        from pyspark.sql import Window

        terms = sorted(set().union(*(s.all_terms() for s in specs.values())))
        kernel = _make_spec_kernel(
            specs, idfs, self.avgdl, k, self._tomb, chunk_size
        )
        df = self._df_map
        if df is not None and sum(
            df.get(t, 0) for s in specs.values() for t in s.all_terms()
        ) <= self.DRIVER_MAX_POSTINGS:
            hits = list(_shard_hits(self._driver_blocks(terms), kernel))
            schema = _QUERY_HITS if per_query else _HITS
            if not hits:
                return _local_frame(self.spark, schema)
            top = (
                pd.concat(hits, ignore_index=True)
                .sort_values(["query_id", "score", "doc_id"],
                             ascending=[True, False, True])
                .groupby("query_id", sort=False).head(k)
            )
            if not per_query:
                top = top[["doc_id", "score"]]
            return _local_frame(self.spark, schema, top)
        blocks = self._candidate_blocks(terms).select(*_BLOCK_COLS)
        local = self._per_shard(blocks, kernel, _QUERY_HITS)
        order = (F.col("score").desc(), F.col("doc_id").asc())
        if not per_query:
            return local.select("doc_id", "score").orderBy(*order).limit(k)
        w = Window.partitionBy("query_id").orderBy(*order)
        return (
            local.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )

    def _driver_blocks(self, terms: list[str]) -> pd.DataFrame:
        """The candidate blocks of ``terms`` as pandas for the driver
        route: sliced from the resident map (no Spark job), or one scan
        job when the index is not resident."""
        self._maybe_recover()
        if self._resident is None:
            return self._candidate_blocks(terms).select(*_BLOCK_COLS).toPandas()
        _, frame, rows, _ = self._resident
        hit = [rows[t] for t in terms if t in rows]
        return frame.take(np.concatenate(hit)) if hit else frame.iloc[:0]

    # ---------- prefix retrieval (ES prefix / multi-term rewrite) ----------

    def expand_prefix(self, prefix: str, max_expansions: int = 50) -> list[str]:
        """Dictionary terms starting with ``prefix`` (canonicalized with
        the same analyzer), DETERMINISTICALLY capped: the first
        ``max_expansions`` in lexicographic term order — the ES
        ``constant_score_boolean``-family rewrite's first-N semantics,
        made reproducible so oracle SQL can mirror it exactly. Served
        from the epoch-cached driver dictionary (zero Spark jobs); huge
        vocabularies fall back to one pruned dictionary scan."""
        toks = tokenize_py(prefix)
        if len(toks) != 1:
            raise ValueError(
                f"prefix must canonicalize to exactly one token, got {toks!r}"
            )
        p = toks[0]
        if not hasattr(self, "_df_map"):
            self._load_dictionary()
        if self._df_map is not None:
            # keyword-field terms (col:value) are a separate namespace —
            # never part of a text multi-term rewrite
            hits = sorted(
                t for t in self._df_map if ":" not in t and t.startswith(p)
            )
            return hits[:max_expansions]
        return [
            r["term"]
            for r in self._dict_df.filter(F.col("term").startswith(p))
            .filter(~F.col("term").contains(":"))
            .select("term")
            .distinct()
            .orderBy("term")
            .limit(max_expansions)
            .collect()
        ]

    def topk_prefix(
        self, prefix: str, k: int = 10, max_expansions: int = 50,
        strategy: str = "pruned",
    ) -> DataFrame:
        """Prefix top-k (ES ``prefix`` query with a scoring boolean
        rewrite): expand the prefix to at most ``max_expansions``
        dictionary terms (lexicographic first-N, deterministic), then
        disjunctive BM25 over the expansion — each expanded term
        contributes with its own corpus idf, exactly as if the user had
        typed the expanded terms. The expansion is decided driver-side
        from the cached dictionary; the postings scan stays pruned to the
        expanded terms (``term IN (...)`` pushed to parquet), so cost
        scales with the expansion's df sum, never the vocabulary."""
        self._ensure_fresh()
        terms = self.expand_prefix(prefix, max_expansions)
        if not terms:
            return _local_frame(self.spark, _HITS)
        fn = self.topk_pruned if strategy == "pruned" else self.topk_exact
        return fn(" ".join(terms), k)

    def _clause_terms(self, text: str) -> list[str]:
        """Analyze a non-scoring clause (filter / must_not): whitespace
        tokens containing ``:`` are KEYWORD-FIELD terms (``col:value``,
        IndexBuilder field_cols) and pass through lowercased-verbatim —
        the ES term-query-on-keyword-field semantics, NOT analyzed;
        everything else goes through the canonical analyzer."""
        out: list[str] = []
        for w in (text or "").split():
            if ":" in w:
                out.append(w.lower())
            else:
                out.extend(tokenize_py(w))
        return out

    # ---------- range filtering (ES range query over doc-values) ----------

    _RANGE_OPS = {"gt": "__gt__", "gte": "__ge__", "lt": "__lt__",
                  "lte": "__le__"}

    def _docs_schema_fields(self) -> dict[str, str]:
        """column -> simpleString type of the docs table, cached per
        epoch (one parquet footer read, no data job)."""
        if self._docs_fields is None:
            self._docs_fields = {
                f.name: f.dataType.simpleString()
                for f in self.spark.read.parquet(self.paths.docs).schema.fields
            }
        return self._docs_fields

    def _range_pred(self, spec: dict):
        """Validate an ES-style range spec ``{col: {gt/gte/lt/lte: num}}``
        against the docs table's numeric columns (docvalue_cols plus the
        always-present ``doc_len``) and return the ANDed Column predicate.
        Validation is driver-side (schema footer only); the predicate is
        pushed into the docs parquet scan by Catalyst."""
        import numbers

        from go_dcp_elasticsearch_spark.index.builder import (
            NUMERIC_DOCVALUE_TYPES,
        )

        if not isinstance(spec, dict) or not spec:
            raise ValueError(
                "range must be a non-empty dict {column: {gt/gte/lt/lte: "
                f"number}}, got {spec!r}"
            )
        fields = self._docs_schema_fields()
        pred = None
        for col, bounds in sorted(spec.items()):
            if col not in fields:
                raise ValueError(
                    f"range: column {col!r} is not in the docs table "
                    f"(available numeric doc-values: "
                    f"{sorted(c for c, t in fields.items() if t in NUMERIC_DOCVALUE_TYPES)}); "
                    "build the index with IndexBuilder(docvalue_cols=[...])"
                )
            if fields[col] not in NUMERIC_DOCVALUE_TYPES:
                raise ValueError(
                    f"range: column {col!r} has type {fields[col]} — range "
                    "queries need a numeric doc-value column"
                )
            if col in ("doc_id", "shard"):
                raise ValueError(
                    f"range: {col!r} is an internal engine column, not a "
                    "doc-value"
                )
            if not isinstance(bounds, dict) or not bounds:
                raise ValueError(
                    f"range[{col!r}] must be a non-empty dict of "
                    f"gt/gte/lt/lte bounds, got {bounds!r}"
                )
            for op, v in sorted(bounds.items()):
                if op not in self._RANGE_OPS:
                    raise ValueError(
                        f"range[{col!r}]: unknown bound {op!r} "
                        "(expected gt/gte/lt/lte)"
                    )
                if isinstance(v, bool) or not isinstance(v, numbers.Real):
                    raise ValueError(
                        f"range[{col!r}][{op!r}] must be a number, got {v!r}"
                    )
                c = getattr(F.col(col), self._RANGE_OPS[op])(F.lit(v))
                pred = c if pred is None else (pred & c)
        return pred

    # ---------- boolean retrieval (ES bool query analogue) ----------

    def _kw_field_cols(self) -> list[str]:
        """field_cols recorded in _meta (keyword-indexed columns), cached
        per epoch — terms_filter validation."""
        if self._kw_fields is None:
            from go_dcp_elasticsearch_spark.index.builder import (
                read_index_meta,
            )

            meta = read_index_meta(self.spark, str(self.paths.root))
            self._kw_fields = list(meta.get("field_cols") or [])
        return self._kw_fields

    def _terms_groups(self, terms_filter: dict | None, op: str) -> list[list[str]]:
        """Validate an ES ``terms``-query spec ``{col: [v1, v2, …]}``
        against the index's keyword fields and return one sorted
        ``col:value`` token list per column (disjunctive within a
        column, columns ANDed)."""
        if terms_filter is None:
            return []
        if not isinstance(terms_filter, dict) or not terms_filter:
            raise ValueError(
                f"{op}: terms_filter must be a non-empty dict "
                f"{{column: [values…]}}, got {terms_filter!r}"
            )
        kw = self._kw_field_cols()
        groups = []
        for col, values in sorted(terms_filter.items()):
            if col not in kw:
                raise ValueError(
                    f"{op}: terms_filter column {col!r} is not a keyword "
                    f"field of this index (field_cols: {kw}); build with "
                    "IndexBuilder(field_cols=[...])"
                )
            if not isinstance(values, (list, tuple, set)) or not values:
                raise ValueError(
                    f"{op}: terms_filter[{col!r}] must be a non-empty "
                    f"list of values, got {values!r}"
                )
            groups.append(sorted({f"{col}:{str(v).lower()}" for v in values}))
        return groups

    def _parse_bool(
        self,
        must: str,
        should: str,
        must_not: str,
        filter: str,
        minimum_should_match: int | None,
        range: dict | None,
        op: str,
        terms_filter: dict | None = None,
    ) -> tuple:
        """Shared clause parsing + validation for topk_bool/match_frame:
        analyze the four clause classes, reject degenerate combinations,
        resolve the ES minimum_should_match default (range counts as a
        filter-context clause), resolve idf/df liveness. Returns
        ``(spec, idfs, range predicate)``; spec is None when the result
        is provably empty (dead must term, unsatisfiable msm, dead filter
        term)."""
        self._ensure_fresh()
        for name, text in (("must", must), ("should", should)):
            bad = [w for w in (text or "").split() if ":" in w]
            if bad:
                raise ValueError(
                    f"{op}: keyword-field term(s) {bad!r} in the "
                    f"scoring '{name}' clause — field terms never score "
                    "(ES keyword fields); put them in filter= or must_not="
                )
        m = sorted(set(self.analyze(must)))
        s = sorted(set(self.analyze(should)))
        n = sorted(set(self._clause_terms(must_not)))
        f = sorted(set(self._clause_terms(filter)))
        groups = self._terms_groups(terms_filter, op)
        sets = {"must": set(m), "should": set(s), "must_not": set(n),
                "filter": set(f)}
        for gi, grp in enumerate(groups):
            sets[f"terms_filter[{gi}]"] = set(grp)
        overlap = set()
        names = list(sets)
        for i, a in enumerate(names):
            for b_ in names[i + 1:]:
                overlap |= sets[a] & sets[b_]
        if overlap:
            raise ValueError(
                f"{op}: term(s) {sorted(overlap)!r} appear in more "
                "than one clause class (must/should/filter/must_not/"
                "terms_filter)"
            )
        if not m and not s and not f and range is None and not groups:
            raise ValueError(
                f"{op}: needs at least one must, should, filter, range "
                "or terms_filter clause — a pure must_not query is an "
                "unbounded match-all complement"
            )
        # validate the range spec up front (driver-side schema check), so
        # a malformed spec raises even when a dead must term would make
        # the result empty anyway
        rng_pred = self._range_pred(range) if range is not None else None
        msm = minimum_should_match
        if msm is None:
            # ES default: 1 only when should is the sole qualifying
            # clause — must/filter/range/terms presence all drop it to 0
            msm = 1 if (
                not m and not f and range is None and not groups and s
            ) else 0
        if msm < 0:
            raise ValueError(f"{op}: minimum_should_match {msm} < 0")
        if msm > len(s):
            return None, {}, rng_pred  # can never be satisfied
        idfs = self._term_stats(m + s)  # empty input -> {} but loads the dict
        if any(t not in idfs for t in m):
            return None, {}, rng_pred  # a must term absent from the corpus
        live_s = [t for t in s if t in idfs]
        if len(live_s) < msm:
            return None, {}, rng_pred  # too few matchable should clauses
        if self._df_map is not None:
            def live(t):
                return t in self._df_map
        else:
            def live(t):
                return bool(self._term_stats([t]))
        live_groups = [[t for t in grp if live(t)] for grp in groups]
        if not all(live(t) for t in f) or not all(live_groups):
            # a dead filter term, or a terms group with NO live value,
            # can never be satisfied
            return None, {}, rng_pred
        spec = ClauseSpec(
            must=tuple(m), should=tuple(live_s), filter=tuple(f),
            must_not=tuple(t for t in n if live(t)),
            terms=tuple(tuple(g) for g in live_groups), msm=msm,
        )
        return spec, idfs, rng_pred

    def match_frame(
        self,
        must: str = "",
        should: str = "",
        must_not: str = "",
        filter: str = "",
        minimum_should_match: int | None = None,
        range: dict | None = None,
        match_all: bool = False,
        terms_filter: dict | None = None,
    ) -> DataFrame:
        """(doc_id, score) of EVERY doc matching the bool query — the
        aggregation input (ES runs aggregations over the full match set,
        not the top-k page). Identical qualification semantics to
        topk_bool, served by the exact declarative path (scores for all
        matches; block-max pruning is a top-k optimization and does not
        apply). ``match_all=True`` with no clauses is the ES match_all
        query: every live doc at score 0.0 — a column-pruned docs scan,
        no postings touched.

        Scale shape: candidates are bounded by the clause terms' postings
        (or the pushed-predicate docs scan for range/match_all); the
        result is a frame, never collected — aggregations reduce it."""
        no_clauses = (
            not (must or should or must_not or filter)
            and range is None
            and terms_filter is None
        )
        if no_clauses:
            if not match_all:
                raise ValueError(
                    "match_frame: no clauses given — pass match_all=True "
                    "for the ES match_all query (every live doc, score 0)"
                )
            self._ensure_fresh()
            return self._docs_snapshot().select(
                "doc_id", F.lit(0.0).alias("score")
            )
        spec, idfs, rng_pred = self._parse_bool(
            must, should, must_not, filter, minimum_should_match, range,
            op="match_frame", terms_filter=terms_filter,
        )
        if spec is None:
            return _local_frame(self.spark, _HITS)
        return self._bool_frame(spec, idfs, rng_pred)

    def _bool_frame(
        self, spec: ClauseSpec, idfs: dict[str, float], rng_pred
    ) -> DataFrame:
        """(doc_id, score) of every doc matching a parsed bool query on
        the exact path. A range clause is a column-pruned docs scan with
        the bounds pushed into parquet, semi-joined on doc_id when some
        posting-backed clause bounds the result; otherwise the range set
        IS the filter-context universe (no must/filter/terms, msm 0):
        every range doc qualifies at score 0.0, should clauses only
        boost and must_not excludes via its id-streams — the ES
        contract."""
        if rng_pred is None:
            return self._exact_scored_bool(spec, idfs)
        rng_ids = self._docs_snapshot().filter(rng_pred).select("doc_id")
        if spec.must or spec.filter or spec.msm or spec.terms:
            return self._exact_scored_bool(spec, idfs).join(
                rng_ids, "doc_id", "semi"
            )
        hits = rng_ids
        if spec.must_not:
            excl = self.decoded_postings(list(spec.must_not)).select("doc_id")
            hits = hits.join(excl, "doc_id", "left_anti")
        if not spec.should:
            return hits.select("doc_id", F.lit(0.0).alias("score"))
        scored = self._exact_scored_bool(ClauseSpec(should=spec.should), idfs)
        return hits.join(scored, "doc_id", "left").select(
            "doc_id", F.coalesce(F.col("score"), F.lit(0.0)).alias("score")
        )

    def topk_bool(
        self,
        must: str = "",
        should: str = "",
        must_not: str = "",
        filter: str = "",
        k: int = 10,
        minimum_should_match: int | None = None,
        strategy: str = "pruned",
        range: dict | None = None,
        terms_filter: dict | None = None,
    ) -> DataFrame:
        """ES ``bool`` query top-k: a doc qualifies iff it contains EVERY
        ``must`` term, EVERY ``filter`` term, at least
        ``minimum_should_match`` distinct ``should`` terms, and NO
        ``must_not`` term; its score is the BM25 sum over its matched
        must+should terms (``filter`` and ``must_not`` clauses filter,
        never score — exactly the ES contract: filter = must without
        scoring, the clause ES serves from its filter cache). A
        filter-ONLY query (no must/should) is supported and returns
        constant score 0.0 ordered by doc_id, like ES's filter-context
        hits — it stays bounded because the candidates come from the
        filter terms' own postings. This is the full bool
        surface the reference's sink serves through Elasticsearch
        (README.md:13 "documents streamed in become searchable");
        ``topk_pruned(mode="all")`` is the must-only special case.

        Semantics pinned down (all mirrored by the DuckDB oracle in
        functions/bm25.py and the pure-Python bm25_bool_oracle):
        - ``minimum_should_match`` defaults to 1 when there are no must
          clauses and at least one should clause, else 0 (the ES
          default); it counts DISTINCT matched should terms.
        - a must term absent from the corpus empties the result (ES
          bool.must); an absent should term can never match but keeps
          its place in the msm requirement (a clause that cannot match
          still needs replacing by one that does); an absent must_not
          term is a no-op.
        - a term may appear in only ONE clause class: must/should/
          filter/must_not overlap raises ValueError (a must+must_not
          overlap is vacuously empty in ES; a must+should overlap
          double-scores; a must+filter overlap double-requires — all
          degenerate for a single-field term query, so the engine
          rejects them loudly rather than guessing).
        - at least one of must/should/filter/range/terms_filter must be
          given: a pure must_not query is an unbounded match-all
          complement — rejected as unsupported at scale.

        ``range``: ES range-query clause in filter context —
        ``{col: {gt/gte/lt/lte: number}}`` over the index's numeric
        doc-values (IndexBuilder docvalue_cols; ``doc_len`` is always
        available). Matching docs must also satisfy every bound; range
        clauses never score. A range-ONLY query (no must/should/filter)
        is supported and returns score-0.0 hits ordered by doc_id,
        bounded by a pushed-predicate docs scan + TakeOrdered (never a
        global sort). Like ES — which intersects the BKD-tree doc-id
        set with the scorer rather than driving WAND from it — a range
        clause routes the scored side to the exact declarative path:
        candidates stay bounded by the scoring/filter terms' postings,
        and the range side is a column-pruned docs scan with the bounds
        pushed into parquet row-group skipping, semi-joined on doc_id
        (AQE broadcasts whichever side is small). The ``strategy``
        parameter only picks the physical plan for range-free queries.

        ``terms_filter``: the ES ``terms`` query — ``{col: [v1, v2, …]}``
        over keyword fields (IndexBuilder field_cols): the doc must carry
        AT LEAST ONE ``col:value`` posting per listed column (disjunctive
        within a column, columns ANDed), never scored (filter context).
        Pure posting-list work: the group tokens ride the same pruned
        ``In(term, …)`` scan, decoded as id-streams with UB 0, and the
        per-group >=1 count filters before threshold selection — no
        docs-table scan.

        Scale shape: candidates are decided per shard exactly like
        topk_pruned (a doc's postings all live in one shard, so the
        must-conjunction, filter-conjunction, should-count and
        must_not-exclusion are all shard-local); filter and must_not
        postings are decoded id-streams only (their tf/dl payloads are
        never touched); the block-max UB over matched must+should blocks
        stays a sound score bound, so the two-phase pruning is
        unchanged. Like topk_pruned, a pruned query under
        DRIVER_MAX_POSTINGS is computed when the call is made (no Spark
        job on a resident index, else one scan job) and returned as a
        local frame."""
        if strategy not in ("pruned", "exact"):
            raise ValueError(
                f"topk_bool: unknown strategy {strategy!r} "
                "(expected 'pruned' or 'exact')"
            )
        spec, idfs, rng_pred = self._parse_bool(
            must, should, must_not, filter, minimum_should_match, range,
            op="topk_bool", terms_filter=terms_filter,
        )
        if spec is None:
            return _local_frame(self.spark, _HITS)
        if rng_pred is None and strategy == "pruned":
            return self._spec_topk({0: spec}, idfs, k)
        return self._bool_frame(spec, idfs, rng_pred).orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(k)

    def _exact_scored_bool(
        self, spec: ClauseSpec, idfs: dict[str, float]
    ) -> DataFrame:
        """(doc_id, score) over EVERY doc matching ``spec`` — the exact
        declarative scorer behind topk_exact, topk_phrase, match_frame
        and the exact/range topk_bool. One decode pass over all clause
        terms' postings, then one aggregate per doc with a column per
        term: its tf_norm when the doc has the term, else null. Clause
        membership becomes a filter over those columns (a filter-only
        spec scores 0.0, the ES filter-context contract). The score adds
        idf * tf_norm per scoring term in term-lexicographic order —
        the order and arithmetic of the shard kernel and the oracles, so
        the exact and pruned paths return bitwise-equal scores."""
        terms = sorted(spec.all_terms())
        col = {t: F.col(f"_t{i}") for i, t in enumerate(terms)}
        tf, dl = F.col("tf"), F.col("dl")
        tfn = tf / (tf + F.lit(K1) * (
            F.lit(1.0) - F.lit(B) + F.lit(B) * dl / F.lit(self.avgdl)
        ))
        per_doc = self.decoded_postings(terms).groupBy("doc_id").agg(*[
            F.max(F.when(F.col("term") == t, tfn)).alias(f"_t{i}")
            for i, t in enumerate(terms)
        ])
        score = F.lit(0.0)
        for t in sorted({*spec.must, *spec.should}):
            score = score + F.coalesce(F.lit(float(idfs[t])) * col[t], F.lit(0.0))
        has = {t: c.isNotNull() for t, c in col.items()}
        cond = F.lit(True)
        for t in (*spec.must, *spec.filter):
            cond = cond & has[t]
        for t in spec.must_not:
            cond = cond & ~has[t]
        for grp in spec.terms:
            cond = cond & reduce(operator.or_, [has[t] for t in grp])
        if spec.msm:
            matched = sum(has[t].cast("int") for t in spec.should)
            cond = cond & (matched >= spec.msm)
        scored = per_doc.filter(cond).select("doc_id", score.alias("score"))
        if spec.after is not None:
            scored = scored.filter(_after_cond(spec.after))
        return scored

    # ---------- search aggregations (ES aggs analogue) ----------

    def _agg_field_check(self, field: str, numeric: bool, op: str) -> None:
        from go_dcp_elasticsearch_spark.index.builder import (
            NUMERIC_DOCVALUE_TYPES,
        )

        fields = self._docs_schema_fields()
        if field in ("doc_id", "shard"):
            raise ValueError(
                f"{op}: {field!r} is an internal engine column, not an "
                "aggregatable field"
            )
        if field not in fields:
            raise ValueError(
                f"{op}: field {field!r} is not in the docs table "
                f"(available: {sorted(set(fields) - {'doc_id', 'shard'})})"
            )
        if numeric and fields[field] not in NUMERIC_DOCVALUE_TYPES:
            raise ValueError(
                f"{op}: field {field!r} has type {fields[field]} — this "
                "aggregation needs a numeric doc-value column"
            )

    def _agg_universe(
        self, field: str, must: str, should: str, must_not: str,
        filter: str, minimum_should_match: int | None, range: dict | None,
        terms_filter: dict | None = None,
    ) -> DataFrame:
        """The matching docs' ``field`` values (the aggregation input).
        No clauses = the ES match_all default: a column-pruned docs scan,
        zero postings work. Range-only skips the id join too — the
        bounds are a pushed docs-scan predicate. Otherwise the match set
        comes from match_frame (bounded by the clause terms' postings)
        and semi-joins into the pruned docs scan."""
        self._ensure_fresh()
        docs = self._docs_snapshot()
        term_free = (
            not (must or should or must_not or filter)
            and terms_filter is None
        )
        if term_free and range is None:
            return docs.select(field)
        if term_free and not minimum_should_match:
            return docs.filter(self._range_pred(range)).select(field)
        ids = self.match_frame(
            must, should, must_not, filter, minimum_should_match, range,
            terms_filter=terms_filter,
        ).select("doc_id")
        return docs.join(ids, "doc_id", "semi").select(field)

    def agg_terms(
        self,
        field: str,
        size: int = 10,
        must: str = "",
        should: str = "",
        must_not: str = "",
        filter: str = "",
        minimum_should_match: int | None = None,
        range: dict | None = None,
        terms_filter: dict | None = None,
    ) -> DataFrame:
        """ES ``terms`` aggregation: the top-``size`` (value, doc_count)
        buckets of ``field`` over every doc matching the bool query
        (the ES match_all default when no clause is given), ordered
        doc_count desc then value asc — the ES _count ordering with the
        _key tie-break pinned so results are deterministic. Null field
        values are skipped (the ES missing-value default).

        Scale shape: one shuffle for the match semi-join (skipped for
        match_all/range-only), one partial-aggregated groupBy on the
        bucket key, TakeOrdered for the top-``size`` — never a global
        sort; like every ES terms agg this is exact here because the
        groupBy is global (ES's shard_size approximation error does not
        apply)."""
        if size <= 0:
            raise ValueError(f"agg_terms: size must be > 0, got {size}")
        self._agg_field_check(field, numeric=False, op="agg_terms")
        u = self._agg_universe(
            field, must, should, must_not, filter, minimum_should_match,
            range, terms_filter=terms_filter,
        )
        return (
            u.filter(F.col(field).isNotNull())
            .groupBy(F.col(field).alias("value"))
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col("value").asc())
            .limit(size)
        )

    def agg_stats(
        self,
        field: str,
        must: str = "",
        should: str = "",
        must_not: str = "",
        filter: str = "",
        minimum_should_match: int | None = None,
        range: dict | None = None,
        terms_filter: dict | None = None,
    ) -> DataFrame:
        """ES ``stats`` aggregation: ONE row (count, min, max, avg, sum)
        of a numeric doc-value over every doc matching the bool query
        (match_all when no clause). Nulls are skipped (count counts
        values, the ES contract). A single partial-aggregated job."""
        self._agg_field_check(field, numeric=True, op="agg_stats")
        u = self._agg_universe(
            field, must, should, must_not, filter, minimum_should_match,
            range, terms_filter=terms_filter,
        )
        c = F.col(field)
        return u.agg(
            F.count(c).alias("count"),
            F.min(c).cast("double").alias("min"),
            F.max(c).cast("double").alias("max"),
            F.avg(c).alias("avg"),
            F.sum(c).cast("double").alias("sum"),
        )

    def agg_cardinality(
        self,
        field: str,
        exact: bool = False,
        rsd: float = 0.05,
        must: str = "",
        should: str = "",
        must_not: str = "",
        filter: str = "",
        minimum_should_match: int | None = None,
        range: dict | None = None,
        terms_filter: dict | None = None,
    ) -> DataFrame:
        """ES ``cardinality`` aggregation: distinct values of ``field``
        over the matching docs — approximate by default via
        HyperLogLog++ (``approx_count_distinct``; the SAME sketch family
        ES uses, ``rsd`` = relative standard deviation ≈ ES
        precision_threshold's error band), map-side mergeable so the
        shuffle carries one sketch per partition, never the values.
        ``exact=True`` switches to count_distinct (adds a dedup
        exchange; the SQL-mirrorable mode the gate checks). One row,
        column ``value``."""
        self._agg_field_check(field, numeric=False, op="agg_cardinality")
        u = self._agg_universe(
            field, must, should, must_not, filter, minimum_should_match,
            range, terms_filter=terms_filter,
        )
        c = F.col(field)
        agg = (
            F.count_distinct(c) if exact
            else F.approx_count_distinct(c, rsd=float(rsd))
        )
        return u.agg(agg.cast("long").alias("value"))

    def agg_histogram(
        self,
        field: str,
        interval: float,
        must: str = "",
        should: str = "",
        must_not: str = "",
        filter: str = "",
        minimum_should_match: int | None = None,
        range: dict | None = None,
        terms_filter: dict | None = None,
    ) -> DataFrame:
        """ES ``histogram`` aggregation: (bucket, doc_count) rows over a
        numeric doc-value, bucket = floor(value/interval)*interval (the
        ES key formula), ordered by bucket asc. Only non-empty buckets
        are emitted (ES min_doc_count=1 semantics — the gap-filling
        min_doc_count=0 mode would materialize unbounded key ranges at
        scale). Nulls skipped."""
        if not (interval > 0):
            raise ValueError(
                f"agg_histogram: interval must be > 0, got {interval}"
            )
        self._agg_field_check(field, numeric=True, op="agg_histogram")
        u = self._agg_universe(
            field, must, should, must_not, filter, minimum_should_match,
            range, terms_filter=terms_filter,
        )
        bucket = (
            F.floor(F.col(field) / F.lit(float(interval)))
            * F.lit(float(interval))
        ).cast("double")
        return (
            u.filter(F.col(field).isNotNull())
            .groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.col("bucket").asc())
        )

    # ---------- fuzzy retrieval (ES fuzzy query, scoring rewrite) ----------

    def expand_fuzzy(
        self, term: str, max_edits: int = 1, prefix_length: int = 0,
        max_expansions: int = 50,
    ) -> list[str]:
        """Dictionary terms within plain Levenshtein distance
        ``max_edits`` of ``term`` (canonicalized with the same analyzer),
        sharing its first ``prefix_length`` characters, DETERMINISTICALLY
        capped: the first ``max_expansions`` ordered by (distance, term)
        — closest terms first, the ES fuzzy rewrite's preference made
        reproducible so oracle SQL (DuckDB ``levenshtein``) can mirror it
        exactly. Distance is PLAIN Levenshtein (no transpositions — the
        ES default counts a transposition as one edit; documented
        difference, both engine and oracle use the same metric). Served
        from the epoch-cached driver dictionary (zero Spark jobs); huge
        vocabularies fall back to one pruned dictionary scan."""
        toks = tokenize_py(term)
        if len(toks) != 1:
            raise ValueError(
                f"fuzzy term must canonicalize to exactly one token, got {toks!r}"
            )
        if max_edits < 0 or prefix_length < 0:
            raise ValueError("max_edits and prefix_length must be >= 0")
        p = toks[0]
        pfx = p[:prefix_length]
        if not hasattr(self, "_df_map"):
            self._load_dictionary()
        if self._df_map is not None:
            vocab = self._df_map.keys()
        else:
            cond = F.col("term").startswith(pfx) if pfx else F.lit(True)
            # length pruning is pushable; the distance filter runs driver-
            # side on the (already small) pre-filtered term set
            vocab = [
                r["term"]
                for r in self._dict_df.filter(cond)
                .filter(~F.col("term").contains(":"))
                .filter(F.abs(F.length("term") - len(p)) <= max_edits)
                .select("term").distinct().collect()
            ]
        hits = []
        for t in vocab:
            if ":" in t:
                continue  # keyword-field namespace, never fuzzy-matched
            if pfx and not t.startswith(pfx):
                continue
            if abs(len(t) - len(p)) > max_edits:
                continue
            d = _levenshtein_bounded(t, p, max_edits)
            if d <= max_edits:
                hits.append((d, t))
        hits.sort()
        return [t for _, t in hits[:max_expansions]]

    def topk_fuzzy(
        self, term: str, k: int = 10, max_edits: int = 1,
        prefix_length: int = 0, max_expansions: int = 50,
        strategy: str = "pruned",
    ) -> DataFrame:
        """Fuzzy top-k (ES ``fuzzy`` query with a scoring boolean
        rewrite): expand to at most ``max_expansions`` dictionary terms
        within ``max_edits`` (closest-first, deterministic), then
        disjunctive BM25 over the expansion — each expanded term scores
        with its own corpus idf, like topk_prefix. The expansion is
        decided driver-side; the postings scan stays pruned to the
        expanded terms, so cost scales with the expansion's df sum,
        never the vocabulary."""
        self._ensure_fresh()
        terms = self.expand_fuzzy(term, max_edits, prefix_length, max_expansions)
        if not terms:
            return _local_frame(self.spark, _HITS)
        fn = self.topk_pruned if strategy == "pruned" else self.topk_exact
        return fn(" ".join(terms), k)

    # ---------- wildcard retrieval (ES wildcard query) ----------

    def expand_wildcard(self, pattern: str, max_expansions: int = 50) -> list[str]:
        """Dictionary terms matching ``pattern`` (``*`` = any run incl.
        empty, ``?`` = exactly one char; pattern is lowercased and must
        otherwise be [a-z0-9]), DETERMINISTICALLY capped: lexicographic
        first ``max_expansions`` — the ES wildcard rewrite made
        reproducible. A leading ``*`` cannot use the term sort order but
        the vocabulary lives in the epoch-cached driver dictionary, so
        the scan is a driver-local pass, not a Spark job."""
        import fnmatch
        import re as _re

        p = pattern.lower()
        if not _re.fullmatch(r"[a-z0-9*?]+", p):
            raise ValueError(
                "wildcard pattern must be [a-z0-9*?]+ after lowercasing, "
                f"got {pattern!r}"
            )
        if not hasattr(self, "_df_map"):
            self._load_dictionary()
        if self._df_map is not None:
            hits = sorted(
                t for t in self._df_map
                if ":" not in t and fnmatch.fnmatchcase(t, p)
            )
            return hits[:max_expansions]
        like = p.replace("%", "").replace("_", "")  # terms are [a-z0-9]
        like = like.replace("*", "%").replace("?", "_")
        return [
            r["term"]
            for r in self._dict_df.filter(F.col("term").like(like))
            .filter(~F.col("term").contains(":"))
            .select("term").distinct().orderBy("term")
            .limit(max_expansions).collect()
        ]

    def topk_wildcard(
        self, pattern: str, k: int = 10, max_expansions: int = 50,
        strategy: str = "pruned",
    ) -> DataFrame:
        """Wildcard top-k (ES ``wildcard`` query, scoring rewrite):
        deterministic lexicographic first-N expansion, then disjunctive
        BM25 over the expansion with per-term corpus idf — the same
        shape as topk_prefix (prefix is the ``p*`` special case)."""
        self._ensure_fresh()
        terms = self.expand_wildcard(pattern, max_expansions)
        if not terms:
            return _local_frame(self.spark, _HITS)
        fn = self.topk_pruned if strategy == "pruned" else self.topk_exact
        return fn(" ".join(terms), k)

    # ---------- phrase retrieval (ES match_phrase analogue) ----------

    def topk_phrase(
        self, query: str, k: int = 10, source: DataFrame | None = None,
        slop: int = 0,
    ) -> DataFrame:
        """Phrase top-k: docs whose token stream contains the query's
        tokens as a CONSECUTIVE subsequence, BM25-ranked over the phrase's
        distinct terms — the Elasticsearch ``match_phrase`` the reference's
        sink serves (its contract is "documents streamed in become
        searchable", README.md:13; phrase match is core ES search surface).

        ``slop``: the match_phrase slop analogue with the IN-ORDER
        span-near definition (Lucene SpanNearQuery(inOrder=true), made
        deterministic — ES's sloppy phrase also counts transposition
        moves, documented difference): the phrase tokens must occur in
        order at strictly increasing positions p_1 < … < p_n with at
        most ``slop`` extra tokens interleaved (p_n - p_1 - (n-1) <=
        slop). slop=0 is the exact consecutive match. Verified with a
        greedy earliest-match scan per candidate (for a fixed p_1 the
        earliest completion minimizes the span, so greedy is exact).

        The base postings store no positions, so by default the phrase
        test runs against the SOURCE table the index was built from,
        which the caller passes as ``source`` (corpus shape: repo, path,
        content — the lakehouse table itself; ES keeps ``_source`` for
        exactly this role). An index built with
        ``IndexBuilder(positions=True)`` carries the positional sidecar
        (the ES ``index_options: positions`` analogue) and serves phrase
        INDEX-ONLY: call with ``source=None`` and the verify step
        becomes a span-near test over decoded position lists — no
        content bytes in the plan (see index.positions; the sidecar is
        build-derived and rebuild-apply-maintained; delta applies and
        folds invalidate it until the next build — ``source=None`` then
        raises with the remediation). The source path's plan stays candidate-bounded at
        scale:

          1. conjunctive posting intersection (exact path): only docs
             containing EVERY phrase term are scored — the candidate set
             is at most min_t df(t), decided from the index alone;
          2. candidates semi-join the docs metadata for their key and the
             north-star ``content_sha256``;
          3. ONLY candidate rows' content is read from ``source``
             (broadcast-able candidate side; content column never scanned
             for non-candidates), re-tokenized with the canonical
             analyzer, and kept iff the phrase occurs consecutively. The
             per-row sha256 invariant is ENFORCED here: a candidate whose
             source content no longer hashes to the indexed
             ``content_sha256`` raises (stale/diverged source table).

        Single-term phrases degenerate to ``mode="all"`` term match (as in
        ES); duplicate tokens in the phrase must repeat consecutively in
        the doc. Delta segments compose: candidates come through the
        tombstone-filtered decode and the pinned live docs view."""
        if slop < 0:
            raise ValueError(f"topk_phrase: slop must be >= 0, got {slop}")
        self._ensure_fresh()
        if source is None:
            from go_dcp_elasticsearch_spark.index.positions import (
                positions_fresh,
            )

            if not positions_fresh(self.spark, self.paths):
                raise ValueError(
                    "topk_phrase needs the source corpus frame (repo, "
                    "path, content): the index stores content_sha256, not "
                    "content, and no FRESH positional sidecar exists — "
                    "build with IndexBuilder(positions=True) for "
                    "index-only phrase (any incremental apply/fold "
                    "invalidates the sidecar until the next build)"
                )
        seq = tokenize_py(query)
        uniq = sorted(set(seq))
        idfs = self._term_stats(uniq) if uniq else {}
        if not uniq or len(idfs) < len(uniq):
            # no tokens, or a term absent from the corpus: no phrase match
            return _local_frame(self.spark, _HITS)
        scored = self._exact_scored_bool(ClauseSpec(must=tuple(uniq)), idfs)
        if source is None:
            return self._phrase_verify_positions(scored, seq, slop, k)
        meta = self._docs_snapshot().select(
            "doc_id", "repo", "path", "content_sha256"
        )
        if "seq_no" in source.columns:
            # CDC-shaped source (multiple versions per key): take the
            # current state exactly like the build does
            from go_dcp_elasticsearch_spark.index.builder import (
                dedup_last_write_wins,
            )

            source = dedup_last_write_wins(source)
        cand = scored.join(meta, "doc_id").join(
            source.select("repo", "path", "content"), ["repo", "path"]
        )
        needle = " " + " ".join(seq) + " "
        slop_n = int(slop)

        def verify(iterator):
            import hashlib

            for pdf in iterator:
                if not len(pdf):
                    continue
                keep = []
                for content, sha in zip(pdf["content"], pdf["content_sha256"]):
                    text = content or ""
                    got = hashlib.sha256(text.encode("utf-8")).hexdigest()
                    if got != sha:
                        raise ValueError(
                            "topk_phrase: source content sha256 mismatch "
                            f"(indexed {sha[:12]}…, source {got[:12]}…) — "
                            "the source frame diverged from the index"
                        )
                    toks = tokenize_py(text)
                    if slop_n == 0:
                        hay = " " + " ".join(toks) + " "
                        keep.append(needle in hay)
                    else:
                        keep.append(_span_near(toks, seq, slop_n))
                out = pdf.loc[keep, ["doc_id", "score"]]
                if len(out):
                    yield out

        hits = cand.mapInPandas(verify, schema="doc_id long, score double")
        return hits.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    def _phrase_verify_positions(
        self, scored: DataFrame, seq: list[str], slop: int, k: int
    ) -> DataFrame:
        """Index-only phrase verify (positions sidecar, ES
        index_options:positions analogue): decode the phrase terms'
        position lists (term predicate pushed into the sidecar scan),
        inner-join the conjunctive candidates, and test in-order
        span-near per doc — no source table, no content bytes, anywhere
        in the plan. Freshness was checked by the caller: a fresh
        sidecar implies no pending segments (any apply bumps the
        lineage epoch), so the base-only decode is the full truth."""
        from go_dcp_elasticsearch_spark.index.positions import (
            decoded_positions,
            span_near_positions,
        )

        pos = decoded_positions(self.spark, self.paths, sorted(set(seq)))
        # r7 (guide §2.4): group by doc_id ALONE — score is functionally
        # dependent (one scored row per doc), so keying the aggregation
        # on (doc_id, score) forced a SECOND shuffle of the decoded
        # position arrays that the doc_id-keyed join had already moved;
        # with the same key the aggregation reuses the join's hash
        # partitioning and the arrays cross the network once.
        grouped = (
            scored.join(pos, "doc_id")
            .groupBy("doc_id")
            .agg(
                F.first("score").alias("score"),
                F.collect_list("term").alias("_t"),
                F.collect_list("pos").alias("_p"),
            )
        )
        seq_local = list(seq)
        slop_n = int(slop)

        def verify(iterator):
            for pdf in iterator:
                if not len(pdf):
                    continue
                keep = []
                for terms, plists in zip(pdf["_t"], pdf["_p"]):
                    by_term = {
                        t: np.asarray(p, dtype=np.int64)
                        for t, p in zip(terms, plists)
                    }
                    pos_lists = [by_term.get(t) for t in seq_local]
                    if any(p is None for p in pos_lists):
                        keep.append(False)
                        continue
                    keep.append(
                        span_near_positions(pos_lists, slop_n)
                    )
                out = pdf.loc[keep, ["doc_id", "score"]]
                if len(out):
                    yield out

        hits = grouped.mapInPandas(verify, schema="doc_id long, score double")
        return hits.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    def highlight(
        self,
        hits: DataFrame,
        query: str,
        source: DataFrame,
        window: int = 5,
        max_fragments: int = 1,
        pre_tag: str = "<em>",
        post_tag: str = "</em>",
    ) -> DataFrame:
        """ES ``highlight`` analogue: per hit, snippet fragments around
        the query terms' occurrences, matched terms wrapped in
        ``pre_tag``/``post_tag``. Deterministic spec (so an SQL oracle
        can mirror it exactly — ES's unified highlighter picks fuzzy
        sentence windows): fragments are built over the CANONICAL TOKEN
        STREAM, not raw text — the analyzed stream is what the index
        scored, and [a-z0-9]+ tokenization makes byte-offset mapping
        ambiguous anyway. A fragment covers ``window`` tokens each side
        of a matched position, fragments are taken first-match-first and
        never overlap (a match inside the previous fragment is skipped),
        at most ``max_fragments`` per doc; EVERY query-term token inside
        a fragment is wrapped. Docs with no match get an empty list.

        Like topk_phrase, the content comes from the caller's ``source``
        frame (the index stores content_sha256, not content) and the
        per-row sha invariant is enforced on every highlighted doc.
        Returns ``hits``'s columns plus ``fragments array<string>``.

        Scale shape: bounded by the hits frame (top-k sized) — hits
        broadcast into the docs metadata join, and only the hit keys'
        content rows are read from the source."""
        if source is None:
            raise ValueError(
                "highlight needs the source corpus frame (repo, path, "
                "content): the index stores content_sha256, not content"
            )
        if window < 0 or max_fragments <= 0:
            raise ValueError(
                "highlight: window must be >= 0 and max_fragments >= 1"
            )
        self._ensure_fresh()
        terms = set(self.analyze(query))
        if not terms:
            raise ValueError(f"highlight: query {query!r} has no tokens")
        meta = self._docs_snapshot().select(
            "doc_id", "repo", "path", "content_sha256"
        )
        if "seq_no" in source.columns:
            from go_dcp_elasticsearch_spark.index.builder import (
                dedup_last_write_wins,
            )

            source = dedup_last_write_wins(source)
        hit_cols = list(hits.columns)
        cand = (
            meta.join(F.broadcast(hits), "doc_id")
            .join(source.select("repo", "path", "content"), ["repo", "path"])
        )
        w, mf = int(window), int(max_fragments)
        pre, post = str(pre_tag), str(post_tag)
        out_schema = cand.select(
            *hit_cols, F.array().cast("array<string>").alias("fragments")
        ).schema

        def kernel(iterator):
            import hashlib

            for pdf in iterator:
                if not len(pdf):
                    continue
                frags_col = []
                for content, sha in zip(pdf["content"], pdf["content_sha256"]):
                    text = content or ""
                    got = hashlib.sha256(text.encode("utf-8")).hexdigest()
                    if got != sha:
                        raise ValueError(
                            "highlight: source content sha256 mismatch "
                            f"(indexed {sha[:12]}…, source {got[:12]}…) — "
                            "the source frame diverged from the index"
                        )
                    toks = tokenize_py(text)
                    frags: list[str] = []
                    prev_end = -1
                    for i, t in enumerate(toks):
                        if len(frags) >= mf:
                            break
                        if t not in terms or i <= prev_end:
                            continue
                        lo, hi = max(0, i - w), min(len(toks), i + w + 1)
                        frags.append(
                            " ".join(
                                (pre + tk + post) if tk in terms else tk
                                for tk in toks[lo:hi]
                            )
                        )
                        prev_end = hi - 1
                    frags_col.append(frags)
                out = pdf[hit_cols].copy()
                out["fragments"] = frags_col
                yield out

        return cand.mapInPandas(kernel, schema=out_schema)

    def with_meta(self, hits: DataFrame) -> DataFrame:
        """Join top-k hits back to the forward store: the engine's doc_id
        is internal; callers get the reference's identity (repo, path)
        plus commit/lang/sha. Broadcast the (tiny) hits side so the docs
        scan stays partition-pruned and shuffle-free. Reads the docs view
        pinned to THIS handle's refresh snapshot (the same segment list
        the top-k kernels scored against) so delta-ingested docs resolve
        and a fold/apply committing between the top-k job and this join
        cannot drop or add a hit's row — the per-handle consistent-
        snapshot contract in the class docstring."""
        docs = self._docs_snapshot().select(
            "doc_id", "repo", "path", "commit", "lang", "content_sha256"
        )
        return docs.join(F.broadcast(hits), "doc_id").select(
            *hits.columns, "repo", "path", "commit", "lang", "content_sha256"
        )

    # ---------- batch retrieval (many queries at once) ----------

    def topk_batch(
        self, queries: list[tuple[int, str]], k: int = 10, chunk_size: int = 128,
        mode: str = "any",
    ) -> DataFrame:
        """Run many queries in ONE job: a single postings scan filtered to
        the union of all query terms, one shard shuffle, blocks decoded
        once PER CHUNK and shared by the chunk's queries inside the shard
        kernel (``chunk_size`` bounds executor memory — decode caches are
        cleared between chunks), then a per-query window top-k. The batch
        analogue of the reference's concurrent bulk requests
        (bulk.go:410-425) without N scans.

        A batch whose candidate postings (df summed over every query's
        terms) fit DRIVER_MAX_POSTINGS is computed when this call is made
        — the same kernel on the driver, over the resident blocks (no
        Spark job) or one scan job — and returned as a local frame (see
        _spec_topk)."""
        _check_mode(mode)
        self._ensure_fresh()
        qterms = {qid: self.analyze(qtext) for qid, qtext in queries}
        all_terms = sorted({t for ts in qterms.values() for t in ts})
        idfs = self._term_stats(all_terms) if all_terms else {}
        specs = {}
        for qid, ts in qterms.items():
            live = tuple(t for t in ts if t in idfs)
            if not live:
                continue
            if mode == "any":
                specs[qid] = ClauseSpec(should=live)
            elif len(live) == len(ts):
                # a query term absent from the whole corpus empties that
                # query (ES bool.must); the rest of the batch proceeds
                specs[qid] = ClauseSpec(must=live)
        if not specs:
            return _local_frame(self.spark, TOPK_SCHEMA)
        return self._spec_topk(specs, idfs, k, chunk_size, per_query=True)


def _span_near(toks: list[str], seq: list[str], slop: int) -> bool:
    """In-order span-near test: does ``seq`` occur at strictly increasing
    positions in ``toks`` with span <= len(seq)-1 + slop? Greedy earliest
    completion per start position is exact: for a fixed first position,
    picking each later term's EARLIEST following occurrence minimizes the
    final span."""
    n = len(seq)
    limit = n - 1 + slop
    for p1, t in enumerate(toks):
        if t != seq[0]:
            continue
        pos = p1
        ok = True
        for want in seq[1:]:
            nxt = None
            # bounded scan: past the span limit the start cannot match
            for j in range(pos + 1, min(len(toks), p1 + limit + 1)):
                if toks[j] == want:
                    nxt = j
                    break
            if nxt is None:
                ok = False
                break
            pos = nxt
        if ok and pos - p1 <= limit:
            return True
    return False


def _levenshtein_bounded(a: str, b: str, bound: int) -> int:
    """Plain Levenshtein distance with an early exit: returns bound+1 as
    soon as the minimum of a DP row exceeds ``bound`` (the expansion only
    needs <=/> bound, so the exact value past it is irrelevant). Matches
    DuckDB's levenshtein() on the <= bound range, which is what the
    oracle SQL mirrors."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if abs(la - lb) > bound:
        return bound + 1
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cost = 0 if ca == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
        if min(cur) > bound:
            return bound + 1
        prev = cur
    return prev[lb]


# search_after tie tolerance: a cursor-passing doc either scores below
# the cursor by more than this, or within it AND has a larger doc_id.
# The pruned and exact paths add the same per-term products in the same
# (term-lexicographic) order and return bitwise-equal scores, so a cursor
# taken from either path selects the identical next page on both; the
# tolerance only lets a cursor score that lost digits on its way back
# (printed, logged) still page correctly. ES likewise compares the sort
# values it itself returned.
AFTER_EPS = 1e-9


def _check_after(after) -> None:
    import numbers

    if after is None:
        return
    if (
        not isinstance(after, (tuple, list))
        or len(after) != 2
        or isinstance(after[0], bool)
        or not isinstance(after[0], numbers.Real)
        or isinstance(after[1], bool)
        or not isinstance(after[1], numbers.Integral)
    ):
        raise ValueError(
            "after must be the previous page's last (score: float, "
            f"doc_id: int) sort values, got {after!r}"
        )


def _after_cond(after: tuple[float, int]):
    """Column predicate: hit sorts strictly after the cursor in
    (score desc, doc_id asc) order, with the AFTER_EPS tie tolerance."""
    a_s, a_d = float(after[0]), int(after[1])
    s = F.col("score")
    return (s < F.lit(a_s - AFTER_EPS)) | (
        (F.abs(s - F.lit(a_s)) <= F.lit(AFTER_EPS))
        & (F.col("doc_id") > F.lit(a_d))
    )


def _after_mask(sc: "np.ndarray", ids: "np.ndarray", after) -> "np.ndarray":
    """Numpy twin of _after_cond (kernel side)."""
    a_s, a_d = float(after[0]), int(after[1])
    return (sc < a_s - AFTER_EPS) | (
        (np.abs(sc - a_s) <= AFTER_EPS) & (ids > a_d)
    )


def _check_mode(mode: str) -> None:
    if mode not in ("any", "all"):
        raise ValueError(f"BM25Query: unknown match mode {mode!r} "
                         "(expected 'any' or 'all')")


def _local_frame(
    spark: SparkSession, schema, pdf: pd.DataFrame | None = None
) -> DataFrame:
    """A driver-side result (``pdf``; None = empty) as a LocalTableScan,
    whose collect runs no Spark job. An empty pandas frame or row list
    would come back as a Python-backed RDD scan costing one job (~0.4 s)
    to collect; ``limit(0)`` lets the optimizer replace it with an empty
    local relation."""
    if pdf is None or not len(pdf):
        return spark.createDataFrame([], schema).limit(0)
    return spark.createDataFrame(pdf, schema)


def _shard_hits(pdf: pd.DataFrame, kernel):
    """Run a shard kernel once per shard group of ``pdf`` (postings
    blocks), yielding its non-empty outputs — the loop both the Python
    stage of _per_shard and the driver path of _spec_topk run."""
    for _, g in pdf.groupby("shard", sort=False):
        out = kernel(g)
        if len(out):
            yield out


def _block_ub(max_tf: float, min_dl: float, avgdl: float) -> float:
    """Sound per-block tf_norm upper bound under the CURRENT avgdl:
    tf/(tf + K1(1-b+b*dl/avgdl)) is increasing in tf, decreasing in dl,
    so (max_tf, min_dl) bounds every posting in the block."""
    return max_tf / (max_tf + K1 * (1.0 - B + B * min_dl / avgdl))


def _make_spec_kernel(
    specs: dict[int, ClauseSpec], idfs: dict[str, float], avgdl: float,
    k: int, tomb_ref: "np.ndarray | None" = None, chunk_size: int = 128,
):
    """The per-shard block-max kernel behind every pruned query: one
    ``{query_id: ClauseSpec}`` batch in, local top-k rows
    ``(query_id, doc_id, score)`` out. A single query is a batch of one.

    Per spec, Phase A decodes doc-id streams only and accumulates per-doc
    UB = sum over matched must+should terms of idf_t * bound(max_tf,
    min_dl, avgdl) of the block of t containing the doc (filter and
    ``terms`` postings add 0 — they gate membership, never score), plus
    per-clause match counts (one posting per (term, doc), so a count is
    the number of distinct matched terms). Docs failing the clauses
    (every must, every filter term, >= 1 per terms group, >= msm should,
    no must_not) or tombstoned (delta segments) are dropped BEFORE
    threshold selection, so a dead or failing doc neither surfaces nor
    takes a top-k-by-UB slot. Phase B: lambda = kth largest exact score
    among the top-k docs by UB; candidates = UB >= lambda, exact-scored
    from tf/dl payloads decoded only for blocks overlapping them. Scores
    accumulate in term-lexicographic order — the exact path
    (_exact_scored_bool) and the oracles add in the same order, so all
    agree bitwise. Filter-only specs score 0.0 and order by doc_id.

    ``after`` (search_after cursor, see topk_pruned): every passing doc
    scores <= cursor+eps, so UB is clamped to that cap (still an upper
    bound for passing docs); lambda is the kth best score among
    cursor-PASSING probe docs (fewer than k passing -> lambda 0, prune-
    free fallback); the final mask drops non-passing candidates.

    Memory bound: specs run in chunks of ``chunk_size`` and the decode
    caches (id streams and tf/dl payloads per (term, seg, block)) are
    shared within a chunk and CLEARED between chunks, so executor memory
    is bounded by one chunk's decoded postings, not the whole batch's.
    Measured at 2M docs / 256-query batches: chunk 128 costs ~3%
    throughput vs unchunked while halving the cache window; chunk 64
    costs ~20% — hence the 128 default."""
    from go_dcp_elasticsearch_spark.index.segments import (
        drop_tombstoned,
        resolve_tomb,
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        tomb = resolve_tomb(tomb_ref)
        per_term: dict[str, list] = {}
        for row in pdf.itertuples(index=False):
            per_term.setdefault(row.term, []).append(row)
        ids_cache: dict[tuple, np.ndarray] = {}
        payload: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}

        def ids_of(t, row):
            key = (t, row.seg, row.block_id)
            if key not in ids_cache:
                gaps = varbyte_decode(bytes(row.ids_vb))
                ids_cache[key] = np.cumsum(gaps, dtype=np.uint64).astype(np.int64)
            return ids_cache[key]

        def tfs_dls_of(t, row):
            key = (t, row.seg, row.block_id)
            if key not in payload:
                payload[key] = (
                    varbyte_decode(bytes(row.tfs_vb)).astype(np.float64),
                    varbyte_decode(bytes(row.dls_vb)).astype(np.float64),
                )
            return payload[key]

        def run(spec: ClauseSpec):
            scoring = sorted({*spec.must, *spec.should})
            must = set(spec.must)
            # clause classes: 0 = must, 1 = should, 2+g = gate g (one
            # per filter term, one per terms group; >= 1 match each)
            gates = [[t] for t in spec.filter] + [list(g) for g in spec.terms]
            ids_l, ub_l, cls_l = [], [], []

            def add(t, row, u, c):
                ids = ids_of(t, row)
                ids_l.append(ids)
                ub_l.append(np.full(len(ids), u))
                cls_l.append(np.full(len(ids), c, dtype=np.int32))

            for t in scoring:
                for row in per_term.get(t, ()):
                    u = idfs[t] * _block_ub(row.max_tf, row.min_dl, avgdl)
                    add(t, row, u, 0 if t in must else 1)
            for g, grp in enumerate(gates):
                for t in grp:
                    for row in per_term.get(t, ()):
                        add(t, row, 0.0, 2 + g)
            if not ids_l:
                return None
            uniq, inv = np.unique(np.concatenate(ids_l), return_inverse=True)
            ub = np.zeros(len(uniq))
            np.add.at(ub, inv, np.concatenate(ub_l))
            cls = np.concatenate(cls_l)

            def hits(c):
                return np.bincount(inv[cls == c], minlength=len(uniq))

            keep = np.ones(len(uniq), dtype=bool)
            if must:
                keep &= hits(0) == len(must)
            if spec.msm:
                keep &= hits(1) >= spec.msm
            for g in range(len(gates)):
                keep &= hits(2 + g) >= 1
            excl = [ids_of(t, row) for t in spec.must_not
                    for row in per_term.get(t, ())]
            if excl:
                keep &= drop_tombstoned(uniq, np.unique(np.concatenate(excl)))
            if tomb is not None and len(tomb):
                keep &= drop_tombstoned(uniq, tomb)
            uniq, ub = uniq[keep], ub[keep]
            if not len(uniq):
                return None
            after = spec.after
            if after is not None:
                ub = np.minimum(ub, float(after[0]) + AFTER_EPS)

            def exact_scores(docs: np.ndarray) -> np.ndarray:
                """Exact BM25 for a sorted doc_id subset (term-lex order)."""
                scores = np.zeros(len(docs))
                for t in scoring:
                    for row in per_term.get(t, ()):
                        ids = ids_of(t, row)
                        # skip a block no candidate overlaps
                        lo = np.searchsorted(docs, ids[0])
                        hi = np.searchsorted(docs, ids[-1], side="right")
                        if lo == hi:
                            continue
                        tfs, dls = tfs_dls_of(t, row)
                        pos = np.searchsorted(docs, ids)
                        mask = (pos < len(docs)) & (
                            docs[np.minimum(pos, len(docs) - 1)] == ids
                        )
                        tfn = tfs[mask] / (
                            tfs[mask] + K1 * (1.0 - B + B * dls[mask] / avgdl)
                        )
                        scores[pos[mask]] += idfs[t] * tfn
                return scores

            if len(uniq) <= k:
                cand = uniq
            else:
                top_by_ub = uniq[np.argsort(-ub)[:k]]
                top_by_ub.sort()
                lam_scores = exact_scores(top_by_ub)
                if after is not None:
                    # lambda must come from cursor-PASSING docs only — a
                    # non-passing probe's high score would prune the very
                    # docs this page wants
                    lam_scores = lam_scores[
                        _after_mask(lam_scores, top_by_ub, after)
                    ]
                lam = np.sort(lam_scores)[-k] if len(lam_scores) >= k else 0.0
                cand = uniq[ub >= lam - 1e-12]
            cand = np.sort(cand)
            sc = exact_scores(cand)
            if after is not None:
                pass_m = _after_mask(sc, cand, after)
                cand, sc = cand[pass_m], sc[pass_m]
            order = np.lexsort((cand, -sc))[:k]
            return cand[order], sc[order]

        out_q, out_d, out_s = [], [], []
        qids = list(specs)
        for start in range(0, len(qids), chunk_size):
            if start:
                ids_cache.clear()
                payload.clear()
            for qid in qids[start : start + chunk_size]:
                hit = run(specs[qid])
                if hit is not None:
                    out_q.append(np.full(len(hit[0]), qid, dtype=np.int64))
                    out_d.append(hit[0])
                    out_s.append(hit[1])
        if not out_q:
            return pd.DataFrame({"query_id": [], "doc_id": [], "score": []})
        return pd.DataFrame({
            "query_id": np.concatenate(out_q),
            "doc_id": np.concatenate(out_d),
            "score": np.concatenate(out_s),
        })

    return kernel
