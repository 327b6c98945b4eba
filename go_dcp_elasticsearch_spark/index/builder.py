"""SPIMI-style distributed inverted-index builder (SURVEY.md B6-B8).

Replaces the sink side of the reference pipeline: where go-dcp-elasticsearch
renders NDJSON bulk bodies and POSTs them to Elasticsearch which builds the
Lucene index (elasticsearch/bulk/bulk.go:284-318), we build the index
ourselves as columnar Parquet tables.

Pipeline (one tokenize pass; every stage a DataFrame op or Arrow UDF):

  corpus (repo, path, commit, lang, content, seq_no)
    -> last-write-wins dedup per (repo, path)        [A7, bulk.go:179-195]
    -> deterministic dense doc_id                     (range-sorted + offsets;
       no single-partition global window — scales to 10^12 rows)
    -> mapInPandas tokenize+TF                        [B6; map-side partial agg
       = SPIMI per-partition in-memory posting build]
    -> stats (n_docs, avgdl)                          [B9 inputs]
    -> per-(term, shard) group -> sorted, delta-gap + varbyte blocks with
       block-max metadata                             [B7+B8]
    -> dictionary via SALTED two-phase agg            [hot-term skew,
       north_rule; A12/A13 analogue of per-cluster fan-out]
    -> docs forward store with content_sha256         [per-row invariant]
    -> lineage + metrics rows                         [A17/A18]

Sharding: postings are partitioned by shard = doc_id % n_shards. A hot term's
posting list is therefore split across all shards (bounded reducer keys —
the build-side skew answer), and queries run shard-parallel with a cheap
global top-k merge (the ES shard model the reference relies on implicitly).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py
from go_dcp_elasticsearch_spark.plans.lineage import LineageLog
from go_dcp_elasticsearch_spark.plans.metrics import MetricsLog

# pre-encoded posting chunks emitted by the SPIMI map side: one row per
# (term, shard) per source partition, already varbyte blocks.
# Block-max metadata is (max_tf, min_dl) rather than a precomputed
# tf_norm bound: tf/(tf + K1(1-b+b*dl/avgdl)) is increasing in tf and
# decreasing in dl, so max_tf with min_dl upper-bounds every posting in
# the block under WHATEVER avgdl the query runs with — the bound is
# computed at query time, so (a) the chunk kernel needs no stats
# pre-pass (single content scan build) and (b) incremental updates that
# shift avgdl can never invalidate stored bounds.
# bump whenever the on-disk index layout changes (tables, columns, codec):
# cached-index consumers (e.g. the driver entry's /tmp oracle index) fold
# this into their invalidation fingerprint so resume=True can never serve
# an old-format index after an upgrade. The schema-based guard in
# build(resume=True) stays as the second line of defense.
# v4: dictionary is shard-partitioned partials (term, shard, df, cf) and
# stats_shards holds per-shard (n_docs, sum_dl) — incremental applies
# replace only rebuilt shards' partials instead of re-aggregating the
# whole index (O(delta) refresh).
# v5: stats_shards is a single-file table (n_shards rows; the partitioned
# layout paid the per-directory commit protocol for nothing).
# Any other version (or no _meta/index.json at all) is refused by
# read_index_meta at BM25Query open and at every maintenance entry
# (apply, compact, fold): there is no reader or upgrader for another
# layout — such an index must be rebuilt with IndexBuilder.build.
INDEX_FORMAT_VERSION = 5

CHUNK_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("shard", IntegerType(), False),
        StructField("first_doc_id", LongType(), False),
        StructField("ids_vb", BinaryType(), False),
        StructField("tfs_vb", BinaryType(), False),
        StructField("dls_vb", BinaryType(), False),
        StructField("count", IntegerType(), False),
        StructField("max_doc_id", LongType(), False),
        StructField("max_tf", LongType(), False),
        StructField("tf_sum", LongType(), False),
        StructField("min_dl", LongType(), False),
    ]
)

# sentinel term for per-doc rows carried through the chunk stream in the
# fused single-scan build: real tokens are never empty strings
DOC_SENTINEL = ""


def shard_of(doc_id: int, n_docs: int, n_shards: int) -> int:
    """Range sharding: shard = contiguous doc_id range (not modulo).

    Contiguity is what makes the SPIMI merge a concatenation: doc ids are
    assigned per source partition as contiguous ranges, so each (term,
    shard, partition) chunk covers a disjoint id range and the reduce side
    never decodes — it just orders chunks by first_doc_id.
    """
    return min(doc_id * n_shards // max(n_docs, 1), n_shards - 1)

POSTINGS_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("shard", IntegerType(), False),
        StructField("block_id", IntegerType(), False),
        StructField("ids_vb", BinaryType(), False),
        StructField("tfs_vb", BinaryType(), False),
        StructField("dls_vb", BinaryType(), False),
        StructField("count", IntegerType(), False),
        StructField("max_doc_id", LongType(), False),
        StructField("max_tf", LongType(), False),
        StructField("tf_sum", LongType(), False),
        StructField("min_dl", LongType(), False),
    ]
)


# dictionary partials (term, df, cf) per shard partition: written by the
# build's dictionary stage and re-derived per shard by every maintenance
# path (changes._rewrite_dictionary_partials); df/cf are sums of the
# postings' block count/tf_sum
DICTIONARY_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("df", LongType(), True),
        StructField("cf", LongType(), True),
        StructField("shard", IntegerType(), True),
    ]
)


@dataclass
class IndexPaths:
    root: str

    @property
    def docs(self) -> str:
        return f"{self.root}/docs"

    @property
    def postings(self) -> str:
        return f"{self.root}/postings"

    @property
    def dictionary(self) -> str:
        return f"{self.root}/dictionary"

    @property
    def stats_shards(self) -> str:
        return f"{self.root}/stats_shards"

    @property
    def delta_root(self) -> str:
        """Delta-segment area (Lucene-style small segments + tombstones
        appended by O(changed-docs) incremental applies; folded into the
        base layout by compact_index). See index.segments."""
        return f"{self.root}/delta"

    @property
    def delta_postings(self) -> str:
        return f"{self.root}/delta/postings"

    @property
    def delta_docs(self) -> str:
        return f"{self.root}/delta/docs"

    @property
    def positions(self) -> str:
        """Positional-postings sidecar (opt-in, IndexBuilder
        positions=True). See index.positions."""
        return f"{self.root}/positions"

    @property
    def positions_meta(self) -> str:
        return f"{self.root}/positions/_meta.json"

    @property
    def meta(self) -> str:
        return f"{self.root}/_meta/index.json"

    @property
    def lineage(self) -> str:
        return f"{self.root}/_lineage"

    @property
    def metrics(self) -> str:
        return f"{self.root}/_metrics"

    @property
    def rejects(self) -> str:
        return f"{self.root}/_rejects"


def assign_doc_ids(
    corpus: DataFrame,
    n_range_parts: int = 32,
    persist: bool = False,
    dedup_order_col: str | None = None,
) -> DataFrame:
    """Deterministic dense doc_id = rank of (repo, path) in global sort order.

    Scalable variant of ``row_number() OVER (ORDER BY repo, path)``: a global
    window would funnel 10^12 rows through ONE partition. Instead:
    range-partition on the key, sort within partitions, count rows per
    partition (tiny agg), broadcast cumulative offsets, add local index.
    Same semantics, no single-reducer stage.

    ``dedup_order_col``: when set, last-write-wins dedup (A7) is FUSED into
    this pass — range partitioning co-locates equal keys just like the
    dedup window's hash partitioning would, so sorting (repo, path,
    order_col DESC) and keeping the first row per key inside the same
    shuffle replaces a whole separate shuffle+sort of the corpus.

    ``persist=True`` caches the shuffled+sorted intermediate so the count
    pass and the id pass (and every downstream consumer) share one
    materialization instead of recomputing the upstream lineage.
    """
    if dedup_order_col:
        keyed = corpus.repartitionByRange(
            n_range_parts, "repo", "path"
        ).sortWithinPartitions("repo", "path", F.col(dedup_order_col).desc())
    else:
        keyed = corpus.repartitionByRange(n_range_parts, "repo", "path").sortWithinPartitions(
            "repo", "path"
        )
    keyed = keyed.withColumn("_pid", F.spark_partition_id())
    if persist:
        keyed = keyed.persist()
    # tiny agg: one post-dedup count per range partition (materializes the
    # persist); count_distinct on the key == rows surviving LWW
    if dedup_order_col:
        agg = F.count_distinct(F.col("repo"), F.col("path")).alias("c")
    else:
        agg = F.count("*").alias("c")
    counts = {r["_pid"]: r["c"] for r in keyed.groupBy("_pid").agg(agg).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = StructType(corpus.schema.fields + [StructField("doc_id", LongType(), False)])
    do_dedup = bool(dedup_order_col)

    def add_ids(iterator):
        base = None
        seen = 0
        prev_key = None
        for pdf in iterator:
            if base is None:
                base = offsets[int(pdf["_pid"].iloc[0])] if len(pdf) else 0
            pdf = pdf.drop(columns=["_pid"])
            if do_dedup and len(pdf):
                # keep first row per (repo, path): rows arrive key-sorted
                # with order_col DESC, so first == newest (bulk.go:179-195)
                keys = pdf["repo"].str.cat(pdf["path"], sep="\x00")
                keep = keys.ne(keys.shift())
                if prev_key is not None and len(keys):
                    keep.iloc[0] = keys.iloc[0] != prev_key
                prev_key = keys.iloc[-1] if len(keys) else prev_key
                pdf = pdf[keep.to_numpy()]
            pdf = pdf.copy()
            pdf["doc_id"] = range(base + seen, base + seen + len(pdf))
            seen += len(pdf)
            yield pdf

    out = keyed.mapInPandas(add_ids, schema=out_schema)
    out._keyed_source = keyed  # handle for unpersist by the caller
    out._n_docs = acc  # total row count, already known from the offsets agg
    out._offsets = offsets  # per-partition id bases (fused-kernel reuse)
    return out


def assign_doc_ids_input_order(corpus: DataFrame) -> DataFrame:
    """Shuffle-free deterministic doc_id = position in the table's own
    row order.

    The scale path for append-only corpora with unique keys (the common
    case: an Iceberg snapshot of a file table): a 10^12-row global re-sort
    just to mint ids is wasted work — the table's existing file/row order
    is already deterministic, so ids come from per-partition offsets and
    the corpus is NEVER shuffled or cached; downstream stages re-scan the
    (column-pruned, splittable) source instead. Requires: no duplicate
    keys (use the sorted path with dedup_order_col otherwise).
    """
    keyed = corpus.withColumn("_pid", F.spark_partition_id())
    # pruned count job: scans one synthetic column, not the content
    counts = {
        r["_pid"]: r["c"]
        for r in keyed.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = StructType(corpus.schema.fields + [StructField("doc_id", LongType(), False)])

    def add_ids(iterator):
        base = None
        seen = 0
        for pdf in iterator:
            if base is None:
                base = offsets[int(pdf["_pid"].iloc[0])] if len(pdf) else 0
            pdf = pdf.drop(columns=["_pid"])
            pdf["doc_id"] = range(base + seen, base + seen + len(pdf))
            seen += len(pdf)
            yield pdf

    out = keyed.mapInPandas(add_ids, schema=out_schema)
    out._keyed_source = None
    out._n_docs = acc
    out._offsets = offsets  # per-partition id bases (fused-kernel reuse)
    return out


def inject_field_terms(counters, pdf, field_cols) -> None:
    """Add one synthetic keyword-field posting per (doc, field) to each
    doc's term counter: ``col:value`` with the raw value lowercased (ES
    keyword-field semantics — NOT analyzed). The ``:`` separator can
    never appear in an analyzed content token ([a-z0-9]+), so the field
    namespace cannot collide with text terms. MUST be called AFTER
    doc_len extraction: field terms are filter-context postings (tf=1)
    and must not perturb dl/avgdl/BM25 stats. NULL/NaN values emit no
    posting (the doc simply has no value for that field)."""
    for col in field_cols or ():
        for c, v in zip(counters, pdf[col]):
            if v is None or (isinstance(v, float) and pd.isna(v)):
                continue
            c[f"{col}:{str(v).lower()}"] = 1


def posting_chunks_fixed_shard_with_sentinels(field_cols=None):
    """posting_chunks_fixed_shard + per-doc DOC_SENTINEL rows (sha256 +
    doc_len) — the routing-mode arm of the fused single-scan build."""
    return posting_chunks_fixed_shard(
        with_doc_sentinels=True, field_cols=field_cols
    )


def _chunk_partition(batches, *, fixed_shard: bool, n_docs: int | None,
                     n_shards: int | None, with_doc_sentinels: bool,
                     field_cols: list[str] | None,
                     meta_cols: list[str] | None = None):
    """ONE implementation of the SPIMI chunk pass shared by every chunk
    kernel (r7 refactor): consume an iterable of pandas batches that
    already carry ``doc_id`` + ``content`` (+ ``shard`` when
    ``fixed_shard``), accumulate the partition's postings, and yield the
    encoded CHUNK_SCHEMA frame (posting blocks via the cross-group bulk
    encoder, plus per-doc sentinels when requested).

    ``meta_cols`` (r7, docs-stage fusion): extra per-doc columns copied
    verbatim from the input batch onto each DOC_SENTINEL row (null on
    posting rows) — the docs table then projects straight off the
    sentinel stream instead of re-scanning the source for metadata and
    sort-merge-joining it back on doc_id.

    ``fixed_shard=True`` trusts the precomputed shard column (incremental
    rebuilds, routing placement) and lexsorts by (term, shard, doc_id);
    otherwise shards come from the doc-id range formula and a stable sort
    by term suffices (ids already ascend within the partition)."""
    import hashlib

    from collections import Counter
    from itertools import chain

    import numpy as np

    from go_dcp_elasticsearch_spark.functions.codec import (
        encode_blocks_grouped,
    )

    term_parts: list[list[str]] = []
    did_parts, tf_parts, dl_parts, sh_parts = [], [], [], []
    sents = []
    for pdf in batches:
        if fixed_shard:
            pdf = pdf.sort_values("doc_id")
        counters = [Counter(tokenize_py(c)) for c in pdf["content"]]
        # doc_len BEFORE field-term injection: keyword-field postings
        # must not perturb dl/avgdl (they are filter terms, never scored)
        doc_lens = np.fromiter(
            (sum(c.values()) for c in counters), dtype=np.int64, count=len(counters)
        )
        inject_field_terms(counters, pdf, field_cols)
        sizes = np.fromiter(
            (len(c) for c in counters), dtype=np.int64, count=len(counters)
        )
        n = int(sizes.sum())
        term_parts.append(list(chain.from_iterable(c.keys() for c in counters)))
        tf_parts.append(
            np.fromiter(
                chain.from_iterable(c.values() for c in counters),
                dtype=np.int64, count=n,
            )
        )
        batch_ids = pdf["doc_id"].to_numpy()
        if fixed_shard:
            batch_sh = pdf["shard"].to_numpy().astype(np.int32)
            sh_parts.append(np.repeat(batch_sh, sizes))
        else:
            batch_sh = np.minimum(
                batch_ids * n_shards // max(n_docs, 1), n_shards - 1
            ).astype(np.int32)
        did_parts.append(np.repeat(batch_ids, sizes))
        dl_parts.append(np.repeat(doc_lens, sizes))
        if with_doc_sentinels:
            shas = [
                hashlib.sha256(c.encode("utf-8")).hexdigest().encode("ascii")
                for c in pdf["content"]
            ]
            sent = pd.DataFrame({
                "term": DOC_SENTINEL,
                "shard": batch_sh,
                "first_doc_id": batch_ids,
                "ids_vb": shas,
                "tfs_vb": b"",
                "dls_vb": b"",
                "count": doc_lens.astype(np.int32),
                "max_doc_id": batch_ids,
                "max_tf": 0,
                "tf_sum": 0,
                "min_dl": doc_lens,
            })
            for c in meta_cols or ():
                # to_numpy: positional copy — a Series would realign on
                # pdf's (dedup-filtered) index and scramble rows
                sent[c] = pdf[c].to_numpy()
            sents.append(sent)
    if not did_parts:
        return
    dids = np.concatenate(did_parts)
    if len(dids) == 0:
        # every doc in the partition tokenized to nothing: no posting
        # rows, but the doc sentinels (sha256 + doc_len 0) must still
        # flow — they are the docs-table source in the fused build
        if sents:
            yield pd.concat(sents, ignore_index=True)
        return
    terms = pd.Series(list(chain.from_iterable(term_parts)))
    tfs = np.concatenate(tf_parts)
    dls = np.concatenate(dl_parts)
    codes, uniq_terms = pd.factorize(terms, sort=False)
    if fixed_shard:
        shards = np.concatenate(sh_parts)
        order = np.lexsort((dids, shards, codes))
        codes, dids, tfs, dls, shards = (
            codes[order], dids[order], tfs[order], dls[order], shards[order]
        )
    else:
        # doc ids ascend within the partition already; stable-sort by
        # term code keeps them ascending within each term group
        order = np.argsort(codes, kind="stable")
        codes, dids, tfs, dls = codes[order], dids[order], tfs[order], dls[order]
        shards = np.minimum(dids * n_shards // max(n_docs, 1), n_shards - 1).astype(
            np.int32
        )
    change = np.empty(len(codes), dtype=bool)
    change[0] = True
    change[1:] = (codes[1:] != codes[:-1]) | (shards[1:] != shards[:-1])
    starts = np.nonzero(change)[0]
    ends = np.append(starts[1:], len(codes))
    blk = encode_blocks_grouped(starts, ends, dids, tfs, dls)
    bs = blk["bstarts"]
    out = pd.DataFrame({
        "term": np.asarray(uniq_terms)[codes[bs]],
        "shard": shards[bs].astype(np.int32),
        "first_doc_id": blk["first_doc_id"],
        "ids_vb": blk["ids_vb"],
        "tfs_vb": blk["tfs_vb"],
        "dls_vb": blk["dls_vb"],
        "count": blk["count"].astype(np.int32),
        "max_doc_id": blk["max_doc_id"],
        "max_tf": blk["max_tf"],
        "tf_sum": blk["tf_sum"],
        "min_dl": blk["min_dl"],
    })
    for c in meta_cols or ():
        out[c] = None  # posting rows carry no doc metadata
    if sents:
        out = pd.concat([out, *sents], ignore_index=True)
    yield out


def posting_chunks_fixed_shard(with_doc_sentinels: bool = False,
                               field_cols: list[str] | None = None):
    """Chunk kernel that trusts a precomputed ``shard`` COLUMN instead of
    deriving shards from the doc-id range formula — used by (a) incremental
    rebuilds, where shard assignments are preserved from the original
    build, and (b) routing-placed indexes, where shard = hash(routing).
    The lexsort in the shared impl — rather than a stable sort by term
    alone — is what keeps (term, shard) groups contiguous with ascending
    ids when the shard column is NOT monotone in doc_id, e.g. hash routing.
    ``field_cols``: keyword-field postings are re-emitted for the rebuilt
    docs (incremental applies read them from _meta, so the field
    namespace stays consistent with the original build)."""

    def kernel(iterator):
        yield from _chunk_partition(
            iterator, fixed_shard=True, n_docs=None, n_shards=None,
            with_doc_sentinels=with_doc_sentinels, field_cols=field_cols,
        )

    return kernel


def fused_ids_chunks(
    offsets: dict[int, int],
    n_docs: int,
    n_shards: int,
    *,
    dedup: bool = False,
    fixed_shard: bool = False,
    field_cols: list[str] | None = None,
    meta_cols: list[str] | None = None,
):
    """Doc-id assignment FUSED into the chunk kernel (r7): chaining two
    mapInPandas operators in one stage (add_ids -> chunks) paid a
    JVM->Python->JVM->Python round trip of the full content per batch —
    measured 83 s vs 12 s for the identical work in ONE Python pass at 1M
    docs. Input batches carry ``_pid`` + ``content`` (+ ``repo``/``path``
    when ``dedup``, + ``shard`` when ``fixed_shard``); ids are the same
    offsets[pid] + running-index assignment as assign_doc_ids/
    assign_doc_ids_input_order (bit-identical: same offsets dict, same
    batch order over the same partitions), LWW dedup keeps the first row
    per key exactly like assign_doc_ids' fused dedup. Emits sentinels
    always (this is the build's single content pass)."""

    def kernel(iterator):
        def with_ids(it):
            base = None
            seen = 0
            prev_key = None
            for pdf in it:
                if base is None:
                    base = offsets[int(pdf["_pid"].iloc[0])] if len(pdf) else 0
                if dedup and len(pdf):
                    # keep first row per (repo, path): rows arrive
                    # key-sorted with order_col DESC, so first == newest
                    keys = pdf["repo"].str.cat(pdf["path"], sep="\x00")
                    keep = keys.ne(keys.shift())
                    if prev_key is not None and len(keys):
                        keep.iloc[0] = keys.iloc[0] != prev_key
                    prev_key = keys.iloc[-1] if len(keys) else prev_key
                    pdf = pdf[keep.to_numpy()]
                pdf = pdf.copy()
                pdf["doc_id"] = range(base + seen, base + seen + len(pdf))
                seen += len(pdf)
                yield pdf

        yield from _chunk_partition(
            with_ids(iterator), fixed_shard=fixed_shard, n_docs=n_docs,
            n_shards=n_shards, with_doc_sentinels=True, field_cols=field_cols,
            meta_cols=meta_cols,
        )

    return kernel


#: Spark SQL type names accepted for docvalue (range-filterable) columns
NUMERIC_DOCVALUE_TYPES = (
    "byte", "short", "int", "integer", "long", "bigint",
    "float", "double",
)


def _validate_docvalue_cols(df: DataFrame, cols: list[str], op: str) -> None:
    """Fail fast (driver-side, zero jobs) when a docvalue column is
    missing from ``df`` or is not a plain numeric type — a late
    AnalysisException inside a write stage would otherwise surface after
    real work was done."""
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c in cols:
        if c not in by_name:
            raise ValueError(
                f"{op}: docvalue column {c!r} missing from the corpus "
                f"(columns: {sorted(by_name)})"
            )
        if by_name[c] not in NUMERIC_DOCVALUE_TYPES:
            raise ValueError(
                f"{op}: docvalue column {c!r} must be numeric "
                f"({'/'.join(NUMERIC_DOCVALUE_TYPES)}), got {by_name[c]}"
            )


def read_index_meta(spark, index_dir: str) -> dict:
    """The index's durable build configuration (``_meta/index.json``,
    Hadoop FS): format_version, routing_col + routing modulus, id_mode.

    Also the index's ONE format gate: raises ValueError when the file is
    missing or its format_version is not INDEX_FORMAT_VERSION. Called
    before any read or write at BM25Query open and at every maintenance
    entry; one small FS read, no Spark job."""
    import json

    from go_dcp_elasticsearch_spark.fsutil import exists, read_file

    index_dir = index_dir.rstrip("/")
    path = f"{index_dir}/_meta/index.json"
    meta = json.loads(read_file(spark, path)) if exists(spark, path) else {}
    found = meta.get("format_version")
    if found != INDEX_FORMAT_VERSION:
        raise ValueError(
            f"index {index_dir}: on-disk format version "
            f"{'none' if found is None else found}, expected "
            f"{INDEX_FORMAT_VERSION}; rebuild it with IndexBuilder.build"
        )
    return meta


#: stats partials table (``stats_shards``): one row per shard
STATS_SCHEMA = "shard int, n_docs long, sum_dl long"


def write_stats_tables(
    spark, paths: IndexPaths, partials: dict[int, tuple[int, int]]
) -> tuple[int, float]:
    """Write the stats partials table (``stats_shards``: one row per
    shard, (n_docs, sum_dl)) — the SINGLE source of truth for corpus
    stats; the global (n_docs, avgdl) is derived from it at read time
    (read_global_stats), never stored separately.

    Two deliberate write-economy choices, both measured: the table is one
    file rewritten wholesale (a shard-partitioned layout pays the
    partitioned-commit protocol per directory for pruning that buys
    nothing on n_shards rows), and there is no second "global stats"
    table (every extra tiny-table write is a full commit round-trip —
    ~0.3 s locally, worse on object stores, and it doubled under an
    IO-pressured host). The O(delta) property of incremental refresh
    lives in how the NEW partial VALUES are computed (partition-pruned
    reads of only the rebuilt shards), not in this write.
    Returns (n_docs, avgdl)."""
    from go_dcp_elasticsearch_spark.session import tiny_df

    rows = [(int(s), int(n), int(sd)) for s, (n, sd) in sorted(partials.items())]
    tiny_df(spark, rows, STATS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(paths.stats_shards)
    return stats_from_partials(partials)


def stats_from_partials(parts: dict[int, tuple[int, int]]) -> tuple[int, float]:
    """(n_docs, avgdl) from a partials dict — the ONE place the global
    stats derivation lives (write_stats_tables, read_global_stats and
    BM25Query.refresh all fold through here)."""
    n_docs = sum(n for n, _ in parts.values())
    sum_dl = sum(sd for _, sd in parts.values())
    return n_docs, (sum_dl / n_docs) if n_docs else 0.0


def read_stats_partials(spark, paths: IndexPaths) -> dict[int, tuple[int, int]]:
    """Current stats partials as {shard: (n_docs, sum_dl)} — n_shards tiny
    rows, driver-side, one schema-given read job."""
    return {
        int(r["shard"]): (int(r["n_docs"]), int(r["sum_dl"]))
        for r in spark.read.schema(STATS_SCHEMA).parquet(paths.stats_shards).collect()
    }


def read_global_stats(spark, paths: IndexPaths) -> tuple[int, float]:
    """(n_docs, avgdl) derived from the stats partials (n_shards tiny
    rows)."""
    return stats_from_partials(read_stats_partials(spark, paths))


def global_dictionary(spark, index_dir: str) -> DataFrame:
    """(term, df, cf) global view over the shard-partitioned dictionary
    partials (sum across shards)."""
    d = spark.read.schema(DICTIONARY_SCHEMA).parquet(
        f"{index_dir.rstrip('/')}/dictionary"
    )
    return d.groupBy("term").agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))


def dedup_last_write_wins(corpus: DataFrame) -> DataFrame:
    """A7: one action per key, newest wins (bulk.go:179-195,596-608).

    The reference replaces an earlier batch entry in place when the same
    action key re-arrives; relationally that is row_number()=1 over the key
    ordered by the ordering authority (seq_no) descending.
    """
    w = Window.partitionBy("repo", "path").orderBy(F.col("seq_no").desc())
    return (
        corpus.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        n_shards: int = 8,
        n_salts: int = 8,
        salt_df_threshold: int = 10_000,
        index_name: str = "default",
        id_mode: str = "sorted",
        routing_col: str | None = None,
        n_range_parts: int | None = None,
        field_cols: list[str] | None = None,
        docvalue_cols: list[str] | None = None,
        positions: bool = False,
    ):
        """``id_mode``:
        - "sorted" (default): doc_id = rank of (repo, path) in global sort
          order, LWW dedup fused into the one corpus shuffle. Semantic
          parity with the reference's keyed upsert stream.
        - "input": doc_id = table row position; NO corpus shuffle and no
          cache — downstream stages re-scan the columnar source. The
          append-only / unique-key scale path.

        ``routing_col``: B5 routing-driven placement — shard =
        pmod(hash(routing), n_shards) instead of the doc-id range formula,
        so all docs sharing a routing value land in ONE shard (the
        Elasticsearch routing semantics the reference forwards via the
        bulk envelope, bulk.go:246-249). Queries are unchanged; per-shard
        kernels and the global merge only need shards to partition docs.

        ``n_range_parts``: partition count for the sorted-id corpus
        shuffle. Default: the session's shuffle partitions (a FIXED small
        constant would mean multi-TB range partitions at 10^12 rows).

        ``field_cols``: keyword-field indexing (the ES keyword-mapping
        analogue) — for each listed corpus column, every doc gets one
        synthetic posting ``col:value`` (value lowercased, NOT analyzed)
        in the same inverted index, making metadata filterable via
        BM25Query.topk_bool(filter="col:value") at posting-list cost.
        Field postings carry tf=1 and do NOT affect dl/avgdl/BM25 stats;
        the ``:`` separator keeps the namespace disjoint from analyzed
        content tokens ([a-z0-9]+), and term expansions (prefix/fuzzy/
        wildcard) skip it. Recorded in _meta so incremental applies
        maintain the field postings for changed docs.

        ``docvalue_cols``: NUMERIC doc-values (the ES BKD/doc_values
        analogue for range queries) — each listed corpus column is
        carried verbatim into the docs table, columnar and partition-
        pruned, so BM25Query.topk_bool(range={col: {gte/gt/lte/lt}})
        evaluates the bound as a pushed parquet predicate on the docs
        scan and intersects it with the scored candidates (ES evaluates
        a range query against the BKD doc-id set the same way). Numeric
        types are validated at build; recorded in _meta so both
        incremental apply paths preserve the values for changed docs.
        Postings, dl/avgdl and scores are bit-identical with and
        without doc-values — they live only in the forward store.

        ``positions``: write the positional sidecar (the ES
        ``index_options: positions`` analogue — see index.positions) so
        ``topk_phrase`` runs INDEX-ONLY, no source table. Opt-in: it
        costs one extra column-pruned content scan + tokenize pass at
        build, is MAINTAINED by rebuild-strategy applies (shard-scoped
        re-derivation), and is INVALIDATED by delta-segment applies and
        folds (freshness marker vs the lineage epoch) — phrase then
        falls back to requiring ``source`` until the next build.
        """
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        self.n_shards = n_shards
        self.n_salts = n_salts
        self.salt_df_threshold = salt_df_threshold
        self.index_name = index_name
        if id_mode not in ("sorted", "input"):
            raise ValueError(f"id_mode must be 'sorted' or 'input', got {id_mode!r}")
        self.id_mode = id_mode
        self.routing_col = routing_col
        self.n_range_parts = n_range_parts
        import re as _re

        for c in field_cols or ():
            if not _re.fullmatch(r"[a-z][a-z0-9_]*", c) or c == "content":
                raise ValueError(
                    f"field_cols entries must be lowercase identifiers "
                    f"(not 'content'), got {c!r}"
                )
        self.field_cols = list(field_cols or [])
        reserved = {"doc_id", "content", "content_sha256", "doc_len",
                    "shard", "seq_no", "repo", "path", "commit", "lang"}
        for c in docvalue_cols or ():
            if not _re.fullmatch(r"[a-z][a-z0-9_]*", c) or c in reserved:
                raise ValueError(
                    f"docvalue_cols entries must be lowercase identifiers "
                    f"outside the reserved docs-table columns {sorted(reserved)}, "
                    f"got {c!r}"
                )
        self.docvalue_cols = list(docvalue_cols or [])
        self.positions = bool(positions)
        self.lineage = LineageLog(spark, self.paths.lineage)
        self.metrics = MetricsLog(spark, self.paths.metrics)

    # ---- stage kernels ----

    def _posting_chunks(self, n_docs: int, with_doc_sentinels: bool = False,
                        field_cols: list[str] | None = None):
        """SPIMI map side proper: per source partition, build LOCAL posting
        lists and emit them pre-encoded (varbyte blocks), one row per
        (term, shard, block).

        This is the decisive shuffle-volume lever: raw (term, doc_id, tf,
        dl) rows cost ~40 B per posting; a local chunk costs ~2-4 B per
        posting. Hot terms collapse from one shuffle row per document to
        one row per (partition, shard, block). Doc ids are contiguous per
        partition (assign_doc_ids) and shards are contiguous ranges, so
        chunks of one (term, shard) never interleave — the reduce side
        concatenates, it does not re-encode.

        ``with_doc_sentinels``: ALSO emit one DOC_SENTINEL row per doc
        carrying (doc_id, sha256(content), doc_len) — the fused build
        derives the docs forward store from the same single content scan
        (the reference reads each document once too; a second JVM
        tokenize+sha pass was ~15% of build time and doubled the scan).
        """
        n_shards = self.n_shards

        def kernel(iterator):
            yield from _chunk_partition(
                iterator, fixed_shard=False, n_docs=n_docs,
                n_shards=n_shards, with_doc_sentinels=with_doc_sentinels,
                field_cols=field_cols,
            )

        return kernel

    def _merge_chunks(self):
        """SPIMI reduce side: order each (term, shard) group's chunks by
        first_doc_id and assign sequential block_ids. Chunks are disjoint
        ranges, so no decoding — except small fragmented lists (total
        postings < BLOCK_SIZE across >1 chunk), which are re-encoded into
        one dense block to keep block fill healthy for rare terms."""
        cols = [f.name for f in POSTINGS_SCHEMA.fields]

        def kernel(iterator):
            import numpy as np

            from go_dcp_elasticsearch_spark.functions.codec import (
                encode_blocks_bulk,
                varbyte_decode,
            )

            pdfs = list(iterator)
            if not pdfs:
                return
            pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
            if len(pdf) == 0:
                return
            codes, _ = pd.factorize(pdf["term"], sort=False)
            shards = pdf["shard"].to_numpy()
            firsts = pdf["first_doc_id"].to_numpy()
            order = np.lexsort((firsts, shards, codes))
            pdf = pdf.iloc[order]
            codes = codes[order]
            shards = shards[order]
            counts = pdf["count"].to_numpy()
            change = np.empty(len(codes), dtype=bool)
            change[0] = True
            change[1:] = (codes[1:] != codes[:-1]) | (shards[1:] != shards[:-1])
            starts = np.nonzero(change)[0]
            ends = np.append(starts[1:], len(codes))
            rows = []
            terms_arr = pdf["term"].to_numpy()
            col_ids = pdf["ids_vb"].to_numpy()
            col_tfs = pdf["tfs_vb"].to_numpy()
            col_dls = pdf["dls_vb"].to_numpy()
            col_maxid = pdf["max_doc_id"].to_numpy()
            col_maxtf = pdf["max_tf"].to_numpy()
            col_tfsum = pdf["tf_sum"].to_numpy()
            col_mindl = pdf["min_dl"].to_numpy()
            for s, e in zip(starts, ends):
                t, sh = terms_arr[s], int(shards[s])
                total = int(counts[s:e].sum())
                if e - s > 1 and total <= 2 * 128:
                    # fragmented rare term: densify into full blocks
                    ids = np.concatenate(
                        [np.cumsum(varbyte_decode(bytes(col_ids[i])), dtype=np.uint64)
                         for i in range(s, e)]
                    )
                    tfs = np.concatenate(
                        [varbyte_decode(bytes(col_tfs[i])) for i in range(s, e)]
                    )
                    dls = np.concatenate(
                        [varbyte_decode(bytes(col_dls[i])) for i in range(s, e)]
                    )
                    # chunks ordered by first_doc_id are NOT globally sorted
                    # when chunk id-ranges overlap (incremental rebuilds
                    # hash-join the shard corpus, so one partition is not a
                    # contiguous id range); encode_blocks_bulk requires
                    # sorted ids for valid delta gaps / block bounds
                    if np.any(ids[1:] < ids[:-1]):
                        o = np.argsort(ids, kind="stable")
                        ids, tfs, dls = ids[o], tfs[o], dls[o]
                    from go_dcp_elasticsearch_spark.functions.codec import BLOCK_SIZE

                    blocks = encode_blocks_bulk(ids, tfs, dls)
                    mindl = np.minimum.reduceat(
                        dls.astype(np.int64), np.arange(0, len(ids), BLOCK_SIZE)
                    )
                    for bi, (ids_vb, tfs_vb, dls_vb, cnt, max_id, max_tf, tf_sum) in enumerate(
                        blocks
                    ):
                        rows.append(
                            (t, sh, bi, ids_vb, tfs_vb, dls_vb, cnt, max_id, max_tf,
                             tf_sum, int(mindl[bi]))
                        )
                else:
                    for bi, i in enumerate(range(s, e)):
                        rows.append(
                            (t, sh, bi, col_ids[i], col_tfs[i], col_dls[i], int(counts[i]),
                             int(col_maxid[i]), int(col_maxtf[i]), int(col_tfsum[i]),
                             int(col_mindl[i]))
                        )
            yield pd.DataFrame(rows, columns=cols)

        return kernel

    def salted_dictionary(self, tf_rows: DataFrame) -> DataFrame:
        """Dictionary (term, df, cf) via explicit salted two-phase aggregation.

        north_rule requires explicit skew handling beyond AQE: hot terms
        (df over the whole corpus can be ~n_docs) would otherwise route one
        reducer key to one task. Phase 1 groups by (term, salt=doc_id %
        n_salts) — partial map-side-combined aggregates; phase 2 merges the
        at-most-n_salts partials per term. Reducer key fan-in is bounded by
        construction, not by runtime luck.
        """
        salted = tf_rows.withColumn(
            "_salt", (F.col("doc_id") % F.lit(self.n_salts)).cast("int")
        )
        partial = salted.groupBy("term", "_salt").agg(
            F.count("*").alias("_df"), F.sum("tf").alias("_cf")
        )
        return partial.groupBy("term").agg(
            F.sum("_df").alias("df"), F.sum("_cf").alias("cf")
        )

    # ---- main entry ----

    def build(self, corpus: DataFrame, resume: bool = False) -> dict:
        """Run the full build. Returns summary dict.

        Stage outputs land as deterministic partition overwrites; a lineage
        row commits after each stage (the analogue of ack-gated manual DCP
        checkpointing, connector.go:186 + bulk.go:320-332). ``resume=True``
        skips stages whose lineage rows exist (idempotent re-run).
        """
        from go_dcp_elasticsearch_spark.sources.changes import _phase_tracer

        trace = _phase_tracer("build")
        t0 = time.time()
        if self.docvalue_cols:
            _validate_docvalue_cols(corpus, self.docvalue_cols, "build")
        done = self.lineage.completed_stages() if resume else set()
        if done:
            # format guard: never resume into an index laid out by an older
            # build (pre-min_dl block metadata) — rebuild it instead
            try:
                pf = set(
                    self.spark.read.parquet(self.paths.postings).schema.fieldNames()
                )
                if "min_dl" not in pf:
                    done = set()
            except Exception:
                done = set()
        if "dictionary" in done:
            # v4 layout guard: dictionary must be shard-partitioned partials
            try:
                if "shard" not in self.spark.read.parquet(
                    self.paths.dictionary
                ).schema.fieldNames():
                    done.discard("dictionary")
            except Exception:
                done.discard("dictionary")
        if "stats" in done:
            from go_dcp_elasticsearch_spark.fsutil import exists

            if not exists(self.spark, self.paths.stats_shards):
                done.discard("stats")

        if self.id_mode == "input":
            # shuffle-free scale path: two column-pruned scans of the
            # source replace shuffle + cache of the whole corpus
            corpus_ids = assign_doc_ids_input_order(corpus)
        else:
            # ONE shuffle+sort of the corpus (LWW dedup fused into it),
            # persisted; every stage below reads the cached sorted rows.
            if "seq_no" not in corpus.columns:
                corpus = corpus.withColumn("seq_no", F.lit(0))
            n_range = self.n_range_parts or max(
                int(self.spark.conf.get("spark.sql.shuffle.partitions", "32")), 8
            )
            corpus_ids = assign_doc_ids(
                corpus, n_range_parts=n_range, persist=True, dedup_order_col="seq_no"
            )
        n_docs = corpus_ids._n_docs
        trace("assign_ids")
        if self.routing_col:
            # B5: routing-driven placement — co-route docs into one shard
            shard_expr = F.pmod(
                F.hash(F.col(self.routing_col)), F.lit(self.n_shards)
            ).cast("int")
        else:
            # integer DIV (not double /): exact at 10^12-scale ids where
            # doubles lose integer precision past 2^53
            shard_expr = F.expr(
                f"least(CAST((doc_id * {self.n_shards}) DIV {max(n_docs, 1)} AS INT), "
                f"{self.n_shards - 1})"
            )

        # ---- fused single content scan: ONE tokenize pass emits both the
        # pre-encoded posting chunks AND per-doc sentinel rows (sha256 +
        # doc_len); docs and postings are two cheap consumers of the
        # persisted (chunk-sized, content-free) intermediate. The old
        # two-pass shape re-scanned and re-tokenized the whole corpus for
        # the docs table — ~15% of build wall time and double the IO.
        # r7: doc-id assignment is fused INTO the chunk kernel — the
        # previous shape chained two mapInPandas operators (add_ids ->
        # chunks) in one stage, and the per-batch JVM<->Python round trip
        # of the full content between them cost ~6x the useful Python
        # work at 1M docs (measured 83 s vs 12 s for one fused pass). The
        # ids are bit-identical: same per-partition offsets dict, same
        # batch order over the same source partitions (sorted mode reads
        # the PERSISTED keyed shuffle output; input mode the same
        # deterministic scan the pruned meta pass re-reads).
        # r7 (docs-stage fusion): the doc metadata columns ride INTO the
        # chunk kernel and come back on the DOC_SENTINEL rows, so the docs
        # table is a straight projection of the sentinel stream. The old
        # shape re-assigned ids over a second (pruned) source scan and
        # sort-merge-joined metadata back on doc_id — one extra Python
        # pass + two exchanges + sorts of n_docs rows per build, and in
        # input mode it leaned on the two scans splitting identically;
        # the fused shape takes ids and metadata from the SAME rows.
        meta_cols = ["repo", "path", "commit", "lang", *self.docvalue_cols]
        all_rows = None
        if "docs" not in done or "postings" not in done:
            if self.id_mode == "input":
                chunks_src = corpus.withColumn("_pid", F.spark_partition_id())
                dedup_fuse = False
            else:
                chunks_src = corpus_ids._keyed_source  # persisted keyed frame
                dedup_fuse = True
            sel = ["_pid", "content", *self.field_cols]
            if dedup_fuse:
                sel = ["_pid", "repo", "path", "content", *self.field_cols]
            # ordered-unique: meta cols may overlap key/field cols
            sel += [c for c in meta_cols if c not in sel]
            chunk_schema = StructType(
                CHUNK_SCHEMA.fields
                + [
                    StructField(c, corpus.schema[c].dataType, True)
                    for c in meta_cols
                ]
            )
            if self.routing_col:
                src = chunks_src.select(*sel, shard_expr.alias("shard"))
            else:
                src = chunks_src.select(*sel)
            all_rows = src.mapInPandas(
                fused_ids_chunks(
                    corpus_ids._offsets, n_docs, self.n_shards,
                    dedup=dedup_fuse, fixed_shard=bool(self.routing_col),
                    field_cols=self.field_cols, meta_cols=meta_cols,
                ),
                schema=chunk_schema,
            )
            all_rows = all_rows.persist()

        if "docs" not in done:
            docs = all_rows.filter(F.col("term") == DOC_SENTINEL).select(
                F.col("first_doc_id").alias("doc_id"),
                *meta_cols,
                F.col("ids_vb").cast("string").alias("content_sha256"),
                F.col("count").cast("long").alias("doc_len"),
                F.col("shard"),
            )
            # full-table replace regardless of the session's partition
            # overwrite mode (a dynamic-mode conf would otherwise leave
            # stale shard dirs from a previous larger build)
            from go_dcp_elasticsearch_spark.fsutil import delete_dir

            delete_dir(self.spark, self.paths.docs)
            # a fresh build supersedes any pending delta segments (their
            # doc_ids are minted against the OLD docs table) and any
            # positional sidecar (its doc_ids are the old table's too —
            # rebuilt after this build when positions=True)
            delete_dir(self.spark, self.paths.delta_root)
            delete_dir(self.spark, self.paths.positions)
            # repartition on shard first: without it every input partition
            # writes a file per shard value (n_parts x n_shards tiny files)
            docs.repartition(self.n_shards, F.col("shard")).write.mode(
                "overwrite"
            ).partitionBy("shard").parquet(self.paths.docs)
            self.lineage.commit("docs", 0, -1)
            trace("docs_write")

        # stats from the (small, pruned) docs table, maintained as
        # PER-SHARD partials (shard, n_docs, sum_dl) so an incremental
        # apply replaces only the rebuilt shards' rows and re-derives the
        # global (n_docs, avgdl) from n_shards tiny rows — O(delta), never
        # a full docs re-scan. Block-max metadata is (max_tf, min_dl) with
        # the tf_norm bound computed at query time under the CURRENT avgdl.
        if "stats" not in done:
            if all_rows is not None:
                # r7: the per-shard (n_docs, sum_dl) partials are exactly
                # the doc-sentinel aggregate of the PERSISTED chunk rows —
                # no read-back of the just-written docs parquet
                rows = (
                    all_rows.filter(F.col("term") == DOC_SENTINEL)
                    .groupBy("shard")
                    .agg(
                        F.count("*").alias("n_docs"),
                        F.sum(F.col("count").cast("long")).alias("sum_dl"),
                    )
                    .collect()
                )
            else:
                # resume path (docs+postings already committed): the docs
                # table is the only source
                rows = (
                    self.spark.read.parquet(self.paths.docs)
                    .groupBy("shard")
                    .agg(F.count("*").alias("n_docs"), F.sum("doc_len").alias("sum_dl"))
                    .collect()
                )
            stats_out = write_stats_tables(
                self.spark, self.paths,
                {int(r["shard"]): (int(r["n_docs"]), int(r["sum_dl"])) for r in rows},
            )
            self.lineage.commit("stats", 0, -1)
            trace("stats")
        else:
            stats_out = None
        # write_stats_tables already returns (n_docs, avgdl) — the
        # read-back job only runs on the resume path (r7)
        n_docs, avgdl = (
            stats_out if stats_out is not None
            else read_global_stats(self.spark, self.paths)
        )

        # postings: SPIMI — the persisted chunk rows (minus doc sentinels),
        # shuffled compressed (tiny), concat-merged per (term, shard).
        # r7: ONE salted-shard exchange instead of two — the old shape
        # shuffled the chunk bytes twice ((term, shard) for the merge,
        # then shard for the write); the merge kernel already groups by
        # (term, shard) WITHIN a partition, so repartitioning straight to
        # one-shard-per-task (perfect-partitioner salts, the query path's
        # trick) feeds the merge AND the partitioned write from a single
        # exchange. Per-task bound is unchanged: the old write stage
        # already funneled each whole shard through one task.
        if "postings" not in done:
            from go_dcp_elasticsearch_spark.fsutil import delete_dir
            from go_dcp_elasticsearch_spark.functions.hashing import (
                label_salt_expr,
            )

            delete_dir(self.spark, self.paths.postings)  # full replace (see docs stage)
            chunks = all_rows.filter(F.col("term") != DOC_SENTINEL)
            postings = chunks.repartition(
                self.n_shards, label_salt_expr(range(self.n_shards))
            ).mapInPandas(self._merge_chunks(), schema=POSTINGS_SCHEMA)
            (
                postings.sortWithinPartitions("term", "block_id")
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(self.paths.postings)
            )
            self.lineage.commit("postings", 0, n_docs)
            trace("postings_write")

        # dictionary: PER-SHARD partials (term, shard, df, cf) derived from
        # the already-aggregated postings blocks — a tiny column-pruned
        # scan, no re-shuffle of tf rows. Shard-partitioned so incremental
        # applies replace only rebuilt shards' partitions (O(delta)
        # refresh); the shard key also bounds hot-term reducer fan-in by
        # construction (a corpus-wide term becomes <= n_shards partial
        # rows, the same salting idea as salted_dictionary). Readers sum
        # across shards for the query's terms only (global_dictionary /
        # BM25Query's cached projection).
        if "dictionary" not in done:
            from go_dcp_elasticsearch_spark.fsutil import delete_dir

            if all_rows is not None:
                # r7: the per-shard (term, df, cf) partials are invariant
                # under the SPIMI merge (both are block-count sums), so
                # they aggregate straight from the PERSISTED chunk rows —
                # no read-back of the just-written postings parquet
                dict_src = all_rows.filter(F.col("term") != DOC_SENTINEL)
            else:
                dict_src = self.spark.read.parquet(self.paths.postings)
            dictionary = (
                dict_src
                .groupBy("term", "shard")
                .agg(F.sum("count").alias("df"), F.sum("tf_sum").alias("cf"))
            )
            # full replace regardless of the session's partition
            # overwrite mode (see the docs stage)
            delete_dir(self.spark, self.paths.dictionary)
            dictionary.repartition(self.n_shards, F.col("shard")).write.mode(
                "overwrite"
            ).partitionBy("shard").parquet(self.paths.dictionary)
            self.lineage.commit("dictionary", 0, n_docs)
            trace("dictionary")
        if all_rows is not None:
            all_rows.unpersist()

        # durable build configuration: incremental maintenance needs the
        # routing placement rule (B5) to keep co-locating NEW docs with
        # their routing group — the reference forwards routing on every
        # bulk action (document.go:16, bulk.go:246-249), so placement is
        # an ingest-time contract, not a build-time one
        import json as _json

        from go_dcp_elasticsearch_spark.fsutil import write_file

        write_file(
            self.spark,
            self.paths.meta,
            _json.dumps(
                {
                    "format_version": INDEX_FORMAT_VERSION,
                    "index_name": self.index_name,
                    "id_mode": self.id_mode,
                    "routing_col": self.routing_col,
                    "routing_n_shards": self.n_shards if self.routing_col else None,
                    "field_cols": self.field_cols,
                    "docvalue_cols": self.docvalue_cols,
                    "positions": self.positions,
                }
            ),
            overwrite=True,
        )
        trace("meta_write")
        elapsed = time.time() - t0
        self.metrics.record(
            stage="build",
            index_name=self.index_name,
            action="index",
            result="success",
            count=n_docs,
            latency_ms=elapsed * 1000.0,
        )
        if corpus_ids._keyed_source is not None:
            corpus_ids._keyed_source.unpersist()
        # keymap base (round 6): the key -> (doc_id, shard, doc_len)
        # cache that makes incremental applies' lookups O(delta) instead
        # of a full metadata scan (see index.keymap). Best-effort — an
        # absent/invalid keymap only costs the next delta apply a scan.
        try:
            from go_dcp_elasticsearch_spark.index import keymap as km_mod
            from go_dcp_elasticsearch_spark.sources.changes import (
                keymap_min_docs,
            )

            count = self.lineage.record_count()
            # below the keymap size threshold the applies use the plain
            # metadata scan anyway (see changes.keymap_min_docs) — skip the
            # base write, it would never be consulted
            if n_docs >= keymap_min_docs() and km_mod.valid_meta(
                self.spark, self.paths, ["repo", "path"], count
            ) is None:
                # a fresh build's id/label bounds are known without a job:
                # dense ids 0..n_docs-1, labels < n_shards
                km_mod.rebuild_keymap(
                    self.spark, self.paths, ["repo", "path"], count,
                    known_bounds=(max(n_docs - 1, 0), self.n_shards - 1),
                )
        except Exception as e:  # noqa: BLE001 — cache maintenance only
            import warnings

            warnings.warn(f"keymap base write failed ({e}); cache left invalid")
        trace("keymap")
        if self.positions:
            # positional sidecar (ES index_options: positions analogue) —
            # written LAST so its freshness marker sees the final epoch
            from go_dcp_elasticsearch_spark.index.positions import (
                build_positions,
            )

            build_positions(self.spark, str(self.paths.root), corpus)
        return {"n_docs": n_docs, "avgdl": avgdl, "elapsed_sec": elapsed}
