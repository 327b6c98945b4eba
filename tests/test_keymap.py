"""Key-bucketed docs-metadata cache (index.keymap): the O(delta) lookup
path for incremental applies.

Contract under test: the keymap is a CACHE with epoch validation — every
maintenance path either keeps it valid (build writes it; both apply
strategies append; fold/snapshot-commit bump the epoch) or invalidates
it (compact drops it), and whenever it IS valid its lookup equals the
full live-view metadata join exactly, for live keys AND deleted keys.
Correctness never depends on it: an invalid cache routes the apply to
the full scan and is rebuilt afterwards.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from go_dcp_elasticsearch_spark.corpus import synth_corpus
from go_dcp_elasticsearch_spark.index import IndexBuilder
from go_dcp_elasticsearch_spark.index import keymap as km
from go_dcp_elasticsearch_spark.index.builder import IndexPaths
from go_dcp_elasticsearch_spark.index.segments import fold_segments, read_docs
from go_dcp_elasticsearch_spark.plans.lineage import LineageLog
from go_dcp_elasticsearch_spark.sources.changes import (
    apply_changes_to_index,
    compact_index,
)

KEYS = ["repo", "path"]


@pytest.fixture(autouse=True)
def _force_keymap(monkeypatch):
    """These tests exercise the keymap machinery on tiny fixtures, which
    sit far below the r7 size threshold that routes small indexes to the
    plain metadata scan (changes.keymap_min_docs) — pin it to 0 so every
    maintenance/lookup path stays active."""
    monkeypatch.setenv("SPARK_GRAFT_KEYMAP_MIN_DOCS", "0")


def _meta(spark, idx):
    paths = IndexPaths(idx)
    count = LineageLog(spark, paths.lineage).record_count()
    return km.valid_meta(spark, paths, KEYS, count)


def _assert_matches_live(spark, idx, probe_keys_df):
    """lookup(probe keys) must equal the live-view metadata join for the
    same keys — including returning NOTHING for dead keys in the probe."""
    paths = IndexPaths(idx)
    meta = _meta(spark, idx)
    assert meta is not None, "keymap unexpectedly invalid"
    live = read_docs(spark, idx).select(*KEYS, "doc_id", "shard", "doc_len")
    want = {
        (r["repo"], r["path"]): (int(r["doc_id"]), int(r["shard"]), int(r["doc_len"]))
        for r in live.join(probe_keys_df, KEYS, "left_semi").collect()
    }
    got = {
        (r["repo"], r["path"]): (int(r["doc_id"]), int(r["shard"]), int(r["doc_len"]))
        for r in km.lookup(spark, paths, probe_keys_df, KEYS, meta).collect()
    }
    assert got == want
    # id-authority bound: meta must dominate every id ever minted
    max_live = live.agg(F.max("doc_id")).collect()[0][0]
    assert int(meta["max_doc_id"]) >= int(max_live)
    return meta


def _all_keys(spark, idx, extra_dead):
    live_keys = read_docs(spark, idx).select(*KEYS)
    if extra_dead:
        dead = spark.createDataFrame(list(extra_dead), "repo string, path string")
        return live_keys.unionByName(dead).distinct()
    return live_keys.distinct()


def test_keymap_maintained_across_maintenance_paths(spark, tmp_path):
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 200)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    dead_keys: set[tuple[str, str]] = set()

    # (1) build wrote a valid keymap
    _assert_matches_live(spark, idx, _all_keys(spark, idx, dead_keys))

    # (2) delta apply: update + delete + insert
    docs0 = spark.read.parquet(f"{idx}/docs").orderBy("doc_id").limit(2).collect()
    upd_key = (docs0[0]["repo"], docs0[0]["path"])
    del_key = (docs0[1]["repo"], docs0[1]["path"])
    state = (
        corpus.filter(
            ~((F.col("repo") == del_key[0]) & (F.col("path") == del_key[1]))
        )
        .withColumn(
            "content",
            F.when(
                (F.col("repo") == upd_key[0]) & (F.col("path") == upd_key[1]),
                F.lit("zzkmupdated body parser"),
            ).otherwise(F.col("content")),
        )
        .unionByName(
            spark.createDataFrame(
                [("orgK/km", "new.py", "c1", "python", "zzkminserted parser", 901)],
                "repo string, path string, commit string, lang string, "
                "content string, seq_no int",
            )
        )
    )
    changes = spark.createDataFrame(
        [
            (upd_key[0], upd_key[1], "index", 10),
            (del_key[0], del_key[1], "delete", 11),
            ("orgK/km", "new.py", "index", 12),
        ],
        "repo string, path string, action string, seq_no long",
    )
    out = apply_changes_to_index(spark, idx, state, changes, strategy="delta")
    assert out["strategy"] == "delta"
    dead_keys.add(del_key)
    _assert_matches_live(spark, idx, _all_keys(spark, idx, dead_keys))

    # (3) rebuild apply appends too (update through the other write path)
    state2 = state.withColumn(
        "content",
        F.when(
            (F.col("repo") == "orgK/km") & (F.col("path") == "new.py"),
            F.lit("zzkminserted overwritten much longer body parser"),
        ).otherwise(F.col("content")),
    )
    changes2 = spark.createDataFrame(
        [("orgK/km", "new.py", "index", 20)],
        "repo string, path string, action string, seq_no long",
    )
    apply_changes_to_index(spark, idx, state2, changes2, strategy="rebuild")
    _assert_matches_live(spark, idx, _all_keys(spark, idx, dead_keys))

    # (4) fold carries the keymap across (epoch bump, content untouched)
    changes3 = spark.createDataFrame(
        [(del_key[0], del_key[1], "index", 30)],
        "repo string, path string, action string, seq_no long",
    )
    state3 = state2.unionByName(
        spark.createDataFrame(
            [(del_key[0], del_key[1], "cR", "python", "zzkmrevived body", 930)],
            "repo string, path string, commit string, lang string, "
            "content string, seq_no int",
        )
    )
    out3 = apply_changes_to_index(spark, idx, state3, changes3, strategy="delta")
    assert out3["segment"] is not None
    dead_keys.discard(del_key)  # revived through the delta path
    _assert_matches_live(spark, idx, _all_keys(spark, idx, dead_keys))
    fold_segments(spark, idx)
    _assert_matches_live(spark, idx, _all_keys(spark, idx, dead_keys))

    # (5) compact drops the cache; the next delta apply rebuilds it
    compact_index(spark, idx, target_docs_per_shard=100)
    assert _meta(spark, idx) is None
    changes4 = spark.createDataFrame(
        [("orgK/km2", "new2.py", "index", 40)],
        "repo string, path string, action string, seq_no long",
    )
    state4 = state3.unionByName(
        spark.createDataFrame(
            [("orgK/km2", "new2.py", "c2", "python", "zzkmsecond parser", 940)],
            "repo string, path string, commit string, lang string, "
            "content string, seq_no int",
        )
    )
    apply_changes_to_index(spark, idx, state4, changes4, strategy="delta")
    _assert_matches_live(spark, idx, _all_keys(spark, idx, dead_keys))


def test_keymap_lookup_is_partition_pruned(spark, tmp_path):
    """The judged scale property: a point lookup's base read carries a
    PartitionFilters entry on the _kb bucket column (only the probed
    keys' buckets are listed/scanned) — the plan evidence that the apply
    metadata cost is O(delta), not O(corpus metadata)."""
    idx = str(tmp_path / "idx")
    IndexBuilder(spark, idx, n_shards=4).build(synth_corpus(spark, 200))
    paths = IndexPaths(idx)
    meta = _meta(spark, idx)
    assert meta is not None
    one = spark.read.parquet(paths.docs).orderBy("doc_id").limit(1).collect()[0]
    probe = spark.createDataFrame(
        [(one["repo"], one["path"])], "repo string, path string"
    )
    got = km.lookup(spark, paths, probe, KEYS, meta)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain(True)
    plan = buf.getvalue()
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*_kb[^\]]*\]", plan)
    assert m, f"no _kb partition filter in plan:\n{plan[-3000:]}"
    assert got.count() == 1


def test_keymap_invalid_epoch_forces_fallback_and_rebuild(spark, tmp_path):
    """A lineage commit without a keymap append (simulated out-of-band)
    invalidates the cache; the next delta apply still answers exactly
    (full-scan fallback) and leaves a fresh valid keymap behind."""
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 120)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    paths = IndexPaths(idx)
    # out-of-band epoch bump: cache must stop validating
    LineageLog(spark, paths.lineage).commit("outofband", -1, 0)
    assert _meta(spark, idx) is None

    state = corpus.unionByName(
        spark.createDataFrame(
            [("orgK/fb", "fb.py", "c9", "python", "zzkmfallback parser", 990)],
            "repo string, path string, commit string, lang string, "
            "content string, seq_no int",
        )
    )
    changes = spark.createDataFrame(
        [("orgK/fb", "fb.py", "index", 50)],
        "repo string, path string, action string, seq_no long",
    )
    out = apply_changes_to_index(spark, idx, state, changes, strategy="delta")
    assert out["strategy"] == "delta"
    _assert_matches_live(spark, idx, _all_keys(spark, idx, set()))


def test_keymap_large_feed_stays_catalyst_side(spark, tmp_path):
    """A bulk-sized key list (far above the parquet In-pushdown threshold
    of 10) must stay a catalyst-side InSet: pushing a large In(kh, ...)
    builds an OR-of-Eq chain inside the parquet reader that overflows the
    JVM stack (measured at 1000 values with the threshold raised — tasks
    die with StackOverflowError and retry for ~50s per job). Guards both
    the correctness of the InSet path and against re-raising
    spark.sql.parquet.pushdown.inFilterThreshold session-wide."""
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 600)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    paths = IndexPaths(idx)
    meta = _meta(spark, idx)
    assert meta is not None
    probe = (
        spark.read.parquet(paths.docs)
        .orderBy("doc_id")
        .limit(300)
        .select(*KEYS)
    )
    got = km.lookup(spark, paths, probe, KEYS, meta)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain(True)
    plan = buf.getvalue()
    import re

    # the _kb PartitionFilters entry is the scale lever and must be there
    assert re.search(r"PartitionFilters: \[[^\]]*_kb[^\]]*\]", plan)
    # the threshold governs how the parquet reader TRANSLATES the In
    # (explain shows "PushedFilters: [In(kh, ...)]" either way; at the
    # default 10 a 300-value In becomes a harmless range predicate, above
    # it an OR-of-Eq chain that overflows the reader's stack) — so guard
    # the session conf itself
    assert (
        spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold") == "10"
    ), "inFilterThreshold must stay at the default (OR-chain stack overflow)"
    assert got.count() == 300
    _assert_matches_live(spark, idx, probe)


def test_rebuild_apply_marks_absent_content_keys_dead(spark, tmp_path):
    """A rebuild-strategy apply with a NON-delete change whose content is
    absent from new_corpus drops the doc from the index (the rebuild's
    inner join); the keymap must record a dead marker for that key — a
    stale alive row would make the next delta apply tombstone a doc_id
    that exists in neither base nor segments and double-subtract its
    doc_len from the stats partials."""
    from go_dcp_elasticsearch_spark.index.segments import read_delta_docs

    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 120)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    victim = (
        spark.read.parquet(f"{idx}/docs").orderBy("doc_id").limit(1).collect()[0]
    )
    vkey = (victim["repo"], victim["path"])
    state = corpus.filter(
        ~((F.col("repo") == vkey[0]) & (F.col("path") == vkey[1]))
    )
    changes = spark.createDataFrame(
        [(vkey[0], vkey[1], "index", 50)],
        "repo string, path string, action string, seq_no long",
    )
    apply_changes_to_index(spark, idx, state, changes, strategy="rebuild")
    assert (
        read_docs(spark, idx)
        .filter((F.col("repo") == vkey[0]) & (F.col("path") == vkey[1]))
        .count()
        == 0
    )
    # lookup agrees with the live view: NO row for the dropped key
    _assert_matches_live(spark, idx, _all_keys(spark, idx, {vkey}))
    # a follow-up delta apply re-adding the key must treat it as an
    # INSERT: no tombstone for a doc that no longer exists
    state2 = state.unionByName(
        spark.createDataFrame(
            [(vkey[0], vkey[1], "cz", "python", "zzkmreborn body", 951)],
            "repo string, path string, commit string, lang string, "
            "content string, seq_no int",
        )
    )
    changes2 = spark.createDataFrame(
        [(vkey[0], vkey[1], "index", 60)],
        "repo string, path string, action string, seq_no long",
    )
    out2 = apply_changes_to_index(spark, idx, state2, changes2, strategy="delta")
    assert out2["strategy"] == "delta"
    seg = read_delta_docs(spark, IndexPaths(idx))
    assert seg is not None and seg.filter(~F.col("_alive")).count() == 0
    _assert_matches_live(spark, idx, _all_keys(spark, idx, set()))


def test_keymap_delta_history_folds_at_threshold(spark, tmp_path, monkeypatch):
    """Each apply appends one keymap delta dir and every lookup reads the
    whole history — so the history must FOLD into the base once
    DELTA_FOLD_AT dirs accumulate, keeping per-apply metadata cost O(1)
    dirs instead of O(#applies-ever). Lookups stay exact across the
    fold, including for keys deleted in folded history."""
    monkeypatch.setattr(km, "DELTA_FOLD_AT", 3)
    idx = str(tmp_path / "idx")
    corpus = synth_corpus(spark, 150)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    paths = IndexPaths(idx)
    dead: set[tuple[str, str]] = set()

    state = corpus
    # apply 1: delete an existing key (a dead marker enters the history)
    victim = (
        spark.read.parquet(f"{idx}/docs").orderBy("doc_id").limit(1).collect()[0]
    )
    vkey = (victim["repo"], victim["path"])
    state = state.filter(
        ~((F.col("repo") == vkey[0]) & (F.col("path") == vkey[1]))
    )
    apply_changes_to_index(
        spark, idx, state,
        spark.createDataFrame(
            [(vkey[0], vkey[1], "delete", 70)],
            "repo string, path string, action string, seq_no long",
        ),
        strategy="delta",
    )
    dead.add(vkey)
    _assert_matches_live(spark, idx, _all_keys(spark, idx, dead))
    # applies 2..4: inserts; the 3rd append crosses the threshold
    for i in range(3):
        key = ("orgF/km", f"f{i}.py")
        state = state.unionByName(
            spark.createDataFrame(
                [(key[0], key[1], "c", "python", f"zzkmfold body {i}", 960 + i)],
                "repo string, path string, commit string, lang string, "
                "content string, seq_no int",
            )
        )
        apply_changes_to_index(
            spark, idx, state,
            spark.createDataFrame(
                [(key[0], key[1], "index", 71 + i)],
                "repo string, path string, action string, seq_no long",
            ),
            strategy="delta",
        )
        _assert_matches_live(spark, idx, _all_keys(spark, idx, dead))
    assert km._count_delta_dirs(spark, paths) < 3, "history did not fold"
    # the folded base carries no row for the deleted key (dead winners
    # are dropped at fold, same as a live-view miss)
    _assert_matches_live(spark, idx, _all_keys(spark, idx, dead))


def test_keymap_size_threshold_routes_small_to_full_scan(
    spark, tmp_path, monkeypatch
):
    """r7 size threshold (changes.keymap_min_docs): below it the build
    skips the base write, applies use the plain metadata scan, and
    maintenance is skipped (the stale epoch keeps the cache invalid) —
    with results identical to the keymap route. The first apply after
    the corpus crosses the threshold rebuilds the cache."""
    monkeypatch.setenv("SPARK_GRAFT_KEYMAP_MIN_DOCS", "1000")
    idx = str(tmp_path / "idx_thr")
    corpus = synth_corpus(spark, 120)
    IndexBuilder(spark, idx, n_shards=4).build(corpus)
    assert _meta(spark, idx) is None, "build should skip the base write"

    docs0 = spark.read.parquet(f"{idx}/docs").orderBy("doc_id").limit(1).collect()
    upd_key = (docs0[0]["repo"], docs0[0]["path"])
    state = corpus.withColumn(
        "content",
        F.when(
            (F.col("repo") == upd_key[0]) & (F.col("path") == upd_key[1]),
            F.lit("zzthreshold updated body"),
        ).otherwise(F.col("content")),
    )
    changes = spark.createDataFrame(
        [(upd_key[0], upd_key[1], "index", 10)],
        "repo string, path string, action string, seq_no long",
    )
    out = apply_changes_to_index(spark, idx, state, changes, strategy="delta")
    assert out["n_changed"] == 1
    assert _meta(spark, idx) is None, "maintenance should be skipped"
    from go_dcp_elasticsearch_spark.index import BM25Query

    assert BM25Query(spark, idx).topk_pruned("zzthreshold", 5).count() == 1

    # corpus now "crosses" the threshold: the next apply rebuilds the
    # cache and the lookup contract holds again
    monkeypatch.setenv("SPARK_GRAFT_KEYMAP_MIN_DOCS", "10")
    state2 = state.withColumn(
        "content",
        F.when(
            (F.col("repo") == upd_key[0]) & (F.col("path") == upd_key[1]),
            F.lit("zzthresholdtwo replacement body"),
        ).otherwise(F.col("content")),
    )
    changes2 = spark.createDataFrame(
        [(upd_key[0], upd_key[1], "index", 20)],
        "repo string, path string, action string, seq_no long",
    )
    apply_changes_to_index(spark, idx, state2, changes2, strategy="delta")
    assert _meta(spark, idx) is not None, "apply past threshold rebuilds"
    _assert_matches_live(spark, idx, _all_keys(spark, idx, set()))


def test_malformed_keymap_min_docs_fails_before_any_write(
    spark, tmp_path, monkeypatch
):
    """SPARK_GRAFT_KEYMAP_MIN_DOCS is read once when an apply starts: a
    malformed value raises ValueError naming the variable and the value,
    on every strategy, before the apply writes anything (the lineage
    record count — the index epoch — does not move)."""
    idx = str(tmp_path / "idx_bad_env")
    corpus = synth_corpus(spark, 20)
    IndexBuilder(spark, idx, n_shards=1).build(corpus)
    lineage = LineageLog(spark, IndexPaths(idx).lineage)
    before = lineage.record_count()
    key = corpus.select("repo", "path").limit(1).collect()[0]
    changes = spark.createDataFrame(
        [(key["repo"], key["path"], "delete", 10)],
        "repo string, path string, action string, seq_no long",
    )
    for bad in ("12k", "-1"):
        monkeypatch.setenv("SPARK_GRAFT_KEYMAP_MIN_DOCS", bad)
        for strategy in ("rebuild", "delta", "auto"):
            with pytest.raises(
                ValueError, match=f"SPARK_GRAFT_KEYMAP_MIN_DOCS.*'{bad}'"
            ):
                apply_changes_to_index(
                    spark, idx, corpus, changes, strategy=strategy
                )
    assert lineage.record_count() == before
