"""Property test of the shard kernel (query._make_spec_kernel) on plain
pandas, no Spark: random postings encoded with the index codec, split
across a base and a delta segment and several blocks per term, with
tombstones, scored for random bool clause specs (must / should / filter /
must_not / terms groups / msm / search_after cursor). Ranks AND scores
must equal the pure-Python ``bm25_bool_oracle`` bitwise — the kernel and
the oracle add the same products in the same term order."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from go_dcp_elasticsearch_spark.functions.bm25 import bm25_bool_oracle, idf
from go_dcp_elasticsearch_spark.functions.codec import encode_blocks_bulk
from go_dcp_elasticsearch_spark.index.query import (
    AFTER_EPS,
    ClauseSpec,
    _make_spec_kernel,
)

VOCAB = ["alpha", "beta", "delta", "gamma", "kappa", "omega"]
BLOCK = 3  # small blocks: every frequent term spans several


def _postings(docs, seg_of, shard_of):
    """One kernel input frame per shard: rows (shard, term, seg,
    block_id, ids_vb, tfs_vb, dls_vb, max_tf, min_dl)."""
    rows = []
    for shard in sorted(set(shard_of.values())):
        for seg in (-1, 0):
            mine = sorted(
                d for d in docs if seg_of[d] == seg and shard_of[d] == shard
            )
            for t in VOCAB:
                ids = [d for d in mine if t in docs[d]]
                if not ids:
                    continue
                tfs = np.array([docs[d].count(t) for d in ids])
                dls = np.array([len(docs[d]) for d in ids])
                blocks = encode_blocks_bulk(np.array(ids), tfs, dls, BLOCK)
                for b, (ids_vb, tfs_vb, dls_vb, _, _, max_tf, _) in enumerate(blocks):
                    rows.append((shard, t, seg, b, ids_vb, tfs_vb, dls_vb,
                                 max_tf, int(dls[b * BLOCK:(b + 1) * BLOCK].min())))
    pdf = pd.DataFrame(rows, columns=["shard", "term", "seg", "block_id",
                                      "ids_vb", "tfs_vb", "dls_vb", "max_tf",
                                      "min_dl"])
    return [g for _, g in pdf.groupby("shard")]


def _passes(hit, after):
    d, s = hit
    return s < after[0] - AFTER_EPS or (
        abs(s - after[0]) <= AFTER_EPS and d > after[1]
    )


@st.composite
def cases(draw):
    n = draw(st.integers(4, 30))
    docs = {
        d: draw(st.lists(st.sampled_from(VOCAB), min_size=1, max_size=10))
        for d in range(n)
    }
    seg_of = {d: draw(st.sampled_from([-1, 0])) for d in docs}
    dead = draw(st.sets(st.sampled_from(range(n)), max_size=n // 3))
    queries = []
    for _ in range(draw(st.integers(1, 3))):
        pool = draw(st.permutations(VOCAB))
        sizes = draw(st.lists(st.integers(0, 2), min_size=5, max_size=5))
        cuts = np.cumsum([0] + sizes)
        must, should, filt, must_not, grp = (
            pool[cuts[i]:cuts[i + 1]] for i in range(5)
        )
        if not (must or should or filt or grp):
            should = [pool[-1]]
            must_not = [t for t in must_not if t not in should]
        msm = draw(st.integers(0, len(should)))
        queries.append(dict(must=must, should=should, filt=filt,
                            must_not=must_not, groups=[grp] if grp else [],
                            msm=msm, k=draw(st.integers(1, 8)),
                            after_at=draw(st.none() | st.integers(0, 20))))
    return docs, seg_of, dead, queries, draw(st.sampled_from([1, 2, 128]))


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cases())
def test_spec_kernel_equals_bool_oracle(case):
    docs, seg_of, dead, queries, chunk_size = case
    live = {d: toks for d, toks in docs.items() if d not in dead}
    if not live:
        return
    # stats over the LIVE docs — what the oracle sees; dead docs keep
    # their postings (the kernel must drop them through the tombstones)
    n = len(live)
    avgdl = sum(len(t) for t in live.values()) / n
    df = {t: sum(1 for toks in live.values() if t in toks) for t in VOCAB}
    idfs = {t: idf(n, df[t]) for t in VOCAB if df[t]}

    specs, want = {}, {}
    for qid, q in enumerate(queries):
        allowed = None
        if q["groups"]:
            allowed = {d for d, toks in live.items()
                       if any(t in toks for t in q["groups"][0])}
        full = bm25_bool_oracle(live, q["must"], q["should"], q["must_not"],
                                q["msm"], len(live), filt=q["filt"],
                                allowed=allowed)
        after = None
        if q["after_at"] is not None and full:
            d, s = full[min(q["after_at"], len(full) - 1)]
            after = (s, d)
            full = [h for h in full if _passes(h, after)]
        want[qid] = full[:q["k"]]
        if any(t not in idfs for t in q["must"]):
            assert not want[qid]  # the driver empties such a query
            continue
        specs[qid] = ClauseSpec(
            must=tuple(q["must"]),
            should=tuple(t for t in q["should"] if t in idfs),
            filter=tuple(q["filt"]), must_not=tuple(q["must_not"]),
            terms=tuple(tuple(g) for g in q["groups"]), msm=q["msm"],
            after=after,
        )
    if not specs:
        return
    tomb = np.array(sorted(dead), dtype=np.int64)
    by_k = {}  # the kernel takes one k per batch: group specs by theirs
    for qid, spec in specs.items():
        by_k.setdefault(queries[qid]["k"], {})[qid] = spec
    got: dict[int, list] = {qid: [] for qid in specs}
    shards = _postings(docs, seg_of, {d: d % 2 for d in docs})
    for k, group in by_k.items():
        kernel = _make_spec_kernel(group, idfs, avgdl, k, tomb, chunk_size)
        for pdf in shards:
            out = kernel(pdf)
            for qid, d, s in zip(out["query_id"], out["doc_id"], out["score"]):
                got[int(qid)].append((int(d), float(s)))
    for qid in specs:
        merged = sorted(got[qid], key=lambda h: (-h[1], h[0]))[:queries[qid]["k"]]
        assert merged == want[qid], (qid, queries[qid])
