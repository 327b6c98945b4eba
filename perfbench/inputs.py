"""Seeded inputs: the corpora, the query mixes and the change batches.

Everything here is plain Python with no Spark. The corpora are fixed (they
do not depend on the run's seed): ``data/sf0.1/documents.parquet`` and
``data/sf0.001/documents.parquet`` are copies of the repository's
``documents`` test tables, and the code corpus is ``corpus.synth_corpus``
output. The query sequence and the keys a change batch touches are drawn
from ``random.Random(seed)``. The same seed always yields the same inputs
(``test_perfbench.py`` checks this).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def documents_table(name: str) -> str:
    """Directory holding the ``documents.parquet`` test table ``name``
    (``sf0.1`` or ``sf0.001``), as ``corpus.load_documents_corpus`` takes it."""
    return os.path.join(DATA, name)


# Words of bench.py's QUERY_SET (the serve_small query vocabulary).
QUERY_WORDS = (
    "spark filter join table scan merge hash order window batch value "
    "customer line group fast key sort slow small data query row part the"
).split()

# Words of bench.py's BIG_QUERY_SET, split by how often they occur in
# ``corpus.synth_corpus`` output: hot terms sit in nearly every document,
# keywords in most, locals and helpers in many, the rare markers in ~1%.
HOT_WORDS = ["getValue", "buffer", "parseInput", "index"]
KEYWORDS = ["return", "yield", "lambda", "func", "defer", "chan", "public",
            "static", "void", "async", "await", "const"]
MID_WORDS = ["localVar7", "helper_func_11", "localVar3", "helper_func_29"]
RARE_WORDS = ["kraken_sentinel", "quasarFlux", "obsidian_marker", "zephyrDelta"]

# Tokens the change batches plant: every marked (updated or inserted) doc
# carries MARKER, plus a per-batch token; neither occurs in either corpus.
MARKER = "cdcmarker"


def batch_token(b: int) -> str:
    return f"cdcbatch{b}"


def documents_key(doc_id: int) -> tuple[str, str]:
    """The (repo, path) key ``corpus.load_documents_corpus`` gives a row."""
    return ("corpus", f"doc/{doc_id:012d}")


# ---------------------------------------------------------------- queries


@dataclass(frozen=True)
class Query:
    """One client request. ``kind`` is one of ``any``, ``all``, ``bool``,
    ``page2`` and ``batch``; ``texts`` holds the 48 texts of a batch."""

    kind: str
    text: str = ""
    must: str = ""
    should: str = ""
    must_not: str = ""
    doc_len: tuple[int, int] | None = None
    texts: tuple[str, ...] = field(default=())


def _words(rng: random.Random, vocab: list[str], lo: int, hi: int) -> str:
    return " ".join(rng.sample(vocab, rng.randint(lo, hi)))


def _disjoint_clauses(rng: random.Random, vocab: list[str]) -> list[str]:
    """must, two should words and a must_not word whose analyzed terms do
    not overlap (the engine rejects a term in two clause classes)."""
    from go_dcp_elasticsearch_spark.functions.tokenizer import tokenize_py

    while True:
        words = rng.sample(vocab, 4)
        groups = [set(tokenize_py(words[0])), set(tokenize_py(" ".join(words[1:3]))),
                  set(tokenize_py(words[3]))]
        if sum(map(len, groups)) == len(set().union(*groups)):
            return words


# One block of single queries in seeded order: 11 disjunctive, 1
# conjunctive, 2 bool (one with a doc_len range, on the exact path; one
# without, on the pruned one), 1 second page. Fixed proportions per block
# keep the mix, and so the latency percentiles, the same from seed to seed;
# a run measures one block, so both bool paths get a slot in it.
SERVE_BLOCK = ("any",) * 11 + ("all", "bool", "bool_range", "page2")


def _pair(rng: random.Random) -> str:
    """One hot term and one other code term: cdc's read shape, of nearly the
    same cost whatever the seed draws."""
    return f"{rng.choice(HOT_WORDS)} {rng.choice(KEYWORDS + MID_WORDS + RARE_WORDS)}"


def _single(rng: random.Random, vocab: list[str], kind: str) -> Query:
    if kind == "any":
        return Query("any", text=_words(rng, vocab, 1, 4))
    if kind == "pair":
        return Query("any", text=_pair(rng))
    if kind == "all":
        return Query("all", text=_words(rng, vocab, 2, 3))
    if kind in ("bool", "bool_range"):
        must, s1, s2, nope = _disjoint_clauses(rng, vocab)
        span = None
        if kind == "bool_range":
            lo = rng.randint(10, 50)
            span = (lo, lo + rng.randint(10, 40))
        return Query("bool", must=must, should=f"{s1} {s2}", must_not=nope,
                     doc_len=span)
    return Query("page2", text=_words(rng, vocab, 1, 3))


def query_stream(seed: int, vocab: list[str], batch_every: int = 10,
                 block: tuple[str, ...] = SERVE_BLOCK):
    """Endless seeded request sequence: blocks of single queries with a
    48-query batch after every ``batch_every`` singles."""
    rng = random.Random(seed)
    n = 0
    while True:
        order = list(block)
        rng.shuffle(order)
        for kind in order:
            yield _single(rng, vocab, kind)
            n += 1
            if n % batch_every == 0:
                yield Query("batch", texts=tuple(
                    _pair(rng) if "pair" in block else _words(rng, vocab, 1, 4)
                    for _ in range(48)))


def code_vocab() -> list[str]:
    """The code-corpus words the cdc reads draw from (see ``_pair``)."""
    return HOT_WORDS + KEYWORDS + MID_WORDS + RARE_WORDS


# ---------------------------------------------------------------- changes


@dataclass
class ChangeBatch:
    """One committed snapshot's rows plus what the probe must observe."""

    index: int
    rows: list[tuple]  # (repo, path, action, commit, lang, content, seq_no)
    updated: list[tuple[str, str]]
    inserted: list[tuple[str, str]]
    deleted: list[tuple[str, str]]


CHANGE_SCHEMA = (
    "repo string, path string, action string, commit string, lang string, "
    "content string, seq_no long"
)


class ChangeFeed:
    """Seeded change batches against a live key set.

    Each batch holds ``n_update`` clustered updates (a contiguous run of
    keys in key order, as one repository's commits cluster), ``n_delete``
    scattered deletes (half of them, when possible, of docs an earlier batch
    marked, so the probe can catch a resurrected delete; the rest one per
    key-order stratum) and ``n_insert``
    new keys. Every ``large_every``-th batch is three times larger. Updated
    and inserted docs carry ``MARKER`` and the batch token."""

    def __init__(self, seed: int, docs: dict[tuple[str, str], tuple[str, str]],
                 new_key, new_text, n_update: int = 20, n_delete: int = 5,
                 n_insert: int = 5, large_every: int = 5):
        self.rng = random.Random(seed * 7919 + 1)
        self.docs = dict(docs)  # key -> (lang, content): the head state
        self.new_key = new_key
        self.new_text = new_text
        self.sizes = (n_update, n_delete, n_insert)
        self.large_every = large_every
        self.marked: set[tuple[str, str]] = set()
        self.b = 0
        self.seq = 10_000_000
        self.n_inserted = 0

    def next_batch(self) -> ChangeBatch:
        rng, b = self.rng, self.b
        mult = 3 if (b + 1) % self.large_every == 0 else 1
        n_update, n_delete, n_insert = (x * mult for x in self.sizes)
        keys = sorted(self.docs)
        start = rng.randrange(0, max(1, len(keys) - n_update))
        updated = keys[start:start + n_update]
        upd = set(updated)
        old_marked = sorted(self.marked - upd)
        n_old = min(len(old_marked), n_delete // 2)
        deleted = rng.sample(old_marked, n_old)
        taken = upd | set(deleted)
        rest = [k for k in keys if k not in taken]
        # one delete from each of equal key-order strata: scattered over the
        # whole key space (so over every shard) in every batch, whatever the seed
        n_new = n_delete - n_old
        for i in range(n_new):
            lo, hi = i * len(rest) // n_new, (i + 1) * len(rest) // n_new
            deleted.append(rest[rng.randrange(lo, hi)])
        inserted = []
        for _ in range(n_insert):
            inserted.append(self.new_key(self.n_inserted))
            self.n_inserted += 1
        tag = f" {MARKER} {batch_token(b)}"
        rows = []
        for k in updated:
            lang, content = self.docs[k]
            self.docs[k] = (lang, content + tag)
        for k in inserted:
            self.docs[k] = ("python", self.new_text(rng) + tag)
        for k in updated + inserted:
            self.seq += 1
            lang, content = self.docs[k]
            rows.append((k[0], k[1], "index", f"cdc{b}", lang, content, self.seq))
        for k in deleted:
            self.seq += 1
            rows.append((k[0], k[1], "delete", f"cdc{b}", None, None, self.seq))
            del self.docs[k]
        self.marked = (self.marked - set(deleted)) | upd | set(inserted)
        self.b += 1
        return ChangeBatch(b, rows, updated, inserted, deleted)


def documents_new_key(i: int) -> tuple[str, str]:
    return documents_key(1_000_000 + i)


def documents_new_text(texts: list[str]):
    """Text maker for docs a batch inserts into the documents corpus: the
    text of an existing document, drawn with the feed's rng."""
    return lambda rng: rng.choice(texts)


def code_new_key(i: int) -> tuple[str, str]:
    return ("orgcdc/repo0", f"src/new/f{i:06d}.py")


def code_new_text(rng: random.Random) -> str:
    vocab = HOT_WORDS + KEYWORDS + MID_WORDS
    return "# new file\n" + " ".join(rng.choice(vocab) for _ in range(rng.randint(30, 120)))
