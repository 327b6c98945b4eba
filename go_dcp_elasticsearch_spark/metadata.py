"""Shared record-log storage for the control-plane metadata (lineage
checkpoints, metrics counters, snapshot commit log).

Layout under one log directory (all through the Hadoop FS layer, so the
log lives NEXT TO THE DATA on HDFS/S3A — the reference keeps its DCP
checkpoint in the metadata bucket, connector.go:186):

  rec-<tag>-<seq>.json    one immutable file per record; becomes durable
                          and visible atomically on close (hsync on HDFS,
                          OS fsync on local, PUT-on-close on S3A) — the
                          ack-gated commit point. Per-record files rather
                          than an appended JSONL because append() is
                          unsupported on S3A.
  ckpt-<total>-<tag>.jsonl checkpoint: all records known at compaction
                          time, one line each as {"_name": ..., "rec": ...}
                          (the Delta/Iceberg checkpoint pattern). Written
                          when the live rec-file count passes
                          COMPACT_THRESHOLD so reads stay O(1) files, not
                          one round-trip per historical record.

Any other ``*.jsonl`` in the directory (the retired appended-log layout:
``lineage.jsonl``, ``metrics.jsonl``, ``meta.jsonl``) is refused with a
ValueError on every read and count: this layout is the only one read.

Crash safety of compaction: the new checkpoint is durable BEFORE any
superseded file is deleted; a crash mid-delete leaves duplicates, which
reads de-duplicate by record NAME (records are immutable, so the first
occurrence wins). ``count()`` never opens the checkpoint — the total is
carried in its file name — so the per-query index-epoch check stays one
directory listing.
"""

from __future__ import annotations

import json
import uuid

# compaction trigger: live per-record files before they are folded into a
# checkpoint. Low enough that long-running streaming ingest (a few commits
# per micro-batch) never accumulates unbounded tiny files; high enough
# that batch builds (a handful of commits) never pay a compaction.
COMPACT_THRESHOLD = 256


class RecordLog:
    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self._tag = uuid.uuid4().hex[:12]
        self._seq = 0

    # ---------- reads ----------

    def _names(self) -> list[str]:
        from go_dcp_elasticsearch_spark.fsutil import list_root_files

        names = list_root_files(self.spark, self.path)
        for n in names:
            if n.endswith(".jsonl") and not n.startswith("ckpt-"):
                raise ValueError(
                    f"record log {self.path}: {n} is an appended log of a "
                    "retired layout; only rec-*.json records and ckpt-* "
                    "checkpoints are read"
                )
        return names

    def _named_records(self, names: list[str]) -> list[tuple[str, dict]]:
        """(name, record) pairs, de-duplicated by name (first wins),
        oldest source first: checkpoints, then live rec files."""
        from go_dcp_elasticsearch_spark.fsutil import read_file

        out: dict[str, dict] = {}
        for name in sorted(n for n in names if n.startswith("ckpt-")):
            for line in read_file(self.spark, f"{self.path}/{name}").splitlines():
                if line.strip():
                    e = json.loads(line)
                    out.setdefault(e["_name"], e["rec"])
        for name in sorted(n for n in names if n.startswith("rec-") and n.endswith(".json")):
            if name not in out:
                out[name] = json.loads(read_file(self.spark, f"{self.path}/{name}"))
        return list(out.items())

    def records(self) -> list[dict]:
        return [r for _, r in self._named_records(self._names())]

    def count(self) -> int:
        """Cheap monotonic record count — ONE directory listing, no file
        reads. A crash mid-compaction can briefly over-count (checkpoint
        total + not-yet-deleted rec files); callers using this as an index
        epoch just refresh once more."""
        names = self._names()
        total = max(
            (int(n.split("-")[1]) for n in names if n.startswith("ckpt-")),
            default=0,
        )
        total += sum(1 for n in names if n.startswith("rec-") and n.endswith(".json"))
        return total

    # ---------- writes ----------

    def append(self, rec: dict) -> None:
        from go_dcp_elasticsearch_spark.fsutil import write_file

        # list BEFORE the write: a retired log is refused before any file
        # lands in it, and the listing plus the new name is the
        # compaction input
        names = self._names()
        self._seq += 1
        name = f"rec-{self._tag}-{self._seq:06d}.json"
        write_file(self.spark, f"{self.path}/{name}", json.dumps(rec))
        names.append(name)
        if sum(1 for n in names if n.startswith("rec-")) > COMPACT_THRESHOLD:
            self._compact(names)

    def _compact(self, names: list[str]) -> None:
        from go_dcp_elasticsearch_spark.fsutil import delete_dir, write_file

        named = self._named_records(names)
        ckpt = f"ckpt-{len(named):08d}-{uuid.uuid4().hex[:12]}.jsonl"
        write_file(
            self.spark,
            f"{self.path}/{ckpt}",
            "\n".join(json.dumps({"_name": n, "rec": r}) for n, r in named),
        )
        # the new checkpoint is durable; superseded files are now garbage
        # (crash mid-delete => duplicates, de-duplicated by name on read)
        for name in names:
            if name != ckpt and name.startswith(("rec-", "ckpt-")):
                delete_dir(self.spark, f"{self.path}/{name}")
