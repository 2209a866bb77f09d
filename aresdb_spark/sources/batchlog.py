"""Append-only numbered batch logs inside a pointer-committed store.

A store directory holds up to three of them: ``hotbatch/`` (the hot
store's pending upsert batches), ``backfill/`` (the deferred backfill
queue) and ``journal/`` (the dimension store's mutation journal). They
are the reference's three append-then-compact buffers — live-store
batches (memstore/live_store.go:33-46), the backfill buffer keyed on
redo-log offsets (backfill_manager.go:84-120) and the dimension redo
log the snapshot job compacts (memstore/snapshot.go) — and one
``BatchLog`` owns the rules they share:

- **Allocation.** Batch ``N`` lives in ``<log>/batch=<N>``. ``N`` is
  one above the log's counter, its consumed watermark and every visible
  batch, so a number is never reused while anything may still read it.
  The dir is written with ``overwrite``: whatever sits at ``N`` is the
  orphan of a writer that died before its commit, invisible to every
  reader, so reclaiming it is safe.
- **Visibility.** Only the committed ledger counts, above the consumed
  watermark — a dir whose commit never landed is invisible. A log with
  a watermark key predates its ledger: while no ledger was ever
  committed, its dirs above the watermark are listed instead, and the
  next append adopts them into the ledger.
- **Read.** Every pending batch goes through ONE parquet scan. The
  batch number (``BATCH_COL``) is parsed from each file's own
  ``batch=<N>`` directory; intra-batch arrival order is the persisted
  ``__seq``, or read order for legacy dirs written without it.
- **Consume.** Retiring the pending batches yields a watermark, an
  empty ledger and the consumed dirs, for the caller to displace.
- **Size.** Rows and bytes come from parquet footers, with no Spark job.

Nothing here commits. Each method returns state updates (and dirs to
displace) that the caller publishes in the ONE pointer write that also
carries the rest of its mutation (sources/pointer.py).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aresdb_spark.streaming.upsert import BATCH_COL

SEQ_COL = "__seq"

# file-count cap per appended batch dir: a micro-batch inherits its
# source's partitioning (a 32-way stream writing 1k-row batches would
# land 32 tiny files per batch — small-file explosion on the pending
# scan); the narrow coalesce keeps big batches' write parallelism up to
# this many files. The reference's analog is one live batch per upsert.
MAX_FILES = 8

_DIR = re.compile(r"^batch=([0-9]+)$")


def arrival_seq(seq_col: "str | None" = None) -> Column:
    """The persisted intra-batch arrival order: the caller's seq column,
    else the batch's current row order (redo-log replay order). Replay
    never trusts parquet read-back order, which packs multi-file scans
    largest-file-first."""
    seq = F.col(seq_col).cast("long") if seq_col \
        else F.monotonically_increasing_id()
    return seq.alias(SEQ_COL)


def footer_size(dirs: "list[str]") -> tuple[int, int]:
    """(rows, bytes) of the parquet files in ``dirs`` — footer metadata
    and file sizes only; a missing dir counts as empty."""
    import pyarrow.parquet as pq
    rows = size = 0
    for d in dirs:
        if not os.path.isdir(d):
            continue
        for e in os.scandir(d):
            if e.name.endswith(".parquet"):
                rows += pq.read_metadata(e.path).num_rows
                size += e.stat().st_size
    return rows, size


@dataclass(frozen=True)
class BatchLog:
    root: str                          # the store root
    name: str                          # log dir under the root
    ledger_key: str                    # state key: committed entries
    seq_key: str                       # state key: allocation counter
    consumed_key: "str | None" = None  # state key: consumed watermark

    @property
    def path(self) -> str:
        return os.path.join(self.root, self.name)

    def dir(self, n: int) -> str:
        return os.path.join(self.path, f"batch={n}")

    def _on_disk(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        return sorted(int(m.group(1)) for m in map(
            _DIR.match, os.listdir(self.path)) if m)

    def _watermark(self, st: "dict | None") -> int:
        if self.consumed_key is None:
            return -1
        return int((st or {}).get(self.consumed_key, -1))

    def pending(self, st: "dict | None") -> list[dict]:
        """Committed, not yet consumed batches in number (= arrival)
        order: ``[{"n": N, ...}]``; an entry may carry metadata, such
        as a hot batch's mode override."""
        st = st or {}
        if self.ledger_key in st:
            entries = [e if isinstance(e, dict) else {"n": e}
                       for e in st[self.ledger_key]]
        elif self.consumed_key is not None:   # pre-ledger listing rule
            entries = [{"n": n} for n in self._on_disk()]
        else:
            entries = []
        w = self._watermark(st)
        return sorted((e for e in entries if e["n"] > w),
                      key=lambda e: e["n"])

    def names(self, st: "dict | None") -> list[str]:
        """Pending batch dir names (``batch=<N>``), in arrival order."""
        return [f"batch={e['n']}" for e in self.pending(st)]

    def write(self, df: DataFrame, st: "dict | None") -> int:
        """Write one batch (``df`` carries ``__seq``) into the next
        numbered dir, at most ``MAX_FILES`` files; return its number.
        Invisible until the caller commits ``append``."""
        n = 1 + max([int((st or {}).get(self.seq_key, -1)),
                     self._watermark(st)] +
                    [e["n"] for e in self.pending(st)])
        df.coalesce(MAX_FILES).write.mode("overwrite").parquet(self.dir(n))
        return n

    def append(self, st: "dict | None", n: int,
               meta: "dict | None" = None) -> dict:
        """State updates that make batch ``n`` (just written) visible,
        adopting a pre-ledger log's listed dirs into the ledger. The
        ledger keeps plain numbers; an entry with ``meta`` is
        ``{"n": N, **meta}``."""
        # every visible batch numbers below n; the listing rule would
        # also see the fresh dir itself
        ledger = [e if len(e) > 1 else e["n"]
                  for e in self.pending(st) if e["n"] < n]
        return {self.seq_key: n,
                self.ledger_key: ledger + [{"n": n, **meta} if meta else n]}

    def consume(self, st: "dict | None") -> tuple[dict, list[str]]:
        """(state updates, root-relative dirs to displace) that retire
        every pending batch. The displaced list covers every dir at or
        below the new watermark, so survivors of an earlier commit whose
        reap never ran are ledgered again instead of leaking."""
        upto = max([self._watermark(st)] +
                   [e["n"] for e in self.pending(st)])
        updates = {self.ledger_key: []}
        if self.consumed_key is not None:
            updates[self.consumed_key] = upto
        return updates, [f"{self.name}/batch={n}"
                         for n in self._on_disk() if n <= upto]

    def scan(self, spark: SparkSession, schema,
             st: "dict | None") -> "DataFrame | None":
        """Every pending batch in ONE parquet relation: the ``schema``
        columns, ``__seq`` and ``BATCH_COL`` — the number of the
        ``batch=<N>`` dir holding each file (numeric, and anchored to
        the file's parent dir, so a ``batch=`` elsewhere in the store
        root never matches). None when nothing is pending."""
        from pyspark.sql.types import LongType, StructField, StructType
        pend = self.pending(st)
        if not pend:
            return None
        full = StructType(list(schema.fields) +
                          [StructField(SEQ_COL, LongType())])
        rel = spark.read.schema(full).parquet(
            *[self.dir(e["n"]) for e in pend])
        batch_no = F.regexp_extract(
            F.col("_metadata.file_path"), r"/batch=([0-9]+)/[^/]*$", 1)
        return rel.select(
            *schema.fieldNames(),
            F.coalesce(F.col(SEQ_COL),
                       F.monotonically_increasing_id()).alias(SEQ_COL),
            batch_no.cast("long").alias(BATCH_COL))

    def size(self, st: "dict | None") -> tuple[int, int]:
        """(rows, bytes) of the pending batches, from parquet footers."""
        return footer_size([self.dir(e["n"]) for e in self.pending(st)])
