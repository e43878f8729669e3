"""Streaming ingestion into a z-ordered table with scheduled
compaction — the continuous form of the daily-ingest loop
(operators/layout.py: ZOrderTable): every micro-batch lands clustered,
readers always resolve a complete manifest snapshot, and the OPTIMIZE
analogue runs IN the ingest path on a batch schedule instead of as an
offline job (same mid-stream-compaction stance as the progressive
resolver).

Exactly-once under foreachBatch's at-least-once replay, through the
table's commit pointer (streaming/commit.py — the manifest):
- batch 0 initializes the table (bounds frozen from it — later batches
  clamp; a crash before the manifest exists re-runs init, which is a
  full rewrite and therefore idempotent);
- batch k > 0 appends with ``batch_id`` — committed batches are
  skipped, and a batch interrupted mid-append (invisible to readers
  until its flip) is swept by its deterministic ``b{k}_`` file prefix
  before re-applying;
- compaction runs AFTER the batch's flip (single-writer), so a
  replayed batch can never be double-folded.

Scale: per batch one clustered partitioned write (batch-sized);
compaction folds only tiles past the file-count threshold, tiles
rewritten as independent concurrent jobs. State on disk is the table
itself — no separate streaming state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from streaming_cdc_spark.operators.layout import ZBITS, ZOrderTable


class ZOrderStreamWriter:
    def __init__(
        self,
        path: str,
        x_col: str,
        y_col: str,
        bits: int = ZBITS,
        n_buckets: int = 64,
        compact_every: int | None = None,
        max_files: int = 4,
        target_files: int = 1,
    ):
        self.table = ZOrderTable(path)
        self.x_col = x_col
        self.y_col = y_col
        self.bits = bits
        self.n_buckets = n_buckets
        self.compact_every = compact_every
        self.max_files = max_files
        self.target_files = target_files

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.table.pointer.read() is None:
            self.table.init(
                batch_df,
                self.x_col,
                self.y_col,
                bits=self.bits,
                n_buckets=self.n_buckets,
                batch_id=batch_id,
            )
        else:
            self.table.append(batch_df, batch_id=batch_id)
        if (
            self.compact_every
            and batch_id % self.compact_every == self.compact_every - 1
        ):
            self.table.compact(
                batch_df.sparkSession,
                max_files=self.max_files,
                target_files=self.target_files,
            )

