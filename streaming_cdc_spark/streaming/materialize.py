"""Continuously-materialized keyed tables (streaming-CDC -> warehouse).

The reference's pipeline stages communicate through files that are
rewritten wholesale per run (e.g. the cluster-pair CSV sink,
nn_thresh.py:192-194); the streaming equivalent a warehouse actually
runs is an UPSERT sink: a change stream folds into a persistent keyed
table that readers can query at any time. This module implements that
as a ``foreachBatch`` merge with the two properties a production sink
needs:

- **Atomic publish**: each merge writes a NEW versioned directory and
  then commits it through the sink's pointer
  (``streaming/commit.py``) — readers never observe a half-written
  table. (Parquet-on-FS stand-in for a table format's ACID commit; on
  a cluster the same shape backs onto Delta/Iceberg ``MERGE INTO``.)
- **Exactly-once under replay**: the pointer records the last applied
  micro-batch id; a batch re-delivered after a crash-restart
  (foreachBatch is at-least-once) is detected and skipped, so state
  is never double-applied.

Two concrete sinks share that machinery (``_VersionedKeyedTable``):

- ``MaterializedAggregate`` — count/sum rollups (the classic
  commutative-monoid pair);
- ``MaterializedChangelog`` — CDC change-log apply: insert/update/
  delete ops folded into current state, last-writer-wins by sequence
  number, tombstones retained in state so out-of-order ops across
  batches resolve exactly as the batch operator
  (operators/changelog.py) would.

Scale: each micro-batch is partially reduced (one row per key per
batch) BEFORE the merge; the merge unions two keyed tables and
re-reduces — a shuffle proportional to the DISTINCT KEY COUNT, never
the stream volume. State on disk is one row per key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_cdc_spark.streaming.commit import CommitPointer


class _VersionedKeyedTable:
    """Versioned-publish state machinery shared by the concrete sinks:
    commit, replay skip, retention. Attach with
    ``session.drain_stream(stream, sink.apply_batch)``.
    Subclasses define ``_partial`` (reduce one micro-batch to one row
    per key) and ``_merge`` (combine the stored table with a partial —
    both must be commutative/idempotent so replays and merge order
    can't change the result)."""

    def __init__(self, state_dir: str, key_cols: list[str], keep_versions: int = 2):
        self.state_dir = state_dir
        self.key_cols = list(key_cols)
        self.keep_versions = max(1, keep_versions)
        self.pointer = CommitPointer(state_dir)

    def _version(self) -> int:
        """The committed version; -1 before the first commit."""
        p = self.pointer.read()
        return -1 if p is None else p["version"]

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.state_dir, f"v{version:06d}")

    # -- reduction (subclass responsibility) ---------------------------------
    def _partial(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _merge(self, current: DataFrame, partial: DataFrame) -> DataFrame:
        raise NotImplementedError

    # -- sink --------------------------------------------------------------
    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: partial-reduce, merge, publish."""
        if self.pointer.applied(batch_id):
            return  # replayed batch after restart: already folded in
        version = self._version()
        partial = self._partial(batch_df)
        if version >= 0:
            spark = batch_df.sparkSession
            current = spark.read.parquet(self._version_dir(version))
            merged = self._merge(current, partial)
        else:
            merged = partial
        new_version = version + 1
        merged.write.mode("overwrite").parquet(self._version_dir(new_version))
        self.pointer.publish({"version": new_version, "last_batch": batch_id})
        # retention: an unbounded stream writes one version per batch;
        # keep the last few (concurrent readers may hold the previous
        # pointer) and drop every other dir
        self.pointer.cleanup(
            self.state_dir,
            (os.path.basename(self._version_dir(v)) for v in self.versions()),
        )

    def table(self, spark: SparkSession) -> DataFrame:
        """The current materialized table (empty-version safe)."""
        version = self._version()
        if version < 0:
            raise FileNotFoundError("materialized table has no committed version")
        return spark.read.parquet(self._version_dir(version))

    def versions(self) -> list[int]:
        """Retained, readable version numbers (ascending). The window
        is bounded by ``keep_versions`` — one version per applied
        batch, older ones reclaimed at publish time."""
        version = self._version()
        return [
            v
            for v in range(max(0, version - self.keep_versions + 1), version + 1)
            if os.path.isdir(self._version_dir(v))
        ]

    def table_at(self, spark: SparkSession, version: int) -> DataFrame:
        """TIME TRAVEL: the table AS OF ``version`` (the state after
        batches 0..version were folded — the Delta/Iceberg
        `VERSION AS OF` read over this sink's retained window). Raises
        on versions outside retention, like any time-travel read past
        the vacuum horizon."""
        if version not in self.versions():
            raise FileNotFoundError(
                f"version {version} not retained (have {self.versions()}; "
                f"keep_versions={self.keep_versions})"
            )
        return spark.read.parquet(self._version_dir(version))


class MaterializedAggregate(_VersionedKeyedTable):
    """Maintain ``state_dir`` as a keyed (count, sums) table that a
    stream continuously upserts into.

    key_cols: grouping keys; sum_cols: numeric columns accumulated as
    DECIMAL(18,2) sums (exact, order-free merging — float sums would
    depend on merge order). Every batch adds ``n_rows`` counts too.
    """

    def __init__(
        self,
        state_dir: str,
        key_cols: list[str],
        sum_cols: list[str],
        keep_versions: int = 2,
    ):
        super().__init__(state_dir, key_cols, keep_versions)
        self.sum_cols = list(sum_cols)

    # -- aggregation -------------------------------------------------------
    # Accumulator type: every stored version uses decimal(28,2) — one
    # fixed schema across versions, exact order-free merging, and
    # 10^26 of headroom before an (ANSI-throwing) overflow. Per-batch
    # inputs are cast to decimal(18,2) first, matching the gate's
    # money-sum convention.
    _ACC = "decimal(28,2)"

    def _partial(self, df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")] + [
            F.sum(F.col(c).cast("decimal(18,2)")).cast(self._ACC).alias(f"sum_{c}")
            for c in self.sum_cols
        ]
        return df.groupBy(*self.key_cols).agg(*aggs)

    def _merge(self, current: DataFrame, partial: DataFrame) -> DataFrame:
        both = current.unionByName(partial)
        aggs = [F.sum("n_rows").cast("long").alias("n_rows")] + [
            F.sum(f"sum_{c}").cast(self._ACC).alias(f"sum_{c}")
            for c in self.sum_cols
        ]
        return both.groupBy(*self.key_cols).agg(*aggs)


class MaterializedChangelog(_VersionedKeyedTable):
    """CDC change-log apply, streaming form: fold an I/U/D op stream
    into current state — the foreachBatch twin of
    ``operators.changelog.apply_changelog``.

    State = one row per key: its max-seq op INCLUDING tombstones.
    Retaining tombstones is the correctness lever for out-of-order
    delivery across micro-batches: if batch 1 carries ``D`` at seq 10
    and batch 2 carries a late ``U`` at seq 5, the tombstone must
    still be in state to win the merge — dropping deletes at merge
    time would resurrect the key. Per-batch partial and state merge
    are the SAME idempotent keyed argmax (``latest_ops``), so the
    drained state equals the batch apply over the whole log exactly,
    for any batch boundaries and any arrival order.

    Tombstone GC: state holds one row per ever-seen key. On an
    unbounded stream with many deleted keys, compact by dropping
    tombstones older than the source's replay horizon (e.g. the
    retention of the upstream log) — below that seq no late op can
    arrive, so the tombstone can never lose a merge it still needs to
    win. Not automated here; ``current_state`` always filters them.
    """

    def __init__(
        self,
        state_dir: str,
        key_cols: list[str],
        seq_col: str,
        op_col: str,
        payload_cols: list[str],
        delete_op: str = "D",
        keep_versions: int = 2,
    ):
        super().__init__(state_dir, key_cols, keep_versions)
        self.seq_col = seq_col
        self.op_col = op_col
        self.payload_cols = list(payload_cols)
        self.delete_op = delete_op

    def _latest(self, df: DataFrame) -> DataFrame:
        from streaming_cdc_spark.operators.changelog import latest_ops

        return latest_ops(
            df, self.key_cols, self.seq_col, self.op_col, self.payload_cols
        )

    def _partial(self, df: DataFrame) -> DataFrame:
        return self._latest(df)

    def _merge(self, current: DataFrame, partial: DataFrame) -> DataFrame:
        return self._latest(current.unionByName(partial))

    def current_state(self, spark: SparkSession) -> DataFrame:
        """The materialized current state: tombstoned keys absent."""
        return self.table(spark).filter(F.col(self.op_col) != self.delete_op)
