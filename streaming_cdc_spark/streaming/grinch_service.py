"""Global-exact streaming GRINCH as a foreachBatch driver service
(SURVEY §7 step 9: the reference's cluster_w_grinch.py:38-65 consumes
the embedding stream strictly in arrival order into ONE tree —
inherently sequential, so the streaming form keeps the tree on the
driver and folds each micro-batch into it in order).

This is the parity-mode twin of the distributed paths: use
`grinch_per_key` (operators/grinch.py) when the corpus partitions by
key, and the keyed `applyInPandasWithState` linker for bounded-memory
flat clustering. The service exists for the reference's own operating
regime — one tree, strict global order — while the stream transport,
micro-batching, and checkpointed source progress are real Structured
Streaming.

State size on the driver is O(nodes x dim) — the same bound as the
reference process; the cluster only ever ships (id, vector) rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from streaming_cdc_spark.operators.grinch import GrinchTree


class GrinchStreamService:
    """Fold a streaming (id, embedding[, label]) DataFrame into one
    driver-side GRINCH tree via foreachBatch.

    Within a micro-batch rows fold in ``id_col`` order; across
    batches in arrival (batch) order — identical to the reference's
    file-line order when the source delivers files in sequence
    (maxFilesPerTrigger=1 replays it exactly). A batch id at or below
    the last folded one is skipped, so foreachBatch's at-least-once
    redelivery cannot insert a leaf twice. Attach with
    ``session.drain_stream(stream, svc.foreach_batch)``.
    """

    def __init__(
        self,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        label_col: str | None = "label",
        **tree_params,
    ) -> None:
        self.id_col = id_col
        self.vec_col = vec_col
        self.label_col = label_col
        self.tree_params = tree_params
        self.tree: GrinchTree | None = None
        self.n_batches = 0
        self.last_batch_id = -1

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id:
            return  # at-least-once redelivery: already folded in
        cols = [self.id_col, self.vec_col] + ([self.label_col] if self.label_col else [])
        rows = batch_df.select(*cols).orderBy(self.id_col).collect()
        if not rows:
            return
        if self.tree is None:
            self.tree = GrinchTree(dim=len(rows[0][self.vec_col]), **self.tree_params)
        for r in rows:
            self.tree.insert(
                np.asarray(r[self.vec_col], dtype=np.float64),
                external=r[self.id_col],
                label=r[self.label_col] if self.label_col else None,
            )
        self.n_batches += 1
        self.last_batch_id = batch_id

    def flat_clusters(self, threshold: float) -> dict:
        """C14 flat cut of the accumulated tree."""
        if self.tree is None:
            return {}
        return self.tree.flat_clusters(threshold)
