"""Streaming incremental entity linker — C3-C6 as Structured
Streaming keyed state (SURVEY §2.7, §7 step 7).

The reference's bounded-memory linking strategies
(nn_thresh.py:27-109: backwards window / diversity / cache-LRU /
diversity-cache eviction) become an ``applyInPandasWithState``
operator: per group key (e.g. Zeshel category — the partitionable
case; a constant key replays the strict global stream), state holds
the bounded active set (ids, cluster ids, embeddings, last-linked
ticks); each micro-batch folds its mentions in stream order.

Streaming semantics delta vs the batch replay (documented): a new
mention joins the cluster of its MOST SIMILAR active mention above
threshold (greedy 1-NN, the online decision), while the offline
batch pass (operators/greedy.py) can also merge existing clusters
through back-links. Identical when cluster chains are transitive.

State is bounded by ``limit`` — memory per key is O(limit * dim)
regardless of stream length, which is the whole point of the
reference's paper (README.md:63).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "key string, mention_index long, cluster_id long"
STATE_SCHEMA = (
    "ids array<long>, clusters array<long>, last_seen array<long>, "
    "embs array<array<double>>, tick long"
)

STRATEGIES = ("backwards", "diversity", "cache", "diversity-cache")


def fold_mentions(
    rows: pd.DataFrame,
    state: dict,
    threshold: float,
    limit: int | None,
    strategy: str,
    id_col: str = "mention_index",
    vec_col: str = "embedding",
) -> list[tuple[int, int]]:
    """Fold a chunk of mentions (sorted by id) into the active-set
    state; returns [(mention_index, cluster_id)]. Pure python/numpy —
    shared by the streaming operator and offline replay tests."""
    ids: list[int] = state.setdefault("ids", [])
    clusters: list[int] = state.setdefault("clusters", [])
    last_seen: list[int] = state.setdefault("last_seen", [])
    embs: list[np.ndarray] = state.setdefault("embs", [])
    tick: int = state.setdefault("tick", 0)
    out = []
    for mid, vec in zip(rows[id_col], rows[vec_col]):
        v = np.asarray(vec, dtype=np.float64)
        n = np.linalg.norm(v)
        if n > 0:
            v = v / n
        if embs:
            sims = np.array([e @ v for e in embs])
            linked = sims > threshold
        else:
            sims = np.zeros(0)
            linked = np.zeros(0, dtype=bool)
        if linked.any():
            best = int(np.argmax(sims))
            cluster = clusters[best]
            if strategy in ("cache", "diversity-cache"):
                for j in np.nonzero(linked)[0]:
                    last_seen[j] = tick
        else:
            cluster = int(mid)
        out.append((int(mid), cluster))
        ids.append(int(mid))
        clusters.append(cluster)
        last_seen.append(tick)
        embs.append(v)
        if limit is not None and len(ids) > limit:
            if strategy == "backwards":
                evict = 0  # sliding window: oldest
            elif strategy == "diversity":
                evict = int(np.argmax(sims)) if len(sims) else 0
            elif strategy == "cache":
                evict = int(np.argmin(last_seen[:-1]))
            else:  # diversity-cache
                if linked.any():
                    evict = int(np.argmax(sims))
                else:
                    evict = int(np.argmin(last_seen[:-1]))
            for lst in (ids, clusters, last_seen, embs):
                del lst[evict]
        tick += 1
    state["tick"] = tick
    return out


def streaming_linker(
    stream: DataFrame,
    threshold: float,
    limit: int | None = None,
    strategy: str = "cache",
    key_col: str = "category",
    id_col: str = "mention_index",
    vec_col: str = "embedding",
) -> DataFrame:
    """Wire the fold into applyInPandasWithState over ``key_col``.

    stream: streaming DataFrame with (key_col, id_col, vec_col).
    Output (append mode): (key, mention_index, cluster_id).
    """
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown strategy {strategy!r}")
    from streaming_cdc_spark.session import ensure_package_on_executors

    ensure_package_on_executors(stream.sparkSession)

    def process(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            ids, clusters, last_seen, embs, tick = state.get
            st = {
                "ids": list(ids),
                "clusters": list(clusters),
                "last_seen": list(last_seen),
                "embs": [np.asarray(e, dtype=np.float64) for e in embs],
                "tick": tick,
            }
        else:
            st = {}
        # Drain ALL Arrow chunks, concat, sort ONCE: the runtime hands
        # a group as ~10k-row chunks in arbitrary order, so a per-chunk
        # sort is not global id order (the r4 MG-sketch lesson; pinned
        # there with arrow.maxRecordsPerBatch=7).
        chunks = [pdf for pdf in pdfs]
        if chunks:
            rows = (
                pd.concat(chunks).sort_values(id_col)
                if len(chunks) > 1
                else chunks[0].sort_values(id_col)
            )
            out = fold_mentions(
                rows, st, threshold, limit, strategy, id_col, vec_col
            )
        else:
            # a timeout-invoked group hands an EMPTY iterator — emit
            # nothing, keep state (unreachable under NoTimeout)
            out = []
        state.update(
            (
                st.get("ids", []),
                st.get("clusters", []),
                st.get("last_seen", []),
                [list(map(float, e)) for e in st.get("embs", [])],
                st.get("tick", 0),
            )
        )
        yield pd.DataFrame(
            {
                "key": [str(key[0])] * len(out),
                "mention_index": [o[0] for o in out],
                "cluster_id": [o[1] for o in out],
            }
        )

    return (
        stream.select(F.col(key_col).cast("string").alias("key"), id_col, vec_col)
        .groupBy("key")
        .applyInPandasWithState(
            process,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

