"""GRINCH — online hierarchical clustering with rotations and grafts
(Monath et al., KDD 2019), the reference's EP3 (grinch_alg.py,
cluster_w_grinch.py). Clean-room implementation of the published
algorithm, NOT a port of the reference code.

Execution model (SURVEY §7 step 9): tree insertion is inherently
sequential, so the exact algorithm runs as driver-side state (parity
mode) or per-partition-key inside ``applyInPandas`` (scalable mode for
partitionable corpora, e.g. Zeshel categories — each key builds an
independent tree in parallel). Tree OUTPUTS (dendrogram edge lists)
are DataFrames, and downstream aggregations (purity, cuts) are
distributed DataFrame computations.

Performance model (C13, grinch_alg.py:415-509 semantics): centroid
sums are maintained LAZILY — structural edits only mark the ancestor
chain dirty (amortized O(1): the walk stops at the first already-
dirty node), and sums/descendant counts are recomputed bottom-up on
read. Active-leaf centroids live in one preallocated matrix so the
1-NN search (C9 cknn) is a single masked matvec, and graft candidate
scoring is one chain-by-chain matmul instead of a pairwise Python
loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NEG_INF = float("-inf")


class GrinchTree:
    """Online binary dendrogram with rotate + graft + bounded leaves.

    sim: 'dot' (on l2-normalized centroids = cosine) — the config the
    reference experiments use (scripts/cluster.sh, coslink).
    """

    def __init__(
        self,
        dim: int,
        rotate_cap: int = 100,
        graft_cap: int = 100,
        normalize: bool = True,
        active_leaf_limit: int | None = None,
        pruning_strategy: str = "least_recent",
        pruning_threshold: float | None = None,
    ):
        self.dim = dim
        self.rotate_cap = rotate_cap
        self.graft_cap = graft_cap
        self.normalize = normalize
        self.active_leaf_limit = active_leaf_limit
        self.pruning_strategy = pruning_strategy
        self.pruning_threshold = pruning_threshold
        # node storage: scalars in python lists (cheap appends), the
        # vector state in preallocated numpy blocks (capacity-doubled)
        self.parent: list[int] = []
        self.children: list[list[int]] = []
        self.n_desc: list[int] = []
        self.first_used: list[int] = []
        self.is_active_leaf: list[bool] = []
        self.deleted: list[bool] = []
        self.external: list[object] = []  # caller's id for leaves, None internal
        self.label: list[object] = []
        self.dirty: list[bool] = []
        self.step = 0
        self._n_active = 0
        self._act_counter = 0
        self._cap = 256
        self._sums = np.zeros((self._cap, dim))
        # active-leaf centroid cache: centroids are immutable while a
        # node is active, so NN search is one masked matvec
        self._cent = np.zeros((self._cap, dim))
        self._active_mask = np.zeros(self._cap, dtype=bool)
        self._act_seq = np.zeros(self._cap, dtype=np.int64)
        # memoized centroid/linkage values for CLEAN nodes — the dirty
        # walk is the single invalidation point, so a cache hit is
        # always consistent with the lazy sums
        self._cent_cache: dict[int, np.ndarray] = {}
        self._score_cache: dict[int, float] = {}

    def _grow(self) -> None:
        new_cap = self._cap * 2
        for name in ("_sums", "_cent"):
            block = np.zeros((new_cap, self.dim))
            block[: self._cap] = getattr(self, name)
            setattr(self, name, block)
        mask = np.zeros(new_cap, dtype=bool)
        mask[: self._cap] = self._active_mask
        self._active_mask = mask
        seq = np.zeros(new_cap, dtype=np.int64)
        seq[: self._cap] = self._act_seq
        self._act_seq = seq
        self._cap = new_cap

    def _activate(self, nid: int) -> None:
        self.is_active_leaf[nid] = True
        self._cent[nid] = self.centroid(nid)
        self._active_mask[nid] = True
        self._act_seq[nid] = self._act_counter
        self._act_counter += 1
        self._n_active += 1

    def _deactivate(self, nid: int) -> None:
        self.is_active_leaf[nid] = False
        self._active_mask[nid] = False
        self._n_active -= 1

    # -- basics --------------------------------------------------------

    def _new_node(self, vec: np.ndarray, n_desc: int, external=None, label=None) -> int:
        nid = len(self.parent)
        if nid >= self._cap:
            self._grow()
        self.parent.append(-1)
        self.children.append([])
        self._sums[nid] = vec
        self.n_desc.append(n_desc)
        self.first_used.append(self.step)
        self.is_active_leaf.append(False)
        self.deleted.append(False)
        self.external.append(external)
        self.label.append(label)
        self.dirty.append(False)
        return nid

    def _mark_dirty_up(self, nid: int) -> None:
        """C13 lazy maintenance: invalidate the ancestor chain. A dirty
        node implies dirty ancestors, so stop at the first dirty
        internal node — amortized O(1) per edit."""
        cur = nid
        while cur != -1:
            if self.children[cur]:
                if self.dirty[cur]:
                    return
                self.dirty[cur] = True
                self._cent_cache.pop(cur, None)
                self._score_cache.pop(cur, None)
            cur = self.parent[cur]

    def _ensure(self, nid: int) -> None:
        """Recompute sums/n_desc bottom-up over the dirty subtree of
        nid (only dirty nodes are touched)."""
        if not self.dirty[nid]:
            return
        order = []
        stack = [nid]
        while stack:
            cur = stack.pop()
            if not self.dirty[cur]:
                continue
            order.append(cur)
            for c in self.children[cur]:
                if self.dirty[c]:
                    stack.append(c)
        for cur in reversed(order):
            ch = self.children[cur]
            self._sums[cur] = self._sums[ch].sum(axis=0)
            self.n_desc[cur] = sum(self.n_desc[c] for c in ch)
            self.dirty[cur] = False

    def centroid(self, nid: int) -> np.ndarray:
        cached = self._cent_cache.get(nid)
        if cached is not None:
            return cached
        self._ensure(nid)
        c = self._sums[nid] / self.n_desc[nid]
        if self.normalize:
            n = np.linalg.norm(c)
            if n > 0:
                c = c / n
        self._cent_cache[nid] = c
        return c

    def score(self, nid: int) -> float:
        """Linkage score of an internal node: sim of its children's
        centroids. Leaves score -inf (never 'pure enough to stop')."""
        cached = self._score_cache.get(nid)
        if cached is not None:
            return cached
        ch = self.children[nid]
        if len(ch) != 2:
            return _NEG_INF
        s = float(self.centroid(ch[0]) @ self.centroid(ch[1]))
        # cache only when clean: the dirty-marking walk stops at
        # already-dirty nodes, so an entry stored while dirty would
        # never be invalidated by the next structural edit
        if not self.dirty[nid]:
            self._score_cache[nid] = s
        return s

    def _sim(self, a: np.ndarray, b: np.ndarray) -> float:
        return float(a @ b)

    def _nn_leaf(self, vec: np.ndarray, exclude: set[int] = frozenset()) -> int | None:
        """Vectorized 1-NN over active-leaf centroids (C9 cknn): one
        masked matvec against the shared centroid matrix. Ties break
        toward the earliest-activated leaf — identical to iterating
        the cache in activation order."""
        n = len(self.parent)
        # one dgemv over the contiguous prefix (no row-gather copy);
        # inactive/excluded rows are masked out afterwards — per-row
        # dot values are unchanged, so selection is bit-identical
        sims = self._cent[:n] @ vec
        m = self._active_mask[:n]
        if exclude:
            m = m.copy()
            for e in exclude:
                if e < n:
                    m[e] = False
        if not m.any():
            return None
        sims[~m] = _NEG_INF
        cand = np.flatnonzero(sims == sims.max())
        return int(cand[np.argmin(self._act_seq[cand])])

    def _descendant_set(self, nid: int) -> set[int]:
        out, stack = set(), [nid]
        while stack:
            cur = stack.pop()
            out.add(cur)
            stack.extend(self.children[cur])
        return out

    def leaf_descendants(self, nid: int) -> list[int]:
        out, stack = [], [nid]
        while stack:
            cur = stack.pop()
            ch = self.children[cur]
            if ch:
                stack.extend(ch)
            elif not self.deleted[cur]:
                out.append(cur)
        return out

    # -- structural edits ----------------------------------------------

    def _splice_parent_over(self, node: int, new_sib: int) -> int:
        """Create a parent over `node`, adopting `new_sib` as its other
        child; `new_sib` is detached from its old position first (the
        graft path) or is brand new (the insert path)."""
        old_parent = self.parent[new_sib]
        if old_parent != -1:
            # detach: old parent collapses (its other child replaces it)
            gp = self.parent[old_parent]
            other = [c for c in self.children[old_parent] if c != new_sib][0]
            self.parent[other] = gp
            if gp != -1:
                self.children[gp] = [other if c == old_parent else c for c in self.children[gp]]
                self._mark_dirty_up(gp)
            self.children[old_parent] = []
            self.deleted[old_parent] = True
            self.dirty[old_parent] = False

        grandparent = self.parent[node]
        parent = self._new_node(np.zeros(self.dim), 0)
        self.parent[parent] = grandparent
        if grandparent != -1:
            self.children[grandparent] = [
                parent if c == node else c for c in self.children[grandparent]
            ]
        self.children[parent] = [node, new_sib]
        self.parent[node] = parent
        self.parent[new_sib] = parent
        self._mark_dirty_up(parent)
        return parent

    # -- GRINCH operations ---------------------------------------------

    def insert(self, vec: np.ndarray, external=None, label=None) -> int:
        v = vec.astype(np.float64)
        if self.normalize:
            n = np.linalg.norm(v)
            if n > 0:
                v = v / n
        leaf = self._new_node(v, 1, external=external, label=label)
        if self.step == 0:
            self._activate(leaf)
            self.step += 1
            return leaf
        nn = self._nn_leaf(self.centroid(leaf), exclude={leaf})
        self._activate(leaf)
        sib = self._find_rotate(leaf, nn)
        parent = self._splice_parent_over(sib, leaf)
        self._graft(parent)
        if self.active_leaf_limit is not None and self._n_active > self.active_leaf_limit:
            self._prune()
        self.step += 1
        return leaf

    def _find_rotate(self, gnode: int, sib: int) -> int:
        """Climb from the NN leaf while the parent's linkage beats the
        new pair's score (capped by rotate_cap descendants)."""
        score = self._sim(self.centroid(gnode), self.centroid(sib))
        cur = sib
        while True:
            par = self.parent[cur]
            if par == -1:
                return cur
            if self.score(par) <= score:
                return cur
            self._ensure(par)
            if self.n_desc[par] >= self.rotate_cap:
                return cur
            cur = par

    def _graft(self, gnode: int) -> None:
        """Try to move a nearby subtree next to gnode: find the NN
        active leaf outside gnode's subtree, walk both ancestor chains
        to the LCA, and splice the best (mine, theirs) pair whose
        pairwise score beats both current parents' linkage. Candidate
        scoring is one matmul over the two chains' centroid matrices;
        ties pick the row-major-first pair, matching the reference's
        sequential strict-improvement scan."""
        desc = self._descendant_set(gnode)
        exclude = set(desc)
        par = self.parent[gnode]
        if par != -1:
            sibs = [c for c in self.children[par] if c != gnode]
            if sibs and self.is_active_leaf[sibs[0]]:
                exclude.add(sibs[0])
        nn = self._nn_leaf(self.centroid(gnode), exclude=exclude)
        if nn is None:
            return
        # ancestor chains up to (not including) the LCA
        mine = self._chain_to_lca(gnode, nn)
        theirs = self._chain_to_lca(nn, gnode)
        if not mine or not theirs:
            return
        if len(mine) * len(theirs) > self.graft_cap * self.graft_cap:
            mine = mine[: self.graft_cap]
            theirs = theirs[: self.graft_cap]
        # per-pair dots, NOT one matmul: a candidate's score is often
        # mathematically identical to a parent linkage (when the pair
        # is that parent's own children), and the strict > comparisons
        # must see bit-identical values on both sides — dgemm and dot
        # can differ in the last ulp and flip those ties. The centroid
        # and score caches make this loop cheap.
        theirs_cent = [self.centroid(b) for b in theirs]
        bpar = [
            self.score(self.parent[b]) if self.parent[b] != -1 else _NEG_INF
            for b in theirs
        ]
        best = None
        for a in mine:
            ca = self.centroid(a)
            pa = self.parent[a]
            a_parent_score = self.score(pa) if pa != -1 else _NEG_INF
            for bi, b in enumerate(theirs):
                s = float(ca @ theirs_cent[bi])
                if s > a_parent_score and s > bpar[bi]:
                    if best is None or s > best[0]:
                        best = (s, a, b)
        if best is not None:
            _, a, b = best
            self._splice_parent_over(a, b)

    def _chain_to_lca(self, node: int, other: int) -> list[int]:
        other_ancs = set()
        cur = other
        while cur != -1:
            other_ancs.add(cur)
            cur = self.parent[cur]
        chain = []
        cur = node
        while cur != -1 and cur not in other_ancs:
            chain.append(cur)
            cur = self.parent[cur]
        return chain

    def _prune(self) -> None:
        """Collapse one parent whose children are both active leaves
        (C12): the parent becomes a single active leaf summarizing its
        children (centroid-preserving)."""
        candidates = []
        for nid in range(len(self.parent)):
            ch = self.children[nid]
            if (
                len(ch) == 2
                and not self.deleted[nid]
                and all(self.is_active_leaf[c] for c in ch)
            ):
                candidates.append(nid)
        if not candidates:
            return
        if self.pruning_strategy == "similarity":
            chosen = max(candidates, key=lambda n: (self.score(n), -n))
        elif self.pruning_strategy == "combined":
            best = max(candidates, key=lambda n: (self.score(n), -n))
            chosen = (
                best
                if self.score(best) > (self.pruning_threshold or _NEG_INF)
                else min(candidates, key=lambda n: (self.first_used[n], n))
            )
        else:  # least_recent
            chosen = min(candidates, key=lambda n: (self.first_used[n], n))
        for c in self.children[chosen]:
            self._deactivate(c)
        self._activate(chosen)
        self.first_used[chosen] = self.step

    # -- outputs -------------------------------------------------------

    def root(self) -> int:
        for nid in range(len(self.parent)):
            if self.parent[nid] == -1 and not self.deleted[nid]:
                return nid
        raise RuntimeError("no root")

    def edge_rows(self) -> list[tuple[str, str | None, str | None]]:
        """Dendrogram edge list (uid, parent_uid, label) — S11 shape
        (grinch_alg write_tree format, SURVEY §1.1)."""
        rows = []
        for nid in range(len(self.parent)):
            if self.deleted[nid]:
                continue
            par = self.parent[nid]
            uid = str(self.external[nid]) if self.external[nid] is not None else f"n{nid}"
            parent_uid = None
            if par != -1:
                parent_uid = (
                    str(self.external[par]) if self.external[par] is not None else f"n{par}"
                )
            lab = self.label[nid]
            rows.append((uid, parent_uid, str(lab) if lab is not None else None))
        return rows

    def flat_clusters(self, threshold: float) -> dict[object, int]:
        """C14: BFS from root; emit a subtree as one cluster when its
        linkage score >= threshold; cluster id = min leaf node id."""
        out: dict[object, int] = {}
        stack = [self.root()]
        while stack:
            nid = stack.pop()
            if not self.children[nid] or self.score(nid) >= threshold:
                leaves = self.leaf_descendants(nid)
                rep = min(leaves)
                for l in leaves:
                    out[self.external[l] if self.external[l] is not None else l] = rep
            else:
                stack.extend(self.children[nid])
        return out


def grinch_build(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    **params,
) -> GrinchTree:
    """Parity mode: build one tree on the driver from a (sorted)
    DataFrame. Collects the input — use for corpora that fit one
    machine (the reference's own operating regime); use
    grinch_per_key for partitioned parallel trees."""
    cols = [id_col, vec_col] + ([label_col] if label_col else [])
    rows = df.select(*cols).orderBy(id_col).collect()
    if not rows:
        return GrinchTree(dim=1, **params)
    dim = len(rows[0][vec_col])
    tree = GrinchTree(dim=dim, **params)
    for r in rows:
        tree.insert(
            np.asarray(r[vec_col], dtype=np.float64),
            external=r[id_col],
            label=r[label_col] if label_col else None,
        )
    return tree


def grinch_dendrogram(df: DataFrame, **kwargs) -> DataFrame:
    """Parity-mode dendrogram as an edge DataFrame (uid, parent_uid,
    label)."""
    tree = grinch_build(df, **kwargs)
    spark = df.sparkSession
    return spark.createDataFrame(
        tree.edge_rows(), "uid string, parent_uid string, label string"
    )


def grinch_per_key(
    df: DataFrame,
    key_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    **params,
) -> DataFrame:
    """Scalable mode: one independent GRINCH tree per key, built in
    parallel with applyInPandas; output is the union of per-key
    dendrogram edge lists (key, uid, parent_uid, label)."""
    from streaming_cdc_spark.session import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        dim = len(pdf[vec_col].iloc[0])
        tree = GrinchTree(dim=dim, **params)
        for _, r in pdf.iterrows():
            tree.insert(
                np.asarray(r[vec_col], dtype=np.float64),
                external=r[id_col],
                label=r[label_col] if label_col else None,
            )
        key = pdf[key_col].iloc[0]
        rows = tree.edge_rows()
        return pd.DataFrame(
            {
                "key": [str(key)] * len(rows),
                "uid": [r[0] for r in rows],
                "parent_uid": [r[1] for r in rows],
                "label": [r[2] for r in rows],
            }
        )

    cols = [key_col, id_col, vec_col] + ([label_col] if label_col else [])
    return (
        df.select(*cols)
        .groupBy(key_col)
        .applyInPandas(build, "key string, uid string, parent_uid string, label string")
    )
