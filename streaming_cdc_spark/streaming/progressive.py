"""Streaming progressive entity resolution: a per-micro-batch
comparison budget over the blocking graph.

Batch progressive ER (queries/dedup.py progressive_resolution; SparkER
/ ICDE progressive-ER literature per PAPERS.md) ranks ALL candidate
edges once and verifies a global top-B prefix. A 24/7 ingest can't do
that — the edge set grows forever — so the production form re-ranks
per arriving batch: each micro-batch discovers only the edges whose
LATER member just arrived (new-vs-corpus + new-vs-new), spends a fixed
verification budget on the highest-weight edges, and folds the rest of
the batch into the corpus state for future batches to block against.

Scale shape (every stage bounded per batch, none by stream length):
- corpus state is the POSTING LIST — one parquet row per (seen doc,
  hashed shingle), appended per batch; each micro-batch shingles only
  its own documents and probes the stored index, so the corpus is
  never re-tokenized (the accumulating-blocker shape; at 100 TB the
  postings would live in a bucketed table co-partitioned on the
  shingle hash so the probe join is shuffle-free on the corpus side);
- shingle document frequencies are INCREMENTAL partial aggregates
  (per-bucket (shingle, df) tables, monoid-merged per batch), and
  per-doc sizes are computed only for the <=2*budget docs in the cut
  via a broadcast semi-join — the probe join is the ONLY stage that
  touches the full postings; nothing re-aggregates the corpus;
- candidate edges come from the capped shingle equi-join (df cap over
  the VISIBLE corpus — a shingle that later goes hot is cheap early,
  exactly how a real accumulating blocker behaves);
- the budget cut is a per-batch top-B (total order: weight desc, ids)
  so each micro-batch verifies at most B pairs regardless of arrival
  volume;
- per-bucket result/state writes are whole-directory overwrites, so a
  replayed micro-batch (foreachBatch is at-least-once) is idempotent.

Determinism: with id-range splits admitted in mtime order, a pair's
discovery batch is a pure function of its larger doc id, so the whole
run — including the budget cut — is replayable in SQL; the registered
query carries a full DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ProgressiveResolver:
    """foreachBatch body for budgeted progressive resolution.

    Parameters mirror the batch query: ``df_cap`` bounds shingle
    document frequency (computed over the corpus visible at each
    batch), ``budget`` is the per-batch verified-pair cap, ``tau`` the
    capped-Jaccard match threshold. Batches carry ``doc_id bigint,
    text string, bucket int``.
    """

    # the schemas of the three tables this class writes; every read
    # passes its schema, so no read runs a schema-inference job
    POSTINGS_SCHEMA = "doc_id bigint, shingle bigint"
    DF_SCHEMA = "shingle bigint, df bigint"
    RESULT_SCHEMA = "batch_id int, cbs bigint, n_pairs bigint, n_matches bigint"

    def __init__(
        self,
        state_dir: str,
        budget: int = 50,
        df_cap: int = 50,
        tau: float = 0.2,
        compact_every: int | None = None,
        compact_keep_last: int = 2,
    ):
        # two per-bucket state tables, both written idempotently:
        # corpus  — posting lists (doc_id, hashed shingle): the probe index
        # df      — per-bucket partial shingle document frequencies
        #           (counts are monoids; visible df = sum of partials)
        self.state_root = os.path.join(state_dir, "corpus")
        self.df_root = os.path.join(state_dir, "df")
        self.result_root = os.path.join(state_dir, "results")
        for d in (self.state_root, self.df_root, self.result_root):
            os.makedirs(d, exist_ok=True)
        self.budget = budget
        self.df_cap = df_cap
        self.tau = tau
        # scheduled compaction: fold old per-bucket state every N
        # buckets, keeping the newest ``compact_keep_last`` unfolded
        # (a replayed bucket must still find its own dir to overwrite
        # — keep_last >= 1 is required for at-least-once safety, >= 2
        # leaves slack for a redelivered multi-bucket batch)
        if compact_every is not None and compact_keep_last < 1:
            raise ValueError("compact_keep_last must be >= 1 for replay safety")
        self.compact_every = compact_every
        self.compact_keep_last = compact_keep_last

    @staticmethod
    def _live_dirs(root: str) -> list[str]:
        """Dir names under ``root`` that are CURRENT state: every
        bucket dir plus the newest compaction generation, minus any
        bucket already merged into that generation (its _MANIFEST
        lists them — so a crash between a compaction's atomic rename
        and its input cleanup can never double-count)."""
        names = sorted(
            d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))
        )
        compacts = sorted(
            (n for n in names if n.startswith("compact_v")),
            key=lambda n: int(n.rsplit("v", 1)[1]),
        )
        merged: set[str] = set()
        live = []
        if compacts:
            latest = compacts[-1]
            with open(os.path.join(root, latest, "_MANIFEST"), encoding="ascii") as fh:
                merged = set(fh.read().split())
            live.append(latest)
        live += [
            n
            for n in names
            if n.startswith("b") and not n.startswith("compact") and n not in merged
        ]
        return live

    def _seen(self, spark, root: str, schema: str, exclude_from: int) -> DataFrame | None:
        """State rows under ``root``, EXCLUDING every bucket with id
        >= ``exclude_from``. Bucket ids are monotone in arrival order,
        so when (re)processing bucket k the visible corpus is exactly
        the buckets < k: the current bucket's own rows (a replayed
        micro-batch already wrote them) AND any later buckets of the
        same multi-bucket micro-batch (written by its first
        application) must both be invisible, or an at-least-once
        redelivery of a multi-bucket batch would shift the df cap and
        overwrite bucket k's results dir with different content."""
        subdirs = [
            os.path.join(root, d)
            for d in self._live_dirs(root)
            if not (d.startswith("b") and int(d[1:]) >= exclude_from)
        ]
        if not subdirs:
            return None
        return spark.read.schema(schema).parquet(*subdirs)

    def compact(self, spark, keep_last: int = 2, protect_from: int | None = None) -> None:
        """Fold old per-bucket state dirs into one compacted
        generation per state table. A 24/7 stream writes one dir per
        micro-batch; after thousands of batches the probe's listing +
        file-open cost dominates, so real deployments compact — this
        is the OPTIMIZE/rewrite step table formats run, expressed on
        the same layout.

        The newest ``keep_last`` bucket dirs are left alone: an
        at-least-once replay overwrites its own bucket dir, which is
        only safe while that dir still exists (a replayed bucket that
        had been merged would double-count). Crash safety: the merged
        data + a _MANIFEST of its inputs are written to a temp name
        and renamed into place atomically; readers always take the
        newest complete generation and skip manifest-listed inputs,
        so a crash before input cleanup changes nothing.

        df partials are re-aggregated during the merge (counts are
        monoids), so the compacted df table is one row per shingle —
        compaction SHRINKS it, not just concatenates.

        ``protect_from``: additionally never fold buckets with id >=
        this value, REGARDLESS of keep_last — in-stream compaction
        passes the current micro-batch's minimum bucket id, because a
        redelivered multi-bucket batch must still find every one of
        its own bucket dirs unfolded (a folded sibling would be
        invisible to _seen's >=-cut AND baked into the compacted
        generation — double-counted on replay)."""
        import shutil

        for root, schema, agg in (
            (self.state_root, self.POSTINGS_SCHEMA, False),
            (self.df_root, self.DF_SCHEMA, True),
        ):
            live = self._live_dirs(root)
            # numeric order: lexical sort would place b10 before b2
            buckets = sorted(
                (n for n in live if not n.startswith("compact_v")),
                key=lambda n: int(n[1:]),
            )
            foldable = buckets[: max(0, len(buckets) - keep_last)]
            if protect_from is not None:
                foldable = [n for n in foldable if int(n[1:]) < protect_from]
            inputs = [n for n in live if n.startswith("compact_v")] + foldable
            if len(inputs) < 2:
                continue  # nothing worth folding
            gens = [
                int(n.rsplit("v", 1)[1]) for n in live if n.startswith("compact_v")
            ]
            new_name = f"compact_v{(max(gens) + 1) if gens else 0}"
            merged = spark.read.schema(schema).parquet(
                *[os.path.join(root, n) for n in inputs]
            )
            if agg:
                merged = merged.groupBy("shingle").agg(
                    F.sum("df").cast("long").alias("df")
                )
            tmp = os.path.join(root, "_tmp_" + new_name)
            shutil.rmtree(tmp, ignore_errors=True)  # stale crash leftover
            merged.coalesce(4).write.mode("overwrite").parquet(tmp)
            # record inputs BEFORE publishing: readers of the new
            # generation must know which bucket dirs it subsumes
            prior_merged: set[str] = set()
            for n in inputs:
                mpath = os.path.join(root, n, "_MANIFEST")
                if os.path.exists(mpath):
                    with open(mpath, encoding="ascii") as fh:
                        prior_merged |= set(fh.read().split())
            with open(os.path.join(tmp, "_MANIFEST"), "w", encoding="ascii") as fh:
                fh.write(" ".join(sorted(prior_merged | set(inputs))))
            os.replace(tmp, os.path.join(root, new_name))  # atomic publish
            for n in inputs:  # cleanup; safe to crash anywhere in here
                shutil.rmtree(os.path.join(root, n), ignore_errors=True)

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body. A micro-batch may carry MORE than one
        bucket (e.g. availableNow without maxFilesPerTrigger admits
        every file at once): buckets are processed independently in
        ascending id order, which is exactly the fold the one-bucket-
        per-trigger stream performs — results are identical either
        way."""
        # LAZY checkpoint (optimization r9): the bucket-list collect
        # below is the action that materializes it, so admission costs
        # one driver job per trigger instead of two; later per-bucket
        # filters read the cached rows either way.
        batch_all = batch_df.select("doc_id", "text", "bucket").localCheckpoint(
            eager=False
        )
        # one driver round-trip covers both the empty check and the
        # bucket list
        buckets = sorted(
            r[0] for r in batch_all.select("bucket").distinct().collect()
        )
        for bucket in buckets:
            self._apply_bucket(batch_all.filter(F.col("bucket") == bucket), bucket)
            if self.compact_every and (bucket + 1) % self.compact_every == 0:
                # in-stream OPTIMIZE: results are invariant (tested),
                # only the state layout folds — the long-stream shape
                # where listing + file-open cost would otherwise grow
                # with stream age. protect_from = this micro-batch's
                # lowest bucket: an at-least-once redelivery of the
                # WHOLE batch must find all of its own bucket dirs
                # unfolded (code-review r4 finding)
                self.compact(
                    batch_df.sparkSession,
                    keep_last=self.compact_keep_last,
                    protect_from=buckets[0],
                )

    def _apply_bucket(self, batch: DataFrame, bucket: int) -> None:
        from streaming_cdc_spark.operators.dedup import exploded_shingles

        spark = batch.sparkSession
        # corpus state is the POSTING LIST (doc_id, hashed shingle),
        # not raw text: each batch shingles only its own docs and
        # reads prior batches' postings back as-is — the index-probe
        # shape a 100 TB accumulating blocker runs (re-shingling the
        # corpus per batch would re-pay the whole-corpus scan 1/2 +
        # 2/4 + 3/4 + ... times over). The batch's postings are
        # cached (lazily): they feed the probe union, the partial
        # aggregates, AND the state write.
        post_batch = exploded_shingles(batch, hashed=True).persist()
        post_seen = self._seen(
            spark, self.state_root, self.POSTINGS_SCHEMA, exclude_from=bucket
        )
        sh = (
            post_seen.unionByName(post_batch) if post_seen is not None else post_batch
        ).persist()
        try:
            self._resolve_and_publish(sh, post_batch, batch, bucket)
        finally:
            sh.unpersist()
            post_batch.unpersist()

    def _resolve_and_publish(
        self, sh: DataFrame, post_batch: DataFrame, batch: DataFrame, bucket: int
    ) -> None:
        spark = batch.sparkSession
        # shingle document frequencies come from MERGED PARTIAL
        # AGGREGATES, not a re-aggregation of the cumulative postings:
        # each bucket stores its own (shingle, df) partial — counts
        # are monoids, so the visible-corpus df is a groupBy-sum over
        # per-bucket partials (rows ~ distinct shingles per bucket,
        # orders of magnitude fewer than postings). The full postings
        # table is touched ONCE per batch, by the probe join itself.
        df_batch = post_batch.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("df")
        )
        df_seen = self._seen(spark, self.df_root, self.DF_SCHEMA, exclude_from=bucket)
        df_all = (
            df_seen.unionByName(df_batch) if df_seen is not None else df_batch
        )
        keep = (
            df_all.groupBy("shingle")
            .agg(F.sum("df").alias("_df"))
            .filter(F.col("_df") <= self.df_cap)
            .select("shingle")
        )
        # df-capped postings feed BOTH probe sides (a_side and the
        # batch-filtered b_side) — persist so the df-cap aggregate +
        # semi-join compute once per bucket instead of once per side
        # (optimization r10; lazy — the result write materializes it)
        shc = sh.join(keep, "shingle", "left_semi").persist()
        # edges discovered THIS batch: the larger doc just arrived
        b_side = shc.join(
            batch.select("doc_id"), "doc_id", "left_semi"
        ).select(F.col("doc_id").alias("doc_b"), "shingle")
        a_side = shc.select(F.col("doc_id").alias("doc_a"), "shingle")
        edges = (
            a_side.join(b_side, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("cbs"))
        )
        # pin the ≤budget winning edges so the verify below doesn't
        # re-run the whole candidate pipeline per consumer. eager=False
        # defers only the final top-B job to the result write: under
        # AQE, building the checkpoint RDD calls physicalPlan.execute(),
        # which runs every upstream shuffle stage (df-cap aggregate,
        # probe join, edge aggregate) right here, while the plan is
        # built, before the three writes below start.
        top = (
            edges.orderBy(F.desc("cbs"), "doc_a", "doc_b")
            .limit(self.budget)
            .localCheckpoint(eager=False)
        )
        # exact sizes ONLY for the ≤2*budget docs in the cut: a
        # broadcast semi-join against the cached postings — never a
        # corpus-wide size aggregate (at any scale, sizes for 100
        # docs beat sizes for every doc)
        top_ids = (
            top.select(F.col("doc_a").alias("doc_id"))
            .unionByName(top.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sizes = (
            sh.join(F.broadcast(top_ids), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
        verified = (
            top.join(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
                "doc_a",
            )
            .join(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
                "doc_b",
            )
            .withColumn(
                "_m",
                F.col("cbs") / (F.col("na") + F.col("nb") - F.col("cbs"))
                >= F.lit(self.tau),
            )
        )
        out = verified.groupBy("cbs").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("_m").cast("int")).cast("long").alias("n_matches"),
        ).select(F.lit(int(bucket)).cast("int").alias("batch_id"), "*")
        # idempotent per-bucket publishes: a replayed batch overwrites
        # its own directories with identical content. The three writes
        # are independent (results; postings; df partials — the state
        # tables derive from the CACHED batch postings, not from the
        # results), so they run as concurrent Spark jobs: per-job
        # scheduling latency overlaps instead of summing — the same
        # async-commit shape streaming state stores use.
        # few-file state layout: postings are narrow (two longs), so
        # a handful of parquet files per bucket beats one per shuffle
        # partition — later batches re-open every prior bucket's files
        from concurrent.futures import ThreadPoolExecutor

        writes = (
            lambda: out.write.mode("overwrite").parquet(
                os.path.join(self.result_root, f"b{bucket}")
            ),
            lambda: post_batch.coalesce(2).write.mode("overwrite").parquet(
                os.path.join(self.state_root, f"b{bucket}")
            ),
            lambda: df_batch.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.df_root, f"b{bucket}")
            ),
        )
        try:
            with ThreadPoolExecutor(max_workers=3) as pool:
                for f in [pool.submit(w) for w in writes]:
                    f.result()  # propagate the first failure
        finally:
            shc.unpersist()

    def results(self, spark) -> DataFrame:
        subdirs = [
            os.path.join(self.result_root, d)
            for d in sorted(os.listdir(self.result_root))
            if os.path.isdir(os.path.join(self.result_root, d))
        ]
        if not subdirs:  # empty stream: no batch ever published
            return spark.createDataFrame([], self.RESULT_SCHEMA)
        return spark.read.schema(self.RESULT_SCHEMA).parquet(*subdirs)
