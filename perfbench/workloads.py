"""The three workloads. Each drives the engine only through its public
functions, over files ``gen.py`` wrote, and returns the raw samples
``run.py`` turns into metrics.

An *operation* is what ``attempted``/``failed`` count: a pipeline run
(batch_resolve), an offered file (stream_link), a bucket
(progressive_drain). An operation fails when it raises, never emits, or
disagrees with the independent recomputation in ``check.py``.

A *unit* is the work one ``wall_s`` sample times: a pipeline run, a
micro-batch, a whole drain.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import check
import gen
from tracing import StageStats, Tracer, dir_size, stage_totals

HERE = os.path.dirname(os.path.abspath(__file__))

STREAM_SCHEMA = "category string, mention_index long, embedding array<double>, due_s double, file_no int"
DOCS_SCHEMA = "doc_id long, text string, bucket int"
# processing-time trigger of the open-loop stream, and how long the
# stream's first trigger may take to start before the first file is due
STREAM_TRIGGER = "500 milliseconds"
STREAM_LEAD_S = 1.0
DRAIN_TIMEOUT_S = 30.0


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    restart: object = None  # callable(cpus) -> new session, for the local[1] baseline


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    units: list = field(default_factory=list)  # wall_s samples (s)
    latencies: list = field(default_factory=list)  # per-operation latency (s)
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced runs)
    info: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)


def _err(what: str) -> None:
    print(f"[perfbench] {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def _mkdir(*parts) -> str:
    path = os.path.join(*parts)
    os.makedirs(path, exist_ok=True)
    return path


def _layer_stats(tr: Tracer, name: str, stats: StageStats):
    """(self time, jobs, stage totals) of the spans called ``name``."""
    recs = tr.named(name)
    busy = sum(tr.self_time(r) for r in recs)
    job_ids = [j for r in recs for j in tr.group_jobs(r)]
    jobs_by_id = {j["jobId"]: j for j in stats.jobs()}
    return busy, len(job_ids), stage_totals(job_ids, jobs_by_id, stats.stages())


# ---------------------------------------------------------------- batch


def batch_pipeline(spark, path: str, tr: Tracer) -> dict:
    """encode -> cosine edges -> connected components -> MUC/B3/CEAF-e.

    Each layer is one call into the engine plus the materialization of
    its output (persist + count, or collect), so a layer's span holds
    the Spark jobs the layer causes. ``driver_cutoff=0`` puts the graph
    on the distributed label-propagation path that graphs above the
    default 2M-edge cutoff take; at a size that fits this benchmark's
    time budget the default would solve it on the driver instead."""
    from pyspark.sql import functions as F

    from streaming_cdc_spark.operators.clustering import connected_components
    from streaming_cdc_spark.operators.encoder import hash_encode_mentions
    from streaming_cdc_spark.operators.similarity import cosine_self_edges
    from streaming_cdc_spark.pipelines import evaluate_pairs

    held = []
    try:
        with tr.span("pipeline") as root:
            mentions = spark.read.parquet(path)
            with tr.span("encoder"):
                enc = hash_encode_mentions(mentions).persist()
                held.append(enc)
                n = enc.count()
            with tr.span("similarity"):
                edges = cosine_self_edges(enc, gen.MENTIONS_THRESHOLD, id_col="mention_index").persist()
                held.append(edges)
                n_edges = edges.count()
            with tr.span("clustering"):
                assign = connected_components(
                    enc.select("mention_index"),
                    edges.select("u", "v"),
                    id_col="mention_index",
                    driver_cutoff=0,
                ).persist()
                held.append(assign)
                labels = {int(r[0]): int(r[1]) for r in assign.collect()}
            with tr.span("coref"):
                pairs = assign.join(mentions.select("mention_index", "entity_id"), "mention_index").select(
                    F.col("mention_index").alias("mention"),
                    F.col("entity_id").alias("true_id"),
                    F.col("cluster_id").alias("pred_id"),
                )
                ev = evaluate_pairs(pairs)
                metrics = {}
                for k in ("muc", "b3", "ceaf_e"):
                    metrics.update(ev[k].first().asDict())
    finally:
        for d in held:
            d.unpersist()
    return {
        "n": n,
        "edges": n_edges,
        "labels": labels,
        "metrics": metrics,
        "wall": root["end"] - root["start"],
    }


def _batch_ok(out: dict, want: dict) -> bool:
    ok = (
        out["n"] == want["n"]
        and out["edges"] == want["edges"]
        and out["labels"] == want["labels"]
        and check.metrics_match(out["metrics"], want["metrics"])
    )
    if not ok:
        print(
            f"[perfbench] batch_resolve mismatch: edges {out['edges']} vs {want['edges']}, "
            f"metrics {out['metrics']} vs {want['metrics']}",
            file=sys.stderr,
        )
    return ok


def batch_resolve(ctx: Ctx) -> Result:
    res = Result()
    data = _mkdir(ctx.work, "mentions")
    path = gen.write_mentions(ctx.seed, data)
    want = check.batch_expected(gen.mentions_table(ctx.seed), gen.MENTIONS_THRESHOLD)
    res.info["edges"] = want["edges"]
    res.info["metrics"] = want["metrics"]
    batch_pipeline(ctx.spark, path, Tracer())  # untimed warm-up at full size

    def attempt(spark, tr) -> dict | None:
        res.attempted += 1
        try:
            out = batch_pipeline(spark, path, tr)
        except Exception:  # an engine error is a failed operation, not a crashed benchmark
            _err("batch_resolve run")
            res.failed += 1
            return None
        if not _batch_ok(out, want):
            res.failed += 1
        return out

    if not ctx.trace:
        begin = time.perf_counter()
        while res.attempted == 0 or time.perf_counter() - begin < ctx.seconds:
            out = attempt(ctx.spark, Tracer())
            if out is not None:
                res.units.append(out["wall"])
        res.latencies = list(res.units)
        return res

    plain = attempt(ctx.spark, Tracer())
    tr = Tracer(ctx.spark, enabled=True)
    traced = attempt(ctx.spark, tr)
    stats = StageStats(ctx.spark)
    stats.quiesce()
    L = res.layers
    for layer in ("encoder", "similarity", "clustering", "coref"):
        busy, jobs, st = _layer_stats(tr, layer, stats)
        L[f"{layer}.busy_s"] = busy
        L[f"{layer}.jobs"] = jobs
        L[f"{layer}.stages"] = st["stages"]
        L[f"{layer}.shuffle_bytes"] = st["shuffle_bytes"]
        L[f"{layer}.executor_run_s"] = st["executor_run_s"]
    n = want["n"]
    L["similarity.pairs_scored"] = n * n  # broadcast kernel: every row against every row
    L["similarity.edges"] = want["edges"]
    L["similarity.edge_yield"] = want["edges"] / (n * n)
    if plain is not None and traced is not None:
        L["trace.overhead_s"] = traced["wall"] - plain["wall"]
    root = tr.named("pipeline")
    if root:
        L["trace.unattributed_s"] = tr.self_time(root[0])
    res.spans = tr.spans
    # single-threaded baseline: the same pipeline at local[1]
    spark1 = ctx.restart(1)
    one = attempt(spark1, Tracer())
    if one is not None:
        L["baseline.local1_wall_s"] = one["wall"]
    return res


# --------------------------------------------------------------- stream


def _link(stream):
    """The bounded-state streaming linker, as both the warm-up and the
    timed passes run it."""
    from streaming_cdc_spark.streaming.linker import streaming_linker

    return streaming_linker(
        stream, gen.STREAM_THRESHOLD, limit=gen.STREAM_LIMIT, strategy="cache", key_col="category"
    )


def _stream_pass(ctx: Ctx, name: str, n_files: int, tables, want: dict, tr: Tracer) -> dict:
    """One open-loop pass: start the linker, let a separate generator
    process offer ``n_files`` files on schedule, wait until every
    offered file has been emitted (or the drain times out)."""
    from streaming_cdc_spark.session import stream_start_conf

    spark = ctx.spark
    interval = gen.STREAM["interval_s"]
    src = _mkdir(ctx.work, f"{name}_src")
    ckpt = _mkdir(ctx.work, f"{name}_ckpt")
    log = os.path.join(ctx.work, f"{name}_gen.jsonl")
    file_of = {}
    for t in tables:
        for mid, f in zip(t.column("mention_index").to_pylist(), t.column("file_no").to_pylist()):
            file_of[mid] = f
    emitted: dict[int, float] = {}
    got: dict[int, int] = {}
    lag: list[int] = []

    def sink(df, batch_id):
        start = time.perf_counter()
        rows = df.select("mention_index", "cluster_id").collect()
        now = time.time()
        for mid, cid in rows:
            got[mid] = cid
            emitted.setdefault(file_of[mid], now)
        offered = sum(1 for x in os.listdir(src) if x.endswith(".parquet") and not x.startswith("."))
        lag.append(offered - len(emitted))
        tr.add("sink", start, time.perf_counter(), batch_id=batch_id, rows=len(rows))

    out = _link(spark.readStream.schema(STREAM_SCHEMA).parquet(src))
    with stream_start_conf(spark):
        q = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=STREAM_TRIGGER)
            .start()
        )
    proc = None
    try:
        t0 = time.time() + STREAM_LEAD_S
        proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "gen.py"),
                "stream",
                "--seed",
                str(ctx.seed),
                "--out",
                src,
                "--t0",
                repr(t0),
                "--log",
                log,
                "--files",
                str(n_files),
            ]
        )
        proc.wait(timeout=STREAM_LEAD_S + n_files * interval + 60)
        deadline = time.time() + DRAIN_TIMEOUT_S
        while len(emitted) < n_files and time.time() < deadline and q.isActive:
            time.sleep(0.02)
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if q.exception() is not None:
            print(f"[perfbench] stream_link query failed: {q.exception()}", file=sys.stderr)
    finally:
        q.stop()
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
    late = []
    if os.path.exists(log):
        with open(log, encoding="ascii") as fh:
            late = [json.loads(x)["late_s"] for x in fh if x.strip()]
    bad = {file_of[m] for m, c in want.items() if got.get(m) != c}
    return {
        "latency": {f: emitted[f] - (t0 + (f + 1) * interval) for f in emitted},
        "failed": len(bad | (set(range(n_files)) - set(emitted))),
        "progress": progress,
        "lag": lag,
        "gen_late_s": late,
    }


def stream_link(ctx: Ctx) -> Result:
    res = Result()
    interval = gen.STREAM["interval_s"]
    n_files = max(1, int(round(ctx.seconds / interval)))
    tables = gen.stream_tables(ctx.seed, n_files=n_files)
    want = check.stream_expected(tables, gen.STREAM_THRESHOLD, gen.STREAM_LIMIT)
    res.info["rows"] = len(want)
    res.info["clusters"] = len(set(want.values()))
    _stream_warmup(ctx)

    def run(name: str, tr: Tracer) -> dict:
        p = _stream_pass(ctx, name, n_files, tables, want, tr)
        res.attempted += n_files
        res.failed += p["failed"]
        return p

    if not ctx.trace:
        p = run("timed", Tracer())
        res.units = [x["durationMs"]["triggerExecution"] / 1000.0 for x in p["progress"]]
        res.latencies = sorted(p["latency"].values())
        res.info["gen_late_s_p50"] = _median(p["gen_late_s"])
        res.info["gen_late_s_max"] = max(p["gen_late_s"], default=0.0)
        return res

    plain = run("plain", Tracer())
    tr = Tracer(ctx.spark, enabled=True)
    traced = run("traced", tr)
    res.spans = tr.spans
    prog = traced["progress"]

    def p50(key):
        return _median([x["durationMs"].get(key, 0) for x in prog])

    def execution(p):
        return _median([x["durationMs"]["triggerExecution"] for x in p["progress"]]) / 1000.0

    L = res.layers
    L["trigger.count"] = len(prog)
    L["trigger.execution_ms"] = p50("triggerExecution")
    L["trigger.add_batch_ms"] = p50("addBatch")
    L["trigger.wal_commit_ms"] = p50("walCommit")
    L["trigger.commit_offsets_ms"] = p50("commitOffsets")
    L["trigger.query_planning_ms"] = p50("queryPlanning")
    L["trigger.latest_offset_ms"] = p50("latestOffset")
    ops = [x["stateOperators"][0] for x in prog if x.get("stateOperators")]
    L["state.commit_ms"] = _median([o.get("commitTimeMs", 0) for o in ops])
    L["state.rows_total"] = ops[-1].get("numRowsTotal", 0) if ops else 0
    L["state.memory_bytes"] = ops[-1].get("memoryUsedBytes", 0) if ops else 0
    L["source.lag_files"] = _median(traced["lag"])
    parts = ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset", "getBatch")
    L["trace.unattributed_s"] = (
        _median([x["durationMs"]["triggerExecution"] - sum(x["durationMs"].get(k, 0) for k in parts) for x in prog])
        / 1000.0
    )
    L["trace.overhead_s"] = execution(traced) - execution(plain)
    res.info["gen_late_s_max"] = max(traced["gen_late_s"], default=0.0)
    return res


def _stream_warmup(ctx: Ctx) -> None:
    """Untimed availableNow drain of a few files through the same
    linker, so the timed pass runs on a warm JVM and warm workers."""
    from streaming_cdc_spark.session import stream_start_conf

    spark = ctx.spark
    src = _mkdir(ctx.work, "warm_src")
    gen.write_stream(ctx.seed, src, n_files=8)
    out = _link(spark.readStream.schema(STREAM_SCHEMA).option("maxFilesPerTrigger", 2).parquet(src))
    with stream_start_conf(spark):
        q = (
            out.writeStream.foreachBatch(lambda df, _id: df.collect())
            .option("checkpointLocation", _mkdir(ctx.work, "warm_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()


# ---------------------------------------------------------- progressive


def _drain(ctx: Ctx, name: str, src: str, n_buckets: int, want: dict, tr: Tracer, compact_every: int) -> dict:
    """Drain every bucket file availableNow, one bucket per trigger,
    through ProgressiveResolver.apply_batch; collect its results."""
    from streaming_cdc_spark.session import stream_start_conf
    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    spark = ctx.spark
    state = _mkdir(ctx.work, f"{name}_state")
    ckpt = _mkdir(ctx.work, f"{name}_ckpt")
    try:
        resolver = ProgressiveResolver(
            state,
            budget=gen.DOCS_BUDGET,
            df_cap=gen.DOCS_DF_CAP,
            tau=gen.DOCS_TAU,
            compact_every=compact_every,
        )
        compact = resolver.compact
        buckets: list[dict] = []

        def timed_compact(*a, **k):
            with tr.span("compact"):
                return compact(*a, **k)

        resolver.compact = timed_compact

        def body(df, batch_id):
            with tr.span("bucket", batch_id=batch_id, wall_start=time.time()) as rec:
                resolver.apply_batch(df, batch_id)
            rec["wall_end"] = time.time()
            buckets.append(rec)

        with tr.span("drain") as root:
            stream = spark.readStream.schema(DOCS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
            with stream_start_conf(spark):
                q = (
                    stream.writeStream.foreachBatch(body)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
            q.awaitTermination()
            rows = resolver.results(spark).select("batch_id", "cbs", "n_pairs", "n_matches").collect()
        state_bytes, state_files = dir_size(state)
    finally:
        shutil.rmtree(state, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(int(r[0]), []).append(tuple(int(x) for x in r))
    bad = {b for b in range(n_buckets) if sorted(got.get(b, [])) != want.get(b, [])}
    return {
        "wall": root["end"] - root["start"],
        "root": root,
        "buckets": buckets,
        "failed": len(bad),
        "state_bytes": state_bytes,
        "state_files": state_files,
    }


def progressive_drain(ctx: Ctx) -> Result:
    res = Result()
    src = _mkdir(ctx.work, "docs")
    gen.write_docs(ctx.seed, src)
    n_buckets = gen.DOCS["n_buckets"]
    want: dict[int, list] = {}
    for r in check.progressive_expected(os.path.join(src, "*.parquet"), gen.DOCS_BUDGET, gen.DOCS_DF_CAP, gen.DOCS_TAU):
        want.setdefault(r[0], []).append(r)
    _drain(ctx, "warm", src, n_buckets, want, Tracer(), gen.DOCS_COMPACT_EVERY)  # untimed warm-up

    def run(name: str, tr: Tracer) -> dict | None:
        res.attempted += n_buckets
        try:
            d = _drain(ctx, name, src, n_buckets, want, tr, gen.DOCS_COMPACT_EVERY)
        except Exception:
            _err("progressive_drain")
            res.failed += n_buckets
            return None
        res.failed += d["failed"]
        return d

    if not ctx.trace:
        begin = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - begin < ctx.seconds:
            d = run(f"drain{i}", Tracer())
            i += 1
            if d is not None:
                res.units.append(d["wall"])
                res.latencies += [b["end"] - b["start"] for b in d["buckets"]]
        return res

    plain = run("plain", Tracer())
    # buckets run in the stream's callback thread, where a job group
    # would displace the query's own: attribute jobs by time window
    tr = Tracer()
    traced = run("traced", tr)
    res.spans = tr.spans
    if traced is None:
        return res
    L = res.layers
    durs = [b["end"] - b["start"] for b in traced["buckets"]]
    q = max(1, len(durs) // 4)
    L["progressive.bucket_s"] = _median(durs)
    L["progressive.late_bucket_s"] = _median(durs[-q:])
    L["progressive.bucket_growth"] = _median(durs[-q:]) / _median(durs[:q])
    L["progressive.compact_s"] = sum(s["end"] - s["start"] for s in tr.named("compact"))
    stats = StageStats(ctx.spark)
    stats.quiesce()
    jobs = stats.jobs()
    stages = stats.stages()
    in_bucket = [
        j
        for j in jobs
        if any(b["wall_start"] <= _epoch(j["submissionTime"]) <= b["wall_end"] for b in traced["buckets"])
    ]
    st = stage_totals([j["jobId"] for j in in_bucket], {j["jobId"]: j for j in in_bucket}, stages)
    L["progressive.jobs_per_bucket"] = len(in_bucket) / len(durs)
    L["progressive.shuffle_bytes_per_bucket"] = st["shuffle_bytes"] / len(durs)
    L["progressive.state_bytes"] = traced["state_bytes"]
    L["progressive.state_files"] = traced["state_files"]
    L["trace.unattributed_s"] = tr.self_time(traced["root"])
    if plain is not None:
        L["trace.overhead_s"] = traced["wall"] - plain["wall"]
    return res


def _epoch(ts: str) -> float:
    """Spark REST timestamps look like 2024-01-01T12:00:00.123GMT."""
    from datetime import datetime, timezone

    return datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


WORKLOADS = {
    "batch_resolve": batch_resolve,
    "stream_link": stream_link,
    "progressive_drain": progressive_drain,
}
