"""Entity-resolution benchmark: one command per workload run.

    python3 perfbench/run.py --workload batch_resolve --seed 1 --seconds 6 --trace 0

Workloads (see ``workloads.py``; inputs from ``gen.py``):

batch_resolve      closed loop, one client: raw mentions -> hash encoder
                   -> cosine threshold edges -> connected components ->
                   MUC / B3 / CEAF-e, repeated for ``--seconds``.
stream_link        open loop: a generator process offers one embeddings
                   file every 0.06 s for ``--seconds``; the bounded-state
                   streaming linker runs on a 500 ms processing-time
                   trigger.
progressive_drain  closed backfill: id-range bucket files drained
                   availableNow, one bucket per trigger, through the
                   progressive resolver with in-stream compaction,
                   repeated for ``--seconds``.

Run from the repository root; the engine is imported from
``streaming_cdc_spark/`` there. Each run is one fresh process: it pins
Spark to this host (``SPARK_GRAFT_CPUS`` = usable cpus, a driver heap
that fits RAM, local and temp dirs under ``perfbench/.work``), starts a
session, warms up untimed, measures, checks every output against
``check.py``, and prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (a separate traced run: Spark UI on,
job groups per layer, spans written to ``perfbench/out``). The line
before it is ``{"bench_info": ...}``: host, load and cpu steal,
versions, seed and sample counts.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "encoder.busy_s": "s",
    "similarity.busy_s": "s",
    "similarity.pairs_scored": "count",
    "similarity.edges": "count",
    "similarity.edge_yield": "ratio",
    "similarity.shuffle_bytes": "bytes",
    "clustering.busy_s": "s",
    "clustering.jobs": "count",
    "clustering.stages": "count",
    "clustering.shuffle_bytes": "bytes",
    "clustering.executor_run_s": "s",
    "coref.busy_s": "s",
    "coref.jobs": "count",
    "trigger.count": "count",
    "trigger.execution_ms": "ms",
    "trigger.add_batch_ms": "ms",
    "trigger.wal_commit_ms": "ms",
    "trigger.commit_offsets_ms": "ms",
    "trigger.query_planning_ms": "ms",
    "trigger.latest_offset_ms": "ms",
    "state.commit_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "source.lag_files": "count",
    "progressive.bucket_s": "s",
    "progressive.late_bucket_s": "s",
    "progressive.bucket_growth": "ratio",
    "progressive.compact_s": "s",
    "progressive.jobs_per_bucket": "count",
    "progressive.shuffle_bytes_per_bucket": "bytes",
    "progressive.state_bytes": "bytes",
    "progressive.state_files": "count",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
    "baseline.local1_wall_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("batch_resolve", "stream_link", "progressive_drain"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail_percentile(n: int) -> float:
    """Highest percentile (at most 90, at least the median) with at
    least ten samples beyond it."""
    return max(50.0, min(90.0, 100.0 * (1.0 - 10.0 / n))) if n else 50.0


def driver_memory_mb() -> int:
    """1 GB (the workloads hold a few MB of state), or an eighth of
    physical RAM on a smaller host."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = int(next(x for x in fh if x.startswith("MemTotal:")).split()[1])
    return min(1024, total_kb // 8192)


def source_fingerprint() -> dict:
    """Git sha when the checkout is a repository, and a hash of the
    engine's source either way."""
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "streaming_cdc_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return {"git_sha": sha, "src_sha256": h.hexdigest()[:16]}


def _warm_worker(batches):
    import streaming_cdc_spark.operators.encoder  # noqa: F401  (imports numpy, pandas)

    yield from batches


class Session:
    """The Spark session of one run, pinned to this host, and the
    processes behind it."""

    def __init__(self, workload: str, cpus: int, trace: bool, work: str):
        self.workload, self.trace, self.work = workload, trace, work
        self.spark = None
        self.jvm_pid = None
        self.timing: dict[str, float] = {}
        self.start(cpus)

    def start(self, cpus: int):
        from pyspark import SparkContext

        from streaming_cdc_spark.session import ensure_package_on_executors, get_spark

        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if self.trace else "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            # a pre-touched fixed-size heap: the JVM's resident size no
            # longer depends on when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{driver_memory_mb()}m -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        }
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        t1 = time.perf_counter()
        ensure_package_on_executors(self.spark)
        self.spark.range(0, 64 * cpus, numPartitions=2 * cpus).mapInPandas(_warm_worker, "id long").count()
        t2 = time.perf_counter()
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.timing = {"setup_s": t2 - T_START, "session.start_s": t1 - t0, "session.worker_warm_s": t2 - t1}
        return self.spark

    def restart(self, cpus: int):
        """Same JVM, new SparkContext with ``cpus`` local threads."""
        self.spark.stop()
        t = self.timing
        self.start(cpus)
        self.timing = t
        return self.spark

    def close(self) -> None:
        """Stop Spark and wait until the JVM and every Python worker
        under it have exited."""
        from pyspark import SparkContext

        from tracing import process_tree

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        tree = process_tree(gw.proc.pid)
        gw.shutdown()
        if gw.proc.stdin:
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        deadline = time.time() + 30
        for pid in tree[1:]:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        SparkContext._gateway = None
        SparkContext._jvm = None


def summarize(res, timing: dict, peak_rss: int, trace: bool) -> dict:
    import numpy as np

    if trace:
        values = {k: 0.0 for k in PER_LAYER}
        values.update({k: timing[k] for k in ("session.start_s", "session.worker_warm_s")})
        values.update({k: v for k, v in res.layers.items() if k in PER_LAYER})
        units = PER_LAYER
    else:
        lat = res.latencies
        values = {
            "setup_s": timing["setup_s"],
            "wall_s": float(np.median(res.units)) if res.units else 0.0,
            "latency_p50_s": float(np.percentile(lat, 50)) if lat else 0.0,
            "latency_p90_s": float(np.percentile(lat, tail_percentile(len(lat)))) if lat else 0.0,
            "peak_rss_mb": peak_rss / 2**20,
        }
        units = END_TO_END
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "streaming_cdc_spark", "__init__.py")):
        print(f"[perfbench] engine source not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_memory_mb()}m",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    import pyspark

    from tracing import RssSampler, cpu_share, cpu_ticks, loadavg
    from workloads import WORKLOADS, Ctx

    ticks = cpu_ticks()
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "driver_mem_mb": driver_memory_mb(),
        "loadavg_before": loadavg(),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        **source_fingerprint(),
    }
    session = None
    try:
        session = Session(args.workload, cpus, bool(args.trace), work)
        ctx = Ctx(session.spark, args.seed, args.seconds, bool(args.trace), work, session.restart)
        with RssSampler(session.jvm_pid) as rss:
            res = WORKLOADS[args.workload](ctx)
        peak = rss.peak
        info["peak_jvm_pss_mb"] = rss.peak_root / 2**20
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(work, ignore_errors=True)
    info["loadavg_after"] = loadavg()
    info["cpu_share"] = cpu_share(ticks, cpu_ticks())
    info.update(res.info)
    info["samples"] = {"units": len(res.units), "latencies": len(res.latencies)}
    info["latency_p90_percentile"] = tail_percentile(len(res.latencies))
    result = {
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": summarize(res, session.timing, peak, bool(args.trace)),
    }
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({"info": info, "result": result, "units": res.units, "latencies": res.latencies, "spans": res.spans}, fh)
    print(json.dumps({"bench_info": info}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
