"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real
cluster the same settings (AQE, shuffle partitions sized to cores,
Arrow enabled) are the right defaults — only master/memory change.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shutil
import subprocess
import tempfile
from typing import NamedTuple

from pyspark.sql import SparkSession


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship streaming_cdc_spark to executor Python workers via
    addPyFile. Required whenever a pickled function references this
    package and the session was created by an external driver whose
    workers don't have /root/repo on PYTHONPATH. Call before any
    mapInPandas / applyInPandas(WithState) that uses package code.
    """
    sc = spark.sparkContext
    if getattr(sc, "_scs_pyfiles_added", False):
        return
    import atexit

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # the zip path MUST be per-process: a fixed shared /tmp name lets a
    # concurrent session (second gate run, probe script, a co-hosted
    # driver process) re-archive the package and change the file's
    # contents AFTER this session's executors cached it — every
    # subsequent task then dies with "File ... exists and does not
    # match contents". The pid suffix also freezes a content snapshot:
    # source edits made while this session runs can't mutate what the
    # executors fetch.
    zip_base = os.path.join(
        tempfile.gettempdir(), f"streaming_cdc_spark_pyfiles_{os.getpid()}"
    )
    zip_path = shutil.make_archive(
        zip_base, "zip", os.path.dirname(pkg_dir), "streaming_cdc_spark"
    )
    atexit.register(lambda p=zip_path: os.path.exists(p) and os.remove(p))
    sc.addPyFile(zip_path)
    sc._scs_pyfiles_added = True


def cached_tmp_dir(prefix: str) -> str:
    """mkdtemp whose removal is registered atexit — for module-level
    cached SOURCE dirs that queries reuse across calls within one
    process (streaming splits of the op-log / events). Unlike per-run
    state/ckpt dirs these sit outside any ``finally``, so without the
    atexit hook every process run leaked a few parquet temp dirs per
    sf (ADVICE r5). Intra-session reuse is unchanged: callers keep
    caching the returned path in their module dict."""
    import atexit

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def fan_out(df, min_partitions: int | None = None):
    """Pre-step for row-exploding map stages (shingles, n-grams,
    per-bit votes): if the scan yields fewer partitions than the
    cluster has slots — a single small parquet row-group does, both
    locally and on a 1000-executor cluster reading one dimension-sized
    file — hash-repartition first so the explosion parallelizes
    instead of running in ONE task. No-op (no shuffle) when the input
    already has enough partitions; the shuffle it does add moves only
    the small pre-explosion rows."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def get_spark(
    app_name: str = "streaming-cdc-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is on so runtime statistics re-plan skewed joins and coalesce
    tiny shuffle partitions; Arrow is on so every pandas-UDF boundary
    is vectorized; shuffle partitions default to the core count
    (local mode) rather than Spark's legacy 200.
    """
    # Default 16, not nproc (32): this box's 32 vCPUs are
    # hypervisor-oversubscribed — sustained 32-wide stages suffer
    # random multi-second scheduler stalls (single-thread throughput
    # stays flat, steal% stays low, but identical 32-thread bench
    # runs swing 51s/78s/106s/150s while 16-thread runs repeat at
    # 47.6s/47.1s with no outliers). SPARK_GRAFT_CPUS still wins
    # when set; a real cluster sizes executors, not this knob.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    extra_conf = dict(extra_conf or {})
    driver_memory = extra_conf.get("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Testdata parquet uses TIMESTAMP(NANOS) which Spark cannot read
        # natively; read as long and convert in the loader (tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # 48g: at 16g a long session (the ~100-query bench) degrades
        # 3-5x per query from GC churn — measured 77.6s -> 51.5s
        # total, with the 8-10s outliers (tfidf_blend, pricing) all
        # collapsing back to their isolated-run times at 48g.
        .config("spark.driver.memory", driver_memory)
    )
    cds = None
    # Only force a master when none is configured (driver may set its own).
    if not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        # Python workers start through _pyworker/pyspark_scs_worker.py,
        # which stops every task re-reading each zip's directory (see
        # its docstring). Local master only: this path exists on this
        # host. The dir holds only that module, so engine code in tasks
        # still loads from the addPyFile snapshot.
        pyworker = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_pyworker")
        builder = (
            builder.master(f"local[{cpus}]")
            .config("spark.python.worker.module", "pyspark_scs_worker")
            .config("spark.executorEnv.PYTHONPATH", pyworker)
        )
        cds = _driver_cds(driver_memory)
        if cds is not None:
            # Spark puts defaultJavaOptions before extraJavaOptions, so a
            # caller's own JVM flags still apply; a caller's defaults follow ours.
            opts = " ".join(filter(None, [cds.java_opts, extra_conf.pop("spark.driver.defaultJavaOptions", "")]))
            builder = builder.config("spark.driver.defaultJavaOptions", opts)
    # extra_conf lands last so callers can override any default above;
    # it only takes effect when this call actually CREATES the session
    # (getOrCreate reuses an existing JVM's confs) — tools that need a
    # non-default conf (e.g. the shuffle-measure harness re-enabling
    # the UI REST API) must run in a fresh process.
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    with _conf_dir_for_launch(cds and cds.conf_dir):
        spark = builder.getOrCreate()
    if cds is not None and cds.dump_to:
        import atexit

        from pyspark import SparkContext

        atexit.register(_finish_cds_dump, SparkContext._gateway.proc, cds.dump_to, os.getpid())
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Driver JVM class-data sharing. Loading Spark's classes dominates a
# fresh session's start: get_spark and its first jobs. A dynamic AppCDS
# archive, dumped once per host and key, lets every later driver JVM map
# that class metadata instead of parsing it from the jars. It caches
# class metadata the way __pycache__ caches bytecode: no data, no
# query results. Under -Xshare:auto (the JVM default) an archive of
# another key only means the JVM runs without it; a SHORT archive is
# different: JDK 17 maps it and dies of SIGBUS, so each archive's name
# records the size its dump wrote, and a file of any other size is
# never passed to a JVM.
#
# The archive is dumped when the building session's JVM exits
# (-XX:ArchiveClassesAtExit), not by `jcmd VM.cds dynamic_dump`: JDK 17's
# jcmd dump leaves out every loaded class that is not yet linked (3.6k of
# ~12k after a session's first jobs, most of which every later session
# loads again), while the exit dump links them first.

_CDS_KEEP = 3  # archives kept per host (100-300 MB each), least recently used dropped
_ARCHIVE = re.compile(r"driver-(\d+)\.jsa")
_TEMP_DUMP = re.compile(r"driver\.(\d+)\.tmp")
# The JVM logs CDS warnings to its stdout, which is this process's
# stdout: the dump logs thousands of skipped classes (dropped), a
# refused archive one line (moved to stderr).
_QUIET = "-Xlog:cds=off,cds+dynamic=off"


class _CdsLaunch(NamedTuple):
    """How ``get_spark`` launches the driver JVM: its java options, the
    empty conf dir, and the temp file its exit dump writes when the
    key's archive is missing (else None)."""

    java_opts: str
    conf_dir: str
    dump_to: str | None


@contextlib.contextmanager
def _conf_dir_for_launch(conf_dir: str | None):
    """Set ``SPARK_CONF_DIR`` while the launcher starts the JVM (it reads
    the environment); the JVM keeps it, this process gets its own back."""
    if conf_dir is None:
        yield
        return
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if old is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = old


def _cds_root() -> str:
    """``${XDG_CACHE_HOME:-~/.cache}/streaming_cdc_spark/cds``: outside
    the package (``ensure_package_on_executors`` would zip ~100 MB into
    every snapshot) and outside every temp dir (perfbench deletes its
    TMPDIR on each run)."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "streaming_cdc_spark", "cds")


def _java_home() -> str | None:
    """The JDK spark-class runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    home = os.environ.get("JAVA_HOME")
    if not home:
        java = shutil.which("java")
        home = java and os.path.dirname(os.path.dirname(os.path.realpath(java)))
    return os.path.realpath(home) if home else None


def _size_bytes(size: str) -> int | None:
    """A Spark memory size (``48g``, ``1024m``, ``512mb``; no unit = MiB)."""
    m = re.fullmatch(r"(\d+)([bkmgtp]?)b?", size.strip().lower())
    return int(m[1]) << (10 * "bkmgtp".index(m[2] or "m")) if m else None


def _cds_key(java_home: str, spark_home: str, heap_bytes: int) -> str:
    """Everything that decides whether a driver JVM accepts an archive:

    - the JDK: the real ``java.home`` and its ``release`` file;
    - name, size and mtime_ns of every jar in ``$SPARK_HOME/jars``;
    - whether the heap is below 32g, which turns compressed oops on. An
      archive dumped with them off is refused under them on, and the
      reverse, without any error (48g engine default vs perfbench's 1g).

    Never the java options string: callers put per-run ``-D`` flags
    there (perfbench its ``java.io.tmpdir``), so it would never hit."""
    h = hashlib.sha256(java_home.encode())
    with open(os.path.join(java_home, "release"), "rb") as fh:
        h.update(fh.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return ("coops-" if heap_bytes < 32 << 30 else "nocoops-") + h.hexdigest()[:16]


def _driver_cds(driver_memory: str) -> _CdsLaunch | None:
    """The archive plan for a session about to start, or None (launch
    as before) when: this process already has a JVM; the conf dir holds
    a real config file (CDS refuses a non-empty directory on the
    classpath and Spark puts the conf dir first, so it would have to be
    swapped, dropping the user's config); the key's last build failed;
    its archive is damaged (removed here; the next start rebuilds it);
    or the JDK/Spark layout is unreadable."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or os.environ.get("PYSPARK_GATEWAY_PORT"):
        return None
    heap = _size_bytes(driver_memory)
    java_home = _java_home()
    if heap is None or java_home is None:
        return None
    try:
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if any(not n.endswith(".template") for n in (os.listdir(conf_dir) if os.path.isdir(conf_dir) else [])):
            return None
        key_dir = os.path.join(_cds_root(), _cds_key(java_home, spark_home, heap))
        empty_conf = os.path.join(_cds_root(), "conf")
        os.makedirs(empty_conf, exist_ok=True)
        os.makedirs(key_dir, exist_ok=True)
        if os.path.exists(os.path.join(key_dir, "failed")):
            return None
        for name in os.listdir(key_dir):
            m = _ARCHIVE.fullmatch(name)
            if m:
                archive = os.path.join(key_dir, name)
                if os.path.getsize(archive) != int(m[1]):
                    os.remove(archive)
                    return None
                os.utime(archive)  # recency for the least-recently-used sweep
                opts = f"-XX:SharedArchiveFile={archive} {_QUIET} -Xlog:cds=warning,cds+dynamic=warning:stderr"
                return _CdsLaunch(opts, empty_conf, None)
    except OSError:
        return None
    tmp = os.path.join(key_dir, f"driver.{os.getpid()}.tmp")
    return _CdsLaunch(f"-XX:ArchiveClassesAtExit={tmp} {_QUIET}", empty_conf, tmp)


def _finish_cds_dump(proc: subprocess.Popen, tmp: str, owner_pid: int) -> None:
    """atexit hook of the session that builds its key's archive: close
    the gateway JVM's stdin (it exits on EOF, and dumps while exiting),
    wait for it, then ``os.replace`` the whole dump into place, so
    racing builders each leave a whole archive. A JVM that exits with
    an error leaves a ``failed`` marker, so later sessions launch
    without CDS instead of paying for the attempt on every exit; a
    killed JVM (a caller's timeout) only drops its partial dump."""
    if os.getpid() != owner_pid:  # a forked child inherited the hook
        return
    try:
        if proc.poll() is None:
            proc.stdin.close()
            proc.wait(timeout=600)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    key_dir = os.path.dirname(tmp)
    size = os.path.getsize(tmp) if os.path.isfile(tmp) else 0
    with contextlib.suppress(OSError):
        if proc.returncode == 0 and size:
            os.replace(tmp, os.path.join(key_dir, f"driver-{size}.jsa"))
        elif proc.returncode >= 0:
            with open(os.path.join(key_dir, "failed"), "w", encoding="utf-8") as fh:
                fh.write(f"driver JVM exited {proc.returncode}, dump of {size} bytes\n")
        if os.path.exists(tmp):
            os.remove(tmp)
        _sweep_cds(_cds_root())


def _sweep_cds(root: str) -> None:
    """Bound the archive cache: keep the newest archive of each of the
    ``_CDS_KEEP`` most recently used keys (a hit touches its archive's
    mtime), and drop temp dumps whose writer process is gone. Failure
    markers stay: they stop a broken key from rebuilding on every
    start."""
    archives = []
    for key in os.listdir(root) if os.path.isdir(root) else []:
        key_dir = os.path.join(root, key)
        for name in os.listdir(key_dir) if os.path.isdir(key_dir) else []:
            path = os.path.join(key_dir, name)
            m = _TEMP_DUMP.fullmatch(name)
            if m and not _pid_alive(int(m[1])):
                with contextlib.suppress(OSError):  # a racing sweep got there first
                    os.remove(path)
            elif _ARCHIVE.fullmatch(name):
                archives.append((os.stat(path).st_mtime_ns, path))
    kept: set[str] = set()
    for _, path in sorted(archives, reverse=True):
        key_dir = os.path.dirname(path)
        if key_dir in kept or len(kept) >= _CDS_KEEP:
            with contextlib.suppress(OSError):
                os.remove(path)
                os.rmdir(key_dir)  # kept while a dump or a failure marker is in it
        else:
            kept.add(key_dir)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def write_mtime_pinned_splits(parts, base_dir: str, names=None) -> None:
    """Write each DataFrame in ``parts`` as one parquet file under
    ``base_dir``/split_i and pin file mtimes to 1_000_000 + i, so a
    file stream with maxFilesPerTrigger=1 admits them oldest-first in
    exactly list order — the micro-batch-order convention every
    streaming-state oracle in this repo depends on (the r6 z-table
    and r7 DDW/SSJ queries each hand-rolled this loop; bug-fixes to
    the pinning belong HERE now). ``names`` overrides the split dir
    names (e.g. per-side subdirs)."""
    import os

    for i, part in enumerate(parts):
        path = os.path.join(base_dir, names[i] if names else f"split_{i}")
        part.coalesce(1).write.parquet(path)
        for root, _dirs, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_000_000 + i, 1_000_000 + i))


class stream_start_conf:
    """Context manager that pins ``spark.sql.shuffle.partitions`` while
    a streaming query STARTS, then restores the session value.
    StreamExecution clones the session state synchronously inside
    start(), so the pinned value is captured by the stream (and by
    every micro-batch plan and foreachBatch handler job, which run on
    the clone; AQE stays on there, so handler shuffles still coalesce
    by data) while batch queries planned after the ``with`` block keep
    the session default.

    In a stateful stream the same value fixes the number of state-store
    instances per operator for the checkpoint's whole life (a restart
    keeps the count its checkpoint recorded). Each store pays a fixed
    file create + commit per trigger whatever its size (SCALING.md,
    Streaming), so the count comes from the stream, in this order:

    1. ``SPARK_GRAFT_STREAM_SHUFFLE`` when set: the deployment override,
       for state volumes that need more stores than the operators ask;
    2. the largest ``state_shards`` declared in the metadata of a column
       of ``df`` (the sharded sketches in ``streaming/windows.py`` tag
       their ``shard`` column), so their shard groups run in parallel
       tasks; capped at ``defaultParallelism``, since stores beyond the
       task slots add per-store cost and no parallelism. Only columns
       of the started ``df`` are read: a projection that drops the
       declaring column drops the declaration;
    3. otherwise 1.
    """

    def __init__(self, spark: SparkSession, df=None):
        self.spark = spark
        self.df = df

    def partitions(self) -> int:
        env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
        if env:
            return int(env)
        fields = self.df.schema.fields if self.df is not None else []
        shards = [f.metadata["state_shards"] for f in fields if "state_shards" in f.metadata]
        return min(max(shards), self.spark.sparkContext.defaultParallelism) if shards else 1

    def __enter__(self):
        self._old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.partitions()))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self._old)
        return False


def drain_stream(df, sink, output_mode: str | None = None):
    """availableNow-drain a finite streaming DataFrame: the engine's one
    stream start. ``sink`` is either a memory-table name prefix (str)
    or a foreachBatch handler ``(batch_df, batch_id) -> None``.

    Owns:
    - a fresh checkpoint dir per call (``<prefix>_ckpt_*``);
    - the start under ``stream_start_conf(spark, df)``, with availableNow;
    - an UNTIMED awaitTermination (a timed one can return False on a
      slow host -> partial table + rmtree of a LIVE checkpoint); it
      raises StreamingQueryException when the query fails, so a
      handler's error reaches the caller;
    - removal of the checkpoint and, for a memory sink, the temp view,
      both in ``finally``.

    Each drain runs under a fresh uuid query name (replays must not
    collide). Memory prefix: returns the collected table
    localCheckpointed. Handler: returns None; the handler owns whatever
    it writes. output_mode: None = sink default (append); 'update'
    makes the memory sink ACCUMULATE each batch's changed-key emissions
    — the returned table then holds one row per (key,
    batch-that-touched-it), which is the update-mode evidence
    surface."""
    import uuid

    spark = df.sparkSession
    memory = isinstance(sink, str)
    tag = sink if memory else "foreach_batch"
    name = f"{tag}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix=f"{tag}_ckpt_")
    try:
        w = df.writeStream.queryName(name)
        w = w.format("memory") if memory else w.foreachBatch(sink)
        if output_mode is not None:
            w = w.outputMode(output_mode)
        with stream_start_conf(spark, df):
            q = w.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        q.awaitTermination()
        return spark.table(name).localCheckpoint() if memory else None
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        spark.catalog.dropTempView(name)  # no-op for a handler sink
