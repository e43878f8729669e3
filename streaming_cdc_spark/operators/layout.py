"""Data-layout operators: multi-dimensional (Z-order) clustering for
scan pruning.

Not in the reference (a streaming engine keeps no at-rest layout); this
is the Spark-side equivalent of Delta/Iceberg `OPTIMIZE ZORDER BY` —
the at-rest half of what makes a 100 TB table queryable: parquet
footers carry per-file/per-row-group min/max for every column, and the
reader skips files whose stats exclude the predicate. A table sorted
by ONE key prunes only predicates on that key; interleaving the bits
of two keys (the Z-order space-filling curve) makes EVERY file a
near-square tile in (x, y) space, so range predicates on EITHER
dimension — or a box on both — skip all non-overlapping tiles.

Everything here is deterministic integer arithmetic (affine
rank-normalization with integer division + 32 shift-and-or terms), so
the z-value computation itself is oracle-checkable in DuckDB; the
physical benefit (files actually skipped) is pinned by a test that
reads the written parquet footers with pyarrow and counts which files
a box predicate can prune under natural vs ZOrderTable layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streaming_cdc_spark.streaming.commit import CommitPointer

ZBITS = 16  # bits per dimension; z-value = 2*ZBITS bits


def _norm_expr(v: str, vmin: str, vmax: str, bits: int = ZBITS) -> Column:
    """Affine-map an integer column into [0, 2^bits) with pure integer
    arithmetic — `(v - min) * (2^bits - 1) DIV max(max - min, 1)` —
    identical in Spark (`div`) and DuckDB (`//`), no float rounding.
    The multiply is widened to DECIMAL(38,0) first: a span wider than
    2^63/65535 (~4.5 years of epoch-us — routine at 100 TB) would
    overflow a signed 64-bit multiply and throw under ANSI mode."""
    top = (1 << bits) - 1
    return F.expr(
        f"CAST((CAST(({v} - {vmin}) AS DECIMAL(38,0)) * {top})"
        f" div greatest({vmax} - {vmin}, 1) AS BIGINT)"
    )


def zvalue(x: str, y: str, bits: int = ZBITS) -> Column:
    """Interleave `bits` low bits of two integer columns (Morton
    code): bit b of x lands at position 2b+1, bit b of y at 2b. A
    codegen'd sum of shift/mask terms — no UDF, no loop at runtime."""
    terms = []
    for b in range(bits):
        terms.append(f"(((({x}) >> {b}) & 1) << {2 * b + 1})")
        terms.append(f"(((({y}) >> {b}) & 1) << {2 * b})")
    return F.expr(" + ".join(terms)).cast("long")


def zvalue_sql(x: str, y: str, bits: int = ZBITS) -> str:
    """DuckDB rendering of zvalue() — same shift/add terms."""
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b + 1})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def norm_sql(v: str, vmin: str, vmax: str, bits: int = ZBITS) -> str:
    top = (1 << bits) - 1
    return (
        f"(CAST(({v} - {vmin}) AS HUGEINT) * {top})"
        f" // greatest({vmax} - {vmin}, 1)"
    )


def _tile_shift(bits: int, n_buckets: int) -> int:
    """Bits to drop from z for the tile id. n_buckets must be a power
    of two — silently truncating log2 would make a manifest record a
    bucket count the table never had."""
    import math

    if n_buckets < 2 or n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets={n_buckets} must be a power of two >= 2")
    return 2 * bits - int(math.log2(n_buckets))


def zorder_keys(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = ZBITS,
    n_buckets: int = 64,
) -> DataFrame:
    """Append (zx, zy, zval, zbucket) to df: both dimensions
    rank-normalized into [0, 2^bits) against their GLOBAL min/max (one
    tiny all-reduce, broadcast back as a one-row scalar join — the
    whitelisted scalar-broadcast pattern), then Morton-interleaved.
    `zbucket` = the top log2(n_buckets) bits of z — a deterministic
    tile id independent of any sampling, unlike repartitionByRange's
    sampled boundaries, so layouts are reproducible run to run."""
    shift = _tile_shift(bits, n_buckets)
    bounds = df.agg(
        F.min(x_col).cast("long").alias("_xmin"),
        F.max(x_col).cast("long").alias("_xmax"),
        F.min(y_col).cast("long").alias("_ymin"),
        F.max(y_col).cast("long").alias("_ymax"),
    )
    out = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("_zx", _norm_expr(x_col, "_xmin", "_xmax", bits))
        .withColumn("_zy", _norm_expr(y_col, "_ymin", "_ymax", bits))
        .withColumn("zval", zvalue("_zx", "_zy", bits))
        .withColumn("zbucket", F.expr(f"zval >> {shift}").cast("long"))
        .drop("_xmin", "_xmax", "_ymin", "_ymax")
        .withColumnRenamed("_zx", "zx")
        .withColumnRenamed("_zy", "zy")
    )
    return out


# --- Manifest-indirected z-ordered table (init / append / compact) --------


def _keys_with_bounds(df: DataFrame, b: dict) -> DataFrame:
    """(df + zval + zbucket) under FROZEN bounds, values clamped into
    range so out-of-range appends land in edge tiles. Normalization
    goes through the ONE _norm_expr template (it accepts arbitrary
    SQL snippets), so the overflow-widening rule can never
    desynchronize between fresh layouts and frozen-bounds tables."""
    bits, nb = b["bits"], b["n_buckets"]
    shift = _tile_shift(bits, nb)
    cx = f"least(greatest(CAST({b['x_col']} AS BIGINT), {b['xmin']}), {b['xmax']})"
    cy = f"least(greatest(CAST({b['y_col']} AS BIGINT), {b['ymin']}), {b['ymax']})"
    return (
        df.withColumn("_zx", _norm_expr(cx, str(b["xmin"]), str(b["xmax"]), bits))
        .withColumn("_zy", _norm_expr(cy, str(b["ymin"]), str(b["ymax"]), bits))
        .withColumn("zval", zvalue("_zx", "_zy", bits))
        .withColumn("zbucket", F.expr(f"zval >> {shift}").cast("long"))
        .drop("_zx", "_zy")
    )


class ZOrderTable:
    """Z-ordered table whose readers resolve tile directories through
    the table's manifest — its commit pointer (``streaming/commit.py``)
    — instead of listing the directory tree, so a reader never misses
    a tile: swapping a tile dir in place would leave a window where a
    lister sees no dir at all. Instead compaction writes the NEW tile
    version beside the old one, flips the manifest, and RETAINS the
    previous version for one more maintenance cycle (readers holding a
    pre-flip manifest keep scanning files that still exist); only
    versions two generations old are swept. This is the parquet-on-FS
    analogue of an ACID format's snapshot isolation.

    Physical layout: the manifest's ``tiles`` maps zbucket -> versioned
    dir name (``t0007_v2``); ``zval``/``zbucket`` are stored as DATA
    columns (zbucket constant per file, so min==max footer stats prune
    as well as a hive partition would, without losing the column on
    manifest-directed reads). Appends move files INTO the current tile
    dir (per-file rename, never a missing tile) under their batch's
    ``b{k}_`` prefix; readers skip files of batches past the manifest's
    ``last_batch``, so an append is invisible until its flip.
    """

    def __init__(self, path: str):
        self.path = path
        self.pointer = CommitPointer(path)

    def _tile_files(self, m: dict, dirname: str) -> list[str]:
        """The committed parquet files of one tile dir: a ``b{k}_``
        file with k past ``last_batch`` belongs to an append that has
        not flipped (yet — its redelivery sweeps and re-moves it)."""
        import os

        last = m.get("last_batch", -1)
        tile = os.path.join(self.path, dirname)
        return [
            os.path.join(tile, fn)
            for fn in sorted(os.listdir(tile))
            if fn.endswith(".parquet")
            and not (fn.startswith("b") and int(fn[1 : fn.index("_")]) > last)
        ]

    # -- write paths ---------------------------------------------------------
    def _staged_tiles(self, df: DataFrame, bounds: dict, stage: str) -> dict[int, str]:
        """Write df's tiles into ``stage`` (hive dirs on a DUPLICATE
        of zbucket, so the real column survives in the data files);
        returns {bucket: staged_dir}."""
        import os

        keyed = _keys_with_bounds(df, bounds).withColumn("_pb", F.col("zbucket"))
        (
            keyed.repartition("zbucket")
            .sortWithinPartitions("zbucket", "zval")
            .write.partitionBy("_pb")
            .mode("overwrite")
            .parquet(stage)
        )
        out: dict[int, str] = {}
        for name in os.listdir(stage):
            if name.startswith("_pb="):
                out[int(name.split("=", 1)[1])] = os.path.join(stage, name)
        return out

    def init(
        self,
        df: DataFrame,
        x_col: str,
        y_col: str,
        bits: int = ZBITS,
        n_buckets: int = 64,
        batch_id: int | None = None,
    ) -> dict:
        """Create the table: freeze the normalization bounds and
        publish version-0 tiles through the manifest.

        Freezing bounds is the load-bearing decision: if appends
        re-derived min/max, a single out-of-range row would RE-TILE the
        whole table (every zbucket changes meaning). Instead appends
        clamp into the frozen range — out-of-range rows land in edge
        tiles, and a bounds refresh is an explicit full rewrite (init
        again), exactly how Delta/Iceberg treat re-clustering."""
        import os
        import shutil

        _tile_shift(bits, n_buckets)
        row = df.agg(
            F.min(x_col).cast("long").alias("xmin"),
            F.max(x_col).cast("long").alias("xmax"),
            F.min(y_col).cast("long").alias("ymin"),
            F.max(y_col).cast("long").alias("ymax"),
        ).first()
        if row["xmin"] is None or row["ymin"] is None:
            raise ValueError("ZOrderTable.init: empty input — bounds cannot be frozen")
        bounds = {
            "x_col": x_col,
            "y_col": y_col,
            "bits": bits,
            "n_buckets": n_buckets,
            "xmin": int(row["xmin"]),
            "xmax": int(row["xmax"]),
            "ymin": int(row["ymin"]),
            "ymax": int(row["ymax"]),
        }
        # init is a destructive full rewrite: clear tile/stage debris
        # from a previous table or a CRASHED earlier init (a published
        # t*_v0 dir would otherwise make os.replace throw ENOTEMPTY
        # on re-init — code-review r5). The manifest is replaced LAST-
        # minute by the flip below, so a racing reader holding the old
        # manifest is the documented single-writer caveat, same as a
        # full table rewrite anywhere.
        for name in os.listdir(self.path):
            if name != CommitPointer.NAME:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        stage = os.path.join(self.path, ".stage_init")
        staged = self._staged_tiles(df, bounds, stage)
        tiles: dict[str, str] = {}
        for bucket, src in staged.items():
            dst = f"t{bucket:04d}_v0"
            os.replace(src, os.path.join(self.path, dst))
            tiles[str(bucket)] = dst
        shutil.rmtree(stage, ignore_errors=True)
        self.pointer.publish(
            {
                "bounds": bounds,
                "tiles": tiles,
                "retired": {},
                # streaming ingest: batch 0 initializes; its replay
                # after a crash re-runs init (a full rewrite — already
                # idempotent), later replays are skipped by append()
                "last_batch": -1 if batch_id is None else batch_id,
            }
        )
        return bounds

    def append(self, df: DataFrame, batch_id: int | None = None) -> None:
        """Append a batch: keys under the FROZEN bounds (clamped), new
        files MOVED into each bucket's current tile dir. New buckets
        (possible when init's batch left tiles empty) publish via a
        manifest flip.

        ``batch_id`` makes the append EXACTLY-ONCE under streaming
        replay (foreachBatch is at-least-once): a committed batch is
        skipped outright, and a batch interrupted MID-append (some
        files moved, manifest not yet flipped — readers skip them) is
        replayed idempotently — its files carry a deterministic
        ``b{batch_id}_`` prefix, which the replay sweeps from every
        tile before re-moving. Compaction can't have folded a
        half-appended batch: apply order is append -> flip -> compact,
        single-writer."""
        import os
        import shutil
        import uuid

        if batch_id is not None and self.pointer.applied(batch_id):
            return  # replayed batch after restart: already applied
        m = self.pointer.read()
        prefix = (
            f"b{batch_id:06d}_" if batch_id is not None
            else f"app_{uuid.uuid4().hex[:8]}_"
        )
        if batch_id is not None:
            # Sweep the batch prefix from EVERY on-disk tile dir, not
            # just manifest-listed ones: a crashed earlier attempt of
            # this same batch may have created a NEW bucket tile
            # (makedirs + file moves happen before the manifest flip),
            # and the re-staged part files carry fresh UUID names — a
            # manifest-only sweep would publish duplicate rows. Any
            # b{this_batch}_ file anywhere can only be crash debris of
            # this attempt (once the pointer advances, replays are
            # skipped above; compaction runs strictly after the flip).
            for dirname in os.listdir(self.path):
                tile = os.path.join(self.path, dirname)
                if not (dirname.startswith("t") and os.path.isdir(tile)):
                    continue
                for fn in os.listdir(tile):
                    if fn.startswith(prefix):
                        os.remove(os.path.join(tile, fn))
        stage = os.path.join(self.path, f".stage_{uuid.uuid4().hex[:8]}")
        staged = self._staged_tiles(df, m["bounds"], stage)
        new_tiles = dict(m["tiles"])
        changed = False
        for bucket, src in staged.items():
            cur = new_tiles.get(str(bucket))
            if cur is None:
                cur = f"t{bucket:04d}_v0"
                os.makedirs(os.path.join(self.path, cur), exist_ok=True)
                new_tiles[str(bucket)] = cur
                changed = True
            dst_dir = os.path.join(self.path, cur)
            for fn in os.listdir(src):
                if fn.endswith(".parquet"):
                    os.replace(
                        os.path.join(src, fn),
                        os.path.join(dst_dir, f"{prefix}{fn}"),
                    )
        shutil.rmtree(stage, ignore_errors=True)
        if batch_id is not None:
            m["tiles"] = new_tiles
            m["last_batch"] = batch_id
            self.pointer.publish(m)
        elif changed:
            m["tiles"] = new_tiles
            self.pointer.publish(m)

    def compact(self, spark, max_files: int = 4, target_files: int = 1) -> dict[int, int]:
        """Fold tiles that accumulated more than ``max_files`` files
        into ``target_files`` sorted files each: write the new tile
        VERSION beside the old, flip the manifest once (all compacted
        tiles publish together), retire the old dirs for one cycle,
        and sweep dirs retired by the PREVIOUS cycle plus any orphan
        (crash-between-write-and-flip) dirs. Returns
        {bucket: files_before}."""
        import os
        from concurrent.futures import ThreadPoolExecutor

        m = self.pointer.read()
        rewritten: dict[int, int] = {}
        new_tiles = dict(m["tiles"])
        todo: list[tuple[str, list[str], str]] = []
        for bucket_s, dirname in sorted(m["tiles"].items()):
            files = self._tile_files(m, dirname)
            if len(files) <= max_files:
                continue
            version = int(dirname.rsplit("_v", 1)[1])
            new_dir = f"t{int(bucket_s):04d}_v{version + 1}"
            todo.append((bucket_s, files, new_dir))

        def _rewrite(job: tuple[str, list[str], str]) -> None:
            _, files, new_dir = job
            (
                spark.read.parquet(*files)
                .sort("zval")
                .coalesce(target_files)
                .write.mode("overwrite")
                .parquet(os.path.join(self.path, new_dir))
            )

        # tiles are independent — rewrite them as CONCURRENT Spark
        # jobs (each is one tiny read-sort-write; run serially the
        # per-job scheduling overhead dominates wall-clock locally,
        # and on a cluster independent tiles should saturate
        # executors the same way)
        if todo:
            with ThreadPoolExecutor(max_workers=min(8, len(todo))) as ex:
                list(ex.map(_rewrite, todo))
        for bucket_s, files, new_dir in todo:
            new_tiles[bucket_s] = new_dir
            rewritten[int(bucket_s)] = len(files)
        retired = {b: m["tiles"][b] for b in map(str, rewritten) if b in m["tiles"]}
        published = dict(m)  # preserve last_batch + any future keys
        published["tiles"] = new_tiles
        published["retired"] = retired
        self.pointer.publish(published)
        # sweep everything unnamed: (a) dirs retired by the PREVIOUS
        # cycle — any reader still holding that manifest has had a full
        # maintenance cycle to finish; (b) orphans (a crash between the
        # tile write and the flip); (c) .stage_* debris of a CRASHED
        # append (maintenance ops are single-writer, like every table
        # format's, so no live stage coexists with compact)
        self.pointer.cleanup(self.path, set(new_tiles.values()) | set(retired.values()))
        return rewritten

    def read(self, spark) -> DataFrame:
        """The current table snapshot: the committed files of the
        manifest's tile dirs, read as one DataFrame (zval/zbucket are
        data columns)."""
        m = self.pointer.read() or {"tiles": {}}
        files = [f for d in m["tiles"].values() for f in self._tile_files(m, d)]
        if not files:
            raise FileNotFoundError("ZOrderTable has no tiles")
        return spark.read.parquet(*files)
