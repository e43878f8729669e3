"""Z-order layout: Morton-code math + the actual file-skipping payoff
measured from written parquet footers."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from streaming_cdc_spark.operators import layout as L
from streaming_cdc_spark.tables import load


def _morton(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b + 1)
        z |= ((y >> b) & 1) << (2 * b)
    return z


def test_zvalue_matches_reference_interleave(spark):
    rows = [(i, (i * 37) % 1000, (i * 911) % 1000) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {
        r["id"]: r["z"]
        for r in df.select("id", L.zvalue("x", "y").alias("z")).collect()
    }
    for i, x, y in rows:
        assert got[i] == _morton(x, y), (i, x, y)


def test_zorder_write_prunes_both_dimensions(spark):
    """The point of Z-order: after clustering, a reader can skip most
    files for a range predicate on EITHER dimension. The natural
    (insertion-order ~ time-order) layout prunes only on ts; a
    user_id predicate must scan every file."""
    events = load(spark, "/root/testdata/sf0.01", "events").select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros("ts").alias("ts_us"),
    )
    n_files = 16
    tmp = tempfile.mkdtemp(prefix="zorder_")
    try:
        nat, zod = f"{tmp}/natural", f"{tmp}/zorder"
        (
            events.repartitionByRange(n_files, "event_id")
            .sortWithinPartitions("event_id")
            .write.mode("overwrite")
            .parquet(nat)
        )
        L.zorder_write(events, "user_id", "ts_us", zod, n_files=n_files)
        cols = ["user_id", "ts_us"]
        nat_stats = L.file_minmax_stats(nat, cols)
        z_stats = L.file_minmax_stats(zod, cols)
        assert len(nat_stats) == n_files and len(z_stats) == n_files

        lo_u, hi_u = 10, 19  # ~7% of the 150 users
        ts_min = events.agg(F.min("ts_us")).collect()[0][0]
        ts_max = events.agg(F.max("ts_us")).collect()[0][0]
        span = ts_max - ts_min
        ts_box = (ts_min + span // 10, ts_min + 2 * span // 10)  # 10% slice

        user_pred = {"user_id": (lo_u, hi_u)}
        ts_pred = {"ts_us": ts_box}
        box_pred = {"user_id": (lo_u, hi_u), "ts_us": ts_box}

        # natural layout: time-ordered ids -> ts prunes well, user_id
        # stats span everything -> zero pruning on the user dimension
        assert L.files_overlapping(nat_stats, user_pred) == n_files
        assert L.files_overlapping(nat_stats, ts_pred) <= 4

        # z-order layout: BOTH single-dim predicates skip most files,
        # and the 2-D box skips nearly all
        z_user = L.files_overlapping(z_stats, user_pred)
        z_ts = L.files_overlapping(z_stats, ts_pred)
        z_box = L.files_overlapping(z_stats, box_pred)
        assert z_user <= n_files // 2, z_user
        assert z_ts <= n_files // 2, z_ts
        assert z_box <= 4, z_box

        # layout is lossless: same rows back
        assert (
            spark.read.parquet(zod).count()
            == spark.read.parquet(nat).count()
            == events.count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_zbucket_is_deterministic_tile(spark):
    """zbucket must be a pure function of (x, y, global min/max) —
    identical across repartitions and reruns."""
    events = load(spark, "/root/testdata/sf0.01", "events").select(
        "event_id",
        F.col("user_id").cast("long").alias("x"),
        F.unix_micros("ts").alias("y"),
    )
    a = {
        r["event_id"]: r["zbucket"]
        for r in L.zorder_keys(events, "x", "y").select("event_id", "zbucket").collect()
    }
    b = {
        r["event_id"]: r["zbucket"]
        for r in L.zorder_keys(events.repartition(7), "x", "y")
        .select("event_id", "zbucket")
        .collect()
    }
    assert a == b
    assert 1 < len(set(a.values())) <= 64


def test_zorder_keys_survive_wide_epoch_spans(spark):
    """A >4.5-year epoch-us span overflows a signed-64 multiply in the
    naive normalization ((v-min)*65535); the DECIMAL-widened form must
    not throw and must match exact integer arithmetic."""
    lo = 1_500_000_000_000_000  # ~2017 in epoch us
    hi = lo + 10 * 365 * 24 * 3600 * 1_000_000  # +10 years
    rows = [(i, i % 150, lo + (hi - lo) * i // 199) for i in range(200)]
    df = spark.createDataFrame(rows, "event_id long, x long, y long")
    got = {
        r["event_id"]: (r["zx"], r["zy"])
        for r in L.zorder_keys(df, "x", "y").select("event_id", "zx", "zy").collect()
    }
    ys = [y for _, _, y in rows]
    ymin, ymax = min(ys), max(ys)
    for i, x, y in rows:
        want = ((x - 0) * 65535 // 149, (y - ymin) * 65535 // max(ymax - ymin, 1))
        assert got[i] == want, i


def test_zorder_table_init_append_compact(spark, tmp_path):
    """The maintenance loop: frozen bounds keep tile ids stable across
    appends (out-of-range rows clamp into edge tiles), compaction
    folds multi-file tiles atomically, and no row is ever lost."""
    import json
    import os

    events = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id",
        F.col("user_id").cast("long").alias("uid"),
        F.unix_micros("ts").alias("ts_us"),
    )
    path = str(tmp_path / "ztab")
    bounds = L.zorder_table_init(events, "uid", "ts_us", path, n_buckets=16)
    n0 = spark.read.parquet(path).count()
    assert n0 == events.count()

    # appends: in-range batch + a batch with out-of-range uid/ts
    b1 = events.withColumn("event_id", F.col("event_id") + 1_000_000)
    b2 = (
        events.limit(50)
        .withColumn("event_id", F.col("event_id") + 2_000_000)
        .withColumn("uid", F.col("uid") + 10_000)  # beyond frozen xmax
    )
    L.zorder_table_append(b1, path)
    L.zorder_table_append(b2, path)
    total = spark.read.parquet(path).count()
    assert total == n0 * 2 + 50

    # frozen bounds: the same physical row keys to the same tile in
    # init and append (b1 duplicates every original row)
    tiles = {
        r["event_id"] - 1_000_000: r["zbucket"]
        for r in spark.read.parquet(path)
        .filter((F.col("event_id") >= 1_000_000) & (F.col("event_id") < 2_000_000))
        .select("event_id", "zbucket")
        .collect()
    }
    orig = {
        r["event_id"]: r["zbucket"]
        for r in spark.read.parquet(path)
        .filter(F.col("event_id") < 1_000_000)
        .select("event_id", "zbucket")
        .collect()
    }
    assert tiles == orig
    # clamped batch landed in max-x edge tiles, not new ones
    mx = max(
        r["zbucket"]
        for r in spark.read.parquet(path).select("zbucket").distinct().collect()
    )
    assert mx < 16

    # simulate crash debris, then compact
    os.makedirs(os.path.join(path, "zbucket=0.__compact__"), exist_ok=True)
    before = {
        d: len([f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")])
        for d in os.listdir(path)
        if d.startswith("zbucket=") and "__" not in d
    }
    rewritten = L.zorder_table_compact(spark, path, max_files=2)
    assert rewritten, "appends should have pushed some tile past 2 files"
    for b, nf in rewritten.items():
        assert before[f"zbucket={b}"] == nf > 2
        now = len(
            [
                f
                for f in os.listdir(os.path.join(path, f"zbucket={b}"))
                if f.endswith(".parquet")
            ]
        )
        assert now == 1
    assert not os.path.exists(os.path.join(path, "zbucket=0.__compact__"))
    assert spark.read.parquet(path).count() == total
    # manifest survived everything
    assert json.load(open(os.path.join(path, "_zbounds.json")))["x_col"] == "uid"


def test_zorder_compact_recovers_from_rename_crash(spark, tmp_path):
    """A crash BETWEEN the two renames leaves the base tile missing
    and its rows only in .__old__ — the next compact must RESTORE it,
    never sweep it (data loss)."""
    import os
    import shutil

    events = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id",
        F.col("user_id").cast("long").alias("uid"),
        F.unix_micros("ts").alias("ts_us"),
    )
    path = str(tmp_path / "ztab")
    L.zorder_table_init(events, "uid", "ts_us", path, n_buckets=16)
    total = spark.read.parquet(path).count()
    victim = next(
        d for d in sorted(os.listdir(path)) if d.startswith("zbucket=")
    )
    tile = os.path.join(path, victim)
    # simulate the mid-swap crash state: base gone, data in .__old__,
    # plus a half-written .__compact__ for the same tile
    os.replace(tile, tile + ".__old__")
    os.makedirs(tile + ".__compact__", exist_ok=True)
    L.zorder_table_compact(spark, path, max_files=10_000)  # no rewrites
    assert os.path.isdir(tile)
    assert not os.path.exists(tile + ".__old__")
    assert not os.path.exists(tile + ".__compact__")
    assert spark.read.parquet(path).count() == total


def test_zorder_table_init_guards(spark, tmp_path):
    import pytest

    events = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id",
        F.col("user_id").cast("long").alias("uid"),
        F.unix_micros("ts").alias("ts_us"),
    )
    with pytest.raises(ValueError, match="power of two"):
        L.zorder_table_init(events, "uid", "ts_us", str(tmp_path / "a"), n_buckets=48)
    with pytest.raises(ValueError, match="no rows"):
        L.zorder_table_init(
            events.filter("event_id < 0"), "uid", "ts_us", str(tmp_path / "b")
        )


# --- manifest-indirected ZOrderTable --------------------------------------


def _ztable_events(spark):
    return load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id",
        F.col("user_id").cast("long").alias("x"),
        F.unix_micros("ts").alias("y"),
    )


def _mk_ztable(spark, tmp_path, n_buckets=8):
    ev = _ztable_events(spark)
    t = L.ZOrderTable(str(tmp_path / "zt"))
    t.init(ev.filter(F.col("event_id") % 4 != 3), "x", "y", bits=16, n_buckets=n_buckets)
    t.append(ev.filter(F.col("event_id") % 4 == 3))
    return t, ev


def test_ztable_roundtrip_rows(spark, tmp_path):
    t, ev = _mk_ztable(spark, tmp_path)
    before = t.read(spark)
    n_total = ev.count()
    assert before.count() == n_total
    rewritten = t.compact(spark, max_files=1, target_files=1)
    assert rewritten  # appended tiles had >1 file
    after = t.read(spark)
    assert after.count() == n_total
    # exact same ids, no loss/duplication through the whole lifecycle
    assert after.select("event_id").exceptAll(ev.select("event_id")).count() == 0
    assert ev.select("event_id").exceptAll(after.select("event_id")).count() == 0


def test_ztable_racing_reader_keeps_complete_snapshot(spark, tmp_path):
    """A reader that resolved the manifest BEFORE a compaction must
    still see every row: compaction retires old tile versions for one
    full cycle instead of deleting them at swap time (the documented
    race in the rename-pair zorder_table_compact)."""
    import os

    t, ev = _mk_ztable(spark, tmp_path)
    n_total = ev.count()
    pre = t._load()
    pre_dirs = [os.path.join(t.path, d) for d in pre["tiles"].values()]
    t.compact(spark, max_files=1, target_files=1)
    # post-flip: the pre-compact reader's dirs all still exist and
    # still hold the complete table
    assert all(os.path.isdir(d) for d in pre_dirs)
    assert spark.read.parquet(*pre_dirs).count() == n_total
    # ...until the NEXT maintenance cycle sweeps them
    t.append(_ztable_events(spark).limit(4))
    t.compact(spark, max_files=0, target_files=1)
    gone = [d for d in pre_dirs if not os.path.isdir(d)]
    assert gone  # two-generations-old versions are reclaimed


def test_ztable_crash_before_flip_sweeps_orphan(spark, tmp_path):
    """A tile version written but never published (crash between the
    tile write and the manifest flip) is invisible to readers and
    swept by the next compact; the table stays complete."""
    import os

    t, ev = _mk_ztable(spark, tmp_path)
    n_total = ev.count()
    # simulate the crash: write an orphan next version for one tile
    m = t._load()
    bucket_s, dirname = sorted(m["tiles"].items())[0]
    orphan = f"t{int(bucket_s):04d}_v9"
    spark.read.parquet(os.path.join(t.path, dirname)).limit(3).write.parquet(
        os.path.join(t.path, orphan)
    )
    assert t.read(spark).count() == n_total  # manifest never saw it
    t.compact(spark, max_files=10**9)  # no tile qualifies; sweep only
    assert not os.path.isdir(os.path.join(t.path, orphan))
    assert t.read(spark).count() == n_total


def test_ztable_append_new_bucket_publishes(spark, tmp_path):
    """An append whose rows land in a tile the init batch left empty
    creates the tile dir and publishes it via a manifest flip."""
    ev = _ztable_events(spark)
    t = L.ZOrderTable(str(tmp_path / "zt2"))
    # init on a corner of the space (low x, low y) so high buckets are
    # empty, but bounds cover the full range via manual clamp targets
    t.init(ev, "x", "y", bits=16, n_buckets=8)
    n_tiles_full = len(t._load()["tiles"])
    t2 = L.ZOrderTable(str(tmp_path / "zt3"))
    low = ev.orderBy("event_id").limit(50)
    t2.init(low, "x", "y", bits=16, n_buckets=8)
    before = len(t2._load()["tiles"])
    t2.append(ev)
    after = len(t2._load()["tiles"])
    assert after >= before
    assert t2.read(spark).count() == 50 + ev.count()
    assert n_tiles_full >= 1


def test_ztable_reinit_over_crash_debris(spark, tmp_path):
    """init must succeed over a previous table OR a crashed earlier
    init (published t*_v0 dirs with no manifest) — os.replace onto a
    non-empty dir would otherwise throw ENOTEMPTY (code-review r5)."""
    import os

    ev = _ztable_events(spark)
    path = tmp_path / "zt_reinit"
    t = L.ZOrderTable(str(path))
    t.init(ev, "x", "y", bits=16, n_buckets=8)
    # crash simulation: manifest gone, populated tile dirs remain
    os.remove(t._manifest_path())
    t2 = L.ZOrderTable(str(path))
    t2.init(ev, "x", "y", bits=16, n_buckets=8)
    assert t2.read(spark).count() == ev.count()
    # re-init over a LIVE table also works (full rewrite semantics)
    t2.init(ev.limit(100), "x", "y", bits=16, n_buckets=8)
    assert t2.read(spark).count() == 100


def test_ztable_batch_append_replay_idempotent(spark, tmp_path):
    """At-least-once replay: re-appending the same batch_id is a no-op
    (manifest pointer), and a batch interrupted MID-append (files
    moved, pointer NOT advanced) re-applies cleanly via its b{k}_
    prefix sweep — no double rows."""
    import json
    import os

    ev = _ztable_events(spark)
    t = L.ZOrderTable(str(tmp_path / "zt_replay"))
    t.init(ev.filter(F.col("event_id") % 4 == 0), "x", "y",
           bits=16, n_buckets=8, batch_id=0)
    b1 = ev.filter(F.col("event_id") % 4 == 1)
    t.append(b1, batch_id=1)
    n_after_b1 = t.read(spark).count()
    t.append(b1, batch_id=1)  # straight replay: pointer skips it
    assert t.read(spark).count() == n_after_b1
    # crash simulation: batch 2's files land but the pointer doesn't
    b2 = ev.filter(F.col("event_id") % 4 == 2)
    t.append(b2, batch_id=2)
    m = t._load()
    m["last_batch"] = 1  # rewind the pointer as if the flip was lost
    t._flip(m)
    t.append(b2, batch_id=2)  # replay after the "crash"
    got = t.read(spark)
    want = ev.filter(F.col("event_id") % 4 != 3)
    assert got.count() == want.count()
    assert got.select("event_id").exceptAll(want.select("event_id")).count() == 0
    assert json.loads(open(t._manifest_path()).read())["last_batch"] == 2
    del os


def test_ztable_replay_sweeps_new_bucket_debris(spark, tmp_path):
    """ADVICE r5 (medium): a crashed append attempt that created a NEW
    bucket tile (makedirs + file moves precede the manifest flip)
    leaves debris in a dir the manifest doesn't list. The replay must
    sweep the batch prefix from EVERY on-disk tile dir — a
    manifest-only sweep re-stages the rows under fresh UUID part names
    and publishes duplicates."""
    ev = _ztable_events(spark)
    t = L.ZOrderTable(str(tmp_path / "zt_newbucket"))
    # init on 5 rows only, leaving most buckets empty so the append
    # lands in NEW tiles
    t.init(ev.orderBy("event_id").limit(5), "x", "y",
           bits=16, n_buckets=8, batch_id=0)
    m_before = t._load()
    b1 = ev.subtract(ev.orderBy("event_id").limit(5))
    t.append(b1, batch_id=1)
    m_after = t._load()
    new_buckets = set(m_after["tiles"]) - set(m_before["tiles"])
    assert new_buckets, "fixture must exercise the new-bucket path"
    # crash simulation: the flip was lost — pointer AND tile map revert,
    # but the moved files (incl. whole new-bucket dirs) stay on disk
    t._flip(m_before)
    t.append(b1, batch_id=1)  # replay
    got = t.read(spark)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_zorder_stream_writer_matches_batch_table(spark, tmp_path):
    """Draining the 3-batch stream through ZOrderStreamWriter (with a
    mid-stream compaction) produces exactly the rows of a batch-built
    table over the same data."""
    import json
    import time

    from streaming_cdc_spark.session import drain_stream
    from streaming_cdc_spark.streaming.zorder_sink import ZOrderStreamWriter

    ev = _ztable_events(spark).limit(300).localCheckpoint()
    src = tmp_path / "src"
    src.mkdir()
    rows = ev.collect()
    for i in range(3):
        batch = [r for j, r in enumerate(rows) if j % 3 == i]
        (src / f"f{i}.jsonl").write_text(
            "\n".join(
                json.dumps({"event_id": r["event_id"], "x": r["x"], "y": r["y"]})
                for r in batch
            )
        )
        time.sleep(0.05)
    stream = (
        spark.readStream.schema("event_id long, x long, y long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    w = ZOrderStreamWriter(
        str(tmp_path / "ztab"), "x", "y", bits=16, n_buckets=8,
        compact_every=2, max_files=1,
    )
    drain_stream(stream, w.apply_batch)
    got = w.table.read(spark)
    assert got.count() == 300
    assert got.select("event_id").distinct().count() == 300
    # compaction fired (batch 1): no tile holds more than ~2 files
    m = w.table._load()
    assert m["last_batch"] == 2


def test_ztable_tiles_prune_like_hive_partitions(spark, tmp_path):
    """zbucket is a DATA column but constant per tile file, so footer
    min==max stats prune a zbucket predicate exactly like a hive
    partition would — and the (x, y) box pruning of the z-layout
    carries over to the manifest table's files."""
    import os

    ev = _ztable_events(spark)
    t = L.ZOrderTable(str(tmp_path / "zt_prune"))
    t.init(ev, "x", "y", bits=16, n_buckets=8)
    t.compact(spark, max_files=0, target_files=1)  # one file per tile
    m = t._load()
    files = []
    for d in m["tiles"].values():
        tile = os.path.join(t.path, d)
        files += [os.path.join(tile, f) for f in os.listdir(tile)
                  if f.endswith(".parquet")]
    import pyarrow.parquet as pq

    per_file = []
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        st = md.row_group(0).column(cols["zbucket"]).statistics
        stx = md.row_group(0).column(cols["x"]).statistics
        per_file.append(((st.min, st.max), (stx.min, stx.max)))
    # every file covers exactly one zbucket
    assert all(lo == hi for (lo, hi), _ in per_file)
    # a single-bucket predicate scans exactly the files of that tile
    target = per_file[0][0][0]
    hit = sum(1 for (lo, _hi), _ in per_file if lo == target)
    assert hit < len(per_file)
    # an x-range predicate skips a real fraction of files (z-locality)
    xs = sorted(x for _, (xlo, xhi) in per_file for x in (xlo, xhi))
    probe_lo, probe_hi = xs[0], xs[len(xs) // 4]
    overlapping = sum(
        1 for _, (xlo, xhi) in per_file if not (xhi < probe_lo or xlo > probe_hi)
    )
    assert overlapping < len(per_file)


def test_partition_pruning_never_opens_unselected_partitions(spark):
    """The behavioral proof of hive partition pruning (the z-order
    footer test's sibling): CORRUPT a parquet file in an unselected
    partition — the pruned read still succeeds (those files are never
    opened), while the same read WITHOUT the partition predicate
    fails. This is stronger than asserting PartitionFilters in the
    plan string: it proves the skip actually happens at execution."""
    import glob
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from streaming_cdc_spark.queries.layout import (
        _PARTPRUNE_SCHEMA,
        _partitioned_events_dir,
    )

    src = _partitioned_events_dir(spark, "/root/testdata/sf0.001")
    # work on a COPY — the cached dir is shared with the registered
    # query and must stay intact
    work = tempfile.mkdtemp(prefix="partprune_corrupt_")
    shutil.rmtree(work)
    shutil.copytree(src, work)
    try:
        victims = glob.glob(f"{work}/event_type=view/*.parquet")
        assert victims, "fixture has no view partition"
        for v in victims:
            with open(v, "wb") as f:
                f.write(b"not a parquet file")
        pruned = (
            spark.read.schema(_PARTPRUNE_SCHEMA)
            .option("basePath", work)
            .parquet(work)
            .filter(F.col("event_type").isin("click", "purchase"))
        )
        n = pruned.count()
        assert n > 0
        full = (
            spark.read.schema(_PARTPRUNE_SCHEMA)
            .option("basePath", work)
            .parquet(work)
        )
        try:
            full.count()
            raised = False
        except Exception:
            raised = True
        assert raised, "corrupted partition was readable — pruning unproven"
    finally:
        shutil.rmtree(work, ignore_errors=True)
