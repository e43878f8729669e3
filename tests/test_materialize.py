"""Materialized streaming aggregate: multi-batch merge, exactly-once
replay, atomic versioned publish."""

import json
import time

from pyspark.sql import functions as F

from streaming_cdc_spark.session import drain_stream
from streaming_cdc_spark.streaming.materialize import MaterializedAggregate

SCHEMA = "user_id long, value double"


def rows(k):
    return [{"user_id": i % 3, "value": float(i) + k * 10} for i in range(6)]


def drain(spark, tmp_path, files):
    src = tmp_path / "src"
    src.mkdir()
    for i, rs in enumerate(files):
        (src / f"f{i}.jsonl").write_text("\n".join(json.dumps(r) for r in rs))
        time.sleep(0.05)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    mat = MaterializedAggregate(str(tmp_path / "state"), ["user_id"], ["value"])
    drain_stream(stream, mat.apply_batch)
    return mat


def test_multibatch_merge_equals_batch_aggregate(spark, tmp_path):
    files = [rows(0), rows(1), rows(2)]
    mat = drain(spark, tmp_path, files)
    got = {
        r["user_id"]: (r["n_rows"], float(r["sum_value"]))
        for r in mat.table(spark).collect()
    }
    flat = [r for rs in files for r in rs]
    batch = (
        spark.createDataFrame(flat, SCHEMA)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )
    )
    want = {r["user_id"]: (r["n"], float(r["s"])) for r in batch.collect()}
    assert got == want
    # three micro-batches applied -> pointer at v2; retention keeps
    # only the last keep_versions dirs (default 2: v1, v2)
    assert mat.pointer.read() == {"version": 2, "last_batch": 2}
    import os

    dirs = sorted(d for d in os.listdir(mat.state_dir) if d.startswith("v"))
    assert dirs == ["v000001", "v000002"]


def test_time_travel_table_at(spark, tmp_path):
    """table_at(v) is the true historical state — the fold of batches
    0..v — and versions outside the retention window raise (the
    vacuum horizon)."""
    import pytest

    files = [rows(0), rows(1), rows(2)]
    src = tmp_path / "src"
    src.mkdir()
    for i, rs in enumerate(files):
        (src / f"f{i}.jsonl").write_text("\n".join(json.dumps(r) for r in rs))
        time.sleep(0.05)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    mat = MaterializedAggregate(
        str(tmp_path / "state"), ["user_id"], ["value"], keep_versions=3
    )
    drain_stream(stream, mat.apply_batch)
    assert mat.versions() == [0, 1, 2]
    # AS OF version 1 == batch aggregate over files 0..1
    got = {
        r["user_id"]: (r["n_rows"], float(r["sum_value"]))
        for r in mat.table_at(spark, 1).collect()
    }
    flat = [r for rs in files[:2] for r in rs]
    batch = (
        spark.createDataFrame(flat, SCHEMA)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )
    )
    want = {r["user_id"]: (r["n"], float(r["s"])) for r in batch.collect()}
    assert got == want
    # current table == table_at(latest)
    assert mat.table(spark).collect() == mat.table_at(spark, 2).collect()
    with pytest.raises(FileNotFoundError):
        mat.table_at(spark, 3)


def test_time_travel_respects_vacuum_horizon(spark, tmp_path):
    """With keep_versions=2 and three applied batches, version 0 is
    reclaimed: table_at(0) raises and versions() excludes it."""
    import pytest

    mat = drain(spark, tmp_path, [rows(0), rows(1), rows(2)])
    assert mat.versions() == [1, 2]
    with pytest.raises(FileNotFoundError):
        mat.table_at(spark, 0)


def test_replayed_batch_is_skipped(spark, tmp_path):
    mat = drain(spark, tmp_path, [rows(0), rows(1)])
    before = {tuple(r) for r in mat.table(spark).collect()}
    replay = spark.createDataFrame(rows(1), SCHEMA)
    mat.apply_batch(replay, 0)  # at-least-once redelivery after restart
    mat.apply_batch(replay, 1)
    assert {tuple(r) for r in mat.table(spark).collect()} == before
    # a genuinely NEW batch still applies
    mat.apply_batch(replay, 2)
    after = {r["user_id"]: r["n_rows"] for r in mat.table(spark).collect()}
    assert all(after[u] == dict((r[0], r[1]) for r in before)[u] + 2 for u in after)


def test_empty_state_raises(spark, tmp_path):
    import pytest

    mat = MaterializedAggregate(str(tmp_path / "empty"), ["user_id"], ["value"])
    with pytest.raises(FileNotFoundError):
        mat.table(spark)


def test_restart_resumes_materialization(spark, tmp_path):
    """Checkpoint restart: a second start() on the same checkpoint
    processes only files added since the stop, and the versioned table
    keeps accumulating — final state equals the batch aggregate of
    everything ever streamed."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    mat = MaterializedAggregate(str(tmp_path / "state"), ["user_id"], ["value"])

    def drain():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        # a FIXED checkpoint (drain_stream always starts fresh): the
        # restart from it is what this test checks
        q = (
            stream.writeStream.foreachBatch(mat.apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i, rs in enumerate([rows(0), rows(1)]):
        (src / f"f{i}.jsonl").write_text("\n".join(json.dumps(r) for r in rs))
        time.sleep(0.05)
    drain()
    v1 = mat.pointer.read()["version"]
    (src / "f2.jsonl").write_text("\n".join(json.dumps(r) for r in rows(2)))
    drain()
    v2 = mat.pointer.read()["version"]
    assert v2 == v1 + 1  # exactly ONE new batch applied after restart
    got = {
        r["user_id"]: (r["n_rows"], float(r["sum_value"]))
        for r in mat.table(spark).collect()
    }
    flat = [r for k in range(3) for r in rows(k)]
    batch = (
        spark.createDataFrame(flat, SCHEMA)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )
    )
    want = {r["user_id"]: (r["n"], float(r["s"])) for r in batch.collect()}
    assert got == want
