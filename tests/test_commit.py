"""One commit protocol, three sinks, three faults (streaming/commit.py).

Every file-backed foreachBatch sink goes through the same faults at
batch K: (a) the batch is delivered twice; (b) a crash after the data
write, before the pointer flip; (c) a crash after the flip, before
cleanup. Before recovery a reader sees exactly the last committed
state; after the redelivery (from a freshly built sink, as a restarted
query would) and the rest of the stream, the output equals a clean
run. Crashes are injected by patching ``CommitPointer.publish`` /
``CommitPointer.cleanup``.
"""

import pytest

from streaming_cdc_spark.streaming.commit import CommitPointer

N_BATCHES = 5
K = 3  # the faulted batch: every sink also compacts or retains here


def _materialized(spark, path):
    from streaming_cdc_spark.streaming.materialize import MaterializedAggregate

    sink = MaterializedAggregate(path, ["k"], ["v"])

    def read():
        try:
            return sorted(tuple(r) for r in sink.table(spark).collect())
        except FileNotFoundError:
            return []

    return sink, read


def _materialized_batches(spark):
    return [
        spark.createDataFrame(
            [(j % 3, float(j + 10 * i)) for j in range(6)], "k long, v double"
        )
        for i in range(N_BATCHES)
    ]


def _zorder(spark, path):
    from streaming_cdc_spark.streaming.zorder_sink import ZOrderStreamWriter

    # compaction after batches 1 and 3; every appended tile qualifies
    sink = ZOrderStreamWriter(
        path, "x", "y", bits=16, n_buckets=8, compact_every=2, max_files=1
    )

    def read():
        try:
            df = sink.table.read(spark).select("event_id", "zval", "zbucket")
        except FileNotFoundError:
            return []
        return sorted(tuple(r) for r in df.collect())

    return sink, read


def _zorder_batches(spark):
    return [
        spark.createDataFrame(
            [
                (100 * i + j, (37 * j + 11 * i) % 200, (53 * j + 7 * i) % 300)
                for j in range(40)
            ],
            "event_id long, x long, y long",
        )
        for i in range(N_BATCHES)
    ]


def _progressive(spark, path):
    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    # compaction after buckets 1 and 3; the one after bucket 3 folds b0+b1
    sink = ProgressiveResolver(path, budget=5, df_cap=50, tau=0.05, compact_every=2)

    def read():
        return sorted(tuple(r) for r in sink.results(spark).collect())

    return sink, read


def _progressive_batches(spark):
    docs = spark.createDataFrame(
        [
            (i, "alpha beta gamma delta shared run %d %d" % (i % 4, i), i // 4)
            for i in range(4 * N_BATCHES)
        ],
        "doc_id long, text string, bucket int",
    )
    return [docs.filter(f"bucket = {b}") for b in range(N_BATCHES)]


SINKS = {
    "materialized": (_materialized, _materialized_batches),
    "zorder": (_zorder, _zorder_batches),
    "progressive": (_progressive, _progressive_batches),
}


@pytest.fixture(scope="module")
def clean_runs(spark, tmp_path_factory):
    """sink name -> (batches, reader output after each clean batch)."""
    cache = {}

    def get(name):
        if name not in cache:
            build, make_batches = SINKS[name]
            batches = make_batches(spark)
            sink, read = build(spark, str(tmp_path_factory.mktemp(f"clean_{name}")))
            snaps = []
            for i, b in enumerate(batches):
                sink.apply_batch(b, i)
                snaps.append(read())
            assert len(set(map(tuple, snaps))) == N_BATCHES  # every batch shows
            cache[name] = (batches, snaps)
        return cache[name]

    return get


def _crash(self, *args):
    raise RuntimeError("injected crash")


@pytest.mark.parametrize("fault", ["redeliver", "crash_before_flip", "crash_before_cleanup"])
@pytest.mark.parametrize("name", sorted(SINKS))
def test_sink_fault_recovers_to_clean_run(spark, tmp_path, monkeypatch, clean_runs, name, fault):
    batches, snaps = clean_runs(name)
    build, _ = SINKS[name]
    path = str(tmp_path / "sink")
    sink, read = build(spark, path)
    for i in range(K):
        sink.apply_batch(batches[i], i)
    if fault == "redeliver":
        sink.apply_batch(batches[K], K)
        sink.apply_batch(batches[K], K)
        assert read() == snaps[K]
    else:
        method = "publish" if fault == "crash_before_flip" else "cleanup"
        with monkeypatch.context() as m:
            m.setattr(CommitPointer, method, _crash)
            with pytest.raises(RuntimeError, match="injected crash"):
                sink.apply_batch(batches[K], K)
        # the reader sees exactly the last committed state
        committed = K - 1 if fault == "crash_before_flip" else K
        assert read() == snaps[committed]
        assert CommitPointer(path).read()["last_batch"] == committed
        sink, read = build(spark, path)  # restart
        sink.apply_batch(batches[K], K)  # at-least-once redelivery
    for i in range(K + 1, N_BATCHES):
        sink.apply_batch(batches[i], i)
    assert read() == snaps[-1]
    assert CommitPointer(path).read()["last_batch"] == N_BATCHES - 1
