"""Seeded input generator for the entity-resolution benchmark.

Runs apart from the engine: it imports numpy and pyarrow only, never
Spark, and the engine sees nothing but the parquet files written here.
The same seed gives byte-identical files (``test_gen.py``).

Three input shapes, one per workload:

``mentions``  raw mention records (mention_index, mention, left_context,
              right_context, entity_id) for ``batch_resolve``.
``stream``    one embeddings file per fixed interval (category,
              mention_index, embedding, due_s, file_no) for
              ``stream_link``. ``due_s`` is each record's due time in
              seconds after the stream's start.
``docs``      id-range bucket files of documents (doc_id, text, bucket)
              for ``progressive_drain``, mtime-pinned so a file stream
              admits them oldest bucket first.

Run stand-alone::

    python3 perfbench/gen.py mentions --seed 1 --out DIR
    python3 perfbench/gen.py docs --seed 1 --out DIR
    python3 perfbench/gen.py stream --seed 1 --out DIR [--files N --t0 EPOCH --log FILE]

``stream`` with ``--t0`` writes file k at ``t0 + (k + 1) * interval_s``
on a fixed schedule that does not slow when the engine slows, and logs
how late each write ran; without ``--t0`` it writes every file at once.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# batch_resolve: Zipf-skewed entity sizes (the head entity holds ~20% of
# mentions) make the threshold graph dense and skewed: ~150k edges from
# 2k mentions, most inside the head, so connected components' label
# propagation sees one giant component. Within-entity overlap (shared
# name tokens + context drawn mostly from the entity's own pool) keeps
# within-entity cosine well above THRESHOLD; cross-entity pairs stay
# near 0. The size is what a run of a few seconds allows on 4 cpus.
MENTIONS = dict(
    n_mentions=2_000,
    n_entities=120,
    zipf_s=1.1,
    overlap=0.9,
    ctx_len=12,
    pool=8,
    vocab=4_000,
    shared_pool_frac=0.05,
    stray_frac=0.03,
)
MENTIONS_THRESHOLD = 0.7

# stream_link: an open loop offering one file every INTERVAL_S
# (~130 rows/s), below the linker's capacity: a trigger costs ~0.7 s,
# mostly fixed, so each 500 ms trigger drains the backlog it finds and
# the backlog does not grow. Zipf-skewed category keys give one hot key
# whose bounded active set (STREAM_LIMIT) churns, and entities per key
# exceed the limit, so the cache both hits (repeat entities) and evicts.
STREAM = dict(
    n_files=200,
    rows_per_file=8,
    interval_s=0.06,
    n_keys=12,
    key_zipf_s=1.2,
    entities_per_key=60,
    entity_zipf_s=1.0,
    noise=0.35,
    dim=32,
)
STREAM_THRESHOLD = 0.6
STREAM_LIMIT = 40

# progressive_drain: a long document stream in id-range buckets.
# Near-duplicate clusters (Zipf sizes, ~8% word edits) give real
# candidate edges; a boilerplate lead-in on HOT_FRAC of documents makes
# hot shingles whose document frequency crosses DF_CAP in the first
# buckets, so the visible-corpus cap changes as the corpus grows.
# 6k documents (~0.23M postings) in 4 buckets is one drain of ~10 s on
# 4 cpus; a run affords one warm-up drain and one timed drain of it. At
# this size each bucket's fixed cost of small Spark jobs is still the
# larger part; the corpus growth shows as progressive.bucket_growth in
# the traced run.
DOCS = dict(
    n_docs=6_000,
    n_buckets=4,
    n_clusters=1_500,
    cluster_zipf_s=0.9,
    doc_len=40,
    edit_rate=0.08,
    hot_frac=0.3,
    vocab=20_000,
)
DOCS_BUDGET = 25
DOCS_DF_CAP = 50
DOCS_TAU = 0.2
DOCS_COMPACT_EVERY = 2

HOT_PHRASE = "reuters wire service report filed from the newsroom desk".split()


def _zipf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _words(prefix: str, n: int) -> np.ndarray:
    return np.array([f"{prefix}{i}" for i in range(n)], dtype=object)


def mentions_table(seed: int, **knobs) -> pa.Table:
    """Raw mention records; entity sizes are Zipf(``zipf_s``)."""
    k = {**MENTIONS, **knobs}
    rng = np.random.default_rng([seed, 1])
    vocab = _words("w", k["vocab"])
    ent = rng.choice(k["n_entities"], size=k["n_mentions"], p=_zipf(k["n_entities"], k["zipf_s"]))
    ctx = k["ctx_len"]
    # SHARED_POOL_FRAC of entities reuse the previous entity's context
    # pool, so the engine merges them (precision < 1); STRAY_FRAC of
    # mentions carry mostly unrelated context and split off (recall < 1)
    pool_of = np.arange(k["n_entities"])
    shared = rng.random(k["n_entities"]) < k["shared_pool_frac"]
    shared[0] = False
    pool_of[shared] -= 1
    stray = rng.random(k["n_mentions"]) < k["stray_frac"]
    own = rng.random((k["n_mentions"], 2 * ctx)) < np.where(stray, 0.3, k["overlap"])[:, None]
    # every pool token appears equally often in every mention's context
    # (shuffled), so within-entity similarity varies only with the
    # noise substitutions, not with multinomial count swings
    slots = np.broadcast_to(np.arange(2 * ctx) % k["pool"], (k["n_mentions"], 2 * ctx))
    pool = pool_of[ent][:, None] * k["pool"] + rng.permuted(slots, axis=1)
    noise = rng.integers(0, k["vocab"], size=(k["n_mentions"], 2 * ctx))
    words = np.where(own, _words("p", k["n_entities"] * k["pool"])[pool], vocab[noise])
    left = [" ".join(r[:ctx]) for r in words]
    right = [" ".join(r[ctx:]) for r in words]
    mention = [f"ent{e}a ent{e}b" for e in ent]
    return pa.table(
        {
            "mention_index": pa.array(np.arange(k["n_mentions"], dtype=np.int64)),
            "mention": pa.array(mention, pa.string()),
            "left_context": pa.array(left, pa.string()),
            "right_context": pa.array(right, pa.string()),
            "entity_id": pa.array(ent.astype(np.int64)),
        }
    )


def stream_tables(seed: int, **knobs) -> list[pa.Table]:
    """One table per offered file, mention ids increasing across files."""
    k = {**STREAM, **knobs}
    rng = np.random.default_rng([seed, 2])
    n_rows = k["n_files"] * k["rows_per_file"]
    key = rng.choice(k["n_keys"], size=n_rows, p=_zipf(k["n_keys"], k["key_zipf_s"]))
    ent = rng.choice(
        k["entities_per_key"], size=n_rows, p=_zipf(k["entities_per_key"], k["entity_zipf_s"])
    )
    centroids = rng.standard_normal((k["n_keys"], k["entities_per_key"], k["dim"]))
    centroids /= np.linalg.norm(centroids, axis=2, keepdims=True)
    noise = rng.standard_normal((n_rows, k["dim"])) * (k["noise"] / np.sqrt(k["dim"]))
    emb = centroids[key, ent] + noise
    r = k["rows_per_file"]
    tables = []
    for f in range(k["n_files"]):
        s = slice(f * r, (f + 1) * r)
        due = (f + (np.arange(r) + 1) / r) * k["interval_s"]
        tables.append(
            pa.table(
                {
                    "category": pa.array([f"k{x}" for x in key[s]], pa.string()),
                    "mention_index": pa.array(np.arange(s.start, s.stop, dtype=np.int64)),
                    "embedding": pa.array(list(emb[s]), pa.list_(pa.float64())),
                    "due_s": pa.array(due),
                    "file_no": pa.array(np.full(r, f, dtype=np.int32)),
                }
            )
        )
    return tables


def docs_tables(seed: int, **knobs) -> list[pa.Table]:
    """Id-range buckets of a near-duplicate document corpus."""
    k = {**DOCS, **knobs}
    rng = np.random.default_rng([seed, 3])
    vocab = _words("t", k["vocab"])
    base = rng.integers(0, k["vocab"], size=(k["n_clusters"], k["doc_len"]))
    cl = rng.choice(k["n_clusters"], size=k["n_docs"], p=_zipf(k["n_clusters"], k["cluster_zipf_s"]))
    tok = base[cl]
    edits = rng.random(tok.shape) < k["edit_rate"]
    tok = np.where(edits, rng.integers(0, k["vocab"], size=tok.shape), tok)
    hot = rng.random(k["n_docs"]) < k["hot_frac"]
    texts = []
    for i in range(k["n_docs"]):
        w = list(vocab[tok[i]])
        texts.append(" ".join((HOT_PHRASE + w) if hot[i] else w))
    step = -(-k["n_docs"] // k["n_buckets"])
    tables = []
    for b in range(k["n_buckets"]):
        lo, hi = b * step, min((b + 1) * step, k["n_docs"])
        tables.append(
            pa.table(
                {
                    "doc_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                    "text": pa.array(texts[lo:hi], pa.string()),
                    "bucket": pa.array(np.full(hi - lo, b, dtype=np.int32)),
                }
            )
        )
    return tables


def write_parquet(table: pa.Table, path: str, mtime: float | None = None) -> None:
    """Publish atomically: a dot-named temp file (which Spark's file
    listing skips) renamed into place, so a watching stream never reads
    a partial file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def write_mentions(seed: int, out: str, **knobs) -> str:
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "mentions.parquet")
    write_parquet(mentions_table(seed, **knobs), path)
    return path


def write_docs(seed: int, out: str, **knobs) -> list[str]:
    """Bucket b's file gets mtime 1_000_000 + b: with maxFilesPerTrigger=1
    the file source then admits buckets in id order."""
    os.makedirs(out, exist_ok=True)
    paths = []
    for b, t in enumerate(docs_tables(seed, **knobs)):
        p = os.path.join(out, f"bucket_{b:04d}.parquet")
        write_parquet(t, p, mtime=1_000_000 + b)
        paths.append(p)
    return paths


def write_stream(
    seed: int, out: str, t0: float | None = None, log: str | None = None, **knobs
) -> None:
    """Write the stream files. With ``t0`` file k is due at
    ``t0 + (k + 1) * interval_s`` (the due time of its last record) and
    the schedule never waits for the reader; ``log`` receives one JSON
    line per file with how late its write finished."""
    k = {**STREAM, **knobs}
    os.makedirs(out, exist_ok=True)
    tables = stream_tables(seed, **knobs)
    lines = []
    for f, t in enumerate(tables):
        path = os.path.join(out, f"file_{f:05d}.parquet")
        if t0 is None:
            write_parquet(t, path)
            continue
        due = t0 + (f + 1) * k["interval_s"]
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        write_parquet(t, path)
        lines.append(json.dumps({"file_no": f, "late_s": time.time() - due}))
    if log is not None:
        with open(log, "w", encoding="ascii") as fh:
            fh.write("\n".join(lines) + "\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("shape", choices=("mentions", "stream", "docs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, default=None)
    ap.add_argument("--log", default=None)
    ap.add_argument("--files", type=int, default=None, help="stream: number of files to offer")
    a = ap.parse_args(argv)
    if a.shape == "mentions":
        write_mentions(a.seed, a.out)
    elif a.shape == "docs":
        write_docs(a.seed, a.out)
    else:
        knobs = {} if a.files is None else {"n_files": a.files}
        write_stream(a.seed, a.out, t0=a.t0, log=a.log, **knobs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
