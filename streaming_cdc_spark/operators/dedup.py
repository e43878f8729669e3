"""Deduplication operators for large-scale corpus pipelines.

None of these exist in the reference (its near-dup machinery is the
dense similarity join, nn_thresh.py); they are the training-data
pipeline extensions (BASELINE.json north_star) built Spark-first:

- exact key dedup: one shuffle (groupBy), scales linearly;
- MinHash + banded LSH: shingle explode -> per-band min-hash -> bucket
  self-join. The bucket join is an EQUI-join, so 100 TB of documents
  shuffles on band values instead of comparing all pairs;
- n-gram Jaccard: candidates from a shingle equi-join (inverted
  index), exact Jaccard from shared-shingle counts — never a cross
  join;
- SimHash: 32-bit fingerprints via word-hash bit voting, XOR+popcount
  for near-dup distance.

Everything is built-in Column expressions (JVM codegen); hashing goes
through functions.hashing.md5_long so the DuckDB oracle can replay it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streaming_cdc_spark.functions.hashing import md5_long

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")


def tokens(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.split(text, " ")


def word_shingles(t: Column | str, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles from a TOKEN ARRAY column, matching the
    oracle construction: positions 1..greatest(len-(n-1), 1);
    concat_ws skips trailing nulls on short docs identically in both
    engines. ``distinct=False`` keeps every occurrence — the weighted
    (multiset) variant.

    Takes the pre-split token array, not the raw text: expressions
    inside transform() lambdas are re-evaluated per element, so
    splitting there costs O(len(text) * n_shingles) per row."""
    t = F.col(t) if isinstance(t, str) else t
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1)))
    # try_element_at: out-of-range -> NULL (concat_ws skips it), instead
    # of the ANSI-mode error element_at raises on short docs
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.try_element_at(t, i + F.lit(j)) for j in range(n)])
    )
    return F.array_distinct(grams) if distinct else grams


def exploded_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """One row per (doc, distinct word-3-gram shingle).

    ``hashed=True`` replaces the shingle STRING with its 60-bit
    ``md5_long`` — the join-key form: an avg shingle is ~15 UTF-8
    bytes plus UnsafeRow string framing (offset+len word and 8-byte
    padding) vs a flat 8-byte long, so every downstream shuffle,
    broadcast set, and sort on the key is 2-4x narrower. The hash is
    injective on real corpora (birthday bound n^2/2^61: at 1e10
    distinct shingles — ~100 TB of text — ~40 expected collisions,
    each worth one spurious candidate pair or +1 on a shared-shingle
    count; audited zero collisions on the sf0.1 shingle set), so
    equality results are unchanged and the string-keyed DuckDB
    oracles still match."""
    from streaming_cdc_spark.session import fan_out

    tokenized = fan_out(docs.select(id_col, tokens(text_col).alias("_t")))
    shingles = word_shingles(F.col("_t"))
    if hashed:
        # hash INSIDE the array before the explode: one transform per
        # doc, and the generator output is already the narrow long
        shingles = F.transform(shingles, lambda g: md5_long(g))
    return tokenized.select(id_col, F.explode(shingles).alias("shingle"))


def cap_shingle_df(
    sh: DataFrame, df_cap: int, shingle_col: str = "shingle"
) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``df_cap`` — the
    web-scale guard for the inverted shingle index: a stopword-run
    shingle appearing in d docs contributes d² rows to the candidate
    equi-join, so uncapped hot shingles square the shuffle. One extra
    partial-aggregated groupBy + a semi-join; afterwards every join
    key's multiplicity is bounded by df_cap. Trades recall only on
    pairs whose ENTIRE overlap is capped shingles (near-dups share
    rare shingles too)."""
    freq = (
        sh.groupBy(shingle_col)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= df_cap)
    )
    return sh.join(freq.select(shingle_col), shingle_col, "left_semi")


def exact_dedup_groups(
    docs: DataFrame,
    key: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Groups of documents sharing an exact dedup key; canonical doc =
    min id. Output: (dup_key, n_dups, canonical_doc_id)."""
    return (
        docs.select(F.col(id_col), key.alias("dup_key"))
        .groupBy("dup_key")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("canonical_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


def minhash_columns(shingles: Column, num_hashes: int, prefix: str) -> list[Column]:
    """MinHash signature columns ``{prefix}0..{prefix}{K-1}`` over a
    shingle ARRAY column: hash i is the least md5_long of the shingles
    salted with '{i}|' — one array_min over a transform, no explode."""

    def hasher(salt):
        # single-argument lambda: F.transform would pass the array
        # index into any second (even defaulted) parameter
        return lambda g: md5_long(g, salt=salt)

    return [
        F.array_min(F.transform(shingles, hasher(f"{i}|"))).alias(f"{prefix}{i}")
        for i in range(num_hashes)
    ]


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc MinHash signature columns h0..h{K-1} over word 3-gram
    shingles; hash i salts the shingle with '{i}|'.

    Pure array expressions (array_min over a transform of the
    materialized shingle array) — no shingle explode, no groupBy
    shuffle; the band equi-join downstream is the only shuffle."""
    from streaming_cdc_spark.session import fan_out

    base = fan_out(docs.select(F.col(id_col), tokens(text_col).alias("_t")))
    base = base.select(id_col, F.array_distinct(word_shingles(F.col("_t"))).alias("_sh"))
    return base.select(id_col, *minhash_columns(F.col("_sh"), num_hashes, "h"))


def _band_keys(num_hashes: int, rows_per_band: int) -> list[Column]:
    """Band bucket keys 'b_<h...>' over signature columns h0..h{K-1} —
    the ONE definition of the bucket format (the chain oracles replay
    it as concat('b_', hb))."""
    n_bands = num_hashes // rows_per_band
    return [
        F.concat_ws(
            "_",
            F.lit(str(b)),
            *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)],
        )
        for b in range(n_bands)
    ]


def _cap_buckets(buckets: DataFrame, bucket_cap: int | None) -> DataFrame:
    """Hot-bucket guard (one definition for every chain): drop buckets
    with more than ``bucket_cap`` members before any self-join."""
    if bucket_cap is None:
        return buckets
    keep = (
        buckets.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") <= bucket_cap)
        .select("bucket")
    )
    return buckets.join(keep, "bucket", "left_semi")


def _band_join(
    sig: DataFrame,
    num_hashes: int,
    rows_per_band: int,
    id_col: str,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Band a signature DataFrame (id_col, h0..h{K-1}) and equi-join
    on bucket values. Output: (doc_a, doc_b, n_shared_bands).

    ``bucket_cap`` is the hot-bucket guard for web scale: a bucket
    with m members contributes m^2/2 candidate pairs, and a clique of
    byte-identical documents (one hot signature) makes that quadratic
    in the clique size. Buckets above the cap are dropped BEFORE the
    self-join (_cap_buckets) — the standard LSH move, because
    oversized buckets are either exact duplicates (caught upstream by
    exact_dedup, which real pipelines run first) or degenerate junk
    signatures. Oracles that replay a capped chain must replay the
    cap (HAVING COUNT(*) <= cap on the bucket)."""
    band_keys = _band_keys(num_hashes, rows_per_band)
    buckets = sig.select(F.col(id_col), F.explode(F.array(*band_keys)).alias("bucket"))
    buckets = _cap_buckets(buckets, bucket_cap)
    a = buckets.select(F.col(id_col).alias("doc_a"), "bucket")
    b = buckets.select(F.col(id_col).alias("doc_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )


def minhash_band_candidates(
    docs: DataFrame,
    num_hashes: int = 4,
    rows_per_band: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Banded-LSH candidate pairs: docs sharing >=1 band bucket.
    Output: (doc_a, doc_b, n_shared_bands). rows_per_band=1 is the
    high-recall config; raise it for precision at scale."""
    sig = minhash_signatures(docs, num_hashes, id_col, text_col)
    return _band_join(sig, num_hashes, rows_per_band, id_col)


def weighted_minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 4,
    weight_cap: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Weighted MinHash over the shingle MULTISET: a shingle occurring
    w times contributes min(w, weight_cap) replicas 'shingle#r', so the
    signature estimates weighted Jaccard over capped counts (the
    integer-weight expansion construction) instead of treating a
    200x-repeated boilerplate line the same as a one-off. Repetitive
    near-dups (templated pages, log spam) that set-MinHash washes out
    stay detectable.

    weight_cap bounds the explode fan-out: the per-row blowup is at
    most cap * n_shingles, so the shuffle stays linear in corpus size
    at any scale. Hashing is md5_long so the oracle replays it."""
    from streaming_cdc_spark.session import fan_out

    tokenized = fan_out(docs.select(id_col, tokens(text_col).alias("_t")))
    sh = tokenized.select(
        F.col(id_col), F.explode(word_shingles(F.col("_t"), distinct=False)).alias("shingle")
    )
    counts = sh.groupBy(id_col, "shingle").agg(
        F.least(F.count(F.lit(1)), F.lit(weight_cap)).alias("_w")
    )
    reps = counts.select(
        F.col(id_col),
        "shingle",
        F.explode(F.sequence(F.lit(1), F.col("_w"))).alias("_r"),
    ).select(
        F.col(id_col),
        F.concat(F.col("shingle"), F.lit("#"), F.col("_r").cast("string")).alias("k"),
    )
    aggs = [
        F.min(md5_long(F.col("k"), salt=f"{i}|")).alias(f"h{i}") for i in range(num_hashes)
    ]
    return reps.groupBy(id_col).agg(*aggs)


def weighted_minhash_band_candidates(
    docs: DataFrame,
    num_hashes: int = 4,
    rows_per_band: int = 1,
    weight_cap: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Banded LSH over weighted-MinHash signatures — same bucket
    equi-join physical plan as the set variant (never all-pairs)."""
    sig = weighted_minhash_signatures(docs, num_hashes, weight_cap, id_col, text_col)
    return _band_join(sig, num_hashes, rows_per_band, id_col)


def benchmark_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination check: for each training document,
    the fraction of its distinct word-3-gram shingles that appear
    anywhere in the benchmark (eval) corpus. The standard
    train-set-hygiene pass before LLM training — docs with high
    overlap leak eval answers.

    Physical plan: the benchmark's DISTINCT shingle set is broadcast
    (eval sets are small by construction — benchmarks are thousands of
    documents, not billions, so their shingle set fits in executor
    memory even when the training side is 100 TB); the training side
    streams through one semi-join probe plus its own size aggregate.
    No shuffle touches the benchmark side after the distinct. Both
    sides probe on the HASHED shingle (8-byte long vs ~15-byte Java
    String + ~40 B object header in the broadcast hash set — ~5x
    more benchmark shingles fit per executor GB).

    Output: (id_col, n_sh, n_hit, contaminated_frac[6dp])."""
    bsh = (
        exploded_shingles(benchmark, id_col, text_col, hashed=True)
        .select("shingle")
        .distinct()
    )
    tsh = exploded_shingles(train, id_col, text_col, hashed=True).persist()
    sizes = tsh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    hits = (
        tsh.join(F.broadcast(bsh), "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    out = (
        sizes.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            "n_sh",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n_sh"), 6
            ).alias("contaminated_frac"),
        )
        .localCheckpoint()
    )
    tsh.unpersist()
    return out


def shared_shingle_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = None,
    with_sizes: bool = True,
) -> tuple[DataFrame | None, DataFrame]:
    """Inverted-index shared-shingle pipeline common to Jaccard and
    containment: returns (sizes, shared) — per-doc distinct-shingle
    counts and per-pair (doc_a < doc_b) shared counts. Both are
    localCheckpointed WHILE the exploded shingles are cached, so
    callers compose further joins without re-exploding the corpus.
    ``df_cap`` bounds candidate generation only (see cap_shingle_df);
    sizes stay exact.

    The self-join key is the HASHED shingle (exploded_shingles
    hashed=True): the candidate equi-join is this chain's dominant
    shuffle, and an 8-byte long key shuffles 2-4x less than the
    string form with identical output (injectivity analysis in
    exploded_shingles)."""
    sh = exploded_shingles(docs, id_col, text_col, hashed=True).persist()
    # sizes materialize EAGERLY (localCheckpoint) — callers that only
    # need the shared counts (meta-blocking) skip the whole pass
    sizes = (
        sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh")).localCheckpoint()
        if with_sizes
        else None
    )
    cand = cap_shingle_df(sh, df_cap) if df_cap is not None else sh
    a = cand.select(F.col(id_col).alias("doc_a"), "shingle")
    b = cand.select(F.col(id_col).alias("doc_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .localCheckpoint()
    )
    sh.unpersist()
    return sizes, shared


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >=1 shingle
    (inverted-index candidate generation — the shingle equi-join — so
    the cross join never materializes).
    Output: (doc_a, doc_b, n_shared, jaccard_r[6dp]).

    ``df_cap`` (web scale): exclude shingles above that document
    frequency from CANDIDATE GENERATION and the shared counts —
    set sizes stay exact, so reported Jaccard is a lower bound and
    pairs overlapping only in hot shingles are missed (the standard
    recall trade; see cap_shingle_df). The sizes join is left to
    AQE's size-based strategy choice — sizes has one row per DOC, so
    a forced broadcast would break exactly at the scale this
    operator targets."""
    sizes, shared = shared_shingle_counts(docs, id_col, text_col, df_cap)
    return (
        shared.join(
            sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na")), "doc_a"
        )
        .join(
            sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b"
        )
        .withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_shared", F.round("jaccard", 6).alias("jaccard_r"))
    )


def resolve_near_dups(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Greedy min-id near-dup resolution: drop every document that has
    a verified near-dup with a SMALLER id (pairs carry doc_a < doc_b,
    so doc_b is always the drop candidate). The canonical-per-group
    choice real dedup pipelines ship — a plain anti-join, no connected
    components needed, so it stays one shuffle and is order-free."""
    drops = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return docs.join(drops, id_col, "left_anti")


def simhash_fingerprints(
    docs: DataFrame,
    n_bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """32-bit SimHash: distinct words vote +1/-1 per bit of their
    60-bit md5 hash; fingerprint bit j set iff the vote sum > 0.
    Output: (doc_id, simhash long).

    Physical form: one pure array expression per row — hash each
    distinct word ONCE (`transform`), fold votes with
    `aggregate`+`zip_with`, assemble the bit field with one more
    fold. Zero shuffles and no words x n_bits row explosion (the
    explode form shuffled that twice); the hamming join downstream
    keeps the only shuffle. Same math, same fingerprints — the
    DuckDB oracle pins that."""
    from streaming_cdc_spark.session import fan_out

    hs = (
        f"transform(array_distinct(split({text_col}, ' ')), "
        f"w -> CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT))"
    )
    votes = (
        f"aggregate({hs}, array_repeat(0, {n_bits}), "
        f"(acc, h) -> zip_with(acc, "
        f"transform(sequence(0, {n_bits - 1}), "
        f"i -> CASE WHEN (shiftright(h, i) & 1) = 1 THEN 1 ELSE -1 END), "
        f"(a, b) -> a + b))"
    )
    fp = (
        f"aggregate(zip_with({votes}, sequence(0, {n_bits - 1}), "
        f"(v, i) -> CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), i) "
        f"ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    docs = fan_out(docs.select(F.col(id_col), F.col(text_col)))
    return docs.select(F.col(id_col), F.expr(fp).alias("simhash"))


def simhash_hamming_pairs(
    docs: DataFrame,
    max_distance: int = 1,
    n_bits: int = 32,
    n_blocks: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming ball (the Manku/
    Jain/Sarma WWW'07 web-dedup scheme): pigeonhole-banded candidate
    generation + exact popcount verify.

    The fingerprint is split into ``n_blocks`` bit blocks; two
    fingerprints within Hamming distance ``max_distance`` = k differ
    in at most k blocks, so they MUST agree exactly on some
    (n_blocks - k)-subset of blocks (pigeonhole) — candidates come
    from an EQUI-join on (subset_index, concatenated subset value),
    never an all-pairs comparison. The verify step is one XOR +
    bit_count per candidate, both JVM built-ins.

    ``n_blocks`` is the Manku table-count/selectivity dial. The
    minimal n_blocks = k + 1 joins on single blocks of n_bits/(k+1)
    bits — at 32 bits/k=1 that is a 16-bit key whose random-collision
    candidate volume grows ~ n^2/2^16: measurably SUPERLINEAR
    (tools/measure_shuffle.py flagged alpha=1.44 between sf0.01 and
    sf0.1). Raising n_blocks widens the join key to
    (n_blocks-k) x width bits at the cost of C(n_blocks, k) key
    tables: n_blocks=4 at 32 bits/k=1 gives four 24-bit keys — 2x the
    fingerprint shuffle, 1/256th the random-collision rate, alpha
    back to ~1. At 100 TB this shuffles fingerprint tuples
    (~16 B x C(n_blocks,k) per doc), not documents, and the subset
    keys are uniform by construction (md5-derived bits).

    Output: (doc_a, doc_b, hamming) with hamming <= max_distance,
    doc_a < doc_b, one row per pair.
    """
    fp = simhash_fingerprints(docs, n_bits, id_col, text_col)
    return hamming_ball_pairs(
        fp.select(F.col(id_col).alias("_id"), "simhash"),
        max_distance=max_distance,
        n_bits=n_bits,
        n_blocks=n_blocks,
    )


def hamming_ball_pairs(
    fp: DataFrame,
    max_distance: int = 1,
    n_bits: int = 32,
    n_blocks: int | None = None,
) -> DataFrame:
    """Banded exact Hamming-ball pair join over a (_id, simhash)
    DataFrame — the Manku subset-key candidate join + XOR popcount
    verify shared by simhash_hamming_pairs and simhash_dedup_groups
    (the latter runs it over DISTINCT fingerprints only)."""
    from itertools import combinations

    k = max_distance
    if n_blocks is None:
        n_blocks = k + 1
    if n_blocks <= k:
        raise ValueError(f"n_blocks={n_blocks} must exceed max_distance={k}")
    width = -(-n_bits // n_blocks)  # ceil
    subsets = list(combinations(range(n_blocks), n_blocks - k))
    keys = []
    for ci, subset in enumerate(subsets):
        parts = " + ".join(
            f"(((simhash >> {b * width}) & {(1 << width) - 1}) << {j * width})"
            for j, b in enumerate(subset)
        )
        keys.append(
            F.struct(F.lit(ci).alias("b"), F.expr(parts).cast("long").alias("bv"))
        )
    blocks = fp.select(
        "_id",
        "simhash",
        F.explode(F.array(*keys)).alias("_blk"),
    ).select("_id", "simhash", F.col("_blk.b").alias("b"), F.col("_blk.bv").alias("bv"))
    a = blocks.select(F.col("_id").alias("doc_a"), F.col("simhash").alias("_fa"), "b", "bv")
    c = blocks.select(F.col("_id").alias("doc_b"), F.col("simhash").alias("_fb"), "b", "bv")
    cand = (
        a.join(c, ["b", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        # a d=0 pair matches on every subset key — one row per pair
        .distinct()
    )
    return cand


def simhash_dedup_groups(
    docs: DataFrame,
    max_distance: int = 1,
    n_bits: int = 32,
    n_blocks: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LINEAR-OUTPUT SimHash dedup: the group form of the same
    duplicate decision simhash_hamming_pairs makes, without the
    quadratic pair materialization.

    measure_shuffle.py showed the pair query's result itself grows
    quadratically on clique-heavy corpora (~930 docs sharing one
    fingerprint -> 432k pair rows at sf0.1): pair OUTPUT is inherently
    O(clique^2). This operator collapses each EXACT fingerprint to one
    representative first (groupBy simhash — one narrow shuffle, the
    whole clique mass disappears here), runs the banded Hamming join
    only BETWEEN distinct fingerprints, takes connected components of
    that representative graph, and broadcasts the fingerprint ->
    canonical map back onto docs. Every doc emits exactly one
    (doc_id, group_id) row; group_id = min doc id of the merged
    Hamming component. Within a pairwise Hamming-<=k ball, exact-dup
    collapse loses nothing: the component over representatives is the
    same as over docs because equal fingerprints are distance 0.

    At 100 TB: shuffle is fingerprints (16 B/doc), the pair join runs
    on |distinct fingerprints| <= min(n_docs, 2^n_bits) rows, and the
    final map-back is an equi-join on simhash — no stage is
    clique-quadratic.
    """
    from streaming_cdc_spark.operators.clustering import connected_components

    fp = simhash_fingerprints(docs, n_bits, id_col, text_col)
    reps = fp.groupBy("simhash").agg(F.min(id_col).alias("_rep")).persist()
    edges = hamming_ball_pairs(
        reps.select(F.col("_rep").alias("_id"), "simhash"),
        max_distance=max_distance,
        n_bits=n_bits,
        n_blocks=n_blocks,
    ).select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    cc = connected_components(reps.select(F.col("_rep").alias("v")), edges)
    rep_group = reps.join(cc, reps["_rep"] == cc["v"], "left").select(
        "simhash",
        F.coalesce(cc["cluster_id"], reps["_rep"]).alias("group_id"),
    )
    # localCheckpoint materializes the small (doc, group) result so the
    # reps cache can be dropped immediately (the minhash_dedup pattern);
    # unpersist in finally so a failed checkpoint can't leak the cache
    try:
        out = (
            fp.join(rep_group, "simhash")
            .select(F.col(id_col), "group_id")
            .localCheckpoint()
        )
    finally:
        reps.unpersist()
    return out


def edit_distance_pairs(
    docs: DataFrame,
    max_distance: int = 4,
    q: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Character-level fuzzy dedup: all pairs within Levenshtein
    distance ``max_distance`` over the FULL text, via Ed-Join prefix
    filtering (Xiao/Wang/Lin VLDB'08) — a dedup GRANULARITY the
    shingle/MinHash/SimHash family can't express (those measure set
    overlap; this bounds the exact number of character edits, the
    right notion for OCR noise, boilerplate version drift, or
    single-field typos).

    Candidate generation never compares all pairs:

    1. per doc, the DISTINCT character q-grams, hashed to 8-byte keys
       (md5_long — narrow shuffle, DuckDB-replayable);
    2. a global gram-frequency table (one groupBy — at scale this is
       |vocab|, far smaller than the gram rows);
    3. each doc keeps only its ``q*max_distance + 1`` globally RAREST
       grams (row_number over (freq, hash) — deterministic total
       order). One edit overwrites at most q distinct grams, so two
       docs within distance d share >= max(|G(a)|,|G(b)|) - q*d
       grams; by the prefix-filter theorem their rarest-(q*d+1)
       prefixes must intersect — candidates come from an EQUI-join on
       prefix gram hashes plus a |len(a)-len(b)| <= d band.
    4. COMPLETENESS FALLBACK: a pair where BOTH docs have <= q*d
       distinct grams can share zero grams at distance d (the bound
       goes nonpositive) — such low-diversity docs (short or highly
       repetitive) also emit one shared sentinel bucket, all-pairs
       within it, still length-banded. On real corpora this bucket is
       a tiny boilerplate fraction; cap or sub-band it if not.
    5. verify: banded ``levenshtein(a, b, threshold)`` (JVM built-in,
       O(d * len) with the threshold arg, -1 past it) on the
       candidate pairs only.

    PHYSICAL NOTE (optimization r9): the hashed-gram relation and the
    ranked prefix are each localCheckpointed. Without that, every
    downstream reference re-evaluates its whole subtree — the final
    plan held TWENTY parquet scans and SIXTEEN gram explodes (the
    distinct is a shuffle, so the scan+explode+md5+DISTINCT chain ran
    8x: freq and ranked each re-derive grams, pref/lowdiv each
    re-derive ranked, and the a/b self-join sides double everything
    again; plans/r09/edit_distance_pairs_{before,after}.txt). At any
    scale one materialization of the narrow (_id, _len, _gh) rows
    costs about the same bytes as ONE of those distinct shuffles and
    replaces seven more. Output: (doc_a, doc_b, edit_distance),
    doc_a < doc_b, exact and complete vs the brute-force nested loop
    (equivalence pinned by test, incl. the low-diversity fallback).
    """
    from pyspark.sql import Window

    from streaming_cdc_spark.session import fan_out

    d = max_distance
    prefix = q * d + 1
    base = fan_out(
        docs.select(
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_text"),
            F.length(text_col).alias("_len"),
        )
    )
    grams_arr = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length(_text) - {q - 1}, 1)), "
            f"i -> substring(_text, i, {q}))"
        )
    )
    # distinct on the HASH (not the string) so the per-doc gram count
    # and the (freq, hash) rank order are identical to the oracle's
    grams = (
        base.select("_id", "_len", F.explode(grams_arr).alias("_gram"))
        .select("_id", "_len", md5_long("_gram").alias("_gh"))
        .distinct()
        .localCheckpoint()
    )
    freq = grams.groupBy("_gh").agg(F.count("*").alias("_c"))
    w = Window.partitionBy("_id")
    # _ng (the doc's distinct-gram count) survives the rn<=prefix cut
    # because prefix > q*d, so the rn==1 row every doc owns is kept —
    # the lowdiv sentinel derives from the SAME checkpointed pass.
    ranked = (
        grams.join(freq, "_gh")
        .select(
            "_id",
            "_len",
            "_gh",
            F.row_number().over(w.orderBy("_c", "_gh")).alias("_rn"),
            F.count("*").over(w).alias("_ng"),
        )
        .filter(F.col("_rn") <= prefix)
        .localCheckpoint()
    )
    pref = ranked.select("_id", "_len", "_gh")
    lowdiv = (
        ranked.filter((F.col("_rn") == 1) & (F.col("_ng") <= q * d))
        .select("_id", "_len", F.lit(-1).cast("long").alias("_gh"))
    )
    keys = pref.unionByName(lowdiv)
    a = keys.select(F.col("_id").alias("doc_a"), F.col("_len").alias("_la"), "_gh")
    b = keys.select(F.col("_id").alias("doc_b"), F.col("_len").alias("_lb"), "_gh")
    cand = (
        a.join(b, "_gh")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= d)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = base.select(F.col("_id").alias("doc_a"), F.col("_text").alias("_ta"))
    tb = base.select(F.col("_id").alias("doc_b"), F.col("_text").alias("_tb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("edit_distance", F.levenshtein("_ta", "_tb", d).cast("long"))
        .filter(F.col("edit_distance") >= 0)
        .select("doc_a", "doc_b", "edit_distance")
    )


def resolve_near_dups_by_quality(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware near-dup resolution: for every verified pair drop
    the LOWER-quality member (ties -> the larger id), keep everything
    never dropped. Same greedy star rule as resolve_near_dups but the
    survivor is the best document, not the smallest id — what corpus
    pipelines actually want when near-dups differ in cleanliness.
    One join against the (small) pair set + one anti-join; no
    connected components."""
    q = docs.select(F.col(id_col), F.col(quality_col))
    qa = q.select(F.col(id_col).alias("doc_a"), F.col(quality_col).alias("_qa"))
    qb = q.select(F.col(id_col).alias("doc_b"), F.col(quality_col).alias("_qb"))
    scored = pairs.select("doc_a", "doc_b").join(qa, "doc_a").join(qb, "doc_b")
    losers = scored.select(
        F.when(
            (F.col("_qa") < F.col("_qb"))
            | ((F.col("_qa") == F.col("_qb")) & (F.col("doc_a") > F.col("doc_b"))),
            F.col("doc_a"),
        )
        .otherwise(F.col("doc_b"))
        .alias(id_col)
    ).distinct()
    return docs.join(losers, id_col, "left_anti")



def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    threshold: float,
    n: int = 2,
) -> DataFrame:
    """Cross-TABLE fuzzy join (record linkage): pair left rows with
    right rows whose key strings have character-n-gram Jaccard >=
    threshold. Candidates come from an inverted-index gram equi-join —
    the cross product never materializes — and the exact Jaccard is
    recomputed from shared-gram counts, so the pairs are identical to
    the brute-force nested loop's.

    Distinct keys are joined (values, not rows), so duplicate keys on
    either side cost one comparison. Output:
    (lk, rk, jaccard_r[6dp]) with lk/rk the matched key strings."""
    from streaming_cdc_spark.session import fan_out

    def gram_rows(df: DataFrame, key: str, out: str) -> DataFrame:
        base = fan_out(df.select(F.col(key).cast("string").alias(out)).distinct())
        arr = F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(length({out}) - {n - 1}, 1)), "
                f"i -> substring({out}, i, {n}))"
            )
        )
        return base.select(out, F.size(arr).alias(f"_n_{out}"), F.explode(arr).alias("_g"))

    lg = gram_rows(left, left_key, "lk")
    rg = gram_rows(right, right_key, "rk")
    shared = (
        lg.join(rg, "_g")
        .groupBy("lk", "rk")
        .agg(
            F.count("*").alias("_shared"),
            F.first("_n_lk").alias("_nl"),
            F.first("_n_rk").alias("_nr"),
        )
    )
    jac = F.col("_shared") / (F.col("_nl") + F.col("_nr") - F.col("_shared"))
    return (
        shared.withColumn("_j", jac)
        .filter(F.col("_j") >= threshold)
        .select("lk", "rk", F.round("_j", 6).alias("jaccard_r"))
    )


def span_dedup(
    docs: DataFrame,
    span_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style span-level corpus dedup: split every document into
    consecutive ``span_tokens``-token spans, and across the WHOLE
    corpus keep only the first occurrence of each exact span (first =
    smallest (doc, span index)); every later occurrence is removed.

    Physical plan: explode spans with their index, one groupBy
    (min_by) to elect each span's first occurrence, one equi-join
    back — shuffles keyed by span text, linear in corpus tokens, the
    same shape C4 ran over its web crawl.

    Output per doc: (id, n_spans, n_kept_spans, kept_tokens)."""
    from streaming_cdc_spark.session import fan_out

    base = fan_out(docs.select(F.col(id_col), tokens(text_col).alias("_t")))
    n_spans_expr = F.ceil(F.size("_t") / F.lit(span_tokens)).cast("int")
    spans = base.select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(_t) / {span_tokens}.0) AS INT) - 1), "
                f"s -> struct(s AS idx, "
                f"array_join(slice(_t, s * {span_tokens} + 1, {span_tokens}), ' ') AS seg, "
                f"size(slice(_t, s * {span_tokens} + 1, {span_tokens})) AS n_tok))"
            )
        ).alias("_s"),
    ).select(id_col, F.col("_s.idx").alias("idx"), F.col("_s.seg").alias("seg"), F.col("_s.n_tok").alias("n_tok"))
    first = spans.groupBy("seg").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("idx").alias("i"))).alias("_f")
    )
    joined = spans.join(first, "seg").withColumn(
        "_keep",
        (F.col(id_col) == F.col("_f.d")) & (F.col("idx") == F.col("_f.i")),
    )
    return joined.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).cast("long").alias("n_kept_spans"),
        F.sum(F.when(F.col("_keep"), F.col("n_tok")).otherwise(0)).cast("long").alias("kept_tokens"),
    )


def duplicate_gram_islands(
    docs: DataFrame,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplicate detection at SLIDING w-gram
    granularity (the relational form of Lee et al. 2022's ExactSubstr
    suffix-array pass): a token position is DUPLICATED if the w-gram
    starting there occurs at >= 2 (doc, position) sites corpus-wide;
    per document the duplicated intervals [p, p+w) are merged into
    maximal islands — the spans ExactSubstr would cut out.

    Unlike ``span_dedup`` (block-aligned C4 spans), the sliding window
    catches duplicates at ANY offset, and island merging recovers
    maximal repeated substrings down to w-token resolution without
    building a suffix array: two docs sharing an L-token passage
    produce L-w+1 duplicated positions each, which merge back into one
    island of exactly L covered tokens.

    Physical plan (linear in corpus tokens, no pair joins):
    posexplode of per-position hashed grams -> one partial-aggregated
    groupBy on the 8-byte gram hash electing grams with count > 1 ->
    semi-join back (multiplicity d per hot gram contributes d rows,
    never d^2) -> one groupBy(doc) where the island merge runs as a
    doc-local sorted-array fold (same shuffle-free run-length shape as
    ngram_repetition) — 2 shuffles total, both on narrow keys.

    Output per doc with >= 1 duplicated position: (doc_id, n_tokens,
    n_dup_pos, n_islands, dup_tokens) — all integers, so the DuckDB
    oracle replays it exactly.
    """
    from streaming_cdc_spark.session import fan_out

    base = (
        fan_out(docs.select(F.col(id_col), tokens(text_col).alias("_t")))
        .withColumn("_n", F.size("_t"))
        .filter(F.col("_n") >= w)
    )
    # hash INSIDE the array so the generator output is already the
    # narrow 8-byte key (same injectivity argument as exploded_shingles)
    occ = base.select(
        id_col,
        F.col("_n").cast("long").alias("n_tokens"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("_n") - w),
                lambda p: md5_long(F.concat_ws(" ", F.slice("_t", p + 1, F.lit(w)))),
            )
        ).alias("pos", "gram"),
    )
    dup_grams = (
        occ.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("gram")
    )
    dup = occ.join(dup_grams, "gram", "left_semi")
    per_doc = dup.groupBy(id_col).agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_dup_pos"),
        F.sort_array(F.collect_list(F.col("pos").cast("long"))).alias("_ps"),
    )
    # island merge as a pure expression fold over the sorted positions:
    # start a new island when p lands past the running end (positions
    # are distinct and ascending, so within an island each step extends
    # coverage by exactly p + w - end)
    zero = F.struct(
        F.lit(0).cast("long").alias("isl"),
        F.lit(0).cast("long").alias("cov"),
        F.lit(-1).cast("long").alias("end"),
    )
    folded = F.aggregate(
        "_ps",
        zero,
        lambda a, p: F.struct(
            (a["isl"] + F.when(p > a["end"], F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("isl"),
            (
                a["cov"]
                + F.when(p > a["end"], F.lit(w)).otherwise(p + F.lit(w) - a["end"])
            )
            .cast("long")
            .alias("cov"),
            (p + F.lit(w)).cast("long").alias("end"),
        ),
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("n_dup_pos"),
        folded["isl"].alias("n_islands"),
        folded["cov"].alias("dup_tokens"),
    )


def minhash_dedup(
    docs: DataFrame,
    num_hashes: int = 4,
    rows_per_band: int = 1,
    jaccard_threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int | None = 500,
) -> DataFrame:
    """The full production MinHash dedup chain as ONE operator:
    banded-LSH candidates -> exact-Jaccard verify ON CANDIDATES ONLY
    -> connected components -> min-id canonical per duplicate group.
    Returns (id_col, cluster_id); cluster_id is the canonical doc.

    This is the scale shape (Lee et al. 2022 / RefinedWeb dedup):
    every stage is an equi-join or bounded-pair verify — the exact
    verify touches only pairs sharing a band bucket (recall traded at
    the LSH step and ONLY there), so the n^2 comparison never runs.
    """
    from streaming_cdc_spark.operators.clustering import connected_components
    from streaming_cdc_spark.session import fan_out

    # ONE corpus scan: the shingle arrays feed both the signatures
    # (banding) and the exact verify — persisted so neither side
    # re-derives them
    shset = (
        fan_out(docs.select(F.col(id_col), tokens(text_col).alias("_t")))
        .select(F.col(id_col), F.array_distinct(word_shingles(F.col("_t"))).alias("_sh"))
        .persist()
    )

    sig = shset.select(id_col, *minhash_columns(F.col("_sh"), num_hashes, "h"))
    cand = _band_join(sig, num_hashes, rows_per_band, id_col, bucket_cap)
    # the verify join ships each candidate's full shingle SET — hash
    # strings to 60-bit longs first so the shuffled arrays are 8 B per
    # element instead of ~15-byte strings (intersection/union sizes
    # unchanged; injectivity analysis in exploded_shingles)
    shh = F.transform(F.col("_sh"), lambda g: md5_long(g))
    a = shset.select(F.col(id_col).alias("doc_a"), shh.alias("_sha"))
    b = shset.select(F.col(id_col).alias("doc_b"), shh.alias("_shb"))
    joined = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("_i", F.size(F.array_intersect("_sha", "_shb")).cast("double"))
    )
    jac = F.col("_i") / (
        F.size("_sha").cast("double") + F.size("_shb").cast("double") - F.col("_i")
    )
    verified = joined.filter(jac >= F.lit(jaccard_threshold)).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    return connected_components(docs.select(id_col), verified, id_col=id_col)


def incremental_minhash_dedup(
    old_docs: DataFrame,
    new_docs: DataFrame,
    num_hashes: int = 4,
    rows_per_band: int = 1,
    jaccard_threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int = 500,
) -> DataFrame:
    """Incremental MinHash dedup: compare a NEW batch against the
    existing corpus AND itself, never corpus-vs-corpus — the shape an
    incremental crawl runs daily (the corpus side is petabytes and
    already deduped; re-verifying it would dominate the job).

    Output one row per new doc: (id_col, status) with status
    'dup_of_corpus' (verified near-dup of an existing doc — wins over
    any batch match), 'dup_in_batch' (near-dup of a SMALLER-id new
    doc — keep-first within the batch), else 'fresh'.

    Every stage is the bucketed shape of minhash_dedup: band buckets
    equi-join new-side buckets against both sides, so candidate
    volume scales with bucket collisions, not |corpus| x |batch|;
    the exact verify touches candidates only. At 100 TB the corpus
    side's signatures/shingle sets would be precomputed and stored —
    here they derive from one tagged scan."""
    from streaming_cdc_spark.session import fan_out

    tagged = old_docs.select(
        F.col(id_col), F.col(text_col), F.lit("old").alias("_side")
    ).unionByName(
        new_docs.select(F.col(id_col), F.col(text_col), F.lit("new").alias("_side"))
    )
    shset = (
        fan_out(tagged.select(id_col, "_side", tokens(text_col).alias("_t")))
        .select(
            F.col(id_col),
            "_side",
            F.array_distinct(word_shingles(F.col("_t"))).alias("_sh"),
        )
        .persist()
    )

    sig = shset.select(id_col, "_side", *minhash_columns(F.col("_sh"), num_hashes, "h"))
    band_keys = _band_keys(num_hashes, rows_per_band)
    buckets = sig.select(
        F.col(id_col), "_side", F.explode(F.array(*band_keys)).alias("bucket")
    )
    # hot-bucket guard (shared with _band_join): cap over BOTH sides
    buckets = _cap_buckets(buckets, bucket_cap)
    probe = buckets.filter(F.col("_side") == "new").select(
        F.col(id_col).alias("_nid"), "bucket"
    )
    build = buckets.select(
        F.col(id_col).alias("_pid"), F.col("_side").alias("_pside"), "bucket"
    )
    cand = (
        probe.join(build, "bucket")
        .filter(
            (F.col("_pside") == "old")
            | ((F.col("_pside") == "new") & (F.col("_pid") < F.col("_nid")))
        )
        .select("_nid", "_pid", "_pside")
        .distinct()
    )
    # hashed long shingle arrays through the verify shuffle (same
    # narrowing as minhash_dedup; injectivity in exploded_shingles)
    shh = F.transform(F.col("_sh"), lambda g: md5_long(g))
    a = shset.select(F.col(id_col).alias("_nid"), shh.alias("_sha"))
    b = shset.select(F.col(id_col).alias("_pid"), shh.alias("_shb"))
    joined = (
        cand.join(a, "_nid")
        .join(b, "_pid")
        .withColumn("_i", F.size(F.array_intersect("_sha", "_shb")).cast("double"))
    )
    jac = F.col("_i") / (
        F.size("_sha").cast("double") + F.size("_shb").cast("double") - F.col("_i")
    )
    verified = joined.filter(jac >= F.lit(jaccard_threshold)).select(
        "_nid", (F.col("_pside") == "old").cast("int").alias("_hit_old")
    )
    hits = verified.groupBy("_nid").agg(F.max("_hit_old").alias("_best"))
    out = (
        new_docs.select(F.col(id_col))
        .join(hits.withColumnRenamed("_nid", id_col), id_col, "left")
        .select(
            id_col,
            F.when(F.col("_best") == 1, "dup_of_corpus")
            .when(F.col("_best") == 0, "dup_in_batch")
            .otherwise("fresh")
            .alias("status"),
        )
        .localCheckpoint()
    )
    shset.unpersist()
    return out


# --- Bloom-prefiltered incremental matching ------------------------------


def md5_bloom_build(
    df: DataFrame, key_col: str, n_bits: int = 1 << 14, n_hashes: int = 3
) -> list[int]:
    """Distributed Bloom-filter build over a key column: each key sets
    ``n_hashes`` bit positions (md5_long with per-hash salts — the
    cross-engine-replayable hash family), positions fold into 64-bit
    words with one bit_or groupBy. The collected bitmap is
    ``n_bits/64`` longs — bounded by the FILTER size, never the
    corpus: at 100 TB you'd size n_bits to the corpus key cardinality
    (~10 bits/key for ~1% FPR) and collect megabytes, not terabytes.
    Deterministic: same keys -> same bitmap under any plan."""
    pos = F.array(
        *[md5_long(key_col, salt=f"bloom{i}") % n_bits for i in range(n_hashes)]
    )
    words = (
        df.select(F.explode(pos).alias("_p"))
        .select(
            F.expr("_p div 64").cast("long").alias("_w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT))").alias("_b"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_b").alias("_bits"))
        .collect()
    )
    # ceil division: positions span [0, n_bits), so the last (possibly
    # partial) word must exist for any n_bits, not just multiples of 64
    bitmap = [0] * ((n_bits + 63) // 64)
    for r in words:
        bitmap[int(r["_w"])] = int(r["_bits"])
    return bitmap


def md5_bloom_probe(
    key_col: str, bitmap: list[int], n_bits: int, n_hashes: int = 3
) -> Column:
    """Membership test against a built bitmap as one pure Column
    expression: the bitmap rides along as a SINGLE array literal
    (F.lit(list) -> one Literal node, not a per-row CreateArray);
    each hash is element_at + dynamic shift + mask (call_function
    binds shiftright to a COLUMN bit count). No false negatives
    ever; false positives at the configured rate."""
    lit_map = F.lit([int(w) for w in bitmap])
    cond = None
    for i in range(n_hashes):
        p = md5_long(key_col, salt=f"bloom{i}") % n_bits
        word = F.element_at(lit_map, F.floor(p / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftright", word, (p % 64).cast("int")
        ).bitwiseAND(F.lit(1).cast("long")) == 1
        cond = bit if cond is None else (cond & bit)
    return cond


def bloom_prefilter_matches(
    corpus: DataFrame,
    batch: DataFrame,
    key: Column,
    id_col: str = "doc_id",
    n_bits: int = 1 << 14,
    n_hashes: int = 3,
) -> DataFrame:
    """Incremental batch-vs-corpus EXACT key matching with a Bloom
    pre-filter — the runtime-filter pattern (what AQE's
    InjectRuntimeFilter does for joins) made explicit for the daily
    crawl-dedup shape: the corpus side never re-shuffles; it is
    summarized ONCE into an n_bits bitmap, the batch is pruned by a
    pure scan-fused probe expression, and only the surviving sliver
    (true matches + the configured false-positive rate) pays the
    exact verify semi-join. Results are EXACT — Bloom filters have no
    false negatives, and the verify join removes false positives — so
    the oracle is a plain semi-join. Output: one row per batch doc
    whose key exists in the corpus: (id_col, dup_key).

    The distinct corpus key set is localCheckpoint'd so the bitmap
    build and the verify join share ONE computation of it; in the
    real daily job both the key set and the bitmap would be
    precomputed artifacts of the previous run."""
    ck = corpus.select(key.alias("dup_key")).distinct().localCheckpoint()
    bitmap = md5_bloom_build(ck, "dup_key", n_bits, n_hashes)
    survivors = batch.select(F.col(id_col), key.alias("dup_key")).filter(
        md5_bloom_probe("dup_key", bitmap, n_bits, n_hashes)
    )
    return survivors.join(ck, "dup_key", "left_semi").select(id_col, "dup_key")


def ppjoin_candidates(
    sh: DataFrame,
    sizes: DataFrame,
    t_num: int,
    t_den: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """PPJoin candidate generation: each set's prefix — the
    (|x| - ceil(t·|x|) + 1) RAREST shingles under the global
    (df, shingle) total order — self-joined on the shingle. Split out
    of ppjoin_pairs so the skew guarantee is testable in isolation: a
    hot shingle shared by a whole clique has maximal df, sorts LAST,
    and therefore falls outside every prefix — the clique generates
    ZERO candidates through it (tests/test_dedup.py pins this with a
    planted 100-doc hot shingle)."""
    from pyspark.sql import Window as W

    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    ranked = sh.join(dfreq, "shingle").withColumn(
        "_rn",
        F.row_number().over(W.partitionBy(id_col).orderBy("_df", "shingle")),
    )
    prefix = (
        ranked.join(sizes, id_col)
        .filter(
            F.col("_rn")
            <= F.col("_sz") - F.expr(f"({t_num} * _sz + {t_den} - 1) div {t_den}") + 1
        )
        .select(id_col, "shingle")
    )
    pa = prefix.select(F.col(id_col).alias("doc_a"), "shingle")
    pb = prefix.select(F.col(id_col).alias("doc_b"), "shingle")
    return (
        pa.join(pb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ppjoin_pairs(
    docs: DataFrame,
    t_num: int,
    t_den: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT set-similarity self-join at Jaccard >= t_num/t_den via
    the PPJoin prefix filter (Xiao et al., WWW'08 — public classic):
    unlike MinHash+LSH this has NO recall loss, and unlike the plain
    inverted-index join (ngram_jaccard_pairs) it indexes only each
    set's PREFIX — the (|x| - ceil(t·|x|) + 1) rarest shingles under
    a global (df, shingle) total order. Theorem: two sets with
    J >= t must share at least one prefix token, so joining prefixes
    generates every qualifying pair; stopword-ish high-df shingles
    (the d² join-key blowup at web scale) land OUTSIDE prefixes
    exactly because they are frequent.

    All comparisons are integer (threshold as a fraction):
    J(x,y) >= n/d  <=>  (d+n)·|x∩y| >= n·(|x|+|y|). Verification
    joins the candidate pairs (deduped) back to per-doc shingle-set
    ARRAYS and intersects JVM-side (array_intersect) — per-candidate
    cost, never a second index pass. Output: (doc_a, doc_b, overlap,
    size_a, size_b), all BIGINT."""
    sh = exploded_shingles(docs, id_col, text_col, hashed=True).localCheckpoint()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz"))
    # checkpoint the candidate set before the verify joins: Catalyst's
    # static estimate for a self-join + distinct is "huge", so the
    # fused plan sort-merge-joins the (tiny, prefix-filtered)
    # candidates against the full per-doc set table; materializing
    # hands AQE the TRUE candidate size, letting it broadcast the
    # candidate side of both verify joins (r7: 58.5s -> 50.4s at 400k
    # docs, and the gap widens with corpus size since the misplanned
    # side is the n-sized one)
    cand = ppjoin_candidates(sh, sizes, t_num, t_den, id_col=id_col).localCheckpoint()
    sets = sh.groupBy(id_col).agg(F.collect_set("shingle").alias("_toks"))
    sa = sets.select(
        F.col(id_col).alias("doc_a"),
        F.col("_toks").alias("_ta"),
        F.size("_toks").cast("long").alias("size_a"),
    )
    sb = sets.select(
        F.col(id_col).alias("doc_b"),
        F.col("_toks").alias("_tb"),
        F.size("_toks").cast("long").alias("size_b"),
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        # length filter first (cheap): t*|x| <= |y| for both sides
        .filter(
            (F.col("size_b") * t_den >= F.col("size_a") * t_num)
            & (F.col("size_a") * t_den >= F.col("size_b") * t_num)
        )
        .withColumn(
            "overlap", F.size(F.array_intersect("_ta", "_tb")).cast("long")
        )
        .filter(
            F.col("overlap") * (t_den + t_num)
            >= t_num * (F.col("size_a") + F.col("size_b"))
        )
    )
    return verified.select("doc_a", "doc_b", "overlap", "size_a", "size_b")
