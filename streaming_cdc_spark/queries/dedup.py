"""Deduplication queries over the `documents` table — the
training-data pipeline extensions, each with a DuckDB oracle.
Thresholds calibrated on sf0.01 so every query returns rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_cdc_spark.operators import dedup as D
from streaming_cdc_spark.queries.registry import query
from streaming_cdc_spark.session import drain_stream, id_range_splits, replay_stream
from streaming_cdc_spark.tables import load

# Shared oracle fragments ------------------------------------------------

_SHINGLES = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
           FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i))
"""


def _md5i(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


@query(
    "exact_dedup_prefix",
    oracle="""
    SELECT array_to_string(string_split(text, ' ')[1:5], ' ') AS dup_key,
           COUNT(*) AS n_dups, MIN(doc_id) AS canonical_doc_id
    FROM documents
    GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def exact_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a normalized key (first five words): one
    hash-shuffle regardless of corpus size."""
    docs = load(spark, sf_dir, "documents")
    key = F.array_join(F.slice(F.split("text", " "), 1, 5), " ")
    return D.exact_dedup_groups(docs, key)


@query(
    "minhash_band_candidates",
    oracle=f"""
    WITH {_SHINGLES},
    mh AS (SELECT doc_id,
                  MIN({_md5i("concat('0|', shingle)")}) AS h0,
                  MIN({_md5i("concat('1|', shingle)")}) AS h1,
                  MIN({_md5i("concat('2|', shingle)")}) AS h2,
                  MIN({_md5i("concat('3|', shingle)")}) AS h3
           FROM sh GROUP BY doc_id),
    b AS (SELECT doc_id, UNNEST([concat('0_', h0), concat('1_', h1),
                                 concat('2_', h2), concat('3_', h3)]) AS bucket
          FROM mh)
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, COUNT(*) AS n_shared_bands
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.doc_id < c.doc_id
    GROUP BY 1, 2
    """,
)
def minhash_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle -> 4 salted min-hashes
    -> band buckets -> bucket EQUI-join (shuffles on band values; the
    all-pairs comparison never happens)."""
    docs = load(spark, sf_dir, "documents")
    return D.minhash_band_candidates(docs, num_hashes=4, rows_per_band=1)


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLES},
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
               FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_shared,
           ROUND(n_shared / (x.n_sh + y.n_sh - n_shared), 6) AS jaccard_r
    FROM shared JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    WHERE n_shared / (x.n_sh + y.n_sh - n_shared) >= 0.05
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard >= 0.05 with inverted-index candidate
    generation (shingle equi-join)."""
    docs = load(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, threshold=0.05)


@query(
    "minhash_recall_calibration",
    oracle=f"""
    WITH {_SHINGLES},
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
               FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    truth AS (SELECT doc_a, doc_b, n_shared,
                     (x.n_sh + y.n_sh - n_shared) AS u
              FROM shared JOIN sz x ON doc_a = x.doc_id
                          JOIN sz y ON doc_b = y.doc_id
              WHERE 20 * n_shared >= (x.n_sh + y.n_sh - n_shared)),
    mh AS (SELECT doc_id,
                  MIN({_md5i("concat('0|', shingle)")}) AS h0,
                  MIN({_md5i("concat('1|', shingle)")}) AS h1,
                  MIN({_md5i("concat('2|', shingle)")}) AS h2,
                  MIN({_md5i("concat('3|', shingle)")}) AS h3
           FROM sh GROUP BY doc_id),
    bk AS (SELECT doc_id, UNNEST([concat('0_', h0), concat('1_', h1),
                                  concat('2_', h2), concat('3_', h3)]) AS bucket
           FROM mh),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b, 1 AS hit
             FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.doc_id < c.doc_id)
    SELECT (10 * t.n_shared) // t.u AS jaccard_decile,
           COUNT(*) AS n_true,
           CAST(SUM(COALESCE(cand.hit, 0)) AS BIGINT) AS n_recalled,
           ROUND(CAST(SUM(COALESCE(cand.hit, 0)) AS DOUBLE) / COUNT(*), 6)
               AS recall_r
    FROM truth t
    LEFT JOIN cand ON cand.doc_a = t.doc_a AND cand.doc_b = t.doc_b
    GROUP BY 1
    """,
)
def minhash_recall_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality MEASUREMENT as a gated query ("measure,
    don't guess"): ground-truth near-dup pairs (exact word-3-gram
    Jaccard >= 0.05 via the inverted-index join) bucketed by Jaccard
    decile, each bucket reporting what fraction the banded-MinHash
    candidate generator (4 hashes, 1 row/band — the high-recall
    config every dedup chain here uses) actually recovers. This is
    the S-curve LSH theory predicts, computed on the corpus itself —
    the number a 100 TB dedup run needs before trusting its candidate
    stage. Every comparison is INTEGER arithmetic (20*n_shared >= u
    for the 0.05 threshold, (10*n_shared) // u for the decile), so
    there is no float-boundary hazard anywhere in the chain."""
    docs = load(spark, sf_dir, "documents")
    sizes, shared = D.shared_shingle_counts(docs)
    truth = (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .withColumn("u", F.col("na") + F.col("nb") - F.col("n_shared"))
        .filter(20 * F.col("n_shared") >= F.col("u"))
    )
    cand = (
        D.minhash_band_candidates(docs, num_hashes=4, rows_per_band=1)
        .select("doc_a", "doc_b")
        .withColumn("hit", F.lit(1))
    )
    j = truth.join(cand, ["doc_a", "doc_b"], "left")
    return j.groupBy(
        F.expr("(10 * n_shared) div u").alias("jaccard_decile")
    ).agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_recalled"),
        F.round(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("recall_r"),
    )


@query(
    "ngram_repetition_stats",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (SELECT doc_id, concat_ws(' ', t[i], t[i+1]) AS ngram
          FROM toks, UNNEST(range(1, greatest(len(t), 2))) AS u(i)),
    per AS (SELECT doc_id, ngram, COUNT(*) AS c FROM g GROUP BY 1, 2)
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ngrams,
           COUNT(*) AS n_distinct_ngrams, MAX(c) AS top_ngram_count,
           ROUND(1.0 - (COUNT(*)::DOUBLE / SUM(c)::DOUBLE), 6) AS dup_ngram_frac
    FROM per GROUP BY doc_id
    """,
)
def ngram_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-bigram repetition signal per document (the
    Gopher-style quality rule): total/distinct bigram counts, the
    most-repeated bigram's count, and the duplicate fraction."""
    from streaming_cdc_spark.operators.text import ngram_repetition

    docs = load(spark, sf_dir, "documents")
    return ngram_repetition(docs, n=2)


@query(
    "near_dup_resolution",
    oracle=f"""
    WITH {_SHINGLES},
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
               FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    drops AS (SELECT DISTINCT doc_b
              FROM shared JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
              WHERE n_shared / (x.n_sh + y.n_sh - n_shared) >= 0.2)
    SELECT d.doc_id, d.n_chars FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_b FROM drops)
    """,
)
def near_dup_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup resolution: n-gram-Jaccard verified pairs at
    0.2 -> greedy min-id keep rule (drop any doc near-dupping a
    smaller id) -> surviving documents. The candidates->verify->
    resolve chain a production dedup pipeline runs."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.2)
    kept = D.resolve_near_dups(docs, pairs)
    return kept.select("doc_id", "n_chars")


@query(
    "containment_pairs",
    oracle=f"""
    WITH {_SHINGLES},
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
               FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    dirpairs AS (
        SELECT doc_a AS src, doc_b AS dst, n_shared, x.n_sh AS n_src
        FROM shared JOIN sz x ON doc_a = x.doc_id
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst, n_shared, y.n_sh AS n_src
        FROM shared JOIN sz y ON doc_b = y.doc_id
    )
    SELECT src, dst, ROUND(n_shared::DOUBLE / n_src, 6) AS containment_r
    FROM dirpairs WHERE n_shared::DOUBLE / n_src >= 0.3
    """,
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle containment |src ∩ dst| / |src| —
    catches a short document quoted inside a longer one, which
    symmetric Jaccard misses (the union washes it out). Directed
    pairs at containment >= 0.3, derived from the SAME undirected
    inverted-index join as Jaccard (both directions emitted from one
    shared-count relation — the join doesn't run twice)."""
    docs = load(spark, sf_dir, "documents")
    sizes, shared = D.shared_shingle_counts(docs)
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    withsz = shared.join(sz_a, "doc_a").join(sz_b, "doc_b")
    fwd = withsz.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"),
        (F.col("n_shared") / F.col("na")).alias("c"),
    )
    rev = withsz.select(
        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"),
        (F.col("n_shared") / F.col("nb")).alias("c"),
    )
    return (
        fwd.unionByName(rev)
        .filter(F.col("c") >= 0.3)
        .select("src", "dst", F.round("c", 6).alias("containment_r"))
    )


@query(
    "weighted_minhash_candidates",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    shn AS (SELECT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
            FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
    w AS (SELECT doc_id, shingle, least(COUNT(*), 3) AS w FROM shn GROUP BY 1, 2),
    reps AS (SELECT doc_id, concat(shingle, '#', CAST(r + 1 AS VARCHAR)) AS k
             FROM w, UNNEST(range(w)) AS u(r)),
    mh AS (SELECT doc_id,
                  MIN({_md5i("concat('0|', k)")}) AS h0,
                  MIN({_md5i("concat('1|', k)")}) AS h1,
                  MIN({_md5i("concat('2|', k)")}) AS h2,
                  MIN({_md5i("concat('3|', k)")}) AS h3
           FROM reps GROUP BY doc_id),
    b AS (SELECT doc_id, UNNEST([concat('0_', h0), concat('1_', h1),
                                 concat('2_', h2), concat('3_', h3)]) AS bucket
          FROM mh)
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, COUNT(*) AS n_shared_bands
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.doc_id < c.doc_id
    GROUP BY 1, 2
    """,
)
def weighted_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-MinHash LSH candidates: shingle multiset (counts
    capped at 3) -> integer-weight replica expansion -> 4 salted
    min-hashes -> band bucket equi-join. Catches repetitive near-dups
    that set-MinHash underweights."""
    docs = load(spark, sf_dir, "documents")
    return D.weighted_minhash_band_candidates(
        docs, num_hashes=4, rows_per_band=1, weight_cap=3
    )


@query(
    "benchmark_contamination",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
           FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM tr GROUP BY doc_id),
    hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM tr
             WHERE shingle IN (SELECT shingle FROM bench) GROUP BY doc_id)
    SELECT sz.doc_id, sz.n_sh, COALESCE(hits.n_hit, 0) AS n_hit,
           ROUND(COALESCE(hits.n_hit, 0)::DOUBLE / sz.n_sh, 6) AS contaminated_frac
    FROM sz LEFT JOIN hits ON sz.doc_id = hits.doc_id
    """,
)
def benchmark_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: per training doc, the fraction of its
    distinct 3-gram shingles appearing anywhere in the benchmark split
    (docs with doc_id % 97 == 0 stand in for the eval corpus). The
    benchmark shingle set is broadcast; the training side streams
    through one semi-join probe."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return D.benchmark_contamination(train, bench)


@query(
    "doc_embedding_near_dups",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               list_concat(list_filter(string_split(text, ' ')[1:4], x -> x <> ''),
                           list_filter(string_split(text, ' ')[5:64], x -> x <> '')) AS toks
        FROM documents),
    tok AS (SELECT doc_id, u.t FROM m, UNNEST(toks) AS u(t)),
    comp AS (
        SELECT doc_id, j.j,
               AVG(CAST(concat('0x', substr(md5(concat(t, '|', CAST(j.j AS VARCHAR))), 1, 15)) AS BIGINT)
                   / 576460752303423488.0 - 1.0) AS c
        FROM tok, (SELECT UNNEST(range(0, 48)) AS j) j
        GROUP BY 1, 2),
    vec AS (
        SELECT doc_id, list(c ORDER BY j) AS v, SQRT(SUM(c * c)) AS nrm
        FROM comp GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim_r
    FROM vec a JOIN vec b ON a.doc_id < b.doc_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) > 0.9
    """,
)
def doc_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection on raw documents:
    feature-hashing encoder -> cosine self-join at 0.9 via the
    auto-strategy kernel (broadcast matmul small-n, exact triangle
    blocking at scale) — the semantic-dedup path (encoder swaps for a
    real model; minhash/LSH remain the recall-traded alternatives).
    With context_budget=30 and a 60-token right context, recentring
    keeps every token, so the oracle replays the encoder directly
    (mention + context token mean, md5-chain components); the oracle's
    brute-force pairwise cosine checks the kernel's candidate set is
    the full >0.9 ball."""
    from streaming_cdc_spark.operators.encoder import hash_encode_mentions
    from streaming_cdc_spark.operators.similarity import cosine_self_edges

    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    mentions = docs.select(
        F.col("doc_id").alias("mention_index"),
        F.array_join(F.slice(toks, 1, 4), " ").alias("mention"),
        F.lit("").alias("left_context"),
        F.array_join(F.slice(toks, 5, 60), " ").alias("right_context"),
    )
    # persist: collect side + probe side would otherwise each re-run
    # the encoder stage
    emb = hash_encode_mentions(mentions, dim=48, context_budget=30).persist()
    edges = cosine_self_edges(emb, 0.9, id_col="mention_index", vec_col="embedding")
    return edges.select(
        F.col("u").alias("doc_a"),
        F.col("v").alias("doc_b"),
        F.round("sim", 6).alias("sim_r"),
    )


@query(
    "simhash_fingerprints",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    w AS (SELECT DISTINCT doc_id, u.word FROM toks, UNNEST(t) AS u(word)),
    bits AS (SELECT doc_id, b.i,
                    SUM(CASE WHEN ({_md5i('word')} >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
             FROM w, (SELECT UNNEST(range(0, 32)) AS i) b
             GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (word-hash bit voting)."""
    docs = load(spark, sf_dir, "documents")
    return D.simhash_fingerprints(docs, n_bits=32)


_SIMHASH_FP = f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    w AS (SELECT DISTINCT doc_id, u.word FROM toks, UNNEST(t) AS u(word)),
    bits AS (SELECT doc_id, b.i,
                    SUM(CASE WHEN ({_md5i('word')} >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
             FROM w, (SELECT UNNEST(range(0, 32)) AS i) b
             GROUP BY 1, 2),
    fp AS (SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id)
"""


@query(
    "simhash_hamming_pairs",
    oracle=f"""
    WITH {_SIMHASH_FP}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
    """,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dup join (Manku et al. WWW'07):
    pigeonhole bit-block equi-join candidates + exact XOR popcount
    verify, distance <= 1 over 32-bit fingerprints. n_blocks=4 joins
    on four 24-bit 3-block-subset keys instead of two 16-bit single
    blocks: measure_shuffle flagged the 16-bit keys' random-collision
    candidates as SUPERLINEAR (alpha 1.44 between sf0.01 and sf0.1);
    the wider keys collide 256x less and restore alpha ~1 (SHUFFLE.md).
    The oracle replays it as the brute-force pairwise distance — same
    pairs, because the banded candidate set is complete for the ball
    at ANY n_blocks > max_distance."""
    docs = load(spark, sf_dir, "documents")
    return D.simhash_hamming_pairs(docs, max_distance=1, n_bits=32, n_blocks=4)


@query(
    "edit_distance_pairs",
    oracle=f"""
    WITH base AS (SELECT doc_id, text, length(text) AS len FROM documents),
    g AS (
      SELECT DISTINCT doc_id, len,
             {_md5i("substr(text, x.i, 12)")} AS gh
      FROM base, LATERAL (
        SELECT unnest(generate_series(1, greatest(len - 11, 1))) AS i) x
    ),
    freq AS (SELECT gh, COUNT(*) AS c FROM g GROUP BY gh),
    ranked AS (
      SELECT g.doc_id, g.len, g.gh,
             row_number() OVER (PARTITION BY g.doc_id ORDER BY f.c, g.gh) AS rn,
             COUNT(*) OVER (PARTITION BY g.doc_id) AS ng
      FROM g JOIN freq f USING (gh)
    ),
    keys AS (
      SELECT doc_id, len, gh FROM ranked WHERE rn <= 49
      UNION ALL
      SELECT doc_id, len, CAST(-1 AS BIGINT) FROM ranked WHERE rn = 1 AND ng <= 48
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM keys a JOIN keys b ON a.gh = b.gh AND a.doc_id < b.doc_id
      WHERE abs(a.len - b.len) <= 4
    )
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_distance
    FROM cand c
    JOIN base ta ON ta.doc_id = c.doc_a
    JOIN base tb ON tb.doc_id = c.doc_b
    WHERE levenshtein(ta.text, tb.text) <= 4
    """,
)
def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level fuzzy dedup: every pair within Levenshtein
    distance 4 over the FULL text, via Ed-Join prefix filtering —
    rarest-(q*d+1) hashed q-gram equi-join candidates (q=12) + length
    band + banded levenshtein verify, never an all-pairs comparison.
    Docs with <= q*d distinct grams (the prefix-filter bound goes
    nonpositive there) fall back to one shared sentinel bucket, which
    sf0.01 exercises (7 low-diversity docs). The oracle replays the
    ENTIRE algorithm — gram hashing, frequency ranking, prefix cut,
    sentinel fallback, candidate join, verify — and brute-force
    equivalence is pinned by test_dedup.py."""
    docs = load(spark, sf_dir, "documents")
    return D.edit_distance_pairs(docs, max_distance=4, q=12)


@query(
    "simhash_dedup_groups",
    oracle=f"""
    WITH RECURSIVE {_SIMHASH_FP},
    g AS (SELECT simhash, MIN(doc_id) AS rep FROM fp GROUP BY simhash),
    e AS (SELECT a.rep AS u, b.rep AS v FROM g a JOIN g b ON a.rep <> b.rep
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 1),
    reach(v, l) AS (
        SELECT rep, rep FROM g
        UNION
        SELECT e.v, r.l FROM reach r JOIN e ON e.u = r.v
    ),
    assign AS (SELECT v AS rep, MIN(l) AS group_id FROM reach GROUP BY v)
    SELECT f.doc_id, a.group_id
    FROM fp f JOIN g ON f.simhash = g.simhash JOIN assign a ON g.rep = a.rep
    """,
)
def simhash_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LINEAR-OUTPUT form of the SimHash duplicate decision: one
    (doc_id, group_id) row per document, group_id = min doc id of the
    Hamming-<=1 component. Exact-fingerprint groups collapse to a
    single representative BEFORE the banded pair join (the planted
    duplicate cliques — ~930 docs on one fingerprint at sf0.1, 432k
    pair rows in simhash_hamming_pairs — disappear into one groupBy),
    so no stage is clique-quadratic: SHUFFLE.md measures this query
    linear where the pair query is output-bound superlinear. Oracle:
    DuckDB replays fingerprints, reps, the rep-level Hamming edges and
    the recursive-CTE closure."""
    docs = load(spark, sf_dir, "documents")
    return D.simhash_dedup_groups(docs, max_distance=1, n_bits=32, n_blocks=4)


@query(
    "quality_near_dup_resolution",
    oracle=f"""
    WITH {_SHINGLES},
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
               FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    p AS (SELECT doc_a, doc_b
          FROM shared JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
          WHERE n_shared / (x.n_sh + y.n_sh - n_shared) >= 0.2),
    losers AS (SELECT DISTINCT
                      CASE WHEN qa.n_chars < qb.n_chars
                                OR (qa.n_chars = qb.n_chars AND doc_a > doc_b)
                           THEN doc_a ELSE doc_b END AS doc_id
               FROM p JOIN documents qa ON doc_a = qa.doc_id
                      JOIN documents qb ON doc_b = qb.doc_id)
    SELECT d.doc_id, d.n_chars FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
    """,
)
def quality_near_dup_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup resolution: same verified Jaccard>=0.2
    pairs as near_dup_resolution, but each pair drops its LOWER-
    quality member (n_chars as the quality signal; ties drop the
    larger id) — the survivor is the best document, not the smallest
    id."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.2)
    return D.resolve_near_dups_by_quality(docs, pairs, "n_chars").select("doc_id", "n_chars")


_EP2_VEC = """
    m AS (
        SELECT doc_id,
               list_concat(list_filter(string_split(text, ' ')[1:4], x -> x <> ''),
                           list_filter(string_split(text, ' ')[5:64], x -> x <> '')) AS toks
        FROM documents),
    tok AS (SELECT doc_id, u.t FROM m, UNNEST(toks) AS u(t)),
    comp AS (
        SELECT doc_id, j.j,
               AVG(CAST(concat('0x', substr(md5(concat(t, '|', CAST(j.j AS VARCHAR))), 1, 15)) AS BIGINT)
                   / 576460752303423488.0 - 1.0) AS c
        FROM tok, (SELECT UNNEST(range(0, 48)) AS j) j
        GROUP BY 1, 2),
    vec AS (SELECT doc_id, list(c ORDER BY j) AS v, SQRT(SUM(c * c)) AS nrm
            FROM comp GROUP BY doc_id)
"""


@query(
    "ep2_cluster_summary",
    oracle=f"""
    WITH RECURSIVE
    {_EP2_VEC},
    e AS (SELECT a.doc_id AS u, b.doc_id AS v
          FROM vec a JOIN vec b ON a.doc_id <> b.doc_id
          WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) > 0.9),
    reach(v, l) AS (
        SELECT doc_id, doc_id FROM m
        UNION
        SELECT e.v, r.l FROM reach r JOIN e ON e.u = r.v),
    assign AS (SELECT v AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY v),
    joined AS (SELECT a.cluster_id, d.lang FROM assign a JOIN documents d USING (doc_id)),
    by_label AS (SELECT cluster_id, lang, COUNT(*) AS cnt FROM joined GROUP BY 1, 2),
    ranked AS (
        SELECT cluster_id, lang, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
               COUNT(*) OVER (PARTITION BY cluster_id) AS n_langs,
               ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY cnt DESC, lang) AS rn
        FROM by_label)
    SELECT cluster_id, n_members, n_langs, lang AS majority_lang,
           ROUND(CAST(cnt AS DOUBLE) / n_members, 6) AS majority_frac
    FROM ranked WHERE rn = 1 AND n_members > 1
    """,
)
def ep2_cluster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 END-TO-END, hash-verified: md5-chain hash encoder over raw
    documents (encode_mentions) -> cosine threshold 0.9 -> connected
    components (nn_thresh scalable semantics) -> per-cluster size +
    majority gold label (lang). With both the encoder and the kernel
    SQL-replayable, the whole reference pipeline chain is one
    differential check (closest sim to the 0.9 threshold: 5e-6 at
    sf0.01, far above cross-engine drift). Non-singleton clusters."""
    from streaming_cdc_spark.operators.clustering import threshold_clusters
    from streaming_cdc_spark.operators.encoder import hash_encode_mentions
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    mentions = docs.select(
        F.col("doc_id").alias("mention_index"),
        F.array_join(F.slice(toks, 1, 4), " ").alias("mention"),
        F.lit("").alias("left_context"),
        F.array_join(F.slice(toks, 5, 60), " ").alias("right_context"),
    )
    # persist: the kernel's collect side and probe side otherwise
    # each re-run the encoder stage
    emb = hash_encode_mentions(mentions, dim=48, context_budget=30).persist()
    assign = threshold_clusters(emb, 0.9, id_col="mention_index", vec_col="embedding")
    joined = assign.join(
        docs.select(F.col("doc_id").alias("mention_index"), "lang"), "mention_index"
    )
    by_label = joined.groupBy("cluster_id", "lang").agg(F.count("*").alias("cnt"))
    wc = W.partitionBy("cluster_id")
    ranked = by_label.select(
        "cluster_id",
        "lang",
        "cnt",
        F.sum("cnt").over(wc).alias("n_members"),
        F.count("*").over(wc).alias("n_langs"),
        F.row_number().over(wc.orderBy(F.desc("cnt"), F.asc("lang"))).alias("rn"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("n_members") > 1)).select(
        "cluster_id",
        "n_members",
        "n_langs",
        F.col("lang").alias("majority_lang"),
        F.round(F.col("cnt").cast("double") / F.col("n_members"), 6).alias("majority_frac"),
    )


@query(
    "fuzzy_name_join",
    oracle="""
    WITH lg AS (
      SELECT lk, len(gs) AS nl, u.g
      FROM (SELECT DISTINCT c_name AS lk,
                   list_distinct(list_transform(range(1, greatest(length(c_name) - 1, 1) + 1),
                                 i -> substring(c_name, i, 2))) AS gs
            FROM customer), UNNEST(gs) AS u(g)),
    rg AS (
      SELECT rk, len(gs) AS nr, u.g
      FROM (SELECT DISTINCT s_name AS rk,
                   list_distinct(list_transform(range(1, greatest(length(s_name) - 1, 1) + 1),
                                 i -> substring(s_name, i, 2))) AS gs
            FROM supplier), UNNEST(gs) AS u(g)),
    shared AS (SELECT lk, rk, COUNT(*) AS s, ANY_VALUE(nl) AS nl, ANY_VALUE(nr) AS nr
               FROM lg JOIN rg USING (g) GROUP BY lk, rk)
    SELECT lk, rk, ROUND(s / (nl + nr - s), 6) AS jaccard_r
    FROM shared WHERE s / (nl + nr - s) >= 0.33
    """,
)
def fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table record linkage: customer names fuzzy-joined to
    supplier names at char-bigram Jaccard >= 0.33 via the inverted-
    index gram equi-join (never a cross product). Jaccard from
    integer gram counts — bit-identical across engines."""
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    return D.fuzzy_join(cust, supp, "c_name", "s_name", threshold=0.33, n=2)


@query(
    "span_dedup_stats",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    spans AS (
        SELECT doc_id, s.s AS idx,
               array_to_string(t[s.s * 8 + 1 : s.s * 8 + 8], ' ') AS seg,
               len(t[s.s * 8 + 1 : s.s * 8 + 8]) AS n_tok
        FROM toks, UNNEST(range(0, CAST(CEIL(len(t) / 8.0) AS BIGINT))) AS s(s)),
    firsts AS (
        SELECT seg, doc_id, idx,
               ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
        FROM spans)
    SELECT s.doc_id, COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN f.rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_spans,
           CAST(SUM(CASE WHEN f.rn = 1 THEN s.n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM spans s JOIN firsts f ON s.seg = f.seg AND s.doc_id = f.doc_id AND s.idx = f.idx
    GROUP BY s.doc_id
    """,
)
def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup over 8-token spans: per-document span
    counts, spans surviving first-occurrence dedup, and the kept
    token budget."""
    docs = load(spark, sf_dir, "documents")
    return D.span_dedup(docs, span_tokens=8)


@query(
    "duplicate_span_islands",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    occ AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                   CAST(u.p AS BIGINT) AS pos,
                   array_to_string(t[u.p + 1 : u.p + 8], ' ') AS gram
            FROM toks, UNNEST(range(0, len(t) - 7)) AS u(p)
            WHERE len(t) >= 8),
    dupg AS (SELECT gram FROM occ GROUP BY gram HAVING COUNT(*) > 1),
    dup AS (SELECT occ.* FROM occ JOIN dupg USING (gram)),
    st AS (SELECT doc_id, n_tokens, pos,
                  CASE WHEN pos - COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos), -1000000) > 8
                       THEN 1 ELSE 0 END AS s,
                  COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos), -1000000) AS prev
           FROM dup),
    isl AS (SELECT doc_id, n_tokens, pos, prev, s,
                   CAST(SUM(s) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS gid
            FROM st),
    cov AS (SELECT doc_id, n_tokens, gid, COUNT(*) AS np,
                   MAX(pos) + 8 - MIN(pos) AS tok
            FROM isl GROUP BY doc_id, n_tokens, gid)
    SELECT doc_id, MAX(n_tokens) AS n_tokens,
           CAST(SUM(np) AS BIGINT) AS n_dup_pos,
           COUNT(*) AS n_islands,
           CAST(SUM(tok) AS BIGINT) AS dup_tokens
    FROM cov GROUP BY doc_id
    """,
)
def duplicate_span_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup at sliding 8-gram granularity (Lee et al.
    2022 ExactSubstr, relationally): every token position whose 8-gram
    recurs anywhere in the corpus is marked, and per-doc marks merge
    into maximal duplicated islands — so an L-token passage shared by
    two docs surfaces as ONE island covering exactly L tokens in each.
    Unlike span_dedup_stats (block-aligned C4 spans) this catches
    duplicates at any offset. Two narrow-key shuffles, no pair joins;
    the island merge is a doc-local sorted-array fold. All-integer
    output."""
    docs = load(spark, sf_dir, "documents")
    return D.duplicate_gram_islands(docs, w=8)


@query(
    "minhash_dedup_groups",
    oracle=f"""
    WITH RECURSIVE
    {_SHINGLES},
    mh AS (SELECT doc_id,
                  MIN({_md5i("concat('0|', shingle)")}) AS h0,
                  MIN({_md5i("concat('1|', shingle)")}) AS h1,
                  MIN({_md5i("concat('2|', shingle)")}) AS h2,
                  MIN({_md5i("concat('3|', shingle)")}) AS h3
           FROM sh GROUP BY doc_id),
    bands0 AS (SELECT doc_id, UNNEST([concat('0_', h0), concat('1_', h1),
                                      concat('2_', h2), concat('3_', h3)]) AS bucket
               FROM mh),
    bkeep AS (SELECT bucket FROM bands0 GROUP BY bucket HAVING COUNT(*) <= 500),
    bands AS (SELECT bands0.* FROM bands0 JOIN bkeep USING (bucket)),
    cand AS (SELECT DISTINCT a.doc_id AS u, c.doc_id AS v
             FROM bands a JOIN bands c ON a.bucket = c.bucket AND a.doc_id < c.doc_id),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT cand.u, cand.v, COUNT(*) AS i
              FROM cand JOIN sh x ON x.doc_id = cand.u
                        JOIN sh y ON y.doc_id = cand.v AND x.shingle = y.shingle
              GROUP BY 1, 2),
    ver AS (SELECT u, v FROM inter JOIN sz sa ON sa.doc_id = u JOIN sz sb ON sb.doc_id = v
            WHERE i / (sa.n + sb.n - i) >= 0.2),
    edges AS (SELECT u, v FROM ver UNION ALL SELECT v, u FROM ver),
    reach(v, l) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.v),
    assign AS (SELECT v AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY v)
    SELECT cluster_id, COUNT(*) AS n_members,
           CAST(SUM(CASE WHEN d.doc_id <> cluster_id THEN d.n_chars ELSE 0 END) AS BIGINT)
               AS removed_chars
    FROM assign JOIN documents d USING (doc_id)
    GROUP BY cluster_id HAVING COUNT(*) > 1
    """,
)
def minhash_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE MinHash dedup pipeline, differential-checked end
    to end: banded LSH candidates -> exact-Jaccard verify on candidate
    pairs ONLY -> connected components -> min-id canonical. Output:
    each duplicate group's canonical id, size, and the chars a dedup
    pass would remove. The n^2 comparison never runs — recall is
    traded exactly once (at the banding step), and the oracle replays
    that same trade, so the check pins the LSH config too."""
    from streaming_cdc_spark.operators.dedup import minhash_dedup

    docs = load(spark, sf_dir, "documents")
    assign = minhash_dedup(docs, num_hashes=4, rows_per_band=1, jaccard_threshold=0.2)
    return (
        assign.join(load(spark, sf_dir, "documents").select("doc_id", "n_chars"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(
                F.when(F.col("doc_id") != F.col("cluster_id"), F.col("n_chars")).otherwise(0)
            )
            .cast("long")
            .alias("removed_chars"),
        )
        .filter(F.col("n_members") > 1)
    )


@query(
    "leakage_safe_splits",
    oracle=f"""
    WITH RECURSIVE
    {_SHINGLES},
    mh AS (SELECT doc_id,
                  MIN({_md5i("concat('0|', shingle)")}) AS h0,
                  MIN({_md5i("concat('1|', shingle)")}) AS h1,
                  MIN({_md5i("concat('2|', shingle)")}) AS h2,
                  MIN({_md5i("concat('3|', shingle)")}) AS h3
           FROM sh GROUP BY doc_id),
    bands0 AS (SELECT doc_id, UNNEST([concat('0_', h0), concat('1_', h1),
                                      concat('2_', h2), concat('3_', h3)]) AS bucket
               FROM mh),
    bkeep AS (SELECT bucket FROM bands0 GROUP BY bucket HAVING COUNT(*) <= 500),
    bands AS (SELECT bands0.* FROM bands0 JOIN bkeep USING (bucket)),
    cand AS (SELECT DISTINCT a.doc_id AS u, c.doc_id AS v
             FROM bands a JOIN bands c ON a.bucket = c.bucket AND a.doc_id < c.doc_id),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT cand.u, cand.v, COUNT(*) AS i
              FROM cand JOIN sh x ON x.doc_id = cand.u
                        JOIN sh y ON y.doc_id = cand.v AND x.shingle = y.shingle
              GROUP BY 1, 2),
    ver AS (SELECT u, v FROM inter JOIN sz sa ON sa.doc_id = u JOIN sz sb ON sb.doc_id = v
            WHERE i / (sa.n + sb.n - i) >= 0.2),
    edges AS (SELECT u, v FROM ver UNION ALL SELECT v, u FROM ver),
    reach(v, l) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.v),
    assign AS (SELECT v AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY v),
    gs AS (SELECT cluster_id, COUNT(*) AS c FROM assign GROUP BY cluster_id),
    s AS (SELECT a.doc_id, a.cluster_id, gs.c,
                 {_md5i("concat('split|', CAST(a.cluster_id AS VARCHAR))")} % 100 AS bkt
          FROM assign a JOIN gs USING (cluster_id))
    SELECT CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
    FROM s GROUP BY 1
    """,
)
def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split is hashed from the
    NEAR-DUP GROUP's canonical id (minhash_dedup chain), not the doc
    id, so two near-duplicate documents can never straddle train and
    test — the contamination a doc-hashed 80/10/10 split silently
    permits. Group assignment and split hashing are both
    deterministic (md5 buckets), and the oracle replays the whole
    chain: LSH candidates -> verify -> CC -> canonical -> split.
    Output per split: docs, groups, docs-with-a-near-dup."""
    from streaming_cdc_spark.functions.hashing import md5_long

    docs = load(spark, sf_dir, "documents")
    assign = D.minhash_dedup(docs, num_hashes=4, rows_per_band=1, jaccard_threshold=0.2)
    gs = assign.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_c"))
    b = assign.join(gs, "cluster_id").withColumn(
        "_bkt",
        F.pmod(md5_long(F.col("cluster_id").cast("string"), salt="split|"), F.lit(100)),
    )
    split = (
        F.when(F.col("_bkt") < 80, "train")
        .when(F.col("_bkt") < 90, "val")
        .otherwise("test")
    )
    return b.withColumn("split", split).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_groups"),
        F.sum(F.when(F.col("_c") > 1, 1).otherwise(0)).cast("long").alias("n_dup_docs"),
    )


@query(
    "incremental_dedup_status",
    oracle=f"""
    WITH {_SHINGLES},
    mh AS (SELECT doc_id,
                  MIN({_md5i("concat('0|', shingle)")}) AS h0,
                  MIN({_md5i("concat('1|', shingle)")}) AS h1,
                  MIN({_md5i("concat('2|', shingle)")}) AS h2,
                  MIN({_md5i("concat('3|', shingle)")}) AS h3
           FROM sh GROUP BY doc_id),
    bands AS (SELECT doc_id, UNNEST([concat('0_', h0), concat('1_', h1),
                                     concat('2_', h2), concat('3_', h3)]) AS bucket
              FROM mh),
    sb0 AS (SELECT doc_id, bucket,
                   CASE WHEN doc_id % 2 = 0 THEN 'old' ELSE 'new' END AS side
            FROM bands),
    skeep AS (SELECT bucket FROM sb0 GROUP BY bucket HAVING COUNT(*) <= 500),
    sb AS (SELECT sb0.* FROM sb0 JOIN skeep USING (bucket)),
    cand AS (SELECT DISTINCT n.doc_id AS nid, p.doc_id AS pid, p.side AS pside
             FROM sb n JOIN sb p ON n.bucket = p.bucket
             WHERE n.side = 'new'
               AND (p.side = 'old' OR (p.side = 'new' AND p.doc_id < n.doc_id))),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT cand.nid, cand.pid, cand.pside, COUNT(*) AS i
              FROM cand JOIN sh x ON x.doc_id = cand.nid
                        JOIN sh y ON y.doc_id = cand.pid AND x.shingle = y.shingle
              GROUP BY 1, 2, 3),
    ver AS (SELECT nid, MAX(CASE WHEN pside = 'old' THEN 1 ELSE 0 END) AS best
            FROM inter JOIN sz sa ON sa.doc_id = nid
                       JOIN sz sp ON sp.doc_id = pid
            WHERE i / (sa.n + sp.n - i) >= 0.2 GROUP BY nid),
    st AS (SELECT d.doc_id, d.n_chars,
                  CASE WHEN v.best = 1 THEN 'dup_of_corpus'
                       WHEN v.best = 0 THEN 'dup_in_batch'
                       ELSE 'fresh' END AS status
           FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 1) d
           LEFT JOIN ver v ON v.nid = d.doc_id)
    SELECT status, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM st GROUP BY status
    """,
)
def incremental_dedup_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new batch (odd doc ids) against the
    existing corpus (even ids): new docs are flagged dup_of_corpus /
    dup_in_batch (keep-first) / fresh, and the corpus side is NEVER
    compared against itself — the daily-crawl shape where the corpus
    is petabytes and already deduped. Full-chain oracle (bands ->
    side-filtered candidates -> verify -> status)."""
    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    st = D.incremental_minhash_dedup(
        old, new, num_hashes=4, rows_per_band=1, jaccard_threshold=0.2
    )
    return (
        st.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


@query(
    "meta_blocking_pairs",
    oracle=f"""
    WITH {_SHINGLES},
    keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
    edges AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS cbs
              FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    avgw AS (SELECT AVG(cbs) AS w FROM edges)
    SELECT doc_a, doc_b, cbs
    FROM edges, avgw WHERE cbs > avgw.w
    """,
)
def meta_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-blocking (SparkER, EDBT 2019; see PAPERS.md): token
    blocking (blocks = word 3-grams) with BLOCK PURGING (drop blocks
    with document frequency > 50 — cap_shingle_df) builds the blocking
    graph, edges weighted by common-block count (CBS), then
    weight-edge pruning keeps edges ABOVE THE GLOBAL MEAN weight —
    the standard WEP scheme that shrinks the match workload before
    any expensive comparison runs. The mean is exact (integer sum /
    count, one IEEE division), so the pruning replays bit-for-bit.
    Every stage is an equi-join or aggregate; the blocking graph
    never materializes all pairs."""
    _, shared = D.shared_shingle_counts(
        load(spark, sf_dir, "documents"), df_cap=50, with_sizes=False
    )
    edges = shared.select(
        "doc_a", "doc_b", F.col("n_shared").alias("cbs")
    )
    avgw = edges.agg(F.avg("cbs").alias("_w"))
    return (
        edges.crossJoin(F.broadcast(avgw))
        .filter(F.col("cbs") > F.col("_w"))
        .select("doc_a", "doc_b", "cbs")
    )


@query(
    "progressive_resolution",
    oracle=f"""
    WITH {_SHINGLES},
    keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
    edges AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS cbs
              FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    budget AS (SELECT doc_a, doc_b, cbs FROM (
        SELECT doc_a, doc_b, cbs,
               ROW_NUMBER() OVER (ORDER BY cbs DESC, doc_a, doc_b) AS rn
        FROM edges) WHERE rn <= 200),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    SELECT cbs, COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN cbs / (x.n + y.n - cbs) >= 0.2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matches
    FROM budget JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    GROUP BY cbs
    """,
)
def progressive_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive entity resolution (ICDE 2017/2021 parallel
    progressive ER; see PAPERS.md): under a comparison budget (200
    pairs), verify candidates in DESCENDING blocking-weight order —
    highest-CBS edges first, deterministic (cbs DESC, ids) tiebreak —
    so most true matches surface before the budget runs out. Output
    per weight level: pairs verified and pairs matching (capped-
    shared Jaccard >= 0.2). The budget cut is a top-k over the
    blocking graph (edges, not documents), so the ordered prefix is
    cheap at any scale."""
    sizes, shared = D.shared_shingle_counts(
        load(spark, sf_dir, "documents"), df_cap=50
    )
    budget = (
        shared.select("doc_a", "doc_b", F.col("n_shared").alias("cbs"))
        .orderBy(F.desc("cbs"), "doc_a", "doc_b")
        .limit(200)
    )
    verified = (
        budget.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .withColumn(
            "_m", F.col("cbs") / (F.col("na") + F.col("nb") - F.col("cbs")) >= 0.2
        )
    )
    return verified.groupBy("cbs").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("_m").cast("int")).cast("long").alias("n_matches"),
    )


def _progstream_oracle(
    n_splits: int, budget: int, df_cap: int = 50, tau: float = 0.2
) -> str:
    """Whole-schedule oracle for the budgeted streaming resolver: a
    pair's discovery batch is the id-range bucket of its larger doc,
    so per-batch visible-corpus df caps and per-batch top-``budget``
    cuts replay as a prefix join + partitioned row_number."""
    ks = ", ".join(str(k) for k in range(n_splits))
    return f"""
    WITH {_SHINGLES},
    bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
    bat AS (SELECT d.doc_id,
                   CAST((d.doc_id - b.lo) // ((b.hi - b.lo + {n_splits}) // {n_splits}) AS INT) AS bk
            FROM documents d, bounds b),
    sbat AS (SELECT sh.doc_id, sh.shingle, bat.bk FROM sh JOIN bat USING (doc_id)),
    ks AS (SELECT UNNEST([{ks}]) AS k),
    dfk AS (SELECT ks.k, s.shingle, COUNT(*) AS c
            FROM ks JOIN sbat s ON s.bk <= ks.k GROUP BY 1, 2),
    keepk AS (SELECT k, shingle FROM dfk WHERE c <= {df_cap}),
    cand AS (SELECT sb.bk AS batch_id, sa.doc_id AS doc_a, sb.doc_id AS doc_b,
                    COUNT(*) AS cbs
             FROM sbat sa
             JOIN sbat sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
             JOIN keepk kk ON kk.k = sb.bk AND kk.shingle = sa.shingle
             GROUP BY 1, 2, 3),
    bud AS (SELECT batch_id, doc_a, doc_b, cbs FROM (
                SELECT batch_id, doc_a, doc_b, cbs,
                       ROW_NUMBER() OVER (PARTITION BY batch_id
                                          ORDER BY cbs DESC, doc_a, doc_b) AS rn
                FROM cand) WHERE rn <= {budget}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    SELECT batch_id, cbs, COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN cbs / (x.n + y.n - cbs) >= {tau} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matches
    FROM bud JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    GROUP BY 1, 2
    """


def _run_progressive_stream(
    spark: SparkSession,
    sf_dir: str,
    n_splits: int,
    budget: int,
    df_cap: int = 50,
    tau: float = 0.2,
    compact_every: int | None = None,
) -> DataFrame:
    """Shared body: split documents into ``n_splits`` mtime-ordered
    id-range parquet files, drain them through ProgressiveResolver
    one micro-batch per file, return the published results (temp
    state/checkpoint dirs deleted before returning)."""
    import shutil
    import tempfile

    from streaming_cdc_spark.streaming.progressive import ProgressiveResolver

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    stream = replay_stream(
        spark,
        ("progstream", sf_dir, n_splits),
        lambda: [
            part.withColumn("bucket", F.lit(i))
            for i, part in enumerate(id_range_splits(docs, "doc_id", n_splits))
        ],
    )
    state_dir = tempfile.mkdtemp(prefix="progstream_state_")
    resolver = ProgressiveResolver(
        state_dir, budget=budget, df_cap=df_cap, tau=tau, compact_every=compact_every
    )
    try:
        drain_stream(stream, resolver.apply_batch)
        # pin the (tiny) result in block-manager memory so the per-run
        # state dir can be deleted now — bench/gate call this query
        # repeatedly and each run's dirs would otherwise pile up in
        # /tmp for the process lifetime
        return (
            resolver.results(spark)
            .select("batch_id", "cbs", "n_pairs", "n_matches")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


@query(
    "progressive_stream_resolution",
    oracle=_progstream_oracle(n_splits=4, budget=50),
)
def progressive_stream_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """progressive_resolution as a STREAM with a budget PER MICRO-BATCH
    (streaming/progressive.py): documents arrive as four id-range
    micro-batches (maxFilesPerTrigger=1, mtime-pinned order); each
    batch blocks its new docs against the accumulated corpus state,
    ranks the newly-discovered edges by common-block score, verifies
    only the top 50 (4 x 50 = the batch query's 200 budget), and folds
    into the corpus. A pair's discovery batch is the id-range bucket
    of its LARGER doc, so the entire run — including each batch's
    budget cut and the df-cap over the then-visible corpus — replays
    as SQL: the oracle computes per-batch shingle frequencies with a
    prefix join and cuts each batch's top-50 with a partitioned
    row_number. Output per (batch, weight level): pairs verified,
    pairs matched (capped-Jaccard >= 0.2). The only streaming query
    whose BUDGETED work schedule is oracle-checked end to end."""
    return _run_progressive_stream(spark, sf_dir, n_splits=4, budget=50)


@query(
    "progressive_longstream_compacted",
    oracle=_progstream_oracle(n_splits=8, budget=25),
)
def progressive_longstream_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LONG-STREAM form of progressive_stream_resolution (VERDICT
    r3 #9): eight micro-batches with state compaction SCHEDULED
    INSIDE the stream (compact_every=3, keep_last=2) — after bucket 5
    the resolver folds its oldest per-bucket postings/df dirs into one
    generation published by its commit pointer mid-run, the OPTIMIZE step a 24/7
    deployment runs so probe-side listing cost stays bounded by the
    compaction cadence instead of growing with stream age. Compaction
    is results-invariant (crash-safety + equivalence pinned by
    tests/test_streaming.py), so the SAME whole-schedule oracle
    applies: per-batch budget cut (top-25 x 8 batches) and
    visible-corpus df caps replayed relationally. This variant is the
    one benched; it exercises both the skip path (too few inputs at
    bucket 2) and a real fold (bucket 5) in the measured path."""
    return _run_progressive_stream(
        spark, sf_dir, n_splits=8, budget=25, compact_every=3
    )


@query(
    "bloom_incremental_matches",
    oracle="""
    WITH k AS (SELECT doc_id, doc_id % 2 AS side,
                      array_to_string(string_split(text, ' ')[1:5], ' ') AS dup_key
               FROM documents)
    SELECT b.doc_id, b.dup_key
    FROM k b
    WHERE b.side = 1 AND EXISTS (
      SELECT 1 FROM k c WHERE c.side = 0 AND c.dup_key = b.dup_key)
    """,
)
def bloom_incremental_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus exact key matching behind a Bloom pre-filter
    (the explicit runtime-filter pattern): the corpus half (even ids)
    is summarized once into a 16 Kbit md5-salted bitmap, the batch
    half (odd ids) is pruned by a scan-fused probe expression, and
    only survivors pay the verify semi-join — so the corpus never
    re-shuffles per batch and the result is EXACT (no false
    negatives; the join removes false positives). Oracle: the plain
    semi-join the whole construction is equivalent to."""
    docs = load(spark, sf_dir, "documents")
    key = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " ")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return D.bloom_prefilter_matches(corpus, batch, key)


@query(
    "streaming_bloom_status",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             array_to_string(string_split(text, ' ')[1:5], ' ') AS kk
      FROM documents
    ),
    base AS (
      SELECT doc_id, {_md5i("concat('shard', kk)")} % 8 AS shard, kk FROM k
    ),
    pos AS (
      SELECT b.doc_id, b.shard, i.i AS hi,
             {_md5i("concat('bloom', CAST(i.i AS VARCHAR), kk)")} % 16384 AS p
      FROM base b, (SELECT unnest(range(3)) AS i) i
    ),
    hit AS (
      SELECT DISTINCT a.doc_id, a.hi
      FROM pos a JOIN pos b
        ON b.shard = a.shard AND b.p = a.p AND b.doc_id < a.doc_id
    ),
    nh AS (SELECT doc_id, COUNT(*) AS n FROM hit GROUP BY doc_id)
    SELECT base.doc_id, base.shard,
           CASE WHEN coalesce(nh.n, 0) = 3 THEN 'dup' ELSE 'fresh' END AS status
    FROM base LEFT JOIN nh USING (doc_id)
    """,
)
def streaming_bloom_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom dedup drained over four id-range micro-batches
    (maxFilesPerTrigger=1, mtime-pinned order): per-shard bitmap
    ValueState instead of per-key rows — state is 8 x 2 KB FOREVER,
    not O(distinct keys). The status stream is nonetheless FULLY
    deterministic and SQL-replayable: the bitmap after any prefix is
    exactly the union of all earlier docs' bit positions (dup rows
    only re-set existing bits), so 'dup' == "every one of my 3
    positions collides with SOME smaller-id same-shard doc" — the
    oracle replays shards, positions, and that prefix property with
    plain joins. A rare thing: a probabilistic streaming operator
    under a full value-hash oracle, false-positive drops included."""
    from streaming_cdc_spark.streaming.windows import streaming_bloom_dedup

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " ").alias("kk"),
    )
    stream = replay_stream(
        spark, ("bloomst", sf_dir), lambda: id_range_splits(docs, "doc_id", 4)
    )
    out = streaming_bloom_dedup(
        stream, key_col="kk", id_col="doc_id", n_bits=1 << 14, n_hashes=3, n_shards=8
    )
    return drain_stream(out, "bloomst").select("doc_id", "shard", "status")


@query(
    "ppjoin_exact_pairs",
    oracle=f"""
    WITH {_SHINGLES},
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS overlap
               FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
    SELECT doc_a, doc_b, overlap,
           CAST(x.n_sh AS BIGINT) AS size_a, CAST(y.n_sh AS BIGINT) AS size_b
    FROM shared JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    WHERE 3 * overlap >= x.n_sh + y.n_sh
    """,
)
def ppjoin_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 1/2 self-join via the PPJoin prefix filter
    (operators/dedup.py: ppjoin_pairs): only each doc's rarest
    (|x| - ceil(|x|/2) + 1) shingles under the global (df, shingle)
    order enter the candidate index — high-df shingles (the d² join
    blowup at web scale) are excluded by construction, yet the prefix
    theorem guarantees zero recall loss. The oracle is the INDEPENDENT
    naive formulation (full inverted-index join + integer threshold),
    so the hash match proves the prefix filter misses nothing and the
    array-intersect verify counts exactly. All-integer comparisons:
    J >= 1/2 <=> 3·overlap >= |x| + |y|."""
    from streaming_cdc_spark.operators import dedup as D

    docs = load(spark, sf_dir, "documents")
    return D.ppjoin_pairs(docs, t_num=1, t_den=2)


@query(
    "ppjoin_skewed_pairs",
    oracle="""
    WITH docs2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 < 2
                  THEN concat(text, ' s', CAST(doc_id AS VARCHAR),
                              ' zhota zhotb zhotc')
                  ELSE text END AS text
      FROM documents
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs2),
    sh AS (SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
           FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS overlap
               FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
    SELECT doc_a, doc_b, overlap,
           CAST(x.n_sh AS BIGINT) AS size_a, CAST(y.n_sh AS BIGINT) AS size_b
    FROM shared JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    WHERE 3 * overlap >= x.n_sh + y.n_sh
    """,
)
def ppjoin_skewed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin on a DELIBERATELY SKEWED corpus (VERDICT r5 #4): 40% of
    docs (doc_id % 5 < 2) get one planted shingle in common — the hot
    phrase 'zhota zhotb zhotc', isolated behind a per-doc sentinel
    token so boundary shingles stay df-1 and can't join. A naive
    inverted-index join pays C(0.4n, 2) pairs through that single
    shingle (quadratic in the clique — the oracle below literally
    does, fine at sf<=0.01); the PPJoin prefix filter excludes it BY
    CONSTRUCTION (maximal df sorts last, outside every prefix), so
    the Spark side's candidate volume stays at the unskewed level —
    benched next to ppjoin_exact_pairs, the wall-clock gap IS the
    skew cost, and tests/test_dedup.py pins the exact-integer
    flatness claim (zero candidates through the hot shingle at two
    clique sizes, linear total-candidate growth bound). The oracle is
    the independent naive formulation over the same skewed corpus, so
    the hash match proves exactness is retained under skew."""
    from streaming_cdc_spark.operators import dedup as D

    docs = load(spark, sf_dir, "documents")
    skewed = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 < 2,
            F.concat(
                F.col("text"), F.lit(" s"),
                F.col("doc_id").cast("string"),
                F.lit(" zhota zhotb zhotc"),
            ),
        ).otherwise(F.col("text")),
    )
    return D.ppjoin_pairs(skewed, t_num=1, t_den=2)


@query(
    "ngram_novelty_profile",
    oracle=f"""
    WITH {_SHINGLES},
    f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS novelty_r
    FROM sh s JOIN f USING (shingle)
    GROUP BY 1
""",
)
def ngram_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DOCUMENT N-GRAM NOVELTY — heaps_vocab_growth's per-doc
    sibling at shingle granularity, the memorization diagnostic a
    pretraining pipeline reads next to the dedup report: for each
    document (in doc_id order = arrival order), the fraction of its
    distinct word-3-gram shingles appearing for the FIRST time in
    the corpus. A heavily templated/duplicated source shows novelty
    collapsing toward 0; dedup'd natural text stays high. Physical:
    the hashed shingle relation (md5-int64 keys, injectivity pinned
    by tests/test_dedup.py), one shingle-keyed MIN for first
    occurrences, one join back, one per-doc aggregate — the exact
    first-occurrence shape of heaps' vocab stage, never a
    prefix-rescan. Ratio = one int/int double division rounded 6dp
    (order-free). Linear at any scale: two keyed shuffles on the
    uniform hash key."""
    from streaming_cdc_spark.operators.dedup import exploded_shingles

    docs = load(spark, sf_dir, "documents")
    # the shingle relation feeds BOTH the first-occurrence aggregate
    # and the join-back: checkpoint it or the tokenize+hash+explode
    # kernel (the query's dominant cost) runs twice (the funnel /
    # graph_modularity multi-reference lesson)
    sh = exploded_shingles(docs, hashed=True).localCheckpoint()
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    return (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            novel.alias("n_novel"),
            F.round(
                novel.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("novelty_r"),
        )
    )
