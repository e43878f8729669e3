"""CDC change-log apply queries: the namesake capability (VERDICT r4
top-next). A deterministic I/U/D op-log is derived from the events
table (op type is a pure function of event_id, seq = event_id, so the
fixture replays in SQL), materialized to current state by
last-writer-wins-by-seq with delete tombstones, in BOTH execution
shapes: one batch aggregation and a four-micro-batch foreachBatch
stream with out-of-order delivery across batches. Both share one full
oracle — the streaming twin hash-matching the batch SQL is the
strongest statement that tombstone retention + idempotent argmax
merging implement exactly the batch semantics.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_cdc_spark.queries.registry import query
from streaming_cdc_spark.tables import load
from streaming_cdc_spark.session import drain_stream, id_range_splits, replay_stream

# Op mix: ~6% deletes, the rest updates/inserts. % 17 guarantees (at
# every sf) several users whose LATEST op is a delete — the
# tombstone-wins branch is exercised, not just defined (sf0.001: 1 of
# 15 users ends deleted; sf0.01: 6 of 150; sf0.1: 93 of 1500).
_OP_CASE = (
    "CASE WHEN event_id % 17 = 0 THEN 'D' "
    "WHEN event_id % 17 < 9 THEN 'U' ELSE 'I' END"
)

_APPLY_SQL = f"""
    WITH log AS (
        SELECT user_id, event_id AS seq, {_OP_CASE} AS op, value, event_type
        FROM events
    ),
    last AS (
        SELECT user_id, MAX(seq) AS last_seq,
               arg_max(op, seq) AS op,
               arg_max(value, seq) AS v,
               arg_max(event_type, seq) AS event_type
        FROM log GROUP BY user_id
    )
    SELECT user_id, last_seq, op, ROUND(v, 2) AS value_r, event_type
    FROM last WHERE op != 'D'
"""


def _oplog(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        F.col("event_id").alias("seq"),
        F.expr(_OP_CASE).alias("op"),
        "value",
        "event_type",
    )


def _project(state: DataFrame) -> DataFrame:
    return state.select(
        "user_id",
        F.col("seq").alias("last_seq"),
        "op",
        F.round("value", 2).alias("value_r"),
        "event_type",
    )


_EVOLVE_SQL = f"""
    WITH log AS (
        SELECT user_id, event_id AS seq, {_OP_CASE} AS op,
               CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS schema_version,
               -- DuckDB arg_max SKIPS NULL values (it would take the
               -- latest non-NULL payload instead of the true last row)
               -- — carry absence as the empty-string sentinel on EVERY
               -- payload field and decode after the argmax
               -- (event_type vocabulary is never empty; '' never
               -- casts to a BIGINT cents value).
               COALESCE(CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR),
                        '') AS p_cents,
               CASE WHEN event_id % 2 = 1 THEN event_type ELSE '' END AS p_etype
        FROM events
    ),
    last AS (
        SELECT user_id, MAX(seq) AS last_seq,
               arg_max(op, seq) AS op,
               arg_max(schema_version, seq) AS schema_version,
               arg_max(p_cents, seq) AS c,
               arg_max(p_etype, seq) AS e
        FROM log GROUP BY user_id
    )
    SELECT user_id, last_seq, schema_version,
           CAST(NULLIF(c, '') AS BIGINT) AS value_cents,
           NULLIF(e, '') AS event_type
    FROM last WHERE op != 'D'
"""


@query("cdc_evolving_apply", oracle=_EVOLVE_SQL)
def cdc_evolving_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply under SCHEMA EVOLUTION (operators/changelog.py:
    apply_changelog_evolving): the op-log mixes two payload schema
    versions mid-stream — v1 ops (even event_id) carry only
    ``value_cents``, v2 ops add ``event_type`` — as
    (schema_version, map<string,string>) rows, the schema-registry
    wire shape. The materialization projects the UNION schema:
    last-writer-wins by seq is version-blind (a v1 key updated by a
    v2 op takes the v2 payload and vice versa — both directions occur
    in the fixture since version is event-parity), absent fields
    back-fill NULL (every user whose final op is v1 has NULL
    event_type), and payload strings try_cast into the widened BIGINT
    column. The oracle replays version assignment, per-field arg_max,
    and the union projection relationally, so the driver hash-checks
    the whole evolution contract. Physical: the SAME one
    map-side-combining keyed argmax as cdc_log_apply — evolution adds
    zero shuffles. value_cents uses FLOOR(value*100) on BOTH engines
    (Spark CAST(double AS BIGINT) truncates, DuckDB rounds — floor
    first makes them agree). Reference anchor: the mention record's
    own schema is a per-dataset superset (SURVEY §1.1) — the engine
    handles the drift its input format already exhibits."""
    from streaming_cdc_spark.operators.changelog import apply_changelog_evolving

    ev = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long").cast("string")
    log = ev.select(
        "user_id",
        F.col("event_id").alias("seq"),
        F.expr(_OP_CASE).alias("op"),
        (F.when(F.col("event_id") % 2 == 0, 1).otherwise(2)).alias("schema_version"),
        F.when(
            F.col("event_id") % 2 == 0,
            F.create_map(F.lit("value_cents"), cents),
        )
        .otherwise(
            F.create_map(
                F.lit("value_cents"), cents,
                F.lit("event_type"), F.col("event_type"),
            )
        )
        .alias("payload"),
    )
    state = apply_changelog_evolving(
        log,
        key_cols=["user_id"],
        seq_col="seq",
        op_col="op",
        version_col="schema_version",
        payload_col="payload",
        columns={"value_cents": "bigint", "event_type": "string"},
    )
    return state.select(
        "user_id",
        F.col("seq").alias("last_seq"),
        "schema_version",
        "value_cents",
        "event_type",
    )


@query("cdc_log_apply", oracle=_APPLY_SQL)
def cdc_log_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log apply, batch form (operators/changelog.py):
    insert/update/delete op-log -> current state. Last-writer-wins by
    seq (unique: seq = event_id), keys whose latest op is a delete
    tombstone are absent; arrival order is irrelevant because the
    whole apply is ONE keyed argmax (map-side-combining max_by — at
    100 TB the shuffle carries one row per key per map task). The
    oracle is the direct SQL statement of the semantics (arg_max +
    HAVING), so the driver hash-verifies deletes, re-inserts after
    delete, and the last-writer rule in one row set. Generalizes the
    reference's append-only keyed assignment streams
    (nn_thresh.py:192-194) to the mutation semantics a real CDC
    consumer needs."""
    from streaming_cdc_spark.operators.changelog import apply_changelog

    state = apply_changelog(
        _oplog(spark, sf_dir),
        key_cols=["user_id"],
        seq_col="seq",
        op_col="op",
        payload_cols=["value", "event_type"],
    )
    return _project(state)


def _oplog_stream(spark: SparkSession, sf_dir: str):
    """The op-log replayed as four round-robin micro-batches
    (seq % 4, mtime-pinned admission order). Every batch spans the
    whole seq range, so each micro-batch delivers ops BELOW seqs
    already applied from earlier batches — real out-of-order arrival,
    including late updates below an applied tombstone."""

    def build():
        log = _oplog(spark, sf_dir)
        return [log.filter(F.col("seq") % 4 == i) for i in range(4)]

    return replay_stream(spark, ("cdclog", sf_dir), build)


@query("cdc_streaming_apply", oracle=_APPLY_SQL)
def cdc_streaming_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log apply, streaming form: the op-log replayed as
    FOUR round-robin micro-batches (maxFilesPerTrigger=1) through the
    foreachBatch upsert sink (streaming/materialize.py:
    MaterializedChangelog — per-batch keyed argmax partial, tombstone-
    retaining merge, versioned atomic publish, batch-id replay skip).
    SAME full oracle as the batch query: the drained state hash-equals
    the one-shot SQL apply, proving batch boundaries and out-of-order
    delivery (late low-seq updates under applied tombstones included)
    do not change the materialization."""
    from streaming_cdc_spark.streaming.materialize import MaterializedChangelog

    stream = _oplog_stream(spark, sf_dir)
    state_dir = tempfile.mkdtemp(prefix="cdclog_state_")
    sink = MaterializedChangelog(
        state_dir,
        key_cols=["user_id"],
        seq_col="seq",
        op_col="op",
        payload_cols=["value", "event_type"],
    )
    try:
        drain_stream(stream, sink.apply_batch)
        out = _project(sink.current_state(spark)).localCheckpoint()
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
    return out


_TT_VERSION = 2  # AS OF the third micro-batch (versions 0..3)

_TT_SQL = _APPLY_SQL.replace(
    "FROM events", f"FROM events WHERE event_id % 4 <= {_TT_VERSION}"
)


@query("cdc_time_travel", oracle=_TT_SQL)
def cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the versioned CDC materialization (the
    Delta/Iceberg `VERSION AS OF` read, streaming/materialize.py:
    table_at): the 4-batch op-log stream is drained with
    keep_versions=4, then the state is read AS OF version 2 — the
    fold of batches 0..2 only. Because batch admission is mtime-
    pinned (batch i = seq % 4 == i), that historical version equals
    the one-shot batch apply over the log PREFIX seq % 4 <= 2, which
    is exactly what the oracle computes — so the driver hash-verifies
    that retained versions are true historical states, not merely
    bytes on disk. Retention is the vacuum horizon: reading a version
    older than keep_versions raises, like any post-vacuum time
    travel (test-pinned)."""
    from streaming_cdc_spark.streaming.materialize import MaterializedChangelog

    stream = _oplog_stream(spark, sf_dir)
    state_dir = tempfile.mkdtemp(prefix="cdctt_state_")
    sink = MaterializedChangelog(
        state_dir,
        key_cols=["user_id"],
        seq_col="seq",
        op_col="op",
        payload_cols=["value", "event_type"],
        keep_versions=4,
    )
    try:
        drain_stream(stream, sink.apply_batch)
        asof = sink.table_at(spark, _TT_VERSION).filter(F.col("op") != "D")
        out = _project(asof).localCheckpoint()
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
    return out


@query(
    "cdc_scd2_history",
    oracle=f"""
    WITH log AS (
        SELECT user_id, event_id AS seq, {_OP_CASE} AS op, value
        FROM events
    ),
    v AS (
        SELECT user_id, seq, op, value,
               LEAD(seq) OVER (PARTITION BY user_id ORDER BY seq) AS next_seq
        FROM log
    )
    SELECT user_id, seq AS valid_from_seq,
           COALESCE(next_seq, 9223372036854775807) AS valid_to_seq,
           op, ROUND(value, 2) AS value_r,
           (next_seq IS NULL) AS is_current
    FROM v WHERE op != 'D'
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC type-2 HISTORY from the op-log (the versioned complement of
    cdc_log_apply's current state): every non-delete op opens a
    version valid [seq, next_op_seq); a delete tombstone closes the
    preceding version without opening one (its seq becomes the prior
    version's valid_to), and each key's latest non-deleted version is
    open (int64-max sentinel — a NULL bound is the audit_types
    fetch-path hazard). One keyed window over the log, ordered by the
    unique seq — no global sort; at 100 TB this distributes across
    keys exactly like scd2_user_value. Together with cdc_log_apply
    (current state) and cdc_streaming_apply (incremental fold) this
    completes the namesake CDC consumption surface: state, stream,
    and history."""
    from pyspark.sql import Window as W

    log = _oplog(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("seq")
    nxt = F.lead("seq").over(w)
    return (
        log.select(
            "user_id",
            F.col("seq").alias("valid_from_seq"),
            F.coalesce(nxt, F.lit(9223372036854775807)).alias("valid_to_seq"),
            "op",
            F.round("value", 2).alias("value_r"),
            nxt.isNull().alias("is_current"),
        )
        .filter(F.col("op") != "D")
    )


@query(
    "cdc_capture_diff",
    oracle=f"""
    WITH log AS (
        SELECT user_id, event_id AS seq, {_OP_CASE} AS op, value, event_type
        FROM events
    ),
    m AS (SELECT MAX(seq) // 2 AS mid FROM log),
    a AS (SELECT user_id, arg_max(value, seq) AS v,
                 arg_max(event_type, seq) AS et
          FROM log, m WHERE seq <= mid GROUP BY user_id
          HAVING arg_max(op, seq) != 'D'),
    b AS (SELECT user_id, arg_max(value, seq) AS v,
                 arg_max(event_type, seq) AS et
          FROM log GROUP BY user_id
          HAVING arg_max(op, seq) != 'D')
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           CASE WHEN a.user_id IS NULL THEN 'I'
                WHEN b.user_id IS NULL THEN 'D' ELSE 'U' END AS op,
           ROUND(b.v, 2) AS value_r, b.et AS event_type
    FROM a FULL JOIN b ON a.user_id = b.user_id
    WHERE a.user_id IS NULL OR b.user_id IS NULL
          OR (b.v IS DISTINCT FROM a.v) OR (b.et IS DISTINCT FROM a.et)
    """,
)
def cdc_capture_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC CAPTURE (operators/changelog.py: snapshot_diff): the
    mid-log snapshot (current state over ops with seq <= max_seq/2)
    diffed against the final snapshot into an I/U/D op-log — keys
    born after the midpoint emit INSERT, keys whose latest op turned
    into a tombstone emit DELETE (NULL payload), keys whose payload
    changed null-safely emit UPDATE, unchanged keys emit nothing.
    One full-outer keyed join over two keyed-argmax snapshots;
    presence tracked by marker columns so NULL payloads can't fake
    membership. Closes the namesake loop: capture (this) -> apply
    (cdc_log_apply / cdc_streaming_apply) -> history
    (cdc_scd2_history); the apply-the-captured-diff round trip is
    pinned by tests/test_changelog.py."""
    from streaming_cdc_spark.operators.changelog import apply_changelog, snapshot_diff

    log = _oplog(spark, sf_dir)
    mid = log.agg((F.max("seq") / 2).cast("long").alias("_mid"))
    early = log.crossJoin(F.broadcast(mid)).filter(F.col("seq") <= F.col("_mid"))
    kw = dict(key_cols=["user_id"], seq_col="seq", op_col="op",
              payload_cols=["value", "event_type"])
    snap_a = apply_changelog(early, **kw).select("user_id", "value", "event_type")
    snap_b = apply_changelog(log, **kw).select("user_id", "value", "event_type")
    diff = snapshot_diff(snap_a, snap_b, ["user_id"], ["value", "event_type"])
    return diff.select(
        "user_id", "op", F.round("value", 2).alias("value_r"), "event_type"
    )


@query(
    "ivm_group_sums",
    oracle=f"""
    WITH log AS (
        SELECT user_id, event_id AS seq, {_OP_CASE} AS op, value
        FROM events
    ),
    cur AS (
        SELECT user_id, arg_max(value, seq) AS v
        FROM log GROUP BY user_id
        HAVING arg_max(op, seq) != 'D'
    )
    SELECT user_id % 10 AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_live,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE), 2) AS view_sum_r
    FROM cur GROUP BY 1
    """,
)
def ivm_group_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE from the CDC op-log
    (operators/changelog.py: changelog_deltas): the per-group
    (live-key count, value sum) view is maintained by SUMMING each
    op's exact DECIMAL delta — never by recomputing state. The oracle
    is the INDEPENDENT recompute formulation (current state via
    arg_max, then aggregate), so the hash match IS the IVM
    correctness theorem on this log: sum-of-deltas == view-over-state,
    deletes, re-inserts and out-of-order seqs included. Physically one
    keyed lag window (pre-image derivation; a real CDC feed ships
    before-images and skips it) + one order-free aggregation — the
    maintenance cost per batch is the batch size, never the view's
    base-table size."""
    from streaming_cdc_spark.operators.changelog import changelog_deltas

    log = _oplog(spark, sf_dir)
    d = changelog_deltas(log, ["user_id"], "seq", "op", "value")
    return (
        d.withColumn("grp", F.col("user_id") % 10)
        .groupBy("grp")
        .agg(
            F.sum("delta_live").cast("long").alias("n_live"),
            F.round(F.sum("delta_value").cast("double"), 2).alias("view_sum_r"),
        )
        # zero-support elimination: when a group's live count reaches
        # 0 the view row is DELETED, exactly as multiplicity-counting
        # IVM engines do — and as the recompute formulation naturally
        # has no row to emit (sf0.001 exercises this: one group's only
        # users all end tombstoned)
        .filter(F.col("n_live") > 0)
        .select("grp", "n_live", "view_sum_r")
    )


# 30% of all ops land on ONE key (the salted_skew_stats /
# ppjoin_skewed_pairs pattern for this family): key 0 absorbs every
# event_id % 10 < 3 op; everyone else keeps user_id + 1.
_HOT_CASE = "CASE WHEN event_id % 10 < 3 THEN 0 ELSE user_id + 1 END"


@query(
    "ivm_hotkey_sums",
    oracle=f"""
    WITH log AS (
        SELECT {_HOT_CASE} AS k, event_id AS seq, {_OP_CASE} AS op, value
        FROM events
    ),
    cur AS (
        SELECT k, arg_max(value, seq) AS v
        FROM log GROUP BY k
        HAVING arg_max(op, seq) != 'D'
    )
    SELECT k % 10 AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_live,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE), 2) AS view_sum_r
    FROM cur GROUP BY 1
    """,
)
def ivm_hotkey_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivm_group_sums under a PLANTED 30%-HOT KEY (VERDICT r6 #5):
    key 0 absorbs 3 of every 10 ops, and ``band_width`` is pinned to
    4096 so the BANDED-lag physical (the r6 stress fix — 4M hot ops
    25.4s -> 2.9s; operators/changelog.py docstring) actually executes
    at driver scale instead of the adaptive default's plain-window
    shortcut below 250k rows (the threshold_cc_distributed pattern:
    force the 100 TB physical so the driver hash-verifies IT). The hot
    key's ops spread across the banded windows, so every window
    partition is band-bounded — no task ever sorts the hot key whole
    — while the band-first/band-last pre-image stitching is exercised
    across dozens of hot-key band boundaries. The forced width SCALES
    with the seq range (target_bands=64 — the operator sizes the
    width from its own planning scalars): the original fixed 4096
    made bands-per-key GROW with sf in the transition regime (the r6
    adaptive-band lesson recurring in the query that disables
    adaptivity — measure_shuffle alpha 1.21), while ~64 bands at
    every scale keeps the band-last relation proportional to keys,
    not to rows. The oracle stays the independent recompute
    formulation (band-width-invariant), so the hash match is the IVM
    theorem ON THE SKEWED LOG via the banded path. Flat per-band
    partition sizes are pinned by tests/test_changelog.py."""
    from streaming_cdc_spark.operators.changelog import changelog_deltas

    ev = load(spark, sf_dir, "events")
    log = ev.select(
        F.expr(_HOT_CASE).cast("long").alias("k"),
        F.col("event_id").alias("seq"),
        F.expr(_OP_CASE).alias("op"),
        "value",
    )
    d = changelog_deltas(log, ["k"], "seq", "op", "value", target_bands=64)
    return (
        d.withColumn("grp", F.col("k") % 10)
        .groupBy("grp")
        .agg(
            F.sum("delta_live").cast("long").alias("n_live"),
            F.round(F.sum("delta_value").cast("double"), 2).alias("view_sum_r"),
        )
        .filter(F.col("n_live") > 0)
        .select("grp", "n_live", "view_sum_r")
    )


@query(
    "ivm_join_view",
    oracle="""
    WITH dim AS (
        SELECT user_id, arg_max(event_type, event_id) AS segment
        FROM events WHERE event_id % 13 = 0 GROUP BY user_id
    ),
    facts AS (
        SELECT user_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    )
    SELECT d.segment, CAST(COUNT(*) AS BIGINT) AS n_facts,
           CAST(SUM(f.cents) AS BIGINT) AS cents_sum
    FROM facts f JOIN dim d ON f.user_id = d.user_id
    GROUP BY 1
    """,
)
def ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MAINTENANCE OF A JOIN VIEW — the delta rule beyond
    single-table group sums (ivm_group_sums): the view joins a fact
    changelog (event cents, append-only) to a DIMENSION changelog
    (each user's segment, upserted whenever event_id % 13 == 0) and
    aggregates per segment. A dimension upsert RECLASSIFIES every
    fact of that user — the case naive per-row deltas cannot express
    and full recompute handles by rescanning the fact table. The
    maintained identity per batch is the two-term form
        V' = V + dA JOIN B   +   A' JOIN delta(B)
    (A' = fact partials incl. this batch; delta(B) = retract the old
    assignment, insert the new): algebraically (A+dA) JOIN (B+dB),
    so maintenance cost is batch-sized joins against KEYED PARTIALS
    (per-user fact partials A, per-user assignment B) — never a
    rescan of history. Four seq-range batches fold at plan build
    (each state localCheckpointed per round, the greedy-rounds
    convention); every quantity is exact integer cents, so all
    merges are order-free. The oracle is the INDEPENDENT recompute
    (arg_max dim state joined to all facts) — the hash match is the
    join-IVM theorem on this log, cross-batch reclassification
    included (users gain their first assignment mid-stream, and
    their PRE-ASSIGNMENT facts surface via the A' JOIN delta term).
    Segments whose support never materializes emit nothing on both
    sides."""
    # ONE narrow pre-image scan (optimization r9): the 4-batch fold
    # references the events log 9x (per batch: fact partials + dim
    # upserts; plus the bounds agg) — un-checkpointed, each reference
    # re-scanned parquet. The lazy checkpoint is materialized by
    # id_range_splits' bounds agg (a planning scalar we pay anyway), so
    # every batch slice reads the cached narrow rows: 9 scans -> 1.
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "value", "event_type")
        .localCheckpoint(eager=False)
    )
    batches = id_range_splits(ev, "event_id", 4)
    a_state = None  # (user_id, a_n, a_cents)
    b_state = None  # (user_id, segment)
    v_state = None  # (segment, n_facts, cents_sum) signed partials
    # per-round state checkpoints are LAZY (the ivm_join_fold note):
    # nothing in the loop needs a driver value, so the whole fold
    # materializes in the caller's single final action — 12 eager
    # driver jobs become one; plan truncation is unchanged.
    for batch in batches:
        pa = (
            batch.filter(F.col("value").isNotNull())
            .select(
                "user_id",
                (F.col("value").cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("cents"),
            )
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("a_n"),
                F.sum("cents").cast("long").alias("a_cents"),
            )
        )
        db = (
            batch.filter(F.col("event_id") % 13 == 0)
            .groupBy("user_id")
            .agg(F.max_by("event_type", "event_id").alias("new_seg"))
        )
        # term 1: this batch's fact partials against the PRE-batch dim
        if b_state is not None:
            t1 = pa.join(b_state, "user_id").select(
                "segment",
                F.col("a_n").alias("dn"),
                F.col("a_cents").alias("dc"),
            )
        else:
            t1 = None
        # A' = A + dA
        if a_state is None:
            a_state = pa.localCheckpoint(eager=False)
        else:
            a_state = (
                a_state.unionByName(pa)
                .groupBy("user_id")
                .agg(
                    F.sum("a_n").cast("long").alias("a_n"),
                    F.sum("a_cents").cast("long").alias("a_cents"),
                )
                .localCheckpoint(eager=False)
            )
        # delta(B) applied against A': retract old, insert new
        if b_state is not None:
            moved = db.join(b_state, "user_id", "left")
        else:
            moved = db.withColumn("segment", F.lit(None).cast("string"))
        moved = moved.join(a_state, "user_id")
        retract = moved.filter(F.col("segment").isNotNull()).select(
            "segment",
            (-F.col("a_n")).alias("dn"),
            (-F.col("a_cents")).alias("dc"),
        )
        insert = moved.select(
            F.col("new_seg").alias("segment"),
            F.col("a_n").alias("dn"),
            F.col("a_cents").alias("dc"),
        )
        dv = retract.unionByName(insert)
        if t1 is not None:
            dv = dv.unionByName(t1)
        dv = dv.groupBy("segment").agg(
            F.sum("dn").cast("long").alias("n_facts"),
            F.sum("dc").cast("long").alias("cents_sum"),
        )
        if v_state is None:
            v_state = dv.localCheckpoint(eager=False)
        else:
            v_state = (
                v_state.unionByName(dv)
                .groupBy("segment")
                .agg(
                    F.sum("n_facts").cast("long").alias("n_facts"),
                    F.sum("cents_sum").cast("long").alias("cents_sum"),
                )
                .localCheckpoint(eager=False)
            )
        # B' = B overridden by this batch's last upserts
        if b_state is None:
            b_state = db.select(
                "user_id", F.col("new_seg").alias("segment")
            ).localCheckpoint(eager=False)
        else:
            b_state = (
                b_state.join(db, "user_id", "full")
                .select(
                    "user_id",
                    F.coalesce("new_seg", "segment").alias("segment"),
                )
                .localCheckpoint(eager=False)
            )
    return v_state.filter(F.col("n_facts") > 0).select(
        "segment", "n_facts", "cents_sum"
    )


@query(
    "ivm_join_retract",
    oracle="""
    WITH bounds AS (
        SELECT MIN(event_id) AS lo, MAX(event_id) AS hi FROM events
    ),
    flog AS (
        SELECT user_id, event_id AS seq,
               CAST(1 AS BIGINT) AS dn,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS dc
        FROM events WHERE value IS NOT NULL
        UNION ALL
        SELECT e.user_id, e.event_id + (b.hi - b.lo + 1) // 2 AS seq,
               CAST(-1 AS BIGINT) AS dn,
               -CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS dc
        FROM events e CROSS JOIN bounds b
        WHERE e.value IS NOT NULL AND e.event_id % 9 = 4
          AND e.event_id + (b.hi - b.lo + 1) // 2 <= b.hi
    ),
    dim AS (
        SELECT user_id, arg_max(event_type, event_id) AS segment
        FROM events WHERE event_id % 13 = 0 GROUP BY user_id
    ),
    net AS (
        SELECT user_id, CAST(SUM(dn) AS BIGINT) AS n,
               CAST(SUM(dc) AS BIGINT) AS c
        FROM flog GROUP BY user_id
    )
    SELECT d.segment,
           CAST(SUM(net.n) AS BIGINT) AS n_facts,
           CAST(SUM(net.c) AS BIGINT) AS cents_sum
    FROM net JOIN dim d ON net.user_id = d.user_id
    GROUP BY 1
    HAVING SUM(net.n) > 0
    """,
)
def ivm_join_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivm_join_view with RETRACTABLE FACTS: every event whose
    event_id % 9 == 4 is VOIDED by a correction delta (-1, -cents)
    arriving HALF A SEQ-RANGE LATER — by construction two batches
    after its insert (voids that would land past the log's end are
    clipped: those facts simply stay un-voided, both sides). The
    signed fact deltas flow through the SAME two-term rule
    V' = V + dA JOIN B + A' JOIN delta(B) with zero new machinery —
    the per-user fact partials A are already a commutative group, so
    a retraction is just a negative element, and a dimension upsert
    BETWEEN insert and void moves the un-voided partial to the new
    segment before the void lands there too (the cross-batch case
    that distinguishes this from per-row compensation). The oracle
    derives the identical signed log in SQL and recomputes the final
    view independently — the hash match is the retraction-IVM
    theorem. Batching is by SEQ quartiles over the extended log
    range (not event_id: void seqs exceed the event range)."""
    # same narrow pre-image as ivm_join_view (optimization r9): facts,
    # voids and dims each re-scanned events — one lazy checkpoint
    # materialized by the bounds agg serves all three.
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "value", "event_type")
        .localCheckpoint(eager=False)
    )
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
    half = (hi - lo + 1) // 2
    facts = ev.filter(F.col("value").isNotNull()).select(
        "user_id",
        F.col("event_id").alias("seq"),
        F.lit(1).cast("long").alias("dn"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("dc"),
    )
    voids = (
        ev.filter(
            F.col("value").isNotNull()
            & (F.col("event_id") % 9 == 4)
            & (F.col("event_id") + half <= hi)
        )
        .select(
            "user_id",
            (F.col("event_id") + half).alias("seq"),
            F.lit(-1).cast("long").alias("dn"),
            (-(F.col("value").cast("decimal(18,2)") * 100).cast("long")).alias("dc"),
        )
    )
    # LAZY checkpoints (optimization r9): flog is sliced per batch
    # inside the fold (4 references) and dims_all likewise — the
    # truncated plans are cached at first compute inside the caller's
    # single final action instead of paying an eager job here plus a
    # parquet re-scan per batch slice.
    flog = facts.unionByName(voids).localCheckpoint(eager=False)
    dims_all = (
        ev.filter(F.col("event_id") % 13 == 0)
        .select(
            "user_id",
            F.col("event_id").alias("seq"),
            F.col("event_type").alias("new_seg"),
        )
        .localCheckpoint(eager=False)
    )
    # seq range [lo, hi]; voids clipped to hi. Fold extracted to
    # operators/changelog.py:ivm_join_fold so stress.py drives it on
    # synthetic hot-key signed logs at 1M-4M ops.
    from streaming_cdc_spark.operators.changelog import ivm_join_fold

    v_state = ivm_join_fold(flog, dims_all, lo, hi, n_batches=4)
    return v_state.filter(F.col("n_facts") > 0).select(
        "segment", "n_facts", "cents_sum"
    )
