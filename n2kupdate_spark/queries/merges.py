"""B11 — merge/upsert composite transforms (SURVEY.md §2 B11).

The reference's soul: idempotent staged merges (insert-missing /
update-changed / close-removed) re-expressed as pure DataFrame transforms
over derived target/incoming fixtures (queries.fixtures), so the DuckDB
oracle can reproduce the exact output state. The JDBC execution of the same
semantics is sources/jdbc.py: tests/test_jdbc_sink.py runs it on DuckDB and
sqlite3 and asserts it equals these transforms, and tests/test_pg_live.py and
the store_pg benchmark run it on a live PostgreSQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from n2kupdate_spark.operators import (
    merge_insert_ignore,
    merge_scd1,
    merge_scd2_changes,
    merge_scd2_close,
    merge_scd3,
    merge_set_replace,
)
from n2kupdate_spark.queries import fixtures as FX
from n2kupdate_spark.queries._registry import register


@register(
    "merge_scd1",
    oracle=f"""
    WITH target AS ({FX.DIM_TARGET_SQL}), incoming AS ({FX.DIM_INCOMING_SQL})
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM incoming
    UNION ALL
    SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal, t.c_mktsegment
    FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.c_custkey = t.c_custkey)
    """,
)
def merge_scd1_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 upsert: incoming wins on overlap, target rows otherwise
    (⟨pub⟩ R/store_language.R insert+update pattern [H])."""
    return merge_scd1(
        FX.dim_target(spark, sf_dir), FX.dim_incoming(spark, sf_dir), keys=["c_custkey"]
    )


@register(
    "merge_insert_ignore",
    oracle=f"""
    WITH target AS ({FX.DIM_TARGET_SQL}), incoming AS ({FX.DIM_INCOMING_SQL})
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM target
    UNION ALL
    SELECT i.c_custkey, i.c_name, i.c_nationkey, i.c_acctbal, i.c_mktsegment
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.c_custkey = i.c_custkey)
    """,
)
def merge_insert_ignore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only insert-if-absent: target wins on overlap (version-chain
    append, ⟨pub⟩ R/store_analysis.R [M])."""
    return merge_insert_ignore(
        FX.dim_target(spark, sf_dir), FX.dim_incoming(spark, sf_dir), keys=["c_custkey"]
    )


@register(
    "merge_set_replace",
    oracle=f"""
    WITH t AS ({FX.MEMBERSHIP_TARGET_SQL}), i AS ({FX.MEMBERSHIP_INCOMING_SQL})
    SELECT grp, member FROM i
    UNION ALL
    SELECT t.grp, t.member FROM t
    WHERE NOT EXISTS (SELECT 1 FROM i WHERE i.grp = t.grp)
    """,
)
def merge_set_replace_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership replaced wholesale per group present in the batch; absent
    groups untouched (⟨pub⟩ R/store_location_group_location.R [M])."""
    return merge_set_replace(
        FX.membership_target(spark, sf_dir),
        FX.membership_incoming(spark, sf_dir),
        group_cols=["grp"],
    )


@register(
    "merge_scd2_close",
    oracle=f"""
    WITH t AS ({FX.MEMBERSHIP_SCD2_TARGET_SQL}),
         i AS ({FX.MEMBERSHIP_INCOMING_SQL})
    SELECT t.grp, t.member, t.valid_from,
           CASE WHEN i.member IS NULL THEN '{FX.BATCH_TS}' ELSE NULL END AS valid_to
    FROM t LEFT JOIN i ON t.grp = i.grp AND t.member = i.member
    UNION ALL
    SELECT i.grp, i.member, '{FX.BATCH_TS}' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
    FROM i
    WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.grp = i.grp AND t.member = i.member)
    """,
)
def merge_scd2_close_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity-window merge: open rows absent from the batch are closed at
    the explicit batch_ts; new keys open at batch_ts (destroy-timestamp
    semantics, deterministic — SURVEY.md §7.4.7)."""
    return merge_scd2_close(
        FX.from_sql(spark, sf_dir, FX.MEMBERSHIP_SCD2_TARGET_SQL),
        FX.membership_incoming(spark, sf_dir),
        keys=["grp", "member"],
        batch_ts=FX.BATCH_TS,
    )


@register(
    "merge_scd2_asof",
    oracle=f"""
    WITH t AS ({FX.MEMBERSHIP_SCD2_TARGET_SQL}),
         i AS ({FX.MEMBERSHIP_INCOMING_SQL}),
         hist AS (
             SELECT t.grp, t.member, t.valid_from,
                    CASE WHEN i.member IS NULL THEN '{FX.BATCH_TS}'
                         ELSE NULL END AS valid_to
             FROM t LEFT JOIN i ON t.grp = i.grp AND t.member = i.member
             UNION ALL
             SELECT i.grp, i.member, '{FX.BATCH_TS}' AS valid_from,
                    CAST(NULL AS VARCHAR) AS valid_to
             FROM i
             WHERE NOT EXISTS (SELECT 1 FROM t
                               WHERE t.grp = i.grp AND t.member = i.member)
         )
    SELECT '2025-06-01 00:00:00' AS as_of, grp, member FROM hist
    WHERE valid_from <= '2025-06-01 00:00:00'
      AND (valid_to IS NULL OR valid_to > '2025-06-01 00:00:00')
    UNION ALL
    SELECT '2026-06-01 00:00:00' AS as_of, grp, member FROM hist
    WHERE valid_from <= '2026-06-01 00:00:00'
      AND (valid_to IS NULL OR valid_to > '2026-06-01 00:00:00')
    """,
)
def merge_scd2_asof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SCD2 history: membership as-of a timestamp
    before the batch (= the pre-merge state) and one after it (= the
    post-merge state), from ONE history table — the query pattern that
    justifies keeping validity windows instead of overwriting. Probing both
    instants in one plan shows closed rows excluded at the later probe and
    batch-opened rows excluded at the earlier one."""
    from pyspark.sql import functions as F

    from n2kupdate_spark.operators.merge import scd2_asof

    hist = merge_scd2_close(
        FX.from_sql(spark, sf_dir, FX.MEMBERSHIP_SCD2_TARGET_SQL),
        FX.membership_incoming(spark, sf_dir),
        keys=["grp", "member"],
        batch_ts=FX.BATCH_TS,
    )

    def probe(ts: str) -> DataFrame:
        return scd2_asof(hist, ts).select(
            F.lit(ts).alias("as_of"), "grp", "member"
        )

    return probe("2025-06-01 00:00:00").unionByName(probe("2026-06-01 00:00:00"))


@register(
    "merge_scd2_changes",
    oracle=f"""
    WITH t AS ({FX.DIM_SCD2_TARGET_SQL}),
         i AS ({FX.DIM_INCOMING_PARTIAL_SQL}),
         m AS (SELECT t.*, i.c_custkey AS i_key, i.c_name AS i_name,
                      i.c_nationkey AS i_nat, i.c_acctbal AS i_bal,
                      i.c_mktsegment AS i_seg,
                      NOT (t.c_name IS NOT DISTINCT FROM i.c_name
                           AND t.c_nationkey IS NOT DISTINCT FROM i.c_nationkey
                           AND t.c_acctbal IS NOT DISTINCT FROM i.c_acctbal
                           AND t.c_mktsegment IS NOT DISTINCT FROM i.c_mktsegment)
                          AS changed
               FROM t LEFT JOIN i ON t.c_custkey = i.c_custkey)
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           valid_from, valid_to
    FROM m WHERE i_key IS NOT NULL AND NOT changed
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           valid_from, '{FX.BATCH_TS}' AS valid_to
    FROM m WHERE i_key IS NULL OR changed
    UNION ALL
    SELECT c_custkey, i_name, i_nat, i_bal, i_seg,
           '{FX.BATCH_TS}' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
    FROM m WHERE i_key IS NOT NULL AND changed
    UNION ALL
    SELECT i.c_custkey, i.c_name, i.c_nationkey, i.c_acctbal, i.c_mktsegment,
           '{FX.BATCH_TS}' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
    FROM i WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.c_custkey = i.c_custkey)
    """,
)
def merge_scd2_changes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full classic SCD2 with attribute-change detection: unchanged keys
    untouched, changed keys closed-and-reopened at batch_ts, absent keys
    closed, new keys opened (close-removed + update-changed + insert-missing
    in ONE versioned transform — the reference's store_* triple over a
    destroy-timestamp table). The partial-change incoming fixture exercises
    every branch."""
    return merge_scd2_changes(
        FX.from_sql(spark, sf_dir, FX.DIM_SCD2_TARGET_SQL),
        FX.dim_incoming_partial(spark, sf_dir),
        keys=["c_custkey"],
        compare_cols=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        batch_ts=FX.BATCH_TS,
    )


@register(
    "scd2_window_rebuild",
    oracle="""
    SELECT user_id, event_id,
           ROUND(value, 4) AS value,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS valid_from_s,
           lead(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
               OVER (PARTITION BY user_id
                     ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT) ASC,
                              event_id ASC) AS valid_to_s
    FROM events
    """,
)
def scd2_window_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuild an SCD2 validity-window history FROM a change-event log:
    each event's value is valid from its timestamp until the key's next
    event (NULL = still current) — the inverse of merge_scd2_close, turning
    append-only logs into the destroy-timestamp tables the reference
    queries. One lead() window over a user_id shuffle; at scale this is the
    standard backfill for retrofitting validity windows onto event-sourced
    data (partition-prunable once written out by date(valid_from))."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from n2kupdate_spark.queries.streaming_batch import ts_seconds
    from n2kupdate_spark.sources import load

    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.round("value", 4).alias("value"),
        ts_seconds("ts").alias("valid_from_s"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("valid_from_s").asc(), F.col("event_id").asc()
    )
    return e.select(
        "user_id", "event_id", "value", "valid_from_s",
        F.lead("valid_from_s").over(w).alias("valid_to_s"),
    )

@register(
    "merge_scd3",
    oracle=f"""
    WITH target AS ({FX.DIM_SCD3_TARGET_SQL}),
    incoming AS ({FX.DIM_INCOMING_PARTIAL_SQL})
    SELECT i.c_custkey, i.c_name, i.c_nationkey, i.c_acctbal, i.c_mktsegment,
           t.c_acctbal AS prev_c_acctbal
    FROM target t JOIN incoming i USING (c_custkey)
    WHERE i.c_acctbal IS DISTINCT FROM t.c_acctbal
    UNION ALL
    SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal, t.c_mktsegment,
           t.prev_c_acctbal
    FROM target t JOIN incoming i USING (c_custkey)
    WHERE i.c_acctbal IS NOT DISTINCT FROM t.c_acctbal
    UNION ALL
    SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal, t.c_mktsegment,
           t.prev_c_acctbal
    FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.c_custkey = t.c_custkey)
    UNION ALL
    SELECT i.c_custkey, i.c_name, i.c_nationkey, i.c_acctbal, i.c_mktsegment,
           CAST(NULL AS DOUBLE) AS prev_c_acctbal
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.c_custkey = i.c_custkey)
    """,
)
def merge_scd3_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD3 previous-value merge (round 14 — completes the SCD family
    next to SCD1/SCD2): the tracked attribute (c_acctbal) keeps its
    immediately-previous value in prev_c_acctbal when a batch changes
    it; unchanged/absent keys untouched, new keys insert with NULL
    history; non-tracked attributes follow SCD1. The partial-incoming
    fixture exercises all four branches (changed / unchanged-overlap /
    target-only / new)."""
    return merge_scd3(
        FX.from_sql(spark, sf_dir, FX.DIM_SCD3_TARGET_SQL),
        FX.dim_incoming_partial(spark, sf_dir),
        keys=["c_custkey"], tracked_col="c_acctbal",
    )


@register(
    "merge_scd4",
    oracle=f"""
    WITH target AS ({FX.DIM_TARGET_SQL}),
         incoming AS ({FX.DIM_INCOMING_PARTIAL_SQL}),
         hist0 AS ({FX.DIM_HISTORY_SQL}),
         diff AS (
             SELECT t.c_custkey,
                    (i.c_name IS DISTINCT FROM t.c_name
                     OR i.c_nationkey IS DISTINCT FROM t.c_nationkey
                     OR i.c_acctbal IS DISTINCT FROM t.c_acctbal
                     OR i.c_mktsegment IS DISTINCT FROM t.c_mktsegment) AS chg
             FROM target t JOIN incoming i USING (c_custkey)
         )
    SELECT i.c_custkey, i.c_name, i.c_nationkey, i.c_acctbal, i.c_mktsegment,
           CAST(NULL AS VARCHAR) AS archived_at, 'current' AS tbl
    FROM incoming i JOIN diff d USING (c_custkey) WHERE d.chg
    UNION ALL
    SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal, t.c_mktsegment,
           CAST(NULL AS VARCHAR) AS archived_at, 'current' AS tbl
    FROM target t JOIN diff d USING (c_custkey) WHERE NOT d.chg
    UNION ALL
    SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal, t.c_mktsegment,
           CAST(NULL AS VARCHAR) AS archived_at, 'current' AS tbl
    FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.c_custkey = t.c_custkey)
    UNION ALL
    SELECT i.c_custkey, i.c_name, i.c_nationkey, i.c_acctbal, i.c_mktsegment,
           CAST(NULL AS VARCHAR) AS archived_at, 'current' AS tbl
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.c_custkey = i.c_custkey)
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           archived_at, 'history' AS tbl
    FROM hist0
    UNION ALL
    SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal, t.c_mktsegment,
           '{FX.BATCH_TS}' AS archived_at, 'history' AS tbl
    FROM target t JOIN diff d USING (c_custkey) WHERE d.chg
    """,
)
def merge_scd4_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD4 current+history merge (round 15 — the last Kimball type
    after r14's SCD3): the current table overwrites in place (SCD1
    semantics) while every superseded version lands in a separate
    append-only history table stamped archived_at = batch_ts; existing
    history passes through untouched. Both tables come from ONE
    key-partitioned diff; this query unions them under a `tbl`
    discriminator so the single-frame oracle can check both at once.
    The partial-incoming fixture exercises all four current-table
    branches (changed / unchanged-overlap / target-only / new) plus
    the two history branches (pass-through / newly archived)."""
    from pyspark.sql import functions as F

    from n2kupdate_spark.operators import merge_scd4

    cur, hist = merge_scd4(
        FX.dim_target(spark, sf_dir),
        FX.dim_history(spark, sf_dir),
        FX.dim_incoming_partial(spark, sf_dir),
        keys=["c_custkey"],
        compare_cols=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        batch_ts=FX.BATCH_TS,
    )
    return cur.withColumn(
        "archived_at", F.lit(None).cast("string")
    ).withColumn("tbl", F.lit("current")).unionByName(
        hist.withColumn("tbl", F.lit("history"))
    )


@register(
    "merge_scd6",
    oracle=f"""
    WITH t AS ({FX.SCD6_TARGET_SQL}),
         i AS ({FX.DIM_INCOMING_PARTIAL_SQL}),
         cur AS (SELECT * FROM t WHERE is_current),
         hist AS (SELECT * FROM t WHERE NOT is_current),
         chg AS (SELECT i.c_custkey, i.c_name, i.c_nationkey, i.c_acctbal,
                        i.c_mktsegment
                 FROM i JOIN cur c ON i.c_custkey = c.c_custkey
                 WHERE i.c_acctbal IS DISTINCT FROM c.c_acctbal)
    SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
           g.c_acctbal AS current_acctbal, c.valid_from,
           '{FX.BATCH_TS}' AS valid_to, FALSE AS is_current
    FROM cur c JOIN chg g ON c.c_custkey = g.c_custkey
    UNION ALL
    SELECT g.c_custkey, g.c_name, g.c_nationkey, g.c_acctbal, g.c_mktsegment,
           g.c_acctbal, '{FX.BATCH_TS}', CAST(NULL AS VARCHAR), TRUE
    FROM chg g
    UNION ALL
    SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
           c.current_acctbal, c.valid_from, c.valid_to, c.is_current
    FROM cur c
    WHERE NOT EXISTS (SELECT 1 FROM chg g WHERE g.c_custkey = c.c_custkey)
    UNION ALL
    SELECT i.c_custkey, i.c_name, i.c_nationkey, i.c_acctbal, i.c_mktsegment,
           i.c_acctbal, '{FX.BATCH_TS}', CAST(NULL AS VARCHAR), TRUE
    FROM i
    WHERE NOT EXISTS (SELECT 1 FROM cur c WHERE c.c_custkey = i.c_custkey)
    UNION ALL
    SELECT h.c_custkey, h.c_name, h.c_nationkey, h.c_acctbal, h.c_mktsegment,
           CASE WHEN g.c_custkey IS NOT NULL THEN g.c_acctbal
                ELSE h.current_acctbal END,
           h.valid_from, h.valid_to, h.is_current
    FROM hist h LEFT JOIN chg g ON h.c_custkey = g.c_custkey
    """,
)
def merge_scd6_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD6 hybrid merge (round 16 — completes the Kimball family after
    1/2/3/4): type-2 row chain + per-row historical value + the
    dimension-wide ``current_acctbal`` mirror rewritten retroactively on
    every version of a changed key (the type-1 sweep that lets any
    history row answer "as of today" without a self-join). SQL-oracle
    slot per the merge_scd3/scd4 debut standard: five cross-engine
    branches (close / fresh / pass-through / insert / history sweep)
    with string-timestamp boundaries and a null-safe tracked compare —
    exactly the novel-SQL-semantics class the §5.2 policy reserves slots
    for. The partial-incoming fixture exercises every branch: changed
    keys (% 4 == 0) with and without history (% 5), unchanged overlap,
    target-only, incoming-only, and untouched history."""
    from n2kupdate_spark.operators import merge_scd6

    return merge_scd6(
        FX.scd6_target(spark, sf_dir),
        FX.dim_incoming_partial(spark, sf_dir),
        keys=["c_custkey"],
        tracked_col="c_acctbal",
        batch_ts=FX.BATCH_TS,
        current_col="current_acctbal",
    )
