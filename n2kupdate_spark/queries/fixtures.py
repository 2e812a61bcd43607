"""Derived staging/target fixtures for the merge-family operators.

The reference mutates a live PostgreSQL database; our merge operators are
pure transforms, so "current state" and "incoming batch" are *derived
identically in Spark and in the DuckDB oracle* from the customer table
(FIXTURES.md §2) — that keeps every merge hash-checkable:

- dim_target      : customers with c_custkey % 3 <> 0
- dim_incoming    : customers with c_custkey % 2 = 0, acctbal bumped +10
                    (overlap keys → the update branch; %6==0-ish keys → insert)
- membership_*    : (grp=c_nationkey, member=c_custkey) pairs; incoming skips
                    nations with c_nationkey % 5 == 1 so set-replacement has
                    untouched groups.
- BATCH_TS        : constant '2026-01-01 00:00:00' (never now() —
                    SURVEY.md §7.4.7).

Each fixture is ONE SQL text over the ``customer`` table, written in the
dialect DuckDB and Spark share: the oracles embed it, and the builders
below run the same text in Spark (:func:`from_sql`).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from n2kupdate_spark.sources import load

BATCH_TS = "2026-01-01 00:00:00"

DIM_TARGET_SQL = "SELECT * FROM customer WHERE c_custkey % 3 <> 0"
DIM_INCOMING_SQL = (
    "SELECT c_custkey, c_name, c_nationkey, ROUND(c_acctbal + 10, 2) AS c_acctbal, "
    "c_mktsegment FROM customer WHERE c_custkey % 2 = 0"
)
#: Incoming batch where only some overlapping keys actually change
#: (c_custkey % 4 == 0 gets an acctbal bump) — exercises the
#: unchanged / changed / absent / new branches of attribute-diffing merges.
DIM_INCOMING_PARTIAL_SQL = (
    "SELECT c_custkey, c_name, c_nationkey, "
    "ROUND(c_acctbal + CASE WHEN c_custkey % 4 = 0 THEN 10 ELSE 0 END, 2) AS c_acctbal, "
    "c_mktsegment FROM customer WHERE c_custkey % 2 = 0"
)
#: Pre-existing SCD4 history: versions archived by an earlier batch
#: (an acctbal 50 lower than today's), keyed independently of the
#: target slice so pass-through is exercised for keys both inside and
#: outside the current table.
DIM_HISTORY_SQL = (
    "SELECT c_custkey, c_name, c_nationkey, ROUND(c_acctbal - 50, 2) AS c_acctbal, "
    "c_mktsegment, '2025-06-01 00:00:00' AS archived_at "
    "FROM customer WHERE c_custkey % 9 = 0"
)
#: SCD6-shaped target: one open current row per key (valid 2025-01-01 →
#: NULL) plus, for c_custkey % 5 == 0, one closed history row holding an
#: acctbal 50 lower (valid 2024-06-01 → 2025-01-01) — both carrying the
#: dimension-wide current_acctbal mirror an earlier type-1 sweep left at
#: today's value. % 5 (not the SCD4 fixture's % 9) because % 9 ⊂ % 3 and
#: the target slice excludes % 3 == 0 — a % 9 history would be empty.
SCD6_TARGET_SQL = (
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
    "c_acctbal AS current_acctbal, "
    "'2025-01-01 00:00:00' AS valid_from, CAST(NULL AS STRING) AS valid_to, "
    "TRUE AS is_current "
    "FROM customer WHERE c_custkey % 3 <> 0 "
    "UNION ALL "
    "SELECT c_custkey, c_name, c_nationkey, ROUND(c_acctbal - 50, 2), "
    "c_mktsegment, c_acctbal, "
    "'2024-06-01 00:00:00', '2025-01-01 00:00:00', FALSE "
    "FROM customer WHERE c_custkey % 3 <> 0 AND c_custkey % 5 = 0"
)
MEMBERSHIP_TARGET_SQL = (
    "SELECT c_nationkey AS grp, c_custkey AS member FROM customer WHERE c_custkey % 3 <> 0"
)
MEMBERSHIP_INCOMING_SQL = (
    "SELECT c_nationkey AS grp, c_custkey AS member FROM customer "
    "WHERE c_custkey % 2 = 0 AND c_nationkey % 5 <> 1"
)
#: Validity-window targets: every row open since 2025-01-01 (SCD2), or
#: every tracked value without a previous one yet (SCD3).
MEMBERSHIP_SCD2_TARGET_SQL = (
    "SELECT grp, member, '2025-01-01 00:00:00' AS valid_from, "
    f"CAST(NULL AS STRING) AS valid_to FROM ({MEMBERSHIP_TARGET_SQL})"
)
DIM_SCD2_TARGET_SQL = (
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
    "'2025-01-01 00:00:00' AS valid_from, CAST(NULL AS STRING) AS valid_to "
    f"FROM ({DIM_TARGET_SQL})"
)
DIM_SCD3_TARGET_SQL = (
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
    f"CAST(NULL AS DOUBLE) AS prev_c_acctbal FROM ({DIM_TARGET_SQL})"
)


def from_sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run fixture SQL ``text`` in Spark, its ``customer`` table bound to
    ``sf_dir``'s customer frame."""
    return spark.sql(
        re.sub(r"\bcustomer\b", "{customer}", text), customer=load(spark, sf_dir, "customer")
    )


def dim_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    return from_sql(spark, sf_dir, DIM_TARGET_SQL)


def dim_incoming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return from_sql(spark, sf_dir, DIM_INCOMING_SQL)


def dim_incoming_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    return from_sql(spark, sf_dir, DIM_INCOMING_PARTIAL_SQL)


def dim_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    return from_sql(spark, sf_dir, DIM_HISTORY_SQL)


def scd6_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    return from_sql(spark, sf_dir, SCD6_TARGET_SQL)


def membership_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    return from_sql(spark, sf_dir, MEMBERSHIP_TARGET_SQL)


def membership_incoming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return from_sql(spark, sf_dir, MEMBERSHIP_INCOMING_SQL)
