"""JDBC-style upsert sink: the generated merge SQL executed against a real
DBAPI database (DuckDB) must produce the same final state as the pure
DataFrame merge transforms — the two implementations of the reference's
semantics check each other. Also covers idempotence (re-staging the same
batch is a no-op) and rollback on failure."""

from __future__ import annotations

import duckdb
import pytest

from n2kupdate_spark.operators import merge_insert_ignore, merge_scd1
from n2kupdate_spark.queries import fixtures as FX
from n2kupdate_spark.sources.jdbc import DbApiBackend, upsert


@pytest.fixture()
def db(spark, sf_dir):
    con = duckdb.connect()
    target_pdf = FX.dim_target(spark, sf_dir).toPandas()
    con.register("__seed", target_pdf)
    con.execute("CREATE TABLE customer_t AS SELECT * FROM __seed")
    con.unregister("__seed")
    yield con
    con.close()


def _state(con):
    return sorted(
        map(
            tuple,
            con.execute(
                "SELECT c_custkey, c_name, c_nationkey, ROUND(c_acctbal, 2), c_mktsegment "
                "FROM customer_t"
            ).fetchall(),
        )
    )


def test_scd1_sink_matches_pure_transform(spark, sf_dir, db):
    incoming = FX.dim_incoming(spark, sf_dir)
    upsert(incoming, "customer_t", ["c_custkey"], DbApiBackend(db), mode="scd1")

    expected = merge_scd1(
        FX.dim_target(spark, sf_dir), incoming, keys=["c_custkey"]
    ).toPandas()
    exp = sorted(
        (r[0], r[1], r[2], round(r[3], 2), r[4])
        for r in expected.itertuples(index=False, name=None)
    )
    assert _state(db) == exp


def test_scd1_sink_is_idempotent(spark, sf_dir, db):
    incoming = FX.dim_incoming(spark, sf_dir)
    upsert(incoming, "customer_t", ["c_custkey"], DbApiBackend(db), mode="scd1")
    once = _state(db)
    upsert(incoming, "customer_t", ["c_custkey"], DbApiBackend(db), mode="scd1")
    assert _state(db) == once


def test_insert_ignore_sink_matches_pure_transform(spark, sf_dir, db):
    incoming = FX.dim_incoming(spark, sf_dir)
    upsert(incoming, "customer_t", ["c_custkey"], DbApiBackend(db), mode="insert_ignore")
    expected = merge_insert_ignore(
        FX.dim_target(spark, sf_dir), incoming, keys=["c_custkey"]
    ).toPandas()
    exp = sorted(
        (r[0], r[1], r[2], round(r[3], 2), r[4])
        for r in expected.itertuples(index=False, name=None)
    )
    assert _state(db) == exp


def test_staging_dropped_on_clean(spark, sf_dir, db):
    incoming = FX.dim_incoming(spark, sf_dir)
    staging = upsert(
        incoming, "customer_t", ["c_custkey"], DbApiBackend(db), mode="scd1", run_id="fixedrun"
    )
    tables = {r[0] for r in db.execute("SHOW TABLES").fetchall()}
    assert staging not in tables

    staging2 = upsert(
        incoming,
        "customer_t",
        ["c_custkey"],
        DbApiBackend(db),
        mode="scd1",
        run_id="keepme",
        clean=False,
    )
    tables = {r[0] for r in db.execute("SHOW TABLES").fetchall()}
    assert staging2 in tables  # reference's clean=FALSE keeps staging


def test_set_replace_sink(spark, sf_dir, db):
    db.execute("CREATE TABLE membership_t (grp INT, member BIGINT)")
    tgt = FX.membership_target(spark, sf_dir)
    inc = FX.membership_incoming(spark, sf_dir)
    upsert(tgt, "membership_t", ["grp"], DbApiBackend(db), mode="insert_ignore")
    upsert(inc, "membership_t", ["grp"], DbApiBackend(db), mode="set_replace")

    from n2kupdate_spark.operators import merge_set_replace

    expected = merge_set_replace(tgt, inc, group_cols=["grp"]).toPandas()
    got = sorted(map(tuple, db.execute("SELECT grp, member FROM membership_t").fetchall()))
    assert got == sorted(map(tuple, expected.itertuples(index=False, name=None)))


# --- generic-DBAPI (non-register) path: sqlite3 ---------------------------

@pytest.fixture()
def sqlite_db(spark, sf_dir):
    import sqlite3

    con = sqlite3.connect(":memory:", isolation_level=None)
    target_pdf = FX.dim_target(spark, sf_dir).toPandas()
    con.execute(
        "CREATE TABLE customer_t (c_custkey BIGINT, c_name VARCHAR, "
        "c_nationkey INTEGER, c_acctbal DOUBLE PRECISION, c_mktsegment VARCHAR)"
    )
    con.executemany(
        "INSERT INTO customer_t VALUES (?,?,?,?,?)",
        [tuple(r) for r in target_pdf.itertuples(index=False, name=None)],
    )
    yield con
    con.close()


def _sqlite_state(con):
    return sorted(
        (r[0], r[1], r[2], round(r[3], 2), r[4])
        for r in con.execute(
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer_t"
        ).fetchall()
    )


def test_scd1_sink_sqlite3_generic_dbapi(spark, sf_dir, sqlite_db):
    """The typed-DDL + cursor executemany staging path (no duckdb register)
    against a real second engine: same final state as the pure transform."""
    incoming = FX.dim_incoming(spark, sf_dir)
    upsert(incoming, "customer_t", ["c_custkey"], DbApiBackend(sqlite_db), mode="scd1")
    expected = merge_scd1(
        FX.dim_target(spark, sf_dir), incoming, keys=["c_custkey"]
    ).toPandas()
    exp = sorted(
        (r[0], r[1], r[2], round(r[3], 2), r[4])
        for r in expected.itertuples(index=False, name=None)
    )
    assert _sqlite_state(sqlite_db) == exp
    # staging cleaned up on the generic path too
    stages = [
        r[0]
        for r in sqlite_db.execute(
            "SELECT name FROM sqlite_master WHERE type='table' AND name LIKE 'staging%'"
        ).fetchall()
    ]
    assert stages == []


def test_sqlite3_sink_idempotent(spark, sf_dir, sqlite_db):
    incoming = FX.dim_incoming(spark, sf_dir)
    upsert(incoming, "customer_t", ["c_custkey"], DbApiBackend(sqlite_db), mode="scd1")
    once = _sqlite_state(sqlite_db)
    upsert(incoming, "customer_t", ["c_custkey"], DbApiBackend(sqlite_db), mode="scd1")
    assert _sqlite_state(sqlite_db) == once


def test_merge_sql_rejects_hostile_identifiers():
    from n2kupdate_spark.sources.jdbc import (
        sql_merge_scd1,
        sql_merge_scd2_changes,
    )

    with pytest.raises(ValueError):
        sql_merge_scd1("t; DROP TABLE x", "s", ["k"], ["k", "a"])
    with pytest.raises(ValueError):
        sql_merge_scd1("t", "s", ["k"], ["a; --", "k"])
    with pytest.raises(ValueError):
        sql_merge_scd2_changes("t", "s", ["k"], ["a"], batch_ts="2024-01-01' OR '1'='1")
    # well-formed inputs still pass
    assert sql_merge_scd2_changes("t", "s", ["k"], ["a"], batch_ts="2024-01-01 00:00:00")


# --- scd2_changes: server-side SQL vs pure transform ----------------------

def _scd2_target_pdf(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        FX.dim_target(spark, sf_dir)
        .select(
            "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
            F.lit("2025-01-01 00:00:00").alias("valid_from"),
            F.lit(None).cast("string").alias("valid_to"),
        )
        .toPandas()
    )


def _scd2_expected(spark, sf_dir):
    from pyspark.sql import functions as F

    from n2kupdate_spark.operators import merge_scd2_changes
    from n2kupdate_spark.queries import fixtures as FXQ

    target = FX.dim_target(spark, sf_dir).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
        F.lit("2025-01-01 00:00:00").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    out = merge_scd2_changes(
        target,
        FXQ.dim_incoming_partial(spark, sf_dir),
        keys=["c_custkey"],
        compare_cols=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        batch_ts=FXQ.BATCH_TS,
    ).toPandas()
    return sorted(
        (r[0], r[1], r[2], round(r[3], 2), r[4], r[5], r[6])
        for r in out.itertuples(index=False, name=None)
    )


@pytest.mark.parametrize("engine", ["duckdb", "sqlite3"])
def test_scd2_changes_sink_matches_pure_transform(spark, sf_dir, engine):
    from n2kupdate_spark.queries import fixtures as FXQ

    pdf = _scd2_target_pdf(spark, sf_dir)
    if engine == "duckdb":
        con = duckdb.connect()
        con.register("__seed", pdf)
        # explicit VARCHAR casts: an all-NULL pandas object column would
        # otherwise register as INTEGER and reject the timestamp literal
        con.execute(
            "CREATE TABLE dim_t AS SELECT c_custkey, c_name, c_nationkey, "
            "c_acctbal, c_mktsegment, CAST(valid_from AS VARCHAR) AS valid_from, "
            "CAST(valid_to AS VARCHAR) AS valid_to FROM __seed"
        )
        con.unregister("__seed")
    else:
        import sqlite3

        con = sqlite3.connect(":memory:", isolation_level=None)
        con.execute(
            "CREATE TABLE dim_t (c_custkey BIGINT, c_name VARCHAR, c_nationkey "
            "INTEGER, c_acctbal DOUBLE PRECISION, c_mktsegment VARCHAR, "
            "valid_from VARCHAR, valid_to VARCHAR)"
        )
        con.executemany(
            "INSERT INTO dim_t VALUES (?,?,?,?,?,?,?)",
            [tuple(r) for r in pdf.itertuples(index=False, name=None)],
        )
    incoming = FXQ.dim_incoming_partial(spark, sf_dir)
    upsert(
        incoming, "dim_t", ["c_custkey"], DbApiBackend(con), mode="scd2_changes",
        batch_ts=FXQ.BATCH_TS,
    )
    got = sorted(
        (r[0], r[1], r[2], round(r[3], 2), r[4], r[5], r[6])
        for r in con.execute(
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
            "valid_from, valid_to FROM dim_t"
        ).fetchall()
    )
    assert got == _scd2_expected(spark, sf_dir)
    con.close()
