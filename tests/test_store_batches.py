"""Batch edge cases of the store path, pinned on every backend: DuckDB and
sqlite3 (``DbApiBackend``), live PostgreSQL (``DbApiBackend`` over the psql
shim, and ``PgParallelBackend`` where the staging path differs).

- staging keeps NULL, ``""``, NaN, timestamps, dates, decimals and booleans
  as the values the engine is given;
- rows repeating a fingerprint store one deterministic winner, and storing
  the batch again changes nothing;
- NULL natural keys are rejected with ``ValidationError`` before the
  target is touched, and leave no staging relation behind — nor does a
  failed staging write or an empty batch;
- a ``store_*`` call runs exactly one Spark job (the staging write).
"""

from __future__ import annotations

import datetime as dt
import decimal
import sqlite3

import duckdb
import pytest
from pyspark.sql import functions as F

from n2kupdate_spark.api import N2kStore, ValidationError
from n2kupdate_spark.sources.jdbc import DbApiBackend, PgParallelBackend
from n2kupdate_spark.sources.pg_psql import PsqlConnection, PsqlError

LANGUAGE_DDL = "CREATE TABLE language (code VARCHAR, description VARCHAR, fingerprint VARCHAR)"
VERSIONED_DDL = (
    "CREATE TABLE lang_v (code VARCHAR, description VARCHAR, "
    "valid_from VARCHAR, valid_to VARCHAR)"
)


class Engine:
    """A database behind one backend, with the catalog queries the
    assertions need."""

    def __init__(self, name: str, con, backend):
        self.name, self.con, self.backend = name, con, backend

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def staging_relations(self) -> list[str]:
        """Every table or view named like a staging relation, including
        PgParallelBackend's per-task ``_p<n>`` tables."""
        if self.name == "sqlite3":
            sql = ("SELECT name FROM sqlite_master "
                   "WHERE type IN ('table', 'view') AND name LIKE 'staging%'")
        else:
            sql = ("SELECT table_name FROM information_schema.tables "
                   "WHERE table_name LIKE 'staging%'")
        return [r[0] for r in self.rows(sql)]


def _pg_con(pg_server):
    try:
        return PsqlConnection(host=pg_server["host"], port=pg_server["port"])
    except (PsqlError, OSError) as e:  # pragma: no cover - env-dependent
        pytest.skip(f"psql session unavailable: {e}")


@pytest.fixture(params=["duckdb", "sqlite3", "pg", "pg_parallel"])
def engine(request):
    name = request.param
    if name == "duckdb":
        con = duckdb.connect()
        backend = DbApiBackend(con)
    elif name == "sqlite3":
        con = sqlite3.connect(":memory:", isolation_level=None)  # the sink holds BEGIN/COMMIT
        backend = DbApiBackend(con)
    else:
        pg_server = request.getfixturevalue("pg_server")
        con = _pg_con(pg_server)
        backend = (
            DbApiBackend(con) if name == "pg"
            else PgParallelBackend(host=pg_server["host"], port=pg_server["port"], max_parallel=2)
        )
    eng = Engine(name, con, backend)
    con.execute(LANGUAGE_DDL)
    con.execute(VERSIONED_DDL)
    yield eng
    con.execute("DROP TABLE language")
    con.execute("DROP TABLE lang_v")
    if backend.con is not con:
        backend.con.close()
    con.close()


def _lang(spark, rows, partitions: int | None = None):
    df = spark.createDataFrame(rows, "code string, description string")
    return df if partitions is None else df.repartition(partitions)


# --- staging type round-trip ------------------------------------------------

TYPED_SCHEMA = ("k bigint, s string, f double, ts timestamp, d date, "
                "dec decimal(10,2), b boolean")
#: A string holding every character COPY's text format escapes, a literal
#: ``\N`` (its NULL marker) and a lone ``\.`` line (its end-of-data marker).
ESCAPES = "tab\there\\back\\slash \\N\r\n\\.\nlast"
TYPED_ROWS = [
    (1, None, None, None, None, None, None),
    (2, "", float("nan"), dt.datetime(2024, 1, 2, 3, 4, 5, 678901), dt.date(2024, 2, 29),
     decimal.Decimal("-12.30"), True),
    (3, "x", 1.5, dt.datetime(1999, 12, 31, 23, 59, 59), dt.date(1970, 1, 1),
     decimal.Decimal("0.05"), False),
    (4, ESCAPES, -0.25, None, None, None, None),
]
#: What each engine holds after staging TYPED_ROWS, as its driver returns
#: it: NULL stays NULL and "" stays "", NaN is staged as NULL, timestamps
#: keep the wall-clock time they were given. sqlite3 has no DECIMAL,
#: TIMESTAMP or BOOLEAN storage class: decimals land as REAL, timestamps
#: and dates as ISO text, booleans as 0/1. The psql shim returns text.
STAGED = {
    "duckdb": [
        (1, None, None, None, None, None, None),
        (2, "", None, dt.datetime(2024, 1, 2, 3, 4, 5, 678901), dt.date(2024, 2, 29),
         decimal.Decimal("-12.30"), True),
        (3, "x", 1.5, dt.datetime(1999, 12, 31, 23, 59, 59), dt.date(1970, 1, 1),
         decimal.Decimal("0.05"), False),
        (4, ESCAPES, -0.25, None, None, None, None),
    ],
    "sqlite3": [
        (1, None, None, None, None, None, None),
        (2, "", None, "2024-01-02 03:04:05.678901", "2024-02-29", -12.3, 1),
        (3, "x", 1.5, "1999-12-31 23:59:59", "1970-01-01", 0.05, 0),
        (4, ESCAPES, -0.25, None, None, None, None),
    ],
    "pg": [
        ("1", None, None, None, None, None, None),
        ("2", "", None, "2024-01-02 03:04:05.678901", "2024-02-29", "-12.30", "t"),
        ("3", "x", "1.5", "1999-12-31 23:59:59", "1970-01-01", "0.05", "f"),
        ("4", ESCAPES, "-0.25", None, None, None, None),
    ],
}
STAGED["pg_parallel"] = STAGED["pg"]


def test_staging_type_roundtrip(spark, engine):
    """NULL vs "" vs NaN, a timestamp, a date, a decimal, a boolean and
    COPY's escape characters through ``write_staging``. The sqlite3 case is
    also the regression for decimals, which sqlite3 cannot bind as
    ``Decimal``."""
    df = spark.createDataFrame(TYPED_ROWS, TYPED_SCHEMA)
    engine.backend.write_staging(df, "staging_types")
    try:
        got = engine.rows("SELECT * FROM staging_types ORDER BY k")
    finally:
        engine.backend.drop_staging("staging_types")
    assert got == STAGED[engine.name]
    assert engine.staging_relations() == []


# --- duplicate fingerprints inside one batch --------------------------------

def test_duplicate_keys_store_one_deterministic_winner(spark, engine):
    """Rows sharing a fingerprint with different attributes: the merge keeps
    the first in ascending attribute order, NULLs last, on every engine —
    whatever order the rows arrive in — and returns that same row."""
    batch = _lang(spark, [
        ("nl", "b"), ("fr", "French"), ("nl", "a"), ("de", None), ("de", "z"), ("nl", "c"),
    ], partitions=3)
    out = N2kStore(engine.backend).store_language(batch)
    want = [("de", "z"), ("fr", "French"), ("nl", "a")]
    stored = sorted(engine.rows("SELECT code, description, fingerprint FROM language"))
    assert [r[:2] for r in stored] == want
    assert sorted(map(tuple, out.collect())) == stored
    N2kStore(engine.backend).store_language(batch)
    assert sorted(engine.rows("SELECT code, description, fingerprint FROM language")) == stored
    assert engine.staging_relations() == []


# --- NULL natural keys ------------------------------------------------------

def test_null_keys_rejected_before_write(spark, engine):
    """``_store`` and ``store_versioned_dim`` share one guard: the probe on
    the staged batch. It raises the NULL natural-key error, leaves the
    target as it was and drops every staging relation."""
    st = N2kStore(engine.backend)
    st.store_language(_lang(spark, [("nl", "Dutch")]))
    st.store_versioned_dim(_lang(spark, [("nl", "Dutch")]), "lang_v", ["code"],
                           ["description"], batch_ts="2026-01-01 00:00:00")
    before = {t: sorted(engine.rows(f"SELECT * FROM {t}")) for t in ("language", "lang_v")}
    bad = _lang(spark, [("fr", "French"), (None, "mystery"), ("de", "German"), (None, "x")],
                partitions=2)

    with pytest.raises(ValidationError, match="2 rows with NULL natural-key"):
        st.store_language(bad)
    with pytest.raises(ValidationError, match="2 rows with NULL natural-key"):
        st.store_versioned_dim(bad, "lang_v", ["code"], ["description"],
                               batch_ts="2026-02-01 00:00:00")
    assert {t: sorted(engine.rows(f"SELECT * FROM {t}")) for t in before} == before
    assert engine.staging_relations() == []


def test_failed_or_empty_staging_leaves_nothing_behind(spark, engine):
    """A task that dies during the staging write fails the call with its
    own error; an empty batch stores nothing. Either way the target is as
    it was and no staging relation is left (PgParallelBackend's staging
    table then has no child table, or only some)."""
    st = N2kStore(engine.backend)
    boom = F.udf(lambda d: d if d != "boom" else str(1 // 0), "string")
    bad = _lang(spark, [("nl", "Dutch"), ("xx", "boom")], partitions=2)
    with pytest.raises(Exception, match="ZeroDivisionError"):
        st.store_language(bad.withColumn("description", boom("description")))
    st.store_language(_lang(spark, []))
    assert engine.rows("SELECT * FROM language") == []
    assert engine.staging_relations() == []


# --- one Spark job per store call -------------------------------------------

def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_store_language_runs_one_spark_job(spark):
    con = duckdb.connect()
    con.execute(LANGUAGE_DDL)
    st = N2kStore(DbApiBackend(con))
    batch = _lang(spark, [("nl", "Dutch"), ("fr", "French"), ("nl", "Nederlands")])
    assert _jobs_in_group(spark, "n2k-one-job-dim", lambda: st.store_language(batch)) == 1
    assert con.execute("SELECT COUNT(*) FROM language").fetchone()[0] == 2
    con.close()


def test_parallel_store_observation_runs_one_spark_job(spark, pg_server):
    con = _pg_con(pg_server)
    con.execute(
        "CREATE TABLE observation (external_code VARCHAR, datafield VARCHAR, "
        "location VARCHAR, year INT, parent_observation VARCHAR, fingerprint VARCHAR)"
    )
    try:
        obs = spark.createDataFrame(
            [(f"O{i}", "df1", f"loc{i % 7}", 2000 + i % 20, None) for i in range(400)],
            "external_code string, datafield string, location string, year int, "
            "parent_observation string",
        )
        backend = PgParallelBackend(host=pg_server["host"], port=pg_server["port"],
                                    max_parallel=obs.rdd.getNumPartitions())
        st = N2kStore(backend)
        assert _jobs_in_group(spark, "n2k-one-job-fact", lambda: st.store_observation(obs)) == 1
        assert con.execute("SELECT COUNT(*) FROM observation").fetchone() == ("400",)
        backend.con.close()
    finally:
        con.execute("DROP TABLE observation")
        con.close()
