"""Batch edge cases of the store path, pinned on every backend: DuckDB and
sqlite3 (``DbApiBackend``), live PostgreSQL (``DbApiBackend`` over
``PsqlConnection``, and ``PgParallelBackend``, which opens one itself).

- staging keeps NULL, ``""``, NaN, timestamps, dates, decimals and booleans
  as the values the engine is given;
- rows repeating a fingerprint store one deterministic winner, and storing
  the batch again changes nothing;
- NULL natural keys are rejected with ``ValidationError`` before the
  target is touched, and leave no staging relation behind — nor does a
  failed staging write or an empty batch;
- a ``store_*`` call runs exactly one Spark job (the staging write) and
  opens no database session beyond the backend's own;
- the Arrow COPY encoder writes what the per-value encoder writes.
"""

from __future__ import annotations

import datetime as dt
import decimal
import sqlite3
import time

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from n2kupdate_spark.api import N2kStore, ValidationError
from n2kupdate_spark.sources import jdbc
from n2kupdate_spark.sources.jdbc import DbApiBackend, PgParallelBackend
from n2kupdate_spark.sources.pg_psql import PsqlConnection, PsqlError, _copy_block, _copy_field

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
        """Every table or view named like a staging relation."""
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
        pytest.skip(f"PostgreSQL session unavailable: {e}")


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
#: and dates as ISO text, booleans as 0/1. ``PsqlConnection`` returns text.
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


def test_failed_or_empty_staging_leaves_nothing_behind(spark, engine, monkeypatch):
    """A task that dies during the staging write fails the call with its
    own error — also when it dies after another task's batches were
    staged, mid-collect. An empty batch stores nothing. Either way the
    target is as it was, no staging relation is left, and the connection
    still works."""
    staged = []

    def counted(df, _inner=jdbc._arrow_batches):
        for batch in _inner(df):
            staged.append(batch.num_rows)
            yield batch

    monkeypatch.setattr(jdbc, "_arrow_batches", counted)
    st = N2kStore(engine.backend)
    boom = F.udf(lambda d: d if d != "boom" else str(1 // 0), "string")
    bad = _lang(spark, [("nl", "Dutch"), ("xx", "boom")], partitions=2)
    with pytest.raises(Exception, match="ZeroDivisionError"):
        st.store_language(bad.withColumn("description", boom("description")))
    # Partition 0 (ids 0-99) is collected while partition 1 waits to fail.
    late_boom = F.udf(lambda d: d if d != "boom" else str(time.sleep(1.5) or 1 // 0), "string")
    ids = spark.range(0, 200, numPartitions=2)
    late = ids.select(F.concat(F.lit("c"), F.col("id").cast("string")).alias("code"),
                      late_boom(F.when(F.col("id") == 150, "boom").otherwise("ok")).alias("description"))
    del staged[:]
    with pytest.raises(Exception, match="ZeroDivisionError"):
        st.store_language(late)
    assert staged == [100]
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


OBSERVATION_DDL = (
    "CREATE TABLE observation (external_code VARCHAR, datafield VARCHAR, "
    "location VARCHAR, year INT, parent_observation VARCHAR, fingerprint VARCHAR)"
)


def _observations(spark):
    return spark.createDataFrame(
        [(f"O{i}", "df1", f"loc{i % 7}", 2000 + i % 20, None) for i in range(400)],
        "external_code string, datafield string, location string, year int, "
        "parent_observation string",
    )


def test_parallel_store_observation_runs_one_spark_job(spark, pg_server):
    con = _pg_con(pg_server)
    con.execute(OBSERVATION_DDL)
    try:
        obs = _observations(spark)
        backend = PgParallelBackend(host=pg_server["host"], port=pg_server["port"],
                                    max_parallel=obs.rdd.getNumPartitions())
        st = N2kStore(backend)
        assert _jobs_in_group(spark, "n2k-one-job-fact", lambda: st.store_observation(obs)) == 1
        assert con.execute("SELECT COUNT(*) FROM observation").fetchone() == ("400",)
        backend.con.close()
    finally:
        con.execute("DROP TABLE observation")
        con.close()


def test_parallel_store_observation_opens_no_other_session(spark, pg_server):
    """The batch is staged over the backend's own session: the call
    establishes no other PostgreSQL session. ``pg_stat_database.sessions``
    counts a session once it has answered its first statement, so the
    sessions of both connections here are counted before the call."""
    con = _pg_con(pg_server)
    con.execute(OBSERVATION_DDL)
    backend = PgParallelBackend(host=pg_server["host"], port=pg_server["port"], max_parallel=4)
    sessions = "SELECT sessions FROM pg_stat_database WHERE datname = current_database()"
    try:
        before = con.execute(sessions).fetchone()
        N2kStore(backend).store_observation(_observations(spark).repartition(4))
        assert con.execute(sessions).fetchone() == before
        assert con.execute("SELECT COUNT(*) FROM observation").fetchone() == ("400",)
    finally:
        backend.con.close()
        con.execute("DROP TABLE observation")
        con.close()


# --- the Arrow COPY encoder -------------------------------------------------

#: Every staging column type (``jdbc._SQL_TYPE`` plus decimal).
ENCODER_SCHEMA = ("k bigint, i int, h smallint, y tinyint, f double, r float, s string, "
                  "b boolean, ts timestamp, d date, dec decimal(38,10)")
ENCODER_ROWS = [
    (1, None, None, None, None, None, None, None, None, None, None),
    (2, 0, 0, 0, float("nan"), float("nan"), "", False,
     dt.datetime(1999, 12, 31, 23, 59, 59), dt.date(1, 1, 1), decimal.Decimal("0")),
    (3, -2**31, -2**15, -128, float("inf"), float("inf"), "\\.", True,
     dt.datetime(2024, 1, 2, 3, 4, 5, 678901), dt.date(9999, 12, 31), decimal.Decimal("-12.3")),
    (4, 2**31 - 1, 2**15 - 1, 127, float("-inf"), float("-inf"), "\\N", None,
     dt.datetime(1970, 1, 1, 0, 0, 0, 5), dt.date(2024, 2, 29),
     decimal.Decimal("9999999999999999999999999999.9999999999")),
    (5, 7, 7, 7, 3.0, 3.0, ESCAPES, True, None, None, decimal.Decimal("0.0000000001")),
    (6, -7, -7, -7, -0.0, -0.0, "h\u00e9llo \u2713", False, None, None, None),
    (7, 1, 1, 1, 0.1 + 0.2, 0.1, "tab\t", None, None, None, None),
    (8, 2, 2, 2, 1e300, 3.4028234663852886e38, "\\", None, None, None, None),
    (9, 3, 3, 3, 5e-324, 1e-45, "\n", None, None, None, None),
    (2**63 - 1, 4, 4, 4, -1.5e-7, -2.5, "\r\n", None, None, None, None),
    (-2**63, 5, 5, 5, 123456789.0, 16777216.0, " ", None, None, None, None),
]


def test_copy_block_matches_copy_field(spark, pg_server):
    """``_copy_block`` (Arrow kernels) against ``_copy_field`` (one value at
    a time, on the values the executemany path binds), over several
    record batches and an empty partition. Every non-float column is
    byte-identical. Floats may be spelled shorter (``3`` for ``3.0``), so
    both texts are COPYed into PostgreSQL and must read back the same. A
    type the encoder has no text for is rejected."""
    rows = spark.sparkContext.parallelize(ENCODER_ROWS, 2).union(spark.sparkContext.parallelize([], 1))
    df = spark.createDataFrame(rows, ENCODER_SCHEMA)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        batches = list(jdbc._arrow_batches(df))
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert len(batches) > 2 and sum(b.num_rows for b in batches) == len(ENCODER_ROWS)
    assert _copy_block(batches[0].slice(0, 0)) == b""
    with pytest.raises(ValueError, match="no COPY text encoding"):  # not naive local time
        _copy_block(pa.record_batch([pa.array([0], pa.timestamp("us", tz="UTC"))], names=["ts"]))

    def reference(batch):
        return zip(*map(jdbc._py_values, batch.columns))

    exact = [c for c in df.columns if c not in ("f", "r")]
    for batch in batches:
        batch = batch.select(exact)
        want = "".join("\t".join(map(_copy_field, r)) + "\n" for r in reference(batch))
        assert bytes(_copy_block(batch)) == want.encode()

    con = _pg_con(pg_server)
    coldefs = ", ".join(f"{f.name} {jdbc._sql_type(f.dataType)}" for f in df.schema.fields)
    try:
        for t in ("enc_arrow", "enc_ref"):
            con.execute(f"CREATE TABLE {t} ({coldefs})")
        con.copy_arrow("enc_arrow", df.columns, batches)
        con.copy_from_csv("enc_ref", df.columns, (r for b in batches for r in reference(b)))
        got = con.execute("SELECT * FROM enc_arrow ORDER BY k").fetchall()
        assert got == con.execute("SELECT * FROM enc_ref ORDER BY k").fetchall()
        assert len(got) == len(ENCODER_ROWS)
    finally:
        for t in ("enc_arrow", "enc_ref"):
            con.execute(f"DROP TABLE IF EXISTS {t}")
        con.close()
