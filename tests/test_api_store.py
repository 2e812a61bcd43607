"""Reference-API parity tests for the store_* facade (SURVEY.md §5.1's
per-function template): junk input → error; minimal valid input stores;
storing twice is a no-op (idempotence); attribute change updates; absent
membership rows are removed on set-replacement."""

from __future__ import annotations

import hashlib

import duckdb
import pytest

from n2kupdate_spark.api import N2kStore, ValidationError
from n2kupdate_spark.sources.jdbc import DbApiBackend


@pytest.fixture()
def store(spark):
    con = duckdb.connect()
    con.execute("CREATE TABLE language (code VARCHAR, description VARCHAR, fingerprint VARCHAR)")
    con.execute(
        "CREATE TABLE species_group_species "
        "(species_group VARCHAR, species VARCHAR, fingerprint VARCHAR)"
    )
    con.execute(
        "CREATE TABLE analysis (file_fingerprint VARCHAR, model_set VARCHAR, "
        "first_year INT, last_year INT, duration INT, fingerprint VARCHAR)"
    )
    yield N2kStore(backend=DbApiBackend(con)), con
    con.close()


def _lang(spark, rows):
    return spark.createDataFrame(rows, "code string, description string")


def test_junk_input_rejected_before_write(spark, store):
    st, con = store
    with pytest.raises(ValidationError, match="missing required"):
        st.store_language(spark.createDataFrame([("nl",)], "code string"))
    with pytest.raises(ValidationError, match="unexpected columns"):
        st.store_language(
            spark.createDataFrame([("nl", "Dutch", 1)], "code string, description string, junk int")
        )
    with pytest.raises(ValidationError, match="NULL natural-key"):
        st.store_language(_lang(spark, [(None, "mystery")]))
    assert con.execute("SELECT COUNT(*) FROM language").fetchone()[0] == 0
    # A caller-named column goes into Spark SQL text only as a plain
    # identifier; this one would close its quotes and add a column.
    hostile = "code`, 1 AS `x"
    with pytest.raises(ValueError, match="invalid SQL identifier"):
        st.store_versioned_dim(
            _lang(spark, [("nl", "Dutch")]).toDF(hostile, "description"), "language_v",
            keys=[hostile], compare_cols=["description"], batch_ts="2026-01-01 00:00:00",
        )
    assert con.execute(
        "SELECT COUNT(*) FROM information_schema.tables WHERE table_name LIKE 'staging%'"
    ).fetchone()[0] == 0


def test_minimal_store_and_idempotence(spark, store):
    st, con = store
    batch = _lang(spark, [("nl", "Dutch"), ("fr", "French")])
    out = st.store_language(batch)
    assert "fingerprint" in out.columns  # input returned augmented
    assert con.execute("SELECT COUNT(*) FROM language").fetchone()[0] == 2
    st.store_language(batch)  # storing the same frame twice: no new rows
    assert con.execute("SELECT COUNT(*) FROM language").fetchone()[0] == 2
    # Under every hash the stored fingerprint is the digest of the
    # '|'-joined key values, and the returned frame (no repeated
    # fingerprint) is exactly what was stored.
    lang = _lang(spark, [("", "empty"), ("a|b", "pipe"), ("é漢🙂", "non-ASCII")])
    members = spark.createDataFrame(
        [("g|1", ""), ("g|1", "sp|2"), ("grüße", "漢🙂")], "species_group string, species string"
    )
    for algo in ("md5", "sha256", "sha1"):
        con.execute("DELETE FROM language")
        con.execute("DELETE FROM species_group_species")
        st_algo = N2kStore(backend=DbApiBackend(con), hash_algo=algo)
        outs = [st_algo.store_language(lang), st_algo.store_species_group_species(members)]
        for out, table, n_keys in zip(outs, ("language", "species_group_species"), (1, 2)):
            stored = sorted(con.execute(f"SELECT * FROM {table}").fetchall())
            assert sorted(map(tuple, out.collect())) == stored
            for row in stored:
                key = "|".join(v for v in row[:n_keys] if v is not None)
                assert row[-1] == hashlib.new(algo, key.encode()).hexdigest()


def test_update_branch_overwrites_attribute(spark, store):
    st, con = store
    st.store_language(_lang(spark, [("nl", "Dutch")]))
    st.store_language(_lang(spark, [("nl", "Nederlands")]))
    rows = con.execute("SELECT code, description FROM language").fetchall()
    assert rows == [("nl", "Nederlands")]  # SCD1: overwritten, not duplicated


def test_set_replacement_closes_absent_members(spark, store):
    st, con = store
    df1 = spark.createDataFrame(
        [("g1", "sp1"), ("g1", "sp2"), ("g2", "spX")],
        "species_group string, species string",
    )
    st.store_species_group_species(df1)
    # g1 loses sp2, gains sp3; g2 untouched (not in the batch)
    df2 = spark.createDataFrame(
        [("g1", "sp1"), ("g1", "sp3")], "species_group string, species string"
    )
    st.store_species_group_species(df2)
    got = sorted(
        con.execute("SELECT species_group, species FROM species_group_species").fetchall()
    )
    assert got == [("g1", "sp1"), ("g1", "sp3"), ("g2", "spX")]


def test_versioned_analysis_append_only(spark, store):
    st, con = store
    a = spark.createDataFrame(
        [("fp1", "ms1", 2000, 2020, 21)],
        "file_fingerprint string, model_set string, first_year int, last_year int, duration int",
    )
    st.store_analysis(a)
    # same natural key, *changed* attribute: append-only → original kept
    a2 = spark.createDataFrame(
        [("fp1", "ms1", 2000, 2021, 22)],
        "file_fingerprint string, model_set string, first_year int, last_year int, duration int",
    )
    st.store_analysis(a2)
    assert con.execute("SELECT COUNT(*) FROM analysis").fetchone()[0] == 1
    assert con.execute("SELECT last_year FROM analysis").fetchone()[0] == 2020


@pytest.fixture()
def fact_store(spark):
    con = duckdb.connect()
    for ddl in [
        "CREATE TABLE datafield_type (description VARCHAR, fingerprint VARCHAR)",
        "CREATE TABLE datafield (datasource VARCHAR, table_name VARCHAR, "
        "primary_key VARCHAR, datafield_type VARCHAR, fingerprint VARCHAR)",
        "CREATE TABLE observation (external_code VARCHAR, datafield VARCHAR, "
        "location VARCHAR, year INT, parent_observation VARCHAR, fingerprint VARCHAR)",
        "CREATE TABLE species (scientific_name VARCHAR, nbn_key VARCHAR, "
        "euring_code VARCHAR, gbif_id VARCHAR, fingerprint VARCHAR)",
        "CREATE TABLE species_common_name (species VARCHAR, language VARCHAR, "
        "description VARCHAR, fingerprint VARCHAR)",
    ]:
        con.execute(ddl)
    yield N2kStore(backend=DbApiBackend(con)), con
    con.close()


def test_store_observation_resolves_datafield_first(spark, fact_store):
    """The reference's dependency ordering: store_observation(obs, datafield)
    stores datafield (and its type) before the facts; replay is a no-op."""
    st, con = fact_store
    dft = spark.createDataFrame([("integer",)], "description string")
    df = spark.createDataFrame(
        [("ds1", "obs_table", "id", "integer")],
        "datasource string, table_name string, primary_key string, datafield_type string",
    )
    obs = spark.createDataFrame(
        [("O1", "df1", "loc1", 2020, None), ("O2", "df1", "loc1", 2021, "O1")],
        "external_code string, datafield string, location string, year int, parent_observation string",
    )
    st.store_datafield(df, datafield_type=dft)
    st.store_observation(obs)
    assert con.execute("SELECT COUNT(*) FROM datafield_type").fetchone()[0] == 1
    assert con.execute("SELECT COUNT(*) FROM datafield").fetchone()[0] == 1
    assert con.execute("SELECT COUNT(*) FROM observation").fetchone()[0] == 2
    st.store_observation(obs)  # idempotent replay
    assert con.execute("SELECT COUNT(*) FROM observation").fetchone()[0] == 2
    # update branch: changed location overwrites in place
    obs2 = spark.createDataFrame(
        [("O1", "df1", "loc9", 2020, None)],
        "external_code string, datafield string, location string, year int, parent_observation string",
    )
    st.store_observation(obs2)
    assert con.execute(
        "SELECT location FROM observation WHERE external_code='O1'"
    ).fetchone()[0] == "loc9"


def test_store_species_with_common_names(spark, fact_store):
    st, con = fact_store
    sp = spark.createDataFrame(
        [("Bufo bufo", "NBN1", "E1", "G1")],
        "scientific_name string, nbn_key string, euring_code string, gbif_id string",
    )
    names = spark.createDataFrame(
        [("Bufo bufo", "nl", "Gewone pad"), ("Bufo bufo", "en", "Common toad")],
        "species string, language string, description string",
    )
    out = st.store_species(sp, common_names=names)
    assert "fingerprint" in out.columns
    assert con.execute("SELECT COUNT(*) FROM species").fetchone()[0] == 1
    assert con.execute("SELECT COUNT(*) FROM species_common_name").fetchone()[0] == 2


def test_store_versioned_dim_scd2_changes(spark, sf_dir):
    """Facade path for versioned dimensions: close-absent, close-and-reopen
    changed, keep unchanged, open new — via the staged scd2_changes merge."""
    import duckdb as _duckdb

    from n2kupdate_spark.api import N2kStore, ValidationError
    from n2kupdate_spark.sources.jdbc import DbApiBackend

    con = _duckdb.connect()
    con.execute(
        "CREATE TABLE dim_species_v (code VARCHAR, name VARCHAR, "
        "valid_from VARCHAR, valid_to VARCHAR)"
    )
    con.execute(
        "INSERT INTO dim_species_v VALUES "
        "('A', 'alpha', '2025-01-01 00:00:00', NULL),"   # unchanged
        "('B', 'beta',  '2025-01-01 00:00:00', NULL),"   # changed
        "('C', 'gamma', '2025-01-01 00:00:00', NULL)"    # absent -> close
    )
    store = N2kStore(DbApiBackend(con))
    batch = spark.createDataFrame(
        [("A", "alpha"), ("B", "beta2"), ("D", "delta")], "code string, name string"
    )
    store.store_versioned_dim(
        batch, "dim_species_v", keys=["code"], compare_cols=["name"],
        batch_ts="2026-01-01 00:00:00",
    )
    rows = sorted(
        con.execute(
            "SELECT code, name, valid_from, valid_to FROM dim_species_v"
        ).fetchall()
    )
    assert rows == sorted([
        ("A", "alpha", "2025-01-01 00:00:00", None),
        ("B", "beta", "2025-01-01 00:00:00", "2026-01-01 00:00:00"),
        ("B", "beta2", "2026-01-01 00:00:00", None),
        ("C", "gamma", "2025-01-01 00:00:00", "2026-01-01 00:00:00"),
        ("D", "delta", "2026-01-01 00:00:00", None),
    ])

    import pytest as _pytest

    with _pytest.raises(ValidationError):
        store.store_versioned_dim(
            spark.createDataFrame([(None, "x")], "code string, name string"),
            "dim_species_v", keys=["code"], compare_cols=["name"],
            batch_ts="2026-01-01 00:00:00",
        )
    con.close()
