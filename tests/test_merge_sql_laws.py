"""Laws of the merge SQL in sources/jdbc.py, on DuckDB and sqlite3, with no
Spark: for small target/batch pairs whose attribute values include NULL,

- the scd1 and set-replace statements leave the same table as the
  statements that rewrote every matched row (kept below, verbatim, as the
  reference);
- a second run over the same staged batch changes no row (rows counted by
  sqlite's ``total_changes`` and by the row counts DuckDB returns);
- an SCD2 merge leaves one open version per batch row, equal to it, also
  when an attribute changes between NULL and a value.

Group and key values are never NULL here: ``upsert`` rejects a batch with
a NULL natural key before it merges."""

from __future__ import annotations

import sqlite3

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from n2kupdate_spark.sources.jdbc import (
    DbApiBackend,
    _ident,
    _idents,
    _source,
    sql_merge_insert_ignore,
    sql_merge_scd1,
    sql_merge_scd2_changes,
    sql_merge_set_replace,
)

ENGINES = ["duckdb", "sqlite3"]
SET = settings(max_examples=60, deadline=None)

ATTR = st.one_of(st.none(), st.sampled_from(["", "x", "y"]))
NUM = st.one_of(st.none(), st.integers(0, 2))
KV = st.lists(st.tuples(st.integers(0, 5), ATTR, NUM), max_size=8)
MEMBERS = st.lists(st.tuples(st.integers(0, 2), st.integers(0, 3), ATTR), max_size=10)


# --- reference: the statements before merges wrote only what changed -------

def ref_scd1(target, staging, keys, columns, dedup_on=None):
    insert = sql_merge_insert_ignore(target, staging, keys, columns, dedup_on)
    attrs = [c for c in columns if c not in keys]
    if not attrs:
        return insert
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    set_clause = ", ".join(f"{c} = s.{c}" for c in attrs)
    src = _source(staging, columns, dedup_on)
    return [f"UPDATE {target} AS t SET {set_clause} FROM {src} s WHERE {on}", *insert]


def ref_set_replace(target, staging, group_cols, columns, dedup_on=None):
    target, staging = _ident(target), _ident(staging)
    on = " AND ".join(f"t.{g} = s.{g}" for g in _idents(group_cols))
    columns = _idents(columns)
    src = _source(staging, columns, dedup_on)
    collist = ", ".join(columns)
    return [
        f"DELETE FROM {target} AS t WHERE EXISTS (SELECT 1 FROM {staging} s WHERE {on})",
        f"INSERT INTO {target} ({collist}) SELECT {collist} FROM {src} s",
    ]


# --- harness ----------------------------------------------------------------

def _connect(engine):
    if engine == "duckdb":
        return duckdb.connect()
    return sqlite3.connect(":memory:", isolation_level=None)


def _load(con, table, ddl, rows):
    con.execute(f"CREATE TABLE {table} ({ddl})")
    if rows:
        marks = ", ".join("?" * len(rows[0]))
        con.executemany(f"INSERT INTO {table} VALUES ({marks})", rows)


def _changes(con, stmts) -> int:
    """Run ``stmts`` in one transaction; return the rows they changed."""
    if isinstance(con, sqlite3.Connection):
        before = con.total_changes
        DbApiBackend(con).execute(stmts)
        return con.total_changes - before
    con.execute("BEGIN TRANSACTION")
    n = sum(con.execute(s).fetchone()[0] for s in stmts)
    con.execute("COMMIT")
    return n


def _rows(con, table):
    return sorted(map(tuple, con.execute(f"SELECT * FROM {table}").fetchall()), key=repr)


def _merged(engine, ddl, target, batch, stmts_fn):
    """The target table after ``stmts_fn('t_', 's_')`` merged ``batch``
    into ``target``, and the rows a second run of it changed."""
    con = _connect(engine)
    _load(con, "t_", ddl, target)
    _load(con, "s_", ddl, batch)
    _changes(con, stmts_fn("t_", "s_"))
    out = _rows(con, "t_")
    again = _changes(con, stmts_fn("t_", "s_"))
    con.close()
    return out, again


# --- laws -------------------------------------------------------------------

@pytest.mark.parametrize("engine", ENGINES)
@given(target=KV, batch=KV)
@SET
def test_scd1_writes_only_changed_rows(engine, target, batch):
    ddl = "k INTEGER, a VARCHAR, b INTEGER"
    target = list({k: (k, a, b) for k, a, b in target}.values())
    dedup = "k" if len({k for k, _, _ in batch}) < len(batch) else None
    cols = ["k", "a", "b"]
    got, again = _merged(
        engine, ddl, target, batch, lambda t, s: sql_merge_scd1(t, s, ["k"], cols, dedup)
    )
    want, _ = _merged(
        engine, ddl, target, batch, lambda t, s: ref_scd1(t, s, ["k"], cols, dedup)
    )
    assert got == want
    assert again == 0


@pytest.mark.parametrize("engine", ENGINES)
@pytest.mark.parametrize("match_on", ["fp", None])
@given(target=MEMBERS, batch=MEMBERS)
@SET
def test_set_replace_is_a_diff(engine, match_on, target, batch):
    """``fp`` stands for the fingerprint: NOT NULL, one value per
    (group, member). Matched on it, a re-run changes nothing; matched on
    every column, a row holding a NULL is deleted and re-inserted."""
    ddl = "g INTEGER, m INTEGER, v VARCHAR, fp VARCHAR"
    target = list({(g, m): (g, m, v, f"{g}|{m}") for g, m, v in target}.values())
    batch = [(g, m, v, f"{g}|{m}") for g, m, v in batch]
    dedup = "fp" if len({r[3] for r in batch}) < len(batch) else None
    cols = ["g", "m", "v", "fp"]
    got, again = _merged(
        engine, ddl, target, batch,
        lambda t, s: sql_merge_set_replace(t, s, ["g"], cols, dedup, match_on),
    )
    want, _ = _merged(
        engine, ddl, target, batch, lambda t, s: ref_set_replace(t, s, ["g"], cols, dedup)
    )
    assert got == want
    groups = {g for g, *_ in batch}
    rewritten = sum(1 for g, _, v, _ in got if g in groups and v is None)
    assert again == (0 if match_on else 2 * rewritten)


@pytest.mark.parametrize("engine", ENGINES)
@given(target=KV, batch=KV)
@SET
def test_scd2_opens_the_batch_and_replays_as_a_no_op(engine, target, batch):
    ddl = "k INTEGER, a VARCHAR, b INTEGER, valid_from VARCHAR, valid_to VARCHAR"
    target = [(k, a, b, "2025-01-01", None) for k, a, b in {k: (k, a, b) for k, a, b in target}.values()]
    batch = list({k: (k, a, b) for k, a, b in batch}.values())
    con = _connect(engine)
    _load(con, "t_", ddl, target)
    _load(con, "s_", "k INTEGER, a VARCHAR, b INTEGER", batch)
    _changes(con, sql_merge_scd2_changes("t_", "s_", ["k"], ["a", "b"], "2025-02-01"))
    open_rows = con.execute("SELECT k, a, b FROM t_ WHERE valid_to IS NULL").fetchall()
    assert sorted(map(tuple, open_rows), key=repr) == sorted(batch, key=repr)
    again = sql_merge_scd2_changes("t_", "s_", ["k"], ["a", "b"], "2025-03-01")
    assert _changes(con, again) == 0
    con.close()
