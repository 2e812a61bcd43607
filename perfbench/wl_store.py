"""``store_pg``: ``N2kStore`` upserts into a throwaway PostgreSQL 15.

One client runs a seeded load sequence in rounds. Each round is nine
``store_*`` calls in the reference's dependency order:

====================  ==============================  ======================
operation             call (target table)             input
====================  ==============================  ======================
``region``            store_datasource_type           region (5 rows)
``nation``            store_datasource                nation (25)
``supplier``          store_location                  supplier, 10% changed
``customer``          store_species                   a third of customer,
                                                      10% changed
``brand_members``     store_species_group_species     parts of 5 brands,
                                                      set-replaced
``fact_new``          store_observation               15k lineitem rows
``fact_replay``       store_observation               the same 15k rows again
``fact_incremental``  store_observation               those rows, 10% changed,
                                                      plus 5% new ones
``supplier_v``        store_versioned_dim (SCD2)      supplier, 5% changed,
                                                      1% absent
====================  ==============================  ======================

Dimension calls go through ``DbApiBackend(PsqlConnection)``; observation
calls through ``PgParallelBackend(max_parallel=nproc)``. Inputs are pandas
frames drawn from the seeded tables and handed to Spark before each call,
outside its timing.

Checks, after the timed phase: one more replay of a stored batch must
change no row's content, and every target table must equal the state an
in-process DuckDB reaches when the same calls are replayed through
``DbApiBackend`` — the program's merge SQL on another engine, fed staging
tables the benchmark fingerprints itself.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from common import Op
from pgserver import PgServer

FACT_BATCH = 15_000
FACT_BATCHES = 16  # the rest of lineitem is the pool of "new" rows
CHANGED, NEW, SCD2_CHANGED, SCD2_ABSENT = 0.10, 0.05, 0.05, 0.01

COLUMNS = {
    "datasource_type": [("description", "VARCHAR")],
    "datasource": [("description", "VARCHAR"), ("datasource_type", "VARCHAR")],
    "location": [("external_code", "VARCHAR"), ("datasource", "VARCHAR"),
                 ("description", "VARCHAR"), ("parent_location", "VARCHAR")],
    "species": [("scientific_name", "VARCHAR"), ("nbn_key", "VARCHAR"),
                ("euring_code", "VARCHAR"), ("gbif_id", "VARCHAR")],
    "species_group_species": [("species_group", "VARCHAR"), ("species", "VARCHAR")],
    "observation": [("external_code", "VARCHAR"), ("datafield", "VARCHAR"),
                    ("location", "VARCHAR"), ("year", "INTEGER"),
                    ("parent_observation", "VARCHAR")],
    "supplier_v": [("code", "VARCHAR"), ("nation", "VARCHAR"), ("acctbal", "VARCHAR")],
}
VERSIONED = {"supplier_v": (["code"], ["nation", "acctbal"])}
#: Row identity for counting changed rows: the fingerprint, or key + version.
IDENTITY = {t: "fingerprint" for t in COLUMNS}
IDENTITY["supplier_v"] = "code || '@' || valid_from"

STORE_METRICS = {
    "api.store_calls": "count", "api.store_s.dim": "s", "api.store_s.fact": "s", "api.store_s.set_replace": "s",
    "api.store_s.versioned": "s", "api.validate_s": "s",
    "jdbc.write_staging_s": "s", "jdbc.merge_s": "s", "jdbc.drop_staging_s": "s",
    "jdbc.rows_staged": "rows", "jdbc.write_ratio": "ratio", "jdbc.useful_ratio": "ratio",
    "jdbc.replay_write_ratio": "ratio", "jdbc.replay_useful_ratio": "ratio",
    "pg.roundtrips": "count", "pg.driver_copy_rows": "rows", "pg.driver_copy_s": "s",
    "pg.sessions": "count",
    "pg.xact_commits": "count", "pg.wal_bytes_per_row": "B/row", "pg.db_bytes_per_row": "B/row",
    "pg.target_mb": "MiB",
}


def _ddl(table: str) -> str:
    cols = list(COLUMNS[table])
    cols += [("valid_from", "VARCHAR"), ("valid_to", "VARCHAR")] if table in VERSIONED \
        else [("fingerprint", "VARCHAR")]
    return f"CREATE TABLE {table} (" + ", ".join(f"{c} {t}" for c, t in cols) + ")"


def _spark_schema(table: str) -> str:
    return ", ".join(f"{c} {'int' if t == 'INTEGER' else 'string'}" for c, t in COLUMNS[table])


def _row_text(table: str) -> str:
    """One text per row, identical in PostgreSQL and DuckDB."""
    cols = [c for c, _ in COLUMNS[table]]
    cols += ["valid_from", "valid_to"] if table in VERSIONED else ["fingerprint"]
    return "concat_ws('|', " + ", ".join(f"COALESCE(CAST({c} AS VARCHAR), '~')" for c in cols) + ")"


class Inputs:
    """Seeded per-round input frames, drawn from the generated tables."""

    def __init__(self, sf_dir: str, seed: int) -> None:
        def read(name, cols=None):
            return pq.read_table(os.path.join(sf_dir, f"{name}.parquet"), columns=cols).to_pandas()

        self.seed = seed
        self.region = read("region")
        self.nation = read("nation")
        self.supplier = read("supplier")
        self.customer = read("customer")
        self.part = read("part", ["p_partkey", "p_name", "p_brand"])
        li = pq.read_table(
            os.path.join(sf_dir, "lineitem.parquet"),
            columns=["l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate"],
        )
        self.okey = li.column("l_orderkey").to_numpy()
        self.lnum = li.column("l_linenumber").to_numpy()
        self.supp = li.column("l_suppkey").to_numpy()
        ship = li.column("l_shipdate").to_numpy()
        self.year = (ship.astype("datetime64[Y]").astype(np.int64) + 1970).astype(np.int32)
        perm = np.random.default_rng([seed, 0]).permutation(len(self.okey))
        self.batches = perm[: FACT_BATCH * FACT_BATCHES].reshape(FACT_BATCHES, FACT_BATCH)
        self.pool = perm[FACT_BATCH * FACT_BATCHES:]

    def _rng(self, r: int, salt: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, r, salt])

    def _obs(self, idx: np.ndarray, year: np.ndarray | None = None) -> pd.DataFrame:
        ok, ln = self.okey[idx], self.lnum[idx]
        return pd.DataFrame({
            "external_code": [f"L{o}-{n}" for o, n in zip(ok, ln)],
            "datafield": "lineitem",
            "location": [f"Supplier#{s:09d}" for s in self.supp[idx]],
            "year": self.year[idx] if year is None else year,
            "parent_observation": [f"O{o}" for o in ok],
        })

    def fact_new(self, r: int) -> pd.DataFrame:
        return self._obs(self.batches[r % FACT_BATCHES])

    def fact_incremental(self, r: int) -> pd.DataFrame:
        idx = self.batches[r % FACT_BATCHES]
        rng = self._rng(r, 1)
        year = self.year[idx] + (rng.random(len(idx)) < CHANGED).astype(np.int32)
        n_new = int(len(idx) * NEW)
        start = (r * n_new) % (len(self.pool) - n_new)
        fresh = self.pool[start:start + n_new]
        return pd.concat([self._obs(idx, year), self._obs(fresh)], ignore_index=True)

    def region_rows(self, r: int) -> pd.DataFrame:
        return pd.DataFrame({"description": self.region["r_name"]})

    def nation_rows(self, r: int) -> pd.DataFrame:
        regions = self.region.set_index("r_regionkey")["r_name"]
        return pd.DataFrame({
            "description": self.nation["n_name"],
            "datasource_type": regions.loc[self.nation["n_regionkey"]].to_numpy(),
        })

    def supplier_rows(self, r: int) -> pd.DataFrame:
        s = self.supplier
        bump = (self._rng(r, 2).random(len(s)) < CHANGED) * float(r)
        return pd.DataFrame({
            "external_code": s["s_name"],
            "datasource": [f"NATION_{k}" for k in s["s_nationkey"]],
            "description": [f"acctbal {b:.2f}" for b in s["s_acctbal"] + bump],
            "parent_location": pd.Series([None] * len(s), dtype=object),
        })

    def customer_rows(self, r: int) -> pd.DataFrame:
        c = self.customer[self.customer["c_custkey"] % 3 == r % 3]
        bump = (self._rng(r, 3).random(len(c)) < CHANGED) * 10.0 * r
        return pd.DataFrame({
            "scientific_name": c["c_name"].to_numpy(),
            "nbn_key": c["c_mktsegment"].to_numpy(),
            "euring_code": [f"N{k}" for k in c["c_nationkey"]],
            "gbif_id": [f"{b:.2f}" for b in c["c_acctbal"].to_numpy() + bump],
        })

    def brand_members(self, r: int) -> pd.DataFrame:
        rng = self._rng(r, 4)
        p = self.part
        brands = rng.choice(sorted(p["p_brand"].unique()), 5, replace=False)
        members = p[p["p_brand"].isin(brands) & (rng.random(len(p)) >= 0.05)]
        movers = p[rng.random(len(p)) < 0.02]
        df = pd.DataFrame({
            "species_group": np.concatenate([members["p_brand"], rng.choice(brands, len(movers))]),
            "species": [f"{n}#{k}" for n, k in zip(
                np.concatenate([members["p_name"], movers["p_name"]]),
                np.concatenate([members["p_partkey"], movers["p_partkey"]]))],
        })
        return df.drop_duplicates(ignore_index=True)

    def supplier_versions(self, r: int) -> pd.DataFrame:
        s = self.supplier
        rng = self._rng(r, 5)
        nk = s["s_nationkey"].to_numpy() + (rng.random(len(s)) < SCD2_CHANGED) * r
        keep = rng.random(len(s)) >= SCD2_ABSENT
        return pd.DataFrame({
            "code": s["s_name"].to_numpy()[keep],
            "nation": [f"NATION_{k % 25}" for k in nk[keep]],
            "acctbal": [f"{b:.2f}" for b in s["s_acctbal"].to_numpy()[keep]],
        })


def batch_ts(r: int) -> str:
    return (dt.datetime(2025, 1, 1) + dt.timedelta(hours=r)).strftime("%Y-%m-%d %H:%M:%S")


def staged_sql(table: str, source: str) -> str:
    """DuckDB SQL for what ``N2kStore._store`` stages from ``source``: the
    spec columns plus the md5 of the '|'-joined natural key (never NULL:
    ``validate_frame`` rejects that), the first row of each fingerprint."""
    from n2kupdate_spark.api import TABLE_SPECS

    spec = TABLE_SPECS[table]
    fp = "md5(concat_ws('|', " + ", ".join(f"CAST({c} AS VARCHAR)" for c in spec.natural_key) + "))"
    return (f"SELECT {', '.join(spec.columns)}, {fp} AS fingerprint FROM {source} "
            f"QUALIFY row_number() OVER (PARTITION BY {fp} ORDER BY __row) = 1")


class StoreWorkload:
    #: Wall seconds of one round on the reference host (4 CPUs).
    ROUND_S = 5.0
    #: A round has three fact operations, the slowest; from four rounds on
    #: more than ``TAIL_MARGIN`` of them lie above every dimension call, so
    #: ``op_tail_s`` reads the fact write path.
    MIN_ROUNDS = 4
    #: The first round pays first-call costs; the next runs about a tenth
    #: slower than the rounds after it, which the per-operation medians
    #: absorb. Rounds depend on the rounds before them, so one client
    #: runs them.
    WARMUP_ROUNDS, WARMUP_CLIENTS = 1, 1
    STEPS = [
        # name, table, kind, input method
        ("region", "datasource_type", "dim", "region_rows"),
        ("nation", "datasource", "dim", "nation_rows"),
        ("supplier", "location", "dim", "supplier_rows"),
        ("customer", "species", "dim", "customer_rows"),
        ("brand_members", "species_group_species", "set_replace", "brand_members"),
        ("fact_new", "observation", "fact", "fact_new"),
        ("fact_replay", "observation", "fact", "fact_new"),
        ("fact_incremental", "observation", "fact", "fact_incremental"),
        ("supplier_v", "supplier_v", "versioned", "supplier_versions"),
    ]
    STORE_CALL = {
        "datasource_type": "store_datasource_type",
        "datasource": "store_datasource",
        "location": "store_location",
        "species": "store_species",
        "species_group_species": "store_species_group_species",
        "observation": "store_observation",
    }

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.pg = PgServer(os.path.join(ctx.run_dir, "pg"))
        self.applied: list[tuple[str, str, pd.DataFrame]] = []  # (table, batch_ts, input)
        self.monitor = None
        self.dims = self.facts = None
        self._stats: dict[int, dict] = {}
        self._start: dict[str, float] = {}
        self._end: dict[str, float] = {}
        self.last_round = 0

    # --- set-up -------------------------------------------------------------

    def setup(self) -> None:
        from n2kupdate_spark.api import N2kStore
        from n2kupdate_spark.sources.jdbc import DbApiBackend, PgParallelBackend
        from n2kupdate_spark.sources.pg_psql import PsqlConnection

        self.pg.start()
        self.ctx.rss.exclude.add(self.pg.proc.pid)
        kw = self.pg.conn_kwargs
        self.monitor = PsqlConnection(**kw)
        for table in COLUMNS:
            self.monitor.execute(_ddl(table))
            if table in VERSIONED:
                self.monitor.execute(f"CREATE INDEX ON {table} (code)")
            elif table == "species_group_species":
                self.monitor.execute(f"CREATE INDEX ON {table} (species_group)")
            else:
                self.monitor.execute(f"CREATE UNIQUE INDEX ON {table} (fingerprint)")
        self.dims = N2kStore(DbApiBackend(PsqlConnection(**kw)))
        self.facts = N2kStore(PgParallelBackend(**kw, max_parallel=self.ctx.nproc))
        self.inputs = Inputs(self.ctx.sf_dir, self.ctx.seed)

    def close(self) -> None:
        for store in (self.dims, self.facts):
            if store is not None:
                store.backend.con.close()
        if self.monitor is not None:
            self.monitor.close()
        self.pg.stop()

    # --- operations ---------------------------------------------------------

    def round_ops(self, r: int) -> list[Op]:
        self.last_round = r
        return [self._op(r, *step) for step in self.STEPS]

    def _op(self, r: int, name: str, table: str, kind: str, method: str) -> Op:
        state: dict = {}

        def prepare():
            pdf = getattr(self.inputs, method)(r)
            state["pdf"] = pdf
            state["df"] = self.ctx.spark.createDataFrame(pdf, schema=_spark_schema(table))
            op.rows = len(pdf)
            if self.ctx.tracer is not None and self._traced:
                self._before(op, table)

        def run():
            tr = self.ctx.tracer
            if tr is not None and self._traced:
                with tr.span("api.store", kind=kind):
                    self._call(table, state["df"], r)
            else:
                self._call(table, state["df"], r)
            self.applied.append((table, batch_ts(r), state["pdf"]))

        op = Op(name, run, prepare, kind)
        op.table = table
        return op

    def _call(self, table: str, df, r: int) -> None:
        if table in VERSIONED:
            keys, compare = VERSIONED[table]
            self.dims.store_versioned_dim(df, table, keys, compare, batch_ts(r))
        else:
            store = self.facts if table == "observation" else self.dims
            getattr(store, self.STORE_CALL[table])(df)

    # --- PostgreSQL-side measurements --------------------------------------

    def _q(self, sql: str) -> list[tuple]:
        return self.monitor.execute(sql).fetchall()

    def _flush_stats(self) -> None:
        """Make every client session publish its pending statistics, then
        drop the monitor's cached snapshot."""
        from n2kupdate_spark.sources.pg_psql import PsqlConnection

        for store in (self.dims, self.facts):
            PsqlConnection.execute(store.backend.con, "SELECT pg_stat_force_next_flush()")
        self._q("SELECT pg_stat_clear_snapshot()")

    def _tuples_written(self, table: str) -> int:
        return int(self._q(
            "SELECT COALESCE(SUM(n_tup_ins + n_tup_upd + n_tup_del), 0) "
            f"FROM pg_stat_user_tables WHERE relname = '{table}'"
        )[0][0])

    def _snapshot(self, table: str) -> None:
        self._q("DROP TABLE IF EXISTS perfbench_snap")
        self._q(f"CREATE TEMP TABLE perfbench_snap AS SELECT {IDENTITY[table]} AS id, "
                f"md5({_row_text(table)}) AS h FROM {table}")

    def _changed_since_snapshot(self, table: str) -> int:
        """Rows inserted, deleted or with different content since the
        snapshot — what an ideal merge would have had to write."""
        return int(self._q(
            f"SELECT count(*) FROM perfbench_snap s FULL JOIN "
            f"(SELECT {IDENTITY[table]} AS id, md5({_row_text(table)}) AS h FROM {table}) a "
            "ON s.id = a.id WHERE s.h IS DISTINCT FROM a.h"
        )[0][0])

    def _target_bytes(self) -> int:
        names = ", ".join(f"'{t}'" for t in COLUMNS)
        return int(self._q(
            f"SELECT SUM(pg_total_relation_size(oid)) FROM pg_class WHERE relname IN ({names})"
        )[0][0])

    def _db_counters(self) -> dict[str, float]:
        self._flush_stats()
        (sessions, commits), = self._q(
            "SELECT sessions, xact_commit FROM pg_stat_database WHERE datname = current_database()")
        (wal,), = self._q("SELECT wal_bytes FROM pg_stat_wal")
        return {"sessions": float(sessions), "commits": float(commits), "wal": float(wal),
                "bytes": float(self._target_bytes())}

    # --- tracing hooks ------------------------------------------------------

    _traced = False

    def install_tracing(self) -> None:
        import tracing

        tr = self.ctx.tracer
        for store in (self.dims, self.facts):
            backend = store.backend
            tracing.wrap_backend(tr, backend)
            spanned = backend.write_staging

            def write_staging(df, staging, _inner=spanned):
                _inner(df, staging)
                with tr.span("bench.count_staged"):
                    (n,), = self._q(f"SELECT count(*) FROM {staging}")
                tr.counters["jdbc.rows_staged"] += int(n)

            backend.write_staging = write_staging
        self._start = self._db_counters()
        self._traced = True

    def _before(self, op: Op, table: str) -> None:
        self._flush_stats()
        self._snapshot(table)
        self._stats[id(op)] = {"written": self._tuples_written(table),
                               "staged": self.ctx.tracer.counters["jdbc.rows_staged"]}

    def after_traced_op(self, op: Op, rec: dict) -> None:
        before = self._stats.pop(id(op))
        self._flush_stats()
        rec["tuples_written"] = self._tuples_written(op.table) - before["written"]
        rec["tuples_changed"] = self._changed_since_snapshot(op.table)
        rec["rows_staged"] = self.ctx.tracer.counters["jdbc.rows_staged"] - before["staged"]

    def per_layer(self, records: list[dict], n: int) -> dict:
        tr = self.ctx.tracer
        ops = {r["id"] for r in records}
        end = self._end
        rows = max(1, sum(r["rows"] for r in records))

        def ratio(recs, key):
            staged = sum(r.get("rows_staged", 0) for r in recs)
            return sum(r.get(key, 0) for r in recs) / staged if staged else 0.0

        replays = [r for r in records if r["name"] == "fact_replay"]
        m = {
            f"api.store_s.{k}": tr.span_seconds("api.store", ops, kind=k) / n
            for k in ("dim", "fact", "set_replace", "versioned")
        }
        m.update({
            "api.store_calls": sum(1 for s in tr.spans if s["name"] == "api.store" and s["op"] in ops),
            "api.validate_s": tr.span_seconds("api.validate", ops) / n,
            "jdbc.write_staging_s": tr.span_seconds("jdbc.write_staging", ops) / n,
            "jdbc.merge_s": tr.span_seconds("jdbc.merge", ops) / n,
            "jdbc.drop_staging_s": tr.span_seconds("jdbc.drop_staging", ops) / n,
            "jdbc.rows_staged": sum(r.get("rows_staged", 0) for r in records) / n,
            "jdbc.write_ratio": ratio(records, "tuples_written"),
            "jdbc.useful_ratio": ratio(records, "tuples_changed"),
            "jdbc.replay_write_ratio": ratio(replays, "tuples_written"),
            "jdbc.replay_useful_ratio": ratio(replays, "tuples_changed"),
            "pg.roundtrips": tr.counters["pg.roundtrips"] / n,
            "pg.driver_copy_rows": tr.counters["pg.copy_rows"] / n,
            "pg.driver_copy_s": tr.span_seconds("pg.copy", ops) / n,
            "pg.sessions": (end["sessions"] - self._start["sessions"]) / n,
            "pg.xact_commits": (end["commits"] - self._start["commits"]) / n,
            "pg.wal_bytes_per_row": (end["wal"] - self._start["wal"]) / rows,
            "pg.db_bytes_per_row": (end["bytes"] - self._start["bytes"]) / rows,
            "pg.target_mb": end["bytes"] / (1024 * 1024),
        })
        return {k: (v, STORE_METRICS[k]) for k, v in m.items()}

    def op_rows(self, name: str) -> int:
        return 0

    # --- output checks ------------------------------------------------------

    def check(self, records: list[dict]) -> dict[str, str]:
        errors: dict[str, str] = {}
        if self._traced:  # before the check's own writes
            self._end = self._db_counters()
        # the last incremental batch is stored as it stands: replaying it
        # must leave every row as it is
        replay = self._op(self.last_round, "fact_replay", "observation", "fact", "fact_incremental")
        replay.prepare()
        self._snapshot("observation")
        replay.run()
        changed = self._changed_since_snapshot("observation")
        if changed:
            errors["fact_replay"] = f"replaying a stored batch changed {changed} rows"
        for table, err in self._compare_with_duckdb().items():
            for name, t, *_ in self.STEPS:
                if t == table:
                    errors[name] = err
        return errors

    def _compare_with_duckdb(self) -> dict[str, str]:
        import duckdb
        from n2kupdate_spark.api import TABLE_SPECS
        from n2kupdate_spark.sources import jdbc

        con = duckdb.connect()
        backend = jdbc.DbApiBackend(con)
        for table in COLUMNS:
            con.execute(_ddl(table))
        for i, (table, ts, pdf) in enumerate(self.applied):
            staging = f"staging_{i}"
            if table in VERSIONED:
                keys, compare = VERSIONED[table]
                select = f"SELECT {', '.join(keys + compare)} FROM perfbench_input"
                stmts = jdbc.sql_merge_scd2_changes(table, staging, keys, compare, ts)
            else:
                spec = TABLE_SPECS[table]
                select = staged_sql(table, "perfbench_input")
                cols = [*spec.columns, "fingerprint"]
                if spec.mode == "set_replace":
                    stmts = jdbc.sql_merge_set_replace(table, staging, list(spec.group_key), cols)
                else:
                    stmts = jdbc.MERGE_SQL[spec.mode](table, staging, ["fingerprint"], cols)
            con.register("perfbench_input", pdf.assign(__row=np.arange(len(pdf))))
            con.execute(f"CREATE TABLE {staging} AS {select}")
            con.unregister("perfbench_input")
            backend.execute(stmts)
            con.execute(f"DROP TABLE {staging}")
        errors = {}
        for table in COLUMNS:
            hashes = con.execute(f"SELECT md5({_row_text(table)}) FROM {table}").fetchall()
            want = (len(hashes), sum(int(h[:14], 16) for (h,) in hashes))
            (cnt, total), = self._q(
                f"SELECT count(*), COALESCE(SUM(('x' || substr(md5({_row_text(table)}), 1, 14))"
                f"::bit(56)::bigint), 0) FROM {table}"
            )
            got = (int(cnt), int(total))
            if got != want:
                errors[table] = f"PostgreSQL {got} != DuckDB replay {want} (rows, hash sum)"
        con.close()
        return errors
