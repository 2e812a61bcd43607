"""Worked migration example: the `inbo/n2kupdate` workflow on this engine.

The reference is an R client that idempotently upserts normalized
data.frames into the `n2kresult` PostgreSQL warehouse. A typical session
there looks like (⟨pub⟩ package README/vignette pattern [M]):

    conn <- n2khelper::connect_result()
    store_language(data.frame(code="nl", description="Dutch"), conn=conn)
    store_species_group_species(sgs_df, conn=conn)
    store_observation(obs_df, conn=conn)

This script is the line-for-line equivalent on Spark: same store calls,
same validation/fingerprint/stage/merge lifecycle, with the warehouse
behind a pluggable backend. Run it:

    python examples/reference_workflow.py            # DuckDB in-memory warehouse
    python examples/reference_workflow.py --pg       # live PostgreSQL, wire protocol
                                                     # (starts a throwaway server;
                                                     # needs PG binaries + postgres user)

At fact scale the same code runs with `PgParallelBackend(host, port)`,
which opens its own PostgreSQL session: the driver COPYs the batch from one
Arrow collect, record batch by record batch, and runs the merge
statements on that session (sources/jdbc.py)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from n2kupdate_spark.api import N2kStore
from n2kupdate_spark.sources.jdbc import DbApiBackend

DDL = {
    "language": "(code VARCHAR, description VARCHAR, fingerprint VARCHAR)",
    "species_group_species": "(species_group VARCHAR, species VARCHAR, fingerprint VARCHAR)",
    "species": "(scientific_name VARCHAR, nbn_key VARCHAR, euring_code VARCHAR, "
    "gbif_id VARCHAR, fingerprint VARCHAR)",
}


def make_backend(use_pg: bool):
    """DuckDB in-memory by default; optional throwaway live PostgreSQL."""
    if not use_pg:
        import duckdb

        con = duckdb.connect()
        for t, ddl in DDL.items():
            con.execute(f"CREATE TABLE {t} {ddl}")
        return DbApiBackend(con), con, None
    # live-PG path: reuse the test fixture's server-management helpers
    import pwd
    import shutil
    import socket
    import subprocess
    import tempfile

    from n2kupdate_spark.sources.pg_psql import PsqlConnection

    initdb = shutil.which("initdb") or "/usr/local/bin/initdb"
    pg_ctl = shutil.which("pg_ctl") or "/usr/local/bin/pg_ctl"
    pwd.getpwnam("postgres")  # raises if the server can't be run
    tmp = tempfile.mkdtemp(prefix="n2k_example_pg_")
    shutil.chown(tmp, "postgres", "postgres")
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    subprocess.run(
        ["su", "postgres", "-c", f"{initdb} -D {tmp}/data -A trust --no-sync"],
        check=True, capture_output=True, cwd="/tmp",
    )
    subprocess.run(
        ["su", "postgres", "-c",
         f"{pg_ctl} -D {tmp}/data -l {tmp}/log -w -o '-k {tmp} -p {port} "
         f"-c listen_addresses= -F' start"],
        check=True, capture_output=True, cwd="/tmp",
    )
    con = PsqlConnection(host=tmp, port=port)
    for t, ddl in DDL.items():
        con.execute(f"CREATE TABLE {t} {ddl}")

    def teardown():
        con.close()
        subprocess.run(
            ["su", "postgres", "-c", f"{pg_ctl} -D {tmp}/data -m immediate stop"],
            capture_output=True, cwd="/tmp",
        )
        shutil.rmtree(tmp, ignore_errors=True)

    return DbApiBackend(con), con, teardown


def count(con, table: str) -> int:
    return int(con.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0])


def main() -> None:
    use_pg = "--pg" in sys.argv
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("n2kupdate-example")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    backend, con, teardown = make_backend(use_pg)
    st = N2kStore(backend=backend)

    # 1. dimension upsert — store_language(df, conn) in the reference
    langs = spark.createDataFrame(
        [("nl", "Dutch"), ("fr", "French")], "code string, description string"
    )
    st.store_language(langs)
    st.store_language(langs)  # idempotent: same fingerprints, no new rows
    assert count(con, "language") == 2
    print(f"language: {count(con, 'language')} rows after double store (idempotent)")

    # 2. SCD1 update — re-storing a changed description overwrites in place
    st.store_language(
        spark.createDataFrame([("nl", "Nederlands")], "code string, description string")
    )
    assert count(con, "language") == 2
    print("language: attribute update kept row count at 2 (SCD1)")

    # 3. species dimension with nullable attributes
    st.store_species(
        spark.createDataFrame(
            [("Parus major", "NBN1", None, "GBIF9"), ("Ardea cinerea", None, "1220", None)],
            "scientific_name string, nbn_key string, euring_code string, gbif_id string",
        )
    )
    print(f"species: {count(con, 'species')} rows")

    # 4. set-replacement membership — store_species_group_species semantics:
    #    groups present in the batch are replaced wholesale
    st.store_species_group_species(
        spark.createDataFrame(
            [("meadow", "Parus major"), ("meadow", "Ardea cinerea"), ("coast", "Ardea cinerea")],
            "species_group string, species string",
        )
    )
    st.store_species_group_species(
        spark.createDataFrame(
            [("meadow", "Parus major")], "species_group string, species string"
        )
    )
    rows = sorted(
        con.execute("SELECT species_group, species FROM species_group_species").fetchall()
    )
    assert [tuple(r) for r in rows] == [("coast", "Ardea cinerea"), ("meadow", "Parus major")]
    print(f"species_group_species after set-replacement: {rows}")

    engine = "PostgreSQL (live)" if use_pg else "DuckDB (in-memory)"
    print(f"done — reference workflow verified against {engine}")
    if teardown:
        teardown()
    spark.stop()


if __name__ == "__main__":
    main()
