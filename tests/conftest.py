"""Shared fixtures: one SparkSession per test run + a DuckDB oracle
connection with the driver's table views registered (TESTDATA.md)."""

from __future__ import annotations

import os
import pwd
import shutil
import socket
import subprocess
import sys
import tempfile
import threading
from unittest import mock

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from n2kupdate_spark.session import get_spark
from n2kupdate_spark.sources import TABLES

#: Small sf for fast tests; override with N2K_TEST_SF_DIR to test at sf0.01.
SF_DIR = os.environ.get("N2K_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="n2kupdate-tests", shuffle_partitions=8)
    yield spark


def py4j_commands(spark, fn) -> int:
    """The number of py4j commands this thread sends while ``fn`` runs: each
    is a round trip to the JVM. py4j's finalizer thread, which sends the
    detach commands of garbage whenever it wakes, is not counted."""
    client = spark.sparkContext._gateway._gateway_client
    send, me, sent = client.send_command, threading.get_ident(), []

    def counted(*args, **kwargs):
        if threading.get_ident() == me:
            sent.append(args)
        return send(*args, **kwargs)

    with mock.patch.object(client, "send_command", counted):
        fn()
    return len(sent)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _find_bin(name: str) -> str | None:
    p = shutil.which(name)
    if p:
        return p
    cand = f"/usr/local/bin/{name}"
    return cand if os.path.exists(cand) else None


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


@pytest.fixture(scope="module")
def pg_server():
    initdb = _find_bin("initdb")
    pg_ctl = _find_bin("pg_ctl")
    if not (initdb and pg_ctl):
        pytest.skip("PostgreSQL binaries not available in this environment")
    try:
        pwd.getpwnam("postgres")
    except KeyError:
        pytest.skip("no postgres system user to run the server as")

    tmp = tempfile.mkdtemp(prefix="n2kpg_")
    data = os.path.join(tmp, "data")
    port = _free_port()
    try:
        shutil.chown(tmp, "postgres", "postgres")
    except (PermissionError, LookupError):
        shutil.rmtree(tmp, ignore_errors=True)
        pytest.skip("cannot hand the data dir to the postgres user")

    def as_postgres(cmd: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            ["su", "postgres", "-c", cmd],
            capture_output=True, text=True, cwd="/tmp", timeout=120,
        )

    r = as_postgres(f"{initdb} -D {data} -A trust --no-sync")
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        pytest.skip(f"initdb failed: {r.stderr[-300:]}")
    r = as_postgres(
        f"{pg_ctl} -D {data} -l {tmp}/log -w "
        f"-o '-k {tmp} -p {port} -c listen_addresses= -F' start"
    )
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        pytest.skip(f"pg_ctl start failed: {r.stderr[-300:]}")
    yield {"host": tmp, "port": port}
    as_postgres(f"{pg_ctl} -D {data} -m immediate stop")
    shutil.rmtree(tmp, ignore_errors=True)
