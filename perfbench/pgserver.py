"""A throwaway PostgreSQL server inside the run directory.

Like the program's live-PostgreSQL test fixture: ``initdb`` with trust
auth, one server on a unix socket only, fsync off. The server refuses to
run as root; when this process is root it runs the server binaries in a
new user namespace as an unprivileged uid, which keeps every file inside
the run directory (no system user has to reach it).
"""

from __future__ import annotations

import glob
import os
import shutil
import signal
import subprocess
import time

from settings import PG_OPTIONS

PORT = 5432


def _bin(name: str) -> str:
    found = shutil.which(name)
    if found:
        return found
    for cand in [f"/usr/local/bin/{name}", *sorted(glob.glob(f"/usr/lib/postgresql/*/bin/{name}"))]:
        if os.path.exists(cand):
            return cand
    raise FileNotFoundError(f"PostgreSQL binary {name!r} not found")


def _as_unprivileged() -> list[str]:
    if os.geteuid() != 0:
        return []
    return ["unshare", "--user", "--map-user=1000", "--map-group=1000"]


class PgServer:
    def __init__(self, root: str) -> None:
        self.root = root
        self.data = os.path.join(root, "data")
        self.proc: subprocess.Popen | None = None
        # unix socket paths are limited to 107 bytes
        if len(os.path.join(root, f".s.PGSQL.{PORT}")) > 100:
            raise RuntimeError(f"socket directory path too long: {root}")

    @property
    def conn_kwargs(self) -> dict:
        return {"host": self.root, "port": PORT, "user": "postgres", "dbname": "postgres"}

    def start(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        subprocess.run(
            [*_as_unprivileged(), _bin("initdb"), "-D", self.data, "-A", "trust",
             "-U", "postgres", "--no-sync", "-E", "UTF8", "--locale=C"],
            check=True, capture_output=True, timeout=120,
        )
        log = open(os.path.join(self.root, "server.log"), "wb")
        try:
            self.proc = subprocess.Popen(
                [*_as_unprivileged(), _bin("postgres"), "-D", self.data,
                 "-k", self.root, "-p", str(PORT), *PG_OPTIONS],
                stdout=log, stderr=subprocess.STDOUT,
            )
        finally:
            log.close()
        deadline = time.time() + 60
        while True:
            r = subprocess.run(
                [_bin("psql"), "-X", "-q", "-h", self.root, "-p", str(PORT),
                 "-U", "postgres", "-c", "SELECT 1"],
                capture_output=True, timeout=30,
            )
            if r.returncode == 0:
                return
            if self.proc.poll() is not None or time.time() > deadline:
                raise RuntimeError(f"PostgreSQL did not start: {r.stderr[-300:]!r}")
            time.sleep(0.1)

    def stop(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)  # fast shutdown
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)
        self.proc = None
        shutil.rmtree(self.data, ignore_errors=True)
