"""A throwaway local PostgreSQL server on a free loopback port.

The data directory lives under the benchmark's work dir; the server
listens on TCP only.
PostgreSQL refuses to run as root, so as root the server runs inside a
user namespace that maps the unprivileged ``nobody`` id onto the calling
user: file access is unchanged, and no system user is created.  The
table is filled with ``psql``'s ``\\copy`` from a CSV that DuckDB exports
from the corpus parquet, so set-up cost never depends on the engine's own
Postgres sink.
"""

from __future__ import annotations

import os
import re
import shutil
import socket
import subprocess
import time

LINEITEM_DDL = (
    "CREATE TABLE lineitem (l_orderkey bigint, l_partkey bigint, "
    "l_suppkey bigint, l_linenumber int, l_quantity double precision, "
    "l_extendedprice double precision, l_discount double precision, "
    "l_tax double precision, l_returnflag text, l_linestatus text, "
    "l_shipdate timestamp)"
)

USER = "bench"


def available() -> bool:
    return all(shutil.which(b) for b in ("initdb", "pg_ctl", "psql"))


def version() -> str | None:
    exe = shutil.which("postgres") or shutil.which("pg_ctl")
    if not exe:
        return None
    r = subprocess.run([exe, "--version"], capture_output=True, text=True)
    m = re.search(r"\)\s+(\d+(?:\.\d+)*)", r.stdout)
    return m.group(1) if r.returncode == 0 and m else None


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _as_server_user(cmd: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return cmd
    return ["unshare", "--user", "--map-user=65534", "--map-group=65534", *cmd]


class PgServer:
    """``with PgServer(dir) as pg:`` starts the server; leaving the block
    stops it (waiting for shutdown) and deletes its directory."""

    def __init__(self, base: str):
        self.base = base
        self.data = os.path.join(base, "data")
        self.port = _free_port()
        self.started = False

    @property
    def url(self) -> str:
        return f"postgresql://{USER}@127.0.0.1:{self.port}/postgres"

    def __enter__(self) -> PgServer:
        os.makedirs(self.base, exist_ok=True)
        try:
            self._run(["initdb", "-D", self.data, "-A", "trust", "-U", USER,
                       "--no-sync", "-E", "UTF8"])
            opts = (
                f"-p {self.port} -k '' -c listen_addresses=127.0.0.1 "
                "-c fsync=off -c synchronous_commit=off -c full_page_writes=off"
            )
            self._run(["pg_ctl", "-D", self.data, "-l", os.path.join(self.base, "pg.log"),
                       "-w", "-t", "60", "-o", opts, "start"])
            self.started = True
        except BaseException:
            self.close()
            raise
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> None:
        if self.started:
            pid = self._postmaster_pid()
            subprocess.run(
                _as_server_user(["pg_ctl", "-D", self.data, "-m", "fast", "-w", "-t", "60",
                                 "stop"]),
                capture_output=True,
            )
            _wait_gone(pid, timeout=60)
            self.started = False
        shutil.rmtree(self.base, ignore_errors=True)

    def _postmaster_pid(self) -> int | None:
        try:
            with open(os.path.join(self.data, "postmaster.pid")) as fh:
                return int(fh.readline())
        except (OSError, ValueError):
            return None

    def _run(self, cmd: list[str]) -> None:
        r = subprocess.run(_as_server_user(cmd), capture_output=True, text=True)
        if r.returncode:
            raise RuntimeError(f"{cmd[0]} failed: {(r.stderr or r.stdout)[-400:]}")

    def psql(self, *commands: str) -> str:
        args = ["psql", "-h", "127.0.0.1", "-p", str(self.port), "-U", USER, "-d", "postgres",
                "-v", "ON_ERROR_STOP=1", "-q", "-A", "-t"]
        for c in commands:
            args += ["-c", c]
        r = subprocess.run(args, capture_output=True, text=True)
        if r.returncode:
            raise RuntimeError(f"psql failed: {r.stderr[-400:]}")
        return r.stdout.strip()

    def fill_lineitem(self, csv_path: str) -> None:
        self.psql(
            "DROP TABLE IF EXISTS lineitem",
            LINEITEM_DDL,
            f"\\copy lineitem from '{csv_path}' csv",
            "ANALYZE lineitem",
        )


def _wait_gone(pid: int | None, timeout: float) -> None:
    """``pg_ctl -w stop`` returns once the pid file is gone, a moment before
    the postmaster itself has exited; wait for the process too."""
    deadline = time.monotonic() + timeout
    while pid is not None and os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
        time.sleep(0.05)


def export_csv(parquet_path: str, csv_path: str) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{parquet_path}')) TO '{csv_path}' "
            "(HEADER false)"
        )
    finally:
        con.close()
