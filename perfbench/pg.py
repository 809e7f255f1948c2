"""A throwaway PostgreSQL server for the import workload.

The recipe of ``scripts/bench_copy_pg.py``: ``initdb`` with trust auth,
a server that listens on a unix socket only, run as an unprivileged
user.  The server keeps PostgreSQL's default flush policy (``fsync``
and ``synchronous_commit`` on).  The data directory lives under the
caller's work directory.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess

SOCKET_PATH_MAX = 100  # sun_path is 108 bytes, less ".s.PGSQL.<port>"


def _free_port() -> int:
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class PgServer:
    def __init__(self, base_dir: str):
        self.base = os.path.abspath(base_dir)
        self.data = os.path.join(self.base, "data")
        self.sock = os.path.join(self.base, "sock")
        self.log = os.path.join(self.base, "log")
        self.prefix: list[str] = []
        self.dsn = ""
        self.running = False

    def _run(self, *argv: str) -> None:
        subprocess.run([*self.prefix, *argv], check=True, capture_output=True, timeout=120)

    def start(self) -> str:
        for tool in ("initdb", "pg_ctl", "postgres"):
            if shutil.which(tool) is None:
                raise RuntimeError(f"{tool} not found: the import workload needs a PostgreSQL server")
        os.makedirs(self.sock, exist_ok=True)
        if os.geteuid() == 0:
            # The server refuses to run as root.  A user namespace that
            # maps root to the postgres user runs it as that user while
            # it keeps root's access to the work directory, wherever the
            # checkout is; without user namespaces, fall back to
            # runuser, which needs the directory to be reachable.
            self.prefix = ["unshare", "--map-user=postgres", "--map-group=postgres"]
            if subprocess.run([*self.prefix, "true"], capture_output=True).returncode:
                shutil.chown(self.base, "postgres")
                shutil.chown(self.sock, "postgres")
                self.prefix = ["runuser", "-u", "postgres", "--"]
        self._run("initdb", "-D", self.data, "-U", "postgres", "--auth=trust",
                  "-E", "UTF8", "--locale=C")
        if len(self.sock) <= SOCKET_PATH_MAX:
            listen = f"-c listen_addresses='' -k {self.sock}"
            host, port = self.sock, 5432
        else:
            port = _free_port()
            listen = f"-c listen_addresses=127.0.0.1 -k '' -p {port}"
            host = "127.0.0.1"
        self._run(
            "pg_ctl", "-D", self.data, "-w", "-l", self.log, "-o",
            f"{listen} -c max_connections=64 -c shared_buffers=1GB -c max_wal_size=4GB",
            "start",
        )
        self.running = True
        self.dsn = f"host={host} port={port} user=postgres dbname=postgres"
        return self.dsn

    def postmaster_pid(self) -> int:
        with open(os.path.join(self.data, "postmaster.pid")) as f:
            return int(f.readline())

    def stop(self) -> None:
        if self.running:
            self.running = False
            self._run("pg_ctl", "-D", self.data, "-w", "-m", "fast", "stop")
        shutil.rmtree(self.base, ignore_errors=True)


def query(dsn: str, sql: str) -> list[tuple]:
    from parquet_to_sql_spark.sinks import pg_wire

    conn = pg_wire.connect(dsn)
    try:
        cur = conn.cursor()
        cur.execute(sql)
        rows = cur.fetchall() if cur.description else []
        conn.commit()
        return rows
    finally:
        conn.close()
