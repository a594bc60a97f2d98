"""Local throwaway PostgreSQL server for live-wire SQL-catalog tests.

The container ships a REAL ``postgres``/``initdb`` (PostgreSQL 15) but
no Python driver — pgwire.py supplies the driver side; this module
manages a disposable cluster: initdb into a temp dir, start on a free
TCP port with trust auth, create per-test databases, stop+delete on
close.  Root cannot run initdb/postgres directly, so when euid==0 every
server command runs through ``su <unprivileged user>`` (the stock
``postgres`` account in this image) with the data dir chowned to it.

Test infrastructure by design — production points SqlCatalog's
``connect=`` at psycopg/pg8000 against a managed instance; the catalog
statements are identical (proven by the live conformance run).
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import tempfile
import time
from typing import Optional


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


class LocalPostgresServer:
    def __init__(self, run_user: str = "postgres"):
        self.datadir: Optional[str] = None
        self.port: Optional[int] = None
        self.user = "pgcat"  # database superuser created by initdb -U
        self._run_user = run_user if os.geteuid() == 0 else None

    def _sh(self, cmd: str, timeout: float = 60.0) -> str:
        if self._run_user:
            full = ["su", self._run_user, "-c", cmd]
        else:
            full = ["bash", "-lc", cmd]
        r = subprocess.run(full, capture_output=True, text=True,
                           timeout=timeout)
        if r.returncode != 0:
            raise RuntimeError(
                f"{cmd!r} failed ({r.returncode}): "
                f"{(r.stderr or r.stdout)[-500:]}")
        return r.stdout

    def start(self) -> "LocalPostgresServer":
        if shutil.which("initdb") is None or \
                shutil.which("pg_ctl") is None:
            raise RuntimeError("initdb/pg_ctl not on PATH")
        self.datadir = tempfile.mkdtemp(prefix="pg_local_")
        if self._run_user:
            shutil.chown(self.datadir, user=self._run_user)
        self.port = _free_port()
        try:
            # --no-sync + fsync off: throwaway cluster, rmtree'd on
            # stop — durability buys nothing and costs real fsyncs on
            # every CREATE DATABASE / commit in the suite
            self._sh(f"initdb -D {self.datadir} -U {self.user} "
                     f"--auth=trust --no-sync -E UTF8 > /dev/null")
            self._sh(f"pg_ctl -D {self.datadir} -w -t 30 "
                     f"-o '-p {self.port} -k {self.datadir} "
                     f"-c listen_addresses=127.0.0.1 "
                     f"-c fsync=off -c synchronous_commit=off "
                     f"-c full_page_writes=off' "
                     f"-l {self.datadir}/log start > /dev/null")
            # trust auth + TCP: wait until connectable
            from iceberg_go_spark.catalog.pgwire import pgwire_connect
            deadline = time.time() + 20
            while True:
                try:
                    pgwire_connect(port=self.port, user=self.user,
                                   database="postgres").close()
                    return self
                except Exception:
                    if time.time() > deadline:
                        raise
                    time.sleep(0.2)
        except BaseException:
            # never leak a running postmaster/datadir on a failed start
            self.stop()
            raise

    def create_database(self, name: str) -> None:
        from iceberg_go_spark.catalog.pgwire import pgwire_connect
        con = pgwire_connect(port=self.port, user=self.user,
                             database="postgres")
        try:
            cur = con.cursor()
            cur.execute(f'DROP DATABASE IF EXISTS "{name}"')
            cur.execute(f'CREATE DATABASE "{name}"')
        finally:
            con.close()

    def connect_kwargs(self, database: str) -> dict:
        return {"port": self.port, "user": self.user,
                "database": database}

    def stop(self) -> None:
        if self.datadir is None:
            return
        try:
            self._sh(f"pg_ctl -D {self.datadir} -m immediate stop "
                     f"> /dev/null", timeout=30)
        except Exception:
            pass
        shutil.rmtree(self.datadir, ignore_errors=True)
        self.datadir = None
