"""A throwaway Postgres cluster owned by the benchmark.

``initdb`` + ``pg_ctl`` into a directory under the benchmark's work dir,
trust auth, a free loopback port, and ``fsync`` off (the cluster is thrown
away, and disk flush latency is not what the workload measures). The
server refuses to run as root, so under root every server command runs as
the ``postgres`` user; that user keeps the ``CAP_DAC_READ_SEARCH``
capability so it can reach a work dir below a root-only parent directory.

Use as a context manager: the server is stopped and its files are removed
on every exit path.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Postgres:
    def __init__(self, base: str):
        self.base = os.path.abspath(base)
        self.data = os.path.join(self.base, "data")
        self.port = 0
        self._started = False

    def _run(self, *args: str) -> None:
        cmd = list(args)
        if os.geteuid() == 0:
            cmd = [
                "setpriv", "--reuid", "postgres", "--regid", "postgres", "--init-groups",
                "--inh-caps", "+dac_read_search", "--ambient-caps", "+dac_read_search",
                *cmd,
            ]
        r = subprocess.run(cmd, capture_output=True, text=True, cwd=self.base, timeout=60)
        if r.returncode != 0:
            raise RuntimeError(f"{args[0]} failed: {(r.stderr or r.stdout)[-500:]}")

    def __enter__(self) -> "Postgres":
        for tool in ("initdb", "pg_ctl"):
            if shutil.which(tool) is None:
                raise RuntimeError(f"{tool} not found: the roster workload needs a Postgres server")
        shutil.rmtree(self.base, ignore_errors=True)
        os.makedirs(self.data)
        if os.geteuid() == 0:
            shutil.chown(self.base, "postgres")
            shutil.chown(self.data, "postgres")
        try:
            self._run("initdb", "-D", self.data, "-A", "trust", "-N", "--no-instructions")
            self.port = _free_port()
            opts = (
                f"-p {self.port} -k {self.base} -c listen_addresses=127.0.0.1 "
                "-c fsync=off -c synchronous_commit=off -c full_page_writes=off"
            )
            self._run("pg_ctl", "-D", self.data, "-w", "-o", opts,
                      "-l", os.path.join(self.base, "pg.log"), "start")
            self._started = True
        except BaseException:
            self.__exit__(None, None, None)
            raise
        return self

    def __exit__(self, *exc) -> None:
        try:
            if self._started:
                self._run("pg_ctl", "-D", self.data, "-m", "fast", "-w", "stop")
                self._started = False
        finally:
            shutil.rmtree(self.base, ignore_errors=True)

    def connect(self):
        from ibc_spark.io_.pgwire import connect

        return connect(port=self.port)

    def execute(self, *statements: str) -> list[tuple]:
        """Run statements in one transaction; rows of the last one."""
        conn = self.connect()
        try:
            cur = conn.cursor()
            for sql in statements:
                cur.execute(sql)
            rows = cur.fetchall()
            conn.commit()
            return rows
        finally:
            conn.close()
