"""Throwaway Postgres cluster for the COPY-sink workload.

``initdb`` into a directory of the run, then ``postgres`` as a child
process listening on a unix socket only (no TCP), with trust auth.
Postgres refuses to run as root; under root the server runs as
``nobody`` through ``setpriv``, keeping only the capabilities to reach a
data directory below a root-only parent (the checkout may live under a
``0700`` home). A cluster that cannot start raises: the benchmark never
skips the sink.

Flush settings are fixed here and are part of the benchmark's
definition (see README.md): the sink is measured without ``fsync`` so
disk flush latency of a shared machine does not set the pass time.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import time
from pathlib import Path

PORT = 5432
USER = "bench"
FLUSH_SETTINGS = {
    "fsync": "off",
    "synchronous_commit": "off",
    "full_page_writes": "off",
}
# unix socket paths are limited to 107 bytes
_MAX_SOCKET_PATH = 100


def _as_owner(cmd: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return cmd
    caps = "+dac_read_search,+dac_override"
    return [
        "setpriv", "--reuid=nobody", "--regid=nogroup", "--clear-groups",
        f"--inh-caps={caps}", f"--ambient-caps={caps}", *cmd,
    ]


class PgServer:
    """One cluster; ``with PgServer(dir) as db:`` yields a ``DbOptions``."""

    def __init__(self, base: Path):
        self.base = base
        self.data = base / "data"
        self.sock = base / "s"
        self.proc: subprocess.Popen | None = None

    def __enter__(self):
        from postgresimporter_spark.sources.jdbc import DbOptions

        if not shutil.which("initdb") or not shutil.which("postgres"):
            raise RuntimeError("postgres server binaries not found on PATH")
        if len(str(self.sock / f".s.PGSQL.{PORT}")) > _MAX_SOCKET_PATH:
            raise RuntimeError(f"socket path too long under {self.sock}")
        shutil.rmtree(self.base, ignore_errors=True)
        self.sock.mkdir(parents=True)
        if os.geteuid() == 0:
            shutil.chown(self.base, "nobody")
            shutil.chown(self.sock, "nobody")
        r = subprocess.run(
            _as_owner(
                ["initdb", "-D", str(self.data), "-U", USER, "--auth=trust",
                 "--no-sync", "-E", "UTF8", "--locale=C"]
            ),
            capture_output=True, text=True, timeout=120,
        )
        if r.returncode != 0:
            raise RuntimeError(f"initdb failed: {r.stderr[-500:]}")
        opts = ["-k", str(self.sock), "-p", str(PORT), "-c", "listen_addresses="]
        for k, v in FLUSH_SETTINGS.items():
            opts += ["-c", f"{k}={v}"]
        self._log = open(self.base / "server.log", "wb")
        self.proc = subprocess.Popen(
            _as_owner(["postgres", "-D", str(self.data), *opts]),
            stdout=self._log, stderr=subprocess.STDOUT,
        )
        deadline = time.monotonic() + 60
        while not (self.sock / f".s.PGSQL.{PORT}").exists():
            if self.proc.poll() is not None or time.monotonic() > deadline:
                self.__exit__(None, None, None)
                raise RuntimeError(
                    "postgres did not start: "
                    + (self.base / "server.log").read_text()[-500:]
                )
            time.sleep(0.05)
        self.db = DbOptions(
            database="postgres", host=str(self.sock), port=str(PORT), user=USER
        )
        # the socket file appears before the server accepts logins
        from postgresimporter_spark.sources.pgwire import connect

        while True:
            try:
                with connect(self.db) as conn:
                    conn.scalar("SELECT 1")
                break
            except Exception:  # noqa: BLE001 - retried until the deadline
                if time.monotonic() > deadline:
                    self.__exit__(None, None, None)
                    raise
                time.sleep(0.05)
        return self.db

    def __exit__(self, *exc) -> None:
        if self.proc is not None:
            if self.proc.poll() is None:
                self.proc.send_signal(signal.SIGINT)  # fast shutdown
                try:
                    self.proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self.proc.kill()
                    self.proc.wait()
            self.proc = None
            self._log.close()
        shutil.rmtree(self.base, ignore_errors=True)
