"""A throwaway local PostgreSQL server owned by one benchmark run.

``initdb`` + ``pg_ctl`` into a fresh directory under ``/tmp``, a free
localhost port, trust auth, and the server's default flush policy
spelled out on the command line (``fsync=on``, ``synchronous_commit=on``)
so both sides of an A/B always write with the same durability, and
autovacuum off. Running
as root, the server runs as the ``postgres`` system user, which must be
able to enter its directory: ``/tmp`` is world-traversable, a checkout
under a private home directory is not. ``stop()`` shuts the server down
and removes its files; call it from a ``finally``.
"""

from __future__ import annotations

import glob
import os
import shutil
import socket
import subprocess
import tempfile
from pathlib import Path

FLUSH_POLICY = {"fsync": "on", "synchronous_commit": "on"}
# Autovacuum would wake at a random moment after each import and bill its
# CPU time to whichever operation runs then.
SETTINGS = {**FLUSH_POLICY, "autovacuum": "off"}


def _bin(name: str) -> str:
    found = shutil.which(name)
    if found:
        return found
    hits = sorted(glob.glob(f"/usr/lib/postgresql/*/bin/{name}"))
    if not hits:
        raise RuntimeError(f"PostgreSQL binary {name!r} not found")
    return hits[-1]


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class PgServer:
    def __init__(self) -> None:
        self.run_as = "postgres" if os.geteuid() == 0 else None
        self.user = self.run_as or os.environ.get("USER") or "postgres"
        self.dir: Path | None = None
        self.port: int | None = None
        self.pid: int | None = None
        self._started = False

    def _argv(self, argv: list[str]) -> list[str]:
        if self.run_as is None:
            return argv
        if shutil.which("runuser"):
            return ["runuser", "-u", self.run_as, "--", *argv]
        import shlex

        return ["su", self.run_as, "-c", shlex.join(argv)]

    def _run(self, argv: list[str]) -> None:
        res = subprocess.run(
            self._argv(argv), capture_output=True, text=True, timeout=120, cwd="/"
        )
        if res.returncode:
            raise RuntimeError(f"{argv[0]} failed: {(res.stderr or res.stdout).strip()[:400]}")

    def start(self) -> str:
        """Start the server; returns its DSN."""
        self.dir = Path(tempfile.mkdtemp(prefix="perfbench_pg_", dir="/tmp"))
        if self.run_as:
            shutil.chown(self.dir, self.run_as, self.run_as)
        data = self.dir / "data"
        self._run([_bin("initdb"), "-D", str(data), "-E", "UTF8", "--auth=trust", "-U", self.user])
        opts = " ".join(
            [f"-k {self.dir}", "-c listen_addresses=localhost"]
            + [f"-c {k}={v}" for k, v in SETTINGS.items()]
        )
        last = None
        for _ in range(3):
            self.port = _free_port()
            try:
                self._run([
                    _bin("pg_ctl"), "-D", str(data), "-l", str(self.dir / "log"), "-w",
                    "-o", f"-p {self.port} {opts}", "start",
                ])
                self._started = True
                # first line of postmaster.pid: the server's process id
                self.pid = int((data / "postmaster.pid").read_text().split()[0])
                return self.dsn
            except RuntimeError as exc:  # port taken between probe and bind
                last = exc
        raise RuntimeError(f"could not start PostgreSQL: {last}")

    @property
    def dsn(self) -> str:
        return f"postgresql://{self.user}@localhost:{self.port}/postgres"

    def query(self, sql: str) -> list[list[str]]:
        """Run one statement through ``psql``; rows as lists of strings."""
        res = subprocess.run(
            [_bin("psql"), self.dsn, "-X", "-A", "-t", "-F", "\t", "-v", "ON_ERROR_STOP=1", "-c", sql],
            capture_output=True, text=True, timeout=120,
        )
        if res.returncode:
            raise RuntimeError(f"psql failed: {res.stderr.strip()[:400]}")
        return [line.split("\t") for line in res.stdout.splitlines() if line]

    def stop(self) -> None:
        try:
            if self._started:
                self._run([_bin("pg_ctl"), "-D", str(self.dir / "data"), "-m", "fast", "-w", "stop"])
                self._started = False
        finally:
            if self.dir is not None:
                shutil.rmtree(self.dir, ignore_errors=True)
