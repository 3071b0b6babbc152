from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from datagouv_tools_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir() -> str:
    return "/root/testdata/sf0.01"


def _find_pg_bin(name: str) -> str | None:
    import glob
    import shutil

    found = shutil.which(name)
    if found:
        return found
    hits = sorted(glob.glob(f"/usr/lib/postgresql/*/bin/{name}"))
    return hits[-1] if hits else None


@pytest.fixture(scope="session")
def pg_dsn():
    """DSN of a live PostgreSQL server for COPY integration tests.

    Honors PGHOST/PGPORT/PGUSER/PGPASSWORD/PGDATABASE when set;
    otherwise bootstraps a throwaway server from the installed
    PostgreSQL binaries (initdb + pg_ctl into a temp dir, trust auth,
    localhost only) and tears it down at session end. Skips when
    neither a configured server nor server binaries exist."""
    import os
    import shutil
    import subprocess
    import tempfile

    if os.environ.get("PGHOST"):
        user = os.environ.get("PGUSER", "postgres")
        pwd = os.environ.get("PGPASSWORD", "")
        host = os.environ["PGHOST"]
        port = os.environ.get("PGPORT", "5432")
        db = os.environ.get("PGDATABASE", "postgres")
        yield f"postgresql://{user}:{pwd}@{host}:{port}/{db}"
        return

    initdb, pg_ctl = _find_pg_bin("initdb"), _find_pg_bin("pg_ctl")
    if not (initdb and pg_ctl and shutil.which("psql")):
        pytest.skip("no PGHOST and no local PostgreSQL server binaries")

    run_as = None
    if hasattr(os, "geteuid") and os.geteuid() == 0:
        # postgres refuses to run as root; delegate to the postgres user
        import pwd as _pwd

        try:
            _pwd.getpwnam("postgres")
        except KeyError:
            pytest.skip("running as root and no postgres system user")
        run_as = "postgres"

    d = tempfile.mkdtemp(prefix="pgtest_")
    if run_as:
        shutil.chown(d, run_as, run_as)

    def sh(cmd: str) -> subprocess.CompletedProcess:
        argv = ["su", run_as, "-c", cmd] if run_as else ["sh", "-c", cmd]
        return subprocess.run(argv, capture_output=True, text=True)

    res = sh(f"{initdb} -D {d}/data -E UTF8 --auth=trust")
    if res.returncode:
        pytest.skip(f"initdb failed: {res.stderr.strip()[:200]}")
    # Pinned candidates first, then OS-assigned free ports: a crashed
    # run leaks its server (teardown never ran), and three leaked
    # servers used to exhaust the fixed list — silently skipping every
    # PG test until someone cleaned /tmp by hand.
    import socket

    def free_port() -> int:
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            return s.getsockname()[1]

    port = None
    cands = [54799, 54807, 54811] + [free_port() for _ in range(3)]
    for cand in cands:
        res = sh(
            f"{pg_ctl} -D {d}/data -l {d}/log "
            f"-o '-p {cand} -k {d} -c listen_addresses=localhost' start"
        )
        if res.returncode == 0:
            port = cand
            break
    if port is None:
        pytest.skip("could not start throwaway postgres (ports busy?)")
    try:
        yield f"postgresql://postgres@localhost:{port}/postgres"
    finally:
        sh(f"{pg_ctl} -D {d}/data -m immediate stop")
        shutil.rmtree(d, ignore_errors=True)


@pytest.fixture
def git_snapshot(tmp_path) -> dict[str, str]:
    """``GIT_DIR``/``GIT_WORK_TREE`` of a throwaway repository under
    ``tmp_path`` whose HEAD commits this tree as it is on disk, so a
    ``git`` subprocess given them works the same in a checkout and in
    an exported tree (``git archive``), and writes nothing to the tree."""
    import os
    import subprocess
    from pathlib import Path

    env = {
        "GIT_DIR": str(tmp_path / "snapshot.git"),
        "GIT_WORK_TREE": str(Path(__file__).resolve().parent.parent),
    }
    for args in (
        ["init", "-q"],
        ["add", "-A"],
        ["-c", "user.name=tests", "-c", "user.email=tests@localhost",
         "-c", "commit.gpgsign=false", "commit", "-q", "--no-verify", "-m", "snapshot"],
    ):
        subprocess.run(["git", *args], env={**os.environ, **env}, check=True, capture_output=True)
    return env
