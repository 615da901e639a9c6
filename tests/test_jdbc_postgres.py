"""Real-Postgres execution of the warehouse path (VERDICT r3 item 5).

The Derby-backed driver queries (q_warehouse_roundtrip / q_warehouse_load_plan)
prove the JDBC surface; THIS test proves the PostgreSQL dialect itself —
the reference Job 2's actual target (`etl-glue-load-to-postgres.py:22-88`):
the zero-row existence probe (the reference used pg_catalog.pg_tables)
resolving table names as the writer does, and the type mapping of the star
contract (numeric(10,2) money, real fares, integer codes) on write and
read-back.

Skips unless BOTH are present:
- PostgreSQL server binaries (initdb/pg_ctl/postgres) — a throwaway
  cluster is initdb'ed in tmp and torn down after
- a PostgreSQL JDBC driver jar, located via $SPARK_GRAFT_PG_JAR or a
  scan of conventional local-repo paths (the public Maven artifact
  org.postgresql:postgresql)

The Spark half runs in a SUBPROCESS (tools/pg_dialect_probe.py): the
driver jar must be on the JVM classpath at session creation, and the
pytest session's shared JVM is already up without it.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PG_PORT = "54329"


def _find_pg_jar() -> str | None:
    env = os.environ.get("SPARK_GRAFT_PG_JAR")
    if env and os.path.exists(env):
        return env
    for pat in (
        os.path.expanduser("~/.ivy2/jars/*postgresql*.jar"),
        os.path.expanduser("~/.ivy2/cache/org.postgresql/postgresql/jars/*.jar"),
        os.path.expanduser("~/.m2/repository/org/postgresql/postgresql/*/*.jar"),
        "/usr/share/java/postgresql*.jar",
    ):
        hits = sorted(glob.glob(pat))
        if hits:
            return hits[-1]
    return None


def _have_pg_binaries() -> bool:
    return all(shutil.which(b) for b in ("initdb", "pg_ctl", "postgres"))


def _su_pg(cmd: str) -> subprocess.CompletedProcess:
    # postgres refuses to run as root; the stock `postgres` system user
    # runs the throwaway cluster (cwd must be traversable by it)
    return subprocess.run(
        ["su", "postgres", "-s", "/bin/sh", "-c", cmd],
        cwd="/tmp",
        capture_output=True,
        text=True,
    )


@pytest.mark.skipif(not _have_pg_binaries(), reason="no PostgreSQL server binaries")
@pytest.mark.skipif(_find_pg_jar() is None, reason="no PostgreSQL JDBC driver jar")
def test_postgres_dialect():
    jar = _find_pg_jar()
    d = tempfile.mkdtemp(prefix="sg_pgtest_")
    os.chmod(d, 0o755)
    data = os.path.join(d, "data")
    started = False
    try:
        if os.geteuid() == 0:
            shutil.chown(d, user="postgres")
            r = _su_pg(f"initdb -D {data} -A trust")
            assert r.returncode == 0, r.stderr
            r = _su_pg(
                f"pg_ctl -D {data} -l {data}/pg.log "
                f"-o '-p {PG_PORT} -c listen_addresses=127.0.0.1 "
                f"-c unix_socket_directories={data}' -w start"
            )
            assert r.returncode == 0, r.stderr + r.stdout
            started = True
            r = _su_pg(f"createdb -h 127.0.0.1 -p {PG_PORT} sgtest")
            assert r.returncode == 0, r.stderr
            url, user = f"jdbc:postgresql://127.0.0.1:{PG_PORT}/sgtest", "postgres"
        else:  # non-root: run the cluster directly
            subprocess.run(["initdb", "-D", data, "-A", "trust"], check=True,
                           capture_output=True)
            subprocess.run(
                ["pg_ctl", "-D", data, "-l", f"{data}/pg.log", "-o",
                 f"-p {PG_PORT} -c listen_addresses=127.0.0.1 "
                 f"-c unix_socket_directories={data}", "-w", "start"],
                check=True, capture_output=True)
            started = True
            subprocess.run(
                ["createdb", "-h", "127.0.0.1", "-p", PG_PORT, "sgtest"],
                check=True, capture_output=True)
            url = f"jdbc:postgresql://127.0.0.1:{PG_PORT}/sgtest"
            user = os.environ.get("USER", "postgres")

        env = dict(os.environ, SPARK_GRAFT_PG_JAR=jar)
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "pg_dialect_probe.py"),
             url, user],
            env=env, capture_output=True, text=True, timeout=600,
        )
        assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]
        assert '"ok": true' in r.stdout, r.stdout[-3000:]
    finally:
        if started:
            if os.geteuid() == 0:
                _su_pg(f"pg_ctl -D {data} -m immediate -w stop")
            else:
                subprocess.run(["pg_ctl", "-D", data, "-m", "immediate", "stop"],
                               capture_output=True)
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Already-running server path (r6 verdict item 7): point the same probe
# at ANY live PostgreSQL — the docker-run recipe in README / the
# tools/pg_docker_ci.sh script — instead of initdb-ing a throwaway
# cluster.  Derby remains the default JDBC gate; this is the opt-in.
# ---------------------------------------------------------------------------

_EXT_URL = os.environ.get("SPARK_GRAFT_PG_URL")


@pytest.mark.skipif(
    not _EXT_URL,
    reason="no external server (set SPARK_GRAFT_PG_URL, e.g. via "
    "tools/pg_docker_ci.sh)",
)
@pytest.mark.skipif(_find_pg_jar() is None, reason="no PostgreSQL JDBC driver jar")
def test_postgres_dialect_external():
    jar = _find_pg_jar()
    user = os.environ.get("SPARK_GRAFT_PG_USER", "postgres")
    password = os.environ.get("SPARK_GRAFT_PG_PASSWORD", "")
    args = [
        sys.executable,
        os.path.join(REPO, "tools", "pg_dialect_probe.py"),
        _EXT_URL,
        user,
    ]
    if password:
        args.append(password)
    r = subprocess.run(
        args,
        env=dict(os.environ, SPARK_GRAFT_PG_JAR=jar),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]
    assert '"ok": true' in r.stdout, r.stdout[-3000:]
