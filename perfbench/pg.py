"""Scratch Postgres cluster for the benchmark's upsert workload.

`initdb` + `pg_ctl` run as the `postgres` user through `runuser` (the
server refuses to run as root), with trust auth over a unix socket and no
TCP listener. Durability settings are Postgres' defaults: fsync=on,
synchronous_commit=on, full_page_writes=on, wal_level=replica.

The cluster lives under the run directory when the `postgres` user can
reach it; when a parent directory is closed to that user, or the socket
path would pass the unix-socket length limit, it lives in a fresh
directory under /tmp instead. Either way `stop()` shuts the server down,
waits for it, and removes the directory.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import time

PG_USER = "postgres"
_BIN_DIRS = "/usr/lib/postgresql/15/bin:/usr/local/bin:/usr/bin"
_SOCKET_MAX = 100  # sun_path is 108 bytes, minus "/.s.PGSQL.5432"


def _as_pg(*cmd: str, check: bool = True) -> subprocess.CompletedProcess:
    r = subprocess.run(
        ["runuser", "-u", PG_USER, "--", *cmd],
        capture_output=True, text=True, cwd="/", timeout=120,
    )
    if check and r.returncode != 0:
        raise RuntimeError(f"{cmd[0]} failed: {r.stderr[-400:]}")
    return r


def _bin(name: str) -> str:
    path = shutil.which(name, path=_BIN_DIRS)
    if path is None:
        raise RuntimeError(f"postgres binary {name!r} not found")
    return path


class ScratchPostgres:
    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.root: str | None = None
        self.started = False

    def _choose_root(self) -> str:
        inside = os.path.join(self.run_dir, "pg")
        os.chmod(self.run_dir, 0o711)  # let the server user traverse it
        os.makedirs(inside)
        shutil.chown(inside, PG_USER, PG_USER)
        reachable = _as_pg("test", "-w", inside, check=False).returncode == 0
        if reachable and len(inside) + 15 <= _SOCKET_MAX:
            return inside
        os.rmdir(inside)
        root = tempfile.mkdtemp(prefix="perfbench-pg-", dir="/tmp")
        shutil.chown(root, PG_USER, PG_USER)
        return root

    def start(self) -> str:
        """Create and start the cluster; returns the socket directory."""
        self.root = self._choose_root()
        data = os.path.join(self.root, "data")
        _as_pg(_bin("initdb"), "-D", data, "-A", "trust", "-U", PG_USER, "--no-sync")
        _as_pg(
            _bin("pg_ctl"), "-D", data, "-w", "-t", "60",
            "-o", f"-c listen_addresses='' -c unix_socket_directories={self.root}",
            "-l", os.path.join(self.root, "log"), "start",
        )
        self.started = True
        return self.root

    def stop(self) -> None:
        if self.root is None:
            return
        if self.started:
            data = os.path.join(self.root, "data")
            r = _as_pg(_bin("pg_ctl"), "-D", data, "-w", "-t", "60", "-m", "fast", "stop", check=False)
            if r.returncode != 0:
                _as_pg(_bin("pg_ctl"), "-D", data, "-w", "-m", "immediate", "stop", check=False)
            self.started = False
        for _ in range(3):
            shutil.rmtree(self.root, ignore_errors=True)
            if not os.path.exists(self.root):
                break
            time.sleep(0.2)
        self.root = None
