"""Throwaway Postgres cluster for the cdc_pg workload: unix socket
only, trust auth, data directory inside the run's scratch dir.

Postgres server binaries refuse to run as root. A root session runs
them in a user namespace (``unshare --user``) that maps an
unprivileged uid onto root: the server sees a non-root user while
the kernel checks file access as root, so the cluster can live in a
checkout that only root may enter (``runuser`` would need every
parent directory to be readable by the ``postgres`` user).
"""

from __future__ import annotations

import os
import pwd
import shutil
import signal
import subprocess
import time
from pathlib import Path

PORT = "55433"  # socket only: the port just names the socket file
#: unix-domain socket paths are limited to 107 bytes
_MAX_SOCKET_DIR = 90


def _server_prefix() -> list[str]:
    if os.geteuid() != 0:
        return []
    for user in ("postgres", "nobody"):
        try:
            pw = pwd.getpwnam(user)
        except KeyError:
            continue
        return [
            "unshare", "--user",
            f"--map-user={pw.pw_uid}", f"--map-group={pw.pw_gid}",
        ]
    raise RuntimeError("root session and no unprivileged user to map to")


class PgCluster:
    """``start()`` boots the cluster, ``stop()`` always shuts it down
    and removes its directory (safe to call after a failed start)."""

    def __init__(self, base: Path) -> None:
        if len(str(base)) > _MAX_SOCKET_DIR:
            raise RuntimeError(f"path too long for a unix socket: {base}")
        self.base = base
        self.data = base / "data"
        self.sock = base / "s"
        self.dsn = ["-h", str(self.sock), "-p", PORT, "-U", "postgres", "-d", "postgres"]
        self._prefix = _server_prefix()

    def _server(self, *argv: str) -> None:
        subprocess.run(
            [*self._prefix, *argv], check=True, capture_output=True, timeout=120
        )

    def start(self) -> None:
        self.sock.mkdir(parents=True)
        self._server("initdb", "-D", str(self.data), "-U", "postgres",
                     "--auth=trust", "--no-sync")
        self._server(
            "pg_ctl", "-D", str(self.data), "-w", "-l", str(self.base / "pg.log"),
            "-o", f"-p {PORT} -k {self.sock} -c listen_addresses=''", "start",
        )

    def sql(self, sql: str) -> str:
        out = subprocess.run(
            ["psql", *self.dsn, "-X", "-A", "-t", "-v", "ON_ERROR_STOP=1", "-c", sql],
            capture_output=True, text=True, check=True, timeout=120,
        )
        return out.stdout.strip()

    def stop(self) -> None:
        pidfile = self.data / "postmaster.pid"
        if pidfile.exists():
            try:
                self._server("pg_ctl", "-D", str(self.data), "-m", "fast", "-w", "stop")
            except (subprocess.SubprocessError, OSError):
                pass
        if pidfile.exists():  # pg_ctl could not stop it: kill and wait
            pid = int(pidfile.read_text().split()[0])
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            for _ in range(100):
                try:
                    state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
                except OSError:
                    break
                if state == "Z":
                    break
                time.sleep(0.1)
        shutil.rmtree(self.base, ignore_errors=True)
