"""Private staging directories for stage-then-rename commits.

The snapshot store and the parquet sink write a cycle's files into
``{parent}/_staging-{host}-{pid}-{uuid}`` and rename them into place,
removing the staging dir when done. A process killed mid-write never
gets that far, so ``remove_dead_staging`` sweeps the dirs whose owner
ran on this host and is no longer alive; writers call it before they
stage, so every cycle collects what crashed cycles left. Dirs of live
processes, and of processes on other hosts (whose liveness this host
cannot see), are kept — a later writer on their own host removes them.
"""

from __future__ import annotations

import os
import shutil
import socket
import uuid

PREFIX = "_staging-"


def new_staging_dir(parent: str) -> str:
    """A fresh staging path under ``parent`` naming this process as its
    owner (not created)."""
    return os.path.join(
        parent, f"{PREFIX}{socket.gethostname()}-{os.getpid()}-{uuid.uuid4().hex}")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by another user
        return True
    return True


def remove_dead_staging(parent: str) -> list[str]:
    """Remove the staging dirs under ``parent`` whose owning process ran
    on this host and has exited. Returns the removed paths."""
    if not os.path.isdir(parent):
        return []
    host = socket.gethostname()
    removed = []
    for name in sorted(os.listdir(parent)):
        if not name.startswith(PREFIX):
            continue
        # the host name may itself hold dashes; pid and uuid never do
        owner = name[len(PREFIX):].rsplit("-", 2)
        if len(owner) != 3 or owner[0] != host or not owner[1].isdigit():
            continue
        if _pid_alive(int(owner[1])):
            continue
        path = os.path.join(parent, name)
        shutil.rmtree(path, ignore_errors=True)
        removed.append(path)
    return removed
