"""Dead-letter queue: failed write operations persisted for replay.

Mirrors persistToDlq / replayLogs (CQLReplicator.scala K:283-299,
K:327-354; DynamoDB flavor D:500-535): failed statements land under
``{root}/{ks}/{tbl}/dlq/{tile}/{op}/log-*.msg`` as JSON lines and can be
replayed idempotently (replay uses IF NOT EXISTS semantics on the
Keyspaces path — K:344 — so double replay is safe).

The store root is any filesystem path (S3 via a mounted/committed
protocol in production; local dir here). Writes happen on executors
inside foreachPartition, so filenames include pid+counter to avoid
collisions without coordination.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from collections.abc import Callable, Iterator


class DeadLetterQueue:
    def __init__(self, root: str, keyspace: str, table: str):
        self.root = root
        self.keyspace = keyspace
        self.table = table

    def _dir(self, tile: int, op: str) -> str:
        return os.path.join(self.root, self.keyspace, self.table, "dlq", str(tile), op)

    def persist(self, tile: int, op: str, payloads: list[dict]) -> str:
        """Write failed ops as one JSON-lines log object (K:283-299).

        tmp + atomic rename (the house publish pattern): a writer
        crashing mid-persist must never leave a torn ``log-*.msg`` —
        replay json-parses every line, so one torn tail line would
        poison the replay of every later log in the directory."""
        d = self._dir(tile, op)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"log-{os.getpid()}-{uuid.uuid4().hex[:12]}.msg")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            for p in payloads:
                f.write(json.dumps(p) + "\n")
        os.replace(tmp, path)
        return path

    def read(self, tile: int, op: str) -> Iterator[dict]:
        for path in sorted(glob.glob(os.path.join(self._dir(tile, op), "log-*.msg"))):
            with open(path) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)

    def replay(
        self,
        tile: int,
        op: str,
        executor: Callable[[dict], None],
    ) -> int:
        """Replay each logged op through the executor (replayLogs K:327-354).
        The executor must be idempotent (IF NOT EXISTS / conditional put).
        Returns number replayed; log files are removed on success."""
        n = 0
        paths = sorted(glob.glob(os.path.join(self._dir(tile, op), "log-*.msg")))
        for path in paths:
            with open(path) as f:
                for line in f:
                    if line.strip():
                        executor(json.loads(line))
                        n += 1
            os.remove(path)
        return n
