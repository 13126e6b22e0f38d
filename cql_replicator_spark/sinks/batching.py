"""Resilient batched writer — the write side of the ``cql`` data source
(sinks/datasource.py).

Reimplements the reference's FlushingSet (CQLReplicator.scala K:210-304):

  * batches bounded by BOTH statement count and byte size
    (<=29 statements / 1 MB per UNLOGGED BATCH — K:74, K:249-259)
  * exponential-backoff retry (64 attempts, 25 ms * 1.1^n — K:213-225)
  * on a batch's final failure: fall back to per-item execution; the
    first item that still fails on its own raises (the reference sends
    it to a dead-letter queue, K:283-299), so the write task fails and
    Spark retries it
  * write counters surfaced for the task's commit message

The executor is injected — a callable taking a list of items that may
raise. A production executor wraps a CQL session created per write
task; tests inject fakes. This runs inside Spark write tasks on
executors: everything here must be picklable and process-local.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass

from ..config import WriteConfig


@dataclass
class BatchStats:
    items_ok: int = 0
    items_failed: int = 0
    batches: int = 0
    retries: int = 0


class FlushingBatch:
    def __init__(
        self,
        executor: Callable[[list], None],
        config: WriteConfig | None = None,
        item_size: Callable[[object], int] = lambda it: len(str(it)),
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.executor = executor
        self.cfg = config or WriteConfig()
        self.item_size = item_size
        self.sleep = sleep
        self.stats = BatchStats()
        self._buf: list = []
        self._bytes = 0

    def add(self, item) -> None:
        sz = self.item_size(item)
        if self._buf and (
            len(self._buf) >= self.cfg.maxStatementsPerBatch
            or self._bytes + sz > self.cfg.maxBatchBytes
        ):
            self.flush()
        self._buf.append(item)
        self._bytes += sz

    def flush(self) -> None:
        if not self._buf:
            return
        batch, self._buf, self._bytes = self._buf, [], 0
        try:
            self._execute_with_retry(batch)
            self.stats.items_ok += len(batch)
        except Exception:
            # final batch failure -> per-item fallback (K:283-299)
            for item in batch:
                try:
                    self._execute_with_retry([item])
                    self.stats.items_ok += 1
                except Exception:
                    self.stats.items_failed += 1
                    raise
        self.stats.batches += 1

    def _execute_with_retry(self, batch: list) -> None:
        backoff = self.cfg.backoffMS / 1000.0
        last: Exception | None = None
        for attempt in range(self.cfg.maxRetries):
            try:
                self.executor(batch)
                return
            except Exception as e:  # retryable-by-default, like resilience4j's 7 classes
                last = e
                self.stats.retries += 1
                if attempt + 1 < self.cfg.maxRetries:
                    # no sleep after the FINAL attempt: the caller is
                    # about to get the exception (and per-item-fallback
                    # a failed 29-statement batch) — a trailing backoff
                    # of up to maxBackoffMS would just stall the raise
                    self.sleep(min(backoff, self.cfg.maxBackoffMS / 1000.0))
                    backoff *= self.cfg.backoffMultiplier
        raise last if last else RuntimeError("retry loop exited without error")

    def close(self) -> None:
        self.flush()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        if exc[0] is None:
            self.flush()
        return False
