"""Replication config DSL — the JSON_MAPPING tree as dataclasses.

Mirrors the reference's declarative per-run spec (case classes
CQLReplicator.scala K:74-110, parquet P:63-73, dynamodb D:82-104,
opensearch O:71-90) and the *validating resolver* from
PrimaryKeyReconciliation R:127-279, which is the strictest of the four:
  * transformation rule must be in the whitelist
  * duplicate transform target columns are an error
  * keepSource=true requires an alias (else the source column would be
    silently clobbered)
  * effective primary key = declared PK with transformed columns
    renamed to their alias (R:265-277)

The config drives DataFrame pipeline construction; there is no other
"query language" in the reference.
"""

from __future__ import annotations

import base64
import json
import math
from dataclasses import dataclass, field

# Rule whitelist (R:51-74). The reference's DataFrame-side dispatcher
# uses Spark builtins; we standardize on them too ('murmur' = Spark
# hash(), deliberately NOT Scala MurmurHash3.stringHash — R:66 already
# makes this call).
TRANSFORM_RULES = ("md5", "sha1", "sha256", "murmur", "xxhash64")


@dataclass
class PointInTime:
    enabled: bool = False
    predicateOp: str = "greaterThan"  # greaterThan | lessThan | equal (P:1511-1523)
    timestamp: int = 0  # epoch micros, matches writetime units


@dataclass
class Transformation:
    column: str
    rule: str
    alias: str | None = None
    keepSource: bool = False


@dataclass
class Replication:
    allColumns: bool = True
    columns: list[str] = field(default_factory=list)
    useCustomSerializer: bool = False
    useMaterializedView: str | None = None
    pointInTime: PointInTime = field(default_factory=PointInTime)
    filterExpression: str | None = None  # arbitrary Spark-SQL expr (K:1849-1853)
    writetimeColumns: list[str] = field(default_factory=list)  # -> greatest(writetime(..)) K:381-384
    ttlColumn: str | None = None
    transformations: list[Transformation] = field(default_factory=list)


@dataclass
class Compression:
    enabled: bool = False
    compressNonPrimaryColumns: list[str] = field(default_factory=list)
    compressAllNonPrimaryColumns: bool = False
    targetNameColumn: str = "compressedPayload"


@dataclass
class LargeObjects:
    enabled: bool = False
    column: str | None = None
    bucket: str | None = None
    prefix: str = "largeobjects"
    enableRefByTimeUUID: bool = False  # else key=<pk1:pk2..>/payload path (K:682-725)
    compressionEnabled: bool = False


@dataclass
class ReadConfig:
    # Source read tuning defaults (K:76-77)
    splitSizeInMB: int = 64
    concurrentReads: int = 32
    fetchSizeInRows: int = 500
    consistencyLevel: str = "LOCAL_ONE"
    readTimeoutMS: int = 120000
    queryRetryCount: int = 180
    # Backpressure: connector-level read throttle
    # (spark.cassandra.input.readsPerSec — R:501/558); None = unthrottled.
    readsPerSec: int | None = None


@dataclass
class WriteConfig:
    # Batched-write limits (K:74, D:84)
    maxStatementsPerBatch: int = 29
    maxBatchBytes: int = 1024 * 1024
    maxRetries: int = 64
    backoffMS: int = 25
    backoffMultiplier: float = 1.1
    maxBackoffMS: int = 64000


@dataclass
class JsonMapping:
    replication: Replication = field(default_factory=Replication)
    compression: Compression = field(default_factory=Compression)
    largeObjects: LargeObjects = field(default_factory=LargeObjects)
    read: ReadConfig = field(default_factory=ReadConfig)
    write: WriteConfig = field(default_factory=WriteConfig)
    udtConversion: bool = False


class ConfigError(ValueError):
    pass


def resolve(raw: dict) -> JsonMapping:
    """Parse + validate a JSON_MAPPING dict (resolver semantics R:127-279)."""
    rep_raw = dict(raw.get("replication", {}))
    pit = PointInTime(**rep_raw.pop("pointInTime", {}))
    transforms = [Transformation(**t) for t in rep_raw.pop("transformations", [])]

    seen_targets: set[str] = set()
    for t in transforms:
        if t.rule not in TRANSFORM_RULES:
            raise ConfigError(
                f"unknown transformation rule {t.rule!r}; allowed: {TRANSFORM_RULES}"
            )
        if t.keepSource and not t.alias:
            raise ConfigError(
                f"transformation on {t.column!r}: keepSource=true requires an alias"
            )
        target = t.alias or t.column
        if target in seen_targets:
            raise ConfigError(f"duplicate transformation target column {target!r}")
        seen_targets.add(target)

    rep = Replication(**rep_raw, pointInTime=pit, transformations=transforms)
    if not rep.allColumns and not rep.columns:
        raise ConfigError("allColumns=false requires a non-empty columns list")

    return JsonMapping(
        replication=rep,
        compression=Compression(**raw.get("compression", {})),
        largeObjects=LargeObjects(**raw.get("largeObjects", {})),
        read=ReadConfig(**raw.get("read", {})),
        write=WriteConfig(**raw.get("write", {})),
        udtConversion=raw.get("udtConversion", False),
    )


def resolve_b64(encoded: str) -> JsonMapping:
    """The CLI passes JSON_MAPPING base64-encoded (K:561)."""
    return resolve(json.loads(base64.b64decode(encoded)))


def effective_pk(pk_cols: list[str], transforms: list[Transformation]) -> list[str]:
    """Declared PK with transformed columns renamed to their alias (R:265-277)."""
    renames = {t.column: t.alias for t in transforms if t.alias and not t.keepSource}
    return [renames.get(c, c) for c in pk_cols]


# -- sizing calculus ----------------------------------------------------

def default_partitions(
    default_parallelism: int,
    executor_cores: int,
    executor_instances: int,
    total_tiles: int,
) -> int:
    """The reference's defaultPartitions formula (K:562-565):
    max(spark.default.parallelism, cores × instances × totalTiles) —
    enough partitions that every core has work on every tile without
    dropping below the cluster's configured parallelism."""
    return max(default_parallelism, executor_cores * executor_instances * total_tiles)


def calculate_workers(
    wcu_traffic: int,
    tiles: int,
    rows_per_sec: int = 1000,
) -> tuple[str, int]:
    """Worker-sizing calculus (glue/bin/cqlreplicator C:1402-1426):
    given the target's provisioned write throughput (WCU/s) and the
    tile count, pick the worker type and count so aggregate replication
    throughput (rows_per_sec × tiles per worker-ish unit) matches the
    budget. Returns (worker_type, workers); a result below 2 is bumped
    by one (the reference's exact arithmetic, quirks included)."""
    if wcu_traffic <= 0:
        raise ConfigError("wcu_traffic must be positive")
    f = rows_per_sec * tiles
    if wcu_traffic <= 10000:
        worker_type, k = "G.025X", -1
    else:
        worker_type, k = "G.1X", 1
    workers = (wcu_traffic + f - 1) // f - k
    if workers < 2:
        workers += 1
    return worker_type, workers


def discovery_workers(tiles: int, override: int = 0) -> int:
    """Discovery-job sizing (C:1127-1133): max(2*tiles+1, 2) unless an
    explicit override is given (OVERRIDE_DISCOVERY_WORKERS)."""
    if tiles <= 0:
        raise ConfigError("tiles must be positive")
    return override if override > 0 else max(2 * tiles + 1, 2)


def traffic_ramp_schedule(
    tiles: int,
    inc_traffic: bool = False,
    cooling_period_s: int | None = None,
) -> list[int]:
    """Per-tile replication start offsets in seconds — the
    ``--inc-traffic`` ramp (C:1286-1291): tile i starts i*period after
    tile 0 so the target's write capacity warms instead of absorbing
    all tiles at once. Defaults mirror C:20-21: 5s inter-start without
    the flag, 240s with it; ``--custom-inc-traffic SECONDS`` overrides
    either."""
    if tiles <= 0:
        raise ConfigError("tiles must be positive")
    period = cooling_period_s if cooling_period_s is not None \
        else (240 if inc_traffic else 5)
    if period < 0:
        raise ConfigError("cooling period must be >= 0")
    return [t * period for t in range(tiles)]


def estimate_tco_per_hour(
    dpu_price_per_hour: float,
    tiles: int,
    workers_per_tile: int,
    discovery_override: int = 0,
) -> tuple[int, float]:
    """(total_dpu, hourly cost) — the helper's get-tco arithmetic
    (H:61-79, C:1135-1137): total DPU = discovery workers + replication
    workers x tiles; cost = price x DPU rounded half-up to cents (the
    reference's ``bc scale=2 (p*d + 0.005)/1``). The price is an input
    here — the reference shells out to a pricing API, which is
    deployment plumbing, not engine logic."""
    if dpu_price_per_hour < 0:
        raise ConfigError("price must be >= 0")
    total_dpu = discovery_workers(tiles, discovery_override) \
        + workers_per_tile * tiles
    cost = math.floor((dpu_price_per_hour * total_dpu + 0.005) * 100) / 100
    return total_dpu, cost
