"""Replication config DSL — the JSON_MAPPING tree as dataclasses.

Mirrors the reference's declarative per-run spec (case classes
CQLReplicator.scala K:74-110, parquet P:63-73, dynamodb D:82-104,
opensearch O:71-90) and the *validating resolver* from
PrimaryKeyReconciliation R:127-279, which is the strictest of the four:
  * transformation rule must be in the whitelist
  * duplicate transform target columns are an error
  * keepSource=true requires an alias (else the source column would be
    silently clobbered)
  * every key must name a field this engine reads: an unknown key at
    any level is an error naming its dotted path (``replication.x``),
    never a silently ignored setting

The config drives DataFrame pipeline construction; there is no other
"query language" in the reference.
"""

from __future__ import annotations

import base64
import json
import math
from dataclasses import dataclass, field, fields

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
    pointInTime: PointInTime = field(default_factory=PointInTime)
    filterExpression: str | None = None  # arbitrary Spark-SQL expr (K:1849-1853)
    transformations: list[Transformation] = field(default_factory=list)


@dataclass
class WriteConfig:
    # Batched-write limits of the ``cql`` data source (K:74). Not a
    # JSON_MAPPING key: the CLI's bulk parquet target batches by file.
    maxStatementsPerBatch: int = 29
    maxBatchBytes: int = 1024 * 1024
    maxRetries: int = 64
    backoffMS: int = 25
    backoffMultiplier: float = 1.1
    maxBackoffMS: int = 64000


@dataclass
class JsonMapping:
    replication: Replication = field(default_factory=Replication)
    udtConversion: bool = False


class ConfigError(ValueError):
    pass


def _known_keys(raw, cls, path: str) -> dict:
    """``raw`` once it is an object whose every key names a field of
    ``cls``; otherwise a ``ConfigError`` naming the dotted path, so a
    misspelled or unsupported key fails loudly instead of reading as
    its default."""
    if not isinstance(raw, dict):
        raise ConfigError(f"{path or 'JSON_MAPPING'}: expected an object, "
                          f"got {type(raw).__name__}")
    names = {f.name for f in fields(cls)}
    for key in raw:
        if key not in names:
            raise ConfigError(f"unknown config key {path + '.' if path else ''}"
                              f"{key}; {cls.__name__} takes {sorted(names)}")
    return raw


def _build(cls, raw, path: str):
    """``cls(**raw)`` with its keys checked by ``_known_keys``; a missing
    required field is a ``ConfigError`` too."""
    try:
        return cls(**_known_keys(raw, cls, path))
    except TypeError as exc:
        raise ConfigError(f"{path}: {exc}") from None


def resolve(raw: dict) -> JsonMapping:
    """Parse + validate a JSON_MAPPING dict (resolver semantics R:127-279).
    Every level takes only its dataclass's fields."""
    raw = _known_keys(raw, JsonMapping, "")
    rep_raw = dict(_known_keys(raw.get("replication", {}), Replication,
                               "replication"))
    pit = _build(PointInTime, rep_raw.pop("pointInTime", {}),
                 "replication.pointInTime")
    transforms = [_build(Transformation, t, f"replication.transformations.{i}")
                  for i, t in enumerate(rep_raw.pop("transformations", []))]

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
        udtConversion=raw.get("udtConversion", False),
    )


def resolve_b64(encoded: str) -> JsonMapping:
    """The CLI passes JSON_MAPPING base64-encoded (K:561)."""
    return resolve(json.loads(base64.b64decode(encoded)))


# -- sizing calculus ----------------------------------------------------

# rows per second one tile replicates, the reference's sizing rate
# (C:1402-1426)
TILE_ROWS_PER_SEC = 1000


def calculate_workers(wcu_traffic: int, tiles: int) -> tuple[str, int]:
    """Worker-sizing calculus (glue/bin/cqlreplicator C:1402-1426):
    given the target's provisioned write throughput (WCU/s) and the
    tile count, pick the worker type and count so aggregate replication
    throughput (TILE_ROWS_PER_SEC × tiles per worker-ish unit) matches
    the budget. Returns (worker_type, workers); a result below 2 is
    bumped by one (the reference's exact arithmetic, quirks included)."""
    if wcu_traffic <= 0:
        raise ConfigError("wcu_traffic must be positive")
    f = TILE_ROWS_PER_SEC * tiles
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
