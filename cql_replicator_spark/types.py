"""Type system — the value -> CQL literal dispatch tables.

Two of the mapping surfaces the reference implements (SURVEY §1.3; the
third, CQL -> Spark SQL type, K:1225-1241, is the source connector's
job, since this engine takes DataFrames with their own schema):

1. Python/Row value -> CQL literal text (rowToStatement K:1076-1150):
   quoting, escaping, timestamp normalization, blob hex, collections.
2. Null/empty fixups: empty blob "" -> "0x" (correctEmptyBin K:174-185).

All pure functions.
"""

from __future__ import annotations

import datetime as dt
import re
from decimal import Decimal


# -- value -> CQL literal -----------------------------------------------

# Element types whose list elements are single-quoted (regex at K:503).
_QUOTED_ELEM_RE = re.compile(r"(.*text.*)|(.*date.*)|(.*timestamp.*)|(.*inet.*)")

_TS_FRACTION_RE = re.compile(r"\.(\d{1,9})$")
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
_MILLI = dt.timedelta(milliseconds=1)


def escape_sql_string(s: str) -> str:
    """'' escaping for CQL string literals (K:1084)."""
    return s.replace("'", "''")


def normalize_timestamp_millis(value) -> int:
    """Timestamp -> epoch millis with fractional-second padding (K:1086-1107).

    Accepts datetime, epoch millis int, or string forms
    'yyyy-MM-dd HH:mm:ss[.f{1,9}]' / ISO-8601 with 'Z' or offset.
    Sub-ms digits are truncated (padding normalization of K:1093-1101).
    Every form floors to the millisecond, as Spark's ``unix_millis`` does,
    so a pre-epoch instant rounds down, not toward zero.
    """
    if isinstance(value, dt.datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=dt.timezone.utc)
        return (value - _EPOCH) // _MILLI
    if isinstance(value, (int, float)):
        return int(value)
    s = str(value).strip().replace("T", " ")
    if s.endswith("Z"):
        s = s[:-1] + "+0000"
    tz = dt.timezone.utc
    m = re.search(r"([+-]\d{2}):?(\d{2})$", s)
    if m:
        sign = 1 if m.group(0)[0] == "+" else -1
        tz = dt.timezone(sign * dt.timedelta(
            hours=int(m.group(1)[1:]), minutes=int(m.group(2))))
        s = s[: m.start()]
    frac_ms = 0
    fm = _TS_FRACTION_RE.search(s)
    if fm:
        digits = fm.group(1)
        frac_ms = int(digits[:3].ljust(3, "0"))  # pad '.5' -> 500 ms, truncate ns
        s = s[: fm.start()]
    base = dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=tz)
    return (base - _EPOCH) // _MILLI + frac_ms


def bin_to_hex(b: bytes) -> str:
    """blob -> 0x... literal (binToHex K:628-639); empty blob -> '0x' (K:174-185)."""
    return "0x" + b.hex()


def render_cql_value(value, cql_type: str) -> str:
    """One Row cell -> CQL literal text (rowToStatement dispatch K:1076-1150)."""
    t = cql_type.strip().lower()
    if value is None:
        return "null"
    if t in ("text", "varchar", "ascii", "inet", "uuid", "timeuuid"):
        return f"'{escape_sql_string(str(value))}'"
    if t == "date":
        # quoted date (K:1085); escaped like every quoted literal — a
        # string-carried date is user data, not a trusted token
        return f"'{escape_sql_string(str(value))}'"
    if t == "timestamp":
        return str(normalize_timestamp_millis(value))  # epoch millis (K:1086-1107)
    if t == "time":
        return str(int(value))  # K:1108
    if t == "varint":
        # BigDecimal/BigInteger/String dispatch (K:1110-1120): render as
        # plain integer text whatever the carrier type.
        if isinstance(value, Decimal):
            return str(int(value))
        return str(value)
    if t in ("smallint", "tinyint", "int", "bigint", "counter"):
        return str(int(value))
    if t in ("float", "double", "decimal"):
        return str(value)
    if t == "boolean":
        return "true" if value else "false"
    if t == "blob":
        b = value if isinstance(value, (bytes, bytearray)) else bytes(value)
        return bin_to_hex(bytes(b))
    if t.startswith("list<") or t.startswith("frozen<list<"):
        elem = t.split("<", 1)[1].rstrip(">")
        if _QUOTED_ELEM_RE.match(elem):
            inner = ", ".join(f"'{escape_sql_string(str(v))}'" for v in value)
        else:  # listWithSingleQuotes K:1069-1074
            inner = ", ".join(str(v) for v in value)
        return f"[{inner}]"
    if t.startswith("tuple<"):
        # (e1,e2,...) from a Row/struct (K:1131-1140)
        parts = list(value) if not isinstance(value, dict) else list(value.values())
        return "(" + ",".join(
            f"'{escape_sql_string(str(p))}'" if isinstance(p, str) else str(p)
            for p in parts
        ) + ")"
    return f"'{escape_sql_string(str(value))}'"
