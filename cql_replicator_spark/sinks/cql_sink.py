"""CQL statement builders for the ``cql`` data source (sinks/datasource.py).

Statement construction mirrors the reference's row-by-row path:
  * INSERT INTO trg JSON '<doc>' [IF NOT EXISTS] [USING TIMESTAMP ts]
    [USING TTL n]  (processRowWithTimestamp K:1004-1026,
    processRowWithTTL K:1028-1060, read-before-write IF NOT EXISTS
    K:590-593)
  * DELETE FROM trg WHERE pk... (K:939-984)
"""

from __future__ import annotations

import json

from ..types import escape_sql_string, render_cql_value


def insert_json_statement(
    target: str,
    doc: dict,
    timestamp: int | None = None,
    ttl: int | None = None,
    if_not_exists: bool = False,
) -> str:
    payload = escape_sql_string(json.dumps(doc, separators=(",", ":"), default=str))
    stmt = f"INSERT INTO {target} JSON '{payload}'"
    if if_not_exists:
        stmt += " IF NOT EXISTS"  # idempotent replay path (K:344, K:590-593)
    using = []
    if timestamp is not None:
        using.append(f"TIMESTAMP {timestamp}")
    if ttl is not None:
        using.append(f"TTL {ttl}")
    if using:
        stmt += " USING " + " AND ".join(using)
    return stmt


def delete_statement(target: str, pk_values: dict[str, tuple]) -> str:
    """DELETE FROM trg WHERE pk=... (K:939-984). ``pk_values`` maps
    column -> (value, cql_type)."""
    conds = " AND ".join(
        f"{col} = {render_cql_value(val, typ)}"
        for col, (val, typ) in pk_values.items())
    return f"DELETE FROM {target} WHERE {conds}"
