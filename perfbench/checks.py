"""Result and plan checks: canonical row sets, cached DuckDB oracles, and
the characteristic-operator census of a Catalyst plan."""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
import re
from collections import Counter

import duckdb


def _norm(v):
    """One rendering per value, engine-agnostic (floats at 9 significant
    digits, -0.0 == 0, structs and maps as sorted tuples)."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0 else f"{v:.9g}"
    if isinstance(v, decimal.Decimal) and v == 0:
        return "0"
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return sorted([k, _norm(x)] for k, x in v.items())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canonical(columns: list[str], rows) -> tuple[list[str], list[list]]:
    """Columns sorted by lower-cased name, rows sorted by value — an
    order-insensitive form two engines can be compared in."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    canon = [[_norm(r[i]) for i in order] for r in rows]
    canon.sort(key=lambda t: json.dumps(t))
    return [columns[i].lower() for i in order], canon


def duck_canonical(con: duckdb.DuckDBPyConnection, sql: str):
    cur = con.execute(sql)
    return canonical([d[0] for d in cur.description], cur.fetchall())


def duck_connect(sf_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    return con


class OracleCache:
    """DuckDB oracle results keyed by (SQL text, dataset manifest), kept
    on disk so the slow quadratic oracles run once per checkout."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def get(self, con, sql: str, sf_dir: str):
        with open(os.path.join(sf_dir, "manifest.json")) as fh:
            manifest = json.load(fh)
        key = hashlib.sha1(
            json.dumps([sql, manifest["version"], manifest["rows"]]).encode()
        ).hexdigest()
        path = os.path.join(self.root, key + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                cols, rows = json.load(fh)
            return cols, rows
        cols, rows = duck_canonical(con, sql)
        with open(path + ".tmp", "w") as fh:
            json.dump([cols, rows], fh)
        os.replace(path + ".tmp", path)
        return cols, rows


def diff(expected, actual) -> str | None:
    """None when equal, else a one-line description of the first
    difference."""
    (ec, er), (ac, ar) = expected, actual
    if ec != ac:
        return f"columns {ac} != expected {ec}"
    if len(er) != len(ar):
        return f"{len(ar)} rows != expected {len(er)}"
    for i, (a, b) in enumerate(zip(ar, er)):
        if a != b:
            return f"row {i}: {a} != expected {b}"
    return None


# Operators whose loss means the plan no longer does the entry's work.
JOIN, WINDOW, GENERATE = "Join", "Window", "Generate"
PYTHON_NODES = {
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas",
}
_NODE = re.compile(r"^[\s:|+\-]*([A-Za-z]\w*)")


def operator_census(plan_text: str) -> Counter:
    """Count of characteristic operators in a Catalyst tree string."""
    c: Counter = Counter()
    for line in plan_text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        name = m.group(1)
        if name in (JOIN, WINDOW, GENERATE):
            c[name] += 1
        elif name in PYTHON_NODES:
            c["Python"] += 1
    return c


def plan_loss(df, reference: Counter | None) -> tuple[Counter, str | None]:
    """Census of the optimized plan of the action that ran on ``df``, and
    a description of what it lost, if anything: a join the analyzed plan
    has, a window or generator the analyzed plan has, or any operator
    kind the ``reference`` census (the warm-up run) had."""
    qe = df._jdf.queryExecution()
    analyzed = operator_census(qe.analyzed().toString())
    optimized = operator_census(qe.optimizedPlan().toString())
    lost = []
    if optimized[JOIN] < analyzed[JOIN]:
        lost.append(f"joins {analyzed[JOIN]}->{optimized[JOIN]}")
    for kind in (WINDOW, GENERATE):
        if analyzed[kind] and not optimized[kind]:
            lost.append(f"{kind} dropped")
    for kind, n in (reference or {}).items():
        if optimized[kind] < n:
            lost.append(f"{kind} {n}->{optimized[kind]} vs warm-up")
    return optimized, ("; ".join(lost) or None)
