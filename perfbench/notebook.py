"""``notebook`` workload: a seeded 59-cell session through
``Interpreter.execute``.

Fixed cell counts and a fixed order of cell kinds keep the latency
distribution the same across seeds: the session's first cells pay the
JVM's warm-up (code generation, JIT, the first stream and pipeline),
and with the order fixed that cost lands on the same kinds of cells in
every seed. The seed picks literals and view names:

- 31 ``%sql``: aggregates, joins with top-k, windows, ``LIMIT``
  previews without ORDER BY, ``outputView`` chains read by later cells
  and one ``${param}`` cell;
- 18 ``%metadata`` / ``%schema`` / ``%printschema`` / ``%plan``;
- 6 ``%env`` + ``%sqlvalidate`` over the ``%env`` parameter;
- 2 streaming previews over directory sources;
- 2 bare HOCON pipeline cells (``etl.py``) that write their results.

The 23 cells that do little or no Spark work (schema, printschema,
plan, env, validate) are fewer than half and the 12 ``LIMIT`` previews come next, so the
median is a preview in every seed; the few slow cells (streaming previews wait for
a 1 s poll, pipelines write) sit beyond the p90 with the slowest
``%sql`` cells.

Every check compares what the user saw (the rendered text and HTML)
with DuckDB on the same files and runs after the timed loop.
"""

from __future__ import annotations

import datetime as dt
import html
import math
import random
import re
from dataclasses import dataclass, field
from typing import Any

import etl

NUM_ROWS = 20


@dataclass
class Cell:
    kind: str              # sql | preview | stream | metadata | schema | printschema | plan | env | validate
    source: str            # the cell text given to Interpreter.execute
    duck_sql: str = ""     # the same query for DuckDB (params substituted)
    view: str = ""         # view the cell reads or creates
    creates: str = ""      # outputView created by the cell
    expect: dict[str, Any] = field(default_factory=dict)
    pipeline: etl.Pipeline | None = None


def _date(rng: random.Random, lo: str, hi: str) -> str:
    a, b = dt.date.fromisoformat(lo), dt.date.fromisoformat(hi)
    return (a + dt.timedelta(days=rng.randrange((b - a).days))).isoformat()


def _sql(kind: str, body: str, *, head: str = "", view: str = "", creates: str = "") -> Cell:
    text = body.strip()
    return Cell(kind, f"%sql{head}\n{text}", duck_sql=text, view=view, creates=creates)


def _sql_templates(rng: random.Random) -> dict[str, Any]:
    """One ordered or preview ``%sql`` cell per template call."""
    return {
        "agg_lineitem": lambda: _sql("sql", f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cents, MAX(l_discount) AS max_disc
FROM lineitem WHERE l_shipdate < TIMESTAMP '{_date(rng, '1997-01-01', '2001-06-01')} 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),
        "agg_events": lambda: _sql("sql", f"""
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS users,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents, MIN(ts) AS first_ts
FROM events WHERE ts >= TIMESTAMP '2024-01-{rng.randrange(1, 15):02d} 00:00:00'
  AND ts < TIMESTAMP '2024-01-{rng.randrange(16, 31):02d} 00:00:00'
GROUP BY event_type ORDER BY event_type"""),
        "topk_customers": lambda: _sql("sql", f"""
SELECT c.c_custkey, c.c_name, n.n_name, COUNT(*) AS orders,
       SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_regionkey = {rng.randrange(5)} AND o.o_orderdate >= TIMESTAMP '{_date(rng, '1995-01-01', '1999-01-01')} 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY cents DESC, c.c_custkey LIMIT {rng.choice((5, 10, 15))}"""),
        "topk_parts": lambda: _sql("sql", f"""
SELECT p.p_brand, p.p_type, COUNT(*) AS lines, SUM(l.l_quantity) AS qty
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size BETWEEN {(lo := rng.randrange(1, 40))} AND {lo + 10}
GROUP BY p.p_brand, p.p_type ORDER BY qty DESC, p.p_brand, p.p_type LIMIT 10"""),
        "window_orders": lambda: _sql("sql", f"""
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders WHERE o_custkey BETWEEN {(lo := rng.randrange(0, 1400))} AND {lo + 60}) t
WHERE rk <= 3 ORDER BY o_custkey, rk LIMIT 20"""),
        "window_events": lambda: _sql("sql", f"""
SELECT user_id, event_id, event_type,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
FROM events WHERE user_id IN ({rng.randrange(0, 50)}, {rng.randrange(50, 100)}, {rng.randrange(100, 150)})
ORDER BY user_id, ts, event_id LIMIT 20"""),
        "preview_lineitem": lambda: _sql("preview", f"""
SELECT * FROM lineitem WHERE l_quantity > {rng.randrange(1, 45)} LIMIT {NUM_ROWS}"""),
        "preview_orders": lambda: _sql("preview", f"""
SELECT * FROM orders WHERE o_orderstatus = '{rng.choice('FOP')}'
  AND o_totalprice > {rng.randrange(1000, 400000)} LIMIT {NUM_ROWS}"""),
    }


CELLS = 59
#: ordered / preview ``%sql`` cells per session (chains and the
#: ``${param}`` cell add 7 more: 31 in all)
SQL_MIX = {
    "agg_lineitem": 2, "agg_events": 2, "topk_customers": 2, "topk_parts": 2,
    "window_orders": 2, "window_events": 2, "preview_lineitem": 6, "preview_orders": 6,
}
#: ``outputView`` chains: create, read back and (all but the last) ``%plan``
CHAINS = 3
#: metadata cells over the base views (the chains add 2 ``%plan``)
META_MIX = {"metadata": 1, "schema": 5, "printschema": 5, "plan": 5}
ENV_PAIRS = 3
STREAM_CELLS = 2
#: seeds the order of the units, which is the same in every session
UNIT_ORDER = 0
BASE_VIEWS = ("customer", "orders", "lineitem", "part", "events", "nation", "supplier")
STREAM_VIEWS = {"orders_stream": "orders", "events_stream": "events"}


def plan(seed: int, out_root: str) -> list[Cell]:
    """The seeded session, as units shuffled into one order that is the
    same for every seed."""
    rng = random.Random(seed)
    tmpl = _sql_templates(rng)
    units: list[list[Cell]] = []
    for name, count in SQL_MIX.items():
        units += [[tmpl[name]()] for _ in range(count)]
    for i in range(CHAINS):
        view = f"chain_{seed % 1000}_{i}"
        cutoff = rng.randrange(100000, 450000)
        unit = [
            _sql("sql", f"""
SELECT o.o_custkey, COUNT(*) AS n, SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > {cutoff} AND c.c_mktsegment = '{rng.choice(('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'))}'
GROUP BY o.o_custkey ORDER BY cents DESC, o.o_custkey""", head=f" outputView={view}", creates=view),
            _sql("sql", f"""
SELECT n, COUNT(*) AS customers, SUM(cents) AS cents FROM {view}
GROUP BY n ORDER BY n LIMIT {NUM_ROWS}""", view=view),
        ]
        if i < CHAINS - 1:
            unit.append(Cell("plan", f"%plan\n{view}", view=view))
        units.append(unit)
    for kind, count in META_MIX.items():
        for _ in range(count):
            view = rng.choice(BASE_VIEWS)
            units.append([Cell(kind, f"%{kind}\n{view}", view=view)])
    # %env + %sqlvalidate pairs; the first also drives a %sql cell
    for i in range(ENV_PAIRS):
        key, floor = f"min_price_{i}", rng.randrange(1000, 450000)
        duck = f"SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > {floor}"
        unit = [
            Cell("env", f"%env\n{key}={floor}", expect={key: str(floor)}),
            Cell("validate", "%sqlvalidate\nSELECT COUNT(*) > 0 AS valid, "
                 "TO_JSON(NAMED_STRUCT('rows', COUNT(*))) AS message "
                 f"FROM orders WHERE o_totalprice > ${{{key}}}", duck_sql=duck),
        ]
        if i == 0:
            cell = _sql("sql", f"""
SELECT o_orderpriority, COUNT(*) AS n FROM orders WHERE o_totalprice > ${{{key}}}
GROUP BY o_orderpriority ORDER BY o_orderpriority""")
            cell.duck_sql = cell.duck_sql.replace(f"${{{key}}}", str(floor))
            unit.append(cell)
        units.append(unit)
    for _ in range(STREAM_CELLS):
        view = rng.choice(sorted(STREAM_VIEWS))
        pred = (f"o_totalprice > {rng.randrange(1000, 200000)}" if view == "orders_stream"
                else f"event_type <> '{rng.choice(('click', 'error', 'view'))}'")
        body = f"SELECT * FROM {view} WHERE {pred}"
        units.append([Cell(
            "stream", f"%sql streaming=true streamingDuration=10 numRows={NUM_ROWS}\n{body}",
            duck_sql=body.replace(view, STREAM_VIEWS[view]), view=view)])
    units += [[Cell("pipeline", p.cell, pipeline=p)] for p in etl.plan(seed, out_root)]
    random.Random(UNIT_ORDER).shuffle(units)
    cells = [c for u in units for c in u]
    assert len(cells) == CELLS, len(cells)
    return cells


# -- checks -------------------------------------------------------------

def _text_rows(text: str) -> tuple[list[str], list[list[str]]]:
    lines = [ln for ln in text.splitlines() if ln.startswith("|")]
    split = [[c.strip() for c in ln.strip("|").split("|")] for ln in lines]
    return split[0], split[1:]


def _html_rows(markup: str) -> tuple[list[str], list[list[str]]]:
    rows = [[html.unescape(c).strip() for c in re.findall(r"<t[hd]>(.*?)</t[hd]>", tr)]
            for tr in re.findall(r"<tr>(.*?)</tr>", markup)]
    return rows[0], rows[1:]


def _same(shown: str, value: Any) -> bool:
    if value is None:
        return shown == "null"
    if isinstance(value, bool):
        return shown == str(value).lower()
    if isinstance(value, (int, float)) or type(value).__name__ == "Decimal":
        try:
            return math.isclose(float(shown), float(value), rel_tol=1e-9, abs_tol=1e-9)
        except ValueError:
            return False
    if isinstance(value, dt.datetime):
        return shown.endswith("Z") and dt.datetime.fromisoformat(shown[:-1]) == value
    if isinstance(value, dt.date):
        return shown == value.isoformat()
    text = str(value)
    return shown == text or (len(text) > 50 and shown == text[:47] + "...")


def check(cell: Cell, result, duck) -> str | None:
    """Problem with *cell*'s output, or None when it is correct."""
    if cell.kind in ("sql", "preview", "stream", "pipeline"):
        header, rows = _text_rows(result.text)
        if _html_rows(result.html) != (header, rows):
            return "text and HTML renders show different rows"
        if cell.kind == "pipeline":
            return None
        rel = duck.execute(cell.duck_sql)
        names = [d[0] for d in rel.description]
        want = rel.fetchall()
        if header != names:
            return f"columns {header} != {names}"
        if cell.creates:
            duck.execute(f"CREATE OR REPLACE VIEW {cell.creates} AS {cell.duck_sql}")
        if cell.kind == "stream":
            return None if 0 < len(rows) <= len(want) else f"preview showed {len(rows)} rows"
        if len(rows) != min(NUM_ROWS, len(want)):
            return f"{len(rows)} rows shown, expected {min(NUM_ROWS, len(want))}"
        if cell.kind == "sql":
            for got, exp in zip(rows, want):
                if not all(_same(s, v) for s, v in zip(got, exp)):
                    return f"row {got} != {exp}"
        return None
    if cell.kind == "env":
        ok = all(result.data.get(k) == v for k, v in cell.expect.items())
        return None if ok else f"env {result.data}"
    if cell.kind == "validate":
        (n,) = duck.execute(cell.duck_sql).fetchone()
        return None if result.data == {"rows": n} else f"validate {result.data} != {n}"
    if cell.kind == "plan":
        return None if result.text and isinstance(result.data, list) else "empty plan"
    columns = [r[0] for r in duck.execute(f"DESCRIBE {cell.view}").fetchall()]
    if cell.kind == "metadata":
        _, rows = _text_rows(result.text)
        return None if len(rows) == min(NUM_ROWS, len(columns)) else f"{len(rows)} metadata rows"
    if cell.kind == "schema":
        names = [f["name"] for f in result.data["fields"]]
        return None if names == columns else f"schema {names}"
    missing = [c for c in columns if f" {c}:" not in result.text]
    return f"printschema misses {missing}" if missing else None


def rows_shown(result) -> int:
    if result.html is None:
        return 0
    return len(_html_rows(result.html)[1])

