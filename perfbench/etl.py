"""Seeded bare-cell pipelines written as real HOCON (the notebook
session's pipeline cells).

Each pipeline reads Parquet, CSV and JSON inputs through
ParquetExtract, DelimitedExtract and JSONExtract, joins and aggregates
them in SQLTransform stages, checks them with SQLValidate and writes a
fresh directory with ParquetLoad or DelimitedLoad. The seed picks a
template's key bucket, so every seed writes about as many rows.

The check reads each written directory back with DuckDB and compares
its row count and an order-insensitive hash with DuckDB running the
same SQL over the same input files.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

#: DuckDB views that mirror what each extract hands Spark: Parquet as
#: is, CSV as all-string columns (no schema inference), JSON with
#: ISO-8601 timestamps as strings (Spark does not infer them)
DUCK_SOURCES = {
    "parquet": "SELECT * FROM read_parquet('{path}/*.parquet')",
    "csv": "SELECT * FROM read_csv('{path}/*.csv', header=true, all_varchar=true)",
    "json": "SELECT * REPLACE (CAST({ts} AS VARCHAR) AS {ts}) FROM read_json_auto('{path}/*.json')",
}
JSON_TS = {"orders": "o_orderdate", "events": "ts"}


@dataclass
class Pipeline:
    name: str
    cell: str                       # HOCON cell text
    inputs: dict[str, tuple[str, str]]  # view -> (format, table)
    transforms: list[tuple[str, str]]   # (view, DuckDB SQL)
    output: str                     # final view written
    out_dir: str
    out_format: str                 # parquet | csv


def _hocon(name: str, inputs, transforms, params, output, out_dir, out_format) -> str:
    extract = {"parquet": "ParquetExtract", "csv": "DelimitedExtract", "json": "JSONExtract"}
    stages = [f"""    # {view}: {table} as {fmt}
    {{
      type: {extract[fmt]}
      name: extract_{view}
      inputURI: ${{BENCH_DATA}}"/{table}.{fmt}"
      outputView: {view}{chr(10) + '      header: true' if fmt == 'csv' else ''}
    }}""" for view, (fmt, table) in inputs.items()]
    param_block = "\n".join(f"        {k} = {v}" for k, v in params.items())
    for view, sql in transforms:
        stages.append(f"""    {{
      type: SQLTransform
      name: {view}
      outputView: {view}
      params {{
{param_block}
      }}
      sql: \"\"\"{sql}\"\"\"
    }}""")
    stages.append(f"""    {{
      type: SQLValidate, name: nonempty_{output}
      sql: \"\"\"SELECT COUNT(*) > 0 AS valid,
        TO_JSON(NAMED_STRUCT('rows', COUNT(*))) AS message FROM {output}\"\"\"
    }}""")
    load = "ParquetLoad" if out_format == "parquet" else "DelimitedLoad"
    stages.append(f"""    {{
      type: {load}
      name: write_{output}
      inputView: {output}
      outputURI: ${{BENCH_OUT}}"/{os.path.basename(out_dir)}"
      saveMode: overwrite{chr(10) + '      header: true' if out_format == 'csv' else ''}
    }}""")
    return f"# {name}: generated pipeline\n{{\n  stages: [\n" + "\n".join(stages) + "\n  ]\n}\n"


def _templates(rng: random.Random):
    def shipped_lines():
        params = {"bucket": rng.randrange(4)}
        transforms = [
            ("lines", f"""
        SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, CAST(p.p_size AS INT) AS p_size,
               p.p_brand, o.o_orderpriority,
               CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS net_cents
        FROM li l JOIN ord o ON l.l_orderkey = o.o_orderkey
        JOIN prt p ON l.l_partkey = CAST(p.p_partkey AS BIGINT)
        WHERE l.l_orderkey % 4 = ${{bucket}}"""),
            ("shipped_lines", """
        SELECT * FROM lines WHERE net_cents > 0"""),
        ]
        inputs = {"li": ("parquet", "lineitem"), "ord": ("json", "orders"), "prt": ("csv", "part")}
        return inputs, transforms, params, "parquet"

    def user_activity():
        params = {"bucket": rng.randrange(3)}
        transforms = [
            ("activity", f"""
        SELECT e.user_id, e.event_type, c.c_mktsegment, nat.n_name,
               CAST(ROUND(e.value * 100) AS BIGINT) AS cents
        FROM ev e JOIN cust c ON e.user_id = c.c_custkey
        JOIN nat ON c.c_nationkey = CAST(nat.n_nationkey AS INT)
        WHERE e.event_id % 3 <> ${{bucket}}"""),
            ("user_activity", """
        SELECT n_name, c_mktsegment, event_type, COUNT(*) AS n, SUM(cents) AS cents,
               COUNT(DISTINCT user_id) AS users
        FROM activity GROUP BY n_name, c_mktsegment, event_type"""),
        ]
        inputs = {"ev": ("json", "events"), "cust": ("parquet", "customer"), "nat": ("csv", "nation")}
        return inputs, transforms, params, "csv"

    return {"shipped_lines": shipped_lines, "user_activity": user_activity}


def plan(seed: int, out_root: str) -> list[Pipeline]:
    """Each template once, seeded literals and order."""
    rng = random.Random(seed)
    out = []
    for name, make in _templates(rng).items():
        inputs, transforms, params, fmt = make()
        out_dir = os.path.join(out_root, name)
        cell = _hocon(name, inputs, transforms, params, transforms[-1][0], out_dir, fmt)
        duck_transforms = []
        for view, sql in transforms:
            for key, value in params.items():
                sql = sql.replace(f"${{{key}}}", str(value))
            duck_transforms.append((view, sql))
        out.append(Pipeline(name, cell, inputs, duck_transforms, transforms[-1][0], out_dir, fmt))
    rng.shuffle(out)
    return out


def input_bytes(p: Pipeline, sizes: dict[str, int]) -> int:
    return sum(sizes[f"{table}.{fmt}"] for fmt, table in p.inputs.values())


def output_bytes(p: Pipeline) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(p.out_dir) for f in files
               if not f.startswith((".", "_")))


def _digest(rows) -> tuple[int, str]:
    def norm(v):
        s = str(v)
        try:
            return repr(int(s))
        except ValueError:
            pass
        try:
            return repr(round(float(s), 6))
        except ValueError:
            return s
    lines = sorted("\x1f".join(norm(v) for v in r) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def check(p: Pipeline, data_dir: str, duck) -> tuple[int, str | None]:
    """(rows written, problem or None)."""
    for view, (fmt, table) in p.inputs.items():
        src = DUCK_SOURCES[fmt].format(path=os.path.join(data_dir, f"{table}.{fmt}"),
                                       ts=JSON_TS.get(table, ""))
        duck.execute(f"CREATE OR REPLACE VIEW {view} AS {src}")
    for view, sql in p.transforms:
        duck.execute(f"CREATE OR REPLACE VIEW {view} AS {sql}")
    want = _digest(duck.execute(f"SELECT * FROM {p.output}").fetchall())
    got = _digest(duck.execute(
        DUCK_SOURCES[p.out_format].format(path=p.out_dir, ts="")).fetchall())
    if got != want:
        return got[0], f"{p.name}: wrote {got[0]} rows, expected {want[0]} (hash differs)"
    return got[0], None
