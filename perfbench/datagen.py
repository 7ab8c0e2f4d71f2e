"""Seeded benchmark inputs, derived from the fixture tables.

``fixtures/`` holds the repository's sf0.01 fixture tables (FIXTURES.md,
TESTDATA.md) byte for byte. ``layout(tables, seed, out)`` writes a
seeded row permutation of every table into a multi-file Parquet
directory (``<table>.parquet/``), so streams have directory sources,
plus the CSV and JSON copies that the pipeline cells' extracts read.
Generation is untimed.

The benchmark's seed therefore changes row order, file boundaries,
cell literals and op order, never the content or any cardinality.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
#: files per table directory; small dimension tables stay one file
FILES = {"region": 1, "nation": 1, "supplier": 2}
DEFAULT_FILES = 8


def fixture_tables() -> dict[str, pa.Table]:
    """The repo's sf0.01 fixture tables, as shipped in ``fixtures/``."""
    return {t: pq.read_table(os.path.join(FIXTURES, f"{t}.parquet")) for t in TABLES}


def layout(tables: dict[str, pa.Table], seed: int, out: str) -> dict[str, int]:
    """Write a seeded permutation of *tables* under *out*; returns the
    input bytes per table directory (parquet) and per text copy."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    sizes: dict[str, int] = {}
    for name, table in tables.items():
        perm = rng.permutation(table.num_rows)
        shuffled = table.take(pa.array(perm))
        sizes[f"{name}.parquet"] = _write_split(
            shuffled, os.path.join(out, f"{name}.parquet"),
            FILES.get(name, DEFAULT_FILES), _parquet_file,
        )
        if name in ("nation", "part"):
            sizes[f"{name}.csv"] = _write_split(
                shuffled, os.path.join(out, f"{name}.csv"), 2, _csv_file)
        if name in ("orders", "events"):
            sizes[f"{name}.json"] = _write_split(
                shuffled, os.path.join(out, f"{name}.json"), 4, _json_file)
    return sizes


def _write_split(table: pa.Table, path: str, files: int, writer) -> int:
    os.makedirs(path)
    step = -(-table.num_rows // files)
    total = 0
    for i in range(files):
        part = table.slice(i * step, step)
        target = writer(part, os.path.join(path, f"part-{i:05d}"))
        total += os.path.getsize(target)
    return total


def _parquet_file(table: pa.Table, stem: str) -> str:
    path = stem + ".parquet"
    pq.write_table(table, path)
    return path


def _csv_file(table: pa.Table, stem: str) -> str:
    path = stem + ".csv"
    pacsv.write_csv(table, path)
    return path


def _json_file(table: pa.Table, stem: str) -> str:
    path = stem + ".json"
    cols = table.to_pydict()
    names = list(cols)
    with open(path, "w", encoding="utf-8") as fh:
        for row in zip(*(cols[c] for c in names)):
            rec = {k: (v.isoformat() if hasattr(v, "isoformat") else v)
                   for k, v in zip(names, row)}
            fh.write(json.dumps(rec) + "\n")
    return path
