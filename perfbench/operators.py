"""``operators`` workload: build+collect of the iterative-operator
queries from ``workloads.queries()``, seeded order per pass.

The set is two graph fixpoints whose cost is build-time jobs and
checkpoints (g05: ~30 jobs, g08: ~45 jobs) and t01 as a short-job-chain
control, so the median op is g05 and the p90 lies in g08. Each result is checked
against ``workloads.oracle_sql()`` on DuckDB: row count, columns and
order-insensitive exact values, canonicalized by the repository's own
oracle comparison (``tools/selfcheck.normalize``).
"""

from __future__ import annotations

import random
import sys

QUERIES = ("g05_distributed_cc", "g08_coreness_levels", "t01_quality_score")


def plan_pass(seed: int, pass_no: int) -> list[str]:
    """Pass ``-1`` is the untimed warm-up pass."""
    order = list(QUERIES)
    random.Random(seed * 1000 + pass_no).shuffle(order)
    return order


class Oracle:
    """DuckDB answers for the query set, computed once per run."""

    def __init__(self, duck, data_dir: str) -> None:
        from arc_jupyter_spark.workloads import oracle_sql
        from arc_jupyter_spark.workloads.base import TABLES

        for t in TABLES:
            duck.execute(f"CREATE OR REPLACE VIEW {t} AS "
                         f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
        saved = list(sys.path)  # selfcheck edits sys.path on import
        from tools.selfcheck import normalize

        sys.path[:] = saved
        self._normalize = normalize
        self._duck = duck
        self._sql = oracle_sql()
        self._cache: dict[str, tuple] = {}

    def check(self, name: str, columns, rows) -> str | None:
        if name not in self._cache:
            rel = self._duck.execute(self._sql[name])
            names = [d[0] for d in rel.description]
            self._cache[name] = (sorted(names), self._normalize(rel.fetchall(), names))
        want = self._cache[name]
        got = (sorted(columns), self._normalize(rows, list(columns)))
        if got[0] != want[0]:
            return f"{name}: columns {got[0]} != {want[0]}"
        if len(got[1]) != len(want[1]):
            return f"{name}: {len(got[1])} rows, oracle has {len(want[1])}"
        return None if got[1] == want[1] else f"{name}: values differ from the oracle"
