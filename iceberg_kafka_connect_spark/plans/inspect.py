"""Physical-plan inspection helpers.

"The plan you'd want, not the first one that passed": these helpers let
tests assert the *shape* of the physical plan — broadcasts where a dimension
joins a fact, pushed filters reaching the parquet scan, no stray sort-merge
joins or row-at-a-time Python evals in hot paths.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def count_in_plan(df: DataFrame, token: str, mode: str = "formatted") -> int:
    return plan_string(df, mode).count(token)


def assert_plan(
    df: DataFrame,
    contains: list[str] | None = None,
    absent: list[str] | None = None,
    mode: str = "formatted",
) -> None:
    plan = plan_string(df, mode)
    for token in contains or []:
        assert token in plan, f"plan missing {token!r}:\n{plan}"
    for token in absent or []:
        assert token not in plan, f"plan unexpectedly contains {token!r}:\n{plan}"


def scan_count(df: DataFrame, fmt: str = "parquet") -> int:
    """Number of ``fmt`` file-source scans in ``df``'s optimized logical
    plan. Each one is its own file listing, planning and scan, so a table
    read should need one per write schema, not one per commit."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(re.findall(rf"Relation \[[^\]]*\] {re.escape(fmt)}\b", plan))
