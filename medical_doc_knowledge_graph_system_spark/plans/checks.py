"""Physical-plan inspection helpers: assert that Catalyst produced the plan
we designed for (pushdown, broadcast, top-k) instead of silently degrading.
Used by tests/test_plans.py and handy during development."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def physical_plan_string(df: DataFrame) -> str:
    """Single-line-per-node physical plan (simple mode). Use this for
    node+argument substring assertions like "Exchange hashpartitioning" —
    formatted mode splits node names and arguments onto separate lines, which
    makes such assertions pass vacuously."""
    return df._jdf.queryExecution().executedPlan().toString()


def assert_in_plan(df: DataFrame, *needles: str) -> str:
    p = plan_string(df)
    missing = [n for n in needles if n not in p]
    assert not missing, f"plan missing {missing}:\n{p}"
    return p
