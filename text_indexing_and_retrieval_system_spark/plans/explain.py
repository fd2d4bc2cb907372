"""Physical-plan audit helpers: assert the plans we designed for are the
plans Catalyst actually produces (pushdown, pruning, broadcast).
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    try:
        jqe = df._jdf.queryExecution()
        jvm = df.sparkSession._jvm
        emode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        return jqe.explainString(emode)
    except Exception:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode)
        return buf.getvalue()


def scan_read_schema(plan: str, *must_have: str, absent: tuple[str, ...] = ()) -> bool:
    """True if a parquet scan's ReadSchema mentions all `must_have`
    columns and none of `absent` (column pruning check)."""
    for line in plan.splitlines():
        if "ReadSchema" in line:
            if all(c in line for c in must_have) and not any(
                c in line for c in absent
            ):
                return True
    return False


def has_pushed_filter(plan: str, fragment: str) -> bool:
    return any(
        "PushedFilters" in line and fragment in line for line in plan.splitlines()
    )


def has_broadcast_join(plan: str) -> bool:
    return "BroadcastHashJoin" in plan
