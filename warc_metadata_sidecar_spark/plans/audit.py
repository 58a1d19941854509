"""Physical-plan audits (SURVEY.md §4).

The reference hand-rolls its physical optimizations (early filters, lazy
detector gating, digest memoization, hash join — warc_metadata_sidecar.py:
207-265, merge_cdxj.py:85-93); Catalyst gives us most of them, but only if
the plan SHAPE is right. These helpers read `explain("formatted")` output so
tests can pin the shape down:

  - filters before the Python stage (Python UDFs are a pushdown barrier);
  - parquet scans carrying PushedFilters / pruned ReadSchema;
  - broadcast joins where a side is known-small;
  - WholeStageCodegen spans covering the native stages.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def scan_pushdown(df: DataFrame) -> dict:
    """Per-scan PushedFilters/ReadSchema lines from the formatted plan."""
    plan = formatted_plan(df)
    out: dict[str, list[str]] = {"pushed_filters": [], "read_schema": []}
    for line in plan.splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            out["pushed_filters"].append(line.split(":", 1)[1].strip())
        if line.startswith("ReadSchema:"):
            out["read_schema"].append(line.split(":", 1)[1].strip())
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def simple_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def has_partial_aggregation(df: DataFrame) -> bool:
    """Map-side combine present: a partial_* aggregate below the exchange
    (the 'counters for free' property, SURVEY.md A1)."""
    return "partial_" in simple_plan(df)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the pre-AQE physical plan — the
    shuffle-inventory check (SURVEY.md §4: exactly three shuffle classes)."""
    plan = simple_plan(df)
    return sum(1 for line in plan.splitlines() if "Exchange hashpartitioning" in line or "Exchange rangepartitioning" in line)
