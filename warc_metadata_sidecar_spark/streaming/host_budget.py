"""Custom stateful streaming operator: cross-batch per-host fetch budget.

The batch scheduler (frontier/scheduler.py) enforces the politeness budget
within one round. In a streaming deployment candidates trickle in across
micro-batches, so the "already fetched this host N times" count must be
STATE. This operator keeps one counter per host via applyInPandasWithState
(the Spark-idiomatic custom stateful operator) and passes rows through until
the host's lifetime budget is exhausted.

Determinism: within a batch, rows are admitted in (priority desc,
canonical_url) order — the same data-property ordering as the batch
scheduler — so replaying the same batches yields the same admissions.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("canonical_url", T.StringType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("admitted_seq", T.IntegerType()),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("n_admitted", T.IntegerType())])


def make_budget_enforcer(budget: int):
    def enforce(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        admitted = rows.sort_values(
            ["priority", "canonical_url"], ascending=[False, True]
        ).head(max(budget - n, 0))
        state.update((n + len(admitted),))
        if len(admitted):
            yield admitted[["host", "canonical_url", "priority"]].assign(
                admitted_seq=range(n + 1, n + 1 + len(admitted))
            )

    return enforce


def admit_within_budget(candidates: DataFrame, budget: int) -> DataFrame:
    """Streaming frame (host, canonical_url, priority) -> admitted rows with
    their lifetime sequence number per host."""
    return (
        candidates.groupBy("host")
        .applyInPandasWithState(
            make_budget_enforcer(budget),
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
