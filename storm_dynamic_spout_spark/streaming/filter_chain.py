"""FilterChain: ordered, runtime-mutable set of drop-predicates.

Reference parity: filter/FilterChain.java:37-129 (ordered map of steps;
a message is dropped if ANY step returns true; steps add/removable at
runtime by id) and filter/FilterChainStep.java:36-45 (the pluggable
boolean predicate, inverted sense vs SQL WHERE: true ⇒ drop).

Design difference (SURVEY §7 hard part 5): steps are SQL predicate
strings, not serialized classes — they persist as plain text in the
sideline control table (vs the reference's Gson class-name serialization,
FilterChainStepSerializer.java:46-95) and are directly DuckDB-checkable.
Spark evaluates them JVM-side via F.expr — no Python in the row path.

Runtime mutability (SURVEY §7 hard part 1): Spark plans are immutable
once a query starts, so a *streaming* consumer re-reads the chain inside
foreachBatch each micro-batch — changes take effect next batch, matching
the reference's next-poll granularity.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class FilterChain:
    """Ordered map of id → SQL drop-predicate."""

    def __init__(self, steps: dict[str, str] | None = None) -> None:
        self._steps: dict[str, str] = dict(steps or {})

    # -- mutation (FilterChain.addStep/removeStep, FilterChain.java:48-64) --
    def add_step(self, step_id: str, predicate_sql: str) -> None:
        if step_id in self._steps:
            raise ValueError(f"filter step already exists: {step_id}")
        self._steps[step_id] = predicate_sql

    def remove_step(self, step_id: str) -> str:
        return self._steps.pop(step_id)

    def has_step(self, step_id: str) -> bool:
        return step_id in self._steps

    def get_step(self, step_id: str) -> str:
        return self._steps[step_id]

    @property
    def steps(self) -> dict[str, str]:
        return dict(self._steps)

    # -- evaluation (FilterChain.filter: drop if ANY step true) --
    def drop_condition(self) -> Column:
        """Column that is true when the row would be DROPPED.

        Each step is coalesced to false so SQL three-valued logic cannot
        leak rows: the reference FilterChainStep returns a primitive
        boolean (never null), so a predicate that evaluates to NULL here
        (e.g. ``key = 'x'`` over a null key) must count as "not dropped".
        This makes keep()/drop() an exact partition of every input row —
        a row is delivered by exactly one of firehose or sideline replay.

        Iterates a snapshot: sideline START/RESOLVE mutate the published
        chain from another thread while a batch builds this column.
        """
        cond = F.lit(False)
        for sql in list(self._steps.values()):
            cond = cond | F.coalesce(F.expr(sql), F.lit(False))
        return cond

    def keep(self, df: DataFrame) -> DataFrame:
        """Rows surviving the chain (keep = AND of NOT step_i)."""
        if not self._steps:
            return df
        return df.filter(~self.drop_condition())

    def drop(self, df: DataFrame) -> DataFrame:
        """Rows the chain drops — what a negated sideline replay consumes
        (NegatingFilterChainStep.java:33-43)."""
        if not self._steps:
            return df.filter(F.lit(False))
        return df.filter(self.drop_condition())

    # -- persistence (SQL-string steps → JSON, vs Gson class blobs) --
    def to_json(self) -> str:
        return json.dumps(self._steps)

    @classmethod
    def from_json(cls, payload: str) -> "FilterChain":
        return cls(json.loads(payload))
