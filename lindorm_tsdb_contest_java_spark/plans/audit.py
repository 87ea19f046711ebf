"""Physical-plan audit helpers: make scale regressions test-visible.

Every operator we ship should keep the plan shape we designed for 100 TB:
filters and projections reaching the parquet scan, small sides broadcast,
no accidental cartesian products or global sorts. These helpers turn
those properties into assertions a pytest can pin.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@dataclass
class PlanFacts:
    plan: str

    @property
    def n_shuffles(self) -> int:
        return self.plan.count("Exchange hashpartitioning") + \
            self.plan.count("Exchange rangepartitioning")

    @property
    def has_sort_merge_join(self) -> bool:
        return "SortMergeJoin" in self.plan

    @property
    def has_broadcast_join(self) -> bool:
        return "BroadcastHashJoin" in self.plan or "BroadcastNestedLoopJoin" in self.plan

    def pushed_filters(self) -> list[str]:
        return [l.strip() for l in self.plan.splitlines() if "PushedFilters" in l]

    def read_schemas(self) -> list[str]:
        return [l.strip() for l in self.plan.splitlines() if "ReadSchema" in l]

    def scan_reads_column(self, col: str) -> bool:
        schemas = self.read_schemas()
        return any(col in s for s in schemas)


def facts(df: DataFrame) -> PlanFacts:
    return PlanFacts(executed_plan(df))
