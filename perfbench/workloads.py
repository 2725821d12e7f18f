"""The benchmark's workloads: frozen operation lists and one operation each.

An operation is one registry query run to the noop sink, or one daily
medallion batch. Every workload is a closed loop with one client: the
next operation starts when the previous one has returned.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass, field, replace

# Queries whose registry callables live in operators.tpch, .aggregates,
# .joins, .windows and .projections: a fixed sample of that 76-query
# family, every module represented, each returning a small non-empty
# result, frozen here so a registry change cannot move it. A pass over
# the whole family takes ~45 s on 4 cores, more than the time budget of
# one benchmark run allows (see NOTES.md).
RELATIONAL_MIX = [
    "pricing_summary",  # operators.aggregates (TPC-H Q1)
    "count_by_day",  # operators.aggregates
    "order_value_ecdf",  # operators.aggregates
    "null_counts",  # operators.aggregates
    "shipping_priority",  # operators.tpch
    "late_ship_priority_counts",  # operators.tpch
    "revenue_by_region",  # operators.joins
    "customers_with_orders",  # operators.joins
    "dedup_latest_event",  # operators.windows
    "distinct_projection",  # operators.windows
    "bucketize",  # operators.projections
    "daily_slice",  # operators.projections
]

MEDALLION_TABLES = ["products", "carts", "users", "orders"]
# the first day loads every source; later days are delta batches from the
# users source, which is enough to show the upsert rewrite and the known
# duplicate-email failure while keeping a pass inside the time budget
DELTA_TABLES = ["users"]


@dataclass
class Workload:
    name: str
    kind: str  # "registry" or "medallion"
    sf: float = 0.0
    queries: list[str] = field(default_factory=list)
    days: int = 0
    records_per_day: int = 0


WORKLOADS = {
    "relational_mix": Workload("relational_mix", "registry", sf=0.01, queries=RELATIONAL_MIX),
    "medallion_daily": Workload("medallion_daily", "medallion", days=2, records_per_day=300),
}


def tiny(w: Workload) -> Workload:
    """The same workload at smoke-test size: sf0.001, small batches."""
    return replace(w, sf=0.001 if w.sf else 0.0, records_per_day=min(w.records_per_day, 60))


def query_order(names: list[str], rng: random.Random) -> list[str]:
    return rng.sample(names, len(names))


# ---------------------------------------------------------------------------
# medallion inputs
# ---------------------------------------------------------------------------


def day_tables(day: int) -> list[str]:
    return MEDALLION_TABLES if day == 0 else DELTA_TABLES


def daily_records(w: Workload, seed: int) -> list[dict[str, list[dict]]]:
    """One dict of raw records per day, from the program's own
    ``fixtures.*_raw`` generators, each seeded from (seed, day, table)."""
    from doeecommerce_datapipeline_spark import fixtures

    return [
        {
            t: getattr(fixtures, f"{t}_raw")(
                w.records_per_day, seed=seed * 1000 + day * 10 + MEDALLION_TABLES.index(t)
            )
            for t in day_tables(day)
        }
        for day in range(w.days)
    ]


def records_bytes(day: dict[str, list[dict]]) -> int:
    """Size of a day's records as the JSON a REST source would send."""
    return sum(len(json.dumps(r, default=str)) for recs in day.values() for r in recs)


@dataclass
class FileState:
    """Files under a directory tree, keyed by path and inode, so a file
    that a rewrite replaces under the same name still counts as new."""

    files: dict[tuple[str, int], int] = field(default_factory=dict)

    @staticmethod
    def scan(root: str) -> "FileState":
        st = FileState()
        for d, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    s = os.stat(p)
                except OSError:
                    continue
                st.files[(p, s.st_ino)] = s.st_size
        return st

    def created_since(self, before: "FileState") -> dict[tuple[str, int], int]:
        return {k: v for k, v in self.files.items() if k not in before.files}

    def total(self) -> int:
        return sum(self.files.values())


def fresh_warehouse(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
