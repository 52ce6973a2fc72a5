"""The benchmark's workloads: which registered queries run, in which order,
on a lake of how many replicas of the smoke fixture.

Each workload is a fixed, ordered list of registered queries
(``registry.all_specs()[name].build``) run one after another by one
driver thread. The workloads' reasons and every metric's name, unit and
direction live only in ``BENCHMARK.json``; ``spec()`` reads it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    scale: int
    # passes before the timed ones: C1 keeps compiling Spark's planner for
    # about ten short passes, while one long pass warms it
    warmups: int


WORKLOADS = {
    "warehouse_lake": Workload(
        ("q1_pricing_summary", "q5_local_supplier_volume", "join_fact_revenue", "compacted_snapshot_roundtrip"),
        scale=2,
        warmups=2,
    ),
    # scale 1: the cost is the ~60 jobs of each clustering execution, not rows
    "dedup_clusters": Workload(
        ("minhash_lsh_neardup", "simhash_neardup", "embedding_neardup_clusters"), scale=1, warmups=1
    ),
}

NODE_FAMILIES = ("scan", "exchange", "aggregate", "join", "python", "window", "sort", "cache_scan")


def spec() -> dict:
    """The parsed ``BENCHMARK.json``."""
    with open(SPEC) as f:
        return json.load(f)
