"""The benchmark's workloads: which ``__spark_entry__.queries()`` entries
run, at what scale, and how their results are consumed.

Every workload is a closed loop with one client: a pass runs each
operation once, back to back, in an order drawn from the seed; passes
repeat until the run's time is up.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple
    sink: str            # "collect": RunResults.df (Arrow toPandas); "write": Model.write
    tables: tuple        # the inputs the operations read
    scale: float         # TPC-H-style scale factor of the measured inputs


WARMUP_SCALE = 0.001

WORKLOADS = {
    w.name: w
    for w in (
        # semantic-layer Model queries: sub-second fixed costs (build,
        # compile, Catalyst planning, a few tiny jobs) consumed via Arrow
        Workload(
            "bi_semantic",
            (
                "scan_filter_sort_limit", "join_one_left", "in_subquery",
                "funnel", "match_steps_detail", "tpch_q1", "tpch_q8",
                "timeseries_rollup", "retention_curve", "scd2_build",
            ),
            sink="collect",
            tables=("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events"),
            scale=0.01,
        ),
        # corpus pipeline ops with eager barriers, results written through
        # Model.write (the write path, not the collect path)
        Workload(
            "corpus_dedup",
            (
                "dedup_minhash", "curation_pipeline", "dedup_against_fuzzy",
                "containment_join",
            ),
            sink="write",
            tables=("documents",),
            scale=0.01,
        ),
    )
}
