"""Workload definitions and the seeded pass schedule.

Pure Python: importing this module starts no JVM, so the tests and the
run loop can share it.

An *op* is one registered query: ``REGISTRY[name].fn(spark, sf_dir)``
plus one noop-sink write as its action. A *pass* runs every op of the
workload once, in an order fixed by the seed and the pass index.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


# Both workloads read the engine's sf0.1 tables.
SF = "sf0.1"


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    # A warm pass's time on a 4-core host; sizes the warm pass count.
    warm_pass_s: float
    # Warm passes run after the cold pass and left out of the warm
    # metrics, because warm passes keep getting faster for a while.
    warmup_passes: int

    def measured_passes(self, seconds: float) -> int:
        """Measured warm passes: as many as fit in ``seconds``, at least
        one. A count, not a deadline: a count that varied with host
        speed would move the median while passes still get faster."""
        return max(1, int(seconds // self.warm_pass_s))

    def warm_passes(self, seconds: float) -> int:
        """Every warm pass a run makes: the warm-up ones and the measured."""
        return self.warmup_passes + self.measured_passes(seconds)


# Why each workload was chosen is in BENCHMARK.json and NOTES.md. On a
# 4-core host a fresh process pays about 12 s to start and about 2x its
# warm pass on the cold pass, so the op lists are sized for a whole run to
# take about a minute: the benchmark makes 22 runs per workload inside one
# fixed time budget.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="interactive-sf0.1",
            # Fixed-cost dominated bench.HEADLINE queries: Python plan
            # build, Catalyst and 1-16 jobs each. a6_idw_radius is the
            # spatial kernel of ROADMAP open item 3, j8_knn_join_grid the
            # build-heavy kNN join.
            ops=(
                "a1_group_count_zerofill",
                "j1_join_chain_revenue",
                "j4_semi_anti",
                "j8_knn_join_grid",
                "a6_idw_radius",
                "dedup_exact",
            ),
            warm_pass_s=5.5,
            warmup_passes=1,
        ),
        Workload(
            name="pipelines-sf0.1",
            # apm_dataset_pipeline is the reference's geo chain (kNN
            # matching, IDW weather, EWMA, dataset build) and issues most
            # of its jobs while its plan is built. st_availablenow_stream
            # runs real micro-batches with checkpoints;
            # llm_decontaminate_semantic crosses the mapInPandas
            # (Python worker) boundary. The write path:
            # x5_month_shard_backfill writes month shards through
            # pipeline.backfill_month_shards, x13_small_files_compaction
            # rewrites partitions through sources.files.compact_partitions.
            # A warm pass takes about 18 s, so a run has room for one and
            # none is discarded.
            ops=(
                "st_availablenow_stream",
                "llm_decontaminate_semantic",
                "apm_dataset_pipeline",
                "x5_month_shard_backfill",
                "x13_small_files_compaction",
            ),
            warm_pass_s=18.0,
            warmup_passes=0,
        ),
    )
}


def pass_order(ops: tuple[str, ...], seed: int, pass_index: int) -> list[str]:
    """The op order of one pass. The cold pass runs the ops in their
    declared order: an op run first pays the JIT warm-up the later ones
    share (``apm_dataset_pipeline``'s cold build took 20 s first and 13-16 s
    after other ops), so a seeded cold order would mostly measure the
    seed. Warm passes are shuffled by ``(seed, pass_index)``."""
    order = list(ops)
    if pass_index > 0:
        random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


def run_passes(ops, seed, warm_passes, run_op):
    """Closed loop, one client: the cold pass, then ``warm_passes`` warm
    passes (warm-up and measured alike). ``run_op(name, pass_index)`` runs one op and returns its
    record. Returns one list of records per pass, the cold pass first."""
    return [
        [run_op(name, index) for name in pass_order(ops, seed, index)]
        for index in range(1 + warm_passes)
    ]
