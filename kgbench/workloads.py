"""The benchmark's workloads: one pipeline shape each, sized to a run.

Every workload runs the CLI ``run`` path (``openie_spark/__main__.py``):
``run_pipeline`` → the three counts → ``write_graph_tables`` → triples
parquet. At these sizes a pipeline spends most of its time in fixed
per-job and per-round costs (Spark job launches, stage barriers, parquet
commits), which is what the merge, top-K and lineage work targets.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from openie_spark.pipeline import PipelineConfig

# The reference keeps 1000 of several thousand nodes; 50 keeps about a
# quarter of paper_default's aggregated nodes, so top-K drops and bypasses.
ENTITIES_LIMIT = 50


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    pages: Callable[[int], range]  # seed → indices of golden-corpus pages (inputs.py)
    config: Callable[[str], PipelineConfig]  # a fresh work_dir → config


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="paper_default",
            why=(
                "the reference's shape: KMeans sweep, driver-local merge and top-K "
                "on a lazy plan that every sink recomputes"
            ),
            # pages 0..21 hold 109 sentences: one KMeans fit (k=2) in the
            # 50..90 cluster-size sweep; fixed, because the fixpoint round
            # counts and so the wall time depend on which pages go in
            pages=lambda seed: range(22),
            config=lambda work_dir: PipelineConfig(entities_limit=ENTITIES_LIMIT),
        ),
        Workload(
            name="bulk_ledger",
            why=(
                "a fifth of the golden's pages through clean, parse, extract and "
                "graph as StageLedger stages; no clustering, merge or top-K"
            ),
            # every fifth page, from seed % 5: five seeds cover all 500
            pages=lambda seed: range(seed % 5, 500, 5),
            config=lambda work_dir: PipelineConfig(
                entities_limit=None,
                skip_merge=True,
                skip_clustering=True,
                work_dir=work_dir,
            ),
        ),
    )
}
