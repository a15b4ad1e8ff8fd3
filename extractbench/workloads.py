"""The benchmark's workloads and their inputs.

A run makes its workload's job once, in one fresh Spark session: a cold
job in a cold process, as a ``spark-submit`` of the job would be.
"""

from __future__ import annotations

from dataclasses import dataclass

from inputs import InputSpec

# sizes are multiples of GIANT_EVERY (101): any seed then gets exactly
# 1% giants, so the work per run does not depend on the seed's offset


@dataclass(frozen=True)
class Workload:
    name: str
    inputs: InputSpec
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "wave-pipeline",
            InputSpec("partitioned", n_docs=5050),
            why="run_extraction over 64 stored parts in 4 waves: exchange, "
            "partitioned write, commit, listing, count re-read, lineage, rollup",
        ),
        Workload(
            "multi-output-adversarial",
            InputSpec("giant_clustered", n_docs=2020, n_files=16, hostile_share=0.005),
            why="spans, links, titles and dates over one input: 4 boundary "
            "passes, all giants in one row group, hostile pages in every stage",
        ),
    )
}
