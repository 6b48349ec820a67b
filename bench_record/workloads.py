"""The benchmark's workloads: which headline rows each runs, how many warm
passes are discarded and how many passes one run measures.

Row names are ``bench.py``'s ``HEADLINE`` names, so per-row numbers compare
1:1 with the suite of record. The first row of each workload is its cheap
row: the measuring process collects it first, to time ``first_result_s``.
"""

from __future__ import annotations

from dataclasses import dataclass

SCALE = 0.01  # datagen scale factor: the sf0.01 fixture shape, sized for 4 cores
REFERENCE_SECONDS = 20  # the run length the pass counts below are set for


@dataclass(frozen=True)
class Workload:
    rows: tuple[str, ...]
    warmup: int  # warm passes run and discarded after the cold pass
    passes: int  # measured passes at REFERENCE_SECONDS

    def measured_passes(self, seconds: float) -> int:
        """Fixed work: depends only on ``seconds``, so both commits of a
        comparison do the same work whatever their speed."""
        return max(1, round(self.passes * seconds / REFERENCE_SECONDS))


WORKLOADS: dict[str, Workload] = {
    # text near-duplicate detection: shingling, MinHash / SimHash banding
    # and candidate verify in operators.dedup
    "text_dedup": Workload(
        rows=("simhash_pairs", "minhash_pairs"),
        warmup=2,
        passes=5,
    ),
    # embedding dedup: cell k-NN and SemDeDup, shuffle fan-out plus
    # per-pair verify in operators.similarity / dedup
    "llm_dedup": Workload(
        rows=("knn_cells", "semdedup_clusters"),
        warmup=2,
        passes=5,
    ),
}
