"""Shared eager-materialization helper — the AQE-keeping lineage cut
(:func:`materialize_iter`) every iterative op uses instead of a bare
checkpoint, plus the shared broadcast-join row gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["materialize_iter", "BCAST_MAX_ROWS"]

# Measured broadcast gate shared by the iterative-join call sites
# (graph move rounds / pagerank / eigenvector / label propagation and
# ALS half-rounds): a two-to-three-column key frame at or under this
# many rows stays comfortably inside the 8 GB broadcast hard cap and
# measured faster map-side at sf0.1; above it the equi-shuffle join is
# the right plan at fact scale. Hoisted here so the gate cannot
# silently diverge between modules when retuned.
BCAST_MAX_ROWS = 2_000_000


def materialize_iter(df: DataFrame) -> DataFrame:
    """Eagerly materialize one iteration frame and cut its lineage.

    ``persist`` alone caches data but leaves the logical plan chaining
    every prior round; any loop whose round references the previous
    frame twice (eigenvector's contribution join + identity add, the
    dangling-PageRank mass aggregate) doubles its plan per round — the
    3-iteration eigenvector arm analyzed to 4,793 exchanges. A bare
    ``localCheckpoint`` truncates, but executes through ``.rdd``, which
    compiles WITHOUT AQE (no runtime SMJ→BHJ conversion, no partition
    coalescing): 7.5 s vs 4.6 s for persist on the dangling-PageRank
    arm at sf0.1. So the segment runs through the SQL path first
    (persist + count, AQE on), then the cached blocks are checkpointed:
    the non-AQE compile applies only to a cache read, and the returned
    frame's plan is a leaf.

    The returned frame is the checkpoint itself; its blocks are
    RDD-level (not cache-manager entries), so ``Dataset.unpersist()``
    cannot release them — the ContextCleaner frees superseded frames as
    references drop."""
    cached = df.persist()
    cached.count()
    out = cached.localCheckpoint()
    cached.unpersist()
    return out
