"""Bloom-pruned joins: cut the probe side of a selective large⋈large
join BEFORE its shuffle.

When the build side of a join is selective (a filtered dimension or a
small slice of a fact) but still too big to broadcast, Spark plans a
sort-merge join and shuffles the ENTIRE probe side — including every
row whose key cannot possibly match. Summarizing the build side's join
keys into a Bloom bitmap and probing it map-side drops the can't-match
rows before the exchange; Bloom has no false negatives, so for
inner/semi joins the pruned join returns exactly the naive join's rows
(false positives just ride to the join and fail to match there).

This is the same mechanism Spark's own runtime row-level filtering
(`spark.sql.optimizer.runtime.bloomFilter.enabled`) injects for
qualifying shapes; having it as an explicit operator makes the pruning
deterministic, tunable (m/k), applicable to shapes the optimizer
skips (e.g. probe sides built from mapInPandas stages), and portable
to the streaming foreachBatch paths.

Shares the double-hash positions, the bitmap build and the probe with
``dedup.bloom_prefilter_dedup``: the build is one bitmap aggregate
over the build keys (``dedup._bloom_bitmap``, at most m/8 bytes
collected), the probe a plain Filter of k generated-code bit tests
(``dedup._might_contain``) that Catalyst places below the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gas_data_pipeline_spark.operators.dedup import (
    _bloom_bitmap,
    _bloom_positions,
    _might_contain,
)

_SEED = 0xB100


def bloom_prune(
    probe: DataFrame,
    build_keys: DataFrame,
    on: str,
    m_bits: int = 1 << 20,
    k: int = 7,
) -> DataFrame:
    """Return the rows of ``probe`` whose ``on`` key MIGHT appear in
    ``build_keys`` (single column frame or one sharing ``on``): a
    superset of the matchable rows — never drops a real match, drops
    most non-matches map-side. Compose with a normal join for exact
    inner/semi results."""
    if m_bits % 8 != 0:
        raise ValueError("m_bits must be a multiple of 8")
    bitmap = _bloom_bitmap(build_keys, F.col(on), m_bits, k, _SEED)
    return probe.filter(
        _might_contain(
            probe.sparkSession, bitmap, _bloom_positions(F.col(on), m_bits, k, _SEED)
        )
    )


def bloom_pruned_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    m_bits: int = 1 << 20,
    k: int = 7,
) -> DataFrame:
    """``left.join(right, on, how)`` with the LEFT (probe) side
    bloom-pruned by RIGHT's keys first. Exact for ``inner`` and
    ``left_semi`` (the only hows accepted: outer joins need the
    dropped rows back as null-padded output, which pruning forfeits).
    """
    if how not in ("inner", "left_semi"):
        raise ValueError("bloom_pruned_join is exact for inner/left_semi only")
    pruned = bloom_prune(left, right.select(on), on, m_bits=m_bits, k=k)
    return pruned.join(right, on, how)
