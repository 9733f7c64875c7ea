"""Bloom-pruned joins: cut the probe side of a selective large⋈large
join BEFORE its shuffle.

When the build side of a join is selective (a filtered dimension or a
small slice of a fact) but still too big to broadcast, Spark plans a
sort-merge join and shuffles the ENTIRE probe side — including every
row whose key cannot possibly match. Summarizing the build side's join
keys into a broadcast Bloom bitmap and probing it map-side drops the
can't-match rows before the exchange; Bloom has no false negatives, so
for inner/semi joins the pruned join returns exactly the naive join's
rows (false positives just ride to the join and fail to match there).

This is the same mechanism Spark's own runtime row-level filtering
(`spark.sql.optimizer.runtime.bloomFilter.enabled`) injects for
qualifying shapes; having it as an explicit operator makes the pruning
deterministic, tunable (m/k), applicable to shapes the optimizer
skips (e.g. probe sides built from mapInPandas stages), and portable
to the streaming foreachBatch paths.

Shares the double-hash position scheme AND the bitmap build with
``dedup.bloom_prefilter_dedup``: one narrow pass packs per-partition
numpy bitmaps, OR-reduced driver-side at the default sizing and via
executor-side ``treeReduce`` once the bitmap crosses
``dedup.BLOOM_TREE_OR_MIN_BYTES`` (broadcast cost stays m/8 bytes
either way; the tree path removes the partitions x m/8 driver
collect).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gas_data_pipeline_spark.operators.dedup import (
    _bloom_positions,
    _bloom_probe,
    _build_bloom_bitmap,
)

_SEED = 0xB100


def _build_bitmap(keys: DataFrame, key: Column, m_bits: int, k: int) -> bytes:
    """One narrow pass over ``keys``: JVM-side positions, per-partition
    numpy bitmaps, OR-reduced (driver below the tree threshold,
    ``treeReduce`` above — see :func:`dedup._build_bloom_bitmap`)."""
    pos_rows = keys.select(_bloom_positions(key, m_bits, k, _SEED).alias("pos"))
    return _build_bloom_bitmap(pos_rows, m_bits // 8).tobytes()


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
    if "__pos" in probe.columns:
        raise ValueError("probe already has reserved column __pos")
    bitmap = _build_bitmap(build_keys, F.col(on), m_bits, k)
    hits = _bloom_probe(probe.sparkSession.sparkContext.broadcast(bitmap), k)

    keyed = probe.withColumn("__pos", _bloom_positions(F.col(on), m_bits, k, _SEED))
    schema = keyed.drop("__pos").schema

    def sieve(batches):
        for pdf in batches:
            yield pdf.loc[hits(pdf.pop("__pos"))]

    return keyed.mapInPandas(sieve, schema=schema)


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
