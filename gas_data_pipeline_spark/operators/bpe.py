"""Distributed byte-pair-encoding merge training.

The tokenizer-seeding pass of an LLM data pipeline: learn the top
merge rules from the corpus (Sennrich et al. 2016). The classical
trick makes it tractable at 100 TB: train on the DISTINCT-WORD
frequency table, not the raw corpus — pair statistics are identical
because BPE merges never cross word boundaries, and the word table is
vocab-sized (millions) while the corpus is not.

Per round, the engine does exactly two bounded things:

- **Pair counting**: explode each word's adjacent symbol pairs
  weighted by word frequency, then a map-side-combinable sum — the
  exchange carries distinct (left, right) pairs, not word instances.
- **Greedy merge**: rewrite every word's symbol array with the won
  pair merged left-to-right non-overlapping. This is a PER-ROW
  higher-order-function fold (JVM codegen, zero shuffle, no Python):
  the word table never moves for the rewrite.

The loop is the same shape as ``operators/graph.py``'s PageRank:
fixed rounds, one bounded shuffle per round, ``localCheckpoint``
truncating lineage so round k's plan doesn't embed round k-1 twice
(the merge AND the next pair count both consume the words table).

Greedy-left semantics (the reference BPE convention): scanning left
to right, a matched pair consumes both symbols and the scan resumes
after them — so in a run of overlapping matches (only possible when
left == right over a repeated symbol) every OTHER match fires. The
DuckDB oracle replays the identical semantics without a sequential
fold via the closed form: positions that match the pair, grouped into
maximal consecutive runs (gaps-and-islands), selecting the even
offsets within each run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gas_data_pipeline_spark.catalog import local_table


def _char_split(word: F.Column) -> F.Column:
    """Initial BPE state: the word as an array of single characters.

    Guarded for the degenerate empty word: ``sequence(1, 0)`` is the
    DESCENDING sequence [1, 0] in Spark, which would otherwise yield
    two empty-string symbols and a phantom ("", "") pair weighted by
    the word's full frequency.
    """
    return F.when(
        F.length(word) < 1, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(word)),
            lambda i: word.substr(i, F.lit(1)),
        )
    )


def _merge_pair(syms: F.Column, left: str, right: str) -> F.Column:
    """Greedy-left non-overlapping merge of (left, right) in one
    symbol array — a per-row fold over positions carrying a skip flag,
    entirely JVM-side."""
    n = F.size(syms)
    merged = F.lit(left + right)
    l_lit, r_lit = F.lit(left), F.lit(right)

    def step(acc, i):
        # F.get is 0-based and null-safe on out-of-bounds, so the
        # lookahead at i == n stays ANSI-safe — the (i < n) conjunct
        # does NOT short-circuit and a bare element_at(syms, i + 1)
        # would throw INVALID_ARRAY_INDEX under spark.sql.ansi.enabled.
        is_match = (
            (i < n)
            & (F.element_at(syms, i) == l_lit)
            & (F.get(syms, i) == r_lit)
        )
        return F.struct(
            F.when(acc["skip"], acc["out"])
            .when(is_match, F.array_append(acc["out"], merged))
            .otherwise(F.array_append(acc["out"], F.element_at(syms, i)))
            .alias("out"),
            (~acc["skip"] & is_match).alias("skip"),
        )

    init = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit(False).alias("skip")
    )
    # n < 2 can't contain a pair — and n = 0 would make sequence(1, n)
    # the DESCENDING [1, 0], feeding element_at an invalid index 0.
    return F.when(n < 2, syms).otherwise(
        F.aggregate(F.sequence(F.lit(1), n), init, step, lambda acc: acc["out"])
    )


def bpe_train_merges(words: DataFrame, rounds: int = 3) -> DataFrame:
    """Learn ``rounds`` BPE merge rules from a (word, freq) table.

    Returns one row per learned rule: ``round (1-based), left, right,
    merged, pair_count`` — deterministic via the (count desc, left
    asc, right asc) tiebreak. The winning pair is a 1-row result
    pulled to the driver per round (same bounded-summary discipline
    as the bounds objects elsewhere); everything row-sized stays
    distributed.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    state = words.select(
        F.col("freq").cast("long").alias("freq"),
        _char_split(F.col("word")).alias("syms"),
    ).localCheckpoint(eager=True)

    learned: list[tuple] = []
    for rnd in range(1, rounds + 1):
        pairs = (
            state.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("syms"), i).alias("l"),
                            F.element_at(F.col("syms"), i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(
            F.desc("cnt"), F.asc("l"), F.asc("r")
        ).limit(1).collect()
        if not top:
            break
        best = top[0]
        learned.append((rnd, best["l"], best["r"], best["l"] + best["r"], best["cnt"]))
        state = state.select(
            "freq", _merge_pair(F.col("syms"), best["l"], best["r"]).alias("syms")
        ).localCheckpoint(eager=True)

    return local_table(
        words.sparkSession,
        learned,
        "round int, left string, right string, merged string, pair_count long",
    )
