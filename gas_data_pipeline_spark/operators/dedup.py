"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram
Jaccard (SURVEY §2.11 X1; BASELINE.json north star).

Exact dedup is one hash aggregate (a shuffle on a 64-hex key). Every
near-duplicate PAIR join is one filter-and-verify pipeline over a
shared index ("Highly Efficient String Similarity Search and Join over
Compressed Indexes", ICDE 2022), one function per stage:

1. hash: :func:`hashed_shingles` makes ``(id, shingles: array<bigint>,
   n)`` with one xxhash64 per shingle (:func:`_hash_each`);
2. bucket: each kernel emits ``(id, bucket key)`` rows
   (:func:`shingle_postings`, :func:`_explode_bands`);
3. pair: :func:`bucket_pairs` co-groups each bucket into candidate
   pairs with ``a.id < b.id`` — linear in the posting stream, never an
   N² cross join or a self-join (which would re-evaluate the shingle
   subtree once per side: Spark shares no common subplan);
4. score: :func:`count_scored` counts shared keys (exact when every
   shingle is a key), :func:`verify_scored` intersects the exact sets
   (when keys only nominate candidates); :func:`_jaccard` is the one
   ratio and :func:`_cap_postings` the one document-frequency cap.

Kernel (registered queries): bucket keys -> scorer.

- jaccard_pairs_inverted_index (dedup_ngram_jaccard; the
  dedup_connected_components / keep_best / cluster_stats seam): every
  shingle, optional df cap -> count.
- jaccard_pairs_prefix_filter (dedup_prefix_jaccard): df-ranked prefix
  shingles, PPJoin length bound -> verify.
- minhash_near_dup_pairs (dedup_minhash_lsh, split_neardup_leakage):
  (band, band_hash) of the MinHash signature -> verify, both over one
  checkpoint of the hashed sets.
- simhash_band_pairs: max_hamming + 1 fingerprint bit-bands -> popcount
  of XOR (dedup_simhash only fingerprints).
- dedup_containment_pairs (suite/northstar): every shingle -> count,
  normalized |A∩B|/|A|.
- incremental_dedup (dedup_incremental_batch): every shingle, df cap
  over both corpora -> count, over a cross-side posting join.

jaccard_pairs_bitset_gemm (dedup_char_jaccard) is the dense-vocabulary
regime: no buckets, every pair scored. It runs on the exact all-pairs
pipeline of ``similarity.block_self_pairs`` (pack the hashed sets in
SQL → pair the blocks → score → emit ``id_a < id_b``) and adds only its
block-pair scorer: vocabulary bitmasks, popcount(AND) → Jaccard.
:func:`near_dup_pairs` dispatches between the kernels.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves string type hints here
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gas_data_pipeline_spark.catalog import local_table
from gas_data_pipeline_spark.functions.exprs import bind
from gas_data_pipeline_spark.operators.similarity import block_count, block_self_pairs


def _word_grams(words: Column, n: int, each, elem: str) -> Column:
    """``each(gram)`` for every word n-gram of a word array, in order;
    an empty ``array<elem>`` for fewer than n words."""
    # Guarded: sequence(1, k) DESCENDS for k < 1 (yielding index 0, an
    # ANSI INVALID_INDEX_OF_ZERO) — documents shorter than n words must
    # short-circuit to an empty gram array.
    k = F.size(words) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: each(F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(n)])),
    )
    return F.when(k >= 1, grams).otherwise(F.array().cast(f"array<{elem}>"))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lower-cased text.

    The split word array is let-bound via :func:`bind` — without it,
    CollapseProject inlines the regex split into every ``element_at``,
    re-splitting the text ~n times per shingle index (measured 16s vs
    <1s over 5k docs)."""
    return bind(
        F.split(F.lower(F.trim(text)), r"\s+"),
        lambda words: F.array_distinct(_word_grams(words, n, lambda g: g, "string")),
    )


def char_shingles(text: Column, n: int = 4) -> Column:
    """Distinct character n-gram shingles (works for CJK / no-space
    scripts where word shingles degenerate). Lower-cased text is
    let-bound so it isn't re-lowered per substring index."""

    def grams(t: Column) -> Column:
        k = F.greatest(F.length(t) - F.lit(n - 1), F.lit(1))
        return F.array_distinct(
            F.transform(F.sequence(F.lit(1), k), lambda i: F.substring(t, i, n))
        )

    return bind(F.lower(text), grams)


def exact_dedup_ranked(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """X1 exact: content-hash groups with a deterministic canonical row
    (lowest id). Output keeps every row tagged, so the caller chooses
    drop vs audit. One shuffle on the content hash."""
    h = F.sha2(F.col(text_col), 256).alias("content_hash")
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col))
    return (
        df.select(F.col(id_col), h)
        .withColumn("dup_rank", F.row_number().over(w).cast("bigint"))
        .withColumn("is_canonical", F.col("dup_rank") == 1)
    )


def span_dedup_exact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 20,
) -> DataFrame:
    """X1 sub-document dedup: chunk each document into consecutive
    ``span_words``-word spans, drop every span whose exact text already
    occurred earlier in the corpus (first occurrence by (id, position)
    wins), and reassemble the surviving text — the pass that strips
    repeated boilerplate passages that document-level dedup can't see
    (the documents differ; the paragraph repeats).

    Returns one row per input document: ``n_spans``, ``n_kept``, and
    ``cleaned_text`` (may be empty when every span was seen before).

    Scale shape: span construction is a narrow explode over a
    transform/sequence chunking (fan-out = n_words / span_words); the
    only shuffles are the canonical ones — partition by span text for
    the first-occurrence window, partition by document id to
    reassemble. No joins, no driver state; at 100 TB the span window
    is the same hash-partitioned pass as exact doc dedup, just keyed
    on spans."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n_spans = F.ceil(F.size(words) / F.lit(float(span_words))).cast("int")
    chunk = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(F.slice(words, i * span_words + 1, span_words), " "),
    )
    spans = df.select(
        F.col(id_col), F.posexplode(chunk).alias("span_idx", "span_text")
    )
    w = Window.partitionBy("span_text").orderBy(F.col(id_col), F.col("span_idx"))
    ranked = spans.withColumn("rn", F.row_number().over(w))
    keep_text = F.when(F.col("rn") == 1, F.col("span_text"))
    return ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.count(keep_text).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("span_idx"), keep_text.alias("t")))
                ),
                lambda s: s["t"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


def remove_repeated_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_doc_freq: int = 3,
) -> DataFrame:
    """X1 cross-document repeated-n-gram removal (exact substring
    dedup a la Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better"): any word ``n``-gram that occurs in at
    least ``min_doc_freq`` DISTINCT documents is treated as corpus
    boilerplate, and every word position it covers is removed from
    every document; the surviving words are re-joined in order.

    Complements :func:`span_dedup_exact`, which chunks on aligned
    20-word boundaries and so misses repeats that straddle a chunk
    edge or sit at different offsets — the sliding n-gram scan here
    catches a repeated passage at ANY offset, at the cost of an
    n-fold occurrence fan-out.

    Returns one row per input document: ``n_words``, ``n_removed``,
    ``clean_text`` (empty string when every word was covered; null
    text degrades to ``(0, 0, '')`` rather than poisoning downstream
    token accounting with NULLs).

    Scale shape: the text column never rides a shuffle. Occurrences
    shrink to ``(id, pos, xxhash64(gram))`` triples before the
    doc-frequency aggregate (map-side-combinable count-distinct on the
    gram hash); flagged grams are by definition few-distinct/high-
    frequency, so the occurrence->flagged join broadcasts under AQE,
    and the per-doc flagged-start sets come back to the full corpus as
    a second small broadcast join. Position filtering and text
    reassembly are per-row higher-order functions — no explode of the
    surviving words, no re-aggregation of text."""
    words_expr = F.coalesce(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        F.array().cast("array<string>"),
    )
    occ = df.select(
        F.col(id_col).alias("_rid"),
        F.posexplode(
            bind(words_expr, lambda ws: _word_grams(ws, n, F.xxhash64, "bigint"))
        ).alias("pos", "gh"),
    )
    flagged = (
        occ.groupBy("gh")
        .agg(F.count_distinct("_rid").alias("_df"))
        .filter(F.col("_df") >= min_doc_freq)
        .select("gh")
    )
    starts = (
        occ.join(flagged, "gh")
        .groupBy("_rid")
        .agg(F.collect_set("pos").alias("_starts"))
    )
    joined = df.join(starts, df[id_col] == starts["_rid"], "left").drop("_rid")
    cov_expr = F.coalesce(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.col("_starts"), lambda s: F.sequence(s, s + F.lit(n - 1))
                )
            )
        ),
        F.array().cast("array<int>"),
    )

    def final_cols(ws: Column, cov: Column) -> Column:
        return bind(
            F.filter(ws, lambda w, i: ~F.array_contains(cov, i)),
            lambda kept: F.struct(
                F.size(ws).cast("bigint").alias("n_words"),
                (F.size(ws) - F.size(kept)).cast("bigint").alias("n_removed"),
                F.array_join(kept, " ").alias("clean_text"),
            ),
        )

    packed = joined.select(
        F.col(id_col),
        bind(
            words_expr, lambda ws: bind(cov_expr, lambda cov: final_cols(ws, cov))
        ).alias("_r"),
    )
    return packed.select(
        id_col, "_r.n_words", "_r.n_removed", "_r.clean_text"
    )


def _hash_each(shingles: Column) -> Column:
    """One xxhash64 per shingle: downstream shuffles and compares move
    8-byte longs, not ~20-40-byte UTF-8 grams. A 64-bit collision
    between distinct shingles of one pair (probability ~(distinct
    shingles)^2 / 2^64) would perturb its count by 1 — negligible."""
    return F.transform(shingles, lambda s: F.xxhash64(s))


def hashed_shingles(df: DataFrame, id_col: str, shingle_col: Column) -> DataFrame:
    """Stage 1: ``(id, shingles: array<bigint>, n)``. The hashed array
    is its own column below the size, so a consumer of both never
    shingles a document twice."""
    return df.select(
        F.col(id_col).alias("id"), _hash_each(shingle_col).alias("shingles")
    ).select("id", "shingles", F.size("shingles").alias("n"))


def shingle_postings(sets: DataFrame) -> DataFrame:
    """Stage 2, every shingle a key: ``(id, n, shingle)``.

    explode_outer + a null filter, not explode: InferFiltersFromGenerate
    turns a plain explode of the ``shingles`` attribute into a
    ``size(shingles) > 0 AND isnotnull(shingles)`` guard, pushes it
    below the spread exchange and substitutes the shingle expression
    into it, so every document was shingled twice, once serially on
    the scan's 1-2 splits (plan-audited r14). The outer form infers
    nothing; the filter drops the null row an empty set explodes to."""
    return sets.select(
        "id", "n", F.explode_outer("shingles").alias("shingle")
    ).filter(F.col("shingle").isNotNull())


def _explode_bands(df: DataFrame, carry: list[str], keys: list[Column], key: str) -> DataFrame:
    """Stage 2, one row per band: ``carry`` columns plus ``band`` (the
    band's index) and ``key`` (its value, ``keys[band]``)."""
    bands = F.array(*[F.struct(F.lit(b).alias("band"), k.alias(key)) for b, k in enumerate(keys)])
    return df.select(*carry, F.explode(bands).alias("bk")).select(*carry, "bk.band", f"bk.{key}")


def bucket_pairs(keyed: DataFrame, keys: list[str], members: list[str]) -> DataFrame:
    """Stage 3: co-group the rows sharing a bucket key into one
    ``(a, b)`` row per member pair with ``a.id < b.id``, once per
    bucket the pair shares; ``a`` and ``b`` are structs of ``members``
    (``id`` among them). Singleton buckets drop before the explode."""
    return (
        keyed.groupBy(*keys)
        .agg(F.collect_list(F.struct(*members)).alias("docs"))
        .filter(F.size("docs") > 1)
        .select(F.explode("docs").alias("a"), "docs")
        .select("a", F.explode("docs").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
    )


def count_scored(pairs: DataFrame) -> DataFrame:
    """Stage 4, count scorer: ``(id_a, id_b, na, nb, n_common)`` from
    pairs whose members are ``(id, n)``."""
    return pairs.groupBy(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
        F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
    ).agg(F.count(F.lit(1)).alias("n_common"))


def verify_scored(pairs: DataFrame, sets: DataFrame, broadcast: bool = False) -> DataFrame:
    """Stage 4, verify scorer: ``(id_a, id_b, na, nb, n_common)`` once
    per distinct candidate pair of :func:`bucket_pairs` output, by
    ``array_intersect`` of the two exact sets of
    :func:`hashed_shingles`, which re-attach by two id joins.
    ``broadcast`` is the small-corpus regime (see
    jaccard_pairs_prefix_filter): candidates spread across the cluster,
    both set sides broadcast-hinted."""
    cand = pairs.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")).distinct()
    sa, sb = (sets.toDF(f"id_{t}", f"sh_{t}", f"n{t}") for t in "ab")
    if broadcast:
        cand = cand.repartition(int(sets.sparkSession.conf.get("spark.sql.shuffle.partitions")))
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
    )


def _jaccard() -> Column:
    return F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))


def _jaccard_pairs(scored: DataFrame, threshold: float) -> DataFrame:
    """``(id_a, id_b, jaccard)`` with ``jaccard >= threshold``."""
    jac = scored.select("id_a", "id_b", _jaccard().alias("jaccard"))
    return jac.filter(F.col("jaccard") >= threshold)


def _cap_postings(
    postings: list[DataFrame], doc_ids: DataFrame, max_doc_frequency: int | float
) -> list[DataFrame]:
    """The document-frequency cap: drop every shingle whose document
    frequency, counted over all of ``postings`` (``(id, n, shingle)``
    frames) together, exceeds the cap, and recount each doc's ``n``
    over the CAPPED vocabulary so Jaccard stays a true Jaccard over the
    reduced universe (symmetric numerator / denominator — the r3
    verdict's requirement).

    The cap is an absolute posting-length bound (int >= 1) or a corpus
    fraction (0 < f < 1, cap = ceil(f * n_docs)). ``doc_ids`` is the
    PRE-explode one-column id frame, so the sizing job is a
    column-pruned distinct count that never evaluates the shingle
    explode (zero-shingle docs count toward the corpus size — the
    fraction is of the corpus, not of the posting stream).

    Scale shape: two exchanges, both on keys the pipeline already
    shuffles on, and nothing per-doc ever converges on one node. The
    df-count aggregate and the anti join share the shingle key (the
    anti join's shuffle-side partitioning is then reused by the
    downstream posting-list groupBy); the stopword side is left
    UN-hinted — it is usually tiny (≤ postings/cap rows by pigeonhole)
    and AQE broadcasts it at runtime when it is, but a forced
    ``F.broadcast`` would gamble the driver on a Zipf tail we can't see
    at plan time. Set sizes are then recomputed as a count over the
    per-id window of the FILTERED index — exact because shingle arrays
    are ``array_distinct``-ed at construction (modulo the already-
    documented 64-bit hash-collision epsilon) — rather than joining a
    per-doc dropped-count table back, which in a web corpus is ~every
    doc (stopwords are everywhere) and must never be a broadcast.

    The posting stream IS evaluated twice in this one job (the df
    aggregate side and the anti-join probe side — Spark shares no
    common subplan). Deliberate: the cap must run BEFORE the posting
    groupBy (a stopword posting materialized as one collect_list array
    is exactly the failure being guarded), and the df-aggregate side
    is column-pruned to the bare shingle key with map-side partials, so
    the second evaluation ships (key, count) pairs, not the stream.
    Callers whose shingle expression dominates can persist it upstream.
    """
    if isinstance(max_doc_frequency, float):
        if not 0 < max_doc_frequency < 1:
            raise ValueError(
                f"fractional max_doc_frequency must be in (0,1), got {max_doc_frequency}"
            )
        cap = max(1, math.ceil(doc_ids.distinct().count() * max_doc_frequency))
    elif max_doc_frequency < 1:
        raise ValueError(f"absolute max_doc_frequency must be >= 1, got {max_doc_frequency}")
    else:
        cap = int(max_doc_frequency)
    keys = reduce(DataFrame.unionByName, [p.select("shingle") for p in postings])
    df_counts = keys.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    stop = df_counts.filter(F.col("df") > cap).select("shingle")
    return [
        p.join(stop, "shingle", "left_anti").withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("id"))
        )
        for p in postings
    ]


def jaccard_pairs_inverted_index(
    df: DataFrame,
    id_col: str,
    shingle_col: Column,
    threshold: float,
    max_doc_frequency: int | float | None = None,
) -> DataFrame:
    """X1 n-gram Jaccard: exact similarity join via inverted index.

    Every hashed shingle is a bucket key; the count scorer's
    ``|A∩B|`` per co-grouped pair is exact, so
    |A∩B| / (|A|+|B|-|A∩B|) >= threshold needs no verification.
    Returns (id_a, id_b, jaccard) with id_a < id_b.

    ``max_doc_frequency`` (absolute posting length, or corpus fraction
    when a float in (0,1)) is the 100-TB guard: a stopword shingle
    shared by p% of a web corpus makes one posting list quadratic
    ((pN)^2 candidate pairs from a single gram). Capped shingles are
    dropped from the index AND from both set-size denominators
    (:func:`_cap_postings`), so the reported value is the exact
    Jaccard over the capped vocabulary — pairs whose shingles are all
    under the cap score identically to the uncapped run. For a
    lossless alternative at the same corpus shape use
    ``jaccard_pairs_prefix_filter``.
    """
    sets = hashed_shingles(df, id_col, shingle_col)
    inv = shingle_postings(sets)
    if max_doc_frequency is not None:
        (inv,) = _cap_postings([inv], sets.select("id"), max_doc_frequency)
    pairs = bucket_pairs(inv, ["shingle"], ["id", "n"])
    return _jaccard_pairs(count_scored(pairs), threshold)


# Verification-stage broadcast bound for jaccard_pairs_prefix_filter's
# small-corpus regime: the doc-set sides are broadcast-hinted only when
# the whole corpus' hashed shingle sets (estimated at 16 B/element)
# fit comfortably in one broadcast relation. Matches the session's
# 64 MB autoBroadcastJoinThreshold.
_VERIFY_BCAST_MAX_BYTES = 64 * 1024 * 1024


def jaccard_pairs_prefix_filter(
    df: DataFrame,
    id_col: str,
    shingle_col: Column,
    threshold: float,
) -> DataFrame:
    """Exact threshold-Jaccard similarity join with PREFIX FILTERING
    (PPJoin family) — the lossless pruning that keeps high-frequency
    shingles from exploding the inverted index.

    The plain inverted index (jaccard_pairs_inverted_index) generates
    |posting|^2 candidate pairs per shingle; char n-grams like "the "
    appear in nearly every document, so one posting covers the corpus
    and candidates go quadratic in N. Prefix filtering is the standard
    fix: order every document's shingle set by ascending global
    document frequency and index only its first
    |s| - ceil(t*|s|) + 1 shingles. Any pair with Jaccard >= t shares
    at least one PREFIX shingle under a common total order (a pair
    whose intersection avoids r's prefix has |r∩s| <= |r| - prefix_len
    < t*|r|, contradicting Jaccard >= t) — so candidate generation is
    exact, and mega-postings vanish because ubiquitous shingles sit at
    the END of every prefix order. Candidates are then verified on the
    full sets (array_intersect), so results are identical to the naive
    join.

    Cost shape at scale: one df-count aggregate (shuffle on shingle
    hash), one shingle-hash join to rank, one regroup per doc, a small
    posting-list pair expansion over rare shingles only, and a
    verification join keyed on doc id. Every shuffle key is either the
    8-byte shingle hash or the doc id — no wide rows move except the
    final per-candidate set fetch.

    Candidates are additionally LENGTH-filtered before the distinct
    (PPJoin's size bound): J(x,y) = o/(|x|+|y|-o) <= min/max because
    o <= min and |x|+|y|-o >= max, so any pair with min(|x|,|y|) /
    max(|x|,|y|) < t provably fails the final exact filter — IEEE
    division is monotone, so the same double compare the verify stage
    runs can only agree. Lossless, and it cuts both the candidate
    distinct's shuffle and the verification work (~25% on the word
    3-gram corpus, more on length-skewed ones).

    Small-corpus regime (r14 optimization, measured 1.5x): the
    candidate set's BYTES are tiny (16 B/pair) while its verification
    COST is per-row compute (an array_intersect over two full shingle
    sets), so AQE's byte-sized coalescing parks the whole verify stage
    on one or two cores, and the planner may even pick the CANDIDATES
    as the broadcast build side — serializing the intersects onto the
    doc-set side's 1-2 checkpoint partitions (the spread_scan
    pathology, bytes understating compute). When one tiny aggregate
    over the checkpointed sets shows the corpus is broadcast-sized,
    spread the candidates across the cluster and broadcast-hint both
    (bounded) doc-set sides. Above the bound nothing changes: no hint
    (sets must not ride a broadcast), no extra exchange, the planner's
    shuffled join parallelizes verification by construction.
    """
    # The hashed shingle sets feed FOUR consumers (df-count explode,
    # the rank join, and both sides of the verification join); without
    # a materialization each consumer re-runs the scan + shingling +
    # hashing. Materialized form is bounded: N x avg-set-size longs,
    # not text — same discipline as the bitset-GEMM kernel's `base`.
    # localCheckpoint (not persist): scoped to this invocation, so
    # repeated calls can't silently serve a stale cache entry.
    sets = hashed_shingles(df, id_col, shingle_col).localCheckpoint(eager=True)
    ex = shingle_postings(sets)
    df_counts = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # Rank each doc's shingles by (global df, hash): regroup and keep
    # the prefix. sort_array on struct(df, shingle) gives the common
    # total order both sides of any candidate pair agree on.
    prefix_len = (F.col("n") - F.ceil(F.col("n") * F.lit(threshold)) + F.lit(1)).cast("int")
    ranked = (
        ex.join(df_counts, "shingle")
        .groupBy("id", "n")
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("ordered"))
        .select("id", "n", F.slice(F.col("ordered.shingle"), 1, prefix_len).alias("prefix"))
    )
    inv = ranked.select("id", "n", F.explode("prefix").alias("shingle"))
    # PPJoin length filter (lossless — see docstring): division, not
    # t*max, so the compare is the exact double the verify runs.
    pairs = bucket_pairs(inv, ["shingle"], ["id", "n"]).filter(
        F.least("a.n", "b.n") / F.greatest("a.n", "b.n") >= F.lit(threshold)
    )
    # Small-corpus regime guard (see docstring): one tiny agg over the
    # checkpointed sets decides whether the doc-set sides are
    # broadcast-bounded. 16 B/element is a deliberate over-estimate of
    # the framed array cost (8 B value + offsets/validity + row
    # overhead spread across elements).
    tot = sets.agg(F.coalesce(F.sum("n"), F.lit(0))).collect()[0][0]
    return _jaccard_pairs(
        verify_scored(pairs, sets, broadcast=tot * 16 <= _VERIFY_BCAST_MAX_BYTES), threshold
    )


def minhash_signature_pandas(k: int = 64, seed: int = 42):
    """Arrow-vectorized k-permutation MinHash signature: array<bigint>
    of shingle hashes in, array<bigint> signature out. Permutation i is
    XOR with a fixed 64-bit salt (bijective, so a valid permutation
    family) and signature[i] is the signed min over shingles; an empty
    shingle set signs as all INT64_MAX.

    The expensive string hashing stays JVM-side (one ``xxhash64`` per
    shingle); this UDF only does int64 XOR+min — numpy runs the
    (n_shingles × k) matrix at memory bandwidth, ~30x faster than an
    interpreted Spark fold with a k-wide accumulator. Factory-scoped so
    cloudpickle ships it by value (executors don't import this
    package)."""
    import random

    from pyspark.sql.functions import pandas_udf

    # Fixed pseudorandom salts as UNSIGNED 64-bit ints. Full 64 bits
    # matter: 63-bit salts never flip the sign bit of the signed
    # xxhash64 values, so every "permutation" would take its min from
    # the same ~half of shingles whose hash is negative — correlated
    # slots, degraded LSH recall on small sets.
    rng = random.Random(seed)
    salts = [rng.getrandbits(64) for _ in range(k)]

    @pandas_udf("array<bigint>")
    def sig(hashes: pd.Series) -> pd.Series:
        import numpy as np

        salt_row = np.array(salts, dtype=np.uint64).reshape(1, -1)

        def one(hs) -> list:
            h = np.asarray(hs, dtype=np.int64).view(np.uint64).reshape(-1, 1)
            if h.size == 0:
                return [(1 << 63) - 1] * len(salts)
            # view() reinterprets back to SIGNED for the min: the
            # signature orders as Spark bigints do.
            return (h ^ salt_row).view(np.int64).min(axis=0).tolist()

        return hashes.map(one)

    # The function is pure, but advertising determinism lets
    # PushProjectionThroughUnion clone the UDF into every Union branch,
    # where Spark's Python-UDF extraction rewrites only one copy and
    # the survivor dies at eval time ("Cannot evaluate expression:
    # sig(...)"). Nondeterministic projections don't push through.
    return sig.asNondeterministic()


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    shingle_col: Column,
    threshold: float = 0.5,
    k: int = 64,
    bands: int = 32,
) -> DataFrame:
    """X1 MinHash-LSH: the banded signature's ``(band, band_hash)``
    keys nominate candidates; the verify scorer computes their exact
    Jaccard on the hashed sets. The corpus is shingled once, into an
    eager ``localCheckpoint`` of the hashed sets that the sizing count,
    the signature and both verify joins read.

    Default bands=32 × rows=2 (k=64) is a recall-leaning S-curve:
    capture probability at j=0.5 is 1-(1-0.25)^32 ≈ 0.9999 (vs ~40%
    for the textbook 8×4 split). At 100 TB trade the other way —
    fewer, wider bands (e.g. 16×8 at k=128) cut the candidate count
    for the same threshold at the cost of borderline recall. ``bands``
    must divide ``k``: every signature slot sits in exactly one band.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    if not 1 <= bands <= k or k % bands:
        raise ValueError(f"bands must divide k (k={k}, bands={bands})")
    rows_per_band = k // bands
    # The hashed sets feed the sizing count, the signature branch and
    # both verify joins: shingle the corpus once, into a checkpoint
    # (hashed sets only, not the raw text). localCheckpoint (not
    # persist) scopes it to this call, so no later call reads it.
    sets = hashed_shingles(df, id_col, shingle_col).localCheckpoint(eager=True)
    # Shingle string-hashing stays JVM-side; the k-permutation XOR-min
    # runs vectorized in numpy (identical output to the expression
    # formulation, ~30x faster on wide shingle sets). A corpus of one
    # similarity.block_count block signs in ONE Arrow task (coalesce: no
    # shuffle); a larger one keeps its partitions, since narrowing sf0.1's
    # 3 blocks from 4 partitions cost more CPU and wall than it saved.
    signed = sets.coalesce(1) if block_count(sets.count()) == 1 else sets
    # Empty sets would share the all-MAX signature and all-pairs
    # explode in every band bucket: they drop before signing. (The
    # checkpoint is opaque to the optimizer, so this guard cannot be
    # pushed below it into a second shingling of the corpus.)
    sig = signed.filter(F.size("shingles") > 0).withColumn(
        "sig", minhash_signature_pandas(k)("shingles")
    )
    # Band keys only — the shingle arrays must NOT ride through the
    # band explode (a `bands`-fold payload blowup in the shuffle);
    # they re-attach once per candidate in the verify scorer.
    band_hashes = [
        F.xxhash64(*[F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)])
        for b in range(bands)
    ]
    banded = _explode_bands(sig, ["id"], band_hashes, "band_hash")
    pairs = bucket_pairs(banded, ["band", "band_hash"], ["id"])
    return _jaccard_pairs(verify_scored(pairs, sets), threshold)


def md5_low64(value: Column) -> Column:
    """Portable 64-bit hash: the first 16 hex chars of md5, reinterpreted
    as a signed bigint. Unlike ``xxhash64`` (engine-specific), md5 exists
    in every SQL engine, so SimHash built on this basis is *oracle-able*
    end-to-end in DuckDB. Assembled with shiftleft/bitwiseOR — conv() of
    8 hex chars fits a bigint unsigned, and the final OR sets bit 63
    without tripping ANSI overflow checks."""
    m = F.md5(value)
    hi = F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash64_pandas():
    """Arrow-vectorized SimHash: array<bigint> of token hashes in,
    bigint fingerprint out — per bit, most significant first, the
    majority vote of the token hashes' bits (a tie sets the bit; no
    tokens give 0). Near-dups differ in few bits (small Hamming
    distance). String hashing stays JVM-side; numpy votes ~20x faster
    than an interpreted 64-wide fold. Nondeterministic-marked for the
    same PushProjectionThroughUnion reason as
    ``minhash_signature_pandas``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def sh(hashes: pd.Series) -> pd.Series:
        import numpy as np

        bitw = np.arange(63, -1, -1, dtype=np.uint64)

        def one(hs) -> int:
            h = np.asarray(hs, dtype=np.int64).view(np.uint64)
            if h.size == 0:
                return 0
            bits = ((h[:, None] >> bitw) & np.uint64(1)).astype(np.int64)
            votes = (bits * 2 - 1).sum(axis=0)
            code = 0
            for v in votes:
                code = (code << 1) | (1 if v >= 0 else 0)
            # Reinterpret the 64-bit pattern as signed (matches the
            # expression version's bigint).
            return code - (1 << 64) if code >= (1 << 63) else code

        return hashes.map(one)

    return sh.asNondeterministic()


def simhash_band_pairs(df: DataFrame, id_col: str, sim_col: str, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ``max_hamming``:
    the 64-bit fingerprint splits into ``max_hamming + 1`` contiguous
    bit-bands, so by pigeonhole any pair within the bound agrees on at
    least one whole band. Each ``(band, band value)`` is a bucket key;
    the popcount of XOR scores each candidate. Returns
    (id_a, id_b, hamming) with id_a < id_b."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in 0..63, got {max_hamming}")
    edges = [64 * b // (max_hamming + 1) for b in range(max_hamming + 2)]
    keys = [
        F.shiftright("sim", lo).bitwiseAND(F.lit((1 << (hi - lo)) - 1 if hi - lo < 64 else -1))
        for lo, hi in zip(edges, edges[1:])
    ]
    sims = df.select(F.col(id_col).alias("id"), F.col(sim_col).alias("sim"))
    banded = _explode_bands(sims, ["id", "sim"], keys, "band_val")
    hamming = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
    return (
        bucket_pairs(banded, ["band", "band_val"], ["id", "sim"])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), hamming.alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# The dense-vocabulary bound: jaccard_pairs_bitset_gemm refuses a
# corpus with more distinct hashed shingles (its vocabulary and the
# per-doc bitmask must stay small).
BITSET_MAX_VOCAB = 100_000

# near_dup_pairs(method='auto') routes to the bitset kernel only up to
# this many distinct hashed shingles. The bitset kernel's popcount
# cost grows with N²·V/64, while the prefix filter gets cheaper as the
# postings thin out. Timed over 5,000 docs of word 3-grams (4 cores,
# bitset vs prefix): V = 1,331, 6.4 vs 10.4 s; V = 1,728, 7.5 vs 7.8 s;
# V = 2,197, 9.2 vs 6.5 s; sf0.1's 27,213, 82.5 vs 3.4 s.
AUTO_BITSET_MAX_VOCAB = 1_536


def jaccard_pairs_bitset_gemm(
    df: DataFrame,
    id_col: str,
    shingle_col: Column,
    threshold: float,
    prehashed: bool = False,
    max_vocab: int = BITSET_MAX_VOCAB,
) -> DataFrame:
    """Exact threshold-Jaccard pairs for the DENSE-vocabulary regime:
    encode each document as a bitmask over the global shingle
    vocabulary and score all pairs with popcount(AND) over block pairs.

    Inverted-index joins (plain or prefix-filtered) assume shingles
    discriminate: rare shingles → short postings → few candidates. A
    corpus whose shingle vocabulary is tiny relative to N (template
    text, bounded generators, char n-grams over a small alphabet)
    saturates every posting and candidate generation goes quadratic no
    matter how it is pruned — on our documents table, char 4-grams
    yield ~1k distinct shingles across 5k docs, and the index path
    produces ~170M candidate pairs. In that regime the exact answer IS
    all-pairs, so compute it the dense way, on the pack → pair → score
    pipeline of ``similarity.block_self_pairs`` (which
    ``similarity.cosine_near_dup_pairs`` shares): the hashed-shingle
    sets pack into blocks in SQL, and per block pair this kernel's
    scorer builds each side's bitmasks (V bits → V/64 uint64 words per
    doc, a shingle's bit its rank in the sorted vocabulary, one
    ``np.searchsorted``) and the intersection matrix with W vectorized
    AND+popcount outer products (SWAR popcount; numpy<2 lacks
    bitwise_count). Jaccard = inter / (na + nb - inter), the sizes
    from the pack.

    Scale dial: choose by vocabulary. This kernel accepts V ≤
    ``max_vocab`` (the ``BITSET_MAX_VOCAB`` default: bitmask ≤ 12.5
    KB/doc), but its cost grows with V, so ``near_dup_pairs(method=
    'auto')`` sends it only V ≤ ``AUTO_BITSET_MAX_VOCAB`` and every
    larger vocabulary to jaccard_pairs_prefix_filter. The vocabulary is one
    bounded distinct collected to the driver; the sorted array ships
    inside the scorer closure.
    """
    # prehashed: shingle_col already yields array<long> ids (e.g.
    # char_shingle_ids_pandas) — skip the per-gram xxhash64 transform.
    id_expr = shingle_col if prehashed else _hash_each(shingle_col)
    # A corpus small enough for this kernel scans as a handful of
    # parquet splits (2 tasks here) — spread it across the cluster
    # BEFORE the CPU-heavy shingling so every core works; the 5k-row
    # shuffle is free relative to the UDF it parallelizes. (Guarded:
    # no-op if the caller already spread the input.)
    from gas_data_pipeline_spark.catalog import spread_scan

    spread = spread_scan(df)
    # Shingling is the scan-heavy step, and the vocabulary collect, the
    # block count and the pack all read the sets: materialize them once
    # (hashed sets only, not the raw text). localCheckpoint (not
    # persist) scopes them to this call, so no later call reads them.
    base = spread.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.array_distinct(id_expr).alias("shingles"),
    ).localCheckpoint(eager=True)
    # Vocabulary to the driver: by this kernel's regime definition V is
    # small (≤ ~1e5 → ≤ ~1 MB of longs), so the distinct-shingle set is
    # a collectible stats object, exactly like the IVF centroids or the
    # z-order bounds row.
    # limit(max_vocab+1) bounds the collect BEFORE it happens: if the
    # extra row comes back, the vocabulary is open and this kernel is
    # the wrong regime — refuse instead of OOMing the driver.
    vocab_rows = _bounded_vocab(base, F.col("shingles"), max_vocab).collect()
    if len(vocab_rows) > max_vocab:
        raise ValueError(
            f"bitset-GEMM kernel is for closed vocabularies (<= {max_vocab} "
            "distinct shingles); this corpus exceeds it — use "
            "jaccard_pairs_prefix_filter (or dedup_near(method='auto'))"
        )
    vocab = np.array(sorted(r["sh"] for r in vocab_rows), dtype=np.int64)
    width = max(1, (len(vocab) + 63) // 64)

    def jaccard(a, b):
        import numpy as np

        m1 = np.uint64(0x5555555555555555)
        m2 = np.uint64(0x3333333333333333)
        m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
        h01 = np.uint64(0x0101010101010101)

        def popcount(x):
            x = x - ((x >> np.uint64(1)) & m1)
            x = (x & m2) + ((x >> np.uint64(2)) & m2)
            x = (x + (x >> np.uint64(4))) & m4
            return ((x * h01) >> np.uint64(56)).astype(np.int64)

        def words(flat, sizes):
            # A shingle's bit is its rank in the sorted vocabulary.
            sizes = np.asarray(sizes, dtype=np.int64)
            ix = np.searchsorted(vocab, np.asarray(flat, dtype=np.int64))
            w = np.zeros((len(sizes), width), dtype=np.uint64)
            rows = np.repeat(np.arange(len(sizes)), sizes)
            np.bitwise_or.at(w, (rows, ix >> 6), np.uint64(1) << (ix & 63).astype(np.uint64))
            return w, sizes

        (A, na), (B, nb) = words(*a), words(*b)
        inter = np.zeros((len(na), len(nb)), dtype=np.int64)
        for w in range(width):
            inter += popcount(A[:, w][:, None] & B[None, :, w])
        return inter / (na[:, None] + nb[None, :] - inter)

    return block_self_pairs(base, "id", F.col("shingles"), jaccard, threshold, "jaccard")


def _bounded_vocab(df: DataFrame, hashed: Column, bound: int) -> DataFrame:
    """The distinct hashed shingles of ``df``, cut at ``bound + 1``
    rows: more than ``bound`` rows means an open vocabulary."""
    return df.select(F.explode(hashed).alias("sh")).distinct().limit(bound + 1)


def near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5, method: str = "minhash"
) -> DataFrame:
    """Near-dup pairs ``(id_a, id_b, jaccard)`` over word 3-gram
    shingles of ``text_col``. method: 'minhash' (LSH candidates + exact
    verify — the scale default), 'exact' (inverted index), 'prefix'
    (PPJoin prefix filter), 'bitset' (dense-vocabulary popcount
    kernel), 'auto' (bitset when the distinct hashed shingles number at
    most ``AUTO_BITSET_MAX_VOCAB``, else prefix). 'auto' counts what the
    bitset kernel refuses on, under a lower bound, so it never routes
    into a refusal, and only the count reaches the driver."""
    shingles = word_shingles(F.col(text_col), n=3)
    if method == "auto":
        bound = AUTO_BITSET_MAX_VOCAB
        n_vocab = _bounded_vocab(df, _hash_each(shingles), bound).count()
        method = "bitset" if n_vocab <= bound else "prefix"
    kernels = dict(minhash=minhash_near_dup_pairs, exact=jaccard_pairs_inverted_index,
                   prefix=jaccard_pairs_prefix_filter, bitset=jaccard_pairs_bitset_gemm)
    if method not in kernels:
        raise ValueError(f"unknown dedup method: {method}")
    return kernels[method](df, id_col, shingles, threshold)


def connected_components(
    pairs: DataFrame,
    src: str,
    dst: str,
    max_iters: int = 20,
    driver_max_edges: int = 500_000,
) -> DataFrame:
    """Connected components over a pair list (hash-min label
    propagation): each node repeatedly adopts the minimum label in its
    neighborhood until fixpoint -> (id, label) with label = component's
    minimum node id.

    This is the CLUSTERING step every near-dup pipeline runs after
    pair generation (keep one doc per component, not per pair — pairs
    (a,b),(b,c) must retire b AND c, which per-pair logic misses).

    Pregel-style driver loop: per iteration one join edges⋈labels +
    one min-aggregate, both shuffling on node id; `localCheckpoint`
    truncates the growing lineage so iteration i doesn't replay 1..i-1.
    Converges in O(component diameter) rounds — near-dup components
    are shallow (dups of a common source), so 2-4 rounds in practice;
    the loop exits on the first round with zero label changes. At
    graph-shaped extremes (long chains) switch to the large-star/
    small-star algorithm (Kiveris et al.), same join primitives.

    Pair lists at or under ``driver_max_edges`` take a bounded
    driver-side union-find fast path instead (same min-id labels);
    set it to 0 to force the distributed loop.
    """
    e = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    edges = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Right-size the loop's parallelism to the edge set: near-dup pair
    # lists are typically tiny relative to the corpus, and each Pregel
    # round is several stages — scheduling 32 tasks per stage for a
    # few hundred rows costs more than the work (measured: the loop was
    # 4.2s of pure overhead for 278 edges). Edges are materialized, so
    # the count is free; ~100k edges per task keeps big graphs wide.
    n_edges = edges.count()
    if n_edges <= driver_max_edges:
        # Small-graph fast path: a dedup pair list is the SMALL output
        # of candidate generation; under the bound it is a bounded
        # stats object, so union-find on the driver replaces 3-5 whole
        # Pregel rounds (each join+agg+checkpoint+count ≈ a dozen
        # tiny-task stages). Edges arrive via Arrow (toPandas) as two
        # flat numpy columns — ~8 MB at the 500k default — instead of
        # a list of Row objects, which cost ~10x that in Python object
        # overhead. Union by min-root + full path compression makes
        # every root the component's minimum id — bit-identical to the
        # hash-min fixpoint. Above the bound the distributed loop runs;
        # the threshold is a parameter so deployments (and tests) can
        # pin either path.
        pdf = edges.filter(F.col("src") < F.col("dst")).toPandas()
        src_vals = pdf["src"].to_numpy().tolist()
        dst_vals = pdf["dst"].to_numpy().tolist()
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while x != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(src_vals, dst_vals):
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = sorted(set(src_vals) | set(dst_vals))
        out = [(n, find(n)) for n in nodes]
        id_type = edges.schema["src"].dataType.simpleString()
        return local_table(pairs.sparkSession, out, f"id {id_type}, label {id_type}")
    sc = pairs.sparkSession.sparkContext
    loop_parts = max(1, min(sc.defaultParallelism, n_edges // 100_000 + 1))
    edges = edges.repartition(loop_parts, "dst").localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .repartition(loop_parts, "id")
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    changed = -1
    for _ in range(max_iters):
        nb = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("dst_label")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nb_min"))
            .withColumnRenamed("src", "id")
        )
        # Carry the old label through the checkpoint so the convergence
        # check is a filter-count over already-materialized blocks — not
        # a separate labels⋈new_labels join job per round.
        stepped = (
            labels.join(nb, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nb_min"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("prev_label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter(F.col("label") != F.col("prev_label")).count()
        labels = stepped.select("id", "label")
        if changed == 0:
            break
    if changed != 0:
        # Silent non-convergence splits one true component into several
        # — downstream dedup would under-retire duplicates with no
        # error signal. Diameter > max_iters means the graph is not
        # near-dup-shaped; the caller should raise max_iters or switch
        # to a large-star/small-star formulation.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing); component diameter exceeds "
            "max_iters — raise it for long-chain graphs"
        )
    return labels


def char_shingle_ids_pandas(n: int = 4):
    """Arrow-batched char n-gram shingle ids: text -> distinct
    array<long>, one id per gram.

    Exists because interpreted higher-order functions (transform +
    substring per index) run OUTSIDE whole-stage codegen — measured
    4.6s of a 10s query just shingling 5k docs. Python slicing over
    Arrow batches is ~10x faster here, and the ids are EXACT, not
    hashes: a gram whose UTF-8 is <= 8 bytes is its own big-endian
    integer (injective — zero collision probability, better than
    xxhash64); longer grams (CJK) fall back to an md5-derived 63-bit
    id. Use only where the id never leaves the engine (the bitset
    kernel builds its own vocabulary); oracle-facing paths keep string
    shingles.

    Marked nondeterministic so Catalyst cannot push the projection
    through a Union (PushProjectionThroughUnion clones the UDF but
    Python-UDF extraction rewrites one copy -> INTERNAL_ERROR).
    Self-contained closure: executors never import this package.
    """
    from pyspark.sql.functions import pandas_udf

    size = int(n)

    @pandas_udf("array<long>")
    def ids(text: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        mask = (1 << 63) - 1
        # ASCII fast path: bytes == chars, so the gram ids come from a
        # numpy sliding-window view + one shift-and-sum — identical
        # values to the per-gram int.from_bytes loop (ascii byte 0 <
        # 128 keeps the sign bit clear), ~10x fewer interpreter ops.
        # Only valid for grams that fit one uint64 (size <= 8): beyond
        # that the arange stop wraps negative to a huge uint64 and the
        # >=64-bit shifts are undefined, so n > 8 must take the
        # per-gram loop, whose md5 branch handles long grams exactly.
        vectorizable = size <= 8
        if vectorizable:
            shifts = np.arange(7, 7 - size, -1, dtype=np.uint64) * np.uint64(8)
        out = []
        for t in text:
            s = (t or "").lower()
            if vectorizable and len(s) >= size and s.isascii():
                a = np.frombuffer(s.encode("ascii"), dtype=np.uint8)
                w = np.lib.stride_tricks.sliding_window_view(a, size).astype(
                    np.uint64
                )
                v = (w << shifts).sum(axis=1, dtype=np.uint64)
                out.append(np.unique(v).astype(np.int64).tolist())
                continue
            k = max(len(s) - size + 1, 1)
            grams = {s[i: i + size] for i in range(k)}
            row = []
            for g in grams:
                b = g.encode("utf-8")
                if len(b) <= 8:
                    v = int.from_bytes(b.ljust(8, b"\0"), "big")
                else:
                    v = int.from_bytes(hashlib.md5(b).digest()[:8], "big")
                row.append(v & mask)
            out.append(row)
        return pd.Series(out)

    return ids.asNondeterministic()


def incremental_dedup(
    new: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
    max_doc_frequency: int | float | None = None,
) -> DataFrame:
    """Cross-corpus incremental dedup: admit only the rows of a NEW
    batch that duplicate nothing in the EXISTING corpus — the per-
    snapshot ingestion gate of a growing training corpus (each crawl
    deduped against everything already kept).

    Two stages, mirroring the intra-corpus pipeline:

    1. Exact: left-anti join on sha-256 content hash (one shuffle on
       the hash; at scale the existing side is a persisted hash index,
       maintained incrementally, not recomputed per batch).
    2. Near: word n-gram Jaccard via the cross-side inverted index —
       postings join on gram id, pair counts grouped by (new, old),
       threshold on |A∩B| / (|A|+|B|-|A∩B|). Only gram ids and sizes
       shuffle; text never does. At scale the existing-side posting
       list is likewise a materialized index.

    ``max_doc_frequency`` is the same 100-TB stopword-shingle guard as
    ``jaccard_pairs_inverted_index``: document frequency is counted
    over BOTH corpora together, capped grams leave both posting sides
    AND both size denominators (so scores are exact Jaccard over the
    capped vocabulary, symmetric across the new/existing boundary).
    A boilerplate gram shared by every crawl page would otherwise make
    the cross join |new_posting|x|existing_posting| quadratic.

    Returns the surviving rows of `new` (original columns).
    """
    new_h = new.withColumn("__h", F.sha2(F.col(text_col), 256))
    ex_h = existing.select(F.sha2(F.col(text_col), 256).alias("__h")).distinct()
    survivors = new_h.join(ex_h, "__h", "left_anti").drop("__h")

    # Per-side posting streams, built DIRECTLY from each corpus: a
    # union-then-filter formulation would re-evaluate both sides'
    # shingle explodes inside every side view (Spark shares no common
    # subplan across the two filters), doubling the most expensive
    # stage — measured 2.5x on dedup_incremental_batch at sf0.1.
    pa, pb = (
        shingle_postings(hashed_shingles(d, id_col, word_shingles(F.col(text_col), n)))
        for d in (survivors, existing)
    )
    if max_doc_frequency is not None:
        # df counted across BOTH corpora; capped grams leave both
        # posting sides, and each side's set sizes are recounted.
        ids = survivors.select(id_col).unionByName(existing.select(id_col))
        pa, pb = _cap_postings([pa, pb], ids, max_doc_frequency)
    common = (
        pa.select(F.col("id").alias("id_new"), F.col("n").alias("na"), "shingle")
        .join(pb.select(F.col("id").alias("id_ex"), F.col("n").alias("nb"), "shingle"), "shingle")
        .groupBy("id_new", "id_ex", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    dirty = common.filter(_jaccard() >= threshold).select(F.col("id_new").alias(id_col)).distinct()
    return survivors.join(dirty, id_col, "left_anti")


def keep_best_per_cluster(
    docs: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    quality: Column | None = None,
) -> DataFrame:
    """Canonicalization step after near-dup clustering: given the full
    corpus and the (id, label) output of `connected_components`, keep
    exactly one representative per duplicate cluster — the highest-
    ``quality`` member, ties broken by lowest id — and flag the rest
    for retirement. Documents in no cluster are their own singleton
    component and always keep.

    This is the piece per-pair dedup gets wrong: with pairs (a,b) and
    (b,c), retiring "the worse of each pair" can retire b twice and
    keep both a and c even when all three are mutual near-dups; the
    component-wise argmax retires b and c together.

    Scale shape: the labels table is |docs-in-pairs|-sized — usually a
    small fraction of the corpus, and the left join broadcasts it when
    so. The argmax is one window over component_id (cluster-sized
    partitions, bounded by the dedup threshold's cluster sizes).
    """
    q = quality if quality is not None else F.length("text")
    lab = labels.select(F.col("id").alias(id_col), F.col("label"))
    labeled = (
        docs.join(lab, id_col, "left")
        .withColumn("component_id", F.coalesce("label", F.col(id_col)))
        .drop("label")
    )
    w = Window.partitionBy("component_id").orderBy(q.desc(), F.col(id_col))
    wd = Window.partitionBy("component_id")
    return (
        labeled.withColumn(
            "component_size", F.count(F.lit(1)).over(wd).cast("bigint")
        )
        .withColumn("keep", F.row_number().over(w) == 1)
    )


def _bloom_positions(key: Column, m_bits: int, k: int, seed: int) -> list[Column]:
    """The k Bloom bit positions of ``key``, one Column each, by double
    hashing (pos_i = (h1 + i*h2) mod m, Kirsch-Mitzenmacher): two
    xxhash64 evaluations stand in for k independent hashes with no loss
    of false-positive guarantees. Both base hashes are reduced mod m
    BEFORE the multiply so i*h2 stays far from bigint overflow (ANSI
    mode would raise on it).

    Unrolled rather than a ``transform`` over ``sequence(0, k-1)``: a
    higher-order-function lambda runs interpreted, while k plain
    expressions compile into the consuming stage's generated code,
    where subexpression elimination computes the two base hashes once
    per row."""
    b1 = F.pmod(F.xxhash64(key), F.lit(m_bits))
    b2 = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(m_bits))
    return [F.pmod(b1 + i * b2, F.lit(m_bits)) for i in range(k)]


# Bytes per bitmap_construct_agg bucket: 32,768 bits.
_BITMAP_BUCKET_BYTES = 4096


def _bloom_bitmap(keys: DataFrame, key: Column, m_bits: int, k: int, seed: int) -> bytes:
    """The m/8-byte Bloom bitmap of ``key`` over ``keys``: bit p is
    ``byte[p >> 3] & (1 << (p & 7))``. One JVM aggregate builds it:
    each row's k positions explode, and ``bitmap_construct_agg`` packs
    them into 4,096-byte buckets grouped by ``bitmap_bucket_number``
    (both 1-based, hence p + 1), with map-side partial aggregation.
    The driver collects at most m/8 bytes and lays bucket b at byte
    (b - 1) * 4096."""
    p1 = F.explode(F.array(*[p + 1 for p in _bloom_positions(key, m_bits, k, seed)]))
    buckets = (
        keys.select(p1.alias("p1"))
        .groupBy(F.expr("bitmap_bucket_number(p1)").alias("b"))
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(p1))").alias("bits"))
        .collect()
    )
    n_bytes = m_bits // 8
    out = bytearray(n_bytes + _BITMAP_BUCKET_BYTES)  # room for the last bucket
    for r in buckets:
        off = (r["b"] - 1) * _BITMAP_BUCKET_BYTES
        out[off : off + _BITMAP_BUCKET_BYTES] = r["bits"]
    return bytes(out[:n_bytes])


def _might_contain(spark: SparkSession, bitmap: bytes, positions: list[Column]) -> Column:
    """True where every one of ``positions`` is set in ``bitmap`` (a
    :func:`_bloom_bitmap`): k generated-code bit tests, each on the one
    byte ``substr(bm, (p >> 3) + 1, 1)``. ``bm`` is a scalar subquery
    over a one-row local table, so plans print its scan, not m/8 bytes
    per test. Latin-1 decodes a byte to the code point of its value,
    which ``ascii`` returns."""
    bm = local_table(spark, [(bitmap,)], "bm binary").scalar()

    def bit_set(p: Column) -> Column:
        byte = bm.substr(F.shiftright(p, 3).cast("int") + 1, F.lit(1))
        return F.bit_get(F.ascii(F.decode(byte, "ISO-8859-1")), (p % 8).cast("int")) == 1

    return reduce(Column.__and__, [bit_set(p) for p in positions])


def bloom_prefilter_dedup(
    new: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 7,
    seed: int = 0x5EED,
) -> DataFrame:
    """Exact incremental dedup with a Bloom prefilter: admit the rows of
    NEW whose content hash appears nowhere in EXISTING, without
    shuffling the whole new batch against the seen-set.

    The plain formulation (``incremental_dedup`` stage 1) anti-joins
    new⋈existing on sha-256 — at 100 TB that shuffles every new row's
    hash even though the overwhelming majority of a crawl batch is
    genuinely new. Here the seen-set is summarized once into an
    ``m_bits`` Bloom bitmap (128 KiB at the 2^20 default) and probed
    map-side:

    - ``maybe = false`` -> definitely new (Bloom has NO false
      negatives) — these rows skip the join entirely and never
      shuffle.
    - ``maybe = true`` -> candidate (true dup OR false positive) —
      only this sliver pays the exact anti-join confirm, so the
      result is EXACT, identical to the plain anti-join, regardless
      of the false-positive rate. FPR only moves the *cost* knob:
      at m/n = 2^20/10^5 and k=7 it is ~2e-5.

    Both phases are SQL: the build is one bitmap aggregate over
    EXISTING (:func:`_bloom_bitmap`), the probe k generated-code bit
    tests per row (:func:`_might_contain`). No row leaves the JVM.

    At 100 TB the bitmap is maintained incrementally alongside the
    hash index (new batch's bits OR-ed in after admission) instead of
    rebuilt per batch; sizing follows n ~= corpus cardinality with
    m/n >= 10 for sub-1% FPR.

    Returns the surviving rows of ``new`` (original columns).
    """
    state = BloomDedupState(m_bits=m_bits, k=k, seed=seed)
    state.absorb(existing, text_col=text_col)
    return state.filter_new(new, existing, text_col=text_col)


class BloomDedupState:
    """Driver-held incremental Bloom gate over a growing corpus: the
    bitmap that ``bloom_prefilter_dedup`` rebuilds per call, maintained
    ACROSS calls instead — absorb each admitted batch's bits once and
    the next batch probes the accumulated summary, which is the 100 TB
    operating mode (the bitmap lives alongside the persisted hash
    index; a crawl snapshot never re-reads the whole corpus to
    summarize it). The streaming `foreachBatch` dedup composes
    ``filter_new`` + ``absorb`` per micro-batch. The driver holds the
    m/8-byte bitmap; each ``absorb`` is one bitmap aggregate and each
    ``filter_new`` probe a SQL predicate, so no row passes through
    Python.

    Exactness contract is unchanged: bloom-negative rows are
    definitely new; bloom-positive candidates are exact-confirmed
    against the corpus, so false positives only cost join rows, never
    answers.
    """

    def __init__(self, m_bits: int = 1 << 20, k: int = 7, seed: int = 0x5EED):
        if m_bits % 8 != 0:
            raise ValueError("m_bits must be a multiple of 8")
        self.m_bits, self.k, self.seed = m_bits, k, seed
        self._bitmap = np.zeros(m_bits // 8, dtype=np.uint8)

    def absorb(self, docs: DataFrame, text_col: str = "text") -> None:
        """OR ``docs``' content-hash bits into the bitmap: one bitmap
        aggregate over ``docs`` (:func:`_bloom_bitmap`)."""
        self._bitmap |= np.frombuffer(
            _bloom_bitmap(docs, F.sha2(F.col(text_col), 256), self.m_bits, self.k, self.seed),
            dtype=np.uint8,
        )

    def filter_new(
        self, new: DataFrame, existing: DataFrame, text_col: str = "text"
    ) -> DataFrame:
        """Rows of ``new`` whose content hash is in neither the bitmap's
        absorbed history nor ``existing`` — see
        ``bloom_prefilter_dedup`` for the exactness argument. The probe
        is a ``__maybe`` column (:func:`_might_contain`), and its output
        is localCheckpoint-ed before the clean/candidates split so the
        sha-256 + probe (and all of ``new``'s upstream lineage) run
        once, and the two branches partition one materialized
        snapshot — exact even if the lineage is nondeterministic."""
        reserved = {"__h", "__maybe"} & set(new.columns)
        if reserved:
            raise ValueError(
                f"input already has reserved column(s) {sorted(reserved)}"
            )
        maybe = _might_contain(
            new.sparkSession,
            self._bitmap.tobytes(),
            _bloom_positions(F.col("__h"), self.m_bits, self.k, self.seed),
        )
        keyed = (
            new.withColumn("__h", F.sha2(F.col(text_col), 256))
            .withColumn("__maybe", maybe)
            .localCheckpoint(eager=True)
        )
        clean = keyed.filter(~F.col("__maybe"))
        candidates = keyed.filter(F.col("__maybe"))
        ex_h = existing.select(F.sha2(F.col(text_col), 256).alias("__h")).distinct()
        confirmed = candidates.join(ex_h, "__h", "left_anti")
        return clean.unionByName(confirmed).drop("__h", "__maybe")
