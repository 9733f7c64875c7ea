"""Driver-facing north-star queries (SURVEY §2.11): dedup, similarity
search, text analysis, multimodal — over the ``documents`` and
``embeddings`` tables.

Where the operator depends on engine-specific hashing (xxhash64
MinHash/SimHash, LSH buckets) the oracle is either the *exact*
formulation it must agree with (deterministic: seeds and hash salts
are fixed) or rows-only with pytest ground truth against the exact
baseline (tests/test_northstar.py).

Near-dup queries plant synthetic near-duplicates (doc_id + 1_000_000,
text + marker suffix) because the synthetic corpus has none — the
planted set makes result emptiness impossible and recall checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gas_data_pipeline_spark.catalog import spread_scan, table
from gas_data_pipeline_spark.operators.dedup import (
    bucket_pairs,
    char_shingles,
    count_scored,
    exact_dedup_ranked,
    hashed_shingles,
    span_dedup_exact,
    jaccard_pairs_bitset_gemm,
    jaccard_pairs_inverted_index,
    jaccard_pairs_prefix_filter,
    minhash_near_dup_pairs,
    shingle_postings,
    word_shingles,
)
from gas_data_pipeline_spark.operators.multimodal import attach_binary, extract_features
from gas_data_pipeline_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk,
    cosine_topk_lsh,
)
from gas_data_pipeline_spark.operators.text import rolling_fingerprint
from gas_data_pipeline_spark.registry import model_cache, register

PLANT_OFFSET = 1_000_000
PLANT_SUFFIX = " appended marker words"
_PLANT_SQL = f"""
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {PLANT_OFFSET}, text || '{PLANT_SUFFIX}'
        FROM documents WHERE doc_id < 20
"""
_JACCARD_ORACLE = f"""
        WITH docs AS ({_PLANT_SQL}),
        sh AS (
            SELECT doc_id,
                   list_distinct([
                       words[x] || ' ' || words[x+1] || ' ' || words[x+2]
                       FOR x IN range(1, greatest(len(words) - 1, 1))
                   ]) AS shingles
            FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words FROM docs)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.shingles, b.shingles))
                 / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))
                / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.5
"""


def _docs_with_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Every consumer shingles/tokenizes `text` (interpreted HOFs or
    # Arrow UDFs): spread the union once so that CPU-heavy stage runs
    # on every core, in defaultParallelism tasks (see spread_scan). A
    # spread scan under the union would give the planted branch
    # partitions of its own and double every downstream task count.
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(PLANT_SUFFIX)).alias("text"),
    )
    return spread_scan(docs.unionByName(planted))


# Compute-once seam for the dedup cluster family (VERDICT r5 #6):
# dedup_connected_components / dedup_keep_best / dedup_cluster_stats
# all consume the SAME (corpus, threshold) pair kernel + CC fixpoint —
# the expensive part of each. connected_components materializes before
# returning (driver union-find result or checkpointed Pregel labels),
# so the returned DataFrame carries no lineage back to the pair
# kernel; caching it per (application, sf_dir, threshold) makes the
# siblings pay the kernel once per session without touching any
# oracle. A production deployment would persist the component table
# instead — this is the same table-reuse discipline, session-scoped.
_COMPONENTS_CACHE: dict[tuple[str, str, float], DataFrame] = model_cache()


def _planted_components(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, threshold)
    labels = _COMPONENTS_CACHE.get(key)
    if labels is None:
        from gas_data_pipeline_spark.operators.dedup import connected_components

        docs = _docs_with_planted(spark, sf_dir)
        pairs = jaccard_pairs_inverted_index(
            docs, "doc_id", word_shingles(F.col("text"), n=3), threshold=threshold
        ).select("id_a", "id_b")
        labels = connected_components(pairs, "id_a", "id_b")
        _COMPONENTS_CACHE[key] = labels
    return labels


# ---------------------------------------------------------------------------
# X1 — deduplication.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_hash",
    oracle="""
        SELECT doc_id, content_hash,
               CAST(row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS BIGINT) AS dup_rank,
               row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) = 1 AS is_canonical
        FROM (SELECT doc_id, sha256(text) AS content_hash FROM documents)
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 exact dedup: sha-256 content groups, deterministic canonical
    member. One shuffle on the hash; at 100 TB this is the cheapest
    possible dedup and the first pass before any fuzzy method."""
    return exact_dedup_ranked(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


@register(
    "dedup_span_exact",
    oracle=r"""
        WITH w AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words
            FROM documents
        ),
        spans AS (
            SELECT doc_id, s.x AS span_idx,
                   array_to_string(words[s.x*20+1 : s.x*20+20], ' ') AS span_text
            FROM w, unnest(generate_series(0, CAST(ceil(len(words)/20.0) AS BIGINT) - 1)) AS s(x)
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) AS rn
            FROM spans
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
               coalesce(string_agg(CASE WHEN rn = 1 THEN span_text END, ' ' ORDER BY span_idx), '')
                 AS cleaned_text
        FROM ranked GROUP BY doc_id
    """,
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 sub-document (passage) dedup: 20-word spans, corpus-wide
    first-occurrence wins, documents reassembled from their surviving
    spans — catches repeated boilerplate that document-level dedup
    misses. Narrow chunk explode + the two canonical shuffles (span
    hash, then doc id)."""
    return span_dedup_exact(table(spark, sf_dir, "documents"), "doc_id", "text", 20)


_BOILER = "subscribe to our newsletter terms of service apply today"
_BOILER_SQL = f"""
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN '{_BOILER} ' || text
                    ELSE text END AS text
        FROM documents
"""


@register(
    "dedup_repeated_ngrams",
    oracle=rf"""
        WITH docs AS ({_BOILER_SQL}),
        w AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
            FROM docs
        ),
        occ AS (
            SELECT doc_id, CAST(x - 1 AS INTEGER) AS pos,
                   array_to_string(ws[x : x + 4], ' ') AS gram
            FROM w, UNNEST(range(1, greatest(len(ws) - 3, 1))) t(x)
        ),
        flagged AS (
            SELECT gram FROM occ GROUP BY gram
            HAVING count(DISTINCT doc_id) >= 5
        ),
        cov AS (
            SELECT DISTINCT o.doc_id, CAST(p AS INTEGER) AS cp
            FROM occ o JOIN flagged f USING (gram),
                 UNNEST(range(o.pos, o.pos + 5)) u(p)
        ),
        toks AS (
            SELECT doc_id, CAST(x - 1 AS INTEGER) AS pos, ws[x] AS word
            FROM w, UNNEST(range(1, len(ws) + 1)) t(x)
        ),
        kept AS (
            SELECT t.doc_id, t.pos, t.word
            FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cp
            WHERE c.doc_id IS NULL
        ),
        agg AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   string_agg(word, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc_id
        )
        SELECT w.doc_id,
               CAST(len(w.ws) AS BIGINT) AS n_words,
               CAST(len(w.ws) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
               sha256(coalesce(a.clean_text, '')) AS clean_sha
        FROM w LEFT JOIN agg a USING (doc_id)
    """,
)
def dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 cross-document repeated-n-gram removal (Lee et al. 2021
    exact substring dedup): word 5-grams occurring in >=5 distinct
    documents are boilerplate; every covered word position is stripped
    and the text reassembled in order. A 9-word site-template header
    is planted on every fifth document (the synthetic corpus has no
    natural >=5-doc repeats), so the pass must remove exactly the
    header — including across its internal gram overlaps — while
    keeping the header/body junction grams, which occur once each.
    Sliding-offset complement to dedup_span_exact's aligned chunks.
    Spark side: operators/dedup.remove_repeated_ngrams — only
    (id, pos, xxhash64) triples shuffle, text never moves, the
    position filter and reassembly are per-row HOFs."""
    from gas_data_pipeline_spark.operators.dedup import remove_repeated_ngrams

    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(_BOILER + " "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    out = remove_repeated_ngrams(planted, "doc_id", "text", n=5, min_doc_freq=5)
    return out.select(
        "doc_id",
        "n_words",
        "n_removed",
        F.sha2(F.col("clean_text"), 256).alias("clean_sha"),
    )


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 n-gram Jaccard similarity join via inverted index (no N²
    cross join). Planted near-dups guarantee nonempty output; the
    DuckDB oracle recomputes exact Jaccard from the same shingles."""
    docs = _docs_with_planted(spark, sf_dir)
    return jaccard_pairs_inverted_index(
        docs, "doc_id", word_shingles(F.col("text"), n=3), threshold=0.5
    )


@register("dedup_prefix_jaccard", oracle=_JACCARD_ORACLE)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 word 3-gram Jaccard via the PPJoin prefix filter: each doc's
    bucket keys are only its |x| - ceil(t|x|) + 1 globally-RAREST
    shingles (any pair sharing none of them provably falls under the
    threshold), so ubiquitous shingles never build a posting list and
    candidate generation stays subquadratic on Zipf-heavy open
    vocabularies. Candidates pass the PPJoin length bound and are
    verified on the exact hashed sets. Lossless by the
    prefix-filtering theorem; same answer and oracle as the
    inverted-index and MinHash formulations (kernel equivalence also
    pinned in tests/test_layout.py)."""
    docs = _docs_with_planted(spark, sf_dir)
    return jaccard_pairs_prefix_filter(
        docs, "doc_id", word_shingles(F.col("text"), n=3), threshold=0.5
    )


@register("dedup_minhash_lsh", oracle=_JACCARD_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 MinHash-LSH near-dup: banded-signature candidates + exact
    verification. Hash salts are fixed, so the output is deterministic;
    with (k=64, bands=32, rows=2) the per-pair capture probability at
    jaccard=0.5 is ~0.9999, and on this corpus the candidate set
    contains every >=0.5 pair (checked empirically against the exact
    oracle — same oracle as dedup_ngram_jaccard — at sf0.001/0.01/0.1)."""
    docs = _docs_with_planted(spark, sf_dir)
    return minhash_near_dup_pairs(
        docs, "doc_id", word_shingles(F.col("text"), n=3), threshold=0.5
    )


@register(
    "split_neardup_leakage",
    oracle=f"""
        WITH docs AS ({_PLANT_SQL}),
        sh AS (
            SELECT doc_id,
                   list_distinct([
                       words[x] || ' ' || words[x+1] || ' ' || words[x+2]
                       FOR x IN range(1, greatest(len(words) - 1, 1))
                   ]) AS shingles
            FROM (SELECT doc_id,
                         regexp_split_to_array(lower(trim(text)), '\\s+')
                             AS words
                  FROM docs)
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.shingles, b.shingles))
                     / (len(a.shingles) + len(b.shingles)
                        - len(list_intersect(a.shingles, b.shingles)))
                       AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.shingles, b.shingles))
                    / (len(a.shingles) + len(b.shingles)
                       - len(list_intersect(a.shingles, b.shingles))) >= 0.5
        ),
        splits AS (
            SELECT doc_id,
                   CASE WHEN d < 0.8 THEN 'train'
                        WHEN d < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         CAST(concat('0x', substring(
                             md5('split-v1:' || CAST(doc_id AS VARCHAR)),
                             1, 13)) AS BIGINT)
                           / CAST(4503599627370496 AS DOUBLE) AS d
                  FROM docs)
        ),
        tagged AS (
            SELECT least(sa.split, sb.split) AS split_a,
                   greatest(sa.split, sb.split) AS split_b,
                   p.jaccard
            FROM pairs p
            JOIN splits sa ON sa.doc_id = p.id_a
            JOIN splits sb ON sb.doc_id = p.id_b
        )
        SELECT split_a, split_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               round(min(jaccard), 6) AS min_jaccard,
               round(max(jaccard), 6) AS max_jaccard,
               split_a <> split_b AS leaked
        FROM tagged GROUP BY 1, 2
    """,
)
def split_neardup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/curation: CONTENT-level train/val/test leakage audit — the
    near-dup complement of the key-level `split_leakage_audit`
    (analytics_suite): that one catches rows whose SPLIT KEY is
    inconsistent; this one catches documents whose TEXT leaks across
    a correctly-keyed split. Near-duplicate
    pairs that straddle a split boundary leak training text into
    evaluation (Lee et al. 2022 "Deduplicating Training Data Makes
    Language Models Better"; Dodge et al. 2021's C4 benchmark-overlap
    audit): a model scored on the test half of such a pair is graded
    on memorized text. The audit assigns every document a
    deterministic md5-draw split (80/10/10 — the portable
    `curation.uniform_draw` device, replayed bit-for-bit in SQL),
    finds all >=0.5-Jaccard near-dup pairs with the SAME banded
    MinHash-LSH kernel `dedup_minhash_lsh` uses (candidates
    exact-verified, never N²), and reports pair counts + Jaccard
    ranges per unordered split pair with a ``leaked`` flag on every
    cross-split row. Like dedup_minhash_lsh, the oracle replays the
    EXACT all-pairs Jaccard while the engine is banded-probabilistic:
    per-pair capture at j=0.5 is ~0.9999 with (k=64, bands=32), and
    the candidate set contains every >=0.5 pair on this corpus —
    checked empirically at sf0.001/0.01/0.1 and pinned as a superset
    assertion in tests/test_northstar.py (ADVICE r9: each banded
    query multiplies the borderline-miss exposure, so the
    completeness claim is tested, not just stated).

    Scale shape: the corpus is scanned for shingles/banding only
    (the LSH kernel's plan); verified pairs are a SMALL output, so
    both split-tag joins broadcast the pair side into a zero-shuffle
    scan over the split assignment — the corpus never re-joins
    itself. Output is |split-combinations|-sized (<= 6 rows)."""
    from gas_data_pipeline_spark.operators.curation import uniform_draw

    docs = _docs_with_planted(spark, sf_dir)
    pairs = minhash_near_dup_pairs(
        docs, "doc_id", word_shingles(F.col("text"), n=3), threshold=0.5
    )
    d = uniform_draw(F.col("doc_id"), "split-v1")
    splits = docs.select(
        "doc_id",
        F.when(d < 0.8, "train")
        .when(d < 0.9, "val")
        .otherwise("test")
        .alias("split"),
    )
    t1 = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("sa")
    ).join(F.broadcast(pairs), "id_a")
    tagged = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("sb")
    ).join(F.broadcast(t1), "id_b")
    return (
        tagged.groupBy(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        .withColumn("leaked", F.col("split_a") != F.col("split_b"))
    )


_CHAR_JACCARD_ORACLE = f"""
        WITH docs AS ({_PLANT_SQL}),
        sh AS (
            SELECT doc_id,
                   list_distinct([
                       substring(t, x, 4)
                       FOR x IN range(1, greatest(len(t) - 3, 1) + 1)
                   ]) AS shingles
            FROM (SELECT doc_id, lower(text) AS t FROM docs)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.shingles, b.shingles))
                 / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))
                / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.6
"""


@register("dedup_char_jaccard", oracle=_CHAR_JACCARD_ORACLE)
def dedup_char_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 character 4-gram Jaccard — the shingle basis for scripts
    without whitespace word boundaries (CJK), where word shingles
    degenerate to whole-line tokens. Char grams over this corpus are a
    DENSE vocabulary (~1k distinct grams across 5k docs — every
    posting saturates), so index-based joins (plain or prefix-
    filtered, both ~170M candidates here) are the wrong kernel;
    this uses the bitset-GEMM all-pairs (vocabulary bitmask +
    popcount(AND) per block pair — see jaccard_pairs_bitset_gemm),
    which is exact and ~40x faster at sf0.1. Same exact-Jaccard
    oracle either way."""
    from gas_data_pipeline_spark.operators.dedup import char_shingle_ids_pandas

    docs = _docs_with_planted(spark, sf_dir)
    # Python shingler with exact byte-packed ids: interpreted HOF
    # shingling was 4.6s of the 10s query; see char_shingle_ids_pandas.
    ids = char_shingle_ids_pandas(n=4)(F.col("text"))
    return jaccard_pairs_bitset_gemm(
        docs, "doc_id", ids, threshold=0.6, prehashed=True
    )


_SIMHASH_ORACLE = f"""
        WITH docs AS ({_PLANT_SQL}),
        toks AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+|[^\\sa-z0-9]')) AS tok
            FROM docs
        ),
        hashes AS (
            SELECT doc_id,
                   CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT)::HUGEINT
                     * 4294967296::HUGEINT
                 + CAST(concat('0x', substring(md5(tok), 9, 8)) AS BIGINT)::HUGEINT AS u
            FROM toks
        ),
        bits AS (
            SELECT doc_id, b,
                   CASE WHEN 2 * sum(CASE WHEN (u // CAST(2 ** b AS HUGEINT)) % 2 = 1
                                          THEN 1 ELSE 0 END) >= count(*)
                        THEN 1 ELSE 0 END AS bit
            FROM hashes CROSS JOIN (SELECT unnest(range(64)) AS b)
            GROUP BY doc_id, b
        ),
        sigs AS (
            SELECT doc_id, sum(bit::HUGEINT * CAST(2 ** b AS HUGEINT)) AS su
            FROM bits GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(CASE WHEN COALESCE(s.su, 0::HUGEINT) >= 9223372036854775808::HUGEINT
                         THEN COALESCE(s.su, 0::HUGEINT) - 18446744073709551616::HUGEINT
                         ELSE COALESCE(s.su, 0::HUGEINT) END AS BIGINT) AS simhash
        FROM docs d LEFT JOIN sigs s USING (doc_id)
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 SimHash: 64-bit per-doc fingerprint (narrow, no shuffle;
    token hashing JVM-side, majority vote numpy-side — bit-identical
    to a by-hand reference vote, which pytest asserts).
    The token-hash basis is :func:`md5_low64` (first 16 md5 hex chars
    as signed bigint) rather than xxhash64 *so the fingerprint is
    value-oracle-able*: DuckDB recomputes the identical tokenize →
    md5-low64 → per-bit majority vote pipeline in pure SQL. SimHash's
    near-dup quality only needs a uniform 64-bit basis — md5-low64 and
    xxhash64 are interchangeable for that; xxhash64 remains the basis
    elsewhere (MinHash) where the oracle verifies exact Jaccard
    instead. Near-dup banding tested in tests/test_northstar.py
    against planted pairs (reference parity: X1, SURVEY §2.11)."""
    from gas_data_pipeline_spark.operators.dedup import md5_low64, simhash64_pandas
    from gas_data_pipeline_spark.operators.text import tokenize

    docs = _docs_with_planted(spark, sf_dir)
    sh = simhash64_pandas()
    return docs.select(
        "doc_id",
        sh(F.transform(tokenize(F.col("text")), md5_low64)).alias("simhash"),
    )


# ---------------------------------------------------------------------------
# X2 — similarity search.
# ---------------------------------------------------------------------------

_COSINE_SQL_FRAGMENT = """
        WITH q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id < 8
        ),
        c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        scored AS (
            SELECT query_id, neighbor_id,
                   list_dot_product(qv, cv)
                     / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos_sim
            FROM c CROSS JOIN q
            WHERE neighbor_id <> query_id
        )
"""


@register(
    "ann_cosine_topk",
    oracle=_COSINE_SQL_FRAGMENT
    + """
        SELECT query_id, neighbor_id, rank, cos_sim FROM (
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 exact brute-force cosine top-k (query set broadcast, corpus
    never shuffles; per-query window top-k). Scoring is an Arrow
    einsum batch — agrees with the oracle's sequential fold to ~1e-12,
    inside the compare's 1e-6 rounding."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk(emb, queries, k=10)


@register(
    "embedding_cosine_near_dup",
    oracle=_COSINE_SQL_FRAGMENT.replace("WHERE vec_id < 8", "")
    .replace("neighbor_id <> query_id", "neighbor_id < query_id")
    + """
        SELECT query_id AS id_b, neighbor_id AS id_a, cos_sim
        FROM scored WHERE cos_sim >= 0.45
    """,
)
def embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2 embedding near-dup: all pairs above cosine threshold —
    exact baseline formulation (LSH-bucketed variant is
    ann_lsh_bucketed + tests)."""
    emb = table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.45)


# Fixed-point squared-L2 — the DuckDB twin of selection.sq_dist_fp_sql.
_IVF_DIST_SQL = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST(round(({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) * 1e6) "
    "AS BIGINT)))"
)


@register(
    "ann_ivf",
    oracle=f"""
        WITH RECURSIVE pts AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        samp AS (
            SELECT vec_id, v FROM pts
            ORDER BY md5('kctrain-v1:' || CAST(vec_id AS VARCHAR)) LIMIT 256
        ),
        sel(step, vec_id, chosen) AS (
            SELECT 1, min(vec_id), [min(vec_id)] FROM samp
            UNION ALL
            SELECT sel.step + 1, nxt.vec_id,
                   list_append(sel.chosen, nxt.vec_id)
            FROM sel, LATERAL (
                SELECT p.vec_id,
                       (SELECT min({_IVF_DIST_SQL.format(a="p.v", b="c.v")})
                        FROM samp c
                        WHERE list_contains(sel.chosen, c.vec_id)) AS mind
                FROM samp p
                WHERE NOT list_contains(sel.chosen, p.vec_id)
                ORDER BY mind DESC, p.vec_id
                LIMIT 1
            ) nxt
            WHERE sel.step < 16
        ),
        cvecs AS (
            SELECT s.vec_id AS center_id, p.v
            FROM sel s JOIN pts p USING (vec_id)
        ),
        assign AS (
            SELECT vec_id, center_id FROM (
                SELECT p.vec_id, c.center_id,
                       row_number() OVER (
                           PARTITION BY p.vec_id
                           ORDER BY {_IVF_DIST_SQL.format(a="p.v", b="c.v")},
                                    c.center_id
                       ) AS rn
                FROM pts p CROSS JOIN cvecs c
            ) WHERE rn = 1
        ),
        q AS (SELECT vec_id AS query_id, v AS qv FROM pts WHERE vec_id < 8),
        qprobe AS (
            SELECT query_id, center_id FROM (
                SELECT q.query_id, c.center_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_IVF_DIST_SQL.format(a="q.qv", b="c.v")},
                                    c.center_id
                       ) AS rn
                FROM q CROSS JOIN cvecs c
            ) WHERE rn <= 4
        ),
        cand AS (
            SELECT qp.query_id, a.vec_id AS neighbor_id
            FROM qprobe qp JOIN assign a USING (center_id)
            WHERE a.vec_id <> qp.query_id
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   list_dot_product(q.qv, pn.v)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(pn.v, pn.v))) AS cos_sim
            FROM cand
            JOIN q USING (query_id)
            JOIN pts pn ON pn.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, rank, cos_sim FROM (
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id
                   ) AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= 10
    """,
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 IVF scale path, VALUE-ORACLED end to end: inverted lists
    from a deterministic greedy k-center codebook (16 cells — the
    exact-replayable counterpart of k-means, same Voronoi routing
    role; the r5-r7 rows-only k-means variant lives on in ann_ivfpq),
    queries probe their 4 nearest of 16 centers — ~25% corpus scan per
    query instead of 100%. The codebook trains on the BOUNDED
    deterministic sample (256 smallest md5 draws, one Spark job +
    driver-side numpy greedy — constant training cost at any corpus
    scale; the oracle replays the identical sample). Assignment and
    probing argmins are fixed-point BIGINT (engine-exact ties);
    candidate cosine is the sequential fold, bit-matching DuckDB's
    list_dot_product. Training goes through the session-scoped
    k-center seam; recall vs the exact top-k stays asserted in
    tests/test_northstar.py."""
    return _kcenter_search(spark, sf_dir, coarse=True, pq=False, n_probe=4)


# Session-scoped ANN index seam (the build/search split every
# production ANN system has — FAISS builds inverted lists / code
# tables once and amortizes them over query batches): the index —
# routed cells, PQ codes, or both — is a pure function of (corpus,
# model), localCheckpointed per (application, sf_dir) so repeat query
# batches pay search cost only. At 100 TB it would persist as
# cell-partitioned / code-packed parquet instead. Keys carry a MODEL
# FINGERPRINT alongside (application, sf_dir) — ADVICE r9: a second
# caller with a different model must never reuse the wrong
# checkpointed index; registry.reset_model_seams releases the
# checkpoint blocks when clearing.
_INDEX_CACHE: dict[tuple[str, str, str], DataFrame] = model_cache()


def _model_fp(model) -> str:
    """Stable fingerprint of a driver-side model (centers / codebooks:
    nested lists, dicts, floats) for index-cache keys."""
    import hashlib

    return hashlib.md5(repr(model).encode()).hexdigest()[:16]


def _corpus_index(
    spark: SparkSession, sf_dir: str, emb: DataFrame, model
) -> DataFrame:
    from gas_data_pipeline_spark.operators.similarity import build_index

    key = (spark.sparkContext.applicationId, sf_dir, _model_fp(model))
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        idx = build_index(emb, model).localCheckpoint(eager=True)
        _INDEX_CACHE[key] = idx
    return idx


def _kcenter_search(
    spark: SparkSession, sf_dir: str, *, coarse: bool, pq: bool, **search
) -> DataFrame:
    """The value-oracled ANN queries' one shape: a k-center model (16
    raw-vector cells and/or the 8x8 unit-subvector codebooks, both
    from session seams), its session index, and the first 8 vectors
    searched for their top 10."""
    from gas_data_pipeline_spark.operators.similarity import AnnModel, ann_topk
    from gas_data_pipeline_spark.suite.selection_suite import _corpus_kcenter

    emb = table(spark, sf_dir, "embeddings")
    model = AnnModel(
        centers=_corpus_kcenter(spark, sf_dir, "full", emb, k=16) if coarse else None,
        books=_corpus_pq_books(spark, sf_dir) if pq else None,
    )
    index = _corpus_index(spark, sf_dir, emb, model)
    queries = emb.filter(F.col("vec_id") < 8)
    return ann_topk(emb, queries, model, k=10, index=index, **search)


# Deterministic PQ geometry: 8 subspaces x 8 codes over the 64-dim
# normalized vectors. Codebook cache (a model — m x n_codes x 8
# floats) per session, like the k-center seam.
_PQ_M, _PQ_CODES, _PQ_DSUB = 8, 8, 8
_PQ_BOOK_CACHE: dict[tuple[str, str], list] = model_cache()


def _corpus_pq_books(spark: SparkSession, sf_dir: str) -> list:
    from gas_data_pipeline_spark.operators.similarity import (
        pq_kcenter_codebooks_sampled,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    books = _PQ_BOOK_CACHE.get(key)
    if books is None:
        emb = table(spark, sf_dir, "embeddings")
        books = pq_kcenter_codebooks_sampled(emb, m=_PQ_M, n_codes=_PQ_CODES)
        _PQ_BOOK_CACHE[key] = books
    return books


def _pq_sub_ctes(j: int) -> str:
    """Per-subspace oracle CTEs: greedy k-center codebook over the
    normalized subvectors of the BOUNDED deterministic training
    sample (`snpts` — the 256 smallest md5 draws, mirroring
    `pq_kcenter_codebooks_sampled`; recursive CTE, the coreset/IVF
    replay pattern), codes in selection order, fixed-point argmin
    encoding of the FULL corpus."""
    lo, hi = j * _PQ_DSUB + 1, (j + 1) * _PQ_DSUB
    d = _IVF_DIST_SQL
    return f"""
        sub{j} AS (SELECT vec_id, nv[{lo}:{hi}] AS sv FROM npts),
        ssub{j} AS (SELECT vec_id, nv[{lo}:{hi}] AS sv FROM snpts),
        sel{j}(step, vec_id, chosen) AS (
            SELECT 1, min(vec_id), [min(vec_id)] FROM ssub{j}
            UNION ALL
            SELECT sel{j}.step + 1, nxt.vec_id,
                   list_append(sel{j}.chosen, nxt.vec_id)
            FROM sel{j}, LATERAL (
                SELECT p.vec_id,
                       (SELECT min({d.format(a="p.sv", b="c.sv")})
                        FROM ssub{j} c
                        WHERE list_contains(sel{j}.chosen, c.vec_id)) AS mind
                FROM ssub{j} p
                WHERE NOT list_contains(sel{j}.chosen, p.vec_id)
                ORDER BY mind DESC, p.vec_id LIMIT 1
            ) nxt
            WHERE sel{j}.step < {_PQ_CODES}
        ),
        book{j} AS (
            SELECT s.step - 1 AS code, b.sv
            FROM sel{j} s JOIN ssub{j} b USING (vec_id)
        ),
        enc{j} AS (
            SELECT vec_id, code FROM (
                SELECT p.vec_id, b.code,
                       row_number() OVER (PARTITION BY p.vec_id
                           ORDER BY {d.format(a="p.sv", b="b.sv")}, b.code
                       ) AS rn
                FROM sub{j} p CROSS JOIN book{j} b
            ) WHERE rn = 1
        )"""


_PQ_SCORE_TERMS = " + ".join(
    f"CAST(round(list_dot_product(q.qv[{j * _PQ_DSUB + 1}:{(j + 1) * _PQ_DSUB}], "
    f"b{j}.sv) * 1e6) AS BIGINT)"
    for j in range(_PQ_M)
)
_PQ_SCORE_JOINS = " ".join(
    (
        f"JOIN enc{j} e{j} ON e{j}.vec_id = e0.vec_id "
        if j else "CROSS JOIN enc0 e0 "
    )
    + f"JOIN book{j} b{j} ON b{j}.code = e{j}.code"
    for j in range(_PQ_M)
)


@register(
    "ann_pq",
    oracle=f"""
        WITH RECURSIVE pts AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        npts AS (
            SELECT vec_id,
                   list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                       AS nv
            FROM pts
        ),
        snpts AS (
            SELECT vec_id, nv FROM npts
            ORDER BY md5('kctrain-v1:' || CAST(vec_id AS VARCHAR)) LIMIT 256
        ),{",".join(_pq_sub_ctes(j) for j in range(_PQ_M))},
        q AS (SELECT vec_id AS query_id, nv AS qv FROM npts
              WHERE vec_id < 8),
        scored AS (
            SELECT q.query_id, e0.vec_id AS neighbor_id,
                   {_PQ_SCORE_TERMS} AS s_fp
            FROM q {_PQ_SCORE_JOINS}
            WHERE e0.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, rank, approx_cos FROM (
            SELECT query_id, neighbor_id,
                   round(s_fp / 1e6, 6) AS approx_cos,
                   CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY s_fp DESC, neighbor_id
                   ) AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= 10
    """,
)
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 product-quantization ANN (ADC), VALUE-ORACLED end to
    end: corpus vectors stored as 8 subspace codes from DETERMINISTIC
    greedy k-center codebooks trained on the BOUNDED deterministic
    sample (`pq_kcenter_codebooks_sampled` — 256 smallest md5 draws,
    ONE Spark job + driver-side numpy greedy per subspace, constant
    training cost at any corpus scale); each query
    scores the corpus by summing the m quantized subspace dot products
    — integer sums, so the heavy code collisions PQ produces rank
    identically in both engines. The compressed-storage scale path (PQ
    shrinks what a scan COSTS; IVF/LSH prune scan SCOPE; production
    composes them — `GasDataEngine.search_similar` 'pq' is the k-means
    trained variant, and `ann_ivfpq` composes it with IVF; both run this
    same pipeline).
    Recall vs the exact scan stays asserted in tests/test_northstar.py."""
    return _kcenter_search(spark, sf_dir, coarse=False, pq=True)


_PQ_RESCORE = 100  # ADC pool size per query for the refinement stage
# The composed variant probes ~n_probe/n_cells of the corpus; its pool
# must cover the probed candidates at test scale (500 vecs, 4/16 cells
# ~ 125 candidates) so the rescored answer equals the exact ranking of
# the probed cells. At production scale 200 is a tiny fixed pool.
_IVFPQ_RESCORE = 200


@register(
    "ann_pq_rescored",
    oracle=f"""
        WITH RECURSIVE pts AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        npts AS (
            SELECT vec_id,
                   list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                       AS nv
            FROM pts
        ),
        snpts AS (
            SELECT vec_id, nv FROM npts
            ORDER BY md5('kctrain-v1:' || CAST(vec_id AS VARCHAR)) LIMIT 256
        ),{",".join(_pq_sub_ctes(j) for j in range(_PQ_M))},
        q AS (SELECT vec_id AS query_id, nv AS qv FROM npts
              WHERE vec_id < 8),
        scored AS (
            SELECT q.query_id, e0.vec_id AS neighbor_id,
                   {_PQ_SCORE_TERMS} AS s_fp
            FROM q {_PQ_SCORE_JOINS}
            WHERE e0.vec_id <> q.query_id
        ),
        pool AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY s_fp DESC, neighbor_id
                       ) AS adc_rank
                FROM scored
            ) WHERE adc_rank <= {_PQ_RESCORE}
        ),
        refined AS (
            SELECT p.query_id, p.neighbor_id,
                   CAST(round(list_dot_product(q.qv, n.nv) * 1e6, 0)
                        AS BIGINT) AS e_fp
            FROM pool p
            JOIN q ON q.query_id = p.query_id
            JOIN npts n ON n.vec_id = p.neighbor_id
        )
        SELECT query_id, neighbor_id, rank, cos_sim FROM (
            SELECT query_id, neighbor_id,
                   round(e_fp / 1e6, 6) AS cos_sim,
                   CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY e_fp DESC, neighbor_id
                   ) AS BIGINT) AS rank
            FROM refined
        ) WHERE rank <= 10
    """,
)
def ann_pq_rescored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_pq`'s production answer path (VERDICT r13 #6): the same
    deterministic 8x8 ADC scan ranks a bounded 100-candidate pool per
    query, then ONLY the pool is re-scored with the exact fixed-point
    cosine against the full vectors and re-ranked — the standard PQ
    refinement stage (compressed scan finds candidates, exact math
    decides), lifting the coarse quantizer's ~0.21 raw recall to 0.7
    at the same codebook budget (floor >= 0.5 pinned in
    tests/test_northstar.py). The pool is |Q|*100 rows broadcast over
    one extra corpus scan — bounded, corpus-size-independent — and
    every stage (codebooks, codes, ADC ranks, exact rescoring)
    value-oracles in SQL."""
    return _kcenter_search(
        spark, sf_dir, coarse=False, pq=True, rescore=_PQ_RESCORE
    )


_IVFPQ_ADC_TERMS = " + ".join(
    f"CAST(round(list_dot_product("
    f"qn.qnv[{j * _PQ_DSUB + 1}:{(j + 1) * _PQ_DSUB}], b{j}.sv) * 1e6) "
    f"AS BIGINT)"
    for j in range(_PQ_M)
)
_IVFPQ_ADC_JOINS = " ".join(
    f"JOIN enc{j} e{j} ON e{j}.vec_id = c.neighbor_id "
    f"JOIN book{j} b{j} ON b{j}.code = e{j}.code"
    for j in range(_PQ_M)
)


_IVFPQ_ORACLE_CTES = f"""
        WITH RECURSIVE pts AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        samp AS (
            SELECT vec_id, v FROM pts
            ORDER BY md5('kctrain-v1:' || CAST(vec_id AS VARCHAR)) LIMIT 256
        ),
        sel(step, vec_id, chosen) AS (
            SELECT 1, min(vec_id), [min(vec_id)] FROM samp
            UNION ALL
            SELECT sel.step + 1, nxt.vec_id,
                   list_append(sel.chosen, nxt.vec_id)
            FROM sel, LATERAL (
                SELECT p.vec_id,
                       (SELECT min({_IVF_DIST_SQL.format(a="p.v", b="c.v")})
                        FROM samp c
                        WHERE list_contains(sel.chosen, c.vec_id)) AS mind
                FROM samp p
                WHERE NOT list_contains(sel.chosen, p.vec_id)
                ORDER BY mind DESC, p.vec_id
                LIMIT 1
            ) nxt
            WHERE sel.step < 16
        ),
        cvecs AS (
            SELECT s.vec_id AS center_id, p.v
            FROM sel s JOIN pts p USING (vec_id)
        ),
        assign AS (
            SELECT vec_id, center_id FROM (
                SELECT p.vec_id, c.center_id,
                       row_number() OVER (
                           PARTITION BY p.vec_id
                           ORDER BY {_IVF_DIST_SQL.format(a="p.v", b="c.v")},
                                    c.center_id
                       ) AS rn
                FROM pts p CROSS JOIN cvecs c
            ) WHERE rn = 1
        ),
        npts AS (
            SELECT vec_id,
                   list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                       AS nv
            FROM pts
        ),
        snpts AS (
            SELECT vec_id, nv FROM npts
            ORDER BY md5('kctrain-v1:' || CAST(vec_id AS VARCHAR)) LIMIT 256
        ),{",".join(_pq_sub_ctes(j) for j in range(_PQ_M))},
        qr AS (SELECT vec_id AS query_id, v AS qv FROM pts
               WHERE vec_id < 8),
        qn AS (SELECT vec_id AS query_id, nv AS qnv FROM npts
               WHERE vec_id < 8),
        qprobe AS (
            SELECT query_id, center_id FROM (
                SELECT q.query_id, c.center_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_IVF_DIST_SQL.format(a="q.qv", b="c.v")},
                                    c.center_id
                       ) AS rn
                FROM qr q CROSS JOIN cvecs c
            ) WHERE rn <= 4
        ),
        cand AS (
            SELECT qp.query_id, a.vec_id AS neighbor_id
            FROM qprobe qp JOIN assign a USING (center_id)
            WHERE a.vec_id <> qp.query_id
        ),
        scored AS (
            SELECT c.query_id, c.neighbor_id, {_IVFPQ_ADC_TERMS} AS s_fp
            FROM cand c
            JOIN qn ON qn.query_id = c.query_id
            {_IVFPQ_ADC_JOINS}
        )
"""


@register(
    "ann_ivfpq_kcenter",
    oracle=f"""{_IVFPQ_ORACLE_CTES}
        SELECT query_id, neighbor_id, rank, approx_cos FROM (
            SELECT query_id, neighbor_id,
                   round(s_fp / 1e6, 6) AS approx_cos,
                   CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY s_fp DESC, neighbor_id
                   ) AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= 10
    """,
)
def ann_ivfpq_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 composed IVF+PQ, fully VALUE-ORACLED — the production FAISS
    shape with both quantizers deterministic: the raw-vector k-center
    coarse router `ann_ivf` uses prunes WHICH inverted lists a query
    scans (4 of 16 cells), and the normalized-subvector k-center
    codebooks `ann_pq` uses make scanning a list cost 8 integer
    table lookups per row (ADC). PQ codes live INSIDE the inverted
    lists (`similarity.build_index` — at scale, cell-partitioned
    parquet of 8-byte codes; raw vectors never read at search time).
    Candidate ADC scores are integer sums, so the heavy quantized-
    score collisions rank identically in both engines; the oracle
    replays coarse routing, per-subspace codebooks (bounded 256-draw
    training samples), encoding, probing, and ranking end to end.
    The k-means-trained configuration of the same pipeline is
    `ann_ivfpq` (rows-only, pytest recall floor). Recall vs the exact
    scan pinned in tests/test_northstar.py."""
    return _kcenter_search(spark, sf_dir, coarse=True, pq=True, n_probe=4)


@register(
    "ann_ivfpq_rescored",
    oracle=f"""{_IVFPQ_ORACLE_CTES},
        pool AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY s_fp DESC, neighbor_id
                       ) AS adc_rank
                FROM scored
            ) WHERE adc_rank <= {_IVFPQ_RESCORE}
        ),
        refined AS (
            SELECT p.query_id, p.neighbor_id,
                   CAST(round(list_dot_product(qn.qnv, n.nv) * 1e6, 0)
                        AS BIGINT) AS e_fp
            FROM pool p
            JOIN qn ON qn.query_id = p.query_id
            JOIN npts n ON n.vec_id = p.neighbor_id
        )
        SELECT query_id, neighbor_id, rank, cos_sim FROM (
            SELECT query_id, neighbor_id,
                   round(e_fp / 1e6, 6) AS cos_sim,
                   CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY e_fp DESC, neighbor_id
                   ) AS BIGINT) AS rank
            FROM refined
        ) WHERE rank <= 10
    """,
)
def ann_ivfpq_rescored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_ivfpq_kcenter` with FAISS's refine step (VERDICT r13 #6
    applied to the composed index): the IVF-pruned ADC scan ranks a
    bounded 100-candidate pool per query, then ONLY the pool is
    re-scored with exact fixed-point cosine against the full vectors
    — compressed candidates decide WHAT to look at, exact math
    decides the answer. The extra cost is one broadcast-candidates
    corpus scan, independent of corpus size; recall floor vs the
    exact scan pinned in tests/test_northstar.py. The whole path —
    coarse routing, codebooks, encoding, probing, ADC pool, exact
    rescore — value-oracles in SQL (shared CTE prefix with
    `ann_ivfpq_kcenter`)."""
    return _kcenter_search(
        spark, sf_dir, coarse=True, pq=True, n_probe=4, rescore=_IVFPQ_RESCORE
    )


# rows-only: doubly-approximate — no SQL oracle can reproduce quantized
# scores. Correctness bound: recall >= 0.3 vs the exact top-10 (measured
# 0.487 at these settings) plus soundness/determinism invariants, pinned
# in tests/test_northstar.py::test_ivfpq_topk_recall_and_soundness.
@register("ann_ivfpq")
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 composite IVF+PQ index (the FAISS production shape) on the
    k-means trainer: IVF prunes which inverted lists a query scans, PQ
    makes scanning a list cost m table lookups per row. Both quantizers
    train from one bounded sample; routing, encoding and ADC scoring
    are the generated-SQL stages the k-center queries use
    (`similarity.ann_topk`). Recall vs the exact scan asserted in
    tests/test_northstar.py."""
    from gas_data_pipeline_spark.operators.similarity import ann_topk, kmeans_model

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    model = kmeans_model(emb, n_clusters=16, m=16)
    return ann_topk(emb, queries, model, k=10, n_probe=4)


# rows-only: oblivious-hash approximate. Correctness bound: recall
# >= 0.2 vs the exact top-10 (measured ~0.36-0.40 here — a random
# 64-dim corpus is LSH's worst case), candidate scores EXACT cosine,
# ranks contiguous; pinned in
# tests/test_northstar.py::test_lsh_topk_scores_exact_and_recall.
@register("ann_lsh_bucketed")
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale path: multi-table random-hyperplane LSH (seeded, fixed)
    — candidates restricted to shared (table, sign-signature) keys; an
    equi-join replaces the cross product. Approximate by construction;
    recall vs the exact top-k asserted in tests/test_northstar.py."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk_lsh(emb, queries, k=10, n_tables=8, n_planes=6)


# Shared with dedup_semantic_buckets below: the deterministic bucket
# function (first-4-coordinate signs) both sign-signature queries use.
_SIGN_BITS = 4
_SIGN_SIG_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
    for i in range(_SIGN_BITS)
)

_ANN_SIGNED_SQL = """
    WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               CAST({sig} AS BIGINT) AS bucket
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, v, bucket, sqrt(list_dot_product(v, v)) AS nv
        FROM b
    ),
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.v, c.v) / (q.nv * c.nv) AS cos_sim
        FROM n q JOIN n c
          ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 8
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id
               ) AS BIGINT) AS rank
        FROM cand
    ) WHERE rank <= 10
""".replace("{sig}", _SIGN_SIG_SQL)


@register("ann_lsh_signed", oracle=_ANN_SIGNED_SQL)
def ann_lsh_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: the LSH ANN family's exact-oracled member (VERDICT r9 #7) —
    deterministic sign-signature buckets (the partitioner
    dedup_semantic_buckets proves SQL-replayable) with the same
    (query_id, neighbor_id, rank, cos_sim) contract as the other ANN
    queries. The engine's sequential-fold cosine matches DuckDB's
    list_dot_product addend-for-addend, so values hash-match;
    ann_lsh_bucketed stays the multi-table throughput variant."""
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk_signed,
    )

    emb = spread_scan(table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk_signed(emb, queries, k=10, sign_bits=_SIGN_BITS)


# ---------------------------------------------------------------------------
# X3 — text analysis.
# ---------------------------------------------------------------------------


@register(
    "text_quality_langid",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+|[^\\sa-z0-9]') AS t,
                   length(text) AS n_chars
            FROM documents
        ),
        feat AS (
            SELECT doc_id, n_chars,
                   CAST(len(t) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(t, x -> regexp_matches(x, '^[a-z0-9]+$'))) AS BIGINT) AS n_words,
                   len(list_filter(t, x -> list_contains(['the','of','and','to','in','is','for','with'], x))) AS n_stop,
                   len(list_filter(t, x -> list_contains(['el','la','de','que','los','por','una','con'], x))) AS h_es,
                   len(list_filter(t, x -> list_contains(['le','la','de','et','les','des','une','pour'], x))) AS h_fr,
                   len(list_filter(t, x -> list_contains(['der','die','und','das','von','mit','ein','für'], x))) AS h_de,
                   len(list_filter(t, x -> list_contains(['the','of','and','to','in','is','for','with'], x))) AS h_en
            FROM toks
        )
        SELECT doc_id, n_tokens, n_words, n_chars,
               CASE WHEN n_tokens > 0 THEN CAST(n_tokens - n_words AS DOUBLE) / n_tokens ELSE 0.0 END AS punct_ratio,
               CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END AS stopword_ratio,
               least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4
                 + (1.0 - CASE WHEN n_tokens > 0 THEN CAST(n_tokens - n_words AS DOUBLE) / n_tokens ELSE 0.0 END) * 0.3
                 + least(CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END * 5.0, 1.0) * 0.3 AS quality_score,
               CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                    WHEN h_de >= greatest(h_en, h_es, h_fr) THEN 'de'
                    WHEN h_en >= greatest(h_es, h_fr) THEN 'en'
                    WHEN h_es >= h_fr THEN 'es'
                    ELSE 'fr' END AS lang_guess
        FROM feat
    """,
)
def text_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: token stats + quality score + stopword-argmax language ID in
    one narrow pass (regex + array lambdas, zero shuffles, zero UDFs;
    the tokenization is let-bound so it runs once per row, and
    F.inline expands the profile struct without re-inlining it)."""
    from gas_data_pipeline_spark.operators.text import text_profile

    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.inline(F.array(text_profile(F.col("text")))))


@register(
    "text_fingerprint",
    oracle="""
        SELECT doc_id,
               CASE WHEN len(vals) = 0 THEN 0
                    ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
                                     (a, b) -> (a * 131 + b) % 1000000007)
               END AS fingerprint
        FROM (
            SELECT doc_id,
                   list_transform(
                       regexp_extract_all(lower(text), '[a-z0-9]+|[^\\sa-z0-9]'),
                       t -> CAST(ascii(t[1]) * 31 + length(t) AS BIGINT)
                   ) AS vals
            FROM documents
        )
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: order-sensitive polynomial rolling fingerprint — an
    engine-portable fold (no engine hash), so the oracle reproduces it
    exactly. Detects reordered-content docs that bag-of-shingles misses.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("fingerprint")
    )


@register(
    "hash_split_train_test",
    oracle="""
        WITH b AS (
            SELECT doc_id,
                   CAST(concat('0x', substring(md5('split-salt-v1:' ||
                        CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 100
                       AS bucket
            FROM documents
        )
        SELECT doc_id, bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM b
    """,
)
def hash_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3-adjacent: reproducible train/val/test split by id hash
    (80/10/10) — THE split for 100 TB training pipelines: stateless,
    deterministic across runs and clusters, and stable under corpus
    growth (a document's bucket never changes when other rows are
    added, unlike sampleBy/rand splits). The bucket derives from
    md5(salt, id) (engine-portable, so the DuckDB oracle reproduces
    it bit-for-bit — was xxhash64, which has no DuckDB twin). Narrow
    op, zero shuffle. Invariance properties pinned in
    tests/test_northstar.py."""
    docs = table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("split-salt-v1:"), F.col("doc_id").cast("string"))
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(100),
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.select("doc_id", bucket.alias("bucket"), split.alias("split"))


@register(
    "text_unigram_logprob",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(
                list_filter(
                    regexp_extract_all(lower(text), '[a-z0-9]+|[^\\sa-z0-9]'),
                    t -> regexp_matches(t, '^[a-z0-9]')
                )
            ) AS term
            FROM documents
        ),
        vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        total AS (SELECT sum(cnt) AS n FROM vocab),
        scored AS (
            SELECT t.doc_id, ln(vocab.cnt / total.n) AS lp
            FROM toks t JOIN vocab USING (term) CROSS JOIN total
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(lp), 6) AS avg_logprob,
               round(exp(-avg(lp)), 6) AS ppl_proxy
        FROM scored GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 model-based quality scoring: every document scored under the
    corpus's own unigram LM — avg log p(token) + perplexity proxy, the
    cheap stand-in for a KenLM quality filter. Token explode,
    map-side-combinable vocab count, broadcast probability table, one
    per-doc aggregate; no Python."""
    from gas_data_pipeline_spark.operators.text import unigram_logprob

    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    return unigram_logprob(docs, "doc_id", "text")


@register(
    "tfidf_top_terms",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(
                list_filter(
                    regexp_extract_all(lower(text), '[a-z0-9]+|[^\\sa-z0-9]'),
                    t -> regexp_matches(t, '^[a-z0-9]')
                )
            ) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
                     AS tfidf
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, tfidf, CAST(rank AS BIGINT) AS rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term
            ) AS rank
            FROM scored
        ) WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 tf-idf: top-3 characteristic terms per document (smoothed
    idf = ln((N+1)/(df+1))+1, sklearn's formulation). Pure DataFrame:
    token explode → (doc, term) counts → broadcast document-frequency
    join → per-doc window top-k. The df table is |vocab|-sized —
    broadcast; the only big shuffle is the (doc, term) count, which is
    map-side combinable."""
    from gas_data_pipeline_spark.operators.text import is_word, tokenize

    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = spread_scan(docs.select("doc_id", "text")).select(
        "doc_id",
        F.explode(F.filter(tokenize(F.col("text")), is_word)).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id",
        "term",
        "tf",
        F.round(
            F.col("tf") * (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
        ).alias("tfidf"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# X4 — multimodal columns.
# ---------------------------------------------------------------------------


@register(
    "multimodal_features",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               ascii(substring(text, 1, 1)) AS first_byte
        FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: binary payload column + Arrow-batched mapInPandas feature
    extraction — the real multimodal plumbing (schema, batch iteration)
    with deterministic stand-in features. The crc32 column is computed
    too (pytest-checked) but projected out here because DuckDB lacks
    crc32."""
    docs = table(spark, sf_dir, "documents")
    feats = extract_features(attach_binary(docs, "doc_id", "text"))
    return feats.select("doc_id", "n_bytes", "first_byte")


_COMPONENTS_ORACLE = f"""
        WITH RECURSIVE docs AS ({_PLANT_SQL}),
        sh AS (
            SELECT doc_id,
                   list_distinct([
                       words[x] || ' ' || words[x+1] || ' ' || words[x+2]
                       FOR x IN range(1, greatest(len(words) - 1, 1))
                   ]) AS shingles
            FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words FROM docs)
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.shingles, b.shingles))
                    / (len(a.shingles) + len(b.shingles)
                       - len(list_intersect(a.shingles, b.shingles))) >= 0.5
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
        ),
        comp AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id)
        SELECT id AS doc_id, component_id,
               CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
                 AS component_size
        FROM comp
"""


@register("dedup_connected_components", oracle=_COMPONENTS_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 dedup clustering: near-dup pairs -> connected components ->
    (doc, component, size). Per-pair retirement is wrong under
    transitivity (pairs (a,b),(b,c) must retire b AND c together);
    canonical-per-component is what SlimPajama-style pipelines keep.
    Spark side: hash-min label propagation to fixpoint
    (operators/dedup.connected_components); oracle: recursive-CTE
    transitive closure over the identical exact-Jaccard pair set.
    The pair kernel + CC fixpoint come from the session-scoped
    ``_planted_components`` seam shared with dedup_keep_best /
    dedup_cluster_stats."""
    labels = _planted_components(spark, sf_dir, threshold=0.5)
    from pyspark.sql.window import Window as W

    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("component_id"),
    ).withColumn(
        "component_size",
        F.count(F.lit(1)).over(W.partitionBy("component_id")).cast("bigint"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
        WITH d AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n
            FROM documents WHERE doc_id < 500
        )
        SELECT doc_id,
               CAST(frame_idx AS BIGINT) AS frame_idx,
               CAST(length(substring(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64))
                    AS BIGINT) AS n_bytes,
               sha256(substring(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64))
                   AS frame_sha
        FROM d, unnest(range(0, greatest(CAST(ceil(n / 64.0) AS BIGINT), 1), 4))
                    AS t(frame_idx)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 frame sampling: documents as fake media containers, every
    4th 64-byte frame emitted as a row (row-expanding mapInPandas —
    the video-sampler batch shape; demux faked, plumbing real). Frame
    counts and checksums re-derived in pure Python in
    tests/test_northstar.py — and now ALSO value-oracled: the
    per-frame checksum is sha-256 (portable; crc32 had no DuckDB
    twin) and the corpus is pure ASCII, so character slicing in the
    oracle equals the engine's byte slicing."""
    from gas_data_pipeline_spark.operators.multimodal import sample_frames

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    binary = attach_binary(docs, "doc_id", "text")
    return sample_frames(binary, frame_size=64, every=4)


@register(
    "multimodal_resize_grid",
    oracle="""
        WITH d AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n
            FROM documents WHERE doc_id < 500
        ),
        dim AS (
            SELECT doc_id, text, n,
                   CAST(ceil(sqrt(greatest(n, 1))) AS BIGINT) AS side
            FROM d
        ),
        px AS (
            SELECT doc_id, side, p // side AS r, p % side AS c,
                   -- n = 0 branch mirrors fake_codec's empty-payload
                   -- fallback (a single zero pixel); greatest(n, 1)
                   -- keeps the cyclic fill from a modulo-by-zero.
                   CAST(CASE WHEN n = 0 THEN 0 ELSE ord(substring(
                       text, CAST(p % greatest(n, 1) AS INT) + 1, 1))
                   END AS DOUBLE) AS v
            FROM dim, unnest(range(0, side * side)) AS t(p)
        ),
        blocks AS (
            SELECT i, j
            FROM unnest(range(0, 8)) AS a(i), unnest(range(0, 8)) AS b(j)
        ),
        cell AS (
            SELECT px.doc_id, b.i, b.j, avg(v) AS v
            FROM px CROSS JOIN blocks b
            WHERE px.r >= (b.i * px.side) // 8
              AND px.r < greatest(((b.i + 1) * px.side) // 8,
                                  (b.i * px.side) // 8 + 1)
              AND px.c >= (b.j * px.side) // 8
              AND px.c < greatest(((b.j + 1) * px.side) // 8,
                                  (b.j * px.side) // 8 + 1)
            GROUP BY px.doc_id, b.i, b.j
        )
        SELECT doc_id, i, j, round(v, 6) AS v
        FROM cell
    """,
)
def multimodal_resize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 resize: variable-size payloads pooled to a fixed 8x8 grid
    (block-mean; decode faked as bytes-are-pixels, batch shape real).
    Pixel values re-derived with numpy in tests/test_northstar.py —
    and ALSO value-oracled: the fake decode is deterministic
    integer arithmetic (pixel p = byte[p mod n], cyclic np.resize
    fill; the ASCII corpus makes ord(char) == byte), and block means
    of integer-valued doubles are exact in both engines, so the
    oracle replays the full decode -> block-mean -> round pipeline,
    including the degenerate side<8 overlapping-block guard.

    Output shape is one ROW per grid cell ``(doc_id, i, j, v)``, not a
    pixels array: the driver's compare canonicalizes by sorting raw
    columns (pandas ``factorize``), which cannot hash a Python list —
    the r7 driver red. The engine still materializes the fixed 8x8
    tensor per doc inside ``resize_media`` (the real batch shape);
    only the REPORTED surface is exploded, a zero-cost posexplode."""
    from gas_data_pipeline_spark.operators.multimodal import resize_media

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    binary = attach_binary(docs, "doc_id", "text")
    out = resize_media(binary, height=8, width=8)
    px = out.select("doc_id", F.posexplode("pixels").alias("pos", "v"))
    return px.select(
        "doc_id",
        F.floor(F.col("pos") / 8).cast("bigint").alias("i"),
        (F.col("pos") % 8).cast("bigint").alias("j"),
        F.round("v", 6).alias("v"),
    )


_CONTAINMENT_ORACLE = f"""
        WITH docs AS ({_PLANT_SQL}),
        sh AS (
            SELECT doc_id,
                   list_distinct([
                       words[x] || ' ' || words[x+1] || ' ' || words[x+2]
                       FOR x IN range(1, greatest(len(words) - 1, 1))
                   ]) AS shingles
            FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words FROM docs)
        )
        SELECT a.doc_id AS id_small, b.doc_id AS id_big,
               len(list_intersect(a.shingles, b.shingles))
                 / len(a.shingles) AS containment
        FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        WHERE len(a.shingles) <= len(b.shingles)
          AND (len(a.shingles) < len(b.shingles) OR a.doc_id < b.doc_id)
          AND len(list_intersect(a.shingles, b.shingles))
                / len(a.shingles) >= 0.9
"""


@register("dedup_containment_pairs", oracle=_CONTAINMENT_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 asymmetric containment |A∩B| / |A|: catches the
    quote/boilerplate case Jaccard misses — a short doc fully embedded
    in a long one scores ~1.0 containment but low Jaccard (the union
    is dominated by the long doc). The inverted-index Jaccard join's
    pipeline up to its score: hashed word 3-gram sets, every shingle a
    bucket key, one co-group into pairs, the count scorer. Only the
    normalization (|A∩B| over the smaller set) and the orientation
    differ: (smaller, larger) with an id tiebreak, so each unordered
    pair appears once."""
    docs = _docs_with_planted(spark, sf_dir)
    sets = hashed_shingles(docs, "doc_id", word_shingles(F.col("text"), n=3))
    scored = count_scored(bucket_pairs(shingle_postings(sets), ["shingle"], ["id", "n"]))
    a_small = F.col("na") <= F.col("nb")
    return scored.select(
        F.when(a_small, F.col("id_a")).otherwise(F.col("id_b")).alias("id_small"),
        F.when(a_small, F.col("id_b")).otherwise(F.col("id_a")).alias("id_big"),
        (F.col("n_common") / F.least("na", "nb")).alias("containment"),
    ).filter(F.col("containment") >= 0.9)


_PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PII_URL = "https?://[^\\s]+"
_PII_LONGNUM = "\\b\\d{7,}\\b"
_PII_PLANT = (
    " contact alice.b@example.com or see https://example.com/x?id=42"
    " ref 12345678"
)


@register(
    "text_pii_scrub",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 0
                        THEN text || '{_PII_PLANT}' ELSE text END AS text
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, '{_PII_URL}')) AS BIGINT) AS n_urls,
               CAST(len(regexp_extract_all(text, '{_PII_LONGNUM}')) AS BIGINT) AS n_longnums,
               sha256(regexp_replace(regexp_replace(regexp_replace(text,
                   '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_URL}', '<URL>', 'g'),
                   '{_PII_LONGNUM}', '<NUM>', 'g')) AS scrubbed_hash
        FROM docs
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 PII scrubbing: count and redact emails / URLs / long digit
    runs — the compliance pass every training-data pipeline runs before
    release. Pure regexp_replace/regexp_count (narrow, codegen, no
    Python, no shuffle); patterns restricted to the RE2 ∩ Java-regex
    dialect so Spark and the oracle behave identically, and the sha-256
    of the SCRUBBED text is compared — the strongest possible equality
    (every redacted byte must match). PII is planted on every 10th doc
    because the synthetic corpus contains none."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(_PII_PLANT)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_URL),
            F.lit("<URL>"),
        ),
        F.lit(_PII_LONGNUM),
        F.lit("<NUM>"),
    )
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PII_URL)).cast("bigint").alias("n_urls"),
        F.regexp_count(F.col("text"), F.lit(_PII_LONGNUM)).cast("bigint").alias("n_longnums"),
        F.sha2(scrubbed, 256).alias("scrubbed_hash"),
    )


_INCR_SPLIT_SQL = """
        new_batch AS (
            SELECT d.doc_id,
                   CASE WHEN d.doc_id % 30 = 0 THEN e.text
                        WHEN d.doc_id % 30 = 10 THEN e.text || ' extra marker words appended'
                        ELSE d.text END AS text
            FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
            WHERE d.doc_id % 10 = 0
        ),
        existing AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0)
"""


@register(
    "dedup_incremental_batch",
    oracle=f"""
        WITH {_INCR_SPLIT_SQL},
        s1 AS (
            SELECT * FROM new_batch
            WHERE sha256(text) NOT IN (SELECT DISTINCT sha256(text) FROM existing)
        ),
        shn AS (
            SELECT doc_id, list_distinct([
                       words[x] || ' ' || words[x+1] || ' ' || words[x+2]
                       FOR x IN range(1, greatest(len(words) - 1, 1))
                   ]) AS sh
            FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words FROM s1)
        ),
        she AS (
            SELECT doc_id, list_distinct([
                       words[x] || ' ' || words[x+1] || ' ' || words[x+2]
                       FOR x IN range(1, greatest(len(words) - 1, 1))
                   ]) AS sh
            FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words FROM existing)
        ),
        near AS (
            SELECT DISTINCT a.doc_id
            FROM shn a JOIN she b
              ON len(list_intersect(a.sh, b.sh))
                   / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        )
        SELECT doc_id FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM near)
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 incremental: dedup a NEW batch against the EXISTING corpus —
    the per-snapshot ingestion gate of a growing training corpus. The
    fixture plants both failure modes: every 30th new doc is an exact
    copy of an existing doc (caught by the sha-256 anti-join) and every
    (30k+10)th is a near-copy with an appended marker (caught by the
    cross-side Jaccard index at 0.5). Survivors are the genuinely new
    documents. See operators/dedup.incremental_dedup for the scale
    shape (hash + posting indexes persisted, not per-batch recompute).
    """
    from gas_data_pipeline_spark.operators.dedup import incremental_dedup

    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    donor = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("donor_text")
    )
    new_batch = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .join(donor, "doc_id")
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 30 == 0, F.col("donor_text"))
            .when(
                F.col("doc_id") % 30 == 10,
                F.concat(F.col("donor_text"), F.lit(" extra marker words appended")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    survivors = incremental_dedup(new_batch, existing, threshold=0.5)
    return survivors.select("doc_id")


@register(
    "dedup_bloom_incremental",
    oracle=f"""
        WITH {_INCR_SPLIT_SQL}
        SELECT doc_id FROM new_batch
        WHERE sha256(text) NOT IN (SELECT DISTINCT sha256(text) FROM existing)
    """,
)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 incremental, Bloom-gated: the exact ingestion gate of
    `dedup_incremental_batch` stage 1, but the seen-set is summarized
    into a 2^20-bit Bloom bitmap probed map-side in SQL, so only
    bloom-positive candidates (true dups + ~2e-5 false positives) pay
    the anti-join — the rest of the new batch never shuffles. Bloom
    has no false negatives and positives are exact-confirmed, so the
    result is IDENTICAL to the plain sha-256 anti-join the oracle
    runs; the bitmap changes the shuffle volume, not the answer.
    Fixture reuses the incremental split (every 30th new doc an exact
    copy of an existing doc). See operators/dedup.bloom_prefilter_dedup
    for the build/probe/sizing scale notes."""
    from gas_data_pipeline_spark.operators.dedup import bloom_prefilter_dedup

    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    donor = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("donor_text")
    )
    new_batch = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .join(donor, "doc_id")
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 30 == 0, F.col("donor_text"))
            .when(
                F.col("doc_id") % 30 == 10,
                F.concat(F.col("donor_text"), F.lit(" extra marker words appended")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    survivors = bloom_prefilter_dedup(new_batch, existing)
    return survivors.select("doc_id")


_KEEP_BEST_ORACLE = f"""
        WITH RECURSIVE docs AS ({_PLANT_SQL}),
        sh AS (
            SELECT doc_id,
                   list_distinct([
                       words[x] || ' ' || words[x+1] || ' ' || words[x+2]
                       FOR x IN range(1, greatest(len(words) - 1, 1))
                   ]) AS shingles
            FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words FROM docs)
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.shingles, b.shingles))
                    / (len(a.shingles) + len(b.shingles)
                       - len(list_intersect(a.shingles, b.shingles))) >= 0.5
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
        ),
        comp AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id),
        labeled AS (
            SELECT d.doc_id,
                   COALESCE(c.component_id, d.doc_id) AS component_id,
                   length(d.text) AS q
            FROM docs d LEFT JOIN comp c ON d.doc_id = c.id
        )
        SELECT doc_id, component_id,
               CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
                 AS component_size,
               row_number() OVER (
                   PARTITION BY component_id ORDER BY q DESC, doc_id
               ) = 1 AS keep
        FROM labeled
"""


@register("dedup_keep_best", oracle=_KEEP_BEST_ORACLE)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 canonicalization: near-dup pairs -> connected components ->
    keep exactly ONE representative per cluster (highest quality =
    longest text, ties to lowest doc_id), singletons always kept —
    the retirement set per-pair dedup gets wrong under transitivity
    (pairs (a,b),(b,c) must keep one of {a,b,c}, not two). Spark
    side: operators/dedup.keep_best_per_cluster (one window over the
    component id); oracle: recursive-CTE transitive closure + the
    same argmax window. Components come from the shared
    ``_planted_components`` seam (computed once per session)."""
    from gas_data_pipeline_spark.operators.dedup import keep_best_per_cluster

    docs = _docs_with_planted(spark, sf_dir)
    labels = _planted_components(spark, sf_dir, threshold=0.5)
    return keep_best_per_cluster(docs, labels).select(
        "doc_id", "component_id", "component_size", "keep"
    )


@register(
    "text_chunk_sliding",
    oracle="""
        WITH words AS (
            SELECT doc_id,
                   [w FOR w IN regexp_split_to_array(text, '\\s+') IF w <> ''] AS ws
            FROM documents
            WHERE text IS NOT NULL
        ),
        ne AS (SELECT * FROM words WHERE len(ws) > 0),
        chunks AS (
            SELECT doc_id, ws, CAST(s AS BIGINT) AS start_word
            FROM ne, UNNEST(range(0, greatest(len(ws) - 17, 0) + 1, 48)) AS t(s)
        )
        SELECT doc_id,
               CAST(start_word // 48 AS BIGINT) AS chunk_seq,
               start_word,
               array_to_string(ws[start_word + 1 : start_word + 64], ' ') AS chunk_text,
               CAST(len(ws[start_word + 1 : start_word + 64]) AS BIGINT) AS n_words
        FROM chunks
    """,
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 sliding-window chunking (RAG / context-window prep): 64-word
    chunks stepping by 48 (16-word overlap), minimal start set that
    still covers every word; degenerate docs (null/empty/whitespace)
    emit nothing. Narrow row expansion — split/sequence/explode/slice
    are all codegen'd, no shuffle, no Python."""
    from gas_data_pipeline_spark.operators.text import chunk_documents

    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    return chunk_documents(docs, chunk=64, stride=48)


@register(
    "text_token_count",
    oracle=r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^\sa-z0-9]', 0))
                    AS BIGINT) AS n_coarse_tokens,
               CAST(len(regexp_extract_all(
                   text,
                   '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+',
                   0)) AS BIGINT) AS n_bpe_pretokens,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 token counting: the whitespace/punctuation coarse count plus
    the GPT-2-style BPE pre-tokenizer count — the unit training-token
    budgets and context windows are planned in. All regexp
    extraction, fully codegen'd, narrow (no shuffle)."""
    from gas_data_pipeline_spark.operators.text import (
        bpe_pretoken_count,
        token_stats,
    )

    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    stats = token_stats(F.col("text"))
    return docs.select(
        "doc_id",
        stats["n_tokens"].alias("n_coarse_tokens"),
        bpe_pretoken_count(F.col("text")).alias("n_bpe_pretokens"),
        stats["n_chars"].alias("n_chars"),
    )


# _SIGN_BITS / _SIGN_SIG_SQL are defined next to ann_lsh_signed above
# — the two sign-signature queries share the bucket function.


@register(
    "dedup_semantic_buckets",
    oracle=f"""
        WITH b AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   CAST({_SIGN_SIG_SQL} AS BIGINT) AS bucket
            FROM embeddings
        )
        SELECT a.bucket AS bucket, a.vec_id AS id_a, c.vec_id AS id_b,
               list_dot_product(a.v, c.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(c.v, c.v))) AS cos_sim
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        WHERE list_dot_product(a.v, c.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(c.v, c.v))) >= 0.4
    """,
)
def dedup_semantic_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2 semantic dedup, exact-oracle twin of the LSH family:
    sign-signature buckets (first 4 coordinates) prune the pair space
    16x, per-pair cosine is a codegen'd zip_with/aggregate fold. The
    deterministic-partitioner counterpart to ann_lsh_bucketed's
    engine-derived random hyperplanes — same equi-join-instead-of-
    cross-product scale shape, fully SQL-checkable."""
    from gas_data_pipeline_spark.operators.similarity import (
        semantic_bucket_near_dup,
    )

    # spread_scan: the pair fold is CPU-heavy and a small embeddings
    # parquet arrives as one split — without the spread the whole
    # candidate set scores on a single core.
    emb = spread_scan(table(spark, sf_dir, "embeddings"))
    return semantic_bucket_near_dup(
        emb, sign_bits=_SIGN_BITS, threshold=0.4
    )


@register(
    "bpe_pair_counts",
    oracle="""
        WITH s AS (
            SELECT lower(text) AS t FROM documents WHERE text IS NOT NULL
        ),
        grams AS (
            SELECT substring(t, i, 2) AS pair
            FROM s, LATERAL (
                SELECT unnest(range(1, greatest(length(t), 1))) AS i
            )
        )
        SELECT pair, CAST(count(*) AS BIGINT) AS n
        FROM grams
        WHERE regexp_full_match(pair, '[a-z]{2}')
        GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT 50
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 tokenizer-training primitive: corpus-wide adjacent character
    pair frequencies — the count step of the first BPE merge (the
    inner loop of vocabulary induction is exactly this aggregate,
    re-run per merge over the current symbol sequence). Narrow
    transform/sequence/substring expansion (codegen, no Python), then
    one map-side-combinable count shuffle; top-50 is a bounded
    TakeOrderedAndProject, never a global sort. At 100 TB the explode
    multiplies rows by average doc length — partial aggregation
    collapses it to |alphabet|² partial rows per task before the
    shuffle, so the wire cost is independent of corpus size."""
    docs = spread_scan(
        table(spark, sf_dir, "documents")
        .select("text")
        .filter(F.col("text").isNotNull())
    )
    # lower(text) is projected ONCE before the transform — inside the
    # lambda it would re-lowercase the whole document per position
    # unless Catalyst happens to CSE it across lambda invocations,
    # making the character work quadratic in doc length (VERDICT r5 #2).
    pairs = docs.select(F.lower("text").alias("t")).select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(t) - 1, 1)),"
                " i -> substring(t, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.filter(F.col("pair").rlike("^[a-z]{2}$"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(50)
    )


_CLUSTER_STATS_ORACLE = f"""
        WITH RECURSIVE docs AS ({_PLANT_SQL}),
        sh AS (
            SELECT doc_id,
                   list_distinct([
                       words[x] || ' ' || words[x+1] || ' ' || words[x+2]
                       FOR x IN range(1, greatest(len(words) - 1, 1))
                   ]) AS shingles
            FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words FROM docs)
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.shingles, b.shingles))
                    / (len(a.shingles) + len(b.shingles)
                       - len(list_intersect(a.shingles, b.shingles))) >= 0.5
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
        ),
        comp AS (SELECT id, min(r) AS label FROM reach GROUP BY id),
        labeled AS (
            SELECT d.doc_id, coalesce(c.label, d.doc_id) AS cluster_id
            FROM docs d LEFT JOIN comp c ON d.doc_id = c.id
        ),
        clusters AS (
            SELECT cluster_id, count(*) AS sz FROM labeled GROUP BY cluster_id
        ),
        hist AS (
            SELECT sz AS cluster_size,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(sz * count(*) AS BIGINT) AS n_docs
            FROM clusters GROUP BY sz
        )
        SELECT 'size' AS kind, CAST(cluster_size AS BIGINT) AS cluster_size,
               n_clusters, n_docs, CAST(NULL AS DOUBLE) AS dedup_rate
        FROM hist
        UNION ALL
        SELECT 'total', CAST(NULL AS BIGINT),
               CAST((SELECT count(*) FROM clusters) AS BIGINT),
               CAST((SELECT count(*) FROM labeled) AS BIGINT),
               round(1.0 - (SELECT count(*) FROM clusters)
                           / (SELECT count(*) FROM labeled), 6)
"""


@register("dedup_cluster_stats", oracle=_CLUSTER_STATS_ORACLE)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup report's headline: cluster-size histogram plus the
    corpus dedup rate (1 - canonicals/docs — what fraction keep-best
    canonicalization would remove), over the SAME near-dup components
    as `dedup_connected_components`, with every un-clustered doc a
    singleton of itself. Histogram rows are `kind='size'`; the one
    `kind='total'` row carries total clusters, total docs, and the
    rate. Scale shape: the expensive part is the pair kernel +
    hash-min CC the siblings already pay — paid ONCE per session via
    the shared ``_planted_components`` seam; the histogram is a
    clusters-sized double aggregate and the total a 1-row fold."""
    docs = _docs_with_planted(spark, sf_dir)
    labels = _planted_components(spark, sf_dir, threshold=0.5)
    labeled = (
        docs.select("doc_id")
        .join(labels, docs["doc_id"] == labels["id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    clusters = labeled.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    clusters = clusters.localCheckpoint(eager=True)  # feeds hist + totals
    hist = clusters.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_clusters"),
    ).select(
        F.lit("size").alias("kind"),
        F.col("sz").cast("bigint").alias("cluster_size"),
        F.col("n_clusters").cast("bigint"),
        (F.col("sz") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
        F.lit(None).cast("double").alias("dedup_rate"),
    )
    total = clusters.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").alias("n_docs"),
    ).select(
        F.lit("total").alias("kind"),
        F.lit(None).cast("bigint").alias("cluster_size"),
        F.col("n_clusters").cast("bigint"),
        F.col("n_docs").cast("bigint"),
        F.round(1.0 - F.col("n_clusters") / F.col("n_docs"), 6).alias("dedup_rate"),
    )
    return hist.unionByName(total)
