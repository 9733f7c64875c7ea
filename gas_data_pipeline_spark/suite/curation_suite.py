"""Training-data curation queries (SURVEY §2.11 extensions): the
corpus passes an LLM data pipeline runs between ingest and training —
benchmark decontamination, sequence packing, quality-rule filtering,
deterministic global shuffle, weighted sampling. All value-oracled:
every random choice derives from md5(salt, id), which DuckDB
reproduces bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gas_data_pipeline_spark.catalog import spread_scan, table
from gas_data_pipeline_spark.operators.curation import (
    contamination_flags,
    pack_sequences,
    quality_rule_columns,
    quality_rules_keep,
    resample_to_mixture,
    seeded_shuffle_rank,
    weighted_sample,
)
from gas_data_pipeline_spark.registry import model_cache, register

# Tokenizer SQL twin (operators/text.py TOKEN_PATTERN).
_TOKS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+|[^\\sa-z0-9]')"
_WORDS_SQL = f"list_filter({_TOKS_SQL}, t -> regexp_matches(t, '^[a-z0-9]'))"

# Word 5-gram SQL twin (operators/dedup.py word_shingles, n=5).
_GRAMS5_SQL = """
        SELECT doc_id, unnest(list_distinct([
                   words[x] || ' ' || words[x+1] || ' ' || words[x+2]
                           || ' ' || words[x+3] || ' ' || words[x+4]
                   FOR x IN range(1, greatest(len(words) - 3, 1))
               ])) AS gram
        FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words
              FROM documents)
"""


@register(
    "curation_contamination",
    oracle=f"""
        WITH grams AS ({_GRAMS5_SQL}),
        bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
        agg AS (
            SELECT g.doc_id,
                   count(*) AS n_grams,
                   count(b.gram) AS n_contaminated
            FROM grams g LEFT JOIN bench b ON g.gram = b.gram
            GROUP BY g.doc_id
        )
        SELECT doc_id, n_grams, n_contaminated,
               round(n_contaminated / n_grams, 6) AS contamination,
               n_contaminated / n_grams >= 0.2 AS flagged
        FROM agg
    """,
)
def curation_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: word 5-gram overlap of every corpus
    document against a (simulated) evaluation set — docs whose id is a
    multiple of 50 stand in for the benchmark. The benchmark gram set
    broadcasts; the corpus is never shuffled by gram (one doc-keyed
    agg), so the plan survives a 100 TB corpus untouched."""
    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination_flags(docs, benchmark, n=5, threshold=0.2)


@register(
    "curation_pack_sequences",
    oracle="""
        WITH toks AS (
            SELECT doc_id, doc_id % 8 AS shard,
                   CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^\\sa-z0-9]')) AS BIGINT)
                     AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, shard, n_tokens,
                   CAST(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_tokens
            FROM toks
        )
        SELECT doc_id, shard, n_tokens, cum_tokens,
               CASE WHEN n_tokens > 0 THEN (cum_tokens - n_tokens) // 512 END AS first_chunk,
               CASE WHEN n_tokens > 0 THEN (cum_tokens - 1) // 512 END AS last_chunk,
               CASE WHEN n_tokens > 0
                    THEN (cum_tokens - 1) // 512 - (cum_tokens - n_tokens) // 512 + 1
                    ELSE 0 END AS n_chunks
        FROM c
    """,
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: per shard,
    documents concatenate in id order and the token stream splits into
    512-token context windows; each document reports its chunk span.
    One window per shard, no join — the widest op at 100 TB is a
    per-shard sort."""
    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    return pack_sequences(docs, capacity=512, n_shards=8)


@register(
    "curation_quality_rules",
    oracle=f"""
        WITH lined AS (
            SELECT doc_id, replace(text, ' batch', chr(10) || 'batch') AS text
            FROM documents
        ),
        feats AS (
            SELECT doc_id,
                   {_TOKS_SQL} AS toks,
                   {_WORDS_SQL} AS words,
                   string_split(text, chr(10)) AS lines
            FROM lined
        ),
        r AS (
            SELECT doc_id,
                   CAST(len(words) AS BIGINT) AS n_words,
                   round(CASE WHEN len(words) > 0
                              THEN CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT)
                                     / len(words) END, 6) AS mean_word_len,
                   round(CASE WHEN len(toks) > 0
                              THEN (len(toks) - len(words)) / len(toks) END, 6) AS symbol_ratio,
                   round(CASE WHEN len(lines) > 0
                              THEN (len(lines) - len(list_distinct(lines))) / len(lines) END, 6)
                     AS dup_line_frac,
                   round(CASE WHEN len(lines) > 0
                              THEN len(list_filter(lines, ln -> regexp_matches(trim(ln), '^[-*•]')))
                                     / len(lines) END, 6) AS bullet_frac
            FROM feats
        )
        SELECT doc_id, n_words, mean_word_len, symbol_ratio, dup_line_frac, bullet_frac,
               n_words >= 50 AND n_words <= 100000
                 AND mean_word_len >= 2 AND mean_word_len <= 12
                 AND symbol_ratio <= 0.5 AND dup_line_frac <= 0.3 AS keep
        FROM r
    """,
)
def curation_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality-rule table + keep decision, one narrow
    pass of native expressions (word stats, symbol ratio, duplicate-
    line and bullet-line fractions). The synthetic corpus has no
    newlines, so lines are synthesized by an exact string replace
    (portable to the oracle) to exercise the line-level rules."""
    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    lined = docs.withColumn(
        "text", F.replace(F.col("text"), F.lit(" batch"), F.lit("\nbatch"))
    )
    feats = lined.select("doc_id", *quality_rule_columns(F.col("text")))
    return feats.withColumn("keep", quality_rules_keep())


@register(
    "curation_shuffle_rank",
    oracle="""
        SELECT doc_id,
               CAST(row_number() OVER (
                   ORDER BY md5('shuffle-v1:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS shuffle_rank
        FROM documents
    """,
)
def curation_shuffle_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle WITHOUT a global
    sort: md5-prefix range buckets + per-bucket window ranks + a
    256-row offset stats object. The oracle is the naive global
    window — proving the distributed two-pass form computes the exact
    same permutation."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return seeded_shuffle_rank(docs, seed="shuffle-v1")


@register(
    "curation_weighted_sample",
    oracle=f"""
        WITH w AS (
            SELECT doc_id,
                   CAST(len({_WORDS_SQL}) AS BIGINT) AS n_words,
                   least(1.0, len({_WORDS_SQL}) / 80.0) AS keep_prob,
                   CAST(concat('0x', substring(md5('sample-v1:' || CAST(doc_id AS VARCHAR)), 1, 13))
                        AS BIGINT) / 4503599627370496.0 AS u
            FROM documents
        )
        SELECT doc_id, n_words, round(keep_prob, 6) AS keep_prob, round(u, 6) AS u
        FROM w WHERE u < keep_prob
    """,
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling: keep each document with
    probability proportional to its length (keep_prob = n_words/80,
    capped at 1) using a uniform draw derived from md5(seed, id) —
    52 bits, exact in a double, identical in DuckDB. Stateless: a
    document's fate never changes as the corpus grows, so incremental
    re-curation keeps prior decisions. Narrow, zero shuffle."""
    from gas_data_pipeline_spark.operators.text import is_word, tokenize

    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    n_words = F.size(F.filter(tokenize(F.col("text")), is_word)).cast("bigint")
    weighted = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.least(F.lit(1.0), n_words / F.lit(80.0)).alias("keep_prob"),
    )
    sampled = weighted_sample(weighted, F.col("keep_prob"), seed="sample-v1")
    return sampled.select(
        "doc_id",
        "n_words",
        F.round("keep_prob", 6).alias("keep_prob"),
        F.round("_u", 6).alias("u"),
    )


_BIGRAMS_SQL = f"""
        SELECT doc_id, unnest([
                   words[x] || ' ' || words[x+1]
                   FOR x IN range(1, greatest(len(words), 1))
               ]) AS gram
        FROM (SELECT doc_id, {_WORDS_SQL} AS words FROM documents)
"""


@register(
    "text_repetition_topgram",
    oracle=f"""
        WITH g AS ({_BIGRAMS_SQL}),
        c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_bigrams,
               CAST(max(cnt) AS BIGINT) AS top_bigram_count,
               round(max(cnt) / sum(cnt), 6) AS top_bigram_frac,
               max(cnt) / sum(cnt) >= 0.05 AS repetitive
        FROM c GROUP BY doc_id
    """,
)
def text_repetition_topgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of all word bigrams
    taken by the single most frequent bigram (with multiplicity —
    boilerplate and looping generations repeat the same n-gram).
    Explode -> (doc, gram) count -> per-doc max/sum; both aggregates
    are map-side combinable and shuffle on the doc key only."""
    from gas_data_pipeline_spark.operators.text import word_bigrams

    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    grams = docs.select(
        "doc_id", F.explode(word_bigrams(F.col("text"))).alias("gram")
    )
    counts = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    frac = F.col("top_bigram_count") / F.col("n_bigrams")
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.max("cnt").alias("top_bigram_count"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "top_bigram_count",
            F.round(frac, 6).alias("top_bigram_frac"),
            (frac >= 0.05).alias("repetitive"),
        )
    )


@register(
    "curation_end_to_end",
    oracle=f"""
        WITH grams AS ({_GRAMS5_SQL}),
        bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
        quality AS (
            SELECT doc_id, text FROM documents
            WHERE len({_WORDS_SQL}) >= 50
        ),
        contam AS (
            SELECT g.doc_id
            FROM grams g LEFT JOIN bench b ON g.gram = b.gram
            GROUP BY g.doc_id
            HAVING count(b.gram) / count(*) >= 0.2
        ),
        surviving AS (
            SELECT q.doc_id, q.text FROM quality q
            LEFT JOIN contam c ON q.doc_id = c.doc_id
            WHERE c.doc_id IS NULL
        ),
        canonical AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rnk
                FROM surviving
            ) WHERE rnk = 1
        )
        SELECT doc_id,
               CAST(row_number() OVER (
                   ORDER BY md5('shuffle-v1:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS shuffle_rank
        FROM canonical
    """,
)
def curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pre-training corpus pass, composed from the curation
    operators in pipeline order: quality-rule filter -> benchmark
    decontamination -> exact dedup (canonical per content hash) ->
    deterministic training-order shuffle. Each stage keeps its
    individual scale shape (narrow rules, broadcast gram set, one
    content-hash shuffle, bucketed rank); composition adds no new
    shuffle beyond the stages' own."""
    from pyspark.sql.window import Window

    from gas_data_pipeline_spark.operators.curation import (
        contamination_flags,
        quality_rule_columns,
        seeded_shuffle_rank,
    )

    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    feats = docs.select("doc_id", "text", *quality_rule_columns(F.col("text")))
    quality = feats.filter(F.col("n_words") >= 50).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    dirty = (
        contamination_flags(docs, bench, n=5, threshold=0.2)
        .filter(F.col("flagged"))
        .select("doc_id")
    )
    surviving = quality.join(F.broadcast(dirty), "doc_id", "left_anti")
    canonical = (
        surviving.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
            ),
        )
        .filter(F.col("rnk") == 1)
        .select("doc_id")
    )
    return seeded_shuffle_rank(canonical, seed="shuffle-v1")


@register(
    "embedding_norm_stats",
    oracle="""
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS dim,
               round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
                 AS l2_norm,
               round(list_sum(embedding::DOUBLE[]) / len(embedding), 6) AS mean_val,
               round(list_min(embedding::DOUBLE[]), 6) AS min_val,
               round(list_max(embedding::DOUBLE[]), 6) AS max_val
        FROM embeddings
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2-adjacent embedding hygiene: per-vector dimension, L2 norm and
    value stats — the sanity pass before any similarity work (zero
    norms, NaN dims, and truncated vectors surface here, not inside a
    GEMM 3 stages later). Pure higher-order-function aggregates, one
    narrow pass, no Python."""
    emb = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    sq = F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    sm = F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
    return emb.select(
        "vec_id",
        F.size(v).cast("bigint").alias("dim"),
        F.round(F.sqrt(sq), 6).alias("l2_norm"),
        F.round(sm / F.size(v), 6).alias("mean_val"),
        F.round(F.array_min(v), 6).alias("min_val"),
        F.round(F.array_max(v), 6).alias("max_val"),
    )


@register(
    "vocab_top_terms",
    oracle=f"""
        WITH toks AS (
            SELECT unnest({_WORDS_SQL}) AS term FROM documents
        ),
        counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        total AS (SELECT sum(cnt) AS n FROM counts)
        SELECT term, CAST(cnt AS BIGINT) AS cnt,
               round(cnt / total.n, 6) AS token_share
        FROM counts, total
        ORDER BY cnt DESC, term LIMIT 100
    """,
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide vocabulary builder: the 100 most frequent word
    tokens with their share of all tokens — the seed pass of tokenizer
    training. Map-side-combinable count, a 1-row total broadcast, and
    TakeOrderedAndProject for the top-k (never a global sort)."""
    from gas_data_pipeline_spark.operators.text import is_word, tokenize

    docs = spread_scan(table(spark, sf_dir, "documents").select("text"))
    counts = (
        docs.select(F.explode(F.filter(tokenize(F.col("text")), is_word)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "term",
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("token_share"),
        )
        .orderBy(F.col("cnt").desc(), "term")
        .limit(100)
    )


@register(
    "curation_mixture_weights",
    oracle=f"""
        WITH tagged AS (
            SELECT doc_id % 4 AS source,
                   CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens
            FROM documents
        ),
        per_source AS (
            SELECT source, count(*) AS n_docs, sum(n_tokens) AS n_tokens
            FROM tagged GROUP BY source
        ),
        total AS (SELECT sum(n_tokens) AS n FROM per_source)
        SELECT source,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               round(n_tokens / total.n, 6) AS current_share,
               CAST(0.25 AS DOUBLE) AS target_share,
               round(least(CAST(0.25 AS DOUBLE) / (n_tokens / total.n),
                           CAST(2.0 AS DOUBLE)), 6) AS sample_weight
        FROM per_source, total
    """,
)
def curation_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture rebalancing: per source-domain token share vs a
    target mixture (uniform here), emitting the sampling weight that
    moves the corpus toward the target (capped at 2x upsampling — the
    standard guard against overfitting a tiny domain). Feed the weight
    to weighted_sample / sample_weighted for the actual pass. One
    4-group aggregate + a scalar broadcast."""
    docs = table(spark, sf_dir, "documents")
    from gas_data_pipeline_spark.operators.text import is_word, tokenize

    tagged = docs.select(
        F.pmod(F.col("doc_id"), F.lit(4)).alias("source"),
        F.size(F.filter(tokenize(F.col("text")), is_word)).cast("bigint").alias("n_tokens"),
    )
    per_source = tagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    total = per_source.agg(F.sum("n_tokens").alias("n"))
    share = F.col("n_tokens") / F.col("n")
    return per_source.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("current_share"),
        F.lit(0.25).alias("target_share"),
        F.round(F.least(F.lit(0.25) / share, F.lit(2.0)), 6).alias("sample_weight"),
    )


@register(
    "mixture_temperature_weights",
    oracle=f"""
        WITH tagged AS (
            SELECT lang, CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens
            FROM documents
        ),
        per_lang AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens
            FROM tagged GROUP BY lang
        ),
        shares AS (
            SELECT lang, n_docs, n_tokens,
                   CAST(n_tokens AS DOUBLE)
                     / CAST((SELECT sum(n_tokens) FROM per_lang) AS DOUBLE)
                       AS share
            FROM per_lang
        ),
        tw AS (
            SELECT lang, n_docs, n_tokens, share,
                   CAST(round(pow(share, 0.3) * 1e12) AS BIGINT) AS twq
            FROM shares
        )
        SELECT lang, n_docs, n_tokens,
               round(share, 6) AS current_share,
               round(CAST(twq AS DOUBLE)
                     / CAST((SELECT sum(twq) FROM tw) AS DOUBLE), 6)
                   AS target_share,
               round(least(
                   (CAST(twq AS DOUBLE)
                    / CAST((SELECT sum(twq) FROM tw) AS DOUBLE)) / share,
                   CAST(4.0 AS DOUBLE)), 6) AS sample_boost
        FROM tw
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language mixing — the multilingual data-
    sampling formula of mT5/XLM-R (Xue et al. 2021 §3.2; Conneau et
    al. 2020 §3): target_share_l ∝ share_l^α with α=0.3, so
    low-resource languages are upsampled toward (but never to)
    uniform. Reports per language the corpus token share, the
    temperature target, and the sampling boost (capped at 4x — the
    small-domain overfit guard, as in curation_mixture_weights).

    Exactness devices: the per-language aggregate (a |langs|-row
    model) is collected and the α-power computed in the DRIVER's
    Python ``math.pow`` — the same libm binding DuckDB's ``pow``
    resolves to (the `unigram_lm.lp_fixed_point` device), so the JVM's
    StrictMath.pow 1-ulp fringe never enters; the powered weights
    quantize to BIGINT x 1e12 BEFORE normalization so the weight sum
    is an exact integer in both engines regardless of association
    order. Scale shape: ONE map-side-combinable aggregate to |langs|
    rows; everything after is model-sized driver arithmetic, exactly
    like the BPE/unigram trainers."""
    from gas_data_pipeline_spark.operators.text import is_word, tokenize
    from gas_data_pipeline_spark.operators.unigram_lm import (
        _round_half_away,
    )

    docs = table(spark, sf_dir, "documents")
    rows = (
        docs.select(
            "lang",
            F.size(F.filter(tokenize(F.col("text")), is_word))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .collect()
    )
    import math

    total = sum(int(r["n_tokens"]) for r in rows)
    stats = [
        (r["lang"], int(r["n_docs"]), int(r["n_tokens"])) for r in rows
    ]
    shares = {lang: nt / total for lang, _, nt in stats}
    twq = {
        lang: _round_half_away(math.pow(s, 0.3) * 1e12)
        for lang, s in shares.items()
    }
    tsum = sum(twq.values())

    def r6(x: float) -> float:
        # DuckDB round(x, 6) = half-away on x*1e6 (std::round) — NOT
        # Python's half-even round(); same device as _round_half_away.
        return _round_half_away(x * 1e6) / 1e6

    out = [
        (
            lang,
            nd,
            nt,
            r6(shares[lang]),
            r6(twq[lang] / tsum),
            r6(min((twq[lang] / tsum) / shares[lang], 4.0)),
        )
        for lang, nd, nt in stats
    ]
    return spark.createDataFrame(
        out,
        "lang string, n_docs bigint, n_tokens bigint, "
        "current_share double, target_share double, sample_boost double",
    )


@register(
    "curation_mixture_apply",
    oracle="""
        WITH kept AS (
            SELECT doc_id, source, n_chars FROM documents
            WHERE lang IN ('en', 'de', 'fr') AND n_chars >= 50
        ),
        per_source AS (
            SELECT source, sum(n_chars) AS chars FROM kept GROUP BY source
        ),
        total AS (SELECT sum(chars) AS n, count(*) AS k FROM per_source),
        w AS (
            SELECT source,
                   least((1.0 / total.k) / (chars / total.n), CAST(3.0 AS DOUBLE)) AS wt
            FROM per_source, total
        ),
        copies AS (
            SELECT k.doc_id, k.source, w.wt,
                   CAST(concat('0x', substring(md5('mix-v1:' || CAST(k.doc_id AS VARCHAR)), 1, 13))
                        AS BIGINT) / 4503599627370496.0 AS u
            FROM kept k JOIN w USING (source)
        ),
        counted AS (
            SELECT doc_id, source,
                   CAST(floor(wt) AS BIGINT)
                     + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END AS n_copies
            FROM copies
        )
        SELECT doc_id, source, CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_num
        FROM counted WHERE n_copies >= 1
    """,
)
def curation_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-metadata filter + mixture rebalancing applied end-to-end:
    keep documents whose metadata passes policy (language allow-list,
    minimum length), compute each source-domain's char share, then
    integer-resample every document toward a uniform target mixture
    (`resample_to_mixture`: floor(w) copies + one more iff the md5 draw
    lands under frac(w); cap 3x). Up-samples scarce domains and
    down-samples dominant ones in one pass. The weight table is a
    per-source aggregate (tiny — broadcast); the corpus side stays
    narrow: metadata filters push to the parquet scan and the only row
    growth is the bounded explode fan-out."""
    docs = table(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de", "fr") & (F.col("n_chars") >= 50)
    )
    kept = docs.select("doc_id", "source", "n_chars")
    per_source = kept.groupBy("source").agg(F.sum("n_chars").alias("chars"))
    total = per_source.agg(F.sum("chars").alias("n"), F.count(F.lit(1)).alias("k"))
    weights = per_source.crossJoin(F.broadcast(total)).select(
        "source",
        F.least(
            (F.lit(1.0) / F.col("k")) / (F.col("chars") / F.col("n")), F.lit(3.0)
        ).alias("wt"),
    )
    weighted = kept.join(F.broadcast(weights), "source")
    return resample_to_mixture(weighted, F.col("wt"), id_col="doc_id", seed="mix-v1").select(
        "doc_id", "source", "copy_num"
    )


@register(
    "curation_domain_cap",
    oracle="""
        SELECT doc_id, source, n_chars, domain_rank, n_in_domain
        FROM (
            SELECT doc_id, source, n_chars,
                   CAST(row_number() OVER (
                       PARTITION BY source ORDER BY n_chars DESC, doc_id
                   ) AS BIGINT) AS domain_rank,
                   CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_in_domain
            FROM documents
        ) WHERE domain_rank <= 15
    """,
)
def curation_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the RefinedWeb/C4 anti-spam shape):
    keep the top-15 documents per source by quality (n_chars, ties to
    lowest doc_id), reporting pre-cap domain size so drop rates stay
    auditable. One shuffle on the domain key + a per-partition sorted
    pass (operators/curation.domain_cap)."""
    from gas_data_pipeline_spark.operators.curation import domain_cap

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return domain_cap(docs, domain_col="source", k=15, quality_col="n_chars")


@register(
    "curation_quality_percentile",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source,
                   CAST(len({_WORDS_SQL}) AS BIGINT) AS n_words
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, source, n_words,
                   round(percent_rank() OVER (
                       PARTITION BY source ORDER BY n_words DESC, doc_id
                   ), 6) AS pct_rank
            FROM scored
        )
        SELECT doc_id, source, n_words, pct_rank
        FROM ranked WHERE pct_rank <= 0.5
    """,
)
def curation_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIVE quality filtering: keep each domain's top half by word
    count rather than an absolute threshold — the fair-across-domains
    cut (an absolute rule starves short-form domains; the percentile
    adapts per source). Complements curation_quality_rules (absolute
    gates) and curation_domain_cap (absolute count cap). One shuffle
    on the domain key; percent_rank over a UNIQUE ordering
    (score desc, doc_id) so ranks — and the oracle — are exactly
    deterministic. At 100 TB domains are large and the per-domain sort
    is the whole cost; skewed domains split under AQE because nothing
    here needs single-partition order."""
    from pyspark.sql.window import Window

    from gas_data_pipeline_spark.operators.text import is_word, tokenize

    docs = spread_scan(
        table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    n_words = F.size(F.filter(tokenize(F.col("text")), is_word)).cast("bigint")
    scored = docs.select("doc_id", "source", n_words.alias("n_words"))
    w = Window.partitionBy("source").orderBy(
        F.col("n_words").desc(), F.col("doc_id")
    )
    return scored.withColumn(
        "pct_rank", F.round(F.percent_rank().over(w), 6)
    ).filter(F.col("pct_rank") <= 0.5)


_TOKEN_BUDGET = 25_000


@register(
    "curation_token_budget",
    oracle=rf"""
        WITH scored AS (
            SELECT doc_id,
                   round(len(list_distinct(ws)) / len(ws), 6) AS quality,
                   CAST(len(regexp_extract_all(
                       text,
                       '''(?:s|t|re|ve|m|ll|d)| ?[\p{{L}}]+| ?[\p{{N}}]+| ?[^\s\p{{L}}\p{{N}}]+|\s+',
                       0)) AS BIGINT) AS n_tokens
            FROM (SELECT doc_id, text,
                         regexp_split_to_array(lower(trim(text)), '\s+') AS ws
                  FROM documents)
        ),
        sel AS (
            SELECT doc_id, quality, n_tokens,
                   CAST(sum(n_tokens) OVER (
                       ORDER BY quality DESC, doc_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS cum_tokens
            FROM scored
        )
        SELECT doc_id, quality, n_tokens, cum_tokens,
               cum_tokens <= {_TOKEN_BUDGET} AS selected
        FROM sel
    """,
)
def curation_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained corpus selection: score every document by
    vocabulary diversity (distinct-word ratio — the cheap repetition
    penalty), cost it in BPE pre-tokens, and greedily keep the best
    documents until the inclusive running total exceeds the training
    budget. The running total is a global prefix sum computed WITHOUT
    a single-partition window: operators/curation.token_budget_select
    slabs the score range via a broadcast (min, max) stats row,
    prefix-sums the <=64-row per-slab totals, and windows only within
    slabs (the seeded_shuffle_rank regime). Oracle: the naive global
    window, which DuckDB can afford at oracle scale."""
    from gas_data_pipeline_spark.functions.exprs import bind
    from gas_data_pipeline_spark.operators.curation import token_budget_select
    from gas_data_pipeline_spark.operators.text import bpe_pretoken_count

    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    quality = bind(
        words,
        lambda ws: F.round(F.size(F.array_distinct(ws)) / F.size(ws), 6),
    )
    scored = docs.select(
        "doc_id",
        quality.alias("quality"),
        bpe_pretoken_count(F.col("text")).alias("n_tokens"),
    )
    return token_budget_select(
        scored, "doc_id", "quality", "n_tokens", budget=_TOKEN_BUDGET
    ).select("doc_id", "quality", "n_tokens", "cum_tokens", "selected")


@register(
    "sample_k_per_group",
    oracle="""
        SELECT source, doc_id, rk FROM (
            SELECT source, doc_id,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('persrc-salt:' || CAST(doc_id AS VARCHAR)) ASC,
                                doc_id ASC
                   ) AS rk
            FROM documents
        ) WHERE rk <= 12
    """,
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k sample per source domain — the
    distributed twin of per-group reservoir sampling (inspection
    samples, eval slices, per-domain spot checks). The draw is the
    md5-of-(salt, id) order, so membership is reproducible across
    runs/engines and stable under reruns of the same corpus; the
    k-smallest-draws-per-group formulation makes it EXACT (a true
    uniform k-subset per group for a random-oracle hash) where
    rand()-based reservoirs are neither portable nor rerunnable.
    Executed via operators/topk.grouped_topk, so only partitions x
    groups x k candidate rows shuffle — the corpus tail never leaves
    its scan partition; the oracle runs the naive full-shuffle
    window."""
    from gas_data_pipeline_spark.catalog import spread_scan
    from gas_data_pipeline_spark.operators.topk import grouped_topk

    docs = spread_scan(table(spark, sf_dir, "documents").select("doc_id", "source"))
    hashed = docs.withColumn(
        "__draw",
        F.md5(F.concat(F.lit("persrc-salt:"), F.col("doc_id").cast("string"))),
    )
    out = grouped_topk(
        hashed,
        ["source"],
        "__draw",
        k=12,
        descending=False,
        tiebreak="doc_id",
        rank_col="rk",
    )
    return out.select("source", "doc_id", "rk")


@register(
    "embedding_centroid_drift",
    oracle="""
        WITH snap AS (
            SELECT vec_id, label,
                   CASE WHEN vec_id % 2 = 1 AND label < 3
                        THEN list_transform(embedding::DOUBLE[], x -> x + 0.25)
                        ELSE embedding::DOUBLE[] END AS v
            FROM embeddings
        ),
        ex AS (
            SELECT vec_id, label,
                   generate_subscripts(v, 1) AS pos, unnest(v) AS x
            FROM snap
        ),
        cb AS (
            SELECT label, pos, avg(x) AS c, count(*) AS n
            FROM ex WHERE vec_id % 2 = 0 GROUP BY label, pos
        ),
        cc AS (
            SELECT label, pos, avg(x) AS c, count(*) AS n
            FROM ex WHERE vec_id % 2 = 1 GROUP BY label, pos
        )
        SELECT cb.label,
               CAST(max(cb.n) AS BIGINT) AS n_base,
               CAST(max(cc.n) AS BIGINT) AS n_cur,
               round(sum(cb.c * cc.c)
                     / (sqrt(sum(cb.c * cb.c)) * sqrt(sum(cc.c * cc.c))), 6)
                   AS centroid_cos,
               round(sqrt(sum((cb.c - cc.c) * (cb.c - cc.c))), 6)
                   AS centroid_shift
        FROM cb JOIN cc ON cb.label = cc.label AND cb.pos = cc.pos
        GROUP BY cb.label
    """,
)
def embedding_centroid_drift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-space drift per label between two embedding snapshots —
    the third leg of the drift family (values: `drift_psi_features`;
    shape: `schema_drift_audit`; embedding space: here). A re-embedded
    or silently re-normalized corpus slice moves its centroid long
    before any scalar feature notices; the planted +0.25-per-dim shift
    on odd-snapshot labels 0-2 must show as centroid_cos < 1 and a
    positive centroid_shift exactly there, with labels 3-9 the
    unshifted controls. Scale shape: posexplode folds map-side to
    per-(label, pos) partial sums — the exchange is labels x dim per
    side regardless of corpus size; everything after is labels-sized
    (operators/drift.embedding_centroid_drift)."""
    from gas_data_pipeline_spark.catalog import spread_scan
    from gas_data_pipeline_spark.operators.drift import embedding_centroid_drift

    emb = spread_scan(table(spark, sf_dir, "embeddings"))
    v = F.col("embedding").cast("array<double>")
    snap = emb.select(
        "vec_id",
        "label",
        F.when(
            (F.col("vec_id") % 2 == 1) & (F.col("label") < 3),
            F.transform(v, lambda x: x + 0.25),
        )
        .otherwise(v)
        .alias("embedding"),
    )
    base = snap.filter(F.col("vec_id") % 2 == 0)
    cur = snap.filter(F.col("vec_id") % 2 == 1)
    return embedding_centroid_drift(base, cur, "embedding", "label")


def _bpe_round_ctes(r: int) -> str:
    """One unrolled BPE round for the oracle: pair counts with a
    deterministic argmax, then the greedy-left merge via the
    gaps-and-islands closed form (runs of consecutive matches keep
    their even offsets) — sequential-fold-free SQL identical in
    semantics to the engine's per-row HOF fold."""
    p = r - 1
    return f"""
        lead{r} AS (
            SELECT word, freq, pos, sym,
                   lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
            FROM syms{p}
        ),
        pairs{r} AS (
            SELECT sym AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS cnt
            FROM lead{r} WHERE nxt IS NOT NULL GROUP BY sym, nxt
        ),
        best{r} AS (
            SELECT l, r, cnt FROM pairs{r} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
        ),
        m{r} AS (
            SELECT s.word, s.freq, s.pos, s.sym, s.nxt,
                   CASE WHEN s.sym = b.l AND s.nxt = b.r THEN 1 ELSE 0 END AS mt
            FROM lead{r} s CROSS JOIN best{r} b
        ),
        mm{r} AS (
            SELECT word, pos,
                   pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
            FROM m{r} WHERE mt = 1
        ),
        sel{r} AS (
            SELECT word, pos FROM (
                SELECT word, pos, min(pos) OVER (PARTITION BY word, grp) AS g0
                FROM mm{r}
            ) WHERE (pos - g0) % 2 = 0
        ),
        syms{r} AS (
            SELECT word, freq,
                   row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
                   CASE WHEN sel_pos IS NOT NULL THEN sym || nxt ELSE sym END AS sym
            FROM (
                SELECT m.word, m.freq, m.pos, m.sym, m.nxt, s.pos AS sel_pos
                FROM m{r} m LEFT JOIN sel{r} s ON m.word = s.word AND m.pos = s.pos
                WHERE NOT EXISTS (
                    SELECT 1 FROM sel{r} s2
                    WHERE s2.word = m.word AND s2.pos = m.pos - 1
                )
            )
        )"""


_BPE_ORACLE = (
    f"""
        WITH w0 AS (
            SELECT unnest({_WORDS_SQL}) AS word FROM documents
        ),
        words0 AS (
            SELECT word, CAST(count(*) AS BIGINT) AS freq
            FROM w0 WHERE len(word) BETWEEN 2 AND 12 GROUP BY word
        ),
        syms0 AS (
            SELECT word, freq, pos, substring(word, pos, 1) AS sym
            FROM words0, unnest(range(1, len(word) + 1)) AS t(pos)
        ),{",".join(_bpe_round_ctes(r) for r in range(1, 4))}
        """
    + "\n UNION ALL ".join(
        f"""SELECT {r} AS round, l AS "left", r AS "right", l || r AS merged,
               cnt AS pair_count FROM best{r}"""
        for r in range(1, 4)
    )
)


# Compute-once seam for the BPE family (same discipline as the dedup
# cluster family's _planted_components): bpe_train_merge_rules and
# bpe_vocab_after_merges both train the SAME 3 rounds on the SAME
# distinct-word frequency table — the expensive part of each (one
# pair-count shuffle + driver argmax + HOF rewrite per round). Cache
# the checkpointed word table and the 3 learned rules (a bounded
# 3-row summary) per (application, sf_dir); oracles unchanged. A
# production deployment persists the trained merge table instead.
_BPE_RULES_SCHEMA = (
    "round int, left string, right string, merged string, pair_count long"
)
_BPE_CACHE: dict[tuple[str, str], tuple[DataFrame, list]] = model_cache()


def _corpus_bpe_training(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list]:
    from gas_data_pipeline_spark.catalog import spread_scan
    from gas_data_pipeline_spark.operators.bpe import bpe_train_merges
    from gas_data_pipeline_spark.operators.text import is_word, tokenize

    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _BPE_CACHE.get(key)
    if hit is None:
        docs = spread_scan(table(spark, sf_dir, "documents").select("text"))
        words = (
            docs.select(
                F.explode(F.filter(tokenize(F.col("text")), is_word)).alias("word")
            )
            .filter(F.length("word").between(2, 12))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
            .localCheckpoint(eager=True)  # shared by training and encoding
        )
        rules = bpe_train_merges(words, rounds=3).collect()
        hit = (words, rules)
        _BPE_CACHE[key] = hit
    return hit


@register("bpe_train_merge_rules", oracle=_BPE_ORACLE)
def bpe_train_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer induction end to end: three rounds of distributed
    BPE merge training on the corpus's distinct-word frequency table
    (Sennrich et al. 2016) — the iterative big sibling of
    `bpe_pair_counts` (which is one round's count step). Training on
    the WORD TABLE is what survives 100 TB: pair statistics are
    identical (merges never cross word boundaries) but the state is
    vocab-sized, so each round costs one map-side-combinable pair-count
    shuffle plus a zero-shuffle per-row HOF rewrite, with
    localCheckpoint truncating the loop lineage exactly like
    `graph_pagerank`. The oracle unrolls all three rounds in SQL,
    replaying the greedy-left merge through its gaps-and-islands
    closed form (operators/bpe.py). Training runs once per session via
    the shared ``_corpus_bpe_training`` seam."""
    _, rules = _corpus_bpe_training(spark, sf_dir)
    return spark.createDataFrame(rules, _BPE_RULES_SCHEMA)


@register(
    "bpe_vocab_after_merges",
    oracle=f"""
        WITH w0 AS (
            SELECT unnest({_WORDS_SQL}) AS word FROM documents
        ),
        words0 AS (
            SELECT word, CAST(count(*) AS BIGINT) AS freq
            FROM w0 WHERE len(word) BETWEEN 2 AND 12 GROUP BY word
        ),
        syms0 AS (
            SELECT word, freq, pos, substring(word, pos, 1) AS sym
            FROM words0, unnest(range(1, len(word) + 1)) AS t(pos)
        ),{",".join(_bpe_round_ctes(r) for r in range(1, 4))}
        SELECT sym AS symbol,
               CAST(sum(freq) AS BIGINT) AS occurrences,
               CAST(count(DISTINCT word) AS BIGINT) AS n_words
        FROM syms3
        GROUP BY sym
        ORDER BY occurrences DESC, symbol ASC
        LIMIT 50
    """,
)
def bpe_vocab_after_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer vocabulary AFTER applying the three learned BPE
    merges — the encode-side complement of `bpe_train_merge_rules`
    (that query learns the rules; this one shows the symbol inventory
    the encoder would emit, weighted by word frequency). Merged
    symbols must appear with exactly the mass the merge rules
    captured; the top-50 cut is a bounded TakeOrdered. Spark side
    applies the learned rules to the word table and aggregates the
    final symbol state — one encode pass plus a vocab-sized aggregate
    (training itself comes from the shared ``_corpus_bpe_training``
    seam, once per session); the oracle extends the identical
    unrolled SQL with a final GROUP BY over syms3."""
    from gas_data_pipeline_spark.operators.bpe import _char_split, _merge_pair

    words, rules = _corpus_bpe_training(spark, sf_dir)
    state = words.select("word", "freq", _char_split(F.col("word")).alias("syms"))
    for r in rules:
        # Checkpoint per round (same as the training loop): chaining
        # the three merge folds into ONE nested expression tree makes
        # Catalyst evaluate a fold-of-fold-of-fold per row — measured
        # ~5 s at sf0.1 vs ~1 s for three materialized single folds.
        state = state.select(
            "word", "freq", _merge_pair(F.col("syms"), r["left"], r["right"]).alias("syms")
        ).localCheckpoint(eager=True)
    return (
        state.select("word", "freq", F.explode("syms").alias("symbol"))
        .groupBy("symbol")
        .agg(
            F.sum("freq").alias("occurrences"),
            F.countDistinct("word").alias("n_words"),
        )
        .orderBy(F.desc("occurrences"), F.asc("symbol"))
        .limit(50)
    )


@register(
    "corpus_stats_card",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, len({_WORDS_SQL}) AS n_tokens FROM documents
        ),
        src AS (
            SELECT source, count(*) AS c FROM documents GROUP BY source
        ),
        tot AS (SELECT sum(c) AS n FROM src)
        SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
               CAST((SELECT sum(n_tokens) FROM toks) AS BIGINT) AS total_tokens,
               CAST((SELECT count(DISTINCT source) FROM documents) AS BIGINT)
                   AS n_sources,
               CAST((SELECT count(DISTINCT lang) FROM documents) AS BIGINT)
                   AS n_langs,
               round((SELECT avg(n_tokens) FROM toks), 6) AS mean_tokens,
               round((SELECT -sum((c / tot.n) * ln(c / tot.n))
                      FROM src CROSS JOIN tot), 6) AS source_entropy
    """,
)
def corpus_stats_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card header row: corpus size, token mass, source /
    language inventory, and the source-mix Shannon entropy (the
    number every data-mixture report leads with — low entropy means
    one domain dominates). One narrow scan with map-side-combinable
    aggregates plus a sources-sized entropy fold; everything reduces
    to a single row, so at 100 TB this costs exactly one pass over
    the token counter."""
    from gas_data_pipeline_spark.catalog import spread_scan
    from gas_data_pipeline_spark.operators.text import is_word, tokenize

    docs = spread_scan(
        table(spark, sf_dir, "documents").select("doc_id", "text", "source", "lang")
    )
    per_doc = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.filter(tokenize(F.col("text")), is_word)).alias("n_tokens"),
    )
    base = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.avg("n_tokens"), 6).alias("mean_tokens"),
    )
    src = per_doc.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    ent = (
        src.crossJoin(F.broadcast(src.agg(F.sum("c").alias("n"))))
        .agg(
            F.round(
                -F.sum((F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))),
                6,
            ).alias("source_entropy")
        )
    )
    return base.crossJoin(F.broadcast(ent))


@register(
    "bpe_encode_corpus",
    oracle=f"""
        WITH w0 AS (
            SELECT unnest({_WORDS_SQL}) AS word FROM documents
        ),
        words0 AS (
            SELECT word, CAST(count(*) AS BIGINT) AS freq
            FROM w0 WHERE len(word) BETWEEN 2 AND 12 GROUP BY word
        ),
        syms0 AS (
            SELECT word, freq, pos, substring(word, pos, 1) AS sym
            FROM words0, unnest(range(1, len(word) + 1)) AS t(pos)
        ),{",".join(_bpe_round_ctes(r) for r in range(1, 4))},
        enc AS (
            SELECT word, CAST(count(*) AS BIGINT) AS n_syms
            FROM syms3 GROUP BY word
        ),
        docw AS (
            SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents
        ),
        per AS (
            SELECT d.doc_id,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(len(d.word)) AS BIGINT) AS n_chars,
                   CAST(sum(coalesce(e.n_syms, len(d.word))) AS BIGINT)
                       AS n_symbols
            FROM docw d LEFT JOIN enc e USING (word)
            GROUP BY d.doc_id
        )
        SELECT doc_id, n_words, n_chars, n_symbols,
               round(n_chars / n_symbols, 6) AS compression
        FROM per
    """,
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained tokenizer to the WHOLE corpus — the
    train->encode lifecycle's second half (`bpe_train_merge_rules`
    learns the rules; this query reports what shipping them costs:
    per-document symbol counts and the chars-per-symbol compression
    ratio every tokenizer eval leads with). The scale design is the
    point: the merge rules are applied ONCE PER DISTINCT WORD on the
    vocab-sized word table (merges never cross word boundaries), and
    documents pick up their words' symbol counts through a
    vocab-sized broadcast join — the corpus itself is never folded
    row-by-row. Words outside the trained [2,12]-char band fall back
    to character-level encoding (coalesce to len(word)), so every
    token is accounted for. Training + the checkpointed word table
    come from the shared ``_corpus_bpe_training`` seam (once per
    session); the oracle extends the identical unrolled-rounds SQL
    with the encode join."""
    from gas_data_pipeline_spark.operators.bpe import _char_split, _merge_pair
    from gas_data_pipeline_spark.operators.text import is_word, tokenize

    words, rules = _corpus_bpe_training(spark, sf_dir)
    state = words.select("word", _char_split(F.col("word")).alias("syms"))
    for r in rules:
        # Checkpoint per round (see bpe_vocab_after_merges): three
        # chained folds in one expression tree evaluate as a
        # fold-of-fold-of-fold per row.
        state = state.select(
            "word", _merge_pair(F.col("syms"), r["left"], r["right"]).alias("syms")
        ).localCheckpoint(eager=True)
    enc = state.select("word", F.size("syms").cast("bigint").alias("n_syms"))
    docs = table(spark, sf_dir, "documents")
    docw = docs.select(
        "doc_id",
        F.explode(F.filter(tokenize(F.col("text")), is_word)).alias("word"),
    )
    per = (
        docw.join(F.broadcast(enc), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum(
                F.coalesce(F.col("n_syms"), F.length("word").cast("bigint"))
            ).alias("n_symbols"),
        )
    )
    return per.select(
        "doc_id",
        "n_words",
        "n_chars",
        "n_symbols",
        F.round(F.col("n_chars") / F.col("n_symbols"), 6).alias("compression"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer training (X8 continued, round 7)
# ---------------------------------------------------------------------------

# Compute-once seam (same discipline as _corpus_bpe_training): both
# unigram queries train the same 2 EM rounds on the shared BPE word
# table; cache the final vocabulary and segmentation per
# (application, sf_dir). A production deployment persists the model.
_UNIGRAM_CACHE: dict[tuple[str, str], tuple[list, DataFrame]] = model_cache()


def _corpus_unigram_training(
    spark: SparkSession, sf_dir: str
) -> tuple[list, DataFrame]:
    from gas_data_pipeline_spark.operators.unigram_lm import unigram_train

    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _UNIGRAM_CACHE.get(key)
    if hit is None:
        words, _ = _corpus_bpe_training(spark, sf_dir)
        hit = unigram_train(words, em_rounds=2, max_piece=4, n_multi=96)
        _UNIGRAM_CACHE[key] = hit
    return hit


def _unigram_round_ctes(r: int) -> str:
    """One unrolled Viterbi-EM round for the oracle: the E-step DP as
    a recursive CTE over character positions (costs/backpointer lists
    grow one position per iteration; LEFT JOIN LATERAL keeps
    unreachable positions as NULLs exactly like the engine's fold),
    the backtrace as a second recursion walking the backpointers, and
    the M-step as a piece-count aggregate + fixed-point ln requantize."""
    p = r - 1
    return f"""
        vit{r}(word, freq, i, costs, bps) AS (
            SELECT word, freq, 0, [CAST(0 AS BIGINT)], CAST([] AS INT[])
            FROM words0
            UNION ALL
            SELECT v.word, v.freq, v.i + 1,
                   list_append(v.costs, best.cost),
                   list_append(v.bps, best.j)
            FROM vit{r} v LEFT JOIN LATERAL (
                SELECT v.costs[v.i - j + 2] + m.lp_fp AS cost,
                       CAST(j AS INT) AS j
                FROM unnest([1, 2, 3, 4]) u(j)
                JOIN umodel{p} m
                  ON j <= v.i + 1
                 AND m.piece = substring(v.word, v.i - j + 2, j)
                 AND v.costs[v.i - j + 2] IS NOT NULL
                ORDER BY cost DESC, j DESC
                LIMIT 1
            ) best ON TRUE
            WHERE v.i < len(v.word)
        ),
        fin{r} AS (
            SELECT word, freq, costs[len(word) + 1] AS lp_fp, bps
            FROM vit{r} WHERE i = len(word)
        ),
        bt{r}(word, freq, bps, pos, pieces) AS (
            SELECT word, freq, bps, len(word), CAST([] AS VARCHAR[])
            FROM fin{r}
            UNION ALL
            SELECT word, freq, bps, pos - bps[pos],
                   list_prepend(
                       substring(word, pos - bps[pos] + 1, bps[pos]), pieces)
            FROM bt{r} WHERE pos > 0
        ),
        useg{r} AS (SELECT word, freq, pieces FROM bt{r} WHERE pos = 0),
        ucounts{r} AS (
            SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
            FROM (SELECT freq, unnest(pieces) AS piece FROM useg{r})
            GROUP BY piece
        ),
        umodel{r} AS (
            SELECT piece,
                   CAST(round(ln(cnt / t.total) * 1e9) AS BIGINT) AS lp_fp
            FROM ucounts{r}, (SELECT sum(cnt) AS total FROM ucounts{r}) t
        )"""


_UNIGRAM_PREFIX = f"""
    WITH RECURSIVE w0 AS (
        SELECT unnest({_WORDS_SQL}) AS word FROM documents
    ),
    words0 AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM w0 WHERE len(word) BETWEEN 2 AND 12 GROUP BY word
    ),
    seedpieces AS (
        SELECT substring(word, pos, l) AS piece, sum(freq) AS cnt
        FROM words0,
             unnest(range(1, len(word) + 1)) t(pos),
             unnest(range(1, 5)) u(l)
        WHERE pos + l - 1 <= len(word)
        GROUP BY 1
    ),
    uvocab0 AS (
        SELECT piece, cnt FROM seedpieces WHERE len(piece) = 1
        UNION ALL
        SELECT piece, cnt FROM (
            SELECT piece, cnt FROM seedpieces WHERE len(piece) >= 2
            ORDER BY cnt DESC, piece ASC LIMIT 96)
    ),
    umodel0 AS (
        SELECT piece, CAST(round(ln(cnt / t.total) * 1e9) AS BIGINT) AS lp_fp
        FROM uvocab0, (SELECT sum(cnt) AS total FROM uvocab0) t
    ),{_unigram_round_ctes(1)},{_unigram_round_ctes(2)}
"""


@register(
    "unigram_lm_train_vocab",
    oracle=_UNIGRAM_PREFIX
    + """
        SELECT piece, CAST(len(piece) AS BIGINT) AS piece_len, cnt,
               round(cnt / t.total, 6) AS prob
        FROM ucounts2, (SELECT sum(cnt) AS total FROM ucounts2) t
    """,
)
def unigram_lm_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer induction, the EM way: a SentencePiece-style unigram
    LM (Kudo 2018) trained with 2 Viterbi-EM rounds over the same
    distinct-word frequency table the BPE trainer uses — seed with
    every <=4-char substring (all chars + top-96 multis), segment
    every word by a per-row HOF dynamic program under the broadcast
    model, re-estimate piece probabilities from the chosen
    segmentations, repeat. Returns the final vocabulary with expected
    counts and probabilities. Per round: one ZERO-SHUFFLE scan for the
    E-step (the model is a map literal) and one map-side-combinable
    piece-count aggregate for the M-step — vocab-sized everything, the
    100 TB-safe shape (`operators/unigram_lm.py`). The oracle replays
    both EM rounds exactly: the Viterbi DP as a recursive CTE with
    fixed-point integer costs, so argmax ties and unreachable
    positions agree bit-for-bit."""
    vocab, _ = _corpus_unigram_training(spark, sf_dir)
    total = sum(c for _, c in vocab)
    return spark.createDataFrame(
        [(p, len(p), c, round(c / total, 6)) for p, c in vocab],
        "piece string, piece_len bigint, cnt bigint, prob double",
    )


@register(
    "unigram_lm_segment_words",
    oracle=_UNIGRAM_PREFIX
    + """
        SELECT s.word, s.freq,
               array_to_string(s.pieces, ' ') AS segmentation,
               CAST(len(s.pieces) AS BIGINT) AS n_pieces,
               round(f.lp_fp / 1e9, 6) AS logprob
        FROM useg2 s JOIN fin2 f USING (word)
        ORDER BY s.freq DESC, s.word LIMIT 20
    """,
)
def unigram_lm_segment_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained unigram model applied: Viterbi segmentations and
    total log-probs of the corpus's top-20 words — the encode-side
    complement of `unigram_lm_train_vocab` exactly as
    `bpe_encode_corpus` complements `bpe_train_merge_rules`. Shares
    the session-cached training via `_corpus_unigram_training`; the
    top-20 pull is a bounded TakeOrdered summary."""
    _, seg = _corpus_unigram_training(spark, sf_dir)
    return (
        seg.orderBy(F.desc("freq"), "word")
        .limit(20)
        .select(
            "word",
            "freq",
            F.array_join("pieces", " ").alias("segmentation"),
            "n_pieces",
            F.round(F.col("lp_fp") / 1e9, 6).alias("logprob"),
        )
    )


# Source-scoped gram twin of _GRAMS5_SQL (same split + distinct).
_SRC_GRAMS5_SQL = """
        SELECT source, unnest(list_distinct([
                   words[x] || ' ' || words[x+1] || ' ' || words[x+2]
                           || ' ' || words[x+3] || ' ' || words[x+4]
                   FOR x IN range(1, greatest(len(words) - 3, 1))
               ])) AS gram
        FROM (SELECT source, regexp_split_to_array(lower(trim(text)), '\\s+') AS words
              FROM documents)
"""


@register(
    "contamination_source_matrix",
    oracle=f"""
        WITH grams AS ({_SRC_GRAMS5_SQL}),
        sg AS (SELECT DISTINCT source, gram FROM grams),
        sizes AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
        pairs AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   count(*) AS n_common
            FROM sg a JOIN sg b
              ON a.gram = b.gram AND a.source <> b.source
            GROUP BY 1, 2
        )
        SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_common,
               round(n_common / sa.n, 6) AS containment,
               round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.source = source_a
        JOIN sizes sb ON sb.source = source_b
    """,
)
def contamination_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-DATASET contamination matrix: word-5-gram containment and
    Jaccard between every pair of sources — the corpus-granularity
    leakage audit that decides whether two feeds are near-copies
    before any doc-level dedup runs (the dataset-card "overlap with"
    row; `curation_contamination` is the doc-vs-benchmark sibling).

    Shuffle discipline: ONE corpus-sized exchange (gram-keyed
    ``collect_set(source)`` with map-side partials); each gram's
    <=|sources|-sized set then emits its ordered pairs AND its size
    singletons in the SAME pass (never a gram self-join, which would
    scan and shuffle the corpus twice — and a naive
    pairs-plus-separate-sizes formulation re-runs the gram aggregate
    three times, which is what this shape exists to avoid), aggregating
    straight to a sources^2-sized summary. That summary is
    checkpointed, so deriving the matrix never re-touches the
    corpus."""
    from gas_data_pipeline_spark.operators.dedup import word_shingles

    docs = spread_scan(table(spark, sf_dir, "documents").select("source", "text"))
    grams = docs.select(
        "source", F.explode(word_shingles(F.col("text"), 5)).alias("gram")
    )
    per_gram = grams.groupBy("gram").agg(F.collect_set("source").alias("srcs"))
    # per gram: singleton (a, NULL) per member + every ordered pair —
    # sizes and intersections come out of one corpus pass.
    cells = per_gram.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("srcs"),
                    lambda a: F.concat(
                        F.array(
                            F.struct(
                                a.alias("a"),
                                F.lit(None).cast("string").alias("b"),
                            )
                        ),
                        F.transform(
                            F.filter(F.col("srcs"), lambda b: b != a),
                            lambda b: F.struct(a.alias("a"), b.alias("b")),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    stats = (
        cells.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)  # sources^2 rows — a summary
    )
    sizes = stats.filter(F.col("b").isNull()).select("a", F.col("cnt").alias("n"))
    pairs = stats.filter(F.col("b").isNotNull()).select(
        F.col("a").alias("source_a"),
        F.col("b").alias("source_b"),
        F.col("cnt").alias("n_common"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("a").alias("source_a"), F.col("n").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("a").alias("source_b"), F.col("n").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(F.col("n_common") / n_a, 6).alias("containment"),
            F.round(F.col("n_common") / (n_a + n_b - F.col("n_common")), 6).alias(
                "jaccard"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-size training shards (webdataset/TFRecord packing)
# ---------------------------------------------------------------------------

_SHARD_SIZE = 64


@register(
    "training_shard_manifest",
    oracle=f"""
        WITH k AS (
            SELECT doc_id,
                   md5('shard-v1:' || CAST(doc_id AS VARCHAR)) AS skey,
                   len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                       AS n_tokens
            FROM documents
        ),
        r AS (
            SELECT doc_id, n_tokens,
                   row_number() OVER (ORDER BY skey, doc_id) AS rnk
            FROM k
        )
        SELECT CAST(floor((rnk - 1) / {_SHARD_SIZE}.0) AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               min(rnk) AS first_rank,
               max(rnk) AS last_rank,
               CAST(sum(doc_id) AS BIGINT) AS id_sum,
               CAST(bit_xor(doc_id) AS BIGINT) AS id_xor
        FROM r GROUP BY 1
    """,
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-packing manifest: assign every curated document to a
    fixed-size training shard in seeded shuffle order and emit the
    shard catalog a data loader consumes — doc/token counts, the
    global-rank boundaries proving shards are contiguous and
    gap-free, and two id checksums that pin the exact membership of
    every shard (sum + xor: any swapped, dropped, or duplicated doc
    moves at least one of them). The packing step between curation
    and the training loop in webdataset/TFRecord pipelines.

    Scale shape: the global permutation comes from the two-level
    md5-prefix rank (256 contiguous key ranges, 256-row broadcast
    offsets, per-range window sorts — never a single-partition global
    sort), the payload rides the rank pipeline so there is NO
    corpus-sized self-join, and the manifest aggregate exchanges
    shard-sized rows (`operators/curation.py:shard_pack`)."""
    from gas_data_pipeline_spark.operators.curation import shard_pack

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "n_tokens"
        ),
    )
    packed = shard_pack(
        docs, "doc_id", ("n_tokens",), shard_size=_SHARD_SIZE
    )
    return packed.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("shuffle_rank").alias("first_rank"),
        F.max("shuffle_rank").alias("last_rank"),
        F.sum("doc_id").alias("id_sum"),
        F.bit_xor("doc_id").alias("id_xor"),
    )


@register(
    "training_shard_incremental",
    oracle=f"""
        WITH base AS (
            SELECT doc_id FROM documents WHERE doc_id % 10 != 0
        ),
        delta AS (
            SELECT doc_id FROM documents WHERE doc_id % 10 = 0
        ),
        rb AS (
            SELECT doc_id,
                   row_number() OVER (
                       ORDER BY md5('shard-v1:' || CAST(doc_id AS VARCHAR)),
                                doc_id
                   ) AS rnk
            FROM base
        ),
        nb AS (SELECT count(*) AS n FROM base),
        rd AS (
            SELECT doc_id,
                   (SELECT n FROM nb) + row_number() OVER (
                       ORDER BY md5('shard-v1:' || CAST(doc_id AS VARCHAR)),
                                doc_id
                   ) AS rnk
            FROM delta
        ),
        u AS (
            SELECT doc_id, rnk, 0 AS is_delta FROM rb
            UNION ALL
            SELECT doc_id, rnk, 1 AS is_delta FROM rd
        )
        SELECT CAST(floor((rnk - 1) / {_SHARD_SIZE}.0) AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(sum(1 - is_delta) AS BIGINT) AS n_base_docs,
               CAST(sum(is_delta) AS BIGINT) AS n_delta_docs,
               min(rnk) AS first_rank,
               max(rnk) AS last_rank,
               CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM u GROUP BY 1
    """,
)
def training_shard_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only shard maintenance: yesterday's corpus (doc_id % 10
    != 0) is already packed into shards a training run may have
    consumed; today's delta (doc_id % 10 = 0) must join the shard
    sequence WITHOUT moving a single historical document. Delta docs
    rank among themselves in seeded shuffle order, take global ranks
    after the base, top up the partial frontier shard, and open
    fresh shards; the manifest's base/delta split proves every
    pre-existing shard kept its exact membership while only the
    frontier shard gained rows.

    Scale shape: incremental cost is O(|delta|) — only the delta is
    ranked (two-level md5-prefix rank, 256-row broadcast offsets)
    and the entire base corpus enters as ONE integer (its count);
    at 100 TB of history, a 100 GB daily increment repacks in
    increment time (`operators/curation.py:shard_append`)."""
    from gas_data_pipeline_spark.operators.curation import (
        shard_append,
        shard_pack,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    n_base = base.count()
    packed_base = shard_pack(base, "doc_id", shard_size=_SHARD_SIZE)
    packed_delta = shard_append(
        delta, n_base, "doc_id", shard_size=_SHARD_SIZE
    )
    u = packed_base.select(
        "doc_id", "shuffle_rank", "shard_id", F.lit(0).alias("is_delta")
    ).unionByName(
        packed_delta.select(
            "doc_id", "shuffle_rank", "shard_id", F.lit(1).alias("is_delta")
        )
    )
    return u.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(1 - F.col("is_delta")).alias("n_base_docs"),
        F.sum("is_delta").alias("n_delta_docs"),
        F.min("shuffle_rank").alias("first_rank"),
        F.max("shuffle_rank").alias("last_rank"),
        F.sum("doc_id").alias("id_sum"),
    )
