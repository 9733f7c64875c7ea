"""Z-order layout (operators/layout.py): the clustering property that
makes multi-dimensional scan pruning work, asserted on real data."""

from __future__ import annotations

from pyspark.sql import functions as F

from gas_data_pipeline_spark.catalog import table
from gas_data_pipeline_spark.operators.layout import zorder_by, zvalue
from tests.conftest import SF_DIR
from tests.conftest import SF_SMALL as SF_DIR_SMALL


def test_zvalue_interleaves_bits(spark):
    df = spark.createDataFrame([(0b1010, 0b0110)], ["a", "b"])
    got = df.select(zvalue(F.col("a"), F.col("b"), bits=4).alias("z")).head()[0]
    # a bits -> even positions, b bits -> odd: (a=1010, b=0110) -> 01101100
    assert got == 0b01101100


def test_zorder_bounds_both_dimensions(spark):
    """Within each z-bucket, BOTH key spans must be a fraction of the
    domain (a 1-D sort bounds one dim and leaves the other at ~100%)."""
    ev = (
        table(spark, SF_DIR, "events")
        .select("user_id", F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("d"))
        .filter(F.col("d") >= 0)
    )
    lo_u, hi_u, lo_d, hi_d = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("d"), F.max("d")
    ).head()
    su = F.floor((F.col("user_id") - lo_u) * 16.0 / (hi_u - lo_u + 1)).cast("long")
    sd = F.floor((F.col("d") - lo_d) * 16.0 / (hi_d - lo_d + 1)).cast("long")
    buckets = (
        ev.groupBy(F.shiftright(zvalue(su, sd, bits=4), 4).alias("bucket"))
        .agg(
            (F.max("user_id") - F.min("user_id")).alias("span_u"),
            (F.max("d") - F.min("d")).alias("span_d"),
        )
        .toPandas()
    )
    # Top-4 z-bits = a 4x4 tile grid: each bucket covers ~1/4 of each
    # dimension's range (allow slack for uneven value distribution).
    assert (buckets["span_u"] <= (hi_u - lo_u) * 0.35).all()
    assert (buckets["span_d"] <= (hi_d - lo_d) * 0.35).all()


def test_zorder_by_plans_range_partition_and_local_sort(spark):
    ev = table(spark, SF_DIR, "events").select("user_id", "event_id")
    out = zorder_by(ev, "user_id", "event_id", num_partitions=4, bits=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    # Local (non-global) sort on the z-value, no extra exchange after it.
    assert plan.lower().count("exchange") == 1
    assert out.count() == ev.count()


def test_jaccard_kernels_agree(spark):
    """All three exact-Jaccard kernels (inverted index, prefix-filter,
    bitset-GEMM) are the same operator at different corpus shapes —
    they must produce identical pairs and values."""
    from gas_data_pipeline_spark.operators.dedup import (
        char_shingles,
        jaccard_pairs_bitset_gemm,
        jaccard_pairs_inverted_index,
        jaccard_pairs_prefix_filter,
    )

    docs = table(spark, SF_DIR_SMALL, "documents")
    sh = char_shingles(F.col("text"), n=4)

    def rows(df):
        return sorted(
            (r.id_a, r.id_b, round(r.jaccard, 9)) for r in df.collect()
        )

    base = rows(jaccard_pairs_inverted_index(docs, "doc_id", sh, 0.5))
    assert len(base) > 0
    assert rows(jaccard_pairs_prefix_filter(docs, "doc_id", sh, 0.5)) == base
    assert rows(jaccard_pairs_bitset_gemm(docs, "doc_id", sh, 0.5)) == base


def test_prefix_filter_length_bound_keeps_boundary_pair(spark):
    """r14 optimization: the PPJoin length filter added to
    jaccard_pairs_prefix_filter must be LOSSLESS at the boundary. A
    pair with min/max == J == t exactly (x ⊂ y, |x| = t·|y|) sits on
    both compares at once — if the length filter's double arithmetic
    were any stricter than the verify stage's, this pair would vanish.
    Also pins the small-corpus verify regime end-to-end (this corpus
    takes the broadcast-hinted path)."""
    from gas_data_pipeline_spark.operators.dedup import (
        jaccard_pairs_prefix_filter,
    )

    words = [f"w{i}" for i in range(8)]
    docs = spark.createDataFrame(
        [
            # J(1,2) = 4/8 = 0.5 exactly, with |x|=4, |y|=8: min/max = t.
            (1, " ".join(words[:4])),
            (2, " ".join(words)),
            # A sub-threshold pair the length filter should help drop:
            # shares one shingle with doc 2, J = 1/9 < 0.5.
            (3, words[0] + " z1"),
        ],
        ["doc_id", "text"],
    )
    sh = F.array_distinct(F.split(F.col("text"), " "))
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_pairs_prefix_filter(docs, "doc_id", sh, 0.5).collect()
    )
    assert got == [(1, 2, 0.5)]


def test_approx_percentiles_close_to_exact(spark):
    """t-digest sketch at accuracy=10000 must land within 1% relative
    error of the exact per-series percentiles."""
    from gas_data_pipeline_spark.registry import all_queries

    approx = (
        all_queries()["approx_percentiles_tdigest"](spark, SF_DIR)
        .toPandas()
        .set_index("event_type")
    )
    exact = (
        all_queries()["percentiles_by_series"](spark, SF_DIR)
        .toPandas()
        .set_index("event_type")
    )
    for et in exact.index:
        for col in ("p50", "p95", "p99"):
            e, a = exact.loc[et, col], approx.loc[et, col]
            assert abs(a - e) <= max(0.5, 0.01 * abs(e)), (et, col, e, a)


def test_ewma_matches_manual_recurrence(spark):
    """applyInPandas EWMA must equal the recurrence computed by a plain
    Python loop (independent of pandas.ewm)."""
    from gas_data_pipeline_spark.registry import all_queries

    out = (
        all_queries()["ewma_by_series"](spark, SF_DIR_SMALL)
        .toPandas()
        .sort_values(["event_type", "event_id"])
    )
    ev = (
        table(spark, SF_DIR_SMALL, "events")
        .select("event_type", "event_id", "ts", "value")
        .toPandas()
        .sort_values(["event_type", "ts", "event_id"])
    )
    alpha = 0.2
    for et, grp in ev.groupby("event_type"):
        y = None
        expect = {}
        for _, row in grp.iterrows():
            y = row["value"] if y is None else alpha * row["value"] + (1 - alpha) * y
            expect[row["event_id"]] = y
        got = out[out["event_type"] == et].set_index("event_id")["ewma"]
        for eid, val in expect.items():
            assert abs(got[eid] - round(val, 6)) < 1e-4, (et, eid)


def test_stratified_sample_rates(spark):
    """Realized per-class sampling rates stay within binomial bounds of
    the requested fractions, and excluded classes never leak."""
    from gas_data_pipeline_spark.registry import all_queries
    from gas_data_pipeline_spark.suite.analytics_suite import _SAMPLE_FRACTIONS

    out = all_queries()["stratified_sample_events"](spark, SF_DIR).toPandas()
    totals = (
        table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .count()
        .toPandas()
        .set_index("event_type")["count"]
    )
    got = out.groupby("event_type").size()
    for cls, frac in _SAMPLE_FRACTIONS.items():
        n = totals[cls]
        observed = got.get(cls, 0)
        # 5-sigma binomial window around n*frac.
        sigma = (n * frac * (1 - frac)) ** 0.5
        assert abs(observed - n * frac) <= max(5 * sigma, 5), (cls, observed, n * frac)
    assert set(got.index) <= set(_SAMPLE_FRACTIONS)


def test_word_shingles_short_documents_yield_empty_sets(spark):
    """Docs shorter than the shingle width must produce empty shingle
    sets — not an ANSI INVALID_INDEX_OF_ZERO from sequence(1, k<1)
    descending into element_at(words, 0). Real corpora have short docs."""
    import pyspark.sql.functions as F

    from gas_data_pipeline_spark.operators.dedup import word_shingles

    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "just two"), (4, "now three words"),
         (5, "a longer document with plenty of words inside")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r.sh
        for r in df.select("doc_id", word_shingles(F.col("text"), n=3).alias("sh")).collect()
    }
    assert rows[1] == [] and rows[2] == [] and rows[3] == []
    assert rows[4] == ["now three words"]
    assert len(rows[5]) == 6


def test_heavy_hitters_exact_matches_full_groupby(spark):
    """Result must equal the full GROUP BY ... HAVING under both
    layouts: round-robin (hot key diluted evenly across partitions —
    the averaging-argument case) and key-clustered (cold keys locally
    heavy in their own partition — false candidates the exact confirm
    must prune)."""
    from pyspark.sql import functions as F
    from gas_data_pipeline_spark.operators.sketches import heavy_hitters_exact

    base = spark.range(2000).select(
        F.when(F.col("id") % 10 == 0, F.lit("hot"))
        .when(F.col("id") % 10 == 1, F.concat(F.lit("warm_"), (F.col("id") % 40).cast("string")))
        .otherwise(F.concat(F.lit("cold_"), F.col("id").cast("string")))
        .alias("key")
    )
    n = base.count()
    theta = 0.08
    exact = {
        (r.key, r.cnt)
        for r in base.groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= theta * n)
        .collect()
    }
    assert exact  # the hot key is genuinely heavy
    for layout in (base.repartition(8), base.repartition(8, "key")):
        got = {
            (r.key, r.cnt)
            for r in heavy_hitters_exact(layout, "key", theta).collect()
        }
        assert got == exact


def test_heavy_hitters_threshold_boundary_inclusive(spark):
    """A key at EXACTLY threshold * N must be returned (>= bar, same
    comparison the SQL HAVING makes)."""
    from pyspark.sql import functions as F
    from gas_data_pipeline_spark.operators.sketches import heavy_hitters_exact

    # 100 rows: 'edge' appears exactly 25 times -> threshold 0.25 keeps it.
    df = spark.range(100).select(
        F.when(F.col("id") < 25, F.lit("edge"))
        .otherwise(F.concat(F.lit("u"), F.col("id").cast("string")))
        .alias("key")
    )
    got = {r.key for r in heavy_hitters_exact(df.repartition(4), "key", 0.25).collect()}
    assert got == {"edge"}


def test_heavy_hitters_rejects_bad_threshold(spark):
    import pytest
    from gas_data_pipeline_spark.operators.sketches import heavy_hitters_exact

    df = spark.range(10).select(F.col("id").cast("string").alias("key"))
    with pytest.raises(ValueError):
        heavy_hitters_exact(df, "key", 0.0)
    with pytest.raises(ValueError):
        heavy_hitters_exact(df, "key", 1.5)


def test_grouped_topk_matches_naive_window(spark):
    """The bounded-shuffle grouped top-k must equal the naive full
    window under round-robin and key-clustered layouts, including
    null order values (sorted last on both stages) and groups smaller
    than k."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from gas_data_pipeline_spark.operators.topk import grouped_topk

    base = spark.range(500).select(
        (F.col("id") % 7).alias("g"),
        F.when(F.col("id") % 11 == 0, F.lit(None)).otherwise(
            ((F.col("id") * 37) % 101).cast("double")
        ).alias("v"),
        F.col("id").alias("tid"),
    ).unionByName(
        # a group with fewer rows than k
        spark.range(2).select(
            F.lit(99).alias("g"),
            F.lit(1.0).alias("v"),
            (F.col("id") + 1000).alias("tid"),
        )
    )
    w = Window.partitionBy("g").orderBy(
        F.col("v").desc_nulls_last(), F.col("tid").asc_nulls_last()
    )
    naive = {
        tuple(r)
        for r in base.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .collect()
    }
    for layout in (base.repartition(8), base.repartition(8, "g")):
        got = {
            tuple(r)
            for r in grouped_topk(
                layout, ["g"], "v", k=5, descending=True, tiebreak="tid"
            ).collect()
        }
        assert got == naive


def test_grouped_topk_ascending_direction(spark):
    """descending=False flips the order on both stages together."""
    from pyspark.sql import functions as F
    from gas_data_pipeline_spark.operators.topk import grouped_topk

    df = spark.range(100).select(
        (F.col("id") % 4).alias("g"),
        F.col("id").cast("double").alias("v"),
        F.col("id").alias("tid"),
    )
    out = grouped_topk(
        df.repartition(6), ["g"], "v", k=2, descending=False, tiebreak="tid"
    )
    got = {(r.g, r.v, r.rk) for r in out.collect()}
    want = {(g, float(g), 1) for g in range(4)} | {
        (g, float(g + 4), 2) for g in range(4)
    }
    assert got == want


def test_grouped_topk_requires_tiebreak(spark):
    import pytest
    from gas_data_pipeline_spark.operators.topk import grouped_topk

    df = spark.range(10).select((F.col("id") % 2).alias("g"), F.col("id").alias("v"))
    with pytest.raises(ValueError):
        grouped_topk(df, ["g"], "v", k=3)
    with pytest.raises(ValueError):
        grouped_topk(df, ["g"], "v", k=0, tiebreak="v")


def test_heavy_hitters_null_key_group_survives(spark):
    """A genuinely heavy null-key group must be returned: the MG
    summary counts nulls and the confirm join is null-safe, matching
    GROUP BY ... HAVING where null is an ordinary group."""
    from pyspark.sql import functions as F
    from gas_data_pipeline_spark.operators.sketches import heavy_hitters_exact

    df = spark.range(100).select(
        F.when(F.col("id") < 40, F.lit(None).cast("string"))
        .when(F.col("id") < 70, F.lit("hot"))
        .otherwise(F.concat(F.lit("c"), F.col("id").cast("string")))
        .alias("key")
    )
    got = {
        (r.key, r.cnt)
        for r in heavy_hitters_exact(df.repartition(4), "key", 0.25).collect()
    }
    assert got == {(None, 40), ("hot", 30)}


def test_heavy_hitters_decimal_threshold_boundary(spark):
    """threshold=0.05 is not exactly representable in binary; the bar
    must follow the DECIMAL the literal denotes (what the SQL oracle
    computes), so a key at exactly 5% of N is kept."""
    from pyspark.sql import functions as F
    from gas_data_pipeline_spark.operators.sketches import heavy_hitters_exact

    # 1000 rows: 'edge' appears exactly 50 times = 0.05 * 1000.
    df = spark.range(1000).select(
        F.when(F.col("id") < 50, F.lit("edge"))
        .otherwise(F.concat(F.lit("u"), F.col("id").cast("string")))
        .alias("key")
    )
    got = {r.key for r in heavy_hitters_exact(df.repartition(4), "key", 0.05).collect()}
    assert got == {"edge"}


def test_grouped_topk_ranks_nan_like_the_naive_window(spark):
    """NaN order values rank exactly where the naive window ranks them
    (Spark orders NaN greatest, on both sides of the map-side cut), next
    to nulls, which sort last in either direction."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from gas_data_pipeline_spark.operators.topk import grouped_topk

    df = spark.range(40).select(
        (F.col("id") % 2).alias("g"),
        F.when(F.col("id").isin(7, 8), F.lit(float("nan")))
        .when(F.col("id") % 5 == 0, F.lit(None))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
        F.col("id").alias("tid"),
    )

    def naive(descending):
        v = F.col("v").desc_nulls_last() if descending else F.col("v").asc_nulls_last()
        w = Window.partitionBy("g").orderBy(v, F.col("tid").asc_nulls_last())
        # A threshold of -1 turns off the map-side cut: the full window.
        spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "-1")
        try:
            return {
                (r.g, r.tid, r.rk)
                for r in df.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= 3)
                .collect()
            }
        finally:
            spark.conf.unset("spark.sql.optimizer.windowGroupLimitThreshold")

    for descending in (True, False):
        got = {
            (r.g, r.tid, r.rk)
            for r in grouped_topk(
                df.repartition(4), ["g"], "v", k=3, descending=descending, tiebreak="tid"
            ).collect()
        }
        assert got == naive(descending)
        if descending:
            # NaN is greatest: both NaN rows lead their groups.
            assert {(1, 7, 1), (0, 8, 1)} <= got


def test_hll_register_rollup_identical_to_direct(spark):
    """Merging daily register summaries by max-per-register must give
    a monthly estimate BIT-IDENTICAL to computing the sketch directly
    on the raw rows (max is associative) — the property that lets a
    rollup refresh read summaries instead of the fact table."""
    from pyspark.sql import functions as F
    from gas_data_pipeline_spark.operators.sketches import (
        HLL_M,
        hll_distinct,
        hll_estimate,
        hll_merge_registers,
        hll_registers,
    )

    df = spark.range(20000).select(
        F.concat(F.lit("m"), (F.col("id") % 3).cast("string")).alias("month"),
        (F.col("id") % 28).alias("day"),
        (F.col("id") % 1777).alias("uid"),
    )
    daily = hll_registers(df, ["month", "day"], "uid")
    # Summary is bounded: <= m rows per (month, day).
    top = (
        daily.groupBy("month", "day").count().agg(F.max("count")).collect()[0][0]
    )
    assert top <= HLL_M
    merged = hll_estimate(
        hll_merge_registers(daily, ["month"]), ["month"], "est"
    )
    direct = hll_distinct(df, "month", "uid", out_col="est")
    got = {(r.month, r.est) for r in merged.collect()}
    want = {(r.month, r.est) for r in direct.collect()}
    assert got == want
    # Sanity: the estimate is in the right ballpark of the true 1777.
    for _, est in got:
        assert 1500 < est < 2100


def test_kmv_overlap_exact_in_small_regime(spark):
    """With fewer than k distinct ids per segment the merged array IS
    the full union, so jaccard/union/intersection are exact set
    arithmetic, not estimates."""
    import pytest
    from pyspark.sql import functions as F
    from gas_data_pipeline_spark.operators.sketches import (
        kmv_overlap_pairs,
        kmv_summary,
    )

    # a: 0..99, b: 50..149 -> |A∩B| = 50, |A∪B| = 150.
    df = spark.range(100).select(
        F.lit("a").alias("g"), F.col("id").alias("uid")
    ).unionByName(
        spark.range(50, 150).select(F.lit("b").alias("g"), F.col("id").alias("uid"))
    )
    out = kmv_overlap_pairs(kmv_summary(df, "g", "uid")).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.seg_a, r.seg_b) == ("a", "b")
    assert r.jaccard_est == pytest.approx(50 / 150, abs=1e-8)
    assert r.union_est == 150.0
    assert r.intersection_est == pytest.approx(50.0, abs=1e-6)


def test_kmv_overlap_estimates_in_sketch_regime(spark):
    """Above k distinct ids the sketch estimates must land within the
    theta-sketch error envelope (rse ~ 1/sqrt(k-2) ~ 6.3%; assert 4x
    that) of the true overlap figures."""
    import pytest
    from pyspark.sql import functions as F
    from gas_data_pipeline_spark.operators.sketches import (
        kmv_overlap_pairs,
        kmv_summary,
    )

    n, overlap = 5000, 2000
    df = spark.range(n).select(
        F.lit("a").alias("g"), F.col("id").alias("uid")
    ).unionByName(
        spark.range(n - overlap, 2 * n - overlap).select(
            F.lit("b").alias("g"), F.col("id").alias("uid")
        )
    )
    r = kmv_overlap_pairs(kmv_summary(df, "g", "uid")).collect()[0]
    true_union = 2 * n - overlap
    true_jacc = overlap / true_union
    assert r.union_est == pytest.approx(true_union, rel=0.25)
    assert r.jaccard_est == pytest.approx(true_jacc, rel=0.4)
    assert r.intersection_est == pytest.approx(overlap, rel=0.5)


def test_probe_corpus_consolidation_writes_real_row_groups(spark, tmp_path):
    """VERDICT r10 #6: the 8x probe corpus used to be single coalesced
    ONE-row-group files — the exact layout that produced the r9 false
    superlinear flag (splits lie; all but one are empty). The
    consolidation helper must emit ~64 real row groups on big tables
    (so spread_scan NO-OPs there and the probe measures representative
    parallelism) while keeping tiny dims one group."""
    import pyarrow.parquet as pq

    from bench import _consolidate_with_row_groups
    from gas_data_pipeline_spark.catalog import spread_scan

    stage_big = str(tmp_path / "stage_big")
    spark.range(200_000).selectExpr("id", "id * 2 AS v").write.parquet(stage_big)
    out_big = str(tmp_path / "big.parquet")
    n_rg = _consolidate_with_row_groups(stage_big, out_big)
    assert n_rg >= 32, f"big table got only {n_rg} row groups"
    # Representative layout => the row-group gate says "enough" and
    # the spread is a no-op even when maxPartitionBytes inflates the
    # split count.
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        df = spark.read.parquet(out_big)
        assert spread_scan(df, partitions=8) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    stage_dim = str(tmp_path / "stage_dim")
    spark.range(40).write.parquet(stage_dim)
    out_dim = str(tmp_path / "dim.parquet")
    assert _consolidate_with_row_groups(stage_dim, out_dim) == 1
    assert pq.ParquetFile(out_dim).metadata.num_rows == 40
