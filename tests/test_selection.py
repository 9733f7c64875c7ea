"""Data-selection family (round 7): property, determinism, and
plan-shape tests for DSIR importance weighting, the Count-Min sketch,
and the broadcast quality model. Value parity vs DuckDB lives in
tests/test_parity.py like every other registered query; these tests
pin what the oracles can't — estimator guarantees, partitioning
invariance, and the shuffle discipline of each plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    from gas_data_pipeline_spark.catalog import table

    return table(spark, SF_DIR, "documents")


def _words():
    return F.split(F.lower(F.trim(F.col("text"))), r"\s+")


# ---------------------------------------------------------------------------
# Count-Min sketch: estimator guarantees
# ---------------------------------------------------------------------------


def test_cms_never_underestimates_any_key(spark):
    """The CMS point estimate is an upper bound for EVERY key, not
    just the top-20 the registered query reports — collisions only
    ever add counts."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.selection import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    ev = table(spark, SF_DIR, "events")
    key = F.col("user_id").cast("string")
    merged = cms_merge(cms_build(ev, key, ["event_type"]))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = cms_estimate(exact, merged, key)
    bad = est.filter(F.col("cms_estimate") < F.col("exact_cnt")).count()
    assert bad == 0


def test_cms_merge_equals_global_build(spark):
    """Cell-wise sum of per-group sketches == the sketch built in one
    pass over the union — the mergeable-summary property that lets
    100 TB pipelines sketch per partition and combine summaries."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.selection import (
        cms_build,
        cms_merge,
    )

    ev = table(spark, SF_DIR, "events")
    key = F.col("user_id").cast("string")
    merged = cms_merge(cms_build(ev, key, ["event_type"])).orderBy(
        "row_j", "bucket"
    )
    direct = cms_build(ev, key, []).orderBy("row_j", "bucket")
    assert [tuple(r) for r in merged.collect()] == [
        tuple(r) for r in direct.collect()
    ]


# ---------------------------------------------------------------------------
# DSIR: model sanity + partitioning invariance
# ---------------------------------------------------------------------------


def test_dsir_targets_score_higher(spark):
    """Documents from the target domain (lang='en') must average a
    higher importance weight than the raw pool — the defining
    behavior of importance weighting."""
    from gas_data_pipeline_spark.operators.selection import (
        dsir_fit_log_ratios,
        dsir_log_ratio_map,
        dsir_score,
    )

    docs = _docs(spark)
    ratios = dsir_fit_log_ratios(
        docs, _words(), F.col("lang") == "en", n_buckets=128
    )
    scored = dsir_score(docs, _words(), dsir_log_ratio_map(ratios))
    rows = (
        scored.groupBy(F.col("lang") == "en")
        .agg(F.avg("logw").alias("m"))
        .collect()
    )
    means = {r[0]: r["m"] for r in rows}
    assert means[True] > means[False]


def test_dsir_fit_is_partitioning_invariant(spark):
    """The fitted ratio table is identical whatever the input layout —
    repartitioning the corpus must not move a single fixed-point
    addend (reruns on a different cluster shape give identical
    selections)."""
    from gas_data_pipeline_spark.operators.selection import (
        dsir_fit_log_ratios,
    )

    docs = _docs(spark)
    a = dsir_fit_log_ratios(docs, _words(), F.col("lang") == "en")
    b = dsir_fit_log_ratios(
        docs.repartition(7), _words(), F.col("lang") == "en"
    )
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb


# ---------------------------------------------------------------------------
# Quality model: range + bucket coverage
# ---------------------------------------------------------------------------


def test_quality_scores_bounded_and_buckets_populated(spark):
    from gas_data_pipeline_spark.registry import all_queries

    df = all_queries()["quality_model_score"](spark, SF_DIR)
    agg = df.agg(
        F.min("score").alias("lo"),
        F.max("score").alias("hi"),
        F.countDistinct("bucket").alias("nb"),
    ).collect()[0]
    assert 0.0 <= agg["lo"] <= agg["hi"] <= 1.0
    assert agg["nb"] == 3  # all of high / medium / low occur at sf0.01


# ---------------------------------------------------------------------------
# Plan shapes: the shuffle discipline the docstrings claim
# ---------------------------------------------------------------------------


def test_dsir_scoring_pass_is_zero_shuffle(spark):
    """After the 128-row model collect, scoring is scan -> project:
    no Exchange anywhere in the executed plan (the model is a map
    literal, not a join)."""
    from gas_data_pipeline_spark.registry import all_queries

    df = all_queries()["dsir_importance_select"](spark, SF_DIR)
    plan = _plan_of(df)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_quality_model_is_zero_shuffle(spark):
    from gas_data_pipeline_spark.registry import all_queries

    df = all_queries()["quality_model_score"](spark, SF_DIR)
    plan = _plan_of(df)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_cms_lookup_join_is_broadcast(spark):
    """The merged sketch is depth x width rows — the estimate lookup
    must be a broadcast join, never a sort-merge exchange of the
    candidate side."""
    from gas_data_pipeline_spark.registry import all_queries

    df = all_queries()["cms_heavy_hitters_merge"](spark, SF_DIR)
    plan = _plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zipf_regression_runs_on_vocab_sized_data(spark):
    """The corpus-sized stage is ONE partial-aggregated token count;
    the rank window and regression run on vocabulary-sized data. The
    plan must show a partial aggregate before the first exchange and
    no second corpus-wide shuffle."""
    from gas_data_pipeline_spark.registry import all_queries

    df = all_queries()["zipf_token_slope"](spark, SF_DIR)
    plan = _plan_of(df)
    assert "partial_count" in plan or "partial" in plan.lower()
    # token count + lang window + final agg: <= 3 exchanges, all keyed
    # on (lang[, word]) summaries, never a corpus-row shuffle.
    assert plan.count("Exchange") <= 3


def test_cms_monitor_writer_replay_converges(spark, tmp_path):
    """Streaming re-delivers a micro-batch after a crash between the
    sink write and the checkpoint commit — the CMS monitor must
    converge under replay: (batch 0, batch 0, batch 1) must leave
    identical state and log to the clean (batch 0, batch 1) run. A
    blind sketch append would double-count every cell."""
    from gas_data_pipeline_spark.suite.streaming_suite import (
        cms_monitor_writer,
    )

    b0 = spark.range(200).select((F.col("id") % 13).alias("user_id"))
    b1 = spark.range(150).select((F.col("id") % 7).alias("user_id"))

    def run(root, replay):
        root.mkdir()
        log = str(root / "log")
        mon = cms_monitor_writer(str(root), log, tracked=[0, 1, 2, 3, 4])
        mon(b0, 0)
        if replay:
            mon(b0, 0)  # retried micro-batch: same data, same batch_id
        mon(b1, 1)
        return (
            spark.read.parquet(log + "/batch_*")
            .orderBy("batch_seq", "user_id")
            .collect()
        )

    clean = run(tmp_path / "clean", replay=False)
    replayed = run(tmp_path / "replay", replay=True)
    assert replayed == clean
    assert len(clean) == 10  # 5 tracked keys x 2 batches


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection
# ---------------------------------------------------------------------------


def _kcenter(spark, k=8):
    """Centers trained on the whole corpus (a sample covering every
    row) and the corpus assigned to them."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.selection import (
        assign_to_centers,
        kcenter_greedy_sampled,
    )

    emb = table(spark, SF_DIR, "embeddings")
    centers = kcenter_greedy_sampled(
        emb, "vec_id", "embedding", k=k, sample_n=emb.count()
    )
    pts = emb.select(
        F.col("vec_id").alias("pid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    return centers, assign_to_centers(pts, centers)


def test_kcenter_radii_nonincreasing_and_cover(spark):
    """Greedy farthest-point invariants: the selection distances
    (step j's sq_fp == the coverage radius of the first j-1 centers)
    are non-increasing, and the final assignment radius is <= the
    last selection distance (adding centers only shrinks min-dists)."""
    centers, assigned = _kcenter(spark)
    seq = [c["sq_fp"] for c in centers[1:]]
    assert all(a >= b for a, b in zip(seq, seq[1:]))
    final_radius = assigned.agg(F.max("sq_fp")).collect()[0][0]
    assert final_radius <= seq[-1]


def test_kcenter_centers_assign_to_themselves(spark):
    centers, assigned = _kcenter(spark)
    ids = [c["id"] for c in centers]
    own = assigned.filter(F.col("pid").isin(ids)).collect()
    assert len(own) == len(ids)
    for r in own:
        assert r["center_id"] == r["pid"] and r["sq_fp"] == 0


def test_kcenter_beats_prefix_selection(spark):
    """The diversity claim, concretely: greedy-8's coverage radius is
    strictly better than picking the first 8 vectors by id."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.selection import sq_dist_fp_sql

    _, greedy_assigned = _kcenter(spark)
    greedy_radius = greedy_assigned.agg(F.max("sq_fp")).collect()[0][0]

    emb = table(spark, SF_DIR, "embeddings")
    pts = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    prefix = [list(r["v"]) for r in pts.orderBy("vec_id").limit(8).collect()]
    mind = F.least(*[F.expr(sq_dist_fp_sql("v", c)) for c in prefix])
    prefix_radius = pts.agg(F.max(mind)).collect()[0][0]
    assert greedy_radius < prefix_radius


def test_kcenter_assignment_is_zero_shuffle(spark):
    """After selection the k centers are literals riding the task
    closure: the assignment pass is scan -> project -> array_sort,
    with no Exchange and no Join."""
    _, assigned = _kcenter(spark, k=4)
    plan = _plan_of(assigned)
    assert "Exchange" not in plan
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# CCNet perplexity buckets
# ---------------------------------------------------------------------------


def test_ccnet_buckets_balanced_and_ordered(spark):
    """Tertiles are balanced per language (ntile property: sizes
    differ by at most 1) and ordered: every head doc has perplexity
    <= every tail doc within its language."""
    from gas_data_pipeline_spark.registry import all_queries

    df = all_queries()["ccnet_perplexity_buckets"](spark, SF_DIR).cache()
    try:
        sizes = {
            (r["lang"], r["bucket"]): r["n"]
            for r in df.groupBy("lang", "bucket").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        langs = {k[0] for k in sizes}
        for lang in langs:
            per = [sizes.get((lang, b), 0) for b in ("head", "middle", "tail")]
            assert max(per) - min(per) <= 1, (lang, per)
        edges = df.groupBy("lang").agg(
            F.max(F.when(F.col("bucket") == "head", F.col("ppl_proxy"))).alias(
                "head_max"
            ),
            F.min(F.when(F.col("bucket") == "tail", F.col("ppl_proxy"))).alias(
                "tail_min"
            ),
        )
        for r in edges.collect():
            assert r["head_max"] <= r["tail_min"], r
    finally:
        df.unpersist()


def test_ccnet_lm_join_is_broadcast(spark):
    """The unigram LM is vocab-sized: both its construction join and
    the score join must broadcast — a sort-merge exchange of the
    token stream would be the 100 TB bottleneck."""
    from gas_data_pipeline_spark.registry import all_queries

    df = all_queries()["ccnet_perplexity_buckets"](spark, SF_DIR)
    plan = _plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# Trained quality classifier (bounded driver fit, SQL apply)
# ---------------------------------------------------------------------------


def test_classifier_gradient_step_matches_hand_computation(spark):
    """First GD step on a 3-doc toy corpus, checked against the exact
    arithmetic by hand: at w0 = 0 every doc scores p = FP/2, so
    e_d = FP/2 - y_d and g_j = sum(e_d * x_dj) with the bias counting
    each doc once."""
    import math

    from gas_data_pipeline_spark.operators.classifier import (
        BIAS_BUCKET,
        FP,
        train_quality_classifier,
    )
    from gas_data_pipeline_spark.operators.selection import portable_bucket

    rows = [(1, "alpha beta", 1), (2, "alpha", 0), (3, "gamma gamma", 0)]
    df = spark.createDataFrame(rows, "doc_id int, text string, y int")
    words = F.split(F.col("text"), r"\s+")
    (w1,) = train_quality_classifier(
        df, words, F.col("y") == 1, dim=8, iters=1, eta=0.5
    )
    buckets = {
        r["word"]: r["b"]
        for r in df.select(F.explode(words).alias("word"))
        .select("word", portable_bucket(F.col("word"), "qclf-v1", 8).alias("b"))
        .distinct()
        .collect()
    }
    # e: doc1 = -FP/2 (target), docs 2,3 = +FP/2 — one addend per
    # word OCCURRENCE, accumulated by bucket (collision-safe).
    expected: dict[int, int] = {BIAS_BUCKET: (-FP // 2) + (FP // 2) * 2}
    occurrences = [
        ("alpha", -FP // 2),  # doc 1
        ("beta", -FP // 2),  # doc 1
        ("alpha", FP // 2),  # doc 2
        ("gamma", FP // 2),  # doc 3
        ("gamma", FP // 2),  # doc 3
    ]
    for word, e in occurrences:
        expected[buckets[word]] = expected.get(buckets[word], 0) + e
    for b, g in expected.items():
        assert w1[b] == -math.floor(g * 0.5 / 3), (b, g, w1)
    # Buckets no word hashed into never enter the model.
    assert set(w1) == set(expected)


def test_classifier_training_is_partitioning_invariant(spark):
    """Weight snapshots are integer sums + driver-side IEEE steps, so
    the layout of the corpus across partitions cannot move a single
    fixed-point unit in any iteration."""
    from gas_data_pipeline_spark.operators.classifier import (
        train_quality_classifier,
    )

    docs = _docs(spark)
    base = train_quality_classifier(
        docs, _words(), F.col("lang") == "en", iters=3
    )
    shuffled = train_quality_classifier(
        docs.repartition(7), _words(), F.col("lang") == "en", iters=3
    )
    assert base == shuffled


def test_classifier_training_improves_train_accuracy(spark):
    """Three GD steps must beat the iteration-0 model (w = 0 predicts
    p = 1/2 everywhere, i.e. 'everything is target') on the training
    labels — the descent direction is doing real work."""
    from gas_data_pipeline_spark.operators.classifier import (
        FP,
        score_fp,
        train_quality_classifier,
    )

    docs = _docs(spark)
    is_en = F.col("lang") == "en"
    snaps = train_quality_classifier(docs, _words(), is_en, iters=3)
    scored = docs.select(
        is_en.alias("is_en"), score_fp(docs, _words(), snaps[-1]).alias("p")
    )
    agg = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("p") >= FP // 2) == F.col("is_en"), 1).otherwise(0)
        ).alias("ok"),
        F.sum(F.when(F.col("is_en"), 1).otherwise(0)).alias("n_en"),
    ).collect()[0]
    baseline = agg["n_en"] / agg["n"]  # iteration-0 accuracy
    assert agg["ok"] / agg["n"] > baseline


def test_classifier_scoring_is_zero_shuffle(spark):
    """The apply side embeds the trained snapshot as a map literal:
    the scoring scan must contain no Join and no Exchange — the model
    rides the task closure, the corpus never moves."""
    from gas_data_pipeline_spark.operators.classifier import (
        score_fp,
        train_quality_classifier,
    )

    docs = _docs(spark)
    snaps = train_quality_classifier(
        docs, _words(), F.col("lang") == "en", iters=1
    )
    scored = docs.select(score_fp(docs, _words(), snaps[-1]).alias("p"))
    plan = _plan_of(scored)
    assert "Join" not in plan
    assert "Exchange" not in plan


def _toy_classifier_docs(spark):
    from gas_data_pipeline_spark.catalog import local_table

    rows = [
        (1, "alpha beta", 1),
        (2, "alpha", 0),
        (3, "gamma gamma", 0),
        (4, None, 1),
        (5, "", 0),
    ]
    return local_table(spark, rows, "doc_id int, text string, y int")


def test_classifier_snapshots_skip_null_text_and_keep_empty_text(spark):
    """Snapshots pinned to the values the per-iteration Spark
    aggregate trainer returned, on a toy corpus with a null text (null
    bucket array: no gradient row, not counted in N) and an empty text
    (one word, the empty string, which hashes into a bucket like any
    other)."""
    from gas_data_pipeline_spark.operators.classifier import (
        train_quality_classifier,
    )

    snaps = train_quality_classifier(
        _toy_classifier_docs(spark), _words(), F.col("y") == 1,
        dim=8, iters=2, eta=0.5,
    )
    assert snaps == [
        {4: 0, 5: -62500, -1: -125000, 7: -62500},
        {4: 9766, 5: -103515, -1: -226562, 7: -119140},
    ]


def test_classifier_training_runs_one_job_and_holds_no_cache(spark):
    """Training is one bounded collect of the featurized fit sample;
    the gradient steps run on the driver, and nothing stays cached."""
    from gas_data_pipeline_spark.operators.classifier import (
        train_quality_classifier,
    )

    spark.catalog.clearCache()
    docs = _docs(spark)
    sc = spark.sparkContext
    group = "classifier-training-jobs"
    sc.setJobGroup(group, "count the jobs of one training run")
    try:
        train_quality_classifier(docs, _words(), F.col("lang") == "en", iters=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("eta", [0.1, 0.0, -0.5, 3.0])
def test_classifier_rejects_eta_not_a_power_of_two(spark, eta):
    """``g · η`` is exact in IEEE doubles only for a power-of-two η,
    which the oracle replay relies on: anything else is refused before
    a job runs."""
    from gas_data_pipeline_spark.operators.classifier import (
        train_quality_classifier,
    )

    with pytest.raises(ValueError, match="power of two"):
        train_quality_classifier(
            _toy_classifier_docs(spark), _words(), F.col("y") == 1, eta=eta
        )


def test_ann_index_incremental_frozen_quantizer(spark):
    """Index-maintenance contract: the delta NEVER changes the
    quantizer (centers trained on base only, bit-identical with or
    without the delta present) and routing the full corpus against
    the frozen centers is a zero-shuffle scan."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.selection import (
        assign_to_centers,
        kcenter_greedy_sampled,
    )

    emb = table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    n = base.count()
    c1 = kcenter_greedy_sampled(base, "vec_id", "embedding", k=4, sample_n=n)
    c2 = kcenter_greedy_sampled(
        base.repartition(5), "vec_id", "embedding", k=4, sample_n=n
    )
    assert [(c["step"], c["id"], c["sq_fp"]) for c in c1] == [
        (c["step"], c["id"], c["sq_fp"]) for c in c2
    ]
    pts = emb.select(
        F.col("vec_id").alias("pid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
        (F.col("vec_id") % 10 == 0).alias("is_delta"),
    )
    routed = assign_to_centers(pts, c1, payload_cols=("is_delta",))
    plan = _plan_of(routed)
    assert "Join" not in plan
    assert "Exchange" not in plan
    # Every center routes to itself at distance 0.
    selfies = routed.filter(
        F.col("pid").isin([c["id"] for c in c1])
    ).collect()
    for r in selfies:
        assert r["center_id"] == r["pid"] and r["sq_fp"] == 0


def test_kcenter_stops_early_on_small_inputs(spark):
    """Fewer distinct points than k must return the points found (the
    oracle's recursive CTE stops early), not crash (ADVICE r7)."""
    from gas_data_pipeline_spark.operators.selection import (
        assign_to_centers,
        kcenter_greedy_sampled,
    )

    pts = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0]), (3, [6.0, 8.0])],
        "vec_id bigint, embedding array<double>",
    )
    centers = kcenter_greedy_sampled(pts, "vec_id", "embedding", k=8)
    assigned = assign_to_centers(
        pts.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("v")), centers
    )
    assert [c["id"] for c in centers] == [1, 3, 2]  # seed, farthest, rest
    assert [c["step"] for c in centers] == [1, 2, 3]
    rows = {r["pid"]: r["center_id"] for r in assigned.collect()}
    assert rows == {1: 1, 2: 2, 3: 3}  # every point is its own center


def test_kcenter_sampled_is_one_job_and_bounded(spark):
    """The sampled trainer must collect exactly the sample_n smallest
    md5 draws (deterministic, engine-portable cut) and stop early on
    tiny inputs."""
    from gas_data_pipeline_spark.operators.selection import (
        kcenter_greedy_sampled,
        kcenter_train_sample,
    )

    pts = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0]), (3, [6.0, 8.0])],
        "vec_id bigint, embedding array<double>",
    )
    sample = kcenter_train_sample(pts, "vec_id", "embedding", sample_n=2)
    assert len(sample) == 2
    # md5 cut replayed in python: smallest two hex draws win
    import hashlib

    draws = sorted(
        (hashlib.md5(f"kctrain-v1:{i}".encode()).hexdigest(), i)
        for i in (1, 2, 3)
    )
    assert [pid for pid, _ in sample] == [i for _, i in draws[:2]]

    centers = kcenter_greedy_sampled(pts, "vec_id", "embedding", k=8)
    assert [c["id"] for c in centers] == [1, 3, 2]
    assert [c["step"] for c in centers] == [1, 2, 3]


def test_zipf_ln_quantization_agrees_with_libm(spark, duck):
    """zipf_token_slope quantizes JVM F.log outputs; the oracle
    quantizes DuckDB (libm) ln. Spot-check the full realistic input
    set — ln of integers 1..2000 at the 1e6 fixed point — so the
    documented accepted-ulp-risk claim is pinned, not assumed."""
    from pyspark.sql import functions as F

    got = (
        spark.range(1, 2001)
        .select(
            F.col("id"),
            F.round(F.log(F.col("id").cast("double")) * 1e6, 0)
            .cast("bigint")
            .alias("q"),
        )
        .collect()
    )
    want = {
        int(r[0]): int(r[1])
        for r in duck.sql(
            "SELECT i, CAST(round(ln(CAST(i AS DOUBLE)) * 1e6) AS BIGINT)"
            " FROM range(1, 2001) t(i)"
        ).fetchall()
    }
    bad = [(r["id"], r["q"], want[r["id"]]) for r in got if r["q"] != want[r["id"]]]
    assert bad == [], bad[:5]


def test_fit_sample_bounded_deterministic_take_ordered(spark):
    """VERDICT r11 #3: the classifier's fit sample is the n
    smallest-md5-draw docs — deterministic across partitionings,
    planned as TakeOrderedAndProject (bounded per-partition heap,
    never a global sort), full corpus when n >= corpus."""
    from gas_data_pipeline_spark.operators.classifier import fit_sample

    rows = [(i, f"doc {i}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    picked = {r.doc_id for r in fit_sample(df, n=10).collect()}
    assert len(picked) == 10
    # Same sample under a different partitioning.
    again = {r.doc_id for r in fit_sample(df.repartition(7), n=10).collect()}
    assert again == picked
    # Matches the SQL replay (ORDER BY md5 LIMIT n).
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sql = con.sql(
        "SELECT doc_id FROM docs ORDER BY "
        "md5('qcf-fit:' || CAST(doc_id AS VARCHAR)) LIMIT 10"
    ).df()
    assert set(sql.doc_id) == picked
    # n >= corpus: everything trains (full-batch degradation).
    assert fit_sample(df, n=100).count() == 50
    plan = fit_sample(df, n=10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
