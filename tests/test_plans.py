"""Physical-plan hygiene: the properties that make queries survive a
100x scale-up, asserted against `.explain` output so a regression in
plan shape fails CI even while results stay correct at test scale.

What matters at 100 TB (SURVEY §4): filters reach the parquet scan
(row-group pruning), projections prune the read schema, dimension
joins broadcast instead of shuffling the fact side, aggregations run
map-side partials before the exchange, and narrow per-row operators
introduce no exchange at all.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    from gas_data_pipeline_spark.registry import all_queries

    df = all_queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_pushes_filters_and_broadcasts(spark):
    plan = _plan(spark, "flagship_data_query")
    # Optional-parameter filters must reach the orders scan as parquet
    # pushed filters (the reference's `(:p IS NULL OR ...)` pattern
    # would defeat this — conditional plan construction is the point).
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual" in plan or "GreaterThan" in plan
    # customer is a dimension: must broadcast, never shuffle the facts.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_star_join_broadcasts_both_dims(spark):
    plan = _plan(spark, "star_join_3way")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_pricing_summary_partial_aggregation(spark):
    plan = _plan(spark, "pricing_summary")
    # Map-side partial aggregation before the exchange: the shuffle
    # carries one row per (group, task), not one per input row.
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_melt_is_narrow(spark):
    # Wide→long melt is a per-row generator — a KEYED exchange here
    # would shuffle the full fact table for nothing. spread_scan's
    # round-robin of the narrow projection is the one allowed
    # exchange (parallelizing a 3-split scan; no-op at real scale).
    plan = _plan(spark, "melt_wide_to_long").lower()
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_spread_scan_sees_through_fake_splits(spark, tmp_path):
    # Parquet reads are row-group-grained: a one-row-group file split
    # into N maxPartitionBytes windows still runs on ONE core (N-1
    # splits are empty). spread_scan must count row groups, not
    # splits — this was pivot_long_to_wide's 1.54-per-copy superlinear
    # flag at the 8x probe (the probe corpus is a single coalesced
    # file). With many row groups the splits are real and the
    # repartition must stay a no-op.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gas_data_pipeline_spark.catalog import spread_scan

    tbl = pa.table({"v": list(range(200_000))})
    one_rg = str(tmp_path / "one_rg.parquet")
    many_rg = str(tmp_path / "many_rg.parquet")
    pq.write_table(tbl, one_rg, row_group_size=1_000_000)
    pq.write_table(tbl, many_rg, row_group_size=25_000)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        fake = spark.read.parquet(one_rg)
        assert fake.rdd.getNumPartitions() >= 4  # splits lie
        spread = spread_scan(fake, partitions=8)
        assert spread is not fake  # row-group check fired
        assert spread.rdd.getNumPartitions() == 8
        real = spark.read.parquet(many_rg)
        assert real.rdd.getNumPartitions() >= 4
        assert spread_scan(real, partitions=8) is real  # no-op
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def _nan_safe(v):
    """A collected value with NaN made comparable (NaN != NaN)."""
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_nan_safe(x) for x in v)
    return v


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(2**53 + 1, 7, "x"), (-(2**62), None, None)], "a bigint, b int, s string"),
        ([(float("nan"),), (None,), (1.5,)], "d double"),
        (
            [([1, None, 2**60], [0.5, None, float("nan")]), (None, [])],
            "xs array<bigint>, ys array<double>",
        ),
        ([], "a bigint, s string"),
    ],
)
def test_local_table_matches_create_dataframe(spark, rows, schema):
    # Same schema and rows as the Python-RDD path, in a LocalTableScan.
    from gas_data_pipeline_spark.catalog import local_table

    got = local_table(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert [_nan_safe(r) for r in got.collect()] == [_nan_safe(r) for r in want.collect()]
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()


def test_local_table_takes_rows_with_a_struct_type(spark):
    from pyspark.sql import Row
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    from gas_data_pipeline_spark.catalog import local_table

    schema = StructType(
        [StructField("id", LongType(), False), StructField("v", ArrayType(DoubleType()))]
    )
    rows = [Row(id=3, v=[1.0, 2.0]), Row(id=1, v=None)]
    got = local_table(spark, rows, schema)
    assert got.schema == spark.createDataFrame(rows, schema).schema == schema
    assert got.collect() == rows


def test_package_builds_driver_frames_only_through_local_table():
    # createDataFrame(<list>) plans a Python RDD: every driver-built
    # frame goes through catalog.local_table instead.
    import ast
    import pathlib

    import gas_data_pipeline_spark

    root = pathlib.Path(gas_data_pipeline_spark.__file__).parent
    calls = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path.name == "catalog.py" and path.parent == root:
            fn = next(n for n in tree.body if getattr(n, "name", None) == "local_table")
            allowed = {id(n) for n in ast.walk(fn)}
        calls += [
            f"{path.relative_to(root)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
            and id(n) not in allowed
        ]
    assert calls == []


def test_package_imports_no_pyspark_ml():
    # Every quantizer trains on one bounded driver sample: no module
    # reaches for the distributed pyspark.ml trainers.
    import ast
    import pathlib

    import gas_data_pipeline_spark

    root = pathlib.Path(gas_data_pipeline_spark.__file__).parent
    imports = []
    for path in sorted(root.rglob("*.py")):
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Import):
                mods = [a.name for a in n.names]
            elif isinstance(n, ast.ImportFrom):
                mods = [n.module or ""]
            else:
                continue
            imports += [
                f"{path.relative_to(root)}:{n.lineno}"
                for mod in mods
                if mod.split(".")[:2] == ["pyspark", "ml"]
            ]
    assert imports == []


def test_package_has_no_rdd_tree_reduce_or_broadcast_variable():
    # Driver state reaches executors as SQL (a local table, a scalar
    # subquery), and reductions are SQL aggregates: no module calls the
    # RDD tree reducers or ships a broadcast variable.
    import ast
    import pathlib

    import gas_data_pipeline_spark

    root = pathlib.Path(gas_data_pipeline_spark.__file__).parent
    calls = []
    for path in sorted(root.rglob("*.py")):
        for n in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                continue
            f = n.func
            if f.attr in ("treeAggregate", "treeReduce") or (
                f.attr == "broadcast"
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "sparkContext"
            ):
                calls.append(f"{path.relative_to(root)}:{n.lineno}")
    assert calls == []


def test_ann_search_is_one_call_at_one_scale():
    # A search configuration is a model handed to similarity.ann_topk,
    # and the fixed-point scale and driver-probe bound are constants:
    # no package function takes either as a parameter, and none of the
    # per-configuration wrappers is defined again.
    import ast
    import pathlib

    import gas_data_pipeline_spark

    deleted = {
        "cosine_topk_ivf",
        "cosine_topk_pq",
        "cosine_topk_ivfpq",
        "cosine_topk_ivf_kcenter",
        "cosine_topk_pq_kcenter",
        "cosine_topk_ivfpq_kcenter",
        "probe_cells",
    }
    root = pathlib.Path(gas_data_pipeline_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        for n in ast.walk(ast.parse(path.read_text())):
            if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = n.args
            params = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
            found += [
                f"{path.relative_to(root)}:{n.lineno}:{name}"
                for name in sorted(
                    (params & {"quantum", "driver_probe_bound"}) | ({n.name} & deleted)
                )
            ]
    assert found == []


def test_suite_moves_no_file_into_a_watched_dir():
    # streaming.incremental.run_staged_stream is the one place a staged
    # file moves into a stream's watched dir: no suite query moves
    # files itself.
    import ast
    import pathlib

    import gas_data_pipeline_spark

    root = pathlib.Path(gas_data_pipeline_spark.__file__).parent
    calls = [
        f"{path.relative_to(root)}:{n.lineno}"
        for path in sorted((root / "suite").rglob("*.py"))
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and isinstance(n.func.value, ast.Name)
        and (n.func.value.id, n.func.attr) in {("shutil", "move"), ("os", "replace")}
    ]
    assert calls == []


def test_no_session_overwrite_mode_and_no_silver_io():
    # Dynamic partition overwrite is a per-write option: a session-wide
    # spark.conf.set of partitionOverwriteMode would leak into every
    # later static overwrite. And pipeline/silver.py holds only the
    # merge: the observation store's reads and writes live in
    # pipeline/versioned.py.
    import ast
    import pathlib

    import gas_data_pipeline_spark

    root = pathlib.Path(gas_data_pipeline_spark.__file__).parent
    conf_sets = [
        f"{path.relative_to(root)}:{n.lineno}"
        for path in sorted(root.rglob("*.py"))
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "set"
        and isinstance(n.func.value, ast.Attribute)
        and n.func.value.attr == "conf"
        and any(
            isinstance(a, ast.Constant) and "partitionOverwriteMode" in str(a.value)
            for a in n.args
        )
    ]
    assert conf_sets == []
    silver = ast.parse((root / "pipeline" / "silver.py").read_text())
    io = [
        f"{fn.name}:{n.lineno}"
        for fn in ast.walk(silver)
        if isinstance(fn, ast.FunctionDef)
        for n in ast.walk(fn)
        if (isinstance(n, ast.Attribute) and n.attr in {
            "read", "write", "readStream", "writeStream", "parquet", "save", "load",
        })
        or (isinstance(n, ast.arg) and n.arg in {"path", "root"})
    ]
    assert io == []


def test_text_profile_is_narrow(spark):
    plan = _plan(spark, "text_quality_langid")
    assert "Exchange" not in plan


def test_band_join_is_broadcast_nested_loop(spark):
    # 4-row build side with a range predicate: BNLJ over broadcast is
    # the right plan; a shuffled cartesian would be wrong.
    plan = _plan(spark, "band_range_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_range_scan_prunes_columns_and_pushes_range(spark):
    plan = _plan(spark, "range_scan_history")
    # Projection pruning: the events scan must not read event_type or
    # props for a (ts, value) projection.
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan, plan
    assert "props" not in scan[0]
    assert "event_type" not in scan[0]
    # Equality + range predicates pushed to parquet.
    assert "PushedFilters: [" in plan
    assert "EqualTo(user_id,7)" in plan.replace(" ", "").replace("`", "") or "EqualTo" in plan


def test_topn_is_take_ordered(spark):
    # ORDER BY ... LIMIT k must plan TakeOrderedAndProject (true
    # top-k), not a global sort.
    plan = _plan(spark, "topn_recency")
    assert "TakeOrderedAndProject" in plan


def test_approx_distinct_accuracy(spark):
    """HLL++ at rsd=0.01 must land within 2% of exact distinct."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.registry import all_queries

    import pyspark.sql.functions as F

    approx = (
        all_queries()["approx_distinct_users"](spark, SF_DIR)
        .toPandas()
        .set_index("event_type")["approx_users"]
    )
    exact = (
        table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .toPandas()
        .set_index("event_type")["exact"]
    )
    for et in exact.index:
        assert abs(approx[et] - exact[et]) <= max(2, 0.02 * exact[et])


def test_portable_hll_accuracy(spark):
    """The portable (cross-engine-deterministic) HLL at m=4096
    (~1.6% rsd) must land within 5% of exact distinct — its exactness
    vs DuckDB is the parity gate's job; this pins estimator QUALITY."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.registry import all_queries

    import pyspark.sql.functions as F

    approx = (
        all_queries()["approx_distinct_portable_hll"](spark, SF_DIR)
        .toPandas()
        .set_index("event_type")["approx_users"]
    )
    exact = (
        table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .toPandas()
        .set_index("event_type")["exact"]
    )
    for et in exact.index:
        assert abs(approx[et] - exact[et]) <= max(3, 0.05 * exact[et])


def test_latest_per_key_is_single_agg_no_window(spark):
    # max_by argmax must plan as an aggregate with map-side partials
    # (partial_max_by before the exchange) — not a per-key Window,
    # which shuffles every input row. String/struct buffers force
    # SortAggregate over HashAggregate; the partials are the invariant.
    plan = _plan(spark, "latest_event_per_user")
    assert "Window" not in plan
    assert "partial_max_by" in plan
    assert plan.count("Exchange") == 1


def test_semi_join_broadcasts_and_pushes_priority_filter(spark):
    plan = _plan(spark, "semi_join_urgent_customers")
    assert "LeftSemi" in plan
    # The urgency predicate must reach the orders parquet scan.
    assert "PushedFilters: [" in plan
    assert "o_orderpriority" in plan.split("PushedFilters")[1][:200] or (
        "EqualTo(o_orderpriority,1-URGENT)" in plan
    )
    assert "SortMergeJoin" not in plan


def test_fuzzy_pairs_is_equi_join_not_cartesian(spark):
    # Blocking keys (brand, size) must drive a hash equi-join; the
    # quadratic comparison stays within blocks only.
    plan = _plan(spark, "fuzzy_part_name_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Runtime semi-join reduction: a selective dim-side filter should
    inject a bloom filter into the fact scan (rows dropped before the
    shuffle, the Spark analog of the reference's WHERE-before-JOIN).
    Enabled by default at cluster scale; thresholds are relaxed here
    because local test tables sit under the size gates."""
    import pyspark.sql.functions as F

    from gas_data_pipeline_spark.catalog import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, SF_DIR, "lineitem")
        o = table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom" in plan or "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_wau_fanout_has_no_join(spark):
    # rolling_weekly_active_users: the 7-day window is an explode
    # fan-out, not a day-grid range join — a BNLJ here would rescan the
    # deduped actives once per grid day at scale.
    plan = _plan(spark, "rolling_weekly_active_users")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan
    assert "Generate explode" in plan


def test_mixture_apply_broadcasts_weights_no_smj(spark):
    """The per-source weight table is tiny — it must broadcast back to
    the corpus; a SortMergeJoin here would shuffle the whole corpus by
    source (a handful of hot keys: worst-case skew)."""
    plan = _plan(spark, "curation_mixture_apply")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_span_dedup_has_no_joins(spark):
    """Span dedup is windows + aggregation only; any join in the plan
    means the reassembly regressed to a self-join."""
    plan = _plan(spark, "dedup_span_exact")
    assert "Join" not in plan
    # Exactly the two logical rendezvous: span-text window, doc regroup
    # (plus AQE bookkeeping); no third data shuffle.
    assert "Window" in plan


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "dedup_containment_pairs"])
def test_shingle_pairs_come_from_one_cogroup_no_join(spark, name):
    # Every shingle is a bucket key: pairs come from one posting-list
    # co-group (collect_list) and a count, never from a self-join that
    # would shingle the corpus once per side.
    plan = _plan(spark, name)
    assert "Join" not in plan
    assert "collect_list" in plan


def test_minhash_band_explode_carries_ids_only(spark):
    # The band explode multiplies its rows by the band count: it must
    # carry the doc id alone, never the shingle array; the sets
    # re-attach by the two verification joins (id_a, then id_b) only.
    import re

    plan = _plan(spark, "dedup_minhash_lsh")
    band = [ln.rstrip() for ln in plan.splitlines() if "Generate explode(array(struct(band" in ln]
    assert len(band) == 1
    carried = re.search(r"\), \[([^\]]*)\], (?:true|false), \[[^\]]*\]$", band[0]).group(1)
    assert [c.split("#")[0] for c in carried.split(", ")] == ["id"]
    assert sorted(re.findall(r"Join \[(\w+)#", plan)) == ["id_a", "id_b"]


def _plan_nodes(plan):
    """Every node of a physical plan, through AQE query stages."""
    yield plan
    if plan.nodeName().endswith("QueryStage"):
        yield from _plan_nodes(plan.plan())
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_quality_classifier_result_is_a_local_table_scan(spark):
    # The 26-row weight table is built on the driver: a JVM
    # LocalTableScan, never a Python RDD that starts Python workers.
    plan = _plan(spark, "quality_classifier_train")
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan


@pytest.mark.parametrize("name", ["embedding_cosine_near_dup", "ann_cosine_topk"])
def test_block_gemm_runs_one_python_stage(spark, name):
    # Blocks pack in one SQL aggregate: the GEMM scorer is the only
    # Python operator of the exact cosine kernels.
    plan = _plan(spark, name)
    assert plan.count("MapInPandas") == 1
    assert "FlatMapGroupsInPandas" not in plan


def test_char_jaccard_scores_checkpointed_sets_in_one_python_stage(spark):
    # The shingler runs once, in the kernel's eager localCheckpoint of
    # the shingle sets, so the query's plan scans the checkpoint and
    # holds no shingler. The sets pack in the shared SQL pack and the
    # bitset words are built inside the block scorer: the scorer is the
    # plan's one Python operator, and no grouped-map pack is left.
    # Identical operator lines (AQE prints the plan twice) count once.
    plan = _plan(spark, "dedup_char_jaccard")
    lines = {ln.strip(" :+-") for ln in plan.splitlines()}
    assert "Scan ExistingRDD" in plan
    assert "ArrowEvalPython" not in plan
    assert sum(ln.startswith("MapInPandas") for ln in lines) == 1
    assert "FlatMapGroupsInPandas" not in plan


def test_minhash_signs_checkpointed_sets_in_one_python_stage(spark):
    # The shingler runs once, in the kernel's eager localCheckpoint of
    # the hashed sets (which also holds the caller's spread): the sizing
    # count, the signature branch and both verify joins scan the
    # checkpoint, and the signature UDF is the plan's one Python stage.
    plan = _plan(spark, "dedup_minhash_lsh")
    assert "Scan ExistingRDD" in plan
    assert "split(lower" not in plan
    assert "RoundRobinPartitioning" not in plan
    assert plan.count("ArrowEvalPython") == 1


@pytest.mark.parametrize("name", ["grouped_topk_bounded", "sample_k_per_group"])
def test_grouped_topk_cuts_map_side_without_python(spark, name):
    # Catalyst's partial WindowGroupLimit keeps each partition's
    # per-group top-k before the exchange: no pandas fold is left.
    plan = _plan(spark, name)
    assert "MapInPandas" not in plan
    partial = [ln for ln in plan.splitlines() if "WindowGroupLimit" in ln]
    assert any(ln.rstrip().endswith("Partial") for ln in partial)


def test_minhash_signature_small_corpus_runs_one_task(spark):
    # A corpus of one ROWS_PER_BLOCK block signs in one Arrow task, not
    # one per spread partition.
    from gas_data_pipeline_spark.registry import all_queries
    from tests.conftest import SF_SMALL

    df = all_queries()["dedup_minhash_lsh"](spark, SF_SMALL)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().executedPlan()
    arrow = [n for n in _plan_nodes(final) if n.nodeName() == "ArrowEvalPython"]
    assert len(arrow) == 1
    assert arrow[0].execute().getNumPartitions() == 1


@pytest.mark.parametrize("per_block", [1, "cores"])
def test_minhash_signature_large_corpus_adds_no_exchange(spark, per_block):
    # A corpus above one block (ROWS_PER_BLOCK documents; here also above
    # ROWS_PER_BLOCK x defaultParallelism) signs on its own partitions:
    # no repartition, no coalesce.
    from pyspark.sql import functions as F

    from gas_data_pipeline_spark.operators.dedup import minhash_near_dup_pairs, word_shingles
    from gas_data_pipeline_spark.operators.similarity import ROWS_PER_BLOCK

    cores = spark.sparkContext.defaultParallelism
    n = ROWS_PER_BLOCK * (cores if per_block == "cores" else 1) + 1
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", F.lit("a b"), F.col("id")).alias("text")
    )
    pairs = minhash_near_dup_pairs(docs, "doc_id", word_shingles(F.col("text"), n=2))
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan and "Coalesce" not in plan


def test_prefix_jaccard_small_corpus_verifies_under_broadcasts(spark):
    # Small-corpus regime: both verification joins broadcast the
    # bounded doc-set sides (see jaccard_pairs_prefix_filter).
    import re

    from gas_data_pipeline_spark.registry import all_queries
    from tests.conftest import SF_SMALL

    df = all_queries()["dedup_prefix_jaccard"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert sorted(re.findall(r"BroadcastHashJoin \[(id_[ab])#", plan)) == ["id_a", "id_b"]


def test_unigram_logprob_broadcasts_vocab(spark):
    """The vocabulary probability table joins back to the token stream
    as a broadcast; the only big exchange is the per-doc aggregate."""
    plan = _plan(spark, "text_unigram_logprob")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_single_key_exchange(spark):
    """SCD2 interval building is per-key window work — one exchange on
    the key, no joins."""
    plan = _plan(spark, "scd2_user_state_history")
    assert "Join" not in plan
    assert "Window" in plan


def test_event_day_streaks_single_exchange_no_window(spark):
    """Gaps-and-islands in ONE exchange: collect_set(day) dedups
    map-side (partial_collect_set before the shuffle), the island
    split is a higher-order fold over the per-user sorted day array —
    no row_number window, no second keyed exchange. The r2-era plan
    paid two (distinct on (user, day), then a window on user)."""
    plan = _plan(spark, "event_day_streaks")
    assert plan.count("Exchange") == 1
    assert "partial_collect_set" in plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_pagination_is_take_ordered_with_offset(spark):
    """VERDICT r2 #3: LIMIT/OFFSET pagination must plan as
    TakeOrderedAndProject (distributed partial top-k, bounded by
    offset+limit) — never a global no-partition Window that funnels
    the whole result through one task."""
    plan = _plan(spark, "limit_offset_pagination")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_engine_get_data_pagination_is_take_ordered(spark, tmp_path):
    """The engine read path (get_data) shares the bounded-top-k plan:
    no global window, TakeOrderedAndProject with the offset folded in."""
    from datetime import datetime

    import pyspark.sql.functions as F

    from gas_data_pipeline_spark.engine import GasDataEngine

    eng = GasDataEngine(spark, str(tmp_path))
    batch = spark.createDataFrame(
        [(f"s{i % 3}", datetime(2024, 1, 1 + i % 5), float(i)) for i in range(30)],
        "site_id string, observed_at timestamp, flow_rate double",
    )
    eng.ingest_batch(
        batch, dataset_id="D", source="test", id_cols=["site_id"],
        time_col="observed_at",
    )
    df = eng.get_data(limit=10, offset=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_chunk_and_token_count_no_keyed_shuffle(spark):
    """Chunking and token counting are per-row generators/expressions —
    the only allowed exchange is spread_scan's round-robin (spreading a
    1-split scan before CPU-heavy text work); a hash/range partitioning
    would mean the operator regressed to keyed shuffling."""
    for name in ("text_chunk_sliding", "text_token_count"):
        plan = _plan(spark, name).lower()
        assert "hashpartitioning" not in plan, name
        assert "rangepartitioning" not in plan, name


def test_domain_cap_single_shuffle(spark):
    """Per-domain top-k: exactly one exchange (the domain key), the
    rank and the pre-cap count share the same window partitioning."""
    plan = _plan(spark, "curation_domain_cap")
    assert plan.count("Exchange") == 1


def test_daily_downsample_is_single_agg_with_partials(spark):
    """OHLC downsample must be one aggregate with map-side partial
    min_by/max_by — no window, no join, one exchange."""
    plan = _plan(spark, "daily_ohlc_downsample")
    assert "Window" not in plan
    assert "Join" not in plan
    assert "partial_min_by" in plan or "partial_max_by" in plan
    assert plan.count("Exchange") == 1


def test_bpe_pair_counts_bounded_topk_with_partials(spark):
    """Pair counting must partial-aggregate before its one count
    shuffle (wire cost |alphabet|^2 per task, not corpus-sized) and
    plan the top-50 as a bounded top-k, never a global sort."""
    plan = _plan(spark, "bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan
    # one keyed exchange (pair counts) + spread_scan's round-robin
    assert plan.count("Exchange") <= 2


def test_quality_percentile_single_domain_shuffle(spark):
    """percent_rank per domain: one keyed exchange (the domain key);
    the filter on the rounded rank stays above the window, no join."""
    plan = _plan(spark, "curation_quality_percentile")
    assert "Join" not in plan
    assert plan.lower().count("hashpartitioning") == 1


def test_snapshot_diff_one_keyed_join_no_nested_loop(spark):
    """The CDC derivation is exactly one key-partitioned full-outer
    join (full outer can't broadcast) — never a nested-loop or
    cartesian plan, and the change filter adds no extra shuffle."""
    plan = _plan(spark, "snapshot_diff_cdc")
    assert plan.count("SortMergeJoin") == 1
    assert "FullOuter" in plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_referential_integrity_audit_broadcasts_parents(spark):
    """Every FK edge probes a broadcast of the parent's distinct key
    set; child tables are never shuffled by the FK."""
    plan = _plan(spark, "referential_integrity_audit")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoop" not in plan


_PYTHON_OPERATORS = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def test_bloom_dedup_probe_shape(spark):
    """The Bloom gate's plan must keep its two scale properties: the
    probe is a JVM Filter with no Python operator anywhere, and the
    confirm side stays a hashed equi-join on the sha key — never a
    nested-loop over the batch. ``filter_new`` localCheckpoints the
    probe (one-pass exactness), which truncates its lineage out of the
    final plan, so the probe's own shape is asserted on
    ``docs.filter(_might_contain(...))``."""
    plan = _plan(spark, "dedup_bloom_incremental")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert not [op for op in _PYTHON_OPERATORS if op in plan]
    assert "LeftAnti" in plan

    from pyspark.sql import functions as F

    from gas_data_pipeline_spark.operators.dedup import (
        _bloom_positions,
        _might_contain,
    )

    docs = spark.range(50).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("text")
    )
    pos = _bloom_positions(F.sha2(F.col("text"), 256), 1 << 12, 7, 0x5EED)
    out = docs.filter(_might_contain(spark, bytes(1 << 9), pos))
    probe_plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in probe_plan and "LocalTableScan" in probe_plan
    assert not [op for op in _PYTHON_OPERATORS if op in probe_plan]
    assert out.count() == 0  # an all-zero bitmap holds no key


def test_pagerank_loop_joins_are_hashed(spark):
    """One PageRank round must plan as equi-joins + a partial-agg sum
    (checked on the loop body, not the checkpointed full query): no
    nested loop, and the rank aggregation shows map-side partials."""
    from pyspark.sql import functions as F
    from gas_data_pipeline_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(50)], "src bigint, dst bigint"
    )
    out = pagerank(e, iters=1, checkpoint=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "HashAggregate" in plan


def test_bloom_prune_never_drops_matches(spark):
    """bloom_prune returns a superset of the matchable probe rows, and
    bloom_pruned_join equals the naive join for inner and left_semi."""
    from pyspark.sql import functions as F
    from gas_data_pipeline_spark.operators.bloomjoin import (
        bloom_prune,
        bloom_pruned_join,
    )

    probe = spark.range(5000).select(
        F.col("id").alias("key"), (F.col("id") * 2).alias("v"), F.col("id").alias("__pos")
    )
    build = spark.range(100).select((F.col("id") * 37).alias("key"))
    pruned = bloom_prune(probe, build, "key")
    assert pruned.columns == probe.columns
    assert all(r.key == r["__pos"] for r in pruned.collect())  # passes through
    pruned_keys = {r.key for r in pruned.select("key").collect()}
    match_keys = {r.key for r in probe.join(build, "key", "left_semi").collect()}
    assert match_keys <= pruned_keys  # no false negatives
    assert len(pruned_keys) < 5000  # the bitmap actually pruned

    for how in ("inner", "left_semi"):
        got = {tuple(r) for r in bloom_pruned_join(probe, build, "key", how).collect()}
        want = {tuple(r) for r in probe.join(build, "key", how).collect()}
        assert got == want


def test_bloom_pruned_join_rejects_outer(spark):
    import pytest
    from pyspark.sql import functions as F
    from gas_data_pipeline_spark.operators.bloomjoin import bloom_pruned_join

    df = spark.range(10).select(F.col("id").alias("key"))
    with pytest.raises(ValueError):
        bloom_pruned_join(df, df, "key", how="left")


def test_heavy_hitters_broadcasts_candidates(spark):
    """The confirm pass must broadcast the tiny candidate set against
    the keyed stream (semi join) — never shuffle the full key column —
    and the exact count must show map-side partials."""
    plan = _plan(spark, "heavy_hitters_exact")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_bloom_pruned_join_probe_before_join(spark):
    """The bloom probe is a JVM Filter below the join (prune before the
    exchange) with no Python operator anywhere, the confirm is a
    hashed equi-join, the revenue aggregate keeps map-side partials,
    and the plan prints the bitmap's scan, not its bytes."""
    from gas_data_pipeline_spark.registry import all_queries

    df = all_queries()["bloom_pruned_join_revenue"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not [op for op in _PYTHON_OPERATORS if op in plan]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert len(plan) < 64 * 1024
    final = df._jdf.queryExecution().executedPlan().executedPlan()
    joins = [n for n in _plan_nodes(final) if n.nodeName().endswith("Join")]
    assert joins
    assert any(
        n.nodeName() == "Filter" and "bit_get(" in n.toString()
        for n in _plan_nodes(joins[0])
    )


def test_gap_fill_broadcasts_only_bounded_side(spark):
    """The dense-grid cross join must broadcast the 1-ROW bounds
    aggregate and stream the (unbounded-cardinality) series side: in
    the initial plan the only BroadcastExchange is the bounds min/max
    aggregate — never the distinct series set."""
    plan = _plan(spark, "gap_fill_daily_rollup")
    assert "BroadcastNestedLoopJoin BuildRight" in plan
    # The cross join's STREAMED (left) side is the distinct-series
    # aggregate, and its BUILD side — the first BroadcastExchange
    # printed after the join node — is the 1-row min/max bounds
    # aggregate. (Catalyst may additionally broadcast the daily agg
    # for the outer join at test scale; that is stats-driven and
    # bounded, not part of this contract.)
    after_bnlj = plan.split("BroadcastNestedLoopJoin", 1)[1]
    streamed = after_bnlj.split("BroadcastExchange", 1)[0]
    assert "HashAggregate(keys=[series" in streamed
    build = after_bnlj.split("BroadcastExchange", 1)[1]
    head = "\n".join(build.splitlines()[:4]).lower()
    assert "min(" in head and "max(" in head


def test_forecast_backtest_materializes_rollup_once(spark):
    """The seasonal-naive backtest self-joins the daily rollup on two
    DIFFERENT keys (day vs day-7), so exchange reuse can't kick in —
    the rollup must be materialized once (localCheckpoint) and BOTH
    join sides must read the materialized summary. A regression here
    reads the raw events parquet twice."""
    plan = _plan(spark, "forecast_seasonal_naive_backtest")
    assert "FileScan" not in plan  # no raw rescans: both sides are RDD scans
    assert plan.count("Scan ExistingRDD") == 2
    # The users×days summary side broadcasts; metrics fold map-side.
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_winsorize_single_percentile_pass_broadcast_fences(spark):
    """Winsorized scaling is exactly two passes: ONE percentile
    aggregate (both quantiles in the same ObjectHashAggregate, with
    map-side partial_percentile), fences broadcast back for a
    map-side clip + partial-agg moment fold. Regressions: a shuffle
    join on the fences, a percentile pass per quantile, or a third
    scan of the raw events."""
    plan = _plan(spark, "robust_scale_winsorized")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_percentile" in plan
    # Both quantiles computed in the one aggregate pass...
    assert plan.count("ObjectHashAggregate") == 2  # partial + final
    # ...and the raw table is scanned exactly twice (percentiles, clip).
    assert plan.count("FileScan") == 2


def test_ks_window_runs_on_bins_sized_summary(spark):
    """KS-D's running-CDF windows must consume the (feature, bin)
    histogram summaries, never raw rows: every exchange in the plan is
    keyed on the summary columns, and the histogram folds carry
    map-side partial counts so the wire cost is bins-sized regardless
    of corpus size."""
    plan = _plan(spark, "drift_ks_statistic")
    assert "Window" in plan
    assert "partial_count" in plan
    import re

    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    assert keys, plan
    # Raw-row columns (event_id, value, v) never key an exchange.
    assert all(k.startswith("feature") for k in keys), keys


def test_field_discovery_is_single_pass_no_row_expansion(spark, tmp_path):
    """The ingest hot loop's schema discovery profiles every column in
    ONE global aggregate over the batch: no rows x columns explode, no
    keyed exchange — the only exchange is the 1-row final-aggregate
    SinglePartition gather. (The field_profile QUERY keeps the
    exploded (field, cell) shape; the ingest path must not.)"""
    import pyspark.sql.functions as F

    from gas_data_pipeline_spark.engine import GasDataEngine
    from gas_data_pipeline_spark.functions.profiling import (
        infer_value_type,
        inferred_type_agg,
    )

    batch = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
    )

    def col_profile(c):
        v = F.col(c).cast("string")
        return F.struct(
            inferred_type_agg(infer_value_type(v)).alias("inferred_type"),
            (F.count(F.lit(1)) > F.count(v)).alias("nullable"),
            F.substring(F.min(v), 1, 200).alias("example_value"),
        )

    one = batch.agg(*[col_profile(c).alias(f"__p_{i}") for i, c in enumerate(batch.columns)])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan  # no explode of rows x columns
    assert "hashpartitioning" not in plan.lower()  # no keyed exchange
    assert "partial" in plan.lower()  # map-side combine before the gather
    # End-to-end: the engine writes the same catalog rows either way.
    eng = GasDataEngine(spark, str(tmp_path))
    eng._discover_and_register_fields(batch, "D")
    rows = {
        r["field_name"]: r["inferred_type"]
        for r in spark.read.parquet(eng.fields_path).collect()
    }
    assert rows == {"k": "integer", "v": "float"}


def test_q5_broadcasts_dims_and_pushes_date(spark):
    """The 6-table Q5 join must ride broadcasts for every dimension
    (supplier/nation/region at minimum — Catalyst prunes nation keys
    via the region filter before the fact joins) and push the
    o_orderdate predicate into the orders parquet scan."""
    plan = _plan(spark, "sql_q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_contamination_matrix_never_rescans_corpus(spark):
    """contamination_source_matrix's one corpus pass happens inside the
    checkpointed sources^2 summary: the returned plan must derive the
    matrix from that summary alone — no parquet FileScan (a naive
    pairs + separate-sizes formulation re-runs the gram aggregate
    three times), and the size lookups broadcast."""
    plan = _plan(spark, "contamination_source_matrix")
    assert "FileScan" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2


def test_ann_lsh_signed_broadcasts_and_rank_limits(spark):
    # The signed-ANN scale shape: query side broadcast on the bucket
    # key (the corpus never shuffles beyond the spread), pushdown of
    # the query filter to the scan, and WindowGroupLimit so only
    # per-partition top-k candidates cross the window exchange.
    plan = _plan(spark, "ann_lsh_signed")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "LessThan(vec_id,8)" in plan  # pushed query filter


def test_versioned_upsert_is_single_exchange(spark, tmp_path):
    # The one-shuffle merge contract (pipeline/silver.py's merge):
    # hashing by obs_date clusters every (series, time) group, the
    # dedup window rides that exchange, and the partitioned write
    # inherits it — a second keyed exchange is a regression.
    from pyspark.sql import functions as F

    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.pipeline.silver import KEYS, PARTITION_COL
    from pyspark.sql.window import Window

    e = table(spark, SF_DIR, "events")
    obs = e.select(
        F.concat(F.lit("NG_"), "user_id").alias("series_id"),
        F.col("ts").alias("observation_time"),
        F.col("value").alias("value"),
        F.current_timestamp().alias("ingestion_time"),
        F.lit(1).alias("__prio"),
        F.to_date("ts").alias(PARTITION_COL),
    )
    w = Window.partitionBy(PARTITION_COL, *KEYS).orderBy(
        F.col("__prio").desc(), F.col("ingestion_time").desc()
    )
    merged = (
        obs.repartition(F.col(PARTITION_COL))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_scan_row_groups_unreadable_footer_bounded_failsafe(spark, tmp_path, monkeypatch):
    """ADVICE r10 + round-11 review: on filesystems where footers
    can't be opened the original code answered 'enough parallelism' —
    exactly where the coarse-row-group hole lives on real clusters —
    and the first fix over-corrected to an UNCONDITIONAL repartition,
    taxing every multi-GB few-file scan with a full shuffle per query.
    Unreadable now means UNKNOWN (None), and the caller repartitions
    only while splits x maxPartitionBytes bounds the shuffle under the
    budget; bigger scans trust their split counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gas_data_pipeline_spark import catalog

    p = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table({"v": list(range(200_000))}), p, row_group_size=25_000
    )
    df = spark.read.parquet(p)
    monkeypatch.setattr(catalog, "_row_group_count", lambda uri: None)
    assert catalog._scan_row_groups(df, floor=16) is None
    # Small scan (bytes bounded under the budget): fail-safe fires.
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        df_small = spark.read.parquet(p)
        assert catalog.spread_scan(df_small, partitions=8) is not df_small
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # The budget decision itself, both sides of the line (the >2 GiB
    # branch can't be materialized with a test-sized file):
    assert catalog._cheap_shuffle(16, "134217728b")          # 2 GiB: in
    assert not catalog._cheap_shuffle(17, "134217728b")      # over: out
    assert not catalog._cheap_shuffle(1000, "4m")            # 4 GB: out
    assert catalog._cheap_shuffle(100, "64k")                # 6.4 MB: in
    assert not catalog._cheap_shuffle(3, "1gb")              # 3 GiB: out


def test_row_group_footer_cache_hits_and_invalidates(tmp_path):
    """Footer results are stat-keyed: the same file is parsed once per
    (mtime, size), and rewriting the file invalidates the entry."""
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gas_data_pipeline_spark import catalog

    p = str(tmp_path / "c.parquet")
    pq.write_table(pa.table({"v": list(range(100_000))}), p, row_group_size=25_000)
    catalog._FOOTER_CACHE.clear()
    assert catalog._row_group_count(p) == 4
    assert p in catalog._FOOTER_CACHE
    # Poison the cached value: a hit must return it without re-parsing.
    key, _ = catalog._FOOTER_CACHE[p]
    catalog._FOOTER_CACHE[p] = (key, 99)
    assert catalog._row_group_count(p) == 99
    # Rewrite -> new (mtime, size) -> re-parse, not the stale 99.
    pq.write_table(pa.table({"v": list(range(100_000))}), p, row_group_size=50_000)
    st = _os.stat(p)
    _os.utime(p, (st.st_atime, st.st_mtime + 2))  # mtime granularity guard
    assert catalog._row_group_count(p) == 2
    catalog._FOOTER_CACHE.clear()
