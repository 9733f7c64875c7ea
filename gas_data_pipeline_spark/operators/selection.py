"""Data-selection operators for training-corpus construction
(SURVEY §2.11 extensions, round 7): hashed importance weighting in
the style of DSIR (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling"), a Count-Min-Sketch mergeable
frequency summary (Cormode & Muthukrishnan 2005), and a broadcast
linear quality model — the model-based filtering stage of
C4/RefinedWeb-style pipelines.

Design rules shared with ``operators/curation.py``:

- Pure native Column expressions in every per-row path; the hashed
  n-gram feature map is embedded as a map literal (bounded by the
  bucket count, never by the corpus), so the scoring pass is a
  single scan with ZERO shuffles.
- Deterministic and portable: every hash derives from md5 of
  (salt, value) — DuckDB reproduces each bucket id, each draw, and
  each sketch cell bit-for-bit, so all of it is value-oracle-able.
- Shuffle discipline: fitting the importance model is ONE
  map-side-combinable aggregate to ``n_buckets`` rows; a CMS build
  is ONE aggregate to ``depth x width`` rows per group; sketch
  merge is an aggregate over sketch rows (never a rescan of facts).

Scale notes (100 TB): the only data-sized exchange in this module is
the map-side-combined fit/build aggregate, whose reduce side is
bucket- or sketch-sized (128 / 256 rows), not corpus-sized. Scoring,
estimation, and model application are embarrassingly parallel
scan-project stages that inherit the input's partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gas_data_pipeline_spark.functions.exprs import bind

# 2^52: md5-prefix 13 hex chars = 52 bits, exact in a double — the
# same portable-uniform construction as operators/curation.py.
_TWO_52 = float(1 << 52)


def portable_bucket(value: Column, salt: str, n_buckets: int) -> Column:
    """Deterministic hash bucket in [0, n_buckets): the first 8 hex
    chars of md5(salt ':' value) read as a 32-bit integer, mod K.
    DuckDB twin::

        CAST(concat('0x', substring(md5('<salt>:' || v), 1, 8))
             AS BIGINT) % K

    md5 (unlike Spark's xxhash64 / DuckDB's hash) is the one hash
    both engines evaluate identically, which is what makes every
    bucketed operator here value-oracle-able."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), value.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % n_buckets
    )


# ---------------------------------------------------------------------------
# DSIR-style hashed importance weighting
# ---------------------------------------------------------------------------


def dsir_fit_log_ratios(
    docs: DataFrame,
    words: Column,
    is_target: Column,
    *,
    salt: str = "dsir-v1",
    n_buckets: int = 128,
    alpha: float = 0.5,
) -> DataFrame:
    """Fit the hashed-unigram importance model: bucket every word of
    every document, count bucket mass under the target slice vs the
    rest, and return ``n_buckets`` rows of Laplace-smoothed
    log-probability ratios ``lr = log p_target(b) - log p_raw(b)``.

    One corpus scan, one map-side-combinable aggregate whose reduce
    side is ``n_buckets`` rows — at 100 TB the shuffle payload is
    partitions x buckets partial counts, never token-sized. ``lr`` is
    quantized to 9 decimals so the per-document sums downstream are
    sums of identical addends in Spark and the DuckDB oracle
    (association order then perturbs at ~1e-13, far inside the
    6-decimal compare)."""
    exploded = docs.select(
        F.explode(words).alias("word"), is_target.alias("is_target")
    )
    grams = exploded.select(
        portable_bucket(F.col("word"), salt, n_buckets).alias("bucket"),
        "is_target",
    )
    fit = grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("t_cnt"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("r_cnt"),
    )
    totals = fit.agg(
        F.sum("t_cnt").alias("t_tot"), F.sum("r_cnt").alias("r_tot")
    )
    ak = alpha * n_buckets
    return fit.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "t_cnt",
        "r_cnt",
        F.round(
            F.log((F.col("t_cnt") + alpha) / (F.col("t_tot") + ak))
            - F.log((F.col("r_cnt") + alpha) / (F.col("r_tot") + ak)),
            9,
        ).alias("lr"),
    )


def dsir_log_ratio_map(ratios: DataFrame) -> Column:
    """Collect the fitted ratio table into a ``map<bigint,bigint>``
    literal of FIXED-POINT log-ratios (lr x 1e9 as integers). The
    collect is bounded by construction (``n_buckets`` rows — a model,
    not data), mirroring the codebook embeds in
    ``operators/similarity.py``: the model rides the task closure to
    every executor and the scoring join disappears entirely.

    Fixed-point matters for the oracle contract: per-document weights
    are sums of these addends, and integer sums are exact and
    association-order-independent — a float fold can land a document
    exactly on a round-half boundary in one engine and off it in the
    other (observed once in 5000 docs at sf0.1)."""
    rows = ratios.select("bucket", "lr").collect()
    pairs: list[Column] = []
    for r in rows:
        pairs.append(F.lit(int(r["bucket"])))
        pairs.append(F.lit(int(round(float(r["lr"]) * 1e9))))
    return F.create_map(*pairs)


def dsir_score(
    docs: DataFrame,
    words: Column,
    ratio_map: Column,
    *,
    salt: str = "dsir-v1",
    n_buckets: int = 128,
) -> DataFrame:
    """Score every document with its summed hashed log-importance
    weight — a ZERO-shuffle scan-project pass: the fold runs JVM-side
    over the word array (``F.aggregate``), the model is a map
    literal, and the output stays one row per input row, so the plan
    inherits the scan's partitioning untouched. The word array is
    let-bound and the (n_words, logw) pair expands through
    ``F.inline`` — a Generate node projections cannot collapse into,
    so the split runs exactly once per row."""
    scored = bind(
        words,
        lambda ws: F.struct(
            F.size(ws).cast("bigint").alias("n_words"),
            F.round(
                F.aggregate(
                    ws,
                    F.lit(0).cast("bigint"),
                    lambda acc, w: acc
                    + F.coalesce(
                        F.element_at(
                            ratio_map, portable_bucket(w, salt, n_buckets)
                        ),
                        F.lit(0).cast("bigint"),
                    ),
                )
                / F.lit(1e9),
                6,
            ).alias("logw"),
        ),
    )
    return docs.select("*", F.inline(F.array(scored)))


# ---------------------------------------------------------------------------
# Count-Min Sketch: build / merge / estimate
# ---------------------------------------------------------------------------


def cms_rows(key: Column, *, salt: str, depth: int, width: int) -> Column:
    """The ``depth`` (row, bucket) cells a key hashes into — one
    md5-derived bucket per sketch row, exploded by the caller. Each
    sketch row uses an independent salt ``'<salt>:<j>'``."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("row_j"),
                portable_bucket(key, f"{salt}:{j}", width).alias("bucket"),
            )
            for j in range(depth)
        ]
    )


def cms_build(
    df: DataFrame,
    key: Column,
    group_cols: list[str],
    *,
    salt: str = "cms-v1",
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Build one Count-Min sketch per group: ONE map-side-combinable
    aggregate from facts to ``groups x depth x width`` summary rows.
    The reduce-side exchange is sketch-sized; the fact table is
    scanned exactly once and never again — estimation and merge work
    on the summary."""
    cells = df.select(
        *group_cols,
        F.explode(cms_rows(key, salt=salt, depth=depth, width=width)).alias(
            "cell"
        ),
    ).select(*group_cols, "cell.row_j", "cell.bucket")
    return cells.groupBy(*group_cols, "row_j", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_merge(sketches: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge sketches by cell-wise sum — the defining mergeable-summary
    property (same algebra as the HLL register merge in
    ``operators/sketches.py``): an aggregate over sketch rows, never a
    rescan of the facts that built them."""
    keys = (group_cols or []) + ["row_j", "bucket"]
    return sketches.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    candidates: DataFrame,
    merged: DataFrame,
    key: Column,
    *,
    salt: str = "cms-v1",
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Point-estimate each candidate key: min over the sketch's
    ``depth`` cells (the classic CMS upper-bound estimator — never an
    underestimate). The merged sketch is ``depth x width`` rows, so
    the lookup join is a broadcast; candidates stay partitioned as
    they arrive and the final min is a candidates-sized aggregate."""
    probes = candidates.select(
        "*",
        F.explode(cms_rows(key, salt=salt, depth=depth, width=width)).alias(
            "cell"
        ),
    ).select("*", "cell.row_j", "cell.bucket").drop("cell")
    joined = probes.join(F.broadcast(merged), ["row_j", "bucket"], "left")
    others = [c for c in candidates.columns]
    return joined.groupBy(*others).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate")
    )


# ---------------------------------------------------------------------------
# Broadcast linear quality model
# ---------------------------------------------------------------------------

# "Pretrained" quality weights: a fixed linear model over cheap
# lexical features — the shape of fastText-style quality classifiers
# in C4/RefinedWeb pipelines, with the learned weights replaced by a
# deterministic constant vector so the whole stage value-oracles.
QUALITY_STOPWORDS = ("a", "the", "of", "and", "to", "in", "is", "for")
QUALITY_BIAS = 4.85
QUALITY_W_NWORDS = 0.05
QUALITY_W_DISTINCT = 6.0
QUALITY_W_STOP = 12.0
QUALITY_W_WLEN = -2.5


def quality_features(words: Column) -> dict[str, Column]:
    """Lexical quality features over a bound word array: length,
    lexical diversity, stopword share, mean word length. All native
    array expressions — one pass, no shuffle, no UDF."""
    n = F.size(words).cast("bigint")
    nd = F.size(F.array_distinct(words)).cast("bigint")
    n_stop = F.size(
        F.filter(words, lambda w: w.isin(*QUALITY_STOPWORDS))
    ).cast("bigint")
    total_len = F.aggregate(
        words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    safe_n = F.greatest(n, F.lit(1)).cast("double")
    return {
        "n_words": n,
        "distinct_ratio": nd / safe_n,
        "stop_ratio": n_stop / safe_n,
        "mean_wlen": total_len / safe_n,
    }


def quality_score(feats: dict[str, Column]) -> Column:
    """Sigmoid of the fixed linear model — a [0,1] quality score."""
    z = (
        F.lit(QUALITY_BIAS)
        + F.lit(QUALITY_W_NWORDS) * feats["n_words"]
        + F.lit(QUALITY_W_DISTINCT) * feats["distinct_ratio"]
        + F.lit(QUALITY_W_STOP) * feats["stop_ratio"]
        + F.lit(QUALITY_W_WLEN) * feats["mean_wlen"]
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection
# ---------------------------------------------------------------------------


def dlit(x: float) -> str:
    """Shortest-roundtrip double literal for generated SQL: Python
    ``repr`` round-trips the exact double and Spark's parser
    (``Double.parseDouble``) is correctly rounded, so the parsed
    constant is bit-identical to ``F.lit(float(x))`` — but arrives in
    ONE string instead of one py4j call per element (a 16-center x
    64-dim candidate array is ~1k literals; Column-API construction
    paid ~1 py4j round trip each, seconds of pure plan-BUILD time)."""
    return repr(float(x)) + "D"


def json_lit(x: list, sql_type: str) -> str:
    """A (nested) list of doubles as ONE generated-SQL constant: a JSON
    string that the optimizer folds (``from_json`` of a literal is
    foldable). Python's JSON writer uses ``repr`` and Spark's reader
    is correctly rounded, so every double round-trips exactly as with
    :func:`dlit` — but the array parses as one token instead of one
    per element: ~5x less planning time for a 16-center or a
    16 x 32-code model."""
    import json

    import numpy as np

    if not np.isfinite(np.asarray(x, dtype="float64")).all():
        raise ValueError("non-finite value in a generated-SQL constant")
    return f"from_json('{json.dumps(x)}', '{sql_type}')"


def fp_round_sql(t: str) -> str:
    """``CAST(round(t, 0) AS BIGINT)`` for a non-negative or NaN double
    ``t``, bit for bit, without ``round``'s per-call BigDecimal (~40%
    of a fixed-point distance fold). Below 0.5 the answer is 0; from
    0.5 to 2^52, t + 0.5 is exact, so its floor is the half-up round;
    from 2^52 on, t is integral and casts directly (NaN casts to 0,
    as after ``round``)."""
    return (
        f"IF({t} < 0.5D, 0L, IF({t} < 4503599627370496D, "
        f"floor({t} + 0.5D), CAST({t} AS BIGINT)))"
    )


# The one fixed-point scale: every quantized distance and dot product,
# here and in the DuckDB oracles, is round(x * 1e6) as a BIGINT.
QUANTUM = 1e6


def sq_dist_fp_sql(vexpr: str, center: list[float]) -> str:
    """Fixed-point squared-L2 distance between an array expression and
    a constant center, as generated SQL: each elementwise
    (a - b)² · QUANTUM is rounded HALF_UP to a BIGINT
    (:func:`fp_round_sql`) BEFORE the sum, so the total is an integer
    sum — exact and association-order-independent, which is what lets
    a farthest-point argmax or a nearest-center argmin agree
    bit-for-bit with a DuckDB oracle (a float fold could rank two
    near-tied candidates differently across engines). DuckDB twin::

        list_sum(list_transform(range(1, len(v) + 1),
            i -> CAST(round((v[i]-c[i]) * (v[i]-c[i]) * 1e6) AS BIGINT)))
    """
    return (
        f"aggregate(zip_with({vexpr}, {json_lit(center, 'array<double>')}, "
        f"(a, b) -> (a - b) * (a - b) * {dlit(QUANTUM)}), "
        f"CAST(0 AS BIGINT), (acc, t) -> acc + {fp_round_sql('t')})"
    )


def center_cands_sql(vexpr: str, centers: list[dict]) -> str:
    """The (sq_fp, center_id) candidate-struct array as ONE generated
    SQL expression — the argmin/probe device of
    :func:`assign_to_centers`, built with a single parse instead of
    O(k x d) Column calls."""
    return "array(" + ",".join(
        f"named_struct('sq_fp', {sq_dist_fp_sql(vexpr, c['vec'])}, "
        f"'center_id', CAST({int(c['id'])} AS BIGINT))"
        for c in centers
    ) + ")"


# Bounded deterministic training sample for codebook learning (IVF /
# PQ coarse quantizers and coreset seeds): the SAMPLE_N rows with the
# smallest md5(seed:id) draws. Constant-size regardless of corpus
# scale, so training cost is independent of data volume; the identical
# sample is replayable in SQL as ORDER BY md5(...) LIMIT n.
KC_SAMPLE_N = 256
KC_SAMPLE_SEED = "kctrain-v1"


def kc_sample_sql(seed: str = KC_SAMPLE_SEED, n: int = KC_SAMPLE_N) -> str:
    """DuckDB twin of :func:`kcenter_train_sample`'s draw: the ORDER
    BY / LIMIT tail that selects the identical bounded sample."""
    return (
        f"ORDER BY md5('{seed}:' || CAST(vec_id AS VARCHAR)) LIMIT {n}"
    )


def kcenter_train_sample(
    points: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    sample_n: int = KC_SAMPLE_N,
    seed: str = KC_SAMPLE_SEED,
) -> list[tuple]:
    """Collect the bounded deterministic training sample: the
    ``sample_n`` rows with the lexicographically smallest
    ``md5(seed:id)`` draws (distinct ids → distinct hex keys, so the
    cut is tie-free), vectors cast to double IN SPARK so the driver
    sees exactly the values both engines compute. ONE
    TakeOrderedAndProject job — the entire cluster cost of training.
    At 100 TB this is the standard "train the quantizer on a bounded
    sample, apply it to everything" shape: the sample never grows
    with the corpus, and the md5 draw makes it reproducible across
    engines, reruns, and cluster layouts."""
    if not (1 <= sample_n <= 1_000_000):
        # TakeOrdered's buffer scales with the limit, and a >1M-row
        # "sample" is a full-corpus training loop in disguise — refuse
        # (the bounded-collect discipline of dedup's vocab guard).
        raise ValueError(f"training sample must be 1..1e6 rows, got {sample_n=}")
    key = F.md5(
        F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
    )
    rows = (
        points.select(
            F.col(id_col).alias("pid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "v"
            ),
            key.alias("__draw"),
        )
        .orderBy("__draw")
        .limit(sample_n)
        .select("pid", "v")
        .collect()
    )
    return [(r["pid"], list(r["v"])) for r in rows]


def _fp_halfup(r):
    """Vectorized HALF_UP fixed-point on non-negative doubles ``r``,
    bit-matching Spark ``F.round(x, 0)`` (BigDecimal HALF_UP) and
    DuckDB ``round(x)`` (half away from zero): ``floor(r + 0.5)``
    with an exact-decimal recheck of any element near an integer
    boundary. The suspicion band is 4 ulps of ``r + 0.5`` PER ELEMENT
    (``np.spacing``), not a fixed 1e-6: the IEEE addition error is
    ≤ 0.5 ulp at any magnitude, so the band covers every element the
    fast path could misround even for vectors/quanta far larger than
    today's |x| ≤ 0.53 embeddings (ADVICE r9: the fixed band stopped
    covering once ulp(y) exceeded 1e-6, i.e. y ≳ 4.5e9)."""
    import numpy as np

    y = r + 0.5
    f = np.floor(y)
    frac = y - f
    eps = 4.0 * np.spacing(y)
    sus = (frac <= eps) | (frac >= 1.0 - eps)
    if sus.any():
        from decimal import ROUND_HALF_UP, Decimal

        flat_r = r[sus]
        exact = np.array(
            [
                float(
                    Decimal(float(x)).quantize(
                        Decimal(1), rounding=ROUND_HALF_UP
                    )
                )
                for x in flat_r
            ]
        )
        f[sus] = exact
    return f.astype("int64")


def kcenter_greedy_local(sample: list[tuple], *, k: int) -> list[dict]:
    """Greedy k-center (farthest-point traversal — the
    2-approximation of Gonzalez 1985, the coreset selector of Sener &
    Savarese 2018 "Active Learning for CNNs: A Core-Set Approach") over
    a BOUNDED training sample (the :func:`kcenter_train_sample`
    output), as numpy on the driver: seed with the minimum id, then
    ``k-1`` rounds of "pick the point farthest from the chosen set"
    (max running-min fixed-point distance, ties to the smallest id) —
    zero Spark jobs. Per-element arithmetic is ``(a-b)*(a-b)*QUANTUM``
    in IEEE doubles (the op order of :func:`sq_dist_fp_sql` and its
    DuckDB twin) then HALF_UP to int64 before the order-free integer
    sum, so the selection replays bit-for-bit in a recursive CTE over
    the same sample.

    Fewer than ``k`` distinct points is not an error: selection stops
    early when no unchosen point remains (the oracle's recursive-CTE
    early termination) and returns the centers found. Each center is
    ``{step, id, sq_fp, vec}``: ``sq_fp`` is the fixed-point distance
    to the prior set — None for the seed — so step j's ``sq_fp`` is
    the max-min coverage radius of step j-1's set."""
    import numpy as np

    if k < 1:
        raise ValueError(f"need k >= 1, got {k=}")
    if not sample:
        return []
    ids = [pid for pid, _ in sample]
    mat = np.array([v for _, v in sample], dtype="float64")
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    seed_i = order[0]
    centers: list[dict] = [
        {
            "step": 1,
            "id": ids[seed_i],
            "sq_fp": None,
            "vec": [float(x) for x in mat[seed_i]],
        }
    ]
    chosen = np.zeros(len(ids), dtype=bool)
    chosen[seed_i] = True

    def fp_dist(center_row):
        d = mat - center_row
        return _fp_halfup(d * d * QUANTUM).sum(axis=1)

    mind = fp_dist(mat[seed_i])
    id_arr = np.array(ids)
    for step in range(2, k + 1):
        if chosen.all():
            break  # fewer than k distinct points: stop like the oracle
        cand = np.where(~chosen)[0]
        best_val = mind[cand].max()
        ties = cand[mind[cand] == best_val]
        far_i = ties[np.argmin(id_arr[ties])]
        centers.append(
            {
                "step": step,
                "id": ids[far_i],
                "sq_fp": int(mind[far_i]),
                "vec": [float(x) for x in mat[far_i]],
            }
        )
        chosen[far_i] = True
        mind = np.minimum(mind, fp_dist(mat[far_i]))
    return centers


def kcenter_greedy_sampled(
    points: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 8,
    sample_n: int = KC_SAMPLE_N,
    seed: str = KC_SAMPLE_SEED,
) -> list[dict]:
    """Greedy k-center trained on the bounded deterministic sample:
    ONE Spark job (the sample's TakeOrderedAndProject) plus the
    driver-side :func:`kcenter_greedy_local`. Training cost is constant
    at any corpus scale — at 100 TB, one bounded sample, never a
    full-corpus pass per round, learns a 16-row model. A ``sample_n``
    of at least the corpus row count trains on the whole corpus.
    Assignment is the zero-shuffle :func:`assign_to_centers` scan."""
    sample = kcenter_train_sample(
        points, id_col, vec_col, sample_n=sample_n, seed=seed
    )
    return kcenter_greedy_local(sample, k=k)


def assign_to_centers(
    pts: DataFrame,
    centers: list[dict],
    *,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-center assignment against a FROZEN center list (the
    apply side of k-center selection, and the coarse-quantizer routing
    step of an IVF-style vector index): one zero-shuffle scan over an
    ``array_sort`` of the k broadcast (dist, center) structs — ties to
    the smallest center id, distances fixed-point so the argmin is
    engine-exact. ``pts`` must carry ``pid`` and ``v`` (an array of
    doubles) columns; extra ``payload_cols`` ride
    through so callers never need a corpus-sized re-join. The
    candidate array is generated SQL (:func:`center_cands_sql`) so
    plan construction costs one parse, not O(k x d) py4j calls."""
    best = F.array_min(F.expr(center_cands_sql("v", centers)))
    return pts.select(
        "pid",
        *payload_cols,
        best["center_id"].alias("center_id"),
        best["sq_fp"].alias("sq_fp"),
    )
