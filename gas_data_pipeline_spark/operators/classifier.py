"""Trained quality-classifier lifecycle (SURVEY §2.11 extensions):
a bounded driver fit of a hashing-trick linear classifier, then a
stochastic acceptance filter over its scores applied in generated
SQL — the "train a discriminator against a reference corpus, keep
crawl docs it likes" stage of GPT-3 / CCNet / RefinedWeb style
pipelines (Brown et al. 2020 §A; the reference repo has no
model-training surface, so this is a beyond-reference family mandated
by the build brief).

Where :mod:`operators/selection.py` ships a FIXED weight vector
(`quality_model_score`), this module closes the lifecycle the way
``operators/bpe.py`` does for tokenizers: train → inspect trajectory
→ apply. The split is the one "ML Inference Pipeline Execution Using
Pure SQL Based on Operator Fusion" (ICDE 2025) argues for:

- **Bounded driver fit.** The trainer draws :func:`fit_sample` (at
  most ``FIT_N`` docs, one TakeOrderedAndProject), featurizes it in
  Spark and collects ``(bs, y_fp)`` in ONE job. Full-batch gradient
  descent then runs on the driver over a numpy int64 bucket-count
  matrix ``X``: margins are ``X @ w``, gradients ``X.T @ e``. The fit
  costs the same at any corpus size, and no Spark job runs per
  iteration.
- **SQL apply.** The trained model (65 integers — a model, not data)
  is embedded in the scoring scan as a ``map<bigint,bigint>``
  literal, so the per-doc margin ``z_d`` is a ZERO-shuffle JVM-side
  array fold with no join (same embed discipline as the DSIR ratio
  map and the IVF codebooks).
- **Engine-exact arithmetic.** Every quantity is fixed-point BIGINT
  (scale 1e6): the activation is a HARD sigmoid
  ``clamp(floor(z/4) + 0.5, 0, 1)`` (Collobert 2004's piecewise
  approximation), so the whole trajectory is integer sums plus
  IEEE-exact ``floor(x / 4.0)`` / ``floor(g·η / N)`` steps — numpy on
  the driver, Spark in the apply scan and DuckDB's unrolled replay of
  all three iterations agree bit-for-bit, which is what makes a
  TRAINING RUN value-oracle-able (a float ``exp`` sigmoid would drift
  in the last ulp and flip fixed-point boundaries).

Labels are deterministic weak supervision: ``y = 1`` for the target
slice (English docs — the same "reference corpus" proxy the DSIR fit
uses), ``y = 0`` for the rest.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gas_data_pipeline_spark.operators.selection import portable_bucket

# Fixed-point scale for probabilities, errors, and weights.
FP = 1_000_000
# Hard-sigmoid slope 1/4 (Collobert 2004): p = clamp(z/4 + 1/2, 0, 1).
SIGMOID_DIV = 4.0
# Bias term travels as the sentinel bucket -1 (one occurrence per doc).
BIAS_BUCKET = -1
# Fit-sample bound: training collects at most this many docs.
FIT_N = 2048


def hashed_buckets(words: Column, *, salt: str, dim: int) -> Column:
    """Hashing-trick featurization: each word of the bound array maps
    to its md5-derived bucket in ``[0, dim)``. Per-doc counts of
    these buckets ARE the feature vector — never materialized wider
    than the word array itself."""
    return F.transform(words, lambda w: portable_bucket(w, salt, dim))


def margin_fp(buckets: Column, w_map: Column, bias_fp: int) -> Column:
    """Fixed-point margin ``z_d = b + Σ_j w_j x_dj`` as a JVM-side
    fold over the doc's bucket array against the broadcast weight-map
    literal — zero shuffle, zero join, exact integer sum."""
    return F.aggregate(
        buckets,
        F.lit(int(bias_fp)).cast("bigint"),
        lambda acc, b: acc
        + F.coalesce(F.element_at(w_map, b), F.lit(0).cast("bigint")),
    )


def hard_sigmoid_fp(z_fp: Column) -> Column:
    """``p = clamp(floor(z/4) + FP/2, 0, FP)`` — the piecewise-linear
    sigmoid in fixed point. ``z / 4.0`` divides by a power of two
    (exact in IEEE doubles), so ``floor`` is engine-portable."""
    return F.least(
        F.greatest(
            F.floor(z_fp / F.lit(SIGMOID_DIV)).cast("bigint")
            + F.lit(FP // 2),
            F.lit(0).cast("bigint"),
        ),
        F.lit(FP).cast("bigint"),
    )


def _weight_map(weights: dict[int, int]) -> Column:
    pairs: list[Column] = []
    for b, w in weights.items():
        if b == BIAS_BUCKET:
            continue
        pairs.append(F.lit(int(b)).cast("bigint"))
        pairs.append(F.lit(int(w)).cast("bigint"))
    if not pairs:  # an empty (all-zero) model
        return F.map_from_arrays(
            F.array().cast("array<bigint>"), F.array().cast("array<bigint>")
        )
    return F.create_map(*pairs)


def fit_sample(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    n: int = FIT_N,
    salt: str = "qcf-fit",
) -> DataFrame:
    """Deterministic bounded fit sample (VERDICT r11 #3): the ``n``
    docs with the smallest ``md5(salt:id)`` draw — the same
    smallest-hash device the k-center trainer uses. The plan is ONE
    TakeOrderedAndProject (scan + bounded per-partition heap, never a
    global sort), so the FIT cost of the classifier stops growing
    with the corpus: at 100 TB the trainer still optimizes over
    ``n`` rows while the scoring pass stays a full-corpus zero-shuffle
    scan. Exactly replayable in SQL (``ORDER BY md5(...) LIMIT n`` —
    md5 of distinct ids never ties), corpora at or below ``n`` train
    full-batch unchanged."""
    key = F.md5(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    )
    return docs.orderBy(key).limit(n)


def train_quality_classifier(
    docs: DataFrame,
    words: Column,
    is_target: Column,
    *,
    salt: str = "qclf-v1",
    dim: int = 64,
    iters: int = 3,
    eta: float = 0.0625,
) -> list[dict[int, int]]:
    """Bounded driver fit: full-batch gradient descent on the
    hard-sigmoid squared-error surrogate over :func:`fit_sample`'s
    ``FIT_N`` docs of ``docs`` (keyed by ``doc_id``). Returns the
    weight snapshot AFTER each iteration (a list of ``{bucket: w_fp}``
    dicts including the bias at bucket −1) so callers can expose the
    whole trajectory to an oracle.

    Spark runs ONE job: the sample's TakeOrderedAndProject, which
    featurizes each doc (hashed bucket array ``bs``, fixed-point label
    ``y_fp``) and collects at most ``FIT_N`` rows. The iterations run
    on the driver over the int64 count matrix ``X`` (doc × bucket):
    ``e = hard_sigmoid(X @ w + b) − y``, ``g = X.T @ e``, and
    ``w_j ← w_j − floor(g_j · η / N)`` per bucket any doc hashed into
    (the bias steps on ``Σ e``). A doc whose bucket array is null
    (null text) adds no gradient row and does not count in N.

    ``eta`` must be a power of two so ``g · η`` is exact in IEEE
    doubles (the oracle contract); anything else raises ValueError.
    The 1/16 default is sized to the corpus's feature scale: docs
    average ~50 word occurrences whose bucket weights all move
    together on the first step, so a step that changes each weight by
    Δ moves a margin by ~50Δ — 1/16 keeps first-step margins inside
    the hard sigmoid's linear band (|z| < 2e6) instead of slamming
    every doc to a saturated 0/1 where gradients stop being
    informative."""
    if not (eta > 0 and math.frexp(eta)[0] == 0.5):
        raise ValueError(f"eta must be a power of two, got {eta!r}")
    rows = [
        (r["bs"], r["y_fp"])
        for r in fit_sample(docs)
        .select(
            hashed_buckets(words, salt=salt, dim=dim).alias("bs"),
            F.when(is_target, F.lit(FP)).otherwise(F.lit(0)).alias("y_fp"),
        )
        .collect()
        if r["bs"] is not None
    ]
    n_docs = len(rows)
    sizes = np.fromiter((len(bs) for bs, _ in rows), np.int64, n_docs)
    cells = np.repeat(np.arange(n_docs), sizes) * dim + np.fromiter(
        (b for bs, _ in rows for b in bs), np.int64, int(sizes.sum())
    )
    x = np.bincount(cells, minlength=n_docs * dim).reshape(n_docs, dim)
    y = np.fromiter((y for _, y in rows), np.int64, n_docs)
    seen = np.flatnonzero(x.any(axis=0)).tolist()
    w = np.zeros(dim, np.int64)
    bias = 0
    snapshots: list[dict[int, int]] = []
    for _ in range(iters):
        z = x @ w + bias
        p = np.clip(np.floor(z / SIGMOID_DIV).astype(np.int64) + FP // 2, 0, FP)
        e = p - y
        g = x.T @ e
        # g·η exact (η = power of two), /N IEEE-exact-rounded, floor —
        # bit-identical in numpy, CPython and DuckDB.
        for b in seen:
            w[b] -= math.floor(int(g[b]) * eta / n_docs)
        snap = {b: int(w[b]) for b in seen}
        if n_docs:
            bias -= math.floor(int(e.sum()) * eta / n_docs)
            snap[BIAS_BUCKET] = bias
        snapshots.append(snap)
    return snapshots


def score_fp(
    docs: DataFrame,
    words: Column,
    weights: dict[int, int],
    *,
    salt: str = "qclf-v1",
    dim: int = 64,
) -> Column:
    """Fixed-point classifier score of each doc under a trained
    snapshot — the zero-shuffle apply side: featurize inline, the
    model as a map literal, the margin as an array fold, then the hard
    sigmoid."""
    w_map = _weight_map(weights)
    bias = weights.get(BIAS_BUCKET, 0)
    return hard_sigmoid_fp(
        margin_fp(hashed_buckets(words, salt=salt, dim=dim), w_map, bias)
    )
