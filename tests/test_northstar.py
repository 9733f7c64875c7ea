"""Ground-truth tests for the north-star operators whose driver checks
are rows-only (engine-specific hashing: SimHash, LSH) plus the
multimodal crc path the DuckDB oracle can't cover.

These pin the *semantic* claims the docstrings make: planted near-dups
separate from random pairs under SimHash; banding honors the pigeonhole
guarantee; LSH candidates score exactly and recall clears a floor (and
is 100% for planted exact duplicates); mapInPandas features match a
local recompute.
"""

from __future__ import annotations

import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _simhash_map(spark):
    from gas_data_pipeline_spark.operators.dedup import simhash64
    from gas_data_pipeline_spark.operators.text import tokenize
    from gas_data_pipeline_spark.suite.northstar import _docs_with_planted

    docs = _docs_with_planted(spark, SF_SMALL)
    pdf = docs.select(
        "doc_id", simhash64(tokenize(F.col("text"))).alias("simhash")
    ).toPandas()
    return dict(zip(pdf.doc_id, pdf.simhash))


def _hamming(a: int, b: int) -> int:
    return bin((int(a) ^ int(b)) & (2**64 - 1)).count("1")


def test_simhash_pandas_matches_expression(spark):
    """The numpy fast path must be bit-identical to the pure-expression
    formulation (same MSB-first majority vote over token xxhash64s)."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.dedup import (
        simhash64,
        simhash64_pandas,
    )
    from gas_data_pipeline_spark.operators.text import tokenize

    docs = table(spark, SF_SMALL, "documents").limit(50)
    sh = simhash64_pandas()
    both = docs.select(
        simhash64(tokenize(F.col("text"))).alias("expr"),
        sh(F.transform(tokenize(F.col("text")), lambda t: F.xxhash64(t))).alias(
            "pd"
        ),
    ).toPandas()
    assert (both["expr"] == both["pd"]).all()


def test_simhash_separates_planted_near_dups(spark):
    from gas_data_pipeline_spark.suite.northstar import PLANT_OFFSET

    m = _simhash_map(spark)
    planted = [
        (d, d + PLANT_OFFSET) for d in range(20) if d + PLANT_OFFSET in m
    ]
    assert len(planted) == 20
    planted_ham = [_hamming(m[a], m[b]) for a, b in planted]
    # Near-identical docs (3 appended words) stay within a few bits.
    assert max(planted_ham) <= 12, planted_ham

    rng = np.random.default_rng(0)
    ids = list(m)
    random_ham = [
        _hamming(m[ids[i]], m[ids[j]])
        for i, j in rng.integers(0, len(ids), size=(200, 2))
        if ids[i] != ids[j]
    ]
    # 64-bit fingerprints of unrelated docs differ in ~20+ bits.
    assert float(np.mean(random_ham)) > 2 * float(np.mean(planted_ham))


def test_simhash_band_pairs_pigeonhole(spark):
    from gas_data_pipeline_spark.operators.dedup import simhash_band_pairs
    from gas_data_pipeline_spark.suite.northstar import (
        PLANT_OFFSET,
        _docs_with_planted,
    )
    from gas_data_pipeline_spark.operators.dedup import simhash64
    from gas_data_pipeline_spark.operators.text import tokenize

    docs = _docs_with_planted(spark, SF_SMALL)
    sh = docs.select(
        "doc_id", simhash64(tokenize(F.col("text"))).alias("simhash")
    )
    pairs = simhash_band_pairs(sh, "doc_id", "simhash", max_hamming=3).toPandas()

    m = _simhash_map(spark)
    # Soundness: every returned pair really is within the bound.
    for row in pairs.itertuples():
        assert _hamming(m[row.id_a], m[row.id_b]) <= 3
    # Completeness (pigeonhole): any pair within Hamming<=3 shares a
    # 16-bit quarter-band, so every qualifying planted pair MUST appear.
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    for d in range(20):
        a, b = d, d + PLANT_OFFSET
        if b in m and _hamming(m[a], m[b]) <= 3:
            assert (a, b) in got, f"missed guaranteed pair {(a, b)}"


def test_simhash_band_pairs_bands_follow_the_bound(spark):
    """The band count follows max_hamming: 0 against a value with one
    set bit in each 16-bit quarter plus one more bit (distance 5)
    shares no quarter, so fixed 16-bit quarters miss it; with
    max_hamming + 1 = 6 bands pigeonhole guarantees a shared band."""
    from gas_data_pipeline_spark.operators.dedup import simhash_band_pairs

    v = (1 << 0) | (1 << 1) | (1 << 16) | (1 << 32) | (1 << 48)
    sh = spark.createDataFrame([(1, 0), (2, v)], "doc_id long, simhash long")
    got = [tuple(r) for r in simhash_band_pairs(sh, "doc_id", "simhash", 5).collect()]
    assert got == [(1, 2, 5)]
    assert simhash_band_pairs(sh, "doc_id", "simhash", 4).count() == 0
    for bad in (-1, 64):
        with pytest.raises(ValueError, match="max_hamming"):
            simhash_band_pairs(sh, "doc_id", "simhash", bad)


def test_minhash_rejects_bands_that_do_not_divide_k(spark):
    """bands must divide k: a remainder would leave signature slots in
    no band, and bands > k would fail deep inside Spark."""
    from gas_data_pipeline_spark.operators.dedup import (
        minhash_near_dup_pairs,
        word_shingles,
    )

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    sh = word_shingles(F.col("text"), n=3)
    for k, bands in ((64, 24), (8, 16)):
        with pytest.raises(ValueError, match="bands must divide k"):
            minhash_near_dup_pairs(docs, "doc_id", sh, k=k, bands=bands)


def test_lsh_candidates_superset_of_exact_pairs(spark):
    """The banded MinHash kernel is probabilistic per pair (~0.9999
    capture at j=0.5) but the queries built on it (dedup_minhash_lsh,
    split_neardup_leakage) carry EXACT all-pairs oracles — so pin the
    completeness empirically: the verified LSH output must equal the
    brute-force >=0.5-Jaccard pair set on the planted corpus (ADVICE
    r9: every additional banded query multiplies the exposure of a
    single missed borderline pair)."""
    from gas_data_pipeline_spark.operators.dedup import (
        minhash_near_dup_pairs,
        word_shingles,
    )
    from gas_data_pipeline_spark.suite.northstar import _docs_with_planted

    docs = _docs_with_planted(spark, SF_SMALL)
    lsh = minhash_near_dup_pairs(
        docs, "doc_id", word_shingles(F.col("text"), n=3), threshold=0.5
    ).toPandas()

    sh = docs.select(
        "doc_id", word_shingles(F.col("text"), n=3).alias("sh")
    ).toPandas()
    shingles = {r.doc_id: set(r.sh) for r in sh.itertuples() if len(r.sh) > 0}
    ids = sorted(shingles)
    exact = set()
    for i, a in enumerate(ids):
        sa = shingles[a]
        for b in ids[i + 1 :]:
            sb = shingles[b]
            inter = len(sa & sb)
            if inter and inter / (len(sa) + len(sb) - inter) >= 0.5:
                exact.add((a, b))
    got = set(zip(lsh.id_a, lsh.id_b))
    assert exact - got == set(), f"LSH missed exact pairs: {exact - got}"
    assert got == exact  # verification already filters, so equality


@pytest.fixture(scope="module")
def emb_pdf(spark):
    from gas_data_pipeline_spark.catalog import table

    return table(spark, SF_SMALL, "embeddings").toPandas()


def test_lsh_topk_scores_exact_and_recall(spark, emb_pdf):
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_lsh,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    lsh = cosine_topk_lsh(emb, queries, k=10, n_tables=8, n_planes=6).toPandas()

    vecs = {r.vec_id: np.asarray(r.embedding, dtype=float) for r in emb_pdf.itertuples()}

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    # Soundness: candidate scores are the exact cosine, ranks contiguous.
    for row in lsh.itertuples():
        assert row.cos_sim == pytest.approx(
            cos(vecs[row.query_id], vecs[row.neighbor_id]), abs=1e-9
        )
    for qid, grp in lsh.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))

    # Recall floor vs exact top-10 (random 64-dim corpus is the
    # worst case for LSH; measured ~0.36-0.40 at these settings).
    e = set(zip(exact.query_id, exact.neighbor_id))
    l = set(zip(lsh.query_id, lsh.neighbor_id))
    assert len(e & l) / len(e) >= 0.2


def test_signed_topk_scores_exact_and_recall(spark, emb_pdf):
    """The deterministic sign-signature ANN (the exact-oracled LSH
    twin): candidate scores are the exact cosine, ranks contiguous,
    and recall vs the exact top-10 clears a floor. A single 4-bit
    table probes ~1/16 of a centered corpus, so absolute recall is
    modest by design (measured ~0.11 at sf0.001) — the floor checks
    it beats the ~1/16 random-scan fraction, i.e. the buckets carry
    signal; production composes rotated tables for recall."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_signed,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    signed = cosine_topk_signed(emb, queries, k=10, sign_bits=4).toPandas()

    vecs = {r.vec_id: np.asarray(r.embedding, dtype=float) for r in emb_pdf.itertuples()}

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    for row in signed.itertuples():
        assert row.cos_sim == pytest.approx(
            cos(vecs[row.query_id], vecs[row.neighbor_id]), abs=1e-9
        )
    for qid, grp in signed.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
    # Every candidate shares the query's bucket by construction —
    # soundness of the partitioner, not just the scores.
    for row in signed.itertuples():
        qa, nb = vecs[row.query_id][:4], vecs[row.neighbor_id][:4]
        assert [x > 0 for x in qa] == [x > 0 for x in nb]

    e = set(zip(exact.query_id, exact.neighbor_id))
    s = set(zip(signed.query_id, signed.neighbor_id))
    assert len(e & s) / len(e) >= 0.08


def test_ivf_topk_scores_exact_and_recall(spark, emb_pdf):
    """IVF candidates score exactly; probing 4/16 centroids (~25% of
    the corpus) must beat that scan fraction on recall — the whole
    point of data-adapted partitions (measured ~0.8+ here)."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    ivf = cosine_topk_ivf(emb, queries, k=10, n_clusters=16, n_probe=4).toPandas()

    vecs = {r.vec_id: np.asarray(r.embedding, dtype=float) for r in emb_pdf.itertuples()}
    for row in ivf.itertuples():
        a, b = vecs[row.query_id], vecs[row.neighbor_id]
        expect = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert row.cos_sim == pytest.approx(expect, abs=1e-9)

    e = set(zip(exact.query_id, exact.neighbor_id))
    i = set(zip(ivf.query_id, ivf.neighbor_id))
    recall = len(e & i) / len(e)
    assert recall >= 0.5, recall


def test_lsh_guaranteed_capture_of_exact_duplicate(spark):
    """A planted copy of a vector collides in EVERY table (cosine=1 →
    identical sign signature), so LSH must always return it as the
    top-1 neighbor of its source."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.similarity import cosine_topk_lsh

    emb = table(spark, SF_SMALL, "embeddings")
    clone = emb.filter(F.col("vec_id") == 0).select(
        F.lit(10_000_000).alias("vec_id"),
        *[c for c in emb.columns if c != "vec_id"],
    )
    corpus = emb.unionByName(clone.select(emb.columns))
    queries = emb.filter(F.col("vec_id") == 0)
    out = cosine_topk_lsh(corpus, queries, k=5).toPandas()
    top1 = out[out["rank"] == 1].iloc[0]
    assert top1.neighbor_id == 10_000_000
    assert top1.cos_sim == pytest.approx(1.0, abs=1e-9)


def test_hash_split_invariances(spark):
    """The split must be deterministic, roughly 80/10/10, and stable
    under corpus growth — an existing doc's assignment cannot change
    when new docs arrive (the property rand/sampleBy splits lack)."""
    from gas_data_pipeline_spark.registry import all_queries

    fn = all_queries()["hash_split_train_test"]
    a = fn(spark, SF_SMALL).toPandas().set_index("doc_id")
    b = fn(spark, SF_SMALL).toPandas().set_index("doc_id")
    assert (a.sort_index().split == b.sort_index().split).all()

    frac = a.split.value_counts(normalize=True)
    assert 0.7 <= frac.get("train", 0) <= 0.9
    assert 0.05 <= frac.get("val", 0) <= 0.15
    assert 0.05 <= frac.get("test", 0) <= 0.15

    # Subset invariance: compute the split on half the corpus — the
    # shared ids keep identical assignments.
    from gas_data_pipeline_spark.catalog import table
    from pyspark.sql import functions as F2

    docs = table(spark, SF_SMALL, "documents").filter(F2.col("doc_id") % 2 == 0)
    bucket = F2.pmod(
        F2.conv(
            F2.substring(
                F2.md5(
                    F2.concat(
                        F2.lit("split-salt-v1:"), F2.col("doc_id").cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("bigint"),
        F2.lit(100),
    )
    split = (
        F2.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    half = docs.select("doc_id", split.alias("split")).toPandas().set_index("doc_id")
    for did in half.index:
        assert half.loc[did].split == a.loc[did].split


def test_multimodal_crc_and_metadata(spark):
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.multimodal import (
        attach_binary,
        extract_features,
    )

    docs = table(spark, SF_SMALL, "documents").limit(50)
    binary = attach_binary(docs, "doc_id", "text")
    feats = extract_features(binary).toPandas().set_index("doc_id")

    local = docs.select("doc_id", "text").toPandas()
    for row in local.itertuples():
        payload = row.text.encode("utf-8")
        got = feats.loc[row.doc_id]
        assert got.n_bytes == len(payload)
        assert got.first_byte == (payload[0] if payload else -1)
        assert got.crc == (zlib.crc32(payload) & 0xFFFFFFFF)

    # Metadata struct carries byte length, payload is BinaryType.
    meta = binary.select("doc_id", "media_meta.n_bytes").toPandas().set_index("doc_id")
    for row in local.itertuples():
        assert meta.loc[row.doc_id].n_bytes == len(row.text.encode("utf-8"))


def test_decode_media_default_codec(spark):
    """decode_media through the default fake codec: payload bytes fold
    into the smallest enclosing square, matching a local rendering."""
    import numpy as np

    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.multimodal import (
        attach_binary,
        decode_media,
    )

    docs = table(spark, SF_SMALL, "documents").limit(10)
    out = (
        decode_media(attach_binary(docs, "doc_id", "text"))
        .toPandas()
        .set_index("doc_id")
    )
    local = docs.select("doc_id", "text").toPandas()
    for row in local.itertuples():
        raw = row.text.encode("utf-8")
        buf = np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
        side = int(np.ceil(np.sqrt(max(buf.size, 1))))
        got = out.loc[row.doc_id]
        assert got.height == got.width == side
        assert list(got.pixels)[: buf.size] == buf.tolist()


def test_codec_seam_accepts_custom_decoder(spark):
    """The codec seam: a user-supplied decoder flows through BOTH
    decode_media and resize_media with no other changes — the adapter
    a production PIL/ffmpeg codec would plug into."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.multimodal import (
        attach_binary,
        decode_media,
        resize_media,
    )

    def first_byte_codec(raw: bytes):
        # 2x2 "image" whose pixels encode the first payload byte.
        import numpy as np

        b = float(raw[0]) if raw else 0.0
        return np.array([[b, b + 1.0], [b + 2.0, b + 3.0]])

    docs = table(spark, SF_SMALL, "documents").limit(5)
    binary = attach_binary(docs, "doc_id", "text")

    decoded = decode_media(binary, codec=first_byte_codec).toPandas().set_index("doc_id")
    resized = (
        resize_media(binary, height=2, width=2, codec=first_byte_codec)
        .toPandas()
        .set_index("doc_id")
    )
    local = docs.select("doc_id", "text").toPandas()
    for row in local.itertuples():
        b = float(row.text.encode("utf-8")[0])
        assert list(decoded.loc[row.doc_id].pixels) == [b, b + 1.0, b + 2.0, b + 3.0]
        assert (decoded.loc[row.doc_id].height, decoded.loc[row.doc_id].width) == (2, 2)
        # 2x2 -> 2x2 block-mean is the identity.
        assert list(resized.loc[row.doc_id].pixels) == [b, b + 1.0, b + 2.0, b + 3.0]


def test_frame_sample_matches_python_slicing(spark):
    """Row-expanding frame sampler must equal pure-Python slicing."""
    import hashlib

    from gas_data_pipeline_spark.registry import all_queries

    from tests.conftest import SF_SMALL

    out = (
        all_queries()["multimodal_frame_sample"](spark, SF_SMALL)
        .toPandas()
        .sort_values(["doc_id", "frame_idx"])
    )
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .filter("doc_id < 500")
        .select("doc_id", "text")
        .toPandas()
    )
    expect = []
    for _, row in docs.iterrows():
        raw = row["text"].encode("utf-8")
        n_frames = max((len(raw) + 63) // 64, 1)
        for k in range(0, n_frames, 4):
            chunk = raw[k * 64 : (k + 1) * 64]
            expect.append(
                (row["doc_id"], k, len(chunk), hashlib.sha256(chunk).hexdigest())
            )
    got = list(out[["doc_id", "frame_idx", "n_bytes", "frame_sha"]].itertuples(index=False, name=None))
    assert sorted(got) == sorted(expect)


def test_resize_grid_matches_numpy_reference(spark):
    """8x8 block-mean resize must equal an independent numpy rendering."""
    import numpy as np

    from gas_data_pipeline_spark.registry import all_queries

    from tests.conftest import SF_SMALL

    out = all_queries()["multimodal_resize_grid"](spark, SF_SMALL).toPandas()
    # The driver-facing surface is one row per grid cell — scalar
    # columns only (r7's driver compare cannot canonicalize arrays).
    grids = {
        doc_id: g.sort_values(["i", "j"])["v"].to_numpy()
        for doc_id, g in out.groupby("doc_id")
    }
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .filter("doc_id < 50")
        .select("doc_id", "text")
        .toPandas()
    )
    for _, row in docs.iterrows():
        raw = np.frombuffer(row["text"].encode("utf-8"), dtype=np.uint8).astype(float)
        side = int(np.ceil(np.sqrt(raw.size)))
        img = np.resize(raw, (side, side))
        ys = (np.arange(9) * side) // 8
        xs = (np.arange(9) * side) // 8
        ref = np.empty((8, 8))
        for i in range(8):
            rows = img[ys[i]: max(ys[i + 1], ys[i] + 1)]
            for j in range(8):
                ref[i, j] = rows[:, xs[j]: max(xs[j + 1], xs[j] + 1)].mean()
        got = grids[row["doc_id"]]
        assert got.size == 64
        assert np.allclose(got, np.round(ref.ravel(), 6), atol=1e-4)


def test_incremental_dedup_gates_planted_copies(spark):
    """The cross-corpus gate must drop exact copies (sha stage) and
    near copies (Jaccard stage) of existing docs, and keep survivors
    strictly inside the new batch."""
    import pyspark.sql.functions as F

    from gas_data_pipeline_spark.registry import all_queries
    from tests.conftest import SF_SMALL

    out = all_queries()["dedup_incremental_batch"](spark, SF_SMALL).toPandas()
    ids = set(out.doc_id)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    new_ids = {
        r.doc_id
        for r in docs.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < max_id))
        .select("doc_id")
        .collect()
    }
    assert ids <= new_ids
    # Planted exact copies (id % 30 == 0) and near copies (% 30 == 10)
    # never survive.
    assert not any(i % 30 in (0, 10) for i in ids)
    assert len(ids) > 0


def test_span_dedup_exact_removes_repeated_passage(spark):
    """A 20-word passage repeated verbatim across two documents is kept
    only at its first occurrence; unique spans survive untouched."""
    from gas_data_pipeline_spark.operators.dedup import span_dedup_exact

    boiler = " ".join(f"b{i}" for i in range(20))
    uniq_a = " ".join(f"a{i}" for i in range(20))
    uniq_b = " ".join(f"c{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {uniq_a}"),
            (2, f"{boiler} {uniq_b}"),
            (3, uniq_b),  # whole doc seen before -> empty cleaned_text
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in span_dedup_exact(docs, "doc_id", "text", span_words=20).collect()
    }
    assert out[1].cleaned_text == f"{boiler} {uniq_a}"
    assert (out[1].n_spans, out[1].n_kept) == (2, 2)
    assert out[2].cleaned_text == uniq_b
    assert (out[2].n_spans, out[2].n_kept) == (2, 1)
    assert out[3].cleaned_text == ""
    assert (out[3].n_spans, out[3].n_kept) == (1, 0)


def test_pq_topk_recall_and_soundness(spark, emb_pdf):
    """PQ/ADC scores are approximate, so the contract is recall vs the
    exact scan (deterministic: seeded codebooks + deterministic sample)
    plus structural soundness — contiguous ranks, no self-matches,
    scores within the valid cosine range, and each score equal to the
    numpy ADC of the row's codes under the k-means trainer's codebooks."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_pq,
        kmeans_model,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    pq = cosine_topk_pq(emb, queries, k=10, m=16, n_codes=32).toPandas()

    assert (pq.query_id != pq.neighbor_id).all()
    assert pq.approx_cos.between(-1.5, 1.5).all()  # quantized, near cosine range

    # Reconstruction (as in test_pq_kcenter_recall_and_determinism):
    # approx_cos is the ADC sum over the nearest codewords.
    B = np.asarray(kmeans_model(emb, m=16, n_codes=32).books)  # (16, 32, 4)
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=float)
        for r in emb_pdf.itertuples()
    }

    def codes_of(v):
        nv = v / np.linalg.norm(v)
        return [
            int(np.argmin(((nv[j * 4 : (j + 1) * 4] - B[j]) ** 2).sum(1)))
            for j in range(16)
        ]

    for row in pq.itertuples():
        nq = vecs[row.query_id] / np.linalg.norm(vecs[row.query_id])
        cs = codes_of(vecs[row.neighbor_id])
        want = sum(
            float(np.dot(nq[j * 4 : (j + 1) * 4], B[j][cs[j]]))
            for j in range(16)
        )
        assert abs(row.approx_cos - want) < 1e-5, (row, want)

    for qid, grp in pq.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))

    e = set(zip(exact.query_id, exact.neighbor_id))
    p = set(zip(pq.query_id, pq.neighbor_id))
    assert len(e & p) / len(e) >= 0.4  # measured 0.45 at these settings

    again = cosine_topk_pq(emb, queries, k=10, m=16, n_codes=32).toPandas()
    key = ["query_id", "rank"]
    assert pq.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True)
    )


def test_unigram_logprob_orders_noise_above_prose(spark):
    """A document of globally-rare tokens must score strictly higher
    perplexity than one built from the corpus's common tokens."""
    from gas_data_pipeline_spark.operators.text import unigram_logprob

    rows = [(i, "the cat sat on the mat") for i in range(9)] + [(9, "zq xv qj wk")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = unigram_logprob(docs).toPandas().set_index("doc_id")
    assert out.loc[9].ppl_proxy > out.loc[0].ppl_proxy
    assert (out.loc[range(9)].ppl_proxy == out.loc[0].ppl_proxy).all()
    # Empty/wordless documents are absent, not zero-scored.
    with_empty = spark.createDataFrame(rows + [(10, "")], "doc_id bigint, text string")
    out2 = unigram_logprob(with_empty).toPandas()
    assert 10 not in set(out2.doc_id)


def test_ivfpq_topk_recall_and_soundness(spark):
    """Doubly-approximate (IVF pruning x PQ quantization): recall floor
    vs exact, no self-matches, contiguous ranks, deterministic."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivfpq,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    apx = cosine_topk_ivfpq(emb, queries, k=10).toPandas()

    assert (apx.query_id != apx.neighbor_id).all()
    for qid, grp in apx.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
    e = set(zip(exact.query_id, exact.neighbor_id))
    p = set(zip(apx.query_id, apx.neighbor_id))
    assert len(e & p) / len(e) >= 0.3  # measured 0.487 at these settings

    again = cosine_topk_ivfpq(emb, queries, k=10).toPandas()
    key = ["query_id", "rank"]
    assert apx.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True)
    )


def test_distributed_kmeans_training_paths_recall(spark, emb_pdf, caplog):
    """VERDICT r3 #6: training above driver_train_bound routes through
    pyspark.ml KMeans instead of the driver Lloyd loop. Forcing that
    regime (bound=1 < train_sample) must hold the driver-path recall
    floors, keep IVF candidate scores exact (assignment changes, the
    scoring kernel doesn't), and log the path choice."""
    import logging

    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
        cosine_topk_pq,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))

    with caplog.at_level(
        logging.INFO, logger="gas_data_pipeline_spark.operators.similarity"
    ):
        ivf = cosine_topk_ivf(
            emb, queries, k=10, n_clusters=16, n_probe=4, driver_train_bound=1
        ).toPandas()
    assert "distributed ml.KMeans path" in caplog.text

    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=float)
        for r in emb_pdf.itertuples()
    }
    for row in ivf.itertuples():
        a, b = vecs[row.query_id], vecs[row.neighbor_id]
        expect = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert row.cos_sim == pytest.approx(expect, abs=1e-9)
    ivf_recall = len(e & set(zip(ivf.query_id, ivf.neighbor_id))) / len(e)
    assert ivf_recall >= 0.5, ivf_recall  # same floor as the driver path

    pq = cosine_topk_pq(
        emb, queries, k=10, m=16, n_codes=32, driver_train_bound=1
    ).toPandas()
    for qid, grp in pq.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
    pq_recall = len(e & set(zip(pq.query_id, pq.neighbor_id))) / len(e)
    assert pq_recall >= 0.4, pq_recall  # same floor as the driver path


def test_pq_ivfpq_corpus_scale_query_side(spark):
    """VERDICT r2 #1: the PQ/IVFPQ query side must be distributed, not
    driver-materialized. Contract: a query frame several times the
    corpus size runs through both paths, every query gets ranked
    neighbors, and the per-query results are IDENTICAL to a
    bounded-query run — per-query scoring is independent, so growing
    the query set must not change any query's neighbors. Plan: only
    the bounded batch carries a broadcast hint; the big one's join is
    the optimizer's choice, never a forced driver collect."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk_ivfpq,
        cosine_topk_pq,
    )

    emb = table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    # 3x-corpus query set: the corpus itself plus two id-shifted copies.
    big_q = emb.unionByName(
        emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    ).unionByName(
        emb.select((F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding")
    )
    assert big_q.count() == 3 * n

    small_q = emb.filter(F.col("vec_id") < 8)
    key = ["query_id", "rank"]

    def forced_broadcast(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return "strategy=broadcast" in plan

    pq_small = cosine_topk_pq(emb, small_q, k=5, m=16, n_codes=32)
    pq_big = cosine_topk_pq(emb, big_q, k=5, m=16, n_codes=32)
    assert forced_broadcast(pq_small) and not forced_broadcast(pq_big)
    pq_small, pq_big = pq_small.toPandas(), pq_big.toPandas()
    assert pq_big.query_id.nunique() == 3 * n
    assert (pq_big.groupby("query_id")["rank"].max() == 5).all()
    sub = pq_big[pq_big.query_id < 8].sort_values(key).reset_index(drop=True)
    assert sub.equals(pq_small.sort_values(key).reset_index(drop=True))

    ivf_small = cosine_topk_ivfpq(emb, small_q, k=5)
    ivf_big = cosine_topk_ivfpq(emb, big_q, k=5)
    assert forced_broadcast(ivf_small) and not forced_broadcast(ivf_big)
    ivf_small, ivf_big = ivf_small.toPandas(), ivf_big.toPandas()
    assert ivf_big.query_id.nunique() == 3 * n
    sub = ivf_big[ivf_big.query_id < 8].sort_values(key).reset_index(drop=True)
    assert sub.equals(ivf_small.sort_values(key).reset_index(drop=True))


def test_similarity_zero_vectors_and_empty_corpus(spark):
    """Degenerate inputs must degrade, not crash: a zero-norm vector
    never appears as a neighbor (its NaN scores are filtered, not
    propagated), and an empty corpus yields an empty result."""
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_topk,
    )

    emb = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [0.0] * 8), (3, [0.5] * 8)],
        "vec_id long, embedding array<double>",
    )
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 1), k=2).toPandas()
    assert 2 not in set(out.neighbor_id)
    assert list(out.neighbor_id) == [3]

    pairs = cosine_near_dup_pairs(emb, threshold=0.9).toPandas()
    assert {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)} == {(1, 3)}

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert cosine_topk(empty, emb.limit(1), k=2).count() == 0


def test_remove_repeated_ngrams_python_recompute(spark):
    """Spark output == a sequential Python recompute of the same
    semantics on a corpus with overlapping repeats, partial coverage,
    an all-boilerplate doc, and sub-n docs."""
    from collections import Counter

    from gas_data_pipeline_spark.operators.dedup import remove_repeated_ngrams

    rows = [
        (1, "A B C D E F unique one tail"),
        (2, "x A B C D E F y z"),
        (3, "p q A B C D E F r"),
        (4, "A B C D E F"),          # nothing but the repeat
        (5, "too short"),             # < n words: no grams, untouched
        (6, "totally different words here okay then"),
    ]
    n, k = 5, 3
    toks = {i: t.lower().split() for i, t in rows}
    grams = {
        i: [tuple(ws[j : j + n]) for j in range(len(ws) - n + 1)]
        for i, ws in toks.items()
    }
    df_count = Counter()
    for i, gs in grams.items():
        for g in set(gs):
            df_count[g] += 1
    flagged = {g for g, c in df_count.items() if c >= k}
    expect = {}
    for i, ws in toks.items():
        cov = set()
        for j, g in enumerate(grams[i]):
            if g in flagged:
                cov.update(range(j, j + n))
        kept = [w for j, w in enumerate(ws) if j not in cov]
        expect[i] = (len(ws), len(ws) - len(kept), " ".join(kept))

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = (
        remove_repeated_ngrams(df, "doc_id", "text", n=n, min_doc_freq=k)
        .orderBy("doc_id")
        .toPandas()
    )
    assert [
        (r.n_words, r.n_removed, r.clean_text) for r in got.itertuples()
    ] == [expect[i] for i in sorted(expect)]
    # The shared 6-word run holds two overlapping flagged 5-grams;
    # coverage must union them (6 words removed, not 5 or 10).
    assert expect[1][1] == 6 and expect[4] == (6, 6, "")


def test_remove_repeated_ngrams_text_never_shuffles(spark):
    """The text column must not ride any Exchange: every shuffle input
    carries only (id, pos, hash) triples or per-doc start sets."""
    from gas_data_pipeline_spark.registry import all_queries

    df = all_queries()["dedup_repeated_ngrams"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        args = seg.split(")")[0]
        assert "text#" not in args
    # Reassembly is HOF projection — no collect_list re-aggregation.
    assert "collect_list" not in plan


def test_remove_repeated_ngrams_null_text_degrades(spark):
    from gas_data_pipeline_spark.operators.dedup import remove_repeated_ngrams

    df = spark.createDataFrame(
        [(1, None), (2, "some words here")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_words, r.n_removed, r.clean_text)
        for r in remove_repeated_ngrams(df, "doc_id", "text").collect()
    }
    assert got[1] == (0, 0, "")
    assert got[2] == (3, 0, "some words here")


def test_bloom_prefilter_matches_plain_anti_join(spark):
    """The Bloom gate is a cost optimization, not a semantics change:
    its survivors must equal the plain sha-256 anti-join's on a corpus
    with planted exact dups, and the bloom-negative path must actually
    prune (candidates strictly fewer than the new batch — otherwise
    the broadcast bitmap bought nothing)."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.dedup import bloom_prefilter_dedup

    docs = table(spark, SF_SMALL, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    # Plant exact dups: every 3rd new doc carries an existing doc's text.
    donor = existing.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("donor_text")
    )
    new = (
        new.join(donor, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 30 == 0) & F.col("donor_text").isNotNull(),
                F.col("donor_text"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    got = set(
        r.doc_id
        for r in bloom_prefilter_dedup(new, existing).select("doc_id").collect()
    )
    ex_h = existing.select(F.sha2(F.col("text"), 256).alias("__h")).distinct()
    want = set(
        r.doc_id
        for r in new.withColumn("__h", F.sha2(F.col("text"), 256))
        .join(ex_h, "__h", "left_anti")
        .select("doc_id")
        .collect()
    )
    assert got == want
    assert len(want) < new.count()  # the plant actually removed something


def test_bloom_prefilter_prunes_clean_rows_without_join(spark):
    """Rows the bitmap rejects bypass the anti-join entirely: with an
    empty existing corpus every row is bloom-negative, so the result
    is the whole new batch and zero candidates reach the confirm join
    (checked by probing the bitmap directly: all-zero bitmap)."""
    from gas_data_pipeline_spark.operators.dedup import (
        _bloom_positions,
        bloom_prefilter_dedup,
    )
    from gas_data_pipeline_spark.catalog import table

    docs = table(spark, SF_SMALL, "documents").select("doc_id", "text")
    new = docs.limit(100)
    existing = docs.filter(F.lit(False))
    out = bloom_prefilter_dedup(new, existing)
    assert out.count() == 100


def test_bloom_positions_stable_and_in_range(spark):
    """Double-hashed positions are deterministic per key and land in
    [0, m) — the contract the packed bitmap indexes on."""
    from gas_data_pipeline_spark.operators.dedup import _bloom_positions

    m, k = 1 << 12, 5
    df = spark.range(200).select(
        _bloom_positions(F.sha2(F.col("id").cast("string"), 256), m, k, 7).alias("pos")
    )
    pdf = df.toPandas()
    again = df.toPandas()
    assert all(len(p) == k for p in pdf["pos"])
    assert all(0 <= int(x) < m for p in pdf["pos"] for x in p)
    assert all(list(a) == list(b) for a, b in zip(pdf["pos"], again["pos"]))


def test_bloom_tree_or_path_matches_driver_path(spark):
    """Bitmaps at or above BLOOM_TREE_OR_MIN_BYTES are OR-reduced via
    treeReduce instead of a driver collect; both paths must build the
    identical bitmap and leave the dedup answer unchanged."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators import dedup as D

    docs = table(spark, SF_SMALL, "documents").select("doc_id", "text").limit(300)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    existing = docs.filter(F.col("doc_id") % 3 != 0)
    # m_bits = 8 * BLOOM_TREE_OR_MIN_BYTES bytes -> n_bytes == threshold,
    # so the tree path runs; a small m stays on the driver path.
    m_tree = 8 * D.BLOOM_TREE_OR_MIN_BYTES
    small = {
        r.doc_id
        for r in D.bloom_prefilter_dedup(new, existing, m_bits=1 << 16)
        .select("doc_id")
        .collect()
    }
    tree = {
        r.doc_id
        for r in D.bloom_prefilter_dedup(new, existing, m_bits=m_tree)
        .select("doc_id")
        .collect()
    }
    assert tree == small
    # Direct bitmap equality across the two reduce strategies at the
    # same m: force the tree path by monkeypatching the threshold.
    pos = docs.select(
        D._bloom_positions(F.sha2(F.col("text"), 256), 1 << 16, 5, 7).alias("pos")
    )
    via_driver = D._build_bloom_bitmap(pos, (1 << 16) // 8)
    orig = D.BLOOM_TREE_OR_MIN_BYTES
    try:
        D.BLOOM_TREE_OR_MIN_BYTES = 1  # everything takes the tree path
        via_tree = D._build_bloom_bitmap(pos, (1 << 16) // 8)
    finally:
        D.BLOOM_TREE_OR_MIN_BYTES = orig
    assert (via_driver == via_tree).all()


def test_bloom_filter_new_rejects_reserved_columns(spark):
    from gas_data_pipeline_spark.operators.dedup import BloomDedupState

    state = BloomDedupState(m_bits=1 << 12)
    df = spark.range(5).select(
        F.col("id").cast("string").alias("text"), F.lit(1).alias("__maybe")
    )
    import pytest

    with pytest.raises(ValueError, match="__maybe"):
        state.filter_new(df, df.filter(F.lit(False)))


def test_bloom_prune_rejects_reserved_pos_column(spark):
    from gas_data_pipeline_spark.operators.bloomjoin import bloom_prune

    probe = spark.range(5).select(
        F.col("id").alias("k"), F.lit(0).alias("__pos")
    )
    keys = spark.range(3).select(F.col("id").alias("k"))
    import pytest

    with pytest.raises(ValueError, match="__pos"):
        bloom_prune(probe, keys, "k")


def test_bloom_filter_new_exact_under_nondeterministic_lineage(spark):
    """filter_new checkpoints the probe before the clean/candidates
    split, so even a nondeterministic upstream (rand()) yields each
    surviving row exactly once — neither dropped nor doubled."""
    from gas_data_pipeline_spark.operators.dedup import BloomDedupState

    new = spark.range(200).select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("text"),
        F.rand(seed=None).alias("noise"),
    )
    existing = spark.range(100, 150).select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("text")
    )
    state = BloomDedupState(m_bits=1 << 14)
    state.absorb(existing)
    out = state.filter_new(new, existing)
    texts = [r.text for r in out.select("text").collect()]
    assert len(texts) == 150
    assert len(set(texts)) == 150
    assert set(texts) == {f"doc-{i}" for i in list(range(100)) + list(range(150, 200))}


def test_ivf_kcenter_scores_exact_and_recall(spark, emb_pdf):
    """The value-oracled IVF (deterministic k-center codebook) must
    keep the IVF contract: candidate scores are the exact cosine and
    probing 4/16 cells beats the ~25% scan fraction on recall."""
    import numpy as np
    import pytest

    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.selection import kcenter_greedy
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf_kcenter,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    centers, _ = kcenter_greedy(emb, "vec_id", "embedding", k=16)
    ivf = cosine_topk_ivf_kcenter(
        emb, queries, centers, k=10, n_probe=4
    ).toPandas()

    vecs = {r.vec_id: np.asarray(r.embedding, dtype=float) for r in emb_pdf.itertuples()}
    for row in ivf.itertuples():
        a, b = vecs[row.query_id], vecs[row.neighbor_id]
        expect = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert row.cos_sim == pytest.approx(expect, abs=1e-9)
    for qid, grp in ivf.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))

    e = set(zip(exact.query_id, exact.neighbor_id))
    i = set(zip(ivf.query_id, ivf.neighbor_id))
    recall = len(e & i) / len(e)
    print("kcenter-ivf recall:", recall)
    assert recall >= 0.3, recall


def test_pq_kcenter_recall_and_determinism(spark, emb_pdf):
    """The value-oracled PQ (deterministic k-center codebooks, native
    ADC) must keep a recall floor vs the exact scan, score within the
    quantization error of the reconstruction cosine, and be run-to-run
    identical (it is a pure function of the corpus)."""
    import numpy as np

    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_pq_kcenter,
        pq_kcenter_codebooks,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    books = pq_kcenter_codebooks(emb, m=8, n_codes=8)
    assert len(books) == 8 and all(len(b) == 8 for b in books)
    pq = cosine_topk_pq_kcenter(emb, queries, books, k=10).toPandas()

    # Soundness: scores equal the numpy ADC reconstruction cosine.
    B = np.asarray(books)  # (8, 8, 8)
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=float)
        for r in emb_pdf.itertuples()
    }

    def codes_of(v):
        nv = v / np.linalg.norm(v)
        return [
            int(np.argmin(((nv[j * 8 : (j + 1) * 8] - B[j]) ** 2).sum(1)))
            for j in range(8)
        ]

    for row in pq.itertuples():
        nq = vecs[row.query_id] / np.linalg.norm(vecs[row.query_id])
        cs = codes_of(vecs[row.neighbor_id])
        want = sum(
            float(np.dot(nq[j * 8 : (j + 1) * 8], B[j][cs[j]]))
            for j in range(8)
        )
        assert abs(row.approx_cos - want) < 1e-5, (row, want)

    for qid, grp in pq.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))

    e = set(zip(exact.query_id, exact.neighbor_id))
    p = set(zip(pq.query_id, pq.neighbor_id))
    recall = len(e & p) / len(e)
    print("kcenter-pq recall:", recall)
    assert recall >= 0.15, recall  # 8x8 codes is a coarse quantizer

    again = cosine_topk_pq_kcenter(emb, queries, books, k=10).toPandas()
    assert pq.sort_values(["query_id", "rank"]).reset_index(drop=True).equals(
        again.sort_values(["query_id", "rank"]).reset_index(drop=True)
    )


def test_sampled_codebooks_match_full_and_keep_recall(spark):
    """The bounded-sample trainers must (a) be bit-identical to the
    full trainers when the sample covers the corpus, and (b) keep the
    registered queries' recall floors when truncated to the default
    256-draw sample (the shape ann_ivf / ann_pq now train with)."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.selection import (
        kcenter_greedy_sampled,
    )
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf_kcenter,
        cosine_topk_pq_kcenter,
        pq_kcenter_codebooks,
        pq_kcenter_codebooks_sampled,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    full_books = pq_kcenter_codebooks(emb, m=8, n_codes=8)
    cover_books = pq_kcenter_codebooks_sampled(
        emb, m=8, n_codes=8, sample_n=5000
    )
    assert full_books == cover_books

    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))

    books256 = pq_kcenter_codebooks_sampled(emb, m=8, n_codes=8)
    pq = cosine_topk_pq_kcenter(emb, queries, books256, k=10).toPandas()
    pq_recall = len(e & set(zip(pq.query_id, pq.neighbor_id))) / len(e)
    print("sampled-pq recall:", pq_recall)
    assert pq_recall >= 0.15, pq_recall

    centers256 = kcenter_greedy_sampled(emb, "vec_id", "embedding", k=16)
    ivf = cosine_topk_ivf_kcenter(
        emb, queries, centers256, k=10, n_probe=4
    ).toPandas()
    ivf_recall = len(e & set(zip(ivf.query_id, ivf.neighbor_id))) / len(e)
    print("sampled-ivf recall:", ivf_recall)
    assert ivf_recall >= 0.3, ivf_recall


def test_ivf_driver_probe_matches_distributed_probe(spark):
    """The threshold-gated driver-side query routing must produce
    exactly the distributed expression path's result (same fixed-point
    math, same tie-breaks) — forced by setting the bound below the
    query count."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.selection import (
        kcenter_greedy_sampled,
    )
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk_ivf_kcenter,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    centers = kcenter_greedy_sampled(emb, "vec_id", "embedding", k=16)
    fast = cosine_topk_ivf_kcenter(
        emb, queries, centers, k=10, n_probe=4
    ).toPandas()
    slow = cosine_topk_ivf_kcenter(
        emb, queries, centers, k=10, n_probe=4, driver_probe_bound=0
    ).toPandas()
    key = ["query_id", "rank"]
    assert fast.sort_values(key).reset_index(drop=True).equals(
        slow.sort_values(key).reset_index(drop=True)
    )


def test_ann_index_build_search_split_is_result_identical(spark):
    """Passing a prebuilt index (IVF inverted lists / PQ code table)
    must change WHERE the work happens, never the result — the
    build/search split the registered queries amortize per session."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.selection import (
        kcenter_greedy_sampled,
    )
    from gas_data_pipeline_spark.operators.similarity import (
        AnnModel,
        build_index,
        cosine_topk_ivf_kcenter,
        cosine_topk_pq_kcenter,
        pq_kcenter_codebooks_sampled,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    key = ["query_id", "rank"]

    centers = kcenter_greedy_sampled(emb, "vec_id", "embedding", k=16)
    idx = build_index(emb, AnnModel(centers=centers)).localCheckpoint(eager=True)
    inline = cosine_topk_ivf_kcenter(emb, queries, centers, k=5).toPandas()
    viaidx = cosine_topk_ivf_kcenter(
        emb, queries, centers, k=5, index=idx
    ).toPandas()
    assert inline.sort_values(key).reset_index(drop=True).equals(
        viaidx.sort_values(key).reset_index(drop=True)
    )

    books = pq_kcenter_codebooks_sampled(emb, m=8, n_codes=8)
    codes = build_index(emb, AnnModel(books=books)).localCheckpoint(eager=True)
    inline = cosine_topk_pq_kcenter(emb, queries, books, k=5).toPandas()
    viacodes = cosine_topk_pq_kcenter(
        emb, queries, books, k=5, codes=codes
    ).toPandas()
    assert inline.sort_values(key).reset_index(drop=True).equals(
        viacodes.sort_values(key).reset_index(drop=True)
    )


def test_ivfpq_kcenter_recall_and_soundness(spark):
    """The composed deterministic IVF+PQ must keep a recall floor vs
    the exact scan (doubly approximate: 4/16-cell pruning x 8x8-code
    quantization) and rank by integer ADC scores with neighbor_id
    tie-breaks (run-to-run identical)."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.selection import (
        kcenter_greedy_sampled,
    )
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivfpq_kcenter,
        pq_kcenter_codebooks_sampled,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    centers = kcenter_greedy_sampled(emb, "vec_id", "embedding", k=16)
    books = pq_kcenter_codebooks_sampled(emb, m=8, n_codes=8)
    got = cosine_topk_ivfpq_kcenter(
        emb, queries, centers, books, k=10, n_probe=4
    ).toPandas()
    for qid, grp in got.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
    e = set(zip(exact.query_id, exact.neighbor_id))
    g = set(zip(got.query_id, got.neighbor_id))
    recall = len(e & g) / len(e)
    print("ivfpq-kcenter recall:", recall)
    assert recall >= 0.1, recall
    again = cosine_topk_ivfpq_kcenter(
        emb, queries, centers, books, k=10, n_probe=4
    ).toPandas()
    key = ["query_id", "rank"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True)
    )


def test_ivfpq_index_is_one_zero_shuffle_scan(spark):
    """The composed index computes routing AND codes in one projection
    — a corpus x corpus join of separately-built parts would be a
    build-time shuffle the one-scan form never needs. Pin: no
    Exchange in the build plan (beyond the test-scale spread
    repartition), broadcast-only joins in the search plan."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.selection import (
        kcenter_greedy_sampled,
    )
    from gas_data_pipeline_spark.operators.similarity import (
        AnnModel,
        build_index,
        cosine_topk_ivfpq_kcenter,
        pq_kcenter_codebooks_sampled,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    centers = kcenter_greedy_sampled(emb, "vec_id", "embedding", k=8)
    books = pq_kcenter_codebooks_sampled(emb, m=8, n_codes=4)
    idx = build_index(emb, AnnModel(centers=centers, books=books))
    build_plan = idx._jdf.queryExecution().executedPlan().toString()
    # the only allowed exchange is spread_small_scan's test-scale
    # round-robin repartition — never a join exchange
    assert "SortMergeJoin" not in build_plan and "HashJoin" not in build_plan
    queries = emb.filter(F.col("vec_id") < 4)
    out = cosine_topk_ivfpq_kcenter(
        emb, queries, centers, books, k=5,
        index=idx.localCheckpoint(eager=True),
    )
    search_plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in search_plan
    assert "SortMergeJoin" not in search_plan
    assert out.count() > 0


def test_pq_kcenter_rescore_lifts_recall(spark, emb_pdf):
    """VERDICT r13 #6: the exact-rescore refinement stage must lift the
    coarse 8x8 quantizer's recall to a production-worthy floor (>=0.5
    at the SAME codebook budget), stay deterministic, and agree with
    the exact scan wherever the ADC pool caught the true neighbor."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_pq_kcenter,
        pq_kcenter_codebooks,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    books = pq_kcenter_codebooks(emb, m=8, n_codes=8)
    raw = cosine_topk_pq_kcenter(emb, queries, books, k=10).toPandas()
    ref = cosine_topk_pq_kcenter(
        emb, queries, books, k=10, rescore=100
    ).toPandas()

    e = set(zip(exact.query_id, exact.neighbor_id))
    raw_recall = len(e & set(zip(raw.query_id, raw.neighbor_id))) / len(e)
    ref_recall = len(e & set(zip(ref.query_id, ref.neighbor_id))) / len(e)
    print("pq raw recall:", raw_recall, "rescored recall:", ref_recall)
    assert ref_recall >= 0.5, ref_recall
    assert ref_recall >= raw_recall  # refinement can only help

    # Soundness: contiguous ranks, no self matches, exact scores agree
    # with the exact scan's cosine for shared (query, neighbor) pairs.
    assert (ref.query_id != ref.neighbor_id).all()
    for _, grp in ref.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
    ex_scores = {
        (r.query_id, r.neighbor_id): r.cos_sim for r in exact.itertuples()
    }
    for r in ref.itertuples():
        want = ex_scores.get((r.query_id, r.neighbor_id))
        if want is not None:
            assert abs(r.cos_sim - want) < 1e-5, (r, want)

    again = cosine_topk_pq_kcenter(
        emb, queries, books, k=10, rescore=100
    ).toPandas()
    key = ["query_id", "rank"]
    assert ref.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True)
    )


def test_ivfpq_kcenter_rescore_lifts_recall(spark):
    """FAISS's refine step on the composed index: exact-rescoring the
    IVF-pruned ADC pool. The pool (200) covers every probed candidate
    at this scale (~110-140 per query), so the rescored top-10 must
    EQUAL the exact-cosine ranking of the candidate set — the recall
    ceiling is then the coarse router's, not the quantizer's (raw ADC
    0.2 -> rescored 0.425 here; the remaining gap is cells the probe
    never opens, which no rescore can recover)."""
    import numpy as np

    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.operators.selection import (
        kcenter_greedy_sampled,
    )
    from gas_data_pipeline_spark.operators.similarity import (
        AnnModel,
        build_index,
        cosine_topk,
        cosine_topk_ivfpq_kcenter,
        pq_kcenter_codebooks_sampled,
        probe_cells,
    )

    emb = table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    centers = kcenter_greedy_sampled(emb, "vec_id", "embedding", k=16)
    books = pq_kcenter_codebooks_sampled(emb, m=8, n_codes=8)
    raw = cosine_topk_ivfpq_kcenter(
        emb, queries, centers, books, k=10, n_probe=4
    ).toPandas()
    ref = cosine_topk_ivfpq_kcenter(
        emb, queries, centers, books, k=10, n_probe=4, rescore=200
    ).toPandas()

    e = set(zip(exact.query_id, exact.neighbor_id))
    raw_recall = len(e & set(zip(raw.query_id, raw.neighbor_id))) / len(e)
    ref_recall = len(e & set(zip(ref.query_id, ref.neighbor_id))) / len(e)
    print("ivfpq raw recall:", raw_recall, "rescored:", ref_recall)
    assert ref_recall >= 0.4, ref_recall
    assert ref_recall >= raw_recall + 0.15  # a real lift, not noise

    # Soundness: the rescored top-10 IS the exact fixed-point cosine
    # ranking of the probed candidate set, per query.
    idx = build_index(emb, AnnModel(centers=centers, books=books))
    qp = probe_cells(
        queries, centers, "vec_id", "embedding", n_probe=4, quantum=1e6
    ).select("query_id", "center_id")
    cand = (
        idx.join(F.broadcast(qp), "center_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .toPandas()
    )
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=float) for r in emb.collect()
    }
    nv = {k: v / np.linalg.norm(v) for k, v in vecs.items()}
    for qid, grp in cand.groupby("query_id"):
        want = [
            n
            for _, n in sorted(
                (
                    (-round(float(np.dot(nv[qid], nv[n])) * 1e6), n)
                    for n in grp.neighbor_id
                )
            )[:10]
        ]
        got = list(ref[ref.query_id == qid].sort_values("rank").neighbor_id)
        assert want == got, (qid, want, got)

    assert (ref.query_id != ref.neighbor_id).all()
    again = cosine_topk_ivfpq_kcenter(
        emb, queries, centers, books, k=10, n_probe=4, rescore=200
    ).toPandas()
    key = ["query_id", "rank"]
    assert ref.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True)
    )
