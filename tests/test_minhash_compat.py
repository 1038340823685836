"""Bit-compatibility of the native MinHash-LSH path (functions/minhash.py
+ queries/llm.py::minhash_lsh_pairs) with the Spark ML implementation it
replaced in the r21 optimization round.

The l02b rewrite is only admissible because it is *pair-for-pair
identical* to ``MinHashLSHModel.approxSimilarityJoin``; these tests pin
each layer of that claim:

1. token → HashingTF column index (canonical murmur3_x86_32, seed 42);
2. index set → seeded 8-table minhash signature (embedded seed-42
   coefficients, HASH_PRIME modulus);
3. the full candidate-pair set with Jaccard distances, against the
   real ``approxSimilarityJoin`` at sf0.001.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_lab4_spark.functions.minhash import (
    MINHASH_COEFFS,
    MINHASH_PRIME,
    NUM_FEATURES,
    _make_kernel,
    doc_fingerprint,
    hashing_tf_index,
)
from bigdata_lab4_spark.queries.llm import minhash_lsh_pairs

SF_DIR = "/root/testdata/sf0.001"

TOKENS = ["hello", "world", "a", "ab", "abc", "abcd", "Ünïcode", "€uro", "日本語", ""]


def test_index_matches_hashing_tf(spark):
    """Canonical murmur3 mod 2^18 must equal HashingTF's column index —
    including multi-byte UTF-8 and the aligned/unaligned byte-length
    tails the two murmur variants disagree on."""
    from pyspark.ml.feature import HashingTF

    df = spark.createDataFrame(
        [(i, [t]) for i, t in enumerate(TOKENS)], ["id", "tokens"]
    )
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=NUM_FEATURES)
    rows = tf.transform(df).orderBy("id").collect()
    for row, tok in zip(rows, TOKENS):
        assert row.features.indices.tolist() == [hashing_tf_index(tok)]


def test_signature_matches_minhash_lsh_model(spark):
    """The embedded seed-42 coefficients + HASH_PRIME reproduce
    ``MinHashLSHModel.transform`` exactly."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = spark.createDataFrame(
        [(1, ["hello", "world", "abc"]), (2, ["€uro", "a", "ab", "abcd"]), (3, ["x"])],
        ["id", "tokens"],
    )
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=NUM_FEATURES)
    feats = tf.transform(docs)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(feats)
    by_id = {r.id: r for r in model.transform(feats).collect()}
    for r in docs.collect():
        _, sig = doc_fingerprint(r.tokens, {})
        spark_sig = [v.toArray().tolist()[0] for v in by_id[r.id].hashes]
        assert [float(s) for s in sig] == spark_sig


def test_signature_formula_constants():
    """min((1+idx)·a + b mod P) over a known index set, by hand."""
    idxs, sig = doc_fingerprint(["hello"], {})
    e = hashing_tf_index("hello")
    assert idxs == [e]
    assert sig == [((1 + e) * a + b) % MINHASH_PRIME for a, b in MINHASH_COEFFS]


def test_kernel_rejects_coefficients_that_overflow_int64():
    """The int64 min-fold is exact only while the largest intermediate
    ``num_features * a + b`` fits; one past the bound raises."""
    a = ((1 << 63) - 1) // NUM_FEATURES
    _, fingerprint = _make_kernel(((a, (1 << 63) - 1 - NUM_FEATURES * a),), MINHASH_PRIME, NUM_FEATURES)
    assert len(fingerprint(["hello"], {})[1]) == 1
    with pytest.raises(OverflowError):
        _make_kernel(((a, (1 << 63) - NUM_FEATURES * a),), MINHASH_PRIME, NUM_FEATURES)
    with pytest.raises(OverflowError):
        _make_kernel(((a + 1, 0),), MINHASH_PRIME, NUM_FEATURES)


def test_pairs_match_approx_similarity_join(spark):
    """Full candidate-pair equality (ids AND rounded distances) against
    the replaced ``approxSimilarityJoin`` formulation at sf0.001."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from bigdata_lab4_spark.catalog import load_table
    from bigdata_lab4_spark.functions.text import tokens_col

    d = load_table(spark, SF_DIR, "documents")
    docs = d.select("doc_id", tokens_col("text").alias("tokens"))
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=NUM_FEATURES)
    feats = tf.transform(docs)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(feats)
    ml_pairs = (
        model.approxSimilarityJoin(feats, feats, 0.6, distCol="jaccard_dist")
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("d1"),
            F.col("datasetB.doc_id").alias("d2"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )
    want = {(r.d1, r.d2): r.jaccard_dist for r in ml_pairs.collect()}
    got = {
        (r.d1, r.d2): r.jaccard_dist
        for r in minhash_lsh_pairs(spark, SF_DIR).collect()
    }
    assert want == got


def _multiset_equal(lhs, rhs, cols):
    """Multiset equality of two DataFrames via one tagged union +
    group-count pass (cheaper than two exceptAll evaluations — each
    side is computed exactly once)."""
    tagged = lhs.select(*cols).withColumn("_src", F.lit(1)).unionByName(
        rhs.select(*cols).withColumn("_src", F.lit(2))
    )
    mismatch = (
        tagged.groupBy(*cols)
        .agg(
            F.sum(F.when(F.col("_src") == 1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("_src") == 2, 1).otherwise(0)).alias("n2"),
        )
        .filter("n1 != n2")
    )
    return mismatch.count() == 0


def test_salted_join_equals_broadcast_sf01(spark):
    """r22: the salted shuffled band join (the scale-true default)
    must produce the exact pair multiset of the legacy broadcast band
    join it replaced — at sf0.1, the scale the driver benches."""
    new = minhash_lsh_pairs(spark, "/root/testdata/sf0.1")
    old = minhash_lsh_pairs(spark, "/root/testdata/sf0.1", salt_buckets=0)
    assert _multiset_equal(new, old, ["d1", "d2", "jaccard_dist"])


def test_simhash_salted_equals_broadcast_sf01(spark):
    """r22: same proof for the simhash banded near-dup join (l07b) —
    beyond the DuckDB oracle's full-result check at sf0.001/0.01."""
    from bigdata_lab4_spark.queries.llm import simhash_neardup_pairs

    new = simhash_neardup_pairs(spark, "/root/testdata/sf0.1")
    old = simhash_neardup_pairs(spark, "/root/testdata/sf0.1", salt_buckets=0)
    assert _multiset_equal(new, old, ["d1", "d2", "hamming"])


def test_mask_fallback_above_64_vocab(spark, tmp_path):
    """r22: the 64-bit set-mask verify only applies when the GLOBAL
    index dictionary fits 64 bits; a corpus with more distinct
    HashingTF indices must fall back to the exact array-intersect
    path and still match the reference semantics pair-for-pair
    (reference = the Python kernel + banded candidate generation +
    first-band dedup + strict < 0.6, i.e. approxSimilarityJoin's
    contract)."""
    from decimal import ROUND_HALF_UP, Decimal

    # 80 distinct tokens -> > 64 distinct indices (asserted below).
    toks = [f"tok{i:02d}" for i in range(80)]
    assert len({hashing_tf_index(t) for t in toks}) > 64
    docs = []
    for d in range(40):
        base = toks[d % 8 : d % 8 + 6]            # heavy overlap -> near-dups
        extra = [toks[(7 * d + j) % 80] for j in range(d % 3)]
        docs.append((d, " ".join(base + extra)))
    spark.createDataFrame(docs, "doc_id bigint, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    # Reference pairs in pure Python with the same kernel.
    fps = {}
    for d, text in docs:
        idxs, sig = doc_fingerprint([t for t in text.split(" ") if t], {})
        fps[d] = (set(idxs), sig)
    want = {}
    for d1 in fps:
        for d2 in fps:
            if not d1 < d2:
                continue
            s1, g1 = fps[d1]
            s2, g2 = fps[d2]
            if not g1 or not g2 or not any(x == y for x, y in zip(g1, g2)):
                continue  # no band collision -> not a candidate
            inter = len(s1 & s2)
            dist = 1.0 - inter / (len(s1) + len(s2) - inter)
            if dist < 0.6:
                want[(d1, d2)] = float(
                    Decimal(repr(dist)).quantize(
                        Decimal("0.000001"), rounding=ROUND_HALF_UP
                    )
                )
    got = {
        (r.d1, r.d2): r.jaccard_dist
        for r in minhash_lsh_pairs(spark, str(tmp_path)).collect()
    }
    assert want and want == got
