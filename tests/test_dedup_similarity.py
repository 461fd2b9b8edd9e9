"""Dedup (exact / minhash / simhash / embedding) and similarity-search tests."""

from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_validation_spark.dedup.exact import drop_exact_duplicates, duplicate_groups
from data_validation_spark.dedup.minhash import (
    minhash_lsh_candidates,
    minhash_signatures,
    verify_jaccard,
)
from data_validation_spark.dedup.simhash import simhash64, simhash_near_dups
from data_validation_spark.dedup.embedding import cosine_pairs_bruteforce, cosine_pairs_lsh
from data_validation_spark.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away into the woods "
        "while the sun sets slowly behind distant hills casting long shadows"
    )
    near = base.replace("lazy", "sleepy")  # one-token difference
    other = (
        "completely different text about spark query engines and distributed "
        "aggregation pipelines processing columnar data at massive scale"
    )
    rows = [(0, base), (1, base), (2, near), (3, other), (4, other + " extended version here")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = duplicate_groups(docs, "text").collect()
    assert len(groups) == 1 and groups[0]["dup_count"] == 2
    kept = drop_exact_duplicates(docs, "text", order_col="doc_id")
    assert kept.count() == 4
    assert kept.where(F.col("doc_id") == 0).count() == 1  # lowest id wins


def test_minhash_signatures_similarity(docs):
    sigs = {r["id"]: r["signature"] for r in minhash_signatures(docs, "doc_id", "text").collect()}
    same = np.mean(np.array(sigs[0]) == np.array(sigs[1]))
    near = np.mean(np.array(sigs[0]) == np.array(sigs[2]))
    far = np.mean(np.array(sigs[0]) == np.array(sigs[3]))
    assert same == 1.0
    assert near > 0.5
    assert far < 0.2


def test_minhash_lsh_candidates(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) in pairs or (1, 2) in pairs
    assert (0, 3) not in pairs


def test_minhash_verify_jaccard(docs, spark):
    cand = minhash_lsh_candidates(docs, "doc_id", "text")
    verified = verify_jaccard(cand, docs, "doc_id", "text", threshold=0.99).collect()
    assert {(r["id_a"], r["id_b"]) for r in verified} == {(0, 1)}


def test_simhash(docs):
    assert simhash64("") == 0
    a = simhash64("the quick brown fox jumps over the lazy dog")
    b = simhash64("the quick brown fox jumps over the sleepy dog")
    c = simhash64("columnar vectorized execution engine internals")
    mask = (1 << 64) - 1
    ham_ab = bin((a ^ b) & mask).count("1")
    ham_ac = bin((a ^ c) & mask).count("1")
    assert ham_ab < ham_ac
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_dups(docs, "doc_id", "text", radius=3).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 0


def test_simhash_degenerate_bucket_bounded(spark):
    # 1000 empty docs all fingerprint to 0; the old block-equality self-join
    # exploded to ~500k pairs here. Degenerate fingerprints are excluded and
    # buckets are capped, so this must finish quickly with zero pairs among
    # the empties while still finding the one real near-dup pair.
    rows = [(i, "") for i in range(1000)]
    rows += [(2000, "alpha beta gamma delta epsilon"), (2001, "alpha beta gamma delta epsilon")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             simhash_near_dups(df, "doc_id", "text", radius=3).collect()}
    assert pairs == {(2000, 2001)}


def test_simhash_string_ids(spark):
    # Doc ids of any orderable type must round-trip (the pairing stage derives
    # its output schema from the input id column, like minhash_signatures).
    rows = [
        ("doc-a", "alpha beta gamma delta epsilon"),
        ("doc-b", "alpha beta gamma delta epsilon"),
        ("doc-c", "completely different content here entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             simhash_near_dups(df, "doc_id", "text", radius=3).collect()}
    assert ("doc-a", "doc-b") in pairs
    assert all(isinstance(a, str) and isinstance(b, str) for a, b in pairs)


def test_minhash_string_ids(spark):
    # The pairing stage derives its output schema from the input id column,
    # as simhash_near_dups does; string ids used to fail on a long schema.
    rows = [
        ("doc-a", "alpha beta gamma delta epsilon zeta eta theta"),
        ("doc-b", "alpha beta gamma delta epsilon zeta eta theta"),
        ("doc-c", "completely different content here entirely unrelated words"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    cand = minhash_lsh_candidates(df, "doc_id", "text")
    assert cand.schema.simpleString() == "struct<id_a:string,id_b:string>"
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert ("doc-a", "doc-b") in pairs
    verified = verify_jaccard(cand, df, "doc_id", "text", threshold=0.99).collect()
    cand.unpersist()
    assert {(r["id_a"], r["id_b"]) for r in verified} == {("doc-a", "doc-b")}


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    base = rng.normal(size=(20, 16)).astype(np.float32)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # 100/101: near-duplicates of vector 0
    rows.append((100, [float(x) for x in base[0] + rng.normal(0, 0.01, 16).astype(np.float32)]))
    rows.append((101, [float(x) for x in base[0] * 1.001]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_bruteforce_pairs(vectors):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_bruteforce(vectors, "vec_id", "embedding", 0.99).collect()
    }
    assert (0, 100) in pairs and (0, 101) in pairs and (100, 101) in pairs


def test_embedding_lsh_pairs(vectors):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_lsh(
            vectors, "vec_id", "embedding", dim=16, threshold=0.99, bits=8, num_tables=6
        ).collect()
    }
    assert (0, 100) in pairs and (0, 101) in pairs


def test_similarity_topk(vectors):
    q = vectors.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    res = cosine_topk_bruteforce(vectors, "vec_id", "embedding", [(0, q)], k=3).collect()
    assert [r["id"] for r in res] == [0, 101, 100]
    assert res[0]["cosine"] == pytest.approx(1.0)


def test_similarity_ivf_recall(vectors):
    q = vectors.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    res = cosine_topk_ivf(
        vectors, "vec_id", "embedding", [(0, q)], k=3, num_centroids=4, nprobe=2
    ).collect()
    ids = [r["id"] for r in res]
    assert ids[0] == 0
    assert 100 in ids and 101 in ids  # near-dups land in the probed buckets


def _string_ids(vectors):
    return vectors.select(
        F.concat(F.lit("v-"), F.col("vec_id").cast("string")).alias("vec_id"), "embedding"
    )


def test_embedding_lsh_string_ids(vectors):
    # The hyperplane pass takes its id type from the input, like
    # minhash_signatures.
    res = cosine_pairs_lsh(
        _string_ids(vectors), "vec_id", "embedding", dim=16, threshold=0.99, bits=8,
        num_tables=6,
    )
    assert res.schema["id_a"].dataType.simpleString() == "string"
    pairs = {(r["id_a"], r["id_b"]) for r in res.collect()}
    assert ("v-0", "v-100") in pairs and ("v-0", "v-101") in pairs


def test_similarity_ivf_string_ids(vectors):
    q = vectors.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    res = cosine_topk_ivf(
        _string_ids(vectors), "vec_id", "embedding", [(0, q)], k=3, num_centroids=4,
        nprobe=2,
    ).collect()
    ids = [r["id"] for r in res]
    assert ids[0] == "v-0"
    assert "v-100" in ids and "v-101" in ids


@pytest.fixture(scope="module")
def vectors_with_zeros(vectors):
    zeros = vectors.sparkSession.createDataFrame(
        [(200, [0.0] * 16), (201, [0.0] * 16)], vectors.schema
    )
    return vectors.unionByName(zeros)


def test_cosine_pairs_zero_vector(vectors, vectors_with_zeros):
    # A zero vector has cosine 0.0 with every vector, also under ANSI mode,
    # where a bare division raises DIVIDE_BY_ZERO. The two zero vectors share
    # every LSH bucket, so the LSH verify meets a zero vector too.
    every = cosine_pairs_bruteforce(vectors_with_zeros, "vec_id", "embedding", -1.0).collect()
    assert {r["cosine"] for r in every if 200 in (r["id_a"], r["id_b"])} == {0.0}

    def pairs(op, df, **kw):
        return {(r["id_a"], r["id_b"]) for r in
                op(df, "vec_id", "embedding", threshold=0.99, **kw).collect()}

    for op, kw in ((cosine_pairs_bruteforce, {}),
                   (cosine_pairs_lsh, dict(dim=16, bits=8, num_tables=6))):
        assert pairs(op, vectors_with_zeros, **kw) == pairs(op, vectors, **kw)


def test_cosine_topk_zero_vector(vectors, vectors_with_zeros):
    # Zero vectors in the data score 0.0; a zero query scores 0.0 everywhere,
    # so its top-k is the k lowest ids.
    q = vectors.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    queries = [(0, q), (1, [0.0] * 16)]
    for res in (
        cosine_topk_bruteforce(vectors_with_zeros, "vec_id", "embedding", queries, k=3),
        cosine_topk_ivf(vectors_with_zeros, "vec_id", "embedding", queries, k=3,
                        num_centroids=4, nprobe=4),
    ):
        rows = sorted(res.collect(), key=lambda r: (r["query_id"], r["rnk"]))
        assert [r["id"] for r in rows if r["query_id"] == 0] == [0, 101, 100]
        assert [(r["id"], r["cosine"]) for r in rows if r["query_id"] == 1] == [
            (0, 0.0), (1, 0.0), (2, 0.0)
        ]


@pytest.mark.parametrize("operator", ["minhash", "simhash", "embedding"])
def test_bucket_cap_boundary(spark, operator):
    # n identical rows share every bucket: up to max_bucket_size members the
    # bucket yields all C(n, 2) pairs, one more member and it yields none.
    cap = 5

    def pairs(n):
        if operator == "embedding":
            df = spark.createDataFrame(
                [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)], "id long, v array<float>"
            )
            out = cosine_pairs_lsh(df, "id", "v", dim=4, bits=4, num_tables=2,
                                   max_bucket_size=cap)
        else:
            df = spark.createDataFrame(
                [(i, "alpha beta gamma delta epsilon zeta") for i in range(n)],
                "id long, text string",
            )
            op = minhash_lsh_candidates if operator == "minhash" else simhash_near_dups
            out = op(df, "id", "text", max_bucket_size=cap)
        return {(r["id_a"], r["id_b"]) for r in out.collect()}

    assert pairs(cap) == set(combinations(range(cap), 2))
    assert pairs(cap + 1) == set()
