"""Approximate nearest-neighbor search over an embedding column.

* ``cosine_topk_bruteforce`` — exact baseline: broadcast the query set, one
  scan, per-partition partial top-k (Window row_number), no O(n·q) shuffle.
* ``cosine_topk_ivf`` — scale path: k-means-style coarse quantizer (trained on
  a sample, broadcast), rows bucketed to their nearest centroid; queries probe
  the ``nprobe`` nearest centroid buckets only — the scan and shuffle touch a
  fraction of the data.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from data_validation_spark.dedup.embedding import _cosine_expr
from data_validation_spark.util import local_frame


def cosine_topk_bruteforce(
    df: DataFrame, id_col: str, vec_col: str, queries: list[tuple[int, list[float]]],
    k: int = 10,
) -> DataFrame:
    """Exact top-k per query: (query_id, rnk, id, cosine)."""
    spark = df.sparkSession
    qdf = F.broadcast(local_frame(spark, queries, "query_id long, qv array<float>"))
    joined = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).crossJoin(qdf)
    return _top_k(joined, k)


def _top_k(joined: DataFrame, k: int) -> DataFrame:
    """(query_id, rnk, id, cosine): the ``k`` rows of ``joined`` (query_id,
    id, v, qv) nearest each query by cosine, ties broken by id."""
    scored = joined.select(
        "query_id", "id", _cosine_expr(F.col("v"), F.col("qv")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "id", "cosine")
    )


def train_centroids(
    df: DataFrame, vec_col: str, num_centroids: int = 64, sample: int = 10000,
    iters: int = 8, seed: int = 42, row_count_hint: int | None = None,
) -> np.ndarray:
    """Mini k-means on a driver-side sample (Lloyd iterations, numpy).

    Sampling is a real Bernoulli ``df.sample`` — ``limit(n)`` would take the
    first partitions only, a biased sample on sorted/partitioned data.

    Sizing the Bernoulli fraction needs the row count. ``row_count_hint``
    (e.g. from catalog/table statistics) gives it without an action;
    without a hint it is ``df.count()``, which reads no vector. An input of
    at most ``sample`` rows samples at fraction 1.0 and so trains on every
    row in frame order.
    """
    n = df.count() if row_count_hint is None else row_count_hint
    if n == 0:
        raise ValueError("cannot train centroids on an empty DataFrame")
    vecs = df.select(vec_col)
    frac = min(1.0, (sample * 1.2) / n)
    rows = (
        vecs.sample(withReplacement=False, fraction=frac, seed=seed)
        .limit(sample)
        .toPandas()[vec_col]
        .tolist()
    )
    if not rows:  # tiny inputs where the Bernoulli draw came up empty
        rows = vecs.limit(sample).toPandas()[vec_col].tolist()
    x = np.array(rows, dtype=np.float32)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-9)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(num_centroids, len(x)), replace=False)].copy()
    for _ in range(iters):
        assign = (x @ cent.T).argmax(axis=1)
        for c in range(len(cent)):
            m = assign == c
            if m.any():
                v = x[m].mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-9)
    return cent


def cosine_topk_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    num_centroids: int = 64,
    nprobe: int = 8,
    centroids: np.ndarray | None = None,
    row_count_hint: int | None = None,
) -> DataFrame:
    """IVF-style ANN: bucket rows by nearest centroid; probe top-``nprobe``
    buckets per query. Returns (query_id, rnk, id, cosine) — approximate.
    ``row_count_hint`` forwards to :func:`train_centroids` so production
    callers with catalog statistics avoid any pre-training scan."""
    spark = df.sparkSession
    if centroids is None:
        centroids = train_centroids(
            df, vec_col, num_centroids, row_count_hint=row_count_hint
        )
    cent_b = spark.sparkContext.broadcast(centroids)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = cent_b.value
        for pdf in batches:
            v = np.array(pdf[vec_col].tolist(), dtype=np.float32)
            if len(v) == 0:
                yield pd.DataFrame({"id": [], "bucket": [], "v": []})
                continue
            vn = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-9)
            b = (vn @ cent.T).argmax(axis=1)
            yield pd.DataFrame(
                {"id": pdf[id_col], "bucket": b.astype(np.int32), "v": pdf[vec_col]}
            )

    bucketed = df.select(id_col, vec_col).mapInPandas(
        assign, f"id {df.schema[id_col].dataType.simpleString()}, bucket int, v array<float>"
    )

    qc = []
    cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-9)
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float32)
        q = q / max(np.linalg.norm(q), 1e-9)
        probes = np.argsort(-(cn @ q))[:nprobe]
        for b in probes:
            qc.append((qid, int(b), [float(x) for x in qv]))
    qdf = F.broadcast(local_frame(spark, qc, "query_id long, bucket int, qv array<float>"))

    return _top_k(bucketed.join(qdf, on="bucket"), k)
