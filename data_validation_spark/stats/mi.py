"""Mutual information between a feature and a label.

The reference estimates kNN-based adjusted MI over random partitions
(``mutual_information.py`` + ``partitioned_stats_generator.py``). Here:

* ``discrete_mutual_information`` — exact MI over categorical (or binned
  numeric) pairs: one groupBy(x, y) shuffle + two marginal aggregations
  derived from it, MI summed driver-side in log2. Numeric columns are
  equi-width binned first (``num_bins``).
* ``estimated_mutual_information`` / ``estimated_knn_mutual_information`` —
  the reference's sample-partitioned shape: plug-in or KSG MI computed per
  random partition via the partitioned harness (``sparse.partitioned_stats``),
  summarized min/max/mean/median/std across partitions.

The per-partition estimators (KSG, plug-in, digamma, neighbour search) are
owned by [[mi_mixed]]; this module only prepares their inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _binned(df: DataFrame, col: str, num_bins: int):
    dtype = dict(df.dtypes)[col]
    c = F.col(col)
    if dtype in ("double", "float"):
        mm = df.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0]
        lo, hi = mm["lo"], mm["hi"]
        if lo is None or hi is None or hi == lo:
            return F.lit(0).cast("string")
        width = (hi - lo) / num_bins
        return F.least(F.floor((c - lo) / width), F.lit(num_bins - 1)).cast("string")
    return c.cast("string")


def discrete_mutual_information(
    df: DataFrame, x_col: str, y_col: str, num_bins: int = 10
) -> float:
    """Exact MI in bits over the (binned) joint distribution.

    Fully distributive: the joint histogram stays on the cluster; marginals
    are window sums partitioned by x / by y (each a keyed shuffle, no single
    reducer), and only the final scalar MI sum reaches the driver — safe at
    arbitrary joint cardinality.
    """
    from pyspark.sql import Window

    pairs = df.select(
        _binned(df, x_col, num_bins).alias("x"), _binned(df, y_col, num_bins).alias("y")
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    joint = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n"))
    total_row = joint.agg(F.sum("n").alias("t")).collect()[0]
    total = total_row["t"] or 0
    if total == 0:
        return 0.0
    nx = F.sum("n").over(Window.partitionBy("x"))
    ny = F.sum("n").over(Window.partitionBy("y"))
    term = (F.col("n") / F.lit(float(total))) * F.log2(
        (F.col("n") * F.lit(float(total))) / (F.col("nxx") * F.col("nyy"))
    )
    mi_row = (
        joint.withColumn("nxx", nx)
        .withColumn("nyy", ny)
        .agg(F.sum(term).alias("mi"))
        .collect()[0]
    )
    return max(float(mi_row["mi"] or 0.0), 0.0)


def kraskov_mi(x, y, k: int = 3) -> float:
    """KSG estimator #1 (Kraskov et al. 2004) of MI between two continuous
    samples, in nats — the reference's kNN-MI approach
    (``mutual_information.py``):

        MI ≈ ψ(k) + ψ(N) − ⟨ψ(n_x+1) + ψ(n_y+1)⟩

    Drops non-finite pairs, breaks ties with a tiny deterministic jitter,
    then runs the shared KSG kernel (``_mi_high_dim_cc`` in [[mi_mixed]],
    method 1): O(chunk·n) memory for the joint neighbour search, sorted
    searchsorted counts per axis."""
    import numpy as np

    from data_validation_spark.stats.mi_mixed import _LN2, _mi_high_dim_cc

    x = np.asarray(x, dtype=np.float64).ravel()
    y = np.asarray(y, dtype=np.float64).ravel()
    m = np.isfinite(x) & np.isfinite(y)
    x, y = x[m], y[m]
    n = x.size
    if n <= k + 1:
        return 0.0
    # tiny deterministic jitter breaks ties (KSG assumes continuous data)
    rngx = (x.max() - x.min()) or 1.0
    rngy = (y.max() - y.min()) or 1.0
    g = np.random.Generator(np.random.Philox(key=[1234, 0]))
    x = x + g.normal(0, 1e-10 * rngx, n)
    y = y + g.normal(0, 1e-10 * rngy, n)
    bits, _ = _mi_high_dim_cc(x[:, None], y[:, None], k, "smaller_data", np.ones(n))
    return bits * _LN2


def estimated_knn_mutual_information(
    df: DataFrame, x_col: str, y_col: str, num_partitions: int = 10,
    k: int = 3, max_rows_per_partition: int = 2000, seed: int = 42,
    adjusted: bool = False,
) -> dict:
    """kNN (Kraskov) MI per random partition, summarized across partitions —
    the reference's partitioned kNN-MI shape
    (``mutual_information.py`` + ``partitioned_stats_generator.py:35-115``).

    With ``adjusted=True``, also computes the reference's Adjusted Mutual
    Information per partition — ``AMI = MI(x, y) − MI(x, shuffle(y))``
    (``mutual_information.py:455-460,711``), clamped at 0 — and returns
    ``{"mi": summary, "ami": summary}``. The label shuffle is seeded per
    partition so runs are deterministic."""
    import pandas as pd

    from data_validation_spark.stats.sparse import partitioned_stats

    def fn(pdf: pd.DataFrame) -> dict:
        if len(pdf) > max_rows_per_partition:
            pdf = pdf.sample(n=max_rows_per_partition, random_state=0)
        x = pdf[x_col].to_numpy()
        y = pdf[y_col].to_numpy()
        mi = kraskov_mi(x, y, k)
        out = {"knn_mi_nats": mi}
        if adjusted:
            import numpy as np

            ys = y.copy()
            np.random.RandomState(0).shuffle(ys)
            out["knn_ami_nats"] = max(mi - kraskov_mi(x, ys, k), 0.0)
        return out

    out = partitioned_stats(
        df.select(x_col, y_col).dropna(), fn, num_partitions=num_partitions, seed=seed
    )
    if adjusted:
        return {"mi": out["knn_mi_nats"], "ami": out["knn_ami_nats"]}
    return out["knn_mi_nats"]


def estimated_mutual_information(
    df: DataFrame, x_col: str, y_col: str, num_partitions: int = 10,
    num_bins: int = 10, seed: int = 42,
) -> dict:
    """MI in bits estimated per random partition, summarized across
    partitions — the reference's partitioned-estimator shape. Floating
    columns are equi-width binned per partition (``num_bins``); rows with a
    missing value are dropped; each partition runs the shared plug-in kernel
    (``_mi_high_dim_dd`` in [[mi_mixed]])."""
    import numpy as np
    import pandas as pd

    from data_validation_spark.stats.mi_mixed import _mi_high_dim_dd
    from data_validation_spark.stats.sparse import partitioned_stats

    def fn(pdf: pd.DataFrame) -> dict:
        x = pdf[x_col]
        y = pdf[y_col]
        if np.issubdtype(x.dtype, np.floating):
            x = pd.cut(x, bins=num_bins, labels=False)
        if np.issubdtype(y.dtype, np.floating):
            y = pd.cut(y, bins=num_bins, labels=False)
        keep = (x.notna() & y.notna()).to_numpy()
        if not keep.any():
            return {"mi": 0.0}
        bits, _ = _mi_high_dim_dd(
            pd.factorize(x[keep])[0], pd.factorize(y[keep])[0], np.ones(keep.sum())
        )
        return {"mi": bits}

    out = partitioned_stats(
        df.select(x_col, y_col), fn, num_partitions=num_partitions, seed=seed
    )
    return out["mi"]
