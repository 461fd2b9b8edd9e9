"""The bucket-pair generator shared by the LSH near-duplicate operators.

MinHash bands, SimHash blocks and hyperplane-LSH signatures all reduce
near-duplicate search to one step: every pair of rows sharing a bucket key
is a candidate. The step is all JVM. Pairing does almost no work per pair,
so a pandas UDF's Arrow round trip would cost more than the pairing itself.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F


def bucket_pairs(
    keyed: DataFrame,
    keys: Sequence[str],
    max_bucket_size: int,
    payload: Sequence[str] = (),
) -> DataFrame:
    """Distinct ``(id_a < id_b)`` pairs of rows of ``keyed`` sharing ``keys``.

    ``keyed`` has an orderable ``id`` column, the ``keys`` and the
    ``payload`` columns. The result has ``id_a, id_b`` in the input's id
    type, then ``<p>_a, <p>_b`` for each payload column ``p``, for the
    caller's verify expression. One groupBy shuffle collects each bucket's
    members; a bucket of more than ``max_bucket_size`` members yields no
    pairs, so one hot key cannot blow up quadratically.
    """
    cols = ["id", *payload]
    members = (
        keyed.groupBy(*keys)
        .agg(F.collect_list(F.struct(*cols)).alias("m"))
        .where(F.size("m").between(2, max_bucket_size))
    )
    return (
        members.select("m", F.explode("m").alias("a"))
        .select("a", F.explode("m").alias("b"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(*[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in cols for s in "ab"])
        .dropDuplicates(["id_a", "id_b"])
    )
