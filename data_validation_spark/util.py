"""Small shared helpers."""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def ensure_min_partitions(df: DataFrame, minimum: int | None = None) -> DataFrame:
    """Repartition only when the input is under-split for the cluster.

    Arrow-batched passes (minhash signatures, simhash fingerprints, language
    ID) parallelize per input partition; a single-row-group parquet file scans
    as ONE task and serializes the whole pass. At real cluster scale inputs
    have plentiful splits and this is a no-op; locally it costs one narrow
    shuffle of the projected columns and buys full-core parallelism.
    """
    sc = df.sparkSession.sparkContext
    minimum = minimum or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= minimum:
        return df
    return df.repartition(minimum)


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """``df.cache()`` for the body of a ``with`` block, unpersisted however
    the block exits — an exception between a hand-paired cache/unpersist
    otherwise leaves the cached blocks behind for the rest of the session."""
    df = df.cache()
    try:
        yield df
    finally:
        df.unpersist()


def local_frame(spark, rows, ddl: str) -> DataFrame:
    """A DataFrame over KB-scale driver-built rows, planned as a local relation.

    ``createDataFrame(list, ddl)`` (and the pandas route when Arrow is off)
    parallelizes pickled rows into a ``Scan ExistingRDD``: every action over
    it re-runs a Python job, and the relation carries no size statistics, so
    Catalyst never broadcasts it on its own and plans joins against it as
    shuffles. An Arrow table built here from the rows, column by column, plans
    as ``LocalTableScan`` with a real ``sizeInBytes`` and keeps Python ints
    exact (``None`` stays null, 64-bit values stay whole).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)
