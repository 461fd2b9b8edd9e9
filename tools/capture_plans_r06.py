"""Capture .explain("formatted") plans for round-6-touched queries.

Usage: python tools/capture_plans_r06.py <suffix>   (suffix = before|after)

For queries whose declared function returns a driver-assembled
``createDataFrame`` (engine queries), the meaningful plan is the internal
heavy frame; this script captures those via the same public APIs the query
uses, labelled accordingly.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")


def fmt(df):
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main():
    suffix = sys.argv[1]
    from pyspark.sql import functions as F

    from data_validation_spark.session import get_spark

    spark = get_spark("plans-r06", master="local[32]", shuffle_partitions=32)
    import __spark_entry__ as entry

    def save(name, df):
        with open(os.path.join(OUT, f"{name}_{suffix}.txt"), "w") as f:
            f.write(fmt(df))

    # full-query plans (lazy frames)
    save("tpch_q1", entry.q_tpch_q1(spark, SF))
    save("minhash_dedup", entry.q_minhash_dedup(spark, SF))
    save("duplicate_keys", entry.q_duplicate_keys(spark, SF))

    # verify_jaccard internal frame (the minhash_dedup hot spot)
    from data_validation_spark.dedup.minhash import minhash_lsh_candidates, verify_jaccard

    aug = entry._docs_augmented(spark, SF)
    cand = minhash_lsh_candidates(aug, "doc_id", "text", num_hashes=64, bands=16)
    save("verify_jaccard_frame", verify_jaccard(cand, aug, "doc_id", "text", threshold=0.5))

    # simhash near-dup pairs frame (internal to q_simhash_docs)
    from data_validation_spark.dedup.simhash import simhash_near_dups

    aug_i = entry._docs_augmented_identical(spark, SF)
    save("simhash_pairs_frame", simhash_near_dups(aug_i, "doc_id", "text", radius=3))

    # engine long-pass union frame for presence_orders input shape
    from data_validation_spark.stats import engine as eng
    from data_validation_spark.stats.options import StatsOptions

    eng.CAPTURE_UNION_FRAME = True
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    if suffix != "before":
        # the query now projects to its 6 reported columns before the engine
        orders = orders.select(*entry._ORDERS_COLS)
    try:
        eng.compute_statistics(orders, StatsOptions())
        if eng._last_union_frame is not None:
            save("presence_orders_longpass", eng._last_union_frame)
    finally:
        eng.CAPTURE_UNION_FRAME = False
        eng._last_union_frame = None

    # images-table wide agg + object aggregate (the flagship's stats-pass
    # shape): captures whether the binary column is read by the codegen'd
    # wide agg or by the object aggregate
    from data_validation_spark.stats import exprs as EX
    from data_validation_spark.stats.options import StatsOptions as SO

    from data_validation_spark.datagen import ensure_images

    images = spark.read.parquet(ensure_images(spark, 400000, "clean"))
    iplans = EX.classify_columns(images.schema, {"fmt"})
    for p in iplans:
        if p.name == "bytes":
            p.image_stats = True
    iaggs, projs, oaggs = EX.build_agg_exprs(iplans, None, 100, 200, 10)
    save("images_wide_agg", images.groupBy(F.lit("All Examples").alias("slice_key")).agg(*iaggs))
    save(
        "images_object_agg",
        images.select(F.lit("All Examples").alias("slice_key"), *projs)
        .groupBy("slice_key")
        .agg(*oaggs),
    )

    # uniqueness violations frame (check_uniqueness over events pairs)
    from data_validation_spark.validate.rowlevel import check_uniqueness

    events = entry._t(spark, SF, "events").select(
        F.concat_ws(
            "#",
            F.coalesce(F.col("user_id").cast("string"), F.lit("<null>")),
            F.coalesce(F.col("event_type"), F.lit("<null>")),
        ).alias("k")
    )
    save("check_uniqueness_frame", check_uniqueness(events, "k"))

    spark.stop()


if __name__ == "__main__":
    main()
