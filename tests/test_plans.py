"""Physical-plan quality gates: column pruning reaches the parquet scan,
filters push down, small join sides broadcast, aggregation is partial+final
hash agg inside whole-stage codegen. These are the 100-TB posture checks —
a plan that reads all columns for a 2-column projection is a bug."""

import re

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_stats_engine_prunes_columns(spark, sf_dir):
    """Profiling two columns must not read the other four from parquet."""
    from data_validation_spark.stats import exprs as E

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sub = df.select("l_quantity", "l_discount")
    plans = E.classify_columns(sub.schema, set())
    aggs, projs, oaggs = E.build_agg_exprs(plans, None, 100, 1000, 10)
    plan = plan_of(df.select("l_quantity", "l_discount").groupBy().agg(*aggs[1:]))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"l_quantity", "l_discount"}
    # The main wide agg must stay codegen-able: percentile_approx (a
    # TypedImperativeAggregate that forces ObjectHashAggregate, no codegen)
    # is split into the object aggregate.
    assert "ObjectHashAggregate" not in plan
    assert "HashAggregate" in plan
    assert plan.count("Aggregate") >= 2  # partial + final

    # object aggregate: ObjectHashAggregate by design, scan pruned to its
    # columns
    assert oaggs
    qplan = plan_of(df.select(*projs).groupBy().agg(*oaggs))
    qm = re.search(r"ReadSchema: struct<([^>]*)>", qplan)
    assert qm, qplan
    qcols = {c.split(":")[0] for c in qm.group(1).split(",") if c}
    assert qcols == {"l_quantity", "l_discount"}
    assert "ObjectHashAggregate" in qplan


def test_row_constraint_filter_pushdown(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/part.parquet")
    q = df.where((F.col("p_size") < 1) | (F.col("p_size") > 45)).select("p_partkey")
    plan = plan_of(q)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(p_size)" in plan or "Or(LessThan" in plan


def test_referential_join_broadcasts_small_parent(spark, sf_dir):
    from data_validation_spark.validate.rowlevel import check_referential

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    v = check_referential(events, "user_id", customer, "c_custkey")
    plan = plan_of(v)
    # AQE or static planning must pick a broadcast for the small parent side
    assert "BroadcastHashJoin" in plan or "broadcast" in plan.lower()
    assert "LeftAnti" in plan


def test_topk_is_single_shuffle_then_window(spark, sf_dir):
    """The exact top-k path: one Exchange for the counts groupBy, one for the
    window — no extra shuffles or cartesian products."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_returnflag").alias("v")
    )
    counts = (
        li.select(F.lit("s").alias("slice_key"), F.lit("f").alias("feature"), "v")
        .groupBy("slice_key", "feature", "v")
        .count()
    )
    plan = plan_of(counts)
    assert plan.count("Exchange") <= 2  # partial agg → exchange → final agg
    assert "CartesianProduct" not in plan


def test_wide_agg_is_partial_final(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    agg = df.agg(F.count("o_orderkey"), F.avg("o_totalprice"), F.max("o_orderdate"))
    plan = plan_of(agg)
    # two HashAggregates (partial + final) around one exchange
    # (AQE's pre-execution formatted plan omits WholeStageCodegen markers)
    assert plan.count("HashAggregate") >= 2
    assert plan.count("+- Exchange") == 1  # exactly one shuffle in the tree


def test_bytes_stats_stay_out_of_codegen_agg(spark, tmp_path):
    """Binary-column stats must not ride the main wide agg: the theta-sketch
    distinct estimator is an imperative aggregate, and one such function
    disables whole-stage codegen for EVERY expression in the aggregate
    (measured 2-3× on a table with a large binary column). All bytes stats
    run in the object aggregate (a branch of the long pass) over a codegen'd
    projection of the payload, so the wide agg's scan does not read the
    binary column at all and the payload is still read exactly once across
    the pass. The estimator is the theta (KMV) sketch, not HLL++, whose
    buffer costs code generation in every task."""
    from data_validation_spark.stats import engine
    from data_validation_spark.stats import exprs as E
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    src = spark.createDataFrame(
        [(bytes([i]) * 10, i, f"s{i}") for i in range(50)] + [(None, 99, "s")],
        "payload binary, k int, s string",
    )
    path = str(tmp_path / "bytes_tbl")
    src.write.parquet(path)
    df = spark.read.parquet(path)
    plans = E.classify_columns(df.schema, set())
    aggs, projs, oaggs = E.build_agg_exprs(plans, None, 100, 1000, 10)
    main_plan = plan_of(df.groupBy().agg(*aggs))
    hll = ("approx_count_distinct", "HyperLogLogPlusPlus")
    for name in (*hll, "theta_sketch_agg"):
        assert name not in main_plan, name
    # wide agg's parquet scan must not read the payload column at all
    m = re.search(r"ReadSchema: struct<([^>]*)>", main_plan)
    assert m and "payload" not in m.group(1), main_plan
    assert sum("theta_sketch_agg" in str(a) for a in oaggs) == 1
    obj_plan = plan_of(df.select(*projs).groupBy().agg(*oaggs))
    assert "theta_sketch_agg" in obj_plan and "ObjectHashAggregate" in obj_plan
    for name in hll:
        assert name not in obj_plan, name
    # the object aggregate reads the payload and the numeric column only
    m = re.search(r"ReadSchema: struct<([^>]*)>", obj_plan)
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {"payload", "k"}
    # the engine still reports full bytes stats (50 distinct 10-byte payloads)
    engine.CAPTURE_UNION_FRAME = True
    try:
        stats = compute_statistics(df, StatsOptions())
        union = engine._last_union_frame
    finally:
        engine.CAPTURE_UNION_FRAME = False
        engine._last_union_frame = None
    assert "theta_sketch_agg" in plan_of(union)
    bs = stats.default_slice().feature("payload").bytes
    assert bs.unique == 50
    assert bs.min_num_bytes == 10 and bs.max_num_bytes == 10
    assert stats.default_slice().feature("payload").common.num_non_missing == 50
    assert stats.default_slice().feature("payload").common.num_missing == 1


def test_embedding_topk_broadcasts_query(spark, sf_dir):
    import __spark_entry__ as m

    df = m.q_embedding_topk(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_local_df_parameterized_ddl(spark):
    """Field names come from the parsed DDL, so commas inside decimal(p,s)
    and struct<...> types do not split fields."""
    from decimal import Decimal

    import __spark_entry__ as m

    ddl = "d decimal(10,2), st struct<a:int,b:string>, n bigint"
    out = m._local_df(spark, [(Decimal("1.50"), (1, "x"), 7)], ddl)
    assert out.columns == ["d", "st", "n"]
    (row,) = out.collect()
    assert row["d"] == Decimal("1.50")
    assert (row["st"]["a"], row["st"]["b"]) == (1, "x")
    assert row["n"] == 7


def test_local_frame_round_trips_exactly(spark):
    """Driver rows come back unchanged through the Arrow route: a null in a
    long column, a 64-bit value no float holds, float arrays (empty and
    null too), and no rows at all; the plan is a local relation."""
    from data_validation_spark.util import local_frame

    ddl = "n bigint, v array<float>"
    rows = [(None, [1.5, -2.0]), (2**62, []), (2**62 + 1, None)]
    out = local_frame(spark, rows, ddl)
    assert out.schema.simpleString() == "struct<n:bigint,v:array<float>>"
    assert [tuple(r) for r in out.collect()] == rows
    plan = plan_of(out)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan

    empty = local_frame(spark, [], ddl)
    assert empty.schema == out.schema
    assert empty.collect() == []
    assert "ExistingRDD" not in plan_of(empty)

    # a schema with no row constraint yields the empty violations frame
    from pyspark.sql.types import StructType

    from data_validation_spark.schema import Schema
    from data_validation_spark.validate.rowlevel import VIOLATION_DDL, check_row_constraints

    none = check_row_constraints(spark.range(3), Schema(), "id")
    assert none.schema == StructType.fromDDL(VIOLATION_DDL)
    assert none.collect() == []
    plan = plan_of(none)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_partitioned_read_prunes_partitions(spark, tmp_path):
    """The checkpoint ledger's per-partition read must reach PartitionFilters
    (not a post-scan filter): identical semantics for hive-partitioned parquet
    and Iceberg identity partitions — the Iceberg jar is absent in this
    sandbox, so the hive layout stands in (sources.py seam)."""
    src = spark.range(0, 1000).selectExpr(
        "id", "CAST(id % 4 AS INT) AS day", "id * 2 AS v"
    )
    path = str(tmp_path / "parts")
    src.write.partitionBy("day").mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    one = df.where(F.col("day") == 2)
    plan = plan_of(one.select("v"))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "day" in m.group(1), plan  # predicate reached the partition filter
    assert one.count() == 250
    # cast-to-string equality must NOT be used for partition reads (it can
    # defeat pruning); the native-typed predicate is what run_validation uses.


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Pre-bucketed referential check: both sides bucketed+sorted on the key
    → the anti-join plan has NO shuffle (Exchange) — the amortized posture
    for parent tables too large to broadcast."""
    from data_validation_spark.sources import (
        check_referential_bucketed,
        write_bucketed_table,
    )

    child = spark.range(0, 5000).selectExpr("id AS user_id", "id * 2 AS v")
    parent = spark.range(0, 4000).selectExpr("id AS c_custkey")
    spark.sql("DROP TABLE IF EXISTS bt_child")
    spark.sql("DROP TABLE IF EXISTS bt_parent")
    write_bucketed_table(child, "bt_child", "user_id", num_buckets=8)
    write_bucketed_table(parent, "bt_parent", "c_custkey", num_buckets=8)
    try:
        # force the sort-merge path (broadcast would hide the bucketing)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        v = check_referential_bucketed(spark, "bt_child", "user_id", "bt_parent", "c_custkey")
        plan = plan_of(v)
        assert "Exchange" not in plan, plan
        assert v.count() == 1000  # ids 4000..4999 are orphans
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bt_child")
        spark.sql("DROP TABLE IF EXISTS bt_parent")


def test_weighted_quantile_pass_scan_pruned(spark, tmp_path):
    """Exact-mode weighted-quantile job (round 4): its long frame must scan
    ONLY the numeric columns + the weight column — string/binary columns are
    Catalyst-pruned out (ReadSchema check), so at 100 TB the weighted-quantile
    branch reads GBs, not the full table."""
    from pyspark.sql import functions as F

    from data_validation_spark.stats import exprs as E
    from data_validation_spark.weights import ExampleWeightMap

    df = spark.range(1000).select(
        F.col("id").cast("double").alias("x"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        F.encode(F.concat(F.lit("blob"), F.col("id")), "utf-8").alias("b"),
        (F.rand(1) + 0.5).alias("w"),
    )
    p = str(tmp_path / "t.parquet")
    df.write.parquet(p)
    src = spark.read.parquet(p)

    plans = E.classify_columns(src.select("x", "s", "b").schema, set())
    num_plans = [pl for pl in plans if pl.numeric]
    long_df = E.long_format(
        src, num_plans, F.lit("All Examples"), ExampleWeightMap("w"),
        include_scalar_numeric=True,
    )
    plan = plan_of(long_df)
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"x", "w"}, read_cols


def test_exact_weighted_long_pass_fused(spark, tmp_path):
    """Round 5: exact mode runs top-k/uniques, the percentile grids, AND
    (weighted) the weighted quantile buckets as ONE unioned action — exact mode
    submits exactly TWO jobs (wide agg + this union) instead of round-4's
    four. The union's physical plan must contain exactly one scan per
    branch with column-pruned ReadSchemas (categorical+weight / scalar
    numeric / numeric+weight), and the object-aggregate branch, which holds
    the percentile grids, must be the only ObjectHashAggregate (everything
    else keeps hash agg)."""
    from pyspark.sql import functions as F

    from data_validation_spark.stats import engine
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    df = spark.range(500).select(
        F.col("id").cast("double").alias("x"),
        F.concat(F.lit("v"), (F.col("id") % 7).cast("string")).alias("s"),
        (F.rand(3) + 0.5).alias("w"),
    )
    p = str(tmp_path / "wt.parquet")
    df.write.parquet(p)
    src = spark.read.parquet(p)

    engine.CAPTURE_UNION_FRAME = True
    try:
        stats = compute_statistics(src, StatsOptions(weight_column="w"))
        union = engine._last_union_frame
    finally:
        engine.CAPTURE_UNION_FRAME = False
        engine._last_union_frame = None
    fx = stats.default_slice().feature("x")
    assert fx.numeric is not None and fx.numeric.weighted_histograms
    plan = plan_of(union)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    # top-k branch + weighted-quantile branch + object-aggregate branch
    assert len(schemas) == 3, plan
    colsets = [
        {c.split(":")[0] for c in s.split(",") if c} for s in schemas
    ]
    assert sorted(colsets, key=sorted) == sorted(
        [{"s", "w"}, {"x"}, {"x", "w"}], key=sorted
    ), colsets
    assert "ObjectHashAggregate" in plan  # the isolated object branch


def test_unweighted_sketch_long_pass_stays_in_jvm(spark, tmp_path):
    """Sketch mode without weights computes top-k and uniques with Spark's
    own sketch aggregates inside the long pass's union: no Python
    (MapInPandas / FlatMapGroupsInPandas) node anywhere in its plan."""
    from data_validation_spark.stats import engine
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    df = spark.range(500).select(
        F.col("id").cast("double").alias("x"),
        F.concat(F.lit("v"), (F.col("id") % 7).cast("string")).alias("s"),
        F.array(F.col("id").cast("double")).alias("a"),
    )
    p = str(tmp_path / "sk.parquet")
    df.write.parquet(p)
    engine.CAPTURE_UNION_FRAME = True
    try:
        stats = compute_statistics(
            spark.read.parquet(p), StatsOptions(use_sketches=True)
        )
        union = engine._last_union_frame
    finally:
        engine.CAPTURE_UNION_FRAME = False
        engine._last_union_frame = None
    assert stats.default_slice().feature("s").string.unique == 7
    plan = plan_of(union)
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan
    assert "approx_top_k_accumulate" in plan and "theta_sketch_agg" in plan


def test_weighted_long_pass_has_no_python_node(spark, tmp_path):
    """With a weight column, in both modes, the long pass's union has no
    Python node: the weighted quantile buckets and the weighted top-k are
    Spark aggregates. The bucket branch reads only the numeric columns and
    the weight."""
    from data_validation_spark.stats import engine
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    df = spark.range(500).select(
        F.col("id").cast("double").alias("x"),
        F.concat(F.lit("v"), (F.col("id") % 7).cast("string")).alias("s"),
        F.array(F.col("id").cast("double")).alias("a"),
        (F.rand(3) + 0.5).alias("w"),
    )
    p = str(tmp_path / "wsk.parquet")
    df.write.parquet(p)
    for use_sketches in (False, True):
        engine.CAPTURE_UNION_FRAME = True
        try:
            stats = compute_statistics(
                spark.read.parquet(p),
                StatsOptions(use_sketches=use_sketches, weight_column="w"),
            )
            union = engine._last_union_frame
        finally:
            engine.CAPTURE_UNION_FRAME = False
            engine._last_union_frame = None
        s = stats.default_slice().feature("s").string
        assert s.unique == 7 and len(s.weighted_top_values) == 7
        assert stats.default_slice().feature("a").numeric.weighted_median is not None
        plan = union._jdf.queryExecution().sparkPlan().toString()
        nodes = [line.lstrip(" :+-").split(" ")[0] for line in plan.splitlines()]
        python = [n for n in nodes if "Pandas" in n or "EvalPython" in n]
        assert python == [], plan
        schemas = [set(re.findall(r"[<,](\w+):", m))
                   for m in re.findall(r"ReadSchema: (struct<.*>)", plan)]
        assert {"x", "a", "w"} in schemas, plan
        assert any({"s", "w"} <= cols for cols in schemas), plan


def test_lsh_pairing_stays_in_jvm(spark):
    """MinHash, SimHash and embedding LSH pair the members of a bucket with
    Spark's own operators: the only Python node in each plan is its one
    signature or fingerprint ``MapInArrow`` or hyperplane ``MapInPandas``."""
    from data_validation_spark.dedup.embedding import cosine_pairs_lsh
    from data_validation_spark.dedup.minhash import minhash_lsh_candidates
    from data_validation_spark.dedup.simhash import simhash_near_dups

    docs = spark.createDataFrame([(0, "a b c d"), (1, "a b c e")], "id long, text string")
    vecs = spark.createDataFrame([(0, [1.0, 0.0]), (1, [1.0, 0.1])], "id long, v array<float>")
    for out, node in (
        (minhash_lsh_candidates(docs, "id", "text"), "MapInArrow"),
        (simhash_near_dups(docs, "id", "text"), "MapInArrow"),
        (cosine_pairs_lsh(vecs, "id", "v", dim=2), "MapInPandas"),
    ):
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "simple"
        )
        nodes = [line.lstrip(" :+-").split(" ")[0] for line in plan.splitlines()]
        python = [n for n in nodes if "Pandas" in n or "Python" in n or "Arrow" in n]
        assert python == [node], plan
