"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full statistics+validation profile of the
synthesized image/caption table (the engine's primary input shape) at smoke
scale, returned as stats rows.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator family
from SURVEY.md §2, runnable on the driver's parquet tables and cross-checked
against DuckDB. Float outputs are emitted as ``*_e6`` integers
(``CAST(ROUND(x*1e6) AS BIGINT)``) so value-hash comparison is exact across
engines. Non-SQL-expressible ops (sketches, LSH dedup, image pipeline) omit
the oracle → rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_validation_spark.jobs import run_parallel
from data_validation_spark.stats.engine import compute_statistics
from data_validation_spark.stats.options import StatsOptions
from data_validation_spark.util import local_frame, persisted


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _e6(col) -> "F.Column":
    return F.round(col * F.lit(1000000.0), 0).cast("long")


# Driver-assembled KB-scale results plan as local relations (Arrow, no
# parallelize job); see ``local_frame``.
_local_df = local_frame


# ----------------------------------------------------------------- flagship --
def entry(spark: SparkSession) -> DataFrame:
    """Stats+validation over the synthesized input_hint images table (1k rows),
    plus the engine's stats rows as the returned DataFrame."""
    from data_validation_spark.datagen import images_df
    from data_validation_spark.stats.result import STATS_ROW_SCHEMA, stats_rows

    df = images_df(spark, 1000, "clean")
    stats = compute_statistics(
        df, StatsOptions(categorical_features={"fmt"}, image_columns={"bytes"})
    )
    rows = stats_rows(stats)
    return spark.createDataFrame(rows, STATS_ROW_SCHEMA)


# ------------------------------------------------------------------ queries --
def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _e6(F.sum("l_quantity")).alias("sum_qty_e6"),
            _e6(F.sum("l_extendedprice")).alias("sum_base_price_e6"),
            _e6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_price_e6"
            ),
            _e6(F.avg("l_quantity")).alias("avg_qty_e6"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_LINEITEM_NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_colstats_lineitem(spark, sf_dir):
    """Engine single-pass column profile → one row per numeric column."""
    li = _t(spark, sf_dir, "lineitem").select(*_LINEITEM_NUM_COLS)
    stats = compute_statistics(li, StatsOptions())
    ds = stats.default_slice()
    rows = []
    for name in _LINEITEM_NUM_COLS:
        fs = ds.feature(name)
        n = fs.numeric
        rows.append(
            (
                name,
                fs.common.num_non_missing,
                fs.common.num_missing,
                int(round(n.min * 1e6)),
                int(round(n.max * 1e6)),
                int(round(n.mean * 1e6)),
                int(round(n.std_dev * 1e4)),
                n.num_zeros,
            )
        )
    return _local_df(spark, 
        rows,
        "feature string, non_missing bigint, missing bigint, min_e6 bigint, "
        "max_e6 bigint, mean_e6 bigint, std_e4 bigint, zeros bigint",
    )


def _colstats_sql():
    parts = []
    for c in _LINEITEM_NUM_COLS:
        parts.append(
            f"SELECT '{c}' AS feature, count({c}) AS non_missing, "
            f"count(*) - count({c}) AS missing, "
            f"CAST(ROUND(min({c})*1000000) AS BIGINT) AS min_e6, "
            f"CAST(ROUND(max({c})*1000000) AS BIGINT) AS max_e6, "
            f"CAST(ROUND(avg({c})*1000000) AS BIGINT) AS mean_e6, "
            f"CAST(ROUND(stddev_pop({c})*10000) AS BIGINT) AS std_e4, "
            f"CAST(sum(CASE WHEN {c} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros "
            f"FROM lineitem"
        )
    return " UNION ALL ".join(parts)


_ORDERS_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def q_presence_orders(spark, sf_dir):
    """Engine presence stats (non-missing / missing per column)."""
    # The orders table has exactly these 6 columns; the explicit projection
    # keeps the reported set fixed if a wider orders file (TPC-H's full 9,
    # with o_comment) is ever passed in.
    orders = _t(spark, sf_dir, "orders").select(*_ORDERS_COLS)
    stats = compute_statistics(orders, StatsOptions())
    ds = stats.default_slice()
    rows = [
        (c, ds.num_examples, ds.feature(c).common.num_non_missing,
         ds.feature(c).common.num_missing)
        for c in _ORDERS_COLS
    ]
    return _local_df(spark, 
        rows, "feature string, num_examples bigint, non_missing bigint, missing bigint"
    )


def _presence_sql():
    parts = [
        f"SELECT '{c}' AS feature, count(*) AS num_examples, count({c}) AS non_missing, "
        f"count(*) - count({c}) AS missing FROM orders"
        for c in _ORDERS_COLS
    ]
    return " UNION ALL ".join(parts)


_TOPK_FEATURES = [("lineitem", "l_returnflag"), ("lineitem", "l_linestatus"),
                  ("orders", "o_orderstatus"), ("orders", "o_orderpriority")]


def _stats_per_table(spark, sf_dir, options_fn):
    """One engine call per table over BOTH its _TOPK_FEATURES columns, the
    tables run concurrently — 4 sequential single-column compute_statistics
    calls (round 5) were 4 job waves where 2 suffice, and each table was
    scanned once per column instead of once total."""
    tables: dict[str, list[str]] = {}
    for table, colname in _TOPK_FEATURES:
        tables.setdefault(table, []).append(colname)

    def run(table):
        df = _t(spark, sf_dir, table).select(*tables[table])
        return lambda: compute_statistics(df, options_fn())

    out = run_parallel(spark, {f"entry.{table}": run(table) for table in tables})
    return {table: out[f"entry.{table}"] for table in tables}


def q_topk_categorical(spark, sf_dir):
    """Engine exact top-k with (count desc, value desc) tie-break parity."""
    stats_by_table = _stats_per_table(
        spark, sf_dir, lambda: StatsOptions(num_top_values=5)
    )
    out = []
    for table, colname in _TOPK_FEATURES:
        feature = stats_by_table[table].default_slice().feature(colname)
        for rank, (val, cnt) in enumerate(feature.string.top_values, start=1):
            out.append((colname, val, int(cnt), rank))
    return _local_df(spark, out, "feature string, value string, cnt bigint, rnk int")


def _topk_sql():
    parts = []
    for table, colname in _TOPK_FEATURES:
        parts.append(
            f"SELECT * FROM (SELECT '{colname}' AS feature, {colname} AS value, "
            f"CAST(count(*) AS BIGINT) AS cnt, CAST(ROW_NUMBER() OVER "
            f"(ORDER BY count(*) DESC, {colname} DESC) AS INT) AS rnk "
            f"FROM {table} WHERE {colname} IS NOT NULL GROUP BY {colname}) WHERE rnk <= 5"
        )
    return " UNION ALL ".join(parts)


def q_uniques_categorical(spark, sf_dir):
    """Engine exact unique counts (distinct values per categorical feature)."""
    stats_by_table = _stats_per_table(spark, sf_dir, StatsOptions)
    out = [
        (colname, stats_by_table[table].default_slice().feature(colname).string.unique)
        for table, colname in _TOPK_FEATURES
    ]
    return _local_df(spark, out, "feature string, unique_count bigint")


def _uniques_sql():
    parts = [
        f"SELECT '{c}' AS feature, count(DISTINCT {c}) AS unique_count FROM {t}"
        for t, c in _TOPK_FEATURES
    ]
    return " UNION ALL ".join(parts)


_QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def q_quantiles_quantity(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    arr = li.agg(
        F.expr(
            "percentile(l_quantity, array(" + ",".join(str(q) for q in _QS) + "))"
        ).alias("qs")
    )
    return arr.select(
        F.posexplode("qs").alias("pos", "val")
    ).select(F.col("pos").cast("int"), _e6(F.col("val")).alias("quantile_e6"))


def _quantiles_sql():
    parts = [
        f"SELECT {i} AS pos, CAST(ROUND(quantile_cont(l_quantity, {q})*1000000) AS BIGINT)"
        f" AS quantile_e6 FROM lineitem"
        for i, q in enumerate(_QS)
    ]
    return " UNION ALL ".join(parts)


def q_median_by_flag(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(_e6(F.expr("percentile(l_extendedprice, 0.5)")).alias("median_e6"))
        .orderBy("l_returnflag")
    )


def q_histogram_quantity(spark, sf_dir):
    """Exact 10-bucket equi-width histogram (width_bucket composition)."""
    li = _t(spark, sf_dir, "lineitem")
    mm = li.agg(F.min("l_quantity").alias("lo"), F.max("l_quantity").alias("hi"))
    return (
        li.crossJoin(F.broadcast(mm))
        .select(
            F.least(
                F.floor((F.col("l_quantity") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10)),
                F.lit(9),
            )
            .cast("int")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bucket")
    )


def _histogram_sql():
    return (
        "WITH mm AS (SELECT min(l_quantity) lo, max(l_quantity) hi FROM lineitem) "
        "SELECT CAST(LEAST(FLOOR((l_quantity - lo) / ((hi - lo) / 10)), 9) AS INT) AS bucket, "
        "count(*) AS cnt FROM lineitem, mm GROUP BY 1 ORDER BY 1"
    )


def q_valency_embeddings(spark, sf_dir):
    """Engine valency stats on the array column."""
    emb = _t(spark, sf_dir, "embeddings").select("embedding")
    stats = compute_statistics(emb, StatsOptions())
    c = stats.default_slice().feature("embedding").common
    return _local_df(spark, 
        [(c.num_non_missing, c.min_num_values, c.max_num_values, c.tot_num_values,
          int(round(c.avg_num_values * 1e6)))],
        "non_missing bigint, min_vals bigint, max_vals bigint, tot_vals bigint, avg_vals_e6 bigint",
    )


def _valency_sql():
    return (
        "SELECT count(embedding) AS non_missing, CAST(min(len(embedding)) AS BIGINT) AS min_vals, "
        "CAST(max(len(embedding)) AS BIGINT) AS max_vals, "
        "CAST(sum(len(embedding)) AS BIGINT) AS tot_vals, "
        "CAST(ROUND(avg(len(embedding))*1000000) AS BIGINT) AS avg_vals_e6 FROM embeddings"
    )


def q_array_element_stats(spark, sf_dir):
    """Engine numeric stats over array elements (exploded long pass)."""
    emb = _t(spark, sf_dir, "embeddings").select("embedding")
    stats = compute_statistics(emb, StatsOptions())
    n = stats.default_slice().feature("embedding").numeric
    return _local_df(spark, 
        [(int(round(n.min * 1e6)), int(round(n.max * 1e6)), int(round(n.mean * 1e6)),
          n.num_zeros)],
        "min_e6 bigint, max_e6 bigint, mean_e6 bigint, zeros bigint",
    )


def _array_element_sql():
    return (
        "SELECT CAST(ROUND(min(u)*1000000) AS BIGINT) AS min_e6, "
        "CAST(ROUND(max(u)*1000000) AS BIGINT) AS max_e6, "
        "CAST(ROUND(avg(u)*1000000) AS BIGINT) AS mean_e6, "
        "CAST(sum(CASE WHEN u = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros "
        "FROM (SELECT unnest(embedding) AS u FROM embeddings)"
    )


def q_intdomain_violations(spark, sf_dir):
    """Row-level int-domain check → violation rows."""
    from data_validation_spark.schema import FeatureSpec, IntDomain, Schema
    from data_validation_spark.validate.rowlevel import check_row_constraints

    part = _t(spark, sf_dir, "part")
    schema = Schema(feature=[FeatureSpec(name="p_size", int_domain=IntDomain(min=1, max=45))])
    return check_row_constraints(part, schema, "p_partkey").orderBy("row_key")


def _intdomain_sql():
    return (
        "SELECT CAST(p_partkey AS VARCHAR) AS row_key, 'p_size' AS feature, "
        "'ROW_CONSTRAINT_VIOLATION' AS anomaly_type, "
        "'int out of domain: ' || CAST(p_size AS VARCHAR) AS detail "
        "FROM part WHERE p_size IS NOT NULL AND (p_size < 1 OR p_size > 45) ORDER BY row_key"
    )


def q_stringdomain_violations(spark, sf_dir):
    """Row-level string-domain check: events outside the allowed event types."""
    from data_validation_spark.schema import FeatureSpec, Schema, StringDomain
    from data_validation_spark.validate.rowlevel import check_row_constraints

    events = _t(spark, sf_dir, "events")
    schema = Schema(
        feature=[
            FeatureSpec(
                name="event_type",
                string_domain=StringDomain(value=["click", "view", "signup", "purchase"]),
            )
        ]
    )
    v = check_row_constraints(events, schema, "event_id")
    return v.groupBy("feature", "anomaly_type").agg(F.count(F.lit(1)).alias("violation_count"))


def _stringdomain_sql():
    return (
        "SELECT 'event_type' AS feature, 'ROW_CONSTRAINT_VIOLATION' AS anomaly_type, "
        "count(*) AS violation_count FROM events "
        "WHERE event_type IS NOT NULL AND event_type NOT IN ('click','view','signup','purchase')"
    )


def q_referential_orphans(spark, sf_dir):
    """Anti-join referential check: event users absent from customer."""
    from data_validation_spark.validate.rowlevel import check_referential

    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    v = check_referential(events, "user_id", customer, "c_custkey", feature="user_id")
    return v.agg(
        F.lit("user_id").alias("feature"),
        F.lit("REFERENTIAL_ORPHAN").alias("anomaly_type"),
        F.count(F.lit(1)).alias("orphan_rows"),
    )


def _referential_sql():
    return (
        "SELECT 'user_id' AS feature, 'REFERENTIAL_ORPHAN' AS anomaly_type, "
        "count(*) AS orphan_rows FROM events e "
        "WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)"
    )


def q_duplicate_keys(spark, sf_dir):
    """Salted exact-dup detection on (user_id, event_type) pairs."""
    from data_validation_spark.validate.rowlevel import check_uniqueness

    # Null semantics aligned with the oracle: both sides coalesce NULL key
    # parts to an explicit sentinel (concat_ws would *skip* nulls while the
    # SQL `||` would propagate them — neither matches the other implicitly).
    events = _t(spark, sf_dir, "events").select(
        F.concat_ws(
            "#",
            F.coalesce(F.col("user_id").cast("string"), F.lit("<null>")),
            F.coalesce(F.col("event_type"), F.lit("<null>")),
        ).alias("k")
    )
    v = check_uniqueness(events, "k")
    return v.agg(
        F.count(F.lit(1)).alias("dup_keys"),
        F.sum(F.col("detail").cast("long")).alias("dup_rows"),
    )


def _duplicate_keys_sql():
    return (
        "SELECT count(*) AS dup_keys, CAST(sum(c) AS BIGINT) AS dup_rows FROM ("
        "SELECT coalesce(CAST(user_id AS VARCHAR), '<null>') || '#' || "
        "coalesce(event_type, '<null>') AS k, count(*) AS c "
        "FROM events GROUP BY 1 HAVING count(*) > 1)"
    )


def q_dedup_exact_docs(spark, sf_dir):
    """Exact content dedup via hash-groupBy fingerprints (md5)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.count(F.lit(1)).alias("distinct_texts"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias("dup_groups"),
        )
    )


def _dedup_exact_sql():
    return (
        "SELECT count(*) AS distinct_texts, "
        "CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups FROM ("
        "SELECT md5(text) AS fp, count(*) AS cnt FROM documents GROUP BY 1)"
    )


def q_token_counts(spark, sf_dir):
    """Whitespace token counting per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tokens"),
        F.length(F.trim(F.col("text"))).cast("bigint").alias("n_chars_trim"),
    ).orderBy("doc_id")


def _token_counts_sql():
    return (
        "SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens, "
        "CAST(length(trim(text)) AS BIGINT) AS n_chars_trim FROM documents ORDER BY doc_id"
    )


def q_quality_scores(spark, sf_dir):
    """Text quality scoring: alpha ratio, space ratio, avg token length."""
    docs = _t(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    n = F.length(t)
    alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", ""))
    spaces = F.length(F.regexp_replace(t, r"[^ ]", ""))
    tokens = F.size(F.split(t, r"\s+"))
    return docs.select(
        "doc_id",
        _e6(alpha / n).alias("alpha_ratio_e6"),
        _e6(spaces / n).alias("space_ratio_e6"),
        _e6((n - spaces) / tokens).alias("avg_token_len_e6"),
    ).orderBy("doc_id")


def _quality_sql():
    return (
        "SELECT doc_id, "
        "CAST(ROUND(length(regexp_replace(trim(text), '[^a-zA-Z]', '', 'g')) * 1000000.0 "
        "  / length(trim(text))) AS BIGINT) AS alpha_ratio_e6, "
        "CAST(ROUND(length(regexp_replace(trim(text), '[^ ]', '', 'g')) * 1000000.0 "
        "  / length(trim(text))) AS BIGINT) AS space_ratio_e6, "
        "CAST(ROUND((length(trim(text)) - length(regexp_replace(trim(text), '[^ ]', '', 'g'))) "
        "  * 1000000.0 / len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) "
        "  AS avg_token_len_e6 "
        "FROM documents ORDER BY doc_id"
    )


def q_slice_matrix(spark, sf_dir):
    """Sliced stats: per-(lang, source) example counts + avg doc length."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"), _e6(F.avg("n_chars")).alias("avg_chars_e6"))
        .orderBy("lang", "source")
    )


def _slice_matrix_sql():
    return (
        "SELECT lang, source, count(*) AS n, "
        "CAST(ROUND(avg(n_chars)*1000000) AS BIGINT) AS avg_chars_e6 "
        "FROM documents GROUP BY 1, 2 ORDER BY 1, 2"
    )


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 query vector."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    joined = emb.crossJoin(F.broadcast(qv))
    dot = F.aggregate(
        F.zip_with("embedding", "q", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_a = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + x * x))
    norm_q = F.sqrt(F.aggregate("q", F.lit(0.0), lambda acc, x: acc + x * x))
    sim = (dot / (norm_a * norm_q)).alias("sim")
    ranked = joined.select("vec_id", _e6(sim).alias("cos_sim_e6")).where(F.col("vec_id") != 0)
    w = Window.orderBy(F.desc("cos_sim_e6"), F.asc("vec_id"))
    return (
        ranked.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .select("rnk", "vec_id", "cos_sim_e6")
    )


def _embedding_topk_sql():
    return (
        "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), "
        "sims AS (SELECT vec_id, CAST(ROUND(list_cosine_similarity(embedding, qv)*1000000) "
        "AS BIGINT) AS cos_sim_e6 FROM embeddings, q WHERE vec_id <> 0) "
        "SELECT CAST(ROW_NUMBER() OVER (ORDER BY cos_sim_e6 DESC, vec_id ASC) AS INT) AS rnk, "
        "vec_id, cos_sim_e6 FROM sims ORDER BY cos_sim_e6 DESC, vec_id ASC LIMIT 10"
    )


def q_sessionization(spark, sf_dir):
    """Sessionization: 30-min-gap sessions per user (lag + cumulative sum)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0)
    sessions = events.withColumn("new_sess", gap).withColumn(
        "sess_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sessions.groupBy("user_id")
        .agg((F.max("sess_id") + 1).alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


def _sessionization_sql():
    return (
        "WITH flagged AS (SELECT user_id, CASE WHEN epoch(ts) - "
        "lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800 THEN 1 ELSE 0 END "
        "AS new_sess FROM events) "
        "SELECT user_id, CAST(max(sess_id) + 1 AS BIGINT) AS n_sessions, "
        "count(*) AS n_events FROM ("
        "SELECT user_id, sum(new_sess) OVER (PARTITION BY user_id ORDER BY user_id "
        "ROWS UNBOUNDED PRECEDING) AS sess_id FROM flagged) GROUP BY user_id ORDER BY user_id"
    )


def q_windowed_counts(spark, sf_dir):
    """Tumbling 1-day event-time windows per event type."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _e6(F.sum("value")).alias("sum_value_e6"))
        .select(
            F.col("w.start").cast("timestamp_ltz").cast("long").alias("day_epoch"),
            "event_type",
            "n",
            "sum_value_e6",
        )
        .orderBy("day_epoch", "event_type")
    )


def _windowed_sql():
    return (
        "SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch, event_type, "
        "count(*) AS n, CAST(ROUND(sum(value)*1000000) AS BIGINT) AS sum_value_e6 "
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    )


def q_drift_linf(spark, sf_dir):
    """L∞ drift of the event_type distribution between the two halves of the
    time range (engine drift metric over sliced stats)."""
    from data_validation_spark.validate.drift import linfty_distance

    events = _t(spark, sf_dir, "events")
    half = events.select(
        "event_type",
        F.when(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), "h1")
        .otherwise("h2")
        .alias("half"),
    )
    rows = half.groupBy("half", "event_type").count().collect()
    c1 = {r["event_type"]: float(r["count"]) for r in rows if r["half"] == "h1"}
    c2 = {r["event_type"]: float(r["count"]) for r in rows if r["half"] == "h2"}
    _, linf = linfty_distance(c1, c2)
    return _local_df(spark, [(int(round(linf * 1e6)),)], "linf_e6 bigint")


def _drift_linf_sql():
    return (
        "WITH c AS (SELECT event_type, "
        "CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'h1' ELSE 'h2' END AS half, "
        "count(*) AS n FROM events GROUP BY 1, 2), "
        "t AS (SELECT half, sum(n) AS tot FROM c GROUP BY 1), "
        "p AS (SELECT c.event_type, c.half, c.n * 1.0 / t.tot AS p FROM c JOIN t USING (half)), "
        "d AS (SELECT COALESCE(a.event_type, b.event_type) AS et, "
        "ABS(COALESCE(a.p, 0) - COALESCE(b.p, 0)) AS diff "
        "FROM (SELECT * FROM p WHERE half = 'h1') a "
        "FULL OUTER JOIN (SELECT * FROM p WHERE half = 'h2') b ON a.event_type = b.event_type) "
        "SELECT CAST(ROUND(max(diff)*1000000) AS BIGINT) AS linf_e6 FROM d"
    )


def q_crosscorr(spark, sf_dir):
    """Cross-feature stats: Pearson correlation + covariance per group."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            _e6(F.corr("l_quantity", "l_extendedprice")).alias("corr_e6"),
            F.round(F.covar_pop("l_quantity", "l_extendedprice") * 100, 0)
            .cast("long")
            .alias("covar_c"),
        )
        .orderBy("l_returnflag")
    )


def _crosscorr_sql():
    return (
        "SELECT l_returnflag, CAST(ROUND(corr(l_quantity, l_extendedprice)*1000000) AS BIGINT) "
        "AS corr_e6, CAST(ROUND(covar_pop(l_quantity, l_extendedprice) * 100) AS BIGINT) "
        "AS covar_c FROM lineitem GROUP BY 1 ORDER BY 1"
    )


def q_lift_event_type(spark, sf_dir):
    """Lift stats: P(high-value | event_type) / P(high-value)."""
    from data_validation_spark.stats.lift import lift_stats

    events = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("value") > 10).cast("int").alias("hi")
    )
    out = lift_stats(events, "event_type", "hi")
    return out.select("x", "y", _e6(F.col("lift")).alias("lift_e6"), "xy_count").orderBy("x", "y")


def _lift_sql():
    return (
        "WITH p AS (SELECT event_type AS x, CAST(value > 10 AS INT)::VARCHAR AS y FROM events "
        "WHERE event_type IS NOT NULL AND value IS NOT NULL), "
        "tot AS (SELECT count(*) AS n FROM p), "
        "xy AS (SELECT x, y, count(*) AS xy_count FROM p GROUP BY 1, 2), "
        "xt AS (SELECT x, count(*) AS x_count FROM p GROUP BY 1), "
        "yt AS (SELECT y, count(*) * 1.0 / (SELECT n FROM tot) AS y_rate FROM p GROUP BY 1) "
        "SELECT x, y, CAST(ROUND((xy_count * 1.0 / x_count) / y_rate * 1000000) AS BIGINT) "
        "AS lift_e6, xy_count FROM xy JOIN xt USING (x) JOIN yt USING (y) ORDER BY x, y"
    )


def q_lift_binned(spark, sf_dir):
    """Lift with a numeric label binned by explicit boundaries (the
    reference's bin_util rule: bin j iff b[j-1] ≤ y < b[j], ∓inf ends) and
    zero-co-occurrence rows included (every x in every y series)."""
    from data_validation_spark.stats.lift import lift_stats

    events = _t(spark, sf_dir, "events").select("event_type", "value")
    out = lift_stats(
        events,
        "event_type",
        "value",
        y_boundaries=[100.0, 500.0],
        include_zero_counts=True,
    )
    return out.select(
        "x",
        "y",
        _e6(F.col("lift")).alias("lift_e6"),
        "xy_count",
        "x_count",
        _e6(F.col("y_rate")).alias("y_rate_e6"),
    ).orderBy("x", "y")


def _lift_binned_sql():
    return (
        "WITH p AS (SELECT event_type AS x, "
        "CASE WHEN value < 100 THEN '[-inf,100)' "
        "WHEN value < 500 THEN '[100,500)' ELSE '[500,inf)' END AS y "
        "FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL), "
        "tot AS (SELECT count(*) AS n FROM p), "
        "xy AS (SELECT x, y, count(*) AS xy_count FROM p GROUP BY 1, 2), "
        "xt AS (SELECT x, count(*) AS x_count FROM p GROUP BY 1), "
        "yt AS (SELECT y, count(*) * 1.0 / (SELECT n FROM tot) AS y_rate FROM p GROUP BY 1), "
        "grid AS (SELECT xt.x, yt.y, xt.x_count, yt.y_rate FROM xt CROSS JOIN yt) "
        "SELECT g.x, g.y, "
        "CAST(ROUND((COALESCE(xy.xy_count, 0) * 1.0 / g.x_count) / g.y_rate * 1000000) AS BIGINT) AS lift_e6, "
        "COALESCE(xy.xy_count, 0) AS xy_count, g.x_count, "
        "CAST(ROUND(g.y_rate * 1000000) AS BIGINT) AS y_rate_e6 "
        "FROM grid g LEFT JOIN xy ON g.x = xy.x AND g.y = xy.y ORDER BY g.x, g.y"
    )


def q_skew_match_stats(spark, sf_dir):
    """Feature-skew pair join: two overlapping event subsets compared by id."""
    from data_validation_spark.validate.skew import detect_feature_skew

    events = _t(spark, sf_dir, "events")
    base = events.where(F.col("event_id") % 2 == 0)
    test = events.where(F.col("event_id") % 3 == 0).withColumn(
        "value", F.col("value") + F.when(F.col("event_id") % 12 == 0, 1.0).otherwise(0.0)
    )
    r = detect_feature_skew(base, test, ["event_id"], features_to_compare=["event_type", "value"])
    ms = r.match_stats
    v = r.feature_skew["value"]
    return _local_df(spark, 
        [
            (
                ms.base_with_id_count,
                ms.test_with_id_count,
                ms.matching_pairs_count,
                ms.ids_missing_in_base_count,
                ms.ids_missing_in_test_count,
                v.match_count,
                v.mismatch_count,
            )
        ],
        "n_base bigint, n_test bigint, n_pairs bigint, missing_base bigint, "
        "missing_test bigint, value_match bigint, value_mismatch bigint",
    )


def _skew_sql():
    return (
        "WITH b AS (SELECT * FROM events WHERE event_id % 2 = 0), "
        "t AS (SELECT event_id, event_type, "
        "value + CASE WHEN event_id % 12 = 0 THEN 1.0 ELSE 0 END AS value "
        "FROM events WHERE event_id % 3 = 0) "
        "SELECT (SELECT count(*) FROM b) AS n_base, (SELECT count(*) FROM t) AS n_test, "
        "(SELECT count(*) FROM b JOIN t USING (event_id)) AS n_pairs, "
        "(SELECT count(*) FROM t WHERE NOT EXISTS "
        "(SELECT 1 FROM b WHERE b.event_id = t.event_id)) AS missing_base, "
        "(SELECT count(*) FROM b WHERE NOT EXISTS "
        "(SELECT 1 FROM t WHERE t.event_id = b.event_id)) AS missing_test, "
        "(SELECT count(*) FROM b JOIN t USING (event_id) WHERE b.value = t.value) "
        "AS value_match, "
        "(SELECT count(*) FROM b JOIN t USING (event_id) WHERE b.value <> t.value) "
        "AS value_mismatch"
    )


def q_time_format_detect(spark, sf_dir):
    """Time-semantic stats: format match counts over stringified timestamps."""
    from data_validation_spark.stats.time_stats import time_match_stats

    events = _t(spark, sf_dir, "events").select(
        F.date_format(F.col("ts").cast("timestamp_ltz"), "yyyy-MM-dd HH:mm:ss").alias("d")
    )
    info = time_match_stats(events, "d")
    best = max(info["formats"].items(), key=lambda kv: kv[1]) if info["formats"] else ("", 0)
    return _local_df(spark, 
        [(info["considered"], best[0], best[1])],
        "considered bigint, best_format string, match_count bigint",
    )


def _time_sql():
    return (
        "SELECT count(*) AS considered, '%Y-%m-%d %H:%M:%S' AS best_format, "
        "count(*) AS match_count FROM events"
    )


def q_merged_stats_parity(spark, sf_dir):
    """Sharded-stats merge: per-half artifacts merged on the driver must match
    a single pass over the whole table (count/min/max/mean exact)."""
    from data_validation_spark.io.artifacts import merge_stats

    li = _t(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice", "l_orderkey")
    h1 = li.where(F.col("l_orderkey") % 2 == 0)
    h2 = li.where(F.col("l_orderkey") % 2 == 1)
    merged = merge_stats([compute_statistics(h1), compute_statistics(h2)])
    ds = merged.default_slice()
    rows = []
    for c in ("l_quantity", "l_extendedprice"):
        n = ds.feature(c).numeric
        rows.append(
            (
                c,
                ds.feature(c).common.num_non_missing,
                int(round(n.min * 1e6)),
                int(round(n.max * 1e6)),
                int(round(n.mean * 1e6)),
            )
        )
    return _local_df(spark, 
        rows, "feature string, non_missing bigint, min_e6 bigint, max_e6 bigint, mean_e6 bigint"
    )


def _merged_stats_sql():
    parts = [
        f"SELECT '{c}' AS feature, count({c}) AS non_missing, "
        f"CAST(ROUND(min({c})*1000000) AS BIGINT) AS min_e6, "
        f"CAST(ROUND(max({c})*1000000) AS BIGINT) AS max_e6, "
        f"CAST(ROUND(avg({c})*1000000) AS BIGINT) AS mean_e6 FROM lineitem"
        for c in ("l_quantity", "l_extendedprice")
    ]
    return " UNION ALL ".join(parts)


def q_tpch_q3ish(spark, sf_dir):
    """Three-table join + agg + top-10 (broadcast dims, shuffled fact)."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(_e6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue_e6"))
        .orderBy(F.desc("revenue_e6"), F.asc("l_orderkey"))
        .limit(10)
    )


def _q3_sql():
    return (
        "SELECT l_orderkey, CAST(ROUND(sum(l_extendedprice*(1-l_discount))*1000000) AS BIGINT) "
        "AS revenue_e6 FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = 'BUILDING' GROUP BY l_orderkey "
        "ORDER BY revenue_e6 DESC, l_orderkey ASC LIMIT 10"
    )


def q_rollup_orders(spark, sf_dir):
    """Rollup aggregation (sub-total hierarchy)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), _e6(F.sum("o_totalprice")).alias("total_e6"))
        .orderBy("o_orderstatus", "o_orderpriority")
    )


def _rollup_sql():
    return (
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
        "CAST(ROUND(sum(o_totalprice)*1000000) AS BIGINT) AS total_e6 "
        "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority) "
        "ORDER BY o_orderstatus, o_orderpriority"
    )


def q_pivot_returnflag(spark, sf_dir):
    """Pivot: returnflag rows × linestatus columns of summed quantity."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(_e6(F.sum("l_quantity")))
        .withColumnRenamed("O", "qty_o_e6")
        .withColumnRenamed("F", "qty_f_e6")
        .orderBy("l_returnflag")
    )


def _pivot_sql():
    return (
        "SELECT l_returnflag, "
        "CAST(ROUND(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END)*1000000) AS BIGINT) "
        "AS qty_o_e6, "
        "CAST(ROUND(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END)*1000000) AS BIGINT) "
        "AS qty_f_e6 "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    )


def q_mutual_information(spark, sf_dir):
    """Exact discrete MI between event_type and a high-value flag."""
    from data_validation_spark.stats.mi import discrete_mutual_information

    events = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("value") > 10).cast("int").cast("string").alias("hi")
    ).where(F.col("event_type").isNotNull() & F.col("hi").isNotNull())
    mi = discrete_mutual_information(events, "event_type", "hi")
    return _local_df(spark, [(int(round(mi * 1e6)),)], "mi_e6 bigint")


def _mi_sql():
    return (
        "WITH p AS (SELECT event_type AS x, CAST(CAST(value > 10 AS INT) AS VARCHAR) AS y "
        "FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL), "
        "j AS (SELECT x, y, count(*) AS n FROM p GROUP BY 1, 2), "
        "t AS (SELECT sum(n) AS tot FROM j), "
        "mx AS (SELECT x, sum(n) AS nx FROM j GROUP BY 1), "
        "my AS (SELECT y, sum(n) AS ny FROM j GROUP BY 1) "
        "SELECT CAST(ROUND(sum((n * 1.0 / tot) * log2((n * 1.0 / tot) / "
        "((nx * 1.0 / tot) * (ny * 1.0 / tot)))) * 1000000) AS BIGINT) AS mi_e6 "
        "FROM j CROSS JOIN t JOIN mx USING (x) JOIN my USING (y)"
    )


def q_vocab_coverage(spark, sf_dir):
    """NL vocab stats: token coverage vs the corpus's own top-100 tokens."""
    from data_validation_spark.stats.text import vocab_token_stats

    docs = _t(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    ).where(F.length("token") > 0)
    # Salted two-phase exact top-100 (same shape as stats/engine.py's top-k):
    # a global Window.orderBy would sort every distinct token in ONE task.
    salts = 16
    counts = (
        tokens.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("salt", F.pmod(F.xxhash64("token"), F.lit(salts)))
    )
    wa = Window.partitionBy("salt").orderBy(F.desc("cnt"), F.desc("token"))
    wb = Window.orderBy(F.desc("cnt"), F.desc("token"))
    vocab = (
        counts.withColumn("r", F.row_number().over(wa))
        .where(F.col("r") <= 100)  # global top-100 ⊆ union of per-salt top-100
        .withColumn("r2", F.row_number().over(wb))
        .where(F.col("r2") <= 100)
        .select("token")
    )
    s = vocab_token_stats(docs, "text", vocab)
    return _local_df(spark, 
        [
            (
                s["total_tokens"],
                s["in_vocab_tokens"],
                s["oov_tokens"],
                int(round(s["coverage"] * 1e6)),
            )
        ],
        "total_tokens bigint, in_vocab bigint, oov bigint, coverage_e6 bigint",
    )


def _vocab_sql():
    return (
        "WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token "
        "FROM documents), "
        "toks2 AS (SELECT token FROM toks WHERE length(token) > 0), "
        "vocab AS (SELECT token FROM (SELECT token, count(*) AS cnt, "
        "ROW_NUMBER() OVER (ORDER BY count(*) DESC, token DESC) AS r "
        "FROM toks2 GROUP BY token) WHERE r <= 100), "
        "j AS (SELECT t.token, CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END AS iv "
        "FROM toks2 t LEFT JOIN vocab v ON t.token = v.token) "
        "SELECT count(*) AS total_tokens, CAST(sum(iv) AS BIGINT) AS in_vocab, "
        "CAST(count(*) - sum(iv) AS BIGINT) AS oov, "
        "CAST(ROUND(sum(iv) * 1000000.0 / count(*)) AS BIGINT) AS coverage_e6 FROM j"
    )


# --- deterministic near-dup planting -----------------------------------------
# The synthetic documents/embeddings tables contain (almost) no near-dup pairs
# at the thresholds the dedup operators target, which made the approximate
# queries vacuously green. Each dedup query below plants deterministic
# near-duplicates derived from the input itself — the SAME augmentation is
# expressed in the DuckDB oracle SQL, so ground truth is computed by the
# oracle, not assumed.

_PLANT_DOC_OFFSET = 10_000_000
_PLANT_VEC_OFFSET = 1_000_000


def _word_count_col():
    from data_validation_spark.util import words

    return F.size(words(F.col("text")))


def _docs_augmented(spark, sf_dir):
    """documents ∪ near-dup copies: every 10th doc with ≥20 words gets a copy
    (id + 10M) with one appended word → word-3-gram Jaccard ≈0.9 vs its
    source, far above the LSH miss region."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.where((F.col("doc_id") % 10 == 0) & (_word_count_col() >= 20)).select(
        (F.col("doc_id") + F.lit(_PLANT_DOC_OFFSET)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xyzzy")).alias("text"),
    )
    return docs.unionByName(planted)


def _docs_augmented_identical(spark, sf_dir):
    """documents ∪ IDENTICAL-text copies of every 10th ≥20-word doc — for the
    simhash check, where an identical fingerprint (Hamming 0) makes recall
    deterministic regardless of document length."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.where((F.col("doc_id") % 10 == 0) & (_word_count_col() >= 20)).select(
        (F.col("doc_id") + F.lit(_PLANT_DOC_OFFSET)).alias("doc_id"), "text"
    )
    return docs.unionByName(planted)


_AUG_DOCS_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 10000000 AS doc_id, text || ' xyzzy' AS text FROM documents "
    "WHERE doc_id % 10 = 0 AND "
    "len(list_filter(string_split_regex(trim(text), '\\s+'), t -> len(t) > 0)) >= 20"
)

_PLANTED_DOC_COUNT_SQL = (
    "SELECT count(*) AS planted_pairs FROM documents WHERE doc_id % 10 = 0 AND "
    "len(list_filter(string_split_regex(trim(text), '\\s+'), t -> len(t) > 0)) >= 20"
)

# exact word-3-gram Jaccard all-pairs over an id set, DuckDB side
_JACCARD_PAIRS_SQL = (
    "w AS (SELECT doc_id, "
    "list_filter(string_split_regex(trim(text), '\\s+'), t -> len(t) > 0) AS words "
    "FROM {src}), "
    "d AS (SELECT doc_id, list_distinct(CASE "
    "WHEN len(words) >= 3 THEN list_transform(range(1, len(words) - 1), "
    "i -> array_to_string(words[i:i+2], ' ')) "
    "WHEN len(words) >= 1 THEN [array_to_string(words, ' ')] "
    "ELSE [] END) AS sh FROM w), "
    "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CASE WHEN len(list_distinct(a.sh || b.sh)) > 0 THEN "
    "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) "
    "ELSE 0 END AS j FROM d a, d b WHERE a.doc_id < b.doc_id)"
)


def _emb_augmented(spark, sf_dir):
    """embeddings ∪ exact copies of every 20th vector (id + 1M): cosine = 1.0
    pairs whose sign-LSH buckets collide in every band → deterministic truth."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + F.lit(_PLANT_VEC_OFFSET)).alias("vec_id"), "embedding"
    )
    return emb.unionByName(planted)


_AUG_EMB_SQL = (
    "SELECT vec_id, embedding FROM embeddings UNION ALL "
    "SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0"
)


def q_ngram_jaccard_verify(spark, sf_dir):
    """verify_jaccard (the exact JVM array_intersect/union verify stage) fed a
    deterministic candidate set — the %10∪planted subset crossJoin — so the
    DuckDB oracle can compute the identical pair list."""
    from data_validation_spark.dedup.minhash import verify_jaccard

    aug = _docs_augmented(spark, sf_dir)
    sub = aug.where(
        (F.col("doc_id") % 10 == 0) | (F.col("doc_id") >= _PLANT_DOC_OFFSET)
    )
    ids = sub.select("doc_id")
    cand = (
        ids.select(F.col("doc_id").alias("id_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("id_b")))
        .where(F.col("id_a") < F.col("id_b"))
    )
    verified = verify_jaccard(cand, sub, "doc_id", "text", threshold=0.5)
    return verified.select(
        "id_a", "id_b", _e6(F.col("jaccard")).alias("jaccard_e6")
    ).orderBy("id_a", "id_b")


def q_simhash_docs(spark, sf_dir):
    """SimHash near-dups over docs ∪ identical-text copies, self-verified two
    ways: (1) every planted identical-text pair (Hamming 0 by construction)
    must be found by the bucketed pass — the planted count is SQL-derivable;
    (2) the bucketed pairs restricted to the %10∪planted subset must EQUAL
    brute-force bit_count(xor) ≤ radius pairs over the same subset's
    fingerprints (block-permutation guarantees recall 1 for ham ≤ blocks-1)."""
    from data_validation_spark.dedup.simhash import (
        simhash_fingerprints,
        simhash_near_dups_from_fingerprints,
    )

    aug = _docs_augmented_identical(spark, sf_dir)
    # Fingerprint the corpus ONCE: both the bucketed near-dup pass and the
    # subset brute-force check consume the same cached (id, fingerprint)
    # frame — round 5 ran the Arrow fingerprint pass twice (full corpus +
    # subset re-pass), an extra full scan wave at scale. Fingerprints are a
    # pure function of the text, so the subset's fingerprints are exactly the
    # cached rows filtered by id — bit-identical to re-fingerprinting.
    with persisted(
        simhash_fingerprints(aug, "doc_id", "text").where(F.col("fingerprint") != 0)
    ) as fp_all, persisted(
        simhash_near_dups_from_fingerprints(fp_all, radius=3)
    ) as pairs:
        planted_found = (
            pairs.where(F.col("id_b") - F.col("id_a") == _PLANT_DOC_OFFSET)
            .where(F.col("id_b") >= _PLANT_DOC_OFFSET)
            .count()
        )

        fp = fp_all.where(
            (F.col("id") % 10 == 0) | (F.col("id") >= _PLANT_DOC_OFFSET)
        )
        fa = fp.select(F.col("id").alias("id_a"), F.col("fingerprint").alias("fa"))
        fb = fp.select(F.col("id").alias("id_b"), F.col("fingerprint").alias("fb"))
        exact_sub = {
            (r["id_a"], r["id_b"])
            for r in fa.crossJoin(fb)
            .where(F.col("id_a") < F.col("id_b"))
            .where(F.expr("bit_count(fa ^ fb) <= 3"))
            .collect()
        }
        bucketed_sub = {
            (r["id_a"], r["id_b"])
            for r in pairs.where(
                ((F.col("id_a") % 10 == 0) | (F.col("id_a") >= _PLANT_DOC_OFFSET))
                & ((F.col("id_b") % 10 == 0) | (F.col("id_b") >= _PLANT_DOC_OFFSET))
            ).collect()
        }
        bucketed_sub = {(min(p), max(p)) for p in bucketed_sub}
    # planted_pairs = the count the bucketed pass FOUND; the oracle emits the
    # count the generator PLANTED — hash-equality is the recall-1 assertion.
    return _local_df(spark, 
        [(planted_found, int(exact_sub == bucketed_sub))],
        "planted_pairs bigint, subset_exact_match bigint",
    )


def q_embedding_neardup_lsh(spark, sf_dir):
    """Random-hyperplane LSH near-dup pairs over the augmented embeddings —
    output is the full pair id list, oracle-checked against DuckDB's exact
    cosine ≥ 0.9 all-pairs on the same augmented table."""
    from data_validation_spark.dedup.embedding import cosine_pairs_lsh

    aug = _emb_augmented(spark, sf_dir)
    pairs = cosine_pairs_lsh(aug, "vec_id", "embedding", dim=64, threshold=0.9, bits=10)
    return (
        pairs.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def q_ngram_jaccard_allpairs(spark, sf_dir):
    """Exact word-3-gram Jaccard over all pairs of a deterministic subset of
    the AUGMENTED docs (planted near-dups make this non-vacuous) — the
    hash-free shingle+crossJoin expression path, oracle-checked."""
    from data_validation_spark.dedup.minhash import shingle_array

    docs = (
        _docs_augmented(spark, sf_dir)
        .where((F.col("doc_id") % 10 == 0) | (F.col("doc_id") >= _PLANT_DOC_OFFSET))
        .select(
            "doc_id",
            F.array_distinct(shingle_array(F.col("text"), 3)).alias("sh"),
        )
    )
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    un = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(un > 0, F.size(F.array_intersect("sh_a", "sh_b")) / un.cast("double")).otherwise(0.0)
    pairs = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jac.alias("j"))
        .where(F.col("j") >= 0.2)
        .select("id_a", "id_b", _e6(F.col("j")).alias("jaccard_e6"))
    )
    return pairs.orderBy("id_a", "id_b")


def _ngram_jaccard_sql():
    return (
        "WITH aug AS (" + _AUG_DOCS_SQL + "), "
        "sub AS (SELECT doc_id, text FROM aug "
        "WHERE doc_id % 10 = 0 OR doc_id >= 10000000), "
        + _JACCARD_PAIRS_SQL.format(src="sub")
        + " SELECT id_a, id_b, CAST(ROUND(j*1000000) AS BIGINT) AS jaccard_e6 "
        "FROM p WHERE j >= 0.2 ORDER BY id_a, id_b"
    )


def _ngram_jaccard_verify_sql():
    return (
        "WITH aug AS (" + _AUG_DOCS_SQL + "), "
        "sub AS (SELECT doc_id, text FROM aug "
        "WHERE doc_id % 10 = 0 OR doc_id >= 10000000), "
        + _JACCARD_PAIRS_SQL.format(src="sub")
        + " SELECT id_a, id_b, CAST(ROUND(j*1000000) AS BIGINT) AS jaccard_e6 "
        "FROM p WHERE j >= 0.5 ORDER BY id_a, id_b"
    )


def q_embedding_neardup_exact(spark, sf_dir):
    """Brute-force cosine near-dup pairs (threshold 0.9) over the augmented
    embeddings — the exact baseline the LSH variant approximates,
    oracle-checked and non-vacuous (planted copies guarantee pairs)."""
    from data_validation_spark.dedup.embedding import cosine_pairs_bruteforce

    emb = _emb_augmented(spark, sf_dir)
    pairs = cosine_pairs_bruteforce(emb, "vec_id", "embedding", threshold=0.9)
    return pairs.select("id_a", "id_b").orderBy("id_a", "id_b")


def _embedding_neardup_sql():
    return (
        "WITH aug AS (" + _AUG_EMB_SQL + ") "
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b "
        "FROM aug a, aug b WHERE a.vec_id < b.vec_id "
        "AND list_cosine_similarity(a.embedding, b.embedding) >= 0.9 "
        "ORDER BY id_a, id_b"
    )


def q_langid_docs(spark, sf_dir):
    """Stopword-vote language ID distribution (rows-only)."""
    from data_validation_spark.stats.text import language_id

    docs = _t(spark, sf_dir, "documents")
    return (
        language_id(docs, "text")
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_pred")
    )


def _langid_sql():
    # Mirrors stats/text._STOPWORDS + the first-wins tie-break (vote counts
    # are distinct-word matches; best language needs votes > runner-up in
    # insertion order en, de, fr, es; zero votes → 'und').
    from data_validation_spark.stats.text import _STOPWORDS

    langs = list(_STOPWORDS)  # insertion order = tie-break priority
    vote_cols = []
    for lang in langs:
        words = ", ".join(f"'{w}'" for w in sorted(_STOPWORDS[lang]))
        vote_cols.append(
            f"(SELECT count(DISTINCT tok) FROM unnest(string_split_regex(lower(trim(text)), "
            f"'\\s+')) AS t(tok) WHERE tok IN ({words})) AS v_{lang}"
        )
    order_cases = " ".join(
        f"WHEN {i} THEN '{lang}'" for i, lang in enumerate(langs)
    )
    best = (
        "CASE (SELECT i FROM (SELECT unnest(["
        + ", ".join(f"v_{lang}" for lang in langs)
        + "]) AS v, unnest(range(" + str(len(langs)) + ")) AS i) "
        "WHERE v = greatest(" + ", ".join(f"v_{lang}" for lang in langs) + ") "
        "ORDER BY i LIMIT 1) " + order_cases + " END"
    )
    return (
        "WITH votes AS (SELECT " + ", ".join(vote_cols) + " FROM documents), "
        "pred AS (SELECT CASE WHEN greatest("
        + ", ".join(f"v_{lang}" for lang in langs)
        + ") = 0 THEN 'und' ELSE " + best + " END AS lang_pred FROM votes) "
        "SELECT lang_pred, count(*) AS n FROM pred GROUP BY 1 ORDER BY 1"
    )


def q_similarity_ivf(spark, sf_dir):
    """IVF approximate NN, self-verified: queries are planted-duplicate
    vectors, so each query's top-10 must contain BOTH itself and its exact
    copy (cosine 1.0 → same centroid → probed first: deterministic), and
    recall vs brute force must clear a calibrated floor (measured 0.767-0.8
    at nprobe=8/16 centroids on this data; random-vector neighbors spread
    across clusters, so ~0.8 is the honest IVF ceiling here)."""
    from data_validation_spark.similarity import cosine_topk_bruteforce, cosine_topk_ivf

    emb = _emb_augmented(spark, sf_dir)
    qrows = (
        emb.where((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < _PLANT_VEC_OFFSET))
        .orderBy("vec_id")
        .limit(3)
        .collect()
    )
    qs = [(int(r["vec_id"]), r["embedding"]) for r in qrows]
    exact = {
        (r["query_id"], r["id"])
        for r in cosine_topk_bruteforce(emb, "vec_id", "embedding", qs, k=10).collect()
    }
    approx = {
        (r["query_id"], r["id"])
        for r in cosine_topk_ivf(
            emb, "vec_id", "embedding", qs, k=10, num_centroids=16, nprobe=8
        ).collect()
    }
    recall = len(exact & approx) / len(exact) if exact else 0.0
    self_hits = sum(1 for (q, i) in approx if i == q)
    dup_hits = sum(1 for (q, i) in approx if i == q + _PLANT_VEC_OFFSET)
    return _local_df(spark, 
        [(len(qs), 10, self_hits, dup_hits, int(recall >= 0.65))],
        "n_queries bigint, k bigint, self_hits bigint, dup_hits bigint, recall_ok bigint",
    )


def _similarity_ivf_sql():
    return (
        "SELECT CAST(3 AS BIGINT) AS n_queries, CAST(10 AS BIGINT) AS k, "
        "CAST(3 AS BIGINT) AS self_hits, CAST(3 AS BIGINT) AS dup_hits, "
        "CAST(1 AS BIGINT) AS recall_ok"
    )


_IMAGES_TRUTH_PARQUET = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "images_truth_1000.parquet"
)


def q_images_profile(spark, sf_dir):
    """Engine profile of the synthesized input_hint images table (n=1000,
    clean variant), emitted as (stat, value) rows the DuckDB oracle recomputes
    from a committed ground-truth fixture — tests/fixtures/
    images_truth_1000.parquet holds the deterministic generator's per-row
    metadata (image_id, w, h, fmt, caption length), regenerable from
    datagen.images_df(1000, 'clean'). The sniffed format histogram (decoded
    from the bytes column) must agree with the DECLARED fmt column counts —
    an end-to-end check of the magic-byte sniffer against generation truth."""
    from data_validation_spark.datagen import images_df

    df = images_df(spark, 1000, "clean")
    stats = compute_statistics(
        df, StatsOptions(categorical_features={"fmt"}, image_columns={"bytes"})
    )
    ds = stats.default_slice()
    w, h = ds.feature("w").numeric, ds.feature("h").numeric
    cap = ds.feature("caption").string
    fmt_counts = dict(ds.feature("fmt").string.top_values)
    sniff = ds.feature("bytes").custom.get("image_format_histogram", {})
    rows = [
        ("num_examples", int(ds.num_examples)),
        ("w_min", int(w.min)),
        ("w_max", int(w.max)),
        ("w_mean_e6", int(round(w.mean * 1e6))),
        ("h_min", int(h.min)),
        ("h_max", int(h.max)),
        ("h_mean_e6", int(round(h.mean * 1e6))),
        ("caption_avg_len_e6", int(round(cap.avg_length * 1e6))),
    ]
    for f in ("bmp", "gif", "jpeg", "png"):
        rows.append((f"fmt_declared_{f}", int(fmt_counts.get(f, 0))))
        rows.append((f"fmt_sniffed_{f}", int(sniff.get(f, 0))))
    return _local_df(spark, rows, "stat string, value bigint").orderBy("stat")


def _images_profile_sql():
    t = f"read_parquet('{_IMAGES_TRUTH_PARQUET}')"
    parts = [
        f"SELECT 'num_examples' AS stat, count(*) AS value FROM {t}",
        f"SELECT 'w_min', CAST(min(w) AS BIGINT) FROM {t}",
        f"SELECT 'w_max', CAST(max(w) AS BIGINT) FROM {t}",
        f"SELECT 'w_mean_e6', CAST(ROUND(avg(w)*1000000) AS BIGINT) FROM {t}",
        f"SELECT 'h_min', CAST(min(h) AS BIGINT) FROM {t}",
        f"SELECT 'h_max', CAST(max(h) AS BIGINT) FROM {t}",
        f"SELECT 'h_mean_e6', CAST(ROUND(avg(h)*1000000) AS BIGINT) FROM {t}",
        f"SELECT 'caption_avg_len_e6', CAST(ROUND(avg(caption_len)*1000000) AS BIGINT) FROM {t}",
    ]
    for f in ("bmp", "gif", "jpeg", "png"):
        parts.append(
            f"SELECT 'fmt_declared_{f}', count(*) FROM {t} WHERE fmt = '{f}'"
        )
        parts.append(
            f"SELECT 'fmt_sniffed_{f}', count(*) FROM {t} WHERE fmt = '{f}'"
        )
    return " UNION ALL ".join(parts) + " ORDER BY stat"


def q_images_verdict(spark, sf_dir):
    """End-to-end stats → schema validation → anomaly rows on the dirty
    images variant (includes drift comparison vs the prev variant)."""
    from data_validation_spark.datagen import images_df
    from data_validation_spark.pipeline import default_image_schema, validate_images

    df = images_df(spark, 1000, "dirty")
    prev = images_df(spark, 1000, "prev")
    result = validate_images(spark, df, default_image_schema(), prev_df=prev)
    rows = sorted(
        (a.feature, a.type.value, a.severity.value, a.slice_key)
        for a in result.anomalies.anomalies
    )
    return _local_df(spark, 
        rows, "feature string, type string, severity string, slice_key string"
    )


_IMAGES_VERDICT_GOLDEN = [
    ("bytes", "LOW_SUPPORTED_IMAGE_FRACTION", "ERROR", "All Examples"),
    ("fmt", "COMPARATOR_L_INFTY_HIGH", "ERROR", "All Examples"),
    ("fmt", "ENUM_TYPE_UNEXPECTED_STRING_VALUES", "ERROR", "All Examples"),
    ("fmt", "FEATURE_TYPE_LOW_FRACTION_PRESENT", "ERROR", "All Examples"),
    ("w", "INT_TYPE_SMALL_INT", "ERROR", "All Examples"),
]


def _images_verdict_sql():
    """Golden-values oracle: the dirty/prev image variants are DETERMINISTIC
    (datagen.py seeds every row by index), so the anomaly set is a fixed
    golden — any change to datagen, the stats engine, or the validation rules
    that alters the verdict breaks this match. Regenerate by running
    q_images_verdict and pasting its rows."""
    rows = _IMAGES_VERDICT_GOLDEN
    values = ", ".join(
        "('{}', '{}', '{}', '{}')".format(*r) for r in rows
    )
    return (
        "SELECT * FROM (VALUES " + values + ") "
        "AS t(feature, type, severity, slice_key) ORDER BY 1, 2, 3, 4"
    )


def q_minhash_dedup(spark, sf_dir):
    """Full MinHash-LSH + exact-Jaccard verify over the augmented documents.
    Output = verified near-dup pairs (J ≥ 0.5) with BOTH endpoints in the
    %10∪planted subset; the DuckDB oracle computes the exact all-pairs truth
    on the same subset. Planted pairs sit at J≈0.9 where the 16-band/4-row
    scheme's miss probability is ~4e-8 (and the signature hashing is seeded),
    so LSH recall on the truth set is deterministically 1 — any machinery
    regression (shingling, banding, bucket join, verify) breaks the match."""
    from data_validation_spark.dedup.minhash import minhash_lsh_candidates, verify_jaccard

    aug = _docs_augmented(spark, sf_dir)
    cand = minhash_lsh_candidates(aug, "doc_id", "text", num_hashes=64, bands=16)
    verified = verify_jaccard(cand, aug, "doc_id", "text", threshold=0.5)
    in_sub = lambda c: (c % 10 == 0) | (c >= _PLANT_DOC_OFFSET)  # noqa: E731
    return (
        verified.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .where(in_sub(F.col("id_a")) & in_sub(F.col("id_b")))
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def _minhash_dedup_sql():
    return (
        "WITH aug AS (" + _AUG_DOCS_SQL + "), "
        "sub AS (SELECT doc_id, text FROM aug "
        "WHERE doc_id % 10 = 0 OR doc_id >= 10000000), "
        + _JACCARD_PAIRS_SQL.format(src="sub")
        + " SELECT id_a, id_b FROM p WHERE j >= 0.5 ORDER BY id_a, id_b"
    )


def q_sketch_stats(spark, sf_dir):
    """Sketch-mode stats (``percentile_approx`` quantiles + ``approx_top_k``
    top-k + theta uniques; KLL was rejected because its median moved with
    the partitioning), self-verified: min/max/top-value are exact-matchable
    against the oracle; the median and unique count are bounds-checked
    in-query against Spark-exact counterparts (|Δmedian| ≤ 1% of range,
    |Δuniques| ≤ max(5%, 1)), emitted as booleans the oracle expects to be
    true."""
    li = _t(spark, sf_dir, "lineitem").select("l_quantity", "l_returnflag")
    out = run_parallel(spark, {
        "entry.sketch": lambda: compute_statistics(li, StatsOptions(use_sketches=True)),
        "entry.exact": lambda: li.agg(
            F.expr("percentile(l_quantity, 0.5)").alias("md"),
            F.countDistinct("l_returnflag").alias("u"),
            F.min("l_quantity").alias("mn"),
            F.max("l_quantity").alias("mx"),
        ).collect()[0],
    })
    ds, ex = out["entry.sketch"].default_slice(), out["entry.exact"]
    n = ds.feature("l_quantity").numeric
    s = ds.feature("l_returnflag").string
    median_ok = int(
        abs(n.median - float(ex["md"])) <= max(0.01 * (float(ex["mx"]) - float(ex["mn"])), 1e-9)
    )
    uniques_ok = int(abs(s.unique - ex["u"]) <= max(0.05 * ex["u"], 1.0))
    return _local_df(spark, 
        [(int(n.min), int(n.max), s.top_values[0][0], median_ok, uniques_ok)],
        "min_v bigint, max_v bigint, top_value string, median_ok bigint, uniques_ok bigint",
    )


def _sketch_stats_sql():
    return (
        "SELECT CAST(min(l_quantity) AS BIGINT) AS min_v, "
        "CAST(max(l_quantity) AS BIGINT) AS max_v, "
        "(SELECT l_returnflag FROM lineitem GROUP BY 1 "
        "ORDER BY count(*) DESC, l_returnflag DESC LIMIT 1) AS top_value, "
        "CAST(1 AS BIGINT) AS median_ok, CAST(1 AS BIGINT) AS uniques_ok "
        "FROM lineitem"
    )


def q_knn_mi(spark, sf_dir):
    """kNN (Kraskov/KSG) adjusted mutual information through the partitioned
    harness (reference mutual_information.py:455-460,711 +
    partitioned_stats_generator.py:35-115). Self-verified by estimator
    behavior on constructed pairs with known structure: u = fractional hash of
    l_partkey is independent of l_quantity (measured |corr| < 0.01), so
    MI(q, q + 2u) > MI(q, q + 20u) > MI(q, 50u) ≈ 0 must hold, AMI must track
    MI for dependent pairs, and AMI of the independent pair must be ≈ 0."""
    from data_validation_spark.stats.mi import estimated_knn_mutual_information

    # cache the 2-column projection once: three derived frames × (MI +
    # shuffled-MI) + the row count would otherwise re-scan lineitem ~7×
    with persisted(
        _t(spark, sf_dir, "lineitem").select(
            F.col("l_quantity").cast("double").alias("q"),
            (F.pmod(F.col("l_partkey"), F.lit(1000)).cast("double") / 1000.0).alias("u"),
        )
    ) as li:
        n_rows = int(li.count())  # also materializes the cache up front
        low_noise = li.select("q", (F.col("q") + 2.0 * F.col("u")).alias("y"))
        high_noise = li.select("q", (F.col("q") + 20.0 * F.col("u")).alias("y"))
        indep = li.select("q", (50.0 * F.col("u")).alias("y"))

        kw = dict(num_partitions=5, k=3, max_rows_per_partition=1000, adjusted=True)
        r_low = estimated_knn_mutual_information(low_noise, "q", "y", **kw)
        r_high = estimated_knn_mutual_information(high_noise, "q", "y", **kw)
        r_ind = estimated_knn_mutual_information(indep, "q", "y", **kw)

    mi_low, mi_high, mi_ind = (
        r_low["mi"]["median"], r_high["mi"]["median"], r_ind["mi"]["median"],
    )
    ami_low, ami_ind = r_low["ami"]["median"], r_ind["ami"]["median"]
    return _local_df(spark, 
        [
            (
                n_rows,
                int(mi_low > mi_high + 0.2),
                int(mi_high > mi_ind + 0.2),
                int(mi_ind < 0.15),
                int(ami_low > 1.0),
                int(ami_ind < 0.15),
            )
        ],
        "n_rows bigint, low_gt_high bigint, high_gt_ind bigint, "
        "ind_small bigint, ami_dep_large bigint, ami_ind_small bigint",
    )


def _knn_mi_sql():
    return (
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(1 AS BIGINT) AS low_gt_high, CAST(1 AS BIGINT) AS high_gt_ind, "
        "CAST(1 AS BIGINT) AS ind_small, CAST(1 AS BIGINT) AS ami_dep_large, "
        "CAST(1 AS BIGINT) AS ami_ind_small FROM lineitem"
    )


def q_weighted_sketch_stats(spark, sf_dir):
    """Weighted quantiles through the sketch pass (reference
    WeightedNumericStatistics median + histograms via its weighted
    QuantilesSketch, basic_stats_generator.py:830-877; here the long pass's
    log-spaced value buckets, γ = 1.01, refined where one holds over 1% of
    the weight: at most 1% value error and 1% of the weight in rank, exact
    on values more than 1% apart, no Python). Self-verified: the
    weighted median is bounds-checked against
    the EXACT weighted median (l_quantity has ~50 distinct values → groupBy +
    50-row driver cumsum, no full sort), the weighted mean against the exact
    ratio aggregate, and the weighted histogram mass against total weight;
    min/max are exact-matchable."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("w")
    )
    stats = compute_statistics(
        li, StatsOptions(weight_column="w", use_sketches=True)
    )
    n = stats.default_slice().feature("x").numeric

    # weighted-median RANK check via value-grouped cumulative weights
    # (50 rows): l_quantity is DISCRETE (steps 2% of range apart), so a
    # value-distance bound would reject rank-perfect estimates that
    # interpolate between steps. Assert
    # the weighted mass strictly below / above the estimate each ≤ 51% W.
    grp = sorted(
        li.groupBy("x").agg(F.sum("w").alias("ws")).collect(),
        key=lambda r: r["x"],
    )
    total_w = sum(r["ws"] for r in grp)
    below = sum(r["ws"] for r in grp if r["x"] < n.weighted_median)
    above = sum(r["ws"] for r in grp if r["x"] > n.weighted_median)
    ex = li.agg(
        (F.sum(F.col("x") * F.col("w")) / F.sum("w")).alias("wm"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    ).collect()[0]
    wmedian_ok = int(
        below <= 0.51 * total_w and above <= 0.51 * total_w
    )
    wmean_ok = int(abs(n.weighted_mean - float(ex["wm"])) <= 1e-6 * abs(float(ex["wm"])))
    std_hist = next(h for h in n.weighted_histograms if h.type == "STANDARD")
    whist_ok = int(abs(std_hist.total_count() - total_w) <= 0.01 * total_w)
    return _local_df(spark, 
        [(int(ex["mn"]), int(ex["mx"]), wmedian_ok, wmean_ok, whist_ok)],
        "min_v bigint, max_v bigint, wmedian_ok bigint, wmean_ok bigint, whist_ok bigint",
    )


def _weighted_sketch_stats_sql():
    return (
        "SELECT CAST(min(l_quantity) AS BIGINT) AS min_v, "
        "CAST(max(l_quantity) AS BIGINT) AS max_v, "
        "CAST(1 AS BIGINT) AS wmedian_ok, CAST(1 AS BIGINT) AS wmean_ok, "
        "CAST(1 AS BIGINT) AS whist_ok FROM lineitem"
    )


def q_slice_multi(spark, sf_dir):
    """Two simultaneous slicers (every event_type; click × user-bucket) through
    the engine's multi-slicer path (slicing_util.py parity)."""
    from data_validation_spark.stats.slicing import SliceSpec

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.pmod(F.col("user_id"), F.lit(3)).alias("ub"), "value"
    )
    stats = compute_statistics(
        ev,
        StatsOptions(
            slice_specs=[
                SliceSpec({"event_type": None}),
                SliceSpec({"event_type": ["click"], "ub": None}),
            ]
        ),
    )
    rows = sorted(
        (
            s.slice_key,
            s.num_examples,
            int(round(s.feature("value").numeric.mean * 1e6)),
        )
        for s in stats.slices
    )
    return _local_df(spark, 
        rows, "slice_key string, num_examples bigint, mean_value_e6 bigint"
    )


def _slice_multi_sql():
    return (
        "WITH base AS (SELECT event_type, user_id % 3 AS ub, value FROM events), "
        "u AS ("
        "SELECT 'All Examples' AS slice_key, count(*) AS n, avg(value) AS m FROM base "
        "UNION ALL "
        "SELECT 'event_type_' || event_type, count(*), avg(value) FROM base "
        "WHERE event_type IS NOT NULL GROUP BY event_type "
        "UNION ALL "
        "SELECT 'event_type_click_ub_' || CAST(ub AS VARCHAR), count(*), avg(value) "
        "FROM base WHERE event_type = 'click' AND ub IS NOT NULL GROUP BY ub) "
        "SELECT slice_key, CAST(n AS BIGINT) AS num_examples, "
        "CAST(ROUND(m*1000000) AS BIGINT) AS mean_value_e6 FROM u ORDER BY slice_key"
    )


def q_nl_token_stats(spark, sf_dir):
    """NL token-level stats (natural_language_stats_generator parity): stats
    for the constrained token 'the' + sequence-length extremes."""
    from data_validation_spark.stats.text import compute_nl_statistics

    docs = _t(spark, sf_dir, "documents")
    nl = compute_nl_statistics(docs, "text", constrained_tokens=["the"])
    ts = nl["token_statistics"]["the"]
    return _local_df(spark, 
        [
            (
                ts["frequency"],
                int(round(ts["fraction_of_sequences"] * 1e6)),
                ts["per_sequence_min_frequency"],
                ts["per_sequence_max_frequency"],
                nl["min_sequence_length"],
                nl["max_sequence_length"],
            )
        ],
        "the_frequency bigint, the_fraction_e6 bigint, the_min_per_seq bigint, "
        "the_max_per_seq bigint, min_seq_len bigint, max_seq_len bigint",
    )


def _nl_token_stats_sql():
    return (
        "WITH docs2 AS (SELECT doc_id, trim(text) AS t FROM documents WHERE text IS NOT NULL), "
        "toks AS (SELECT doc_id, unnest(string_split_regex(t, '\\s+')) AS tok FROM docs2), "
        "toks2 AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0), "
        "per_seq AS (SELECT doc_id, count(*) AS occ FROM toks2 WHERE tok = 'the' GROUP BY 1), "
        "seq_lens AS (SELECT doc_id, count(*) AS slen FROM toks2 GROUP BY 1) "
        "SELECT (SELECT CAST(coalesce(sum(occ), 0) AS BIGINT) FROM per_seq) AS the_frequency, "
        "CAST(ROUND((SELECT count(*) FROM per_seq) * 1000000.0 / "
        "(SELECT count(*) FROM docs2)) AS BIGINT) AS the_fraction_e6, "
        "(SELECT CAST(coalesce(min(occ), 0) AS BIGINT) FROM per_seq) AS the_min_per_seq, "
        "(SELECT CAST(coalesce(max(occ), 0) AS BIGINT) FROM per_seq) AS the_max_per_seq, "
        "(SELECT CAST(min(slen) AS BIGINT) FROM seq_lens) AS min_seq_len, "
        "(SELECT CAST(max(slen) AS BIGINT) FROM seq_lens) AS max_seq_len"
    )


def q_booldomain_violations(spark, sf_dir):
    """Bool-domain rule through the full engine+validate path: l_linenumber
    declared boolean (violates, max > 1); a derived 0/1 flag stays clean."""
    from data_validation_spark.schema import BoolDomain, FeatureSpec, Schema
    from data_validation_spark.validate.rules import validate_statistics

    li = _t(spark, sf_dir, "lineitem").select(
        "l_linenumber", (F.col("l_quantity") > 25).cast("long").alias("flag")
    )
    stats = compute_statistics(li, StatsOptions())
    schema = Schema(
        feature=[
            FeatureSpec(name="l_linenumber", bool_domain=BoolDomain()),
            FeatureSpec(name="flag", bool_domain=BoolDomain()),
        ]
    )
    r = validate_statistics(stats, schema)
    rows = sorted(
        (a.feature, a.type.value, int(a.measurement)) for a in r.anomalies
    )
    return _local_df(spark, 
        rows, "feature string, anomaly_type string, measurement bigint"
    )


def _booldomain_sql():
    return (
        "SELECT 'l_linenumber' AS feature, 'BOOL_TYPE_BIG_INT' AS anomaly_type, "
        "CAST(max(l_linenumber) AS BIGINT) AS measurement FROM lineitem"
    )


def q_floatdomain_nan(spark, sf_dir):
    """Float-domain NaN/inf rule via engine stats: derive deterministic NaN /
    +inf values from events, validate disallow_nan/disallow_inf."""
    from data_validation_spark.schema import FeatureSpec, FloatDomain, Schema
    from data_validation_spark.validate.rules import validate_statistics

    ev = _t(spark, sf_dir, "events").select(
        F.when(
            (F.col("event_type") == "click") & (F.col("value") > 900), float("nan")
        )
        .when((F.col("event_type") == "view") & (F.col("value") > 950), float("inf"))
        .otherwise(F.col("value"))
        .alias("v2")
    )
    stats = compute_statistics(ev, StatsOptions())
    n = stats.default_slice().feature("v2").numeric
    schema = Schema(
        feature=[
            FeatureSpec(
                name="v2",
                float_domain=FloatDomain(disallow_nan=True, disallow_inf=True),
            )
        ]
    )
    r = validate_statistics(stats, schema)
    types = {a.type.value for a in r.anomalies}
    return _local_df(spark, 
        [
            (
                n.num_nan,
                n.num_pos_inf,
                int("FLOAT_TYPE_HAS_NAN" in types),
                int("FLOAT_TYPE_HAS_INF" in types),
            )
        ],
        "num_nan bigint, num_pos_inf bigint, has_nan_anomaly bigint, has_inf_anomaly bigint",
    )


def _floatdomain_sql():
    return (
        "WITH v AS (SELECT CASE WHEN event_type = 'click' AND value > 900 THEN 'nan'::DOUBLE "
        "WHEN event_type = 'view' AND value > 950 THEN 'infinity'::DOUBLE "
        "ELSE value END AS v2 FROM events) "
        "SELECT CAST(sum(CASE WHEN isnan(v2) THEN 1 ELSE 0 END) AS BIGINT) AS num_nan, "
        "CAST(sum(CASE WHEN isinf(v2) AND v2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS num_pos_inf, "
        "CAST(CASE WHEN sum(CASE WHEN isnan(v2) THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END "
        "AS BIGINT) AS has_nan_anomaly, "
        "CAST(CASE WHEN sum(CASE WHEN isinf(v2) AND v2 > 0 THEN 1 ELSE 0 END) > 0 THEN 1 "
        "ELSE 0 END AS BIGINT) AS has_inf_anomaly FROM v"
    )


def q_dataset_constraints_check(spark, sf_dir):
    """Dataset-level example-count constraints (dataset_constraints_util)."""
    from data_validation_spark.schema import DatasetConstraints, Schema
    from data_validation_spark.validate.rules import validate_statistics

    orders = _t(spark, sf_dir, "orders")
    stats = compute_statistics(orders.select("o_orderkey"), StatsOptions())
    n = stats.default_slice().num_examples
    # min above the actual count → LOW fires; max below → HIGH fires.
    schema_low = Schema(dataset_constraints=DatasetConstraints(min_examples_count=n + 1))
    schema_high = Schema(dataset_constraints=DatasetConstraints(max_examples_count=n - 1))
    from data_validation_spark.schema import FeatureSpec

    schema_ok = Schema(
        feature=[FeatureSpec(name="o_orderkey")],
        dataset_constraints=DatasetConstraints(min_examples_count=1, max_examples_count=n),
    )
    r_low = validate_statistics(stats, schema_low)
    r_high = validate_statistics(stats, schema_high)
    r_ok = validate_statistics(stats, schema_ok)
    return _local_df(spark, 
        [
            (
                n,
                int("DATASET_LOW_NUM_EXAMPLES" in {a.type.value for a in r_low.anomalies}),
                int("DATASET_HIGH_NUM_EXAMPLES" in {a.type.value for a in r_high.anomalies}),
                int(r_ok.passed),
            )
        ],
        "num_examples bigint, low_fires bigint, high_fires bigint, ok_passes bigint",
    )


def _dataset_constraints_sql():
    return (
        "SELECT count(*) AS num_examples, 1 AS low_fires, 1 AS high_fires, "
        "1 AS ok_passes FROM orders"
    )


def q_drift_nad(spark, sf_dir):
    """Normalized-absolute-difference drift of event_type between user-id
    parity halves (the engine's NAD comparator math)."""
    from data_validation_spark.validate.drift import normalized_absolute_difference

    events = _t(spark, sf_dir, "events")
    half = events.select(
        "event_type", (F.pmod(F.col("user_id"), F.lit(2))).alias("h")
    )
    rows = half.groupBy("h", "event_type").count().collect()
    c1 = {r["event_type"]: float(r["count"]) for r in rows if r["h"] == 0}
    c2 = {r["event_type"]: float(r["count"]) for r in rows if r["h"] == 1}
    _, nad = normalized_absolute_difference(c1, c2)
    return _local_df(spark, [(int(round(nad * 1e6)),)], "nad_e6 bigint")


def _drift_nad_sql():
    return (
        "WITH c AS (SELECT event_type, user_id % 2 AS h, count(*) AS n "
        "FROM events GROUP BY 1, 2), "
        "t AS (SELECT sum(n) AS tot FROM c), "
        "d AS (SELECT COALESCE(a.event_type, b.event_type) AS et, "
        "ABS(COALESCE(a.n, 0) - COALESCE(b.n, 0)) * 1.0 / (SELECT tot FROM t) AS diff "
        "FROM (SELECT * FROM c WHERE h = 0) a "
        "FULL OUTER JOIN (SELECT * FROM c WHERE h = 1) b ON a.event_type = b.event_type) "
        "SELECT CAST(ROUND(max(diff)*1000000) AS BIGINT) AS nad_e6 FROM d"
    )


def q_drift_jsd(spark, sf_dir):
    """Jensen-Shannon divergence of the event_type distribution between the
    two time halves (categorical JSD, drift comparator math)."""
    from data_validation_spark.validate.drift import jensen_shannon_divergence_counts

    events = _t(spark, sf_dir, "events")
    half = events.select(
        "event_type",
        F.when(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), "h1")
        .otherwise("h2")
        .alias("half"),
    )
    rows = half.groupBy("half", "event_type").count().collect()
    c1 = {r["event_type"]: float(r["count"]) for r in rows if r["half"] == "h1"}
    c2 = {r["event_type"]: float(r["count"]) for r in rows if r["half"] == "h2"}
    jsd = jensen_shannon_divergence_counts(c1, c2)
    return _local_df(spark, [(int(round(jsd * 1e6)),)], "jsd_e6 bigint")


def _drift_jsd_sql():
    return (
        "WITH c AS (SELECT event_type, "
        "CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'h1' ELSE 'h2' END AS half, "
        "count(*) AS n FROM events GROUP BY 1, 2), "
        "t AS (SELECT half, sum(n) AS tot FROM c GROUP BY 1), "
        "p AS (SELECT c.event_type, c.half, c.n * 1.0 / t.tot AS p FROM c JOIN t USING (half)), "
        "j AS (SELECT COALESCE(a.event_type, b.event_type) AS et, "
        "COALESCE(a.p, 0) AS p, COALESCE(b.p, 0) AS q FROM "
        "(SELECT * FROM p WHERE half = 'h1') a FULL OUTER JOIN "
        "(SELECT * FROM p WHERE half = 'h2') b ON a.event_type = b.event_type) "
        "SELECT CAST(ROUND(sum("
        "CASE WHEN p > 0 THEN 0.5 * p * log2(2 * p / (p + q)) ELSE 0 END + "
        "CASE WHEN q > 0 THEN 0.5 * q * log2(2 * q / (p + q)) ELSE 0 END"
        ")*1000000) AS BIGINT) AS jsd_e6 FROM j"
    )


def q_weighted_stats(spark, sf_dir):
    """Weighted stats through the engine's weight-column path: weighted mean/
    std of l_extendedprice and the weighted top returnflag (ranked by
    weighted count)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    stats = compute_statistics(
        li.select("l_returnflag", "l_extendedprice", F.col("l_quantity").alias("w")),
        StatsOptions(weight_column="w", categorical_features={"l_returnflag"}),
    )
    ds = stats.default_slice()
    n = ds.feature("l_extendedprice").numeric
    s = ds.feature("l_returnflag").string
    top_label, top_wcount = s.weighted_top_values[0]
    return _local_df(spark, 
        [
            (
                int(round(n.weighted_mean * 1e6)),
                int(round(n.weighted_std_dev * 1e4)),
                top_label,
                int(round(top_wcount)),
            )
        ],
        "wmean_e6 bigint, wstd_e4 bigint, top_flag string, top_flag_wcount bigint",
    )


def _weighted_stats_sql():
    return (
        "SELECT CAST(ROUND(sum(l_extendedprice*l_quantity)/sum(l_quantity)*1000000) "
        "AS BIGINT) AS wmean_e6, "
        "CAST(ROUND(sqrt(sum(l_quantity*l_extendedprice*l_extendedprice)/sum(l_quantity) "
        "- (sum(l_extendedprice*l_quantity)/sum(l_quantity))^2)*10000) AS BIGINT) AS wstd_e4, "
        "(SELECT l_returnflag FROM lineitem GROUP BY 1 "
        "ORDER BY sum(l_quantity) DESC, l_returnflag DESC LIMIT 1) AS top_flag, "
        "(SELECT CAST(ROUND(sum(l_quantity)) AS BIGINT) FROM lineitem GROUP BY l_returnflag "
        "ORDER BY sum(l_quantity) DESC, l_returnflag DESC LIMIT 1) AS top_flag_wcount "
        "FROM lineitem"
    )


def q_empty_values(spark, sf_dir):
    """Empty-value counter (empty_value_counter_generator parity) over
    deterministically-derived sentinel values."""
    from data_validation_spark.stats.sparse import empty_value_counts

    docs = _t(spark, sf_dir, "documents").select(
        F.when(F.col("n_chars") % 10 == 3, "").otherwise(F.col("text")).alias("text2"),
        F.when(F.col("doc_id") % 7 == 0, -1).otherwise(F.col("doc_id")).alias("id2"),
        F.when(
            F.col("n_chars") % 5 == 1, F.array().cast("array<string>")
        ).otherwise(F.split(F.col("lang"), ",")).alias("arr2"),
    )
    c = empty_value_counts(docs)
    return _local_df(spark, 
        [(c["text2"], c["id2"], c["arr2"])],
        "empty_strings bigint, minus_one_ints bigint, empty_lists bigint",
    )


def _empty_values_sql():
    return (
        "SELECT CAST(sum(CASE WHEN n_chars % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS empty_strings, "
        "CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS minus_one_ints, "
        "CAST(sum(CASE WHEN n_chars % 5 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS empty_lists "
        "FROM documents"
    )


def q_sparse_stats(spark, sf_dir):
    """Sparse-feature stats (missing counts + index/value length diffs) over
    per-order linenumber/quantity arrays."""
    from data_validation_spark.stats.sparse import sparse_feature_stats

    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("idx")
    )
    sdf = g.select(
        "idx", F.filter(F.col("idx"), lambda x: x <= 3).alias("val")
    )
    s = sparse_feature_stats(sdf, "idx", "val")
    return _local_df(spark, 
        [
            (
                s["missing_value"],
                s["missing_index"],
                int(s["min_length_diff"]),
                int(s["max_length_diff"]),
            )
        ],
        "missing_value bigint, missing_index bigint, min_length_diff bigint, "
        "max_length_diff bigint",
    )


def _sparse_stats_sql():
    return (
        "WITH g AS (SELECT l_orderkey, "
        "sum(CASE WHEN l_linenumber > 3 THEN 1 ELSE 0 END) AS d "
        "FROM lineitem GROUP BY 1) "
        "SELECT CAST(0 AS BIGINT) AS missing_value, CAST(0 AS BIGINT) AS missing_index, "
        "CAST(min(d) AS BIGINT) AS min_length_diff, CAST(max(d) AS BIGINT) AS max_length_diff "
        "FROM g"
    )


def q_sparse_multi_index(spark, sf_dir):
    """Multi-index sparse feature stats: per-order linenumber arrays as two
    index features (full + capped-at-3) against a capped value array —
    per-index missing counts and length diffs in one aggregation."""
    from data_validation_spark.stats.sparse import sparse_feature_stats

    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("idx_full")
    )
    sdf = g.select(
        "idx_full",
        F.filter(F.col("idx_full"), lambda x: x <= 5).alias("idx_5"),
        F.filter(F.col("idx_full"), lambda x: x <= 3).alias("val"),
    )
    s = sparse_feature_stats(sdf, ["idx_full", "idx_5"], "val")
    return _local_df(spark, 
        [
            (
                s["missing_value"],
                s["missing_index_by_index"]["idx_full"],
                s["missing_index_by_index"]["idx_5"],
                int(s["min_length_diff_by_index"]["idx_full"]),
                int(s["max_length_diff_by_index"]["idx_full"]),
                int(s["min_length_diff_by_index"]["idx_5"]),
                int(s["max_length_diff_by_index"]["idx_5"]),
            )
        ],
        "missing_value bigint, mi_full bigint, mi_5 bigint, "
        "mind_full bigint, maxd_full bigint, mind_5 bigint, maxd_5 bigint",
    )


def _sparse_multi_sql():
    return (
        "WITH g AS (SELECT l_orderkey, "
        "count(*) AS n_full, "
        "sum(CASE WHEN l_linenumber <= 5 THEN 1 ELSE 0 END) AS n5, "
        "sum(CASE WHEN l_linenumber <= 3 THEN 1 ELSE 0 END) AS n3 "
        "FROM lineitem GROUP BY 1) "
        "SELECT CAST(0 AS BIGINT) AS missing_value, CAST(0 AS BIGINT) AS mi_full, "
        "CAST(0 AS BIGINT) AS mi_5, "
        "CAST(min(n_full - n3) AS BIGINT) AS mind_full, "
        "CAST(max(n_full - n3) AS BIGINT) AS maxd_full, "
        "CAST(min(n5 - n3) AS BIGINT) AS mind_5, "
        "CAST(max(n5 - n3) AS BIGINT) AS maxd_5 FROM g"
    )


def q_infer_schema_roundtrip(spark, sf_dir):
    """Schema inference round-trip: infer from orders stats, emit the inferred
    properties, and assert the inferred schema validates its own stats."""
    from data_validation_spark.validate.infer import infer_schema
    from data_validation_spark.validate.rules import validate_statistics

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice", "o_orderkey"
    )
    stats = compute_statistics(
        orders, StatsOptions(categorical_features={"o_orderstatus"})
    )
    schema = infer_schema(stats)
    st = schema.get_feature("o_orderstatus")
    tp = schema.get_feature("o_totalprice")
    self_clean = validate_statistics(stats, schema).passed
    return _local_df(spark, 
        [
            (
                tp.type.value,
                st.type.value,
                ",".join(sorted(st.string_domain.value)) if st.string_domain else "",
                int(round((st.presence.min_fraction or 0.0) * 1e6)),
                int(self_clean),
            )
        ],
        "totalprice_type string, status_type string, status_domain string, "
        "status_min_fraction_e6 bigint, self_validates bigint",
    )


def _infer_schema_sql():
    return (
        "SELECT 'FLOAT' AS totalprice_type, 'BYTES' AS status_type, "
        "(SELECT string_agg(s, ',' ORDER BY s) FROM "
        "(SELECT DISTINCT o_orderstatus AS s FROM orders)) AS status_domain, "
        "CAST(CASE WHEN count(*) = count(o_orderstatus) THEN 1000000 ELSE 0 END AS BIGINT) "
        "AS status_min_fraction_e6, 1 AS self_validates FROM orders"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Each CORRECTNESS_r0x snapshot records 50 of these 58 entries, and
    # dict order does not choose which: CORRECTNESS_r05 and _r06 both lack
    # minhash_dedup, sketch_stats, weighted_sketch_stats, knn_mi,
    # slice_multi, nl_token_stats, booldomain_violations and floatdomain_nan
    # although r06 had them first (last snapshot row: CORRECTNESS_r04).
    # tools/verify_entry.py checks every entry against its oracle.
    return {
        "minhash_dedup": q_minhash_dedup,
        "sketch_stats": q_sketch_stats,
        "weighted_sketch_stats": q_weighted_sketch_stats,
        "knn_mi": q_knn_mi,
        "slice_multi": q_slice_multi,
        "nl_token_stats": q_nl_token_stats,
        "booldomain_violations": q_booldomain_violations,
        "floatdomain_nan": q_floatdomain_nan,
        "tpch_q1": q_tpch_q1,
        "colstats_lineitem": q_colstats_lineitem,
        "presence_orders": q_presence_orders,
        "topk_categorical": q_topk_categorical,
        "uniques_categorical": q_uniques_categorical,
        "quantiles_quantity": q_quantiles_quantity,
        "median_by_flag": q_median_by_flag,
        "histogram_quantity": q_histogram_quantity,
        "valency_embeddings": q_valency_embeddings,
        "array_element_stats": q_array_element_stats,
        "intdomain_violations": q_intdomain_violations,
        "stringdomain_violations": q_stringdomain_violations,
        "referential_orphans": q_referential_orphans,
        "duplicate_keys": q_duplicate_keys,
        "dedup_exact_docs": q_dedup_exact_docs,
        "token_counts": q_token_counts,
        "quality_scores": q_quality_scores,
        "slice_matrix": q_slice_matrix,
        "embedding_topk": q_embedding_topk,
        "sessionization": q_sessionization,
        "windowed_counts": q_windowed_counts,
        "drift_linf": q_drift_linf,
        "crosscorr": q_crosscorr,
        "lift_event_type": q_lift_event_type,
        "lift_binned": q_lift_binned,
        "skew_match_stats": q_skew_match_stats,
        "time_format_detect": q_time_format_detect,
        "merged_stats_parity": q_merged_stats_parity,
        "mutual_information": q_mutual_information,
        "vocab_coverage": q_vocab_coverage,
        "tpch_q3ish": q_tpch_q3ish,
        "rollup_orders": q_rollup_orders,
        "pivot_returnflag": q_pivot_returnflag,
        "ngram_jaccard_verify": q_ngram_jaccard_verify,
        "simhash_docs": q_simhash_docs,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        "embedding_neardup_exact": q_embedding_neardup_exact,
        "ngram_jaccard_allpairs": q_ngram_jaccard_allpairs,
        "langid_docs": q_langid_docs,
        "similarity_ivf": q_similarity_ivf,
        "images_profile": q_images_profile,
        "images_verdict": q_images_verdict,
        "dataset_constraints_check": q_dataset_constraints_check,
        "drift_nad": q_drift_nad,
        "drift_jsd": q_drift_jsd,
        "weighted_stats": q_weighted_stats,
        "empty_values": q_empty_values,
        "sparse_stats": q_sparse_stats,
        "sparse_multi_index": q_sparse_multi_index,
        "infer_schema_roundtrip": q_infer_schema_roundtrip,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "tpch_q1": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(ROUND(sum(l_quantity)*1000000) AS BIGINT) AS sum_qty_e6, "
            "CAST(ROUND(sum(l_extendedprice)*1000000) AS BIGINT) AS sum_base_price_e6, "
            "CAST(ROUND(sum(l_extendedprice*(1-l_discount))*1000000) AS BIGINT) "
            "AS sum_disc_price_e6, "
            "CAST(ROUND(avg(l_quantity)*1000000) AS BIGINT) AS avg_qty_e6, "
            "count(*) AS count_order FROM lineitem "
            "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY 1, 2 ORDER BY 1, 2"
        ),
        "colstats_lineitem": _colstats_sql(),
        "presence_orders": _presence_sql(),
        "topk_categorical": _topk_sql(),
        "uniques_categorical": _uniques_sql(),
        "quantiles_quantity": _quantiles_sql(),
        "median_by_flag": (
            "SELECT l_returnflag, CAST(ROUND(quantile_cont(l_extendedprice, 0.5)*1000000) "
            "AS BIGINT) AS median_e6 FROM lineitem GROUP BY 1 ORDER BY 1"
        ),
        "histogram_quantity": _histogram_sql(),
        "valency_embeddings": _valency_sql(),
        "array_element_stats": _array_element_sql(),
        "intdomain_violations": _intdomain_sql(),
        "stringdomain_violations": _stringdomain_sql(),
        "referential_orphans": _referential_sql(),
        "duplicate_keys": _duplicate_keys_sql(),
        "dedup_exact_docs": _dedup_exact_sql(),
        "token_counts": _token_counts_sql(),
        "quality_scores": _quality_sql(),
        "slice_matrix": _slice_matrix_sql(),
        "embedding_topk": _embedding_topk_sql(),
        "sessionization": _sessionization_sql(),
        "windowed_counts": _windowed_sql(),
        "drift_linf": _drift_linf_sql(),
        "crosscorr": _crosscorr_sql(),
        "lift_event_type": _lift_sql(),
        "lift_binned": _lift_binned_sql(),
        "skew_match_stats": _skew_sql(),
        "time_format_detect": _time_sql(),
        "merged_stats_parity": _merged_stats_sql(),
        "mutual_information": _mi_sql(),
        "vocab_coverage": _vocab_sql(),
        "tpch_q3ish": _q3_sql(),
        "rollup_orders": _rollup_sql(),
        "pivot_returnflag": _pivot_sql(),
        "slice_multi": _slice_multi_sql(),
        "embedding_neardup_exact": _embedding_neardup_sql(),
        "langid_docs": _langid_sql(),
        "ngram_jaccard_allpairs": _ngram_jaccard_sql(),
        "nl_token_stats": _nl_token_stats_sql(),
        "booldomain_violations": _booldomain_sql(),
        "floatdomain_nan": _floatdomain_sql(),
        "dataset_constraints_check": _dataset_constraints_sql(),
        "drift_nad": _drift_nad_sql(),
        "drift_jsd": _drift_jsd_sql(),
        "weighted_stats": _weighted_stats_sql(),
        "empty_values": _empty_values_sql(),
        "sparse_stats": _sparse_stats_sql(),
        "sparse_multi_index": _sparse_multi_sql(),
        "infer_schema_roundtrip": _infer_schema_sql(),
        # Formerly rows-only; now self-verifying (see each query's docstring):
        # pair lists / aggregates are computed by the oracle on the same
        # deterministically-augmented input, and approximate results carry
        # in-query bounded comparisons vs exact counterparts.
        "ngram_jaccard_verify": _ngram_jaccard_verify_sql(),
        "minhash_dedup": _minhash_dedup_sql(),
        "embedding_neardup_lsh": _embedding_neardup_sql(),
        "simhash_docs": (
            "SELECT planted_pairs, CAST(1 AS BIGINT) AS subset_exact_match "
            "FROM (" + _PLANTED_DOC_COUNT_SQL + ")"
        ),
        "similarity_ivf": _similarity_ivf_sql(),
        "sketch_stats": _sketch_stats_sql(),
        "weighted_sketch_stats": _weighted_sketch_stats_sql(),
        "knn_mi": _knn_mi_sql(),
        "images_profile": _images_profile_sql(),
        "images_verdict": _images_verdict_sql(),
    }
