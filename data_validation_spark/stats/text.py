"""Text / natural-language statistics — the Spark-native counterparts of the
reference's NL domain-inferring generator (avg-word-length heuristic,
``natural_language_domain_inferring_stats_generator.py``) plus the
training-data-pipeline text utilities: token counting, quality scoring,
language ID (stopword n-gram heuristic), and rolling-hash fingerprints.

Everything here is column expressions (JVM-side) except the language-ID
scorer, which is an Arrow-vectorized pass.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from data_validation_spark.jobs import run_parallel
from data_validation_spark.stats.result import DatasetStatsList
from data_validation_spark.util import persisted, words

# Reference thresholds: NL domain inferred when ≥80% of ≥100 values match the
# heuristic (natural_language_domain_inferring_stats_generator.py).
NL_MATCH_FRACTION = 0.8
NL_MIN_EXAMPLES = 100
_AVG_WORD_MIN, _AVG_WORD_MAX = 2.5, 8.0  # plausible-natural-language band
_MIN_WORDS_PER_VALUE = 3  # reference _MIN_WORDS_PER_VALUE


def token_count_col(col) -> "F.Column":
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(F.length(t) == 0, 0).otherwise(F.size(F.split(t, r"\s+")))


def avg_token_length_col(col) -> "F.Column":
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    nospace = F.length(F.regexp_replace(t, r"\s", ""))
    return nospace / F.greatest(token_count_col(c), F.lit(1))


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Adds quality-scoring columns: token count, avg token length, alpha /
    digit / punct ratios, stopword ratio — all JVM expressions."""
    t = F.trim(F.col(text_col))
    n = F.greatest(F.length(t), F.lit(1))
    stop = r"\b(the|a|an|of|to|and|in|is|it|that|for)\b"
    return (
        df.withColumn("n_tokens", token_count_col(t))
        .withColumn("avg_token_len", avg_token_length_col(t))
        .withColumn("alpha_ratio", F.length(F.regexp_replace(t, r"[^a-zA-Z]", "")) / n)
        .withColumn("digit_ratio", F.length(F.regexp_replace(t, r"[^0-9]", "")) / n)
        .withColumn(
            "punct_ratio", F.length(F.regexp_replace(t, r"[^.,;:!?'\"]", "")) / n
        )
        .withColumn(
            "stopword_count", F.size(F.expr(f"regexp_extract_all(lower({text_col}), '{stop}', 0)"))
        )
        .withColumn(
            "quality_score",
            F.when(F.col("n_tokens") == 0, 0.0).otherwise(
                (
                    F.least(F.col("alpha_ratio") * 1.2, F.lit(1.0))
                    + F.when(
                        (F.col("avg_token_len") >= _AVG_WORD_MIN)
                        & (F.col("avg_token_len") <= _AVG_WORD_MAX),
                        1.0,
                    ).otherwise(0.0)
                    + F.least(F.col("stopword_count") / F.greatest(F.col("n_tokens"), F.lit(1)) * 5.0, F.lit(1.0))
                )
                / 3.0
            ),
        )
    )


def fingerprint_col(col, ngram: int = 0) -> "F.Column":
    """Document fingerprint: xxhash64 of the normalized text (or of its
    sorted word set when ``ngram`` > 0 — order-insensitive variant)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    if ngram > 0:
        norm = F.concat_ws(" ", F.array_sort(F.split(norm, " ")))
    return F.xxhash64(norm)


# ----------------------------------------------------------- invalid UTF-8
def invalid_utf8_count(df: DataFrame, binary_col: str) -> int:
    """Count of binary values that are not valid UTF-8 (the reference's
    CountInvalidUTF8 over bytes features). Spark ``StringType`` is UTF-8 by
    construction, so this only applies to binary columns. JVM-side: a value
    is invalid iff the permissive binary→string cast loses round-tripping
    (replacement characters appear)."""
    c = F.col(binary_col)
    decoded = c.cast("string")
    # try_cast keeps invalid sequences as replacement chars; re-encoding a
    # valid string yields the original bytes.
    bad = F.when(c.isNotNull() & (F.encode(decoded, "UTF-8") != c), 1).otherwise(0)
    row = df.agg(F.sum(bad).alias("n")).collect()[0]
    return int(row["n"] or 0)


def attach_invalid_utf8(stats: DatasetStatsList, df: DataFrame, binary_col: str) -> None:
    n = invalid_utf8_count(df, binary_col)
    for sl in stats.slices:
        fs = sl.features.get(binary_col)
        if fs is not None:
            if fs.string is None:
                from data_validation_spark.stats.result import StringStats

                fs.string = StringStats()
            fs.string.invalid_utf8_count = n


# ---------------------------------------------------------------- language id
_STOPWORDS = {
    "en": {"the", "and", "of", "to", "in", "is", "it", "that", "for", "was", "with", "a"},
    "de": {"der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "für", "von"},
    "fr": {"le", "la", "les", "et", "est", "une", "des", "pour", "dans", "que", "qui"},
    "es": {"el", "la", "los", "las", "es", "una", "para", "con", "del", "que", "por"},
}


def language_id(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    """Stopword-vote language ID (Arrow-vectorized); 'und' when no evidence."""
    cols = df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            preds = []
            for text in pdf[text_col]:
                words = set((text or "").lower().split())
                best, best_n = "und", 0
                for lang, sw in _STOPWORDS.items():
                    n = len(words & sw)
                    if n > best_n:
                        best, best_n = lang, n
                preds.append(best)
            pdf = pdf.copy()
            pdf[out_col] = preds
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInPandas(run, f"{schema}, {out_col} string")


# --------------------------------------------------------- vocab token stats
def vocab_token_stats(
    df: DataFrame, text_col: str, vocab: DataFrame, vocab_col: str = "token"
) -> dict:
    """Schema-driven NL stats vs a vocabulary table: token coverage (fraction
    of tokens found in the vocab), OOV count, avg token length — the
    reference's nl_stats vocab path as explode + broadcast join + aggregate.
    """
    tokens = df.select(F.explode(words(F.col(text_col))).alias("tok"))
    v = F.broadcast(vocab.select(F.col(vocab_col).alias("tok")).dropDuplicates(["tok"])
                    .withColumn("__in_vocab", F.lit(1)))
    joined = tokens.join(v, "tok", "left")
    row = joined.agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.sum(F.coalesce(F.col("__in_vocab"), F.lit(0))).alias("in_vocab"),
        F.avg(F.length("tok")).alias("avg_token_length"),
    ).collect()[0]
    total = int(row["total_tokens"] or 0)
    inv = int(row["in_vocab"] or 0)
    return {
        "total_tokens": total,
        "in_vocab_tokens": inv,
        "oov_tokens": total - inv,
        "coverage": inv / total if total else 0.0,
        "avg_token_length": row["avg_token_length"] or 0.0,
    }


# ------------------------------------------------- NL token-level statistics
def compute_nl_statistics(
    df: DataFrame,
    text_col: str,
    vocab: Optional[DataFrame] = None,
    vocab_col: str = "token",
    constrained_tokens: Optional[list[str]] = None,
    oov_tokens: Optional[set[str]] = None,
    sequence_length_excluded_tokens: Optional[set[str]] = None,
    num_histogram_buckets: int = 10,
    num_quantiles_histogram_buckets: int = 10,
    num_rank_histogram_buckets: int = 100,
) -> dict:
    """Schema-driven NL statistics — the reference's
    ``natural_language_stats_generator.py`` re-expressed as one exploded-token
    DataFrame plan (posexplode → broadcast vocab join → aggregates), no
    per-row Python anywhere.

    Returns an ``nl_statistics`` dict with: feature_coverage,
    avg_token_length, min/max_sequence_length, sequence_length /
    token_length quantile histograms, token rank histogram, per-token
    statistics for ``constrained_tokens`` (frequency, fraction_of_sequences,
    per-sequence min/max/avg, normalized-position histogram), and the 5
    lowest-coverage / lowest-avg-token-length reported sequences.
    """
    oov_tokens = oov_tokens or set()
    excluded = sequence_length_excluded_tokens or set()
    toks = words(F.col(text_col))
    # Cache `seqs` (not just `tokens`): __sid comes from
    # monotonically_increasing_id, and _bottom5 re-scans `seqs` in a separate
    # job to match ids collected from per_seq. Without the cache a
    # nondeterministic upstream (sample(), shuffle, task retry) could
    # recompute with shifted ids and return wrong/empty reported_sequences.
    with persisted(
        df.select(
            F.monotonically_increasing_id().alias("__sid"),
            toks.alias("__toks"),
        ).where(F.col("__toks").isNotNull())
    ) as seqs:
        num_examples = seqs.count()
        if num_examples == 0:
            return {"num_examples": 0, "feature_coverage": 0.0, "avg_token_length": 0.0}

        tokens = seqs.select(
            "__sid",
            F.size("__toks").alias("__slen"),
            F.posexplode("__toks").alias("__pos", "tok"),
        )
        if vocab is not None:
            v = F.broadcast(
                vocab.select(F.col(vocab_col).alias("tok"))
                .dropDuplicates(["tok"])
                .withColumn("__iv", F.lit(1))
            )
            tokens = tokens.join(v, "tok", "left").withColumn(
                "__in_vocab", F.coalesce(F.col("__iv"), F.lit(0))
            )
        else:
            # No vocabulary: every token is in-vocab unless listed OOV
            # (reference semantics for string tokens without a vocab path).
            oov_arr = (
                F.array(*[F.lit(t) for t in sorted(oov_tokens)]) if oov_tokens else None
            )
            iv = (
                F.when(F.array_contains(oov_arr, F.col("tok")), 0).otherwise(1)
                if oov_arr is not None
                else F.lit(1)
            )
            tokens = tokens.withColumn("__in_vocab", iv)
        with persisted(tokens) as tokens:

            qs = [i / num_quantiles_histogram_buckets for i in range(num_quantiles_histogram_buckets + 1)]
            ivl = F.when(F.col("__in_vocab") == 1, F.length("tok"))

            # Per-sequence rollup: effective length (minus excluded tokens), coverage,
            # avg in-vocab token length → sequence-length stats + reported sequences.
            n_excl = (
                F.sum(F.when(F.col("tok").isin(*excluded), 1).otherwise(0))
                if excluded
                else F.lit(0)
            )
            per_seq = tokens.groupBy("__sid").agg(
                (F.first("__slen") - n_excl).alias("eff_len"),
                (F.sum("__in_vocab") / F.count(F.lit(1))).alias("coverage"),
                F.avg(ivl).alias("avg_tok_len"),
            )

            # Reported sequences: 5 lowest by coverage, 5 lowest by avg token length
            # (TakeOrderedAndProject — a distributed top-k, not a global sort).
            def _bottom5(order_col):
                ids = [r["__sid"] for r in per_seq.orderBy(F.col(order_col).asc_nulls_last(), "__sid").limit(5).collect()]
                if not ids:
                    return []
                rows = seqs.where(F.col("__sid").isin(ids)).select("__sid", "__toks").collect()
                by_id = {r["__sid"]: list(r["__toks"]) for r in rows}
                return [by_id[i] for i in ids if i in by_id]

            # Token rank histogram: the engine's salted exact top-k on token
            # frequency, over one (slice, feature) key.
            from data_validation_spark.stats.engine import _salted_topk

            counts = tokens.groupBy(
                F.lit("").alias("slice_key"), F.lit("").alias("feature"),
                F.col("tok").alias("str_value"),
            ).agg(F.count(F.lit(1)).alias("cnt"))
            top_df = _salted_topk(counts, num_rank_histogram_buckets, {"rank": "cnt"})

            branches = {
                "stats.text.coverage": lambda: tokens.agg(
                    F.count(F.lit(1)).alias("total"),
                    F.sum("__in_vocab").alias("in_vocab"),
                    F.avg(ivl).alias("avg_tok_len"),
                    F.percentile_approx(ivl.cast("double"), qs, 10000).alias("tok_len_q"),
                ).collect()[0],
                "stats.text.sequences": lambda: per_seq.agg(
                    F.min("eff_len").alias("minlen"),
                    F.max("eff_len").alias("maxlen"),
                    F.percentile_approx(F.col("eff_len").cast("double"), qs, 10000).alias("len_q"),
                ).collect()[0],
                "stats.text.rank": top_df.collect,
                "stats.text.low_coverage": lambda: _bottom5("coverage"),
                "stats.text.low_token_length": lambda: _bottom5("avg_tok_len"),
            }
            if constrained_tokens:
                ct = tokens.where(F.col("tok").isin(*constrained_tokens))
                pos_bucket = F.least(
                    F.floor(F.col("__pos") / F.col("__slen") * num_histogram_buckets),
                    F.lit(num_histogram_buckets - 1),
                ).cast("int")
                per_tok_seq = ct.groupBy("tok", "__sid").agg(F.count(F.lit(1)).alias("occ"))
                branches["stats.text.tokens"] = per_tok_seq.groupBy("tok").agg(
                    F.sum("occ").alias("frequency"),
                    F.count(F.lit(1)).alias("num_sequences"),
                    F.min("occ").alias("min_per_seq"),
                    F.max("occ").alias("max_per_seq"),
                    F.avg("occ").alias("avg_per_seq"),
                ).collect
                branches["stats.text.positions"] = (
                    ct.groupBy("tok", pos_bucket.alias("bucket"))
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect
                )
            out = run_parallel(df.sparkSession, branches)
    cov_row, seq_row = out["stats.text.coverage"], out["stats.text.sequences"]
    total = int(cov_row["total"] or 0)
    in_vocab = int(cov_row["in_vocab"] or 0)

    # Per-token statistics for schema-constrained tokens (small set).
    token_statistics = {}
    if constrained_tokens:
        pos_hist: dict[str, dict[int, int]] = {}
        for r in out["stats.text.positions"]:
            pos_hist.setdefault(r["tok"], {})[int(r["bucket"])] = int(r["n"])
        for r in out["stats.text.tokens"]:
            token_statistics[r["tok"]] = {
                "frequency": int(r["frequency"]),
                "fraction_of_sequences": r["num_sequences"] / num_examples,
                "per_sequence_min_frequency": int(r["min_per_seq"]),
                "per_sequence_max_frequency": int(r["max_per_seq"]),
                "per_sequence_avg_frequency": float(r["avg_per_seq"]),
                "positions": pos_hist.get(r["tok"], {}),
            }
        for t in constrained_tokens:
            if t not in token_statistics:
                token_statistics[t] = {
                    "frequency": 0,
                    "fraction_of_sequences": 0.0,
                    "per_sequence_min_frequency": 0,
                    "per_sequence_max_frequency": 0,
                    "per_sequence_avg_frequency": 0.0,
                    "positions": {},
                }

    return {
        "num_examples": num_examples,
        "total_tokens": total,
        "num_position_buckets": num_histogram_buckets,
        "feature_coverage": in_vocab / total if total else 0.0,
        "avg_token_length": float(cov_row["avg_tok_len"] or 0.0),
        "token_length_quantiles": list(cov_row["tok_len_q"] or []),
        "min_sequence_length": int(seq_row["minlen"] or 0),
        "max_sequence_length": int(seq_row["maxlen"] or 0),
        "sequence_length_quantiles": list(seq_row["len_q"] or []),
        "rank_histogram": [
            {"rank": r["rank"], "label": r["str_value"], "sample_count": int(r["cnt"])}
            for r in sorted(out["stats.text.rank"], key=lambda r: r["rank"])
        ],
        "token_statistics": token_statistics,
        "reported_sequences": (
            [" ".join(s) for s in out["stats.text.low_coverage"]]
            + [" ".join(s) for s in out["stats.text.low_token_length"]]
        ),
    }


def attach_nl_token_stats(
    stats: DatasetStatsList, df: DataFrame, text_col: str, **kwargs
) -> dict:
    """Compute ``compute_nl_statistics_for_feature`` and stamp the result as
    the ``nl_statistics`` custom stat (the reference's custom-stat channel
    that ``UpdateNaturalLanguageDomain`` reads)."""
    nl = compute_nl_statistics_for_feature(df.sparkSession, df, text_col, **kwargs)
    for sl in stats.slices:
        fs = sl.features.get(text_col)
        if fs is not None:
            fs.custom["nl_statistics"] = nl
            fs.custom["nl_coverage"] = nl.get("feature_coverage")
    return nl


# ------------------------------------------------------- NL domain inference
def attach_nl_stats(
    stats: DatasetStatsList,
    df: DataFrame,
    text_col: str,
    sample_rate: Optional[float] = None,
) -> DatasetStatsList:
    """Avg-word-length NL heuristic over the column; attaches
    ``nl_match_fraction`` (+ ``domain_info`` when inferred) custom stats."""
    src = df.select(F.col(text_col))
    if sample_rate is not None and sample_rate < 1.0:
        src = src.sample(fraction=sample_rate, seed=42)
    awl = avg_token_length_col(text_col)
    matches = F.when(
        F.col(text_col).isNotNull()
        # AverageWordHeuristicNLClassifier parity
        # (natural_language_domain_inferring_stats_generator.py:40-42): at
        # least _MIN_WORDS_PER_VALUE=3 words AND avg word length in band.
        & (token_count_col(text_col) >= _MIN_WORDS_PER_VALUE)
        & (awl >= _AVG_WORD_MIN)
        & (awl <= _AVG_WORD_MAX),
        1,
    ).otherwise(0)
    row = src.agg(
        F.sum(matches).alias("matched"), F.count(F.col(text_col)).alias("considered")
    ).collect()[0]
    matched, considered = int(row["matched"] or 0), int(row["considered"] or 0)
    frac = matched / considered if considered else 0.0
    for sl in stats.slices:
        fs = sl.features.get(text_col)
        if fs is None:
            continue
        fs.custom["nl_match_fraction"] = frac
        if considered >= NL_MIN_EXAMPLES and frac >= NL_MATCH_FRACTION:
            fs.custom["domain_info"] = "natural_language_domain {}"
    return stats


# ------------------------------------------------ schema-resolved NL stats
def compute_nl_statistics_for_feature(
    spark,
    df: DataFrame,
    text_col: str,
    nl_domain=None,
    options=None,
    **kwargs,
):
    """Run :func:`compute_nl_statistics` with the vocabulary resolved from
    the schema: ``nl_domain.vocabulary`` names a vocab whose file path comes
    from ``StatsOptions.vocab_paths`` (stats_impl.py:370-379 →
    natural_language_stats_generator.py:597-599). The file loads through
    ``io/vocab.load_vocab`` (text or GZIP TFRecord) and joins broadcast.

    Token constraints declared on the domain become ``constrained_tokens``.
    Without a domain this is plain :func:`compute_nl_statistics`.
    """
    vocab_df = kwargs.pop("vocab", None)
    vocab_paths = getattr(options, "vocab_paths", None) if options else None
    name = getattr(nl_domain, "vocabulary", None) if nl_domain else None
    if name:
        if not vocab_paths or name not in vocab_paths:
            raise ValueError(
                f"Schema names vocabulary {name!r} but StatsOptions.vocab_paths "
                "does not provide a path for it."
            )
        from data_validation_spark.io.vocab import read_vocab_df

        vocab_df = read_vocab_df(spark, vocab_paths[name])
    constrained = kwargs.pop("constrained_tokens", None)
    if constrained is None and nl_domain is not None:
        constrained = [
            t.value for t in getattr(nl_domain, "token_constraints", []) if t.value
        ] or None
    return compute_nl_statistics(
        df, text_col, vocab=vocab_df, constrained_tokens=constrained, **kwargs
    )
