"""Deterministic stratified sampling — the corpus-subsampling step a
training-data pipeline runs to rebalance sources/languages (e.g. CCNet's
per-language budgets, The Pile's per-subset epochs).

Why not ``DataFrame.sample``: Spark's sample() draws per-partition from a
seeded RNG stream, so its OUTPUT DEPENDS ON PARTITIONING — the same call
over the same rows repartitioned differently (or read from a differently
split file set) selects different rows. At 100 TB, where file splits
change with cluster config, that is not reproducible. The fix is
content-hash thresholding: keep a row iff ``bucket(hash(key)) <
rate * n_buckets`` — a pure function of the row, independent of
partitioning, executor count, and row order; re-runs and resumes select
the identical subset, and the selection composes with dedup (a kept key
is kept everywhere).

The bucket is the first three hex nibbles of md5(key) (4096 buckets —
rate granularity 1/4096), chosen because md5 is native in BOTH engines so
the DuckDB twin reproduces the selection bit-for-bit (xxhash64 would be
faster JVM-side but has no DuckDB counterpart; swap it in production if
oracle parity is not needed). Per-stratum rates ride a broadcast join of
the tiny rates table — never a shuffle of the corpus.

Dual-dialect twin: driver_queries.duck_sql_for("stratified_sample");
tests/test_module_oracle_parity pins this module to the twin's rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

N_BUCKETS = 4096


def hash_bucket(key) -> "F.Column":
    """Deterministic 0..4095 bucket from the md5 hex prefix of `key` —
    engine-portable (conv() the first 3 hex chars; DuckDB twin rebuilds
    the same value from per-nibble strpos arithmetic)."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 3), 16, 10).cast("int")


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    key_col: str = "doc_id",
    stratum_col: str = "source",
    default_rate: float = 0.0,
) -> DataFrame:
    """Rows of `df` whose hash bucket falls under their stratum's rate.
    Strata absent from `rates` sample at `default_rate` (0.0 = drop —
    the explicit-allowlist behavior a curation pipeline wants)."""
    spark = SparkSession.getActiveSession()
    rates_df = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(rates.items())],
        f"{stratum_col} string, rate double",
    )
    return (
        df.join(F.broadcast(rates_df), stratum_col, "left")
        .withColumn("rate", F.coalesce(F.col("rate"), F.lit(float(default_rate))))
        .where(hash_bucket(F.col(key_col)) < F.col("rate") * N_BUCKETS)
        .drop("rate")
    )


def mixture_rates(
    df: DataFrame,
    stratum_col: str = "lang",
    alpha: float = 0.5,
    budget: int | None = None,
) -> DataFrame:
    """Temperature-rebalanced per-stratum target rates (the multilingual
    mixture rule of XLM-R / mC4): q_s ∝ (n_s/N)^alpha flattens the raw
    distribution toward uniform as alpha→0; rate_s = min(1, budget·q_s/n_s)
    converts the mixture into per-stratum keep rates for `budget` total
    rows (budget=None ⇒ N, pure reweighting).

    One groupBy over the corpus; everything after runs on the ≤|strata|-row
    counts frame, so the unpartitioned windows are model-sized, never
    corpus-sized (the lm.py precedent). With the default alpha=0.5 the
    power is sqrt — IEEE-correctly-rounded, so the DuckDB twin reproduces
    q bit-for-bit before the 6-digit rounding that guards the remaining
    20-term sum-order ulps.
    """
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy()  # counts-frame only: ≤ |strata| rows
    pow_p = (
        F.sqrt(F.col("p")) if alpha == 0.5 else F.pow(F.col("p"), F.lit(float(alpha)))
    )
    scored = (
        counts.withColumn("p", F.col("n_docs") / F.sum("n_docs").over(w))
        .withColumn("pa", pow_p)
        .withColumn("q", F.round(F.col("pa") / F.sum("pa").over(w), 6))
    )
    if budget is None:
        budget_col = F.sum("n_docs").over(w)
    else:
        budget_col = F.lit(int(budget))
    return scored.select(
        stratum_col,
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("q").cast("double").alias("q"),
        F.least(
            F.lit(1.0),
            F.round(F.col("pa") / F.sum("pa").over(w) * budget_col / F.col("n_docs"), 6),
        )
        .cast("double")
        .alias("rate"),
    )


def temperature_sample(
    df: DataFrame,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    alpha: float = 0.5,
    budget: int | None = None,
) -> DataFrame:
    """Compose mixture_rates with the hash-threshold selection: rows kept
    iff bucket(key) < floor(rate·4096). The rates frame is |strata| rows —
    broadcast — so the corpus is scanned twice (once for counts, once for
    the filter) and never shuffled."""
    rates = mixture_rates(df, stratum_col, alpha, budget).select(stratum_col, "rate")
    return (
        df.join(F.broadcast(rates), stratum_col, "inner")
        .where(hash_bucket(F.col(key_col)) < F.floor(F.col("rate") * N_BUCKETS))
        .drop("rate")
    )


def _gram_counts(df: DataFrame, id_col: str, text_col: str, per_doc: bool) -> DataFrame:
    """Hashed unigram+word-bigram feature counts (DSIR's bag-of-hashed-
    ngrams): per (doc_id, bucket) when per_doc else per bucket. Buckets are
    the first two md5 hex nibbles of the gram (0..255) — engine-portable
    (the classifier_score precedent). Staged columns, not one nested
    expression: conditionals inside HOF chains defeat Catalyst CSE."""
    ws = df.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("ws")
    )
    grams = ws.select(
        "doc_id",
        F.explode(
            F.concat(
                F.col("ws"),
                F.when(
                    F.size("ws") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("ws") - 1),
                        lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i, 2)),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("g"),
    )
    b = grams.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("g")), 1, 2), 16, 10).cast("int").alias("b"),
    )
    if per_doc:
        return b.groupBy("doc_id", "b").agg(F.count("*").cast("double").alias("n"))
    return b.groupBy("b").agg(F.count("*").cast("double").alias("c"))


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): fit add-one-smoothed
    bag-of-hashed-ngrams models on the `target` (the distribution you want
    more of) and on `raw`, then score every raw document with
    lw = sum_b n_doc[b] * (ln p_target[b] - ln p_raw[b]), rounded to 4
    (the lm_perplexity cross-engine contract for per-doc float sums).
    Returns (doc_id, lw).

    Spark shape / 100 TB notes:
      * both models are ONE groupBy each over the gram stream with map-side
        combine — the shuffled state is <= n_buckets rows per partition,
        and the fitted model is a <= 256-row frame regardless of corpus
        size;
      * the log-ratio table joins to per-doc counts as a BROADCAST (the
        canonical tiny-dim join); the only corpus-sized shuffle is the
        per-doc bucket groupBy, keyed on (doc_id, bucket) — uniform;
      * totals over the model frames are windows over <= 256 rows, never
        corpus windows.

    Reference parity note: no counterpart in the reference (per-record
    loop); training-data family, SURVEY §2c sampling. Oracle: dual-dialect
    `dsir_select` twin; module==twin pinned in
    tests/test_module_oracle_parity.py."""
    rawm = _gram_counts(raw, id_col, text_col, per_doc=False)
    tgtm = _gram_counts(target, id_col, text_col, per_doc=False).withColumnRenamed(
        "c", "ct"
    )
    wall = Window.partitionBy()  # model frames only: <= n_buckets rows
    joined = (
        rawm.join(tgtm, "b", "left")
        .withColumn("ct", F.coalesce(F.col("ct"), F.lit(0.0)))
        .withColumn("t_tot", F.sum("ct").over(wall))
        .withColumn("r_tot", F.sum("c").over(wall))
    )
    lam = joined.select(
        "b",
        (
            F.log((F.col("ct") + 1) / (F.col("t_tot") + float(n_buckets)))
            - F.log((F.col("c") + 1) / (F.col("r_tot") + float(n_buckets)))
        ).alias("lam"),
    )
    pd_counts = _gram_counts(raw, id_col, text_col, per_doc=True)
    return pd_counts.join(F.broadcast(lam), "b").groupBy("doc_id").agg(
        F.round(F.sum(F.col("n") * F.col("lam")), 4).alias("lw")
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR selection: the deterministic top-k variant — rank by
    (lw desc, doc_id) and keep the first k (the paper adds Gumbel noise
    for sampled-without-replacement selection; with a fixed seed that is a
    per-row noise column added to lw — the machinery is identical).
    Returns (doc_id, lw, selected) for EVERY raw document.

    Scale shape: top-k is orderBy().limit(k) — planned as
    TakeOrderedAndProject (per-partition top-k, then a k-row merge), never
    a global sort; membership comes back as a BROADCAST left join of the
    k-row id set, so no corpus shuffle is added beyond dsir_weights'."""
    w = dsir_weights(raw, target, id_col, text_col)
    top = (
        w.orderBy(F.desc("lw"), "doc_id")
        .limit(k)
        .select("doc_id", F.lit(True).alias("_sel"))
    )
    return w.join(F.broadcast(top), "doc_id", "left").select(
        "doc_id",
        "lw",
        F.coalesce(F.col("_sel"), F.lit(False)).alias("selected"),
    )
