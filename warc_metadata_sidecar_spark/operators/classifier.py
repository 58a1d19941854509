"""Hashed-bag-of-words linear classifier scoring — the fastText-shaped
quality-classifier stage a modern curation pipeline runs at corpus scale
(DCLM's fastText filter, RedPajama-v2's quality signals).

Model = a WEIGHT TABLE over hashed token buckets (+ bias): score(doc) =
sigmoid(bias + mean_{w in doc} weight[bucket(w)]) — fastText's linear
bag-of-features with mean pooling. Training happens offline (tiny model);
scoring at 100 TB is the Spark job, and it is shaped like this:

  explode words -> hash to bucket (pure expression)
    -> groupBy (doc_id, bucket) count        [map-side combinable:
       the shuffle carries per-doc DISTINCT buckets, not positions]
    -> broadcast-join the |buckets|-row weight table
    -> one weighted groupBy(doc_id) sum -> sigmoid

No UDFs, two map-side-combined aggregations, the model rides a broadcast.
The token hash is the md5-nibble bucket from operators/sampling.py, so
the DuckDB twin reproduces bucket assignment bit-for-bit; sigmoid is
exp-based and identical per-IEEE in both engines after 6-digit rounding.

Dual-dialect twin: driver_queries.duck_sql_for("classifier_score");
tests/test_classifier.py pins module == twin and the plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.operators.sampling import hash_bucket

N_FEATURE_BUCKETS = 256


def feature_bucket(word) -> "F.Column":
    """Token -> 0..255 feature id (md5 first-two-nibble bucket — engine-
    portable, collision-folding by construction like fastText's hashing
    trick)."""
    return F.conv(F.substring(F.md5(word), 1, 2), 16, 10).cast("int")


def score_documents(
    docs: DataFrame,
    weights: dict[int, float],
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_words, score): sigmoid(bias + mean hashed-bucket weight).
    Buckets absent from `weights` contribute 0.0 (an untrained feature —
    fastText's OOV behavior under the hashing trick is 'some bucket',
    here explicitly zero-weighted)."""
    spark = SparkSession.getActiveSession()
    wdf = spark.createDataFrame(
        [(int(k), float(v)) for k, v in sorted(weights.items())],
        "bucket int, w double",
    )
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).withColumn("bucket", feature_bucket(F.col("word")))
    per_bucket = words.groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    scored = (
        per_bucket.join(F.broadcast(wdf), "bucket", "left")
        .withColumn("w", F.coalesce(F.col("w"), F.lit(0.0)))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("w")).alias("acc"),
        )
    )
    z = F.lit(float(bias)) + F.col("acc") / F.col("n_words")
    return scored.select(
        id_col,
        "n_words",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
    )


def train_linear_classifier(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = 3,
    eta: float = 0.5,
    max_train: int = 4096,
) -> tuple[dict[int, float], float]:
    """Distributed full-batch trainer for the hashed-BoW linear classifier
    (the step that PRODUCES score_documents' weight table — DCLM/RedPajama
    train their fastText quality filters exactly this way: a bounded
    labeled sample, a tiny linear model, then corpus-scale scoring).

    Gradient descent from zero weights: z = bias + sum_b x_b w_b with
    x_b = cnt_b / n_words (mean pooling), p = 0.5 + 0.5*z/(1+|z|) (the
    algebraic fast-sigmoid surrogate — +,-,*,/,| | only, every step an
    IEEE-correctly-rounded operation, so training is PROVABLY bit-identical
    across engines and re-runs; libm's exp is not correctly rounded, which
    would make an iterated trainer drift by ulps between JVM and CPython —
    scoring keeps the true sigmoid where one rounding at the end suffices),
    err = p - y, g_b = fold(sorted errs*x_b)/N, w -= eta*g.

    Spark shape / 100 TB notes:
      * training runs on a deterministic md5-hash sample bounded to
        ~max_train docs (the ivf_train_centroids discipline — classifier
        training data is bounded by labeling budget anyway), materialized
        ONCE as a localCheckpoint; iterations scan only that;
      * per-doc features ride ONE array column, so each iteration is a
        single job: explode -> groupBy(bucket) -> collect of <= 257 rows;
        the weight vector travels as a literal array (driver state, like
        Lloyd centroids);
      * per-bucket gradient folds sort their operand lists — collect_list
        is sample-bounded (<= N per bucket), the r5 sorted-fold rule that
        makes accumulation order-independent.

    Returns (weights dict bucket->w, bias) — feed straight into
    score_documents. Dual twin: driver_queries._classifier_train_twin
    re-trains sequentially and must match bit-for-bit pre-rounding."""
    n = docs.count()
    sample_mod = max(1, -(-n // max_train))
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).cast("double").alias("y"),
        F.split(F.col(text_col), " ").alias("ws"),
    )
    if sample_mod > 1:
        d = d.filter(
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % sample_mod == 0
        )
    words = d.select(
        "doc_id", "y", F.explode("ws").alias("word")
    ).withColumn("bucket", feature_bucket(F.col("word")))
    feats = (
        words.groupBy("doc_id", "y", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id", "y")
        .agg(
            F.sum("cnt").cast("double").alias("n_words"),
            F.array_sort(F.collect_list(F.struct("bucket", "cnt"))).alias("fb"),
        )
        .localCheckpoint(eager=True)
    )
    n_train = feats.count()
    w = [0.0] * N_FEATURE_BUCKETS
    bias = 0.0
    for _ in range(iters):
        # one py4j call for the whole weight vector (256 F.lit calls cost
        # ~0.3s of driver time per iteration); identical array literal
        wlit = F.lit(w)
        prods = F.transform(
            F.col("fb"),
            lambda s: (s["cnt"].cast("double") / F.col("n_words"))
            * F.element_at(wlit, s["bucket"] + 1),
        )
        z = F.lit(bias) + F.aggregate(
            F.array_sort(prods), F.lit(0.0), lambda acc, v: acc + v
        )
        p = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
        scored = feats.withColumn("err", p - F.col("y"))
        grad_rows = scored.select(
            F.explode(
                F.concat(
                    F.transform(
                        F.col("fb"),
                        lambda s: F.struct(
                            s["bucket"].alias("bucket"),
                            (
                                F.col("err")
                                * (s["cnt"].cast("double") / F.col("n_words"))
                            ).alias("v"),
                        ),
                    ),
                    F.array(
                        F.struct(
                            F.lit(-1).alias("bucket"), F.col("err").alias("v")
                        )
                    ),
                )
            ).alias("g")
        ).select(F.col("g.bucket").alias("bucket"), F.col("g.v").alias("v"))
        grads = (
            grad_rows.groupBy("bucket")
            .agg(
                (
                    F.aggregate(
                        F.array_sort(F.collect_list("v")),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                    / F.lit(float(n_train))
                ).alias("g")
            )
            .collect()
        )
        for r in grads:
            if r.bucket == -1:
                bias = bias - eta * r.g
            else:
                w[r.bucket] = w[r.bucket] - eta * r.g
    return {b: x for b, x in enumerate(w) if x != 0.0}, bias
