"""Character n-gram language-model quality scoring (the CCNet-style
perplexity gate a training-data pipeline runs between dedup and curation:
low-perplexity-under-a-corpus-LM text is fluent, high-perplexity text is
boilerplate/gibberish — cf. Wenzek et al., "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data", LREC 2020).

Spark-first shape, fully native (no UDFs anywhere):

- **train**: one pass over the corpus — explode character bigrams
  (`transform(sequence(...))` + `explode`, whole-stage codegen) and
  groupBy-count. Map-side partial aggregation collapses each partition to
  its distinct-bigram counts before the shuffle, so shuffle volume is
  O(partitions x V^2), not O(corpus chars); the trained model is <= V^2
  rows (V = normalized charset, 27 here) regardless of corpus size.
- **score**: per-document distinct-bigram counts (again collapsed
  map-side, so the (doc_id, bigram) shuffle carries <= V^2 rows per doc,
  not one row per character) joined against the *broadcast* model — the
  model is a trained artifact of bounded size, the canonical broadcast-
  small-dim case — then one groupBy(doc_id) weighted log-sum.

Add-one (Laplace) smoothing over the observed vocabulary:
P(c2|c1) = (count(c1c2) + 1) / (count(c1.) + V). Documents whose
normalized text has < 2 characters have no bigrams and drop out of the
scored output (documented; the SQL twin drops them identically).

The dual-dialect SQL twin is driver_queries.duck_sql_for("lm_perplexity");
tests/test_module_oracle_parity.py pins this module to the twin's rows.

r7 adds the WORD-level counterpart: a stupid-backoff trigram LM
(train_backoff_lm / score_backoff_lm / stupid_backoff — Brants et al.
2007). Unlike the bounded char model it is vocabulary-scaled, so the
scoring path never broadcast-hints it: the five per-position lookups
melt to (role, gram) rows and take one gram-key join. Twin:
driver_queries.duck_sql_for("lm_backoff") (held-out split exercising all three
backoff branches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# bigram positions of the normalized text column `t` (callers guarantee
# length(t) >= 2 — sequence() would run DESCENDING on len-1 < 1)
_BIGRAMS = "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"


def normalize_for_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id + `t`: lowercased, non-[a-z ] squashed to spaces, runs of
    spaces collapsed, trimmed — a 27-char alphabet keeps the bigram model
    <= 729 rows at any corpus size. Rows with < 2 normalized chars (no
    bigrams) are dropped here so downstream sequence() bounds are valid."""
    t = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z ]", " "), " +", " "
        )
    )
    return df.select("doc_id", t.alias("t")).where(F.length("t") >= 2)


def train_char_lm(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus bigram counts: one row per distinct bigram `b` with its count
    `c`, the context total `tot` (count of bigrams starting with b[0]) and
    the observed vocabulary size `v` — everything score_char_lm needs, in
    one <= V^2-row DataFrame. The corpus is scanned exactly ONCE (the
    explode + groupBy); ctx totals and vocab size are windows over the
    already-tiny counts table rather than self-joins, so no branch of the
    plan re-derives the corpus explode."""
    from pyspark.sql import Window

    bg = (
        normalize_for_lm(docs, text_col)
        .select(F.explode(F.expr(_BIGRAMS)).alias("b"))
    )
    counts = bg.groupBy("b").agg(F.count(F.lit(1)).cast("double").alias("c"))
    wctx = Window.partitionBy("c1")
    # <= V^2 rows total: the single-partition window is a deliberate
    # all-rows-in-one-task step over the MODEL, never over the corpus
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        counts.withColumn("c1", F.substring("b", 1, 1))
        .withColumn("c2", F.substring("b", 2, 1))
        .select(
            "b",
            "c",
            F.sum("c").over(wctx).alias("tot"),
            F.size(
                F.array_distinct(
                    F.flatten(F.collect_list(F.array("c1", "c2")).over(wall))
                )
            )
            .cast("double")
            .alias("v"),
        )
    )


def score_char_lm(
    docs: DataFrame, lm: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-document bits-per-char under the trained model: doc_id,
    n_bigrams, bits_per_char (= -avg log2 P, rounded to 4 decimals; the
    perplexity is 2^bits_per_char). Unseen bigrams/contexts smooth to
    (0+1)/(0+V). The lm side is explicitly broadcast — it is a bounded
    trained artifact (<= V^2 rows), never corpus-sized."""
    doc_bg = (
        normalize_for_lm(docs, text_col)
        .select("doc_id", F.explode(F.expr(_BIGRAMS)).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    logp = F.log2(
        (F.coalesce(F.col("c"), F.lit(0.0)) + 1)
        / (F.coalesce(F.col("tot"), F.lit(0.0)) + F.col("v"))
    )
    joined = doc_bg.join(F.broadcast(lm), "b", "left")
    # a fully-unseen bigram has NULL v from the left join: recover it from
    # any model row via a 1-row broadcast of the constant
    vconst = lm.agg(F.first("v", ignorenulls=True).alias("v_const"))
    return (
        joined.crossJoin(F.broadcast(vconst))
        .withColumn("v", F.coalesce(F.col("v"), F.col("v_const")))
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_bigrams"),
            F.round(-F.sum(F.col("n") * logp) / F.sum("n"), 4).alias(
                "bits_per_char"
            ),
        )
    )


def lm_perplexity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Train on the corpus, score the corpus (the CCNet self-scoring
    arrangement): doc_id, n_bigrams, bits_per_char ordered by doc_id.
    The trained model (<= V^2 rows of bounded state, like IVF centroids)
    is cached so its two score-side references (the broadcast join and the
    v-constant) cost one materialization, and the corpus text is scanned
    exactly twice: once to train, once to score."""
    lm = train_char_lm(docs, text_col).cache()
    return score_char_lm(docs, lm, text_col).orderBy("doc_id")


def normalize_words(df: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id + `ws`: the char-LM normalization ([a-z ] squash, space
    collapse, trim) then a whitespace split. Empty normalized docs drop
    (split('') would emit a phantom '' token)."""
    t = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z ]", " "), " +", " "
        )
    )
    return (
        df.select("doc_id", t.alias("t"))
        .where(F.length("t") >= 1)
        .select("doc_id", F.split("t", " ").alias("ws"))
    )


def train_backoff_lm(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Word n-gram counts for orders 1-3 in ONE corpus scan: each word
    position emits its unigram plus (bounds permitting) the bigram and
    trigram starting there — one flatten(transform(...)) generator, one
    map-side-combined groupBy. The gram string's space count encodes its
    order, so a single (g, c) table serves all three.

    Unlike the 27-char bigram model (train_char_lm), this model is
    VOCABULARY-scaled — O(distinct n-grams), billions of rows on web-scale
    text — so nothing here collects or broadcasts it: scoring joins on the
    gram key (shuffle, co-partitioned), the standard shape for
    corpus-sized LM artifacts (cf. Brants et al. 2007, 'Large Language
    Models in Machine Translation' — distributed stupid backoff)."""
    base = normalize_words(docs, text_col)
    grams = base.select(
        F.explode(
            F.expr(
                """
                flatten(transform(sequence(1, size(ws)), i -> concat(
                  array(element_at(ws, i)),
                  IF(i + 1 <= size(ws),
                     array(concat_ws(' ', slice(ws, i, 2))), array()),
                  IF(i + 2 <= size(ws),
                     array(concat_ws(' ', slice(ws, i, 3))), array()))))
                """
            )
        ).alias("g")
    )
    return grams.groupBy("g").agg(F.count(F.lit(1)).cast("double").alias("c"))


def score_backoff_lm(
    docs: DataFrame, lm: DataFrame, text_col: str = "text", alpha: float = 0.4
) -> DataFrame:
    """Stupid-backoff trigram scoring (Brants et al. 2007): per trigram
    position, S = c3/c_ctx if the trigram is attested, else alpha *
    c23/c_u2 if the (w2 w3) bigram is, else alpha^2 * Laplace unigram
    ((c_u3+1)/(N+V) — the floor keeps held-out scores finite where pure
    stupid backoff emits 0). Returns doc_id, n_tri, nll_per_tok
    (= -avg ln S, round-4). Docs with < 3 normalized words drop.

    Scale shape: the 5 lookups each position needs (tri, context-bi,
    backoff-bi, 2 unigrams) MELT to (role, gram) rows and take ONE
    join against the model on the gram key — never broadcast-HINTED
    (the model is corpus-vocabulary-sized; the optimizer may still
    choose broadcast while it fits under the threshold, and past that
    AQE falls back to the shuffle join this shape is built for) and
    never five separate joins; a (doc_id, pos) regroup pivots the hits
    back, then one doc-level aggregation. Every exchange is linear in
    corpus tokens."""
    base = normalize_words(docs, text_col).where(F.expr("size(ws) >= 3"))
    keys = base.select(
        "doc_id",
        F.expr("explode(sequence(1, size(ws) - 2))").alias("i"),
        "ws",
    ).select(
        "doc_id",
        "i",
        F.expr("concat_ws(' ', slice(ws, i, 3))").alias("k3"),
        F.expr("concat_ws(' ', slice(ws, i, 2))").alias("kcx"),
        F.expr("concat_ws(' ', slice(ws, i + 1, 2))").alias("kb2"),
        F.expr("element_at(ws, i + 1)").alias("ku2"),
        F.expr("element_at(ws, i + 2)").alias("ku3"),
    )
    roles = (("t3", "k3"), ("cx", "kcx"), ("b2", "kb2"), ("u2", "ku2"), ("u3", "ku3"))
    melted = keys.select(
        "doc_id",
        "i",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("role"), F.col(k).alias("g"))
                    for r, k in roles
                ]
            )
        ).alias("kv"),
    ).select("doc_id", "i", F.col("kv.role").alias("role"), F.col("kv.g").alias("g"))
    per_pos = (
        melted.join(lm, "g", "left")
        .groupBy("doc_id", "i")
        .agg(
            *[
                F.max(F.when(F.col("role") == r, F.col("c"))).alias(f"c_{r}")
                for r, _ in roles
            ]
        )
    )
    # N (total tokens) and V (vocabulary) from the model's unigram rows —
    # a 1-row aggregate, the only broadcast-sized artifact here
    nv = lm.where(~F.col("g").contains(" ")).agg(
        F.sum("c").alias("n_tok"), F.count(F.lit(1)).cast("double").alias("v")
    )
    s = (
        F.when(F.col("c_t3").isNotNull(), F.col("c_t3") / F.col("c_cx"))
        .when(
            F.col("c_b2").isNotNull(),
            F.lit(alpha) * F.col("c_b2") / F.col("c_u2"),
        )
        .otherwise(
            F.lit(alpha)
            * F.lit(alpha)
            * (F.coalesce(F.col("c_u3"), F.lit(0.0)) + 1)
            / (F.col("n_tok") + F.col("v"))
        )
    )
    return (
        per_pos.crossJoin(F.broadcast(nv))
        .select("doc_id", s.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.round(-F.sum(F.log("s")) / F.count(F.lit(1)), 4).alias("nll_per_tok"),
        )
    )


def stupid_backoff(
    train_docs: DataFrame,
    query_docs: DataFrame,
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Train on one corpus, score another (the held-out arrangement that
    actually exercises all three backoff branches). The model feeds two
    consumers (the gram join and the 1-row N/V aggregate), so it is
    persisted once; at real scale it would be a written table."""
    lm = train_backoff_lm(train_docs, text_col).persist()
    return score_backoff_lm(query_docs, lm, text_col, alpha).orderBy("doc_id")


def perplexity_buckets(
    docs: DataFrame, text_col: str = "text", approx: bool = False
) -> DataFrame:
    """CCNet head/middle/tail buckets: docs ranked by bits_per_char and
    cut into terciles. approx=False (the oracle twin) uses an exact
    global ntile over (rounded score, doc_id) — the honest shape at test
    scale. approx=True is the 100 TB form: TWO threshold scalars from
    approxQuantile, then a native CASE per row — no global sort, no
    single-partition window; bucket labels match the exact path except
    for docs tied at the cut points."""
    from pyspark.sql import Window

    scored = lm_perplexity(docs, text_col).select("doc_id", "bits_per_char")
    if approx:
        t1, t2 = scored.approxQuantile("bits_per_char", [1 / 3, 2 / 3], 0.001)
        return scored.withColumn(
            "bucket",
            F.when(F.col("bits_per_char") <= t1, "head")
            .when(F.col("bits_per_char") <= t2, "middle")
            .otherwise("tail"),
        )
    w = Window.orderBy("bits_per_char", "doc_id")
    return (
        scored.withColumn("nt", F.ntile(3).over(w))
        .withColumn(
            "bucket",
            F.when(F.col("nt") == 1, "head")
            .when(F.col("nt") == 2, "middle")
            .otherwise("tail"),
        )
        .drop("nt")
    )
