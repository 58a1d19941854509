"""Intra-document repetition filters (the Gopher curation rules: Rae et
al. 2021, "Scaling Language Models: Methods, Analysis & Insights from
Training Gopher", App. A1.1) — the standard quality gate a training-data
pipeline runs alongside dedup and the LM perplexity gate.

Signals (word-fraction adaptation of the paper's character-fraction
rules, thresholds kept at the paper's values — documented deviation):

- ``top2_frac``: occurrences of the most frequent word 2-gram / total
  2-grams (paper rule: drop > 0.20 — boilerplate/navigation pages).
- ``dup5_frac``: fraction of word 5-grams that are repeats of an earlier
  5-gram, 1 - distinct/total (paper rule: drop > 0.15 — templated spam).
- ``keep``: both thresholds pass.

Spark-first shape: position explode (whole-stage codegen) -> groupBy
(doc_id, gram) with map-side partial aggregation — duplicate grams
collapse within each partition, so the shuffle carries per-doc DISTINCT
grams, not per-position rows — then one groupBy(doc_id) rollup per leg
and a doc_id-co-partitioned join (both sides exit their aggregation
hash-partitioned by doc_id, so AQE reuses the exchange). No UDFs, no
per-doc quadratic HOFs.

Documents with < 5 words have no 5-grams and are dropped from the output
(the SQL twin drops them identically). The dual-dialect twin is
driver_queries.duck_sql_for("gopher_repetition"); tests/test_module_oracle_parity
pins this module to the twin's rows.
"""

from __future__ import annotations

import pandas as pd  # module-scope: pandas_udf resolves 'pd.Series' hints here

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOP2_MAX = 0.20
DUP5_MAX = 0.15


def _gram_positions(n: int) -> str:
    """Positions column for word n-grams of the `ws` array (callers
    guarantee size(ws) >= n, so the sequence() bound is ascending)."""
    return f"transform(sequence(1, size(ws) - {n - 1}), i -> concat_ws(' ', slice(ws, i, {n})))"


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, n_words, top2_frac, dup5_frac, keep — the Gopher repetition
    gate over whitespace words."""
    w = docs.select(
        "doc_id", F.split(F.col(text_col), " ").alias("ws")
    ).where(F.size("ws") >= 5)

    g2 = (
        w.select("doc_id", F.explode(F.expr(_gram_positions(2))).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n2"),
            F.max("cnt").alias("m2"),
        )
    )
    g5 = (
        w.select("doc_id", F.explode(F.expr(_gram_positions(5))).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n5"),
            F.count(F.lit(1)).cast("double").alias("d5"),
        )
    )
    nw = w.select("doc_id", F.size("ws").cast("bigint").alias("n_words"))
    top2 = F.round(F.col("m2") / F.col("n2"), 4)
    dup5 = F.round(1 - F.col("d5") / F.col("n5"), 4)
    return (
        nw.join(g2, "doc_id")
        .join(g5, "doc_id")
        .select(
            "doc_id",
            "n_words",
            top2.alias("top2_frac"),
            dup5.alias("dup5_frac"),
            ((top2 <= TOP2_MAX) & (dup5 <= DUP5_MAX)).alias("keep"),
        )
        .orderBy("doc_id")
    )


# --- Gopher document-level rules (Rae et al. 2021 App. A1, the
# non-repetition half) ---------------------------------------------------

WC_MIN, WC_MAX = 50, 100_000
MWL_MIN, MWL_MAX = 3.0, 10.0
SYMBOL_MAX = 0.10
BULLET_MAX = 0.90
ELLIPSIS_MAX = 0.30
ALPHA_MIN = 0.80
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
STOP_MIN = 2


def document_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
    ellipsis_frac, alpha_frac, n_stop, keep — the Gopher document-quality
    gate. Every signal is a native expression over one scan (no shuffle at
    all: the whole thing is a projection), and every ratio is a quotient
    of two integers — one IEEE division, so thresholds are engine-stable.

    Staged as named columns (ws/lines first, then counts, then ratios) so
    Catalyst CSE shares the split arrays across the dependent expressions
    instead of re-deriving them inside each conditional.
    """
    nstop = None
    for w in STOPWORDS:
        c = F.when(F.array_contains(F.col("ws"), w), 1).otherwise(0)
        nstop = c if nstop is None else nstop + c
    arrs = docs.select(
        "doc_id",
        F.col(text_col).alias("text"),
        F.split(F.col(text_col), r"\s+").alias("ws"),
        F.split(F.col(text_col), r"\n").alias("lines"),
    )
    counts = arrs.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.length(F.regexp_replace("text", r"\s", "")).alias("sum_wl"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "#", ""))
            + F.size(F.expr(r"regexp_extract_all(text, '\\.\\.\\.', 0)"))
        ).alias("n_sym"),
        F.size("lines").alias("n_lines"),
        F.size(F.expr("filter(lines, l -> l like '- %' or l like '* %')")).alias("n_bullet"),
        F.size(F.expr("filter(lines, l -> l like '%...')")).alias("n_ell"),
        F.size(F.expr("filter(ws, w -> w rlike '[a-zA-Z]')")).alias("n_alpha"),
        nstop.cast("int").alias("n_stop"),
    )
    mwl = F.col("sum_wl") / F.col("n_words")
    symr = F.col("n_sym") / F.col("n_words")
    bulletf = F.col("n_bullet") / F.col("n_lines")
    ellf = F.col("n_ell") / F.col("n_lines")
    alphaf = F.col("n_alpha") / F.col("n_words")
    keep = (
        F.col("n_words").between(WC_MIN, WC_MAX)
        & (mwl >= MWL_MIN) & (mwl <= MWL_MAX)
        & (symr <= SYMBOL_MAX)
        & (bulletf <= BULLET_MAX)
        & (ellf <= ELLIPSIS_MAX)
        & (alphaf >= ALPHA_MIN)
        & (F.col("n_stop") >= STOP_MIN)
    )
    return counts.select(
        "doc_id",
        "n_words",
        F.round(mwl, 4).alias("mean_word_len"),
        F.round(symr, 4).alias("symbol_ratio"),
        F.round(bulletf, 4).alias("bullet_frac"),
        F.round(ellf, 4).alias("ellipsis_frac"),
        F.round(alphaf, 4).alias("alpha_frac"),
        "n_stop",
        keep.alias("keep"),
    )


# --- C4 heuristics (Raffel et al. 2020 §2.2) ----------------------------

C4_MIN_SENTENCES = 5
# placeholder tokens for the public "bad words" blocklist — shipping the
# real list verbatim would mean embedding slurs; the mechanism (word-level
# page drop) is what's under test, swap the tuple in production
C4_BLOCKLIST = ("badword1", "badword2")

_C4_LINE_KEEP = (
    "filter(lines, l -> (l like '%.' or l like '%!' or l like '%?' "
    "or l like '%\"') and size(split(l, ' ')) >= 3 "
    "and not lower(l) like '%javascript%')"
)


def c4_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, n_lines, n_kept_lines, n_sentences, has_lorem, has_brace,
    has_blockword, keep — the C4 page gate. Line retention (terminal
    punctuation, >=3 words, no 'javascript') and every page rule are
    native expressions over one scan; zero shuffle."""
    arrs = docs.select(
        "doc_id",
        F.col(text_col).alias("text"),
        F.split(F.col(text_col), r"\n").alias("lines"),
    ).withColumn("kept", F.expr(_C4_LINE_KEEP))
    kt = F.coalesce(F.array_join("kept", " "), F.lit(""))
    low = F.lower(F.col("text"))
    block = None
    for w in C4_BLOCKLIST:
        c = low.like(f"%{w}%")
        block = c if block is None else block | c
    staged = arrs.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size("kept").cast("long").alias("n_kept_lines"),
        (
            (F.length(kt) - F.length(F.expr("replace(coalesce(array_join(kept, ' '), ''), '.', '')")))
            + (F.length(kt) - F.length(F.expr("replace(coalesce(array_join(kept, ' '), ''), '!', '')")))
            + (F.length(kt) - F.length(F.expr("replace(coalesce(array_join(kept, ' '), ''), '?', '')")))
        ).cast("long").alias("n_sentences"),
        low.like("%lorem ipsum%").alias("has_lorem"),
        F.col("text").like("%{%").alias("has_brace"),
        block.alias("has_blockword"),
    )
    keep = (
        (F.col("n_sentences") >= C4_MIN_SENTENCES)
        & ~F.col("has_lorem")
        & ~F.col("has_brace")
        & ~F.col("has_blockword")
    )
    return staged.withColumn("keep", keep)


def c4_clean(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The transformation form: docs with text rewritten to the retained
    lines (newline-joined), restricted to pages c4_signals keeps."""
    sig = c4_signals(docs, text_col).where("keep").select("doc_id")
    kept = docs.select(
        "doc_id",
        F.split(F.col(text_col), r"\n").alias("lines"),
    ).withColumn("kept", F.expr(_C4_LINE_KEEP))
    return (
        kept.join(sig, "doc_id")
        .select("doc_id", F.array_join("kept", "\n").alias(text_col))
    )


def top_ngrams(
    docs: DataFrame, n: int = 2, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus n-gram heavy hitters: the k most frequent word n-grams as
    (gram, n_occurrences), ordered (count desc, gram) so the cut is
    deterministic under ties. The analysis pass a curation pipeline runs
    to FIND boilerplate (feeding the C4 blocklist / paragraph-dedup
    review) and to spot-check contamination candidates.

    Spark shape / 100 TB notes: the gram stream never materializes —
    explode feeds a map-side-combined groupBy (shuffle carries per-
    partition distinct grams), and top-k is orderBy().limit(k) =
    TakeOrderedAndProject (per-partition heaps, k-row merge), never a
    global sort. Dual-dialect twin: driver_queries.duck_sql_for("top_ngrams")."""
    ws = docs.select(F.split(F.col(text_col), " ").alias("ws"))
    grams = ws.filter(F.size("ws") >= n).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i, n)),
            )
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(k)
    )


def bm25_score(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 4,
) -> DataFrame:
    """Okapi BM25 of a fixed query against every document (r7) — the
    retrieval scorer a curation pipeline uses for query-targeted corpus
    selection (rank documents by relevance to a seed query, DSIR's
    retrieval-shaped cousin). idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    the Lucene floor-free form. Returns (doc_id, score), score 0.0 for
    documents containing no query term, rounded half-even to
    `round_digits` (ln is the one op here without a cross-engine
    correct-rounding guarantee; rounding absorbs the ulp).

    Spark shape / 100 TB notes:
      * the token stream is FILTERED to the query terms before any
        aggregation — document frequency and term frequency never touch
        the full vocabulary, so both groupBys aggregate <= |q| keys per
        doc (map-side combinable);
      * N / avgdl / per-term idf are collected as <= |q|+2 scalars and
        re-enter as literals (the classifier weight-table discipline);
      * doc length is a pure projection; the score join is one broadcast
        of the (term, idf) literal map against the (doc, term, tf) frame,
        then a <= |q|-row-per-doc groupBy.

    Dual-dialect twin: driver_queries.duck_sql_for("bm25_score"); module==twin
    pinned in tests/test_module_oracle_parity.py."""
    import math

    terms = list(query_terms)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("ws"),
    )
    dl = base.select("doc_id", F.size("ws").cast("double").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = float(stats["n"]), float(stats["avgdl"])
    toks = base.select(
        "doc_id", F.explode("ws").alias("w")
    ).filter(F.col("w").isin(terms))
    df_rows = {
        r["w"]: r["df"]
        for r in toks.select("doc_id", "w")
        .distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    idf = {
        t: math.log(1.0 + (n_docs - df_rows.get(t, 0) + 0.5) / (df_rows.get(t, 0) + 0.5))
        for t in terms
    }
    idf_col = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(idf[t]))]
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    scored = tf.join(dl, "doc_id").select(
        "doc_id",
        (
            idf_col[F.col("w")]
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
        ).alias("s"),
    )
    agg = scored.groupBy("doc_id").agg(F.sum("s").alias("score"))
    return dl.join(agg, "doc_id", "left").select(
        "doc_id",
        F.round(F.coalesce(F.col("score"), F.lit(0.0)), round_digits).alias("score"),
    )


def tfidf_keywords(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 4,
    materialize: bool = True,
) -> DataFrame:
    """Per-document top-k keywords by tf-idf (r7): weight = tf * ln(N/df),
    the corpus-statistics summarizer a curation pipeline uses for topic
    tagging / cluster labeling. Returns (doc_id, term, weight, rnk) with
    rnk 1..k ordered by (rounded weight desc, term asc) — rounding first
    keeps the rank order engine-stable (ln's cross-engine ulp).

    Spark shape: one token explode -> (doc, term) tf groupBy -> df groupBy
    on the term (both map-side-combinable, uniform keys); N is one scalar;
    the per-doc top-k window partitions on doc_id (high-cardinality — no
    single-partition sort)."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    n_docs = float(docs.count())
    tf = base.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    # The tf aggregate feeds TWO consumers (the df count and the scored
    # join), and Spark re-executes the scan+explode+groupBy lineage per
    # consumer (ReuseExchange never fires — the branches specialize;
    # measured 4 Generates / 4 scans at runtime). Materializing the
    # (doc, term, tf) table once is the containment_pairs guide-§8 move:
    # both downstream passes read the token-proxy rows, not the documents.
    if materialize:
        tf = tf.localCheckpoint(eager=True)
    # tf already holds exactly one row per distinct (doc, term), so df is a
    # count over tf — the old distinct() shuffled the full exploded token
    # set a second time for the same number (r8; one less exchange,
    # identical counts)
    df_t = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    scored = tf.join(df_t, "w").select(
        "doc_id",
        F.col("w").alias("term"),
        F.round(
            F.col("tf").cast("double") * F.log(F.lit(n_docs) / F.col("df")),
            round_digits,
        ).alias("weight"),
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "weight", "rnk")
    )


def compression_ratio(docs: DataFrame, text_col: str = "text", level: int = 6) -> DataFrame:
    """zlib-compressibility quality signal (doc_id, n_bytes, ratio =
    deflate_bytes / utf8_bytes, round-6): highly templated/repetitive
    pages compress far below prose — the 'compression ratio' member of
    the Dolma/RedPajama-v2 signal family, run alongside the Gopher and
    LM gates. Low ratio => repetitive (candidate drop), ~1 => high-
    entropy/binary-ish.

    zlib is not expressible in native Spark SQL, so this is an honest
    Arrow-batched pandas UDF (the sanctioned slow path — one Python
    worker per partition streaming batches, never per-row
    serialization); everything around it (byte length, ratio, filter)
    stays JVM-side. Empty-text rows drop (0/0). Deterministic: zlib's
    output is fixed for a given (input, level) and library build, and
    the oracle twin calls the SAME CPython zlib when rendering its
    VALUES, so the comparison never depends on cross-library byte
    equality."""

    @F.pandas_udf("long")
    def _dlen(texts: pd.Series) -> pd.Series:
        import zlib

        lvl = level
        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), lvl))
        ).astype("int64")

    staged = docs.select(
        "doc_id",
        F.col(text_col).alias("_t"),
        F.octet_length(text_col).cast("long").alias("n_bytes"),
    ).where(F.col("n_bytes") > 0)
    return staged.select(
        "doc_id",
        "n_bytes",
        F.round(_dlen(F.col("_t")) / F.col("n_bytes"), 6).alias("ratio"),
    )


def domain_stats(
    docs: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    short_chars: int = 200,
) -> DataFrame:
    """Per-domain quality aggregation — the domain-level filtering stage
    of the RefinedWeb/CCNet family (drop whole domains whose pages are
    mostly junk, instead of re-judging every page). The reference has no
    cross-record state at all (warc_metadata_sidecar.py is per-record);
    this is the curation-side aggregate a 100 TB pipeline needs before
    per-page gates.

    Domain = the host minus a leading 'www.' reduced to its last two
    labels — a deterministic stand-in for a public-suffix-list lookup
    (honest simplification: 'example.co.uk' reduces to 'co.uk'; a PSL
    table would be a broadcast join on the same column).

    INTEGER-exact on purpose: only counts and integer sums aggregate
    (float sums are partition-order-dependent and would break the
    oracle); mean_chars_x1000 = sum_chars * 1000 div n_docs. keep =
    NOT (2 * n_short > n_docs) — a domain mostly under short_chars is
    dropped wholesale.

    Scale: one map-side-combined groupBy(domain) — a single exchange on
    a low-cardinality key; AQE handles the skewed mega-domain."""
    host = F.regexp_replace(F.col(host_col), r"^www\.", "")
    labels = F.split(host, r"\.")
    domain = F.concat_ws(
        ".", F.slice(labels, F.greatest(F.size(labels) - 1, F.lit(1)), 2)
    )
    chars = F.length(F.coalesce(F.col(text_col), F.lit("")))
    tokens = F.size(F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"))
    sig = docs.select(
        domain.alias("domain"),
        chars.alias("_chars"),
        tokens.alias("_tokens"),
        (chars < short_chars).cast("int").alias("_short"),
    )
    agg = sig.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_chars").cast("long").alias("sum_chars"),
        F.sum("_tokens").cast("long").alias("sum_tokens"),
        F.sum("_short").cast("long").alias("n_short"),
    )
    return agg.select(
        "domain",
        "n_docs",
        "sum_chars",
        "sum_tokens",
        "n_short",
        F.expr("(sum_chars * 1000) div n_docs").alias("mean_chars_x1000"),
        (~(F.col("n_short") * 2 > F.col("n_docs"))).alias("keep"),
    )


def language_mix(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-paragraph language mixing profile: (doc_id, n_paras, n_langs,
    majority_lang, mixed) — the multilingual-contamination gate (CCNet
    splits documents by paragraph language; a doc whose paragraphs
    identify as two+ languages is boilerplate-glued or machine-mixed and
    pollutes per-language corpora). Paragraphs = newline splits with
    blank lines dropped; per-paragraph lang-id is the marker argmax
    (functions/text.lang_guess_col — first-wins on score ties, 'und'
    when nothing fires); n_langs counts DISTINCT identified languages
    ('und' excluded), majority_lang is the most frequent identified
    language (count desc, lang desc tie-break; 'und' when none
    identify), mixed = n_langs >= 2.

    Scale: explode + projection per paragraph, then ONE map-side-
    combinable (doc, lang) count and a doc-keyed window — two exchanges
    sharing the doc_id key."""
    from pyspark.sql import Window

    from warc_metadata_sidecar_spark.functions.text import lang_guess_col

    paras = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), "\n")).alias("_p"),
        )
        .filter(F.trim("_p") != "")
        .withColumn("_lang", lang_guess_col(F.col("_p")))
    )
    per_doc = paras.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras"))
    ident = paras.filter(F.col("_lang") != "und")
    counts = ident.groupBy("doc_id", "_lang").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("_lang").desc())
    major = (
        counts.withColumn("_rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("_rn") == 1, F.col("_lang"))).alias("majority_lang"),
            F.count(F.lit(1)).cast("long").alias("n_langs"),
        )
    )
    return per_doc.join(major, "doc_id", "left").select(
        "doc_id",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.coalesce("n_langs", F.lit(0)).cast("long").alias("n_langs"),
        F.coalesce("majority_lang", F.lit("und")).alias("majority_lang"),
        (F.coalesce("n_langs", F.lit(0)) >= 2).alias("mixed"),
    )


def adaptive_quality_gate(
    scored: DataFrame,
    stratum_col: str = "lang",
    score_col: str = "score",
    keep_frac: float = 0.7,
    approx: bool = False,
) -> DataFrame:
    """Per-stratum adaptive quality thresholding (the FineWeb
    per-language discipline: a fixed global cutoff over-filters
    low-resource strata, so each stratum keeps its own top
    `keep_frac`): thr(stratum) = the (1 - keep_frac) quantile of the
    stratum's scores; keep = score >= thr.

    approx=False (default, the oracle shape) uses the EXACT linear-
    interpolation percentile — per-group state is the group's value
    buffer, fine at fixture scale and restatable as DuckDB
    quantile_cont. approx=True is the 100 TB path: percentile_approx's
    bounded sketch (the ccnet_buckets approx discipline) — same plan,
    O(1) state per stratum. Thresholds are a strata-cardinality table
    broadcast back onto the corpus; ONE stratum-keyed exchange total.

    Boundary exactness (oracle contract): when the quantile index lands
    between two data values, the interpolated threshold sits strictly
    inside a gap far wider than an ulp, and when it lands ON a value the
    interpolation degenerates to that value bit-exactly in both engines
    — so keep = score >= thr cannot flip across engines."""
    fn = "percentile_approx" if approx else "percentile"
    q = 1.0 - keep_frac
    thr = scored.groupBy(F.col(stratum_col).alias("_st")).agg(
        F.expr(f"{fn}({score_col}, {q!r})").alias("thr")
    )
    return (
        scored.join(
            F.broadcast(thr), scored[stratum_col] == thr["_st"], "left"
        )
        .drop("_st")
        .withColumn("keep", F.col(score_col) >= F.col("thr"))
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Collocation mining by pointwise mutual information over adjacent
    word pairs (the word2vec/phrase-detection preprocessing pass):
    pmi(w1, w2) = ln(N * c12 / (c1 * c2)), rounded half-even to 4
    (the bm25 discipline — ln is the one op without a cross-engine
    correct-rounding guarantee; ranking uses the ROUNDED value with a
    lexicographic tie-break, so top-k is engine-stable). Returns the
    top_k (w1, w2, c12, pmi) with c12 >= min_count.

    Scale shape: bigram and unigram counts are both map-side-combinable
    groupBys; the min_count prune lands BEFORE the joins (the df-prune
    discipline), so only qualifying bigrams join the unigram table
    (word-keyed shuffle joins; at fixture scale AQE broadcasts); N is
    ONE collected scalar; top-k is a TakeOrdered, never a global sort."""
    ws = F.split(F.col(text_col), " ")
    # guard: F.sequence(1, 0) generates DESCENDING [1, 0] — wrap short rows
    grams = F.when(
        F.size(ws) >= 2,
        F.expr(
            f"transform(sequence(1, size(split({text_col}, ' ')) - 1), "
            f"i -> struct(element_at(split({text_col}, ' '), i) AS w1, "
            f"element_at(split({text_col}, ' '), i + 1) AS w2))"
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = (
        docs.select(F.explode(grams).alias("g"))
        .select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    uni = (
        docs.select(F.explode(ws).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n_tokens = uni.agg(F.sum("c")).collect()[0][0]
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        big.join(u1, "w1")
        .join(u2, "w2")
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.lit(int(n_tokens)) * F.col("c12")).cast("double")
                    / (F.col("c1") * F.col("c2")).cast("double")
                ),
                4,
            ),
        )
    )
    return (
        scored.select("w1", "w2", "c12", "pmi")
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_k)
    )
