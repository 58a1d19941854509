"""Main-content extraction (operators/extract.py): block segmentation,
link-density arithmetic, inline-tag handling — hand-computed fixtures
(the DuckDB oracle `main_content` pins the scoring pipeline; THESE tests
pin the HTML split the oracle deliberately sidesteps)."""

from __future__ import annotations

from fractions import Fraction

from warc_metadata_sidecar_spark.operators.extract import (
    block_signals,
    main_content,
    split_blocks,
)

PROSE = "this sentence carries enough characters to pass the floor"  # 57


def _pages(spark, *texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_split_and_signals_hand_computed(spark):
    page = (
        f"<P>{PROSE}</P>"
        f'<div class="nav"><a href="/a">home</a> <a href="/b">about page</a></div>'
        f"<div>{PROSE} <b>bold</b></div>"
        "<br>tail words beyond the final block tag here ok"
    )
    sig = {
        r["block_idx"]: (r["block_text"], r["n_chars"], r["link_chars"])
        for r in block_signals(_pages(spark, page)).collect()
    }
    # fragments: '', PROSE, '', anchors-html, '', PROSE+' bold', '', tail
    assert len(sig) == 8
    assert sig[1] == (PROSE, 57, 0)
    # anchor inner text: 'home' (4) + 'about page' (10) = 14; visible text
    # keeps the joining space: 'home about page' = 15
    assert sig[3] == ("home about page", 15, 14)
    assert sig[5] == (f"{PROSE} bold", 62, 0)  # inline <b> stripped, uncounted
    assert sig[7] == ("tail words beyond the final block tag here ok", 45, 0)


def test_main_content_density_and_floor(spark):
    linky = (
        '<a href="/x">twenty characters link</a> '
        'plus plenty of surrounding prose here'
    )
    page = (
        f"<p>{PROSE}</p>"
        f"<div>{linky}</div>"          # 22 link / 60 visible: 110 <= 120 kept
        f'<ul><li><a href="/1">almost every single char linked</a>!</li></ul>'
        "<p>tiny</p>"                  # under the 20-char floor
    )
    out = main_content(_pages(spark, page)).collect()[0]
    assert out["main_text"] == (
        f"{PROSE} twenty characters link plus plenty of surrounding prose here"
    )
    assert out["n_kept"] == 2
    # li block: 31 of 32 chars linked -> 31*5 > 32*2 -> dropped
    sig = {r["block_idx"]: r for r in block_signals(_pages(spark, page)).collect()}
    li = [r for r in sig.values() if r["block_text"].endswith("!")][0]
    assert (li["n_chars"], li["link_chars"]) == (32, 31)


def test_main_content_threshold_is_exact_fraction(spark):
    # exactly at density 2/5: 20 visible chars, 8 linked -> 8*5 == 20*2 kept
    page = '<p><a href="/x">eightltr</a> elevenchars</p>'
    out = main_content(
        _pages(spark, page), min_chars=20, max_link_density=Fraction(2, 5)
    ).collect()[0]
    assert out["n_kept"] == 1
    # one char over: 9 linked of 20 -> dropped
    page2 = '<p><a href="/x">ninelttrs</a> tenchars10</p>'
    out2 = main_content(_pages(spark, page2)).collect()[0]
    assert out2["n_kept"] == 0 and out2["main_text"] == ""


def test_case_insensitive_tags_and_empty_page(spark):
    page = f"<DIV CLASS=X>{PROSE}</DIV>"
    rows = split_blocks(_pages(spark, page)).collect()
    assert [r["block"] for r in rows] == ["", PROSE, ""]
    out = main_content(_pages(spark, "")).collect()[0]
    assert (out["main_text"], out["n_blocks"], out["n_kept"]) == ("", 1, 0)


def test_domain_stats_hand_computed(spark):
    """operators/quality.domain_stats: www-strip + last-two-label domain
    reduction, integer means, and the majority-short drop rule."""
    from warc_metadata_sidecar_spark.operators.quality import domain_stats

    long_t = "x" * 300
    rows = [
        ("www.a.example.org", long_t),   # -> example.org
        ("a.example.org", long_t),
        ("b.example.org", "short"),      # 1 short of 3 -> keep
        ("www.junk.net", "tiny"),        # -> junk.net, 2 short of 2 -> drop
        ("junk.net", "small"),
        ("solo.io", long_t),             # 2-label host stays solo.io
    ]
    got = {
        r["domain"]: r
        for r in domain_stats(
            spark.createDataFrame(rows, "host string, text string")
        ).collect()
    }
    assert set(got) == {"example.org", "junk.net", "solo.io"}
    eo = got["example.org"]
    assert (eo["n_docs"], eo["sum_chars"], eo["n_short"], eo["keep"]) == (
        3, 605, 1, True,
    )
    assert eo["mean_chars_x1000"] == 605 * 1000 // 3
    jn = got["junk.net"]
    assert (jn["n_docs"], jn["n_short"], jn["keep"]) == (2, 2, False)
    assert got["solo.io"]["n_docs"] == 1


def test_normalize_dedup_key_collapses_variants(spark):
    """functions/text.normalize_dedup_key_col: NFC composes decomposed
    accents, zero-width/control characters strip, all whitespace (incl.
    NBSP/tab) collapses, case folds — so the three surface variants land
    on ONE key and the decomposed accent pair lands on the precomposed
    key, while a lookalike with an extra letter stays distinct."""
    from pyspark.sql import functions as F

    from warc_metadata_sidecar_spark.functions.text import normalize_dedup_key_col

    rows = [
        ("a", "Hello World"),
        ("b", "hello \t  WORLD "),
        ("c", "Hello​  World­\x7f"),
        ("d", "Café Déjà Vu"),                  # precomposed
        ("e", "Café Déjà Vu"),               # decomposed
        ("f", "Helloo World"),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    got = {
        r["id"]: r["key"]
        for r in df.select("id", normalize_dedup_key_col(F.col("text")).alias("key")).collect()
    }
    assert got["a"] == got["b"] == got["c"] == "hello world"
    assert got["d"] == got["e"] == "café déjà vu"
    assert got["f"] == "helloo world"


def test_build_postings_hand_computed_and_plan(spark):
    """operators/invindex.build_postings: tf/df on a hand corpus, df
    bounds prune, impact ordering with doc_id tie-break, max_postings
    truncation — and the single-repartition claim (every exchange keys
    on term)."""
    from warc_metadata_sidecar_spark.operators.invindex import build_postings

    rows = [
        (1, "apple apple banana common"),
        (2, "apple banana banana common"),
        (3, "apple common"),
        (4, "cherry common"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = build_postings(docs, min_df=2, max_df=3, max_postings=2)
    got = sorted(
        (r["term"], r["doc_id"], r["tf"], r["df"], r["impact_rank"])
        for r in out.collect()
    )
    # 'common' (df 4) pruned by max_df; 'cherry' (df 1) by min_df;
    # apple truncates to 2 of 3 postings: tf-2 doc 1, then tf-1 doc 2
    assert got == [
        ("apple", 1, 2, 3, 1), ("apple", 2, 1, 3, 2),
        ("banana", 1, 1, 2, 2), ("banana", 2, 2, 2, 1),
    ]
    # plan AFTER execution (AQE exchange reuse is a runtime decision)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # the single-repartition claim: ONE real term exchange feeds the tf
    # groupBy (subset rule), df agg (ReusedExchange), broadcast join,
    # and impact window — ReusedExchange lines echo the text, so count
    # only non-reused nodes
    real = [
        ln for ln in final.splitlines()
        if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
    ]
    assert len(real) == 1, final


def test_language_mix_hand_computed(spark):
    """operators/quality.language_mix: pure-English doc is unmixed,
    en+es doc is mixed with the count-majority, an und-only doc reports
    majority 'und', blank paragraphs drop, and a 1-1 tie breaks to the
    lexicographically larger language."""
    from warc_metadata_sidecar_spark.operators.quality import language_mix

    rows = [
        (1, "the cat and dog\nthis is the end"),
        (2, "the cat and dog\nel perro la casa\n\nel gato la mesa"),
        (3, "12345 67890\n99999"),
        (4, "the cat and dog\nel perro la casa"),  # 1-1 tie -> 'es'
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_paras"], r["n_langs"], r["majority_lang"], r["mixed"])
        for r in language_mix(docs).collect()
    }
    assert got[1] == (2, 1, "en", False)
    assert got[2] == (3, 2, "es", True)   # blank para dropped; es 2-1 en
    assert got[3] == (2, 0, "und", False)
    assert got[4] == (2, 2, "es", True)


def test_adaptive_quality_gate_hand_computed_and_approx(spark):
    """operators/quality.adaptive_quality_gate: each stratum keeps its
    own top fraction (a global cutoff would drop ALL of the low stratum),
    exact thresholds interpolate, and the approx=True scale path agrees
    on this well-separated fixture."""
    from warc_metadata_sidecar_spark.operators.quality import adaptive_quality_gate

    rows = [("hi", i, 0.5 + i / 100.0) for i in range(10)] + [
        ("lo", i, 0.0 + i / 100.0) for i in range(10)
    ]
    df = spark.createDataFrame(
        [(s, i, v) for s, i, v in rows], "lang string, doc_id long, score double"
    )
    out = adaptive_quality_gate(df, keep_frac=0.5)
    got = {(r["lang"], r["doc_id"]): r["keep"] for r in out.collect()}
    # exact percentile(0.5) over 0..9/100 interpolates to 4.5/100: keep i>=5
    for i in range(10):
        assert got[("hi", i)] == (i >= 5)
        assert got[("lo", i)] == (i >= 5)  # per-stratum: lo keeps its own top half
    thr = {r["lang"]: r["thr"] for r in out.select("lang", "thr").distinct().collect()}
    assert abs(thr["hi"] - 0.545) < 1e-9 and abs(thr["lo"] - 0.045) < 1e-9
    ap = {
        (r["lang"], r["doc_id"]): r["keep"]
        for r in adaptive_quality_gate(df, keep_frac=0.5, approx=True).collect()
    }
    # percentile_approx returns an actual data value; on this fixture the
    # kept sets still match per stratum within one boundary element
    for lang in ("hi", "lo"):
        kept = {i for (s, i), k in ap.items() if s == lang and k}
        assert {6, 7, 8, 9} <= kept <= {4, 5, 6, 7, 8, 9}


def test_cms_sketch_properties(spark):
    """operators/sketch: est >= true for every token (collisions only
    add), absent tokens estimate 0 when their buckets are clean, the
    sketch is merge-by-addition (two halves' sketches sum to the whole's),
    and sketch size is bounded by depth x width."""
    from pyspark.sql import functions as F

    from warc_metadata_sidecar_spark.operators.sketch import cms_build, cms_estimate

    words = [f"w{i}" for i in range(50) for _ in range(i % 5 + 1)]
    toks = spark.createDataFrame([(w,) for w in words], "token: string")
    sketch = cms_build(toks, depth=4, width=64)
    assert sketch.count() <= 4 * 64
    probes = spark.createDataFrame(
        [(f"w{i}",) for i in range(50)] + [("absent",)], "token: string"
    )
    est = {r["token"]: r["est"] for r in cms_estimate(sketch, probes, depth=4, width=64).collect()}
    true = {f"w{i}": i % 5 + 1 for i in range(50)}
    assert all(est[w] >= c for w, c in true.items())
    # merge = counter addition: sketch(half1) + sketch(half2) == sketch(all)
    h1 = cms_build(toks.limit(60), depth=4, width=64)
    h2 = cms_build(
        spark.createDataFrame([(w,) for w in words[60:]], "token: string"),
        depth=4, width=64,
    )
    merged = (
        h1.unionByName(h2).groupBy("d", "bucket").agg(F.sum("c").alias("c"))
    )
    a = {(r["d"], r["bucket"]): r["c"] for r in merged.collect()}
    b = {(r["d"], r["bucket"]): r["c"] for r in sketch.collect()}
    assert a == b


def test_pmi_collocations_hand_computed(spark):
    """operators/quality.pmi_collocations: a pair that always co-occurs
    outranks pairs with a common member (and the 2-of-2x2 perfect pairs
    outrank IT — PMI's rare-pair bias), min_count prunes, and a
    single-word doc contributes no bigrams (the sequence(1,0) guard)."""
    import math

    from warc_metadata_sidecar_spark.operators.quality import pmi_collocations

    # 'new york' always adjacent (4x); 'the cat/dog/car...' common words
    rows = [
        (1, "new york is big and the cat sat on the mat"),
        (2, "new york is old and the dog sat on the mat"),
        (3, "new york is far and the cat ran to the car"),
        (4, "new york is near and the dog ran to the car"),
        (5, "solo"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_collocations(docs, min_count=2, top_k=10).collect()
    n = sum(len(t.split()) for _, t in rows)
    by_pair = {(r["w1"], r["w2"]): r for r in out}
    # PMI's textbook rare-pair bias: a 2-of-2x2 perfect pair (ln(N/2))
    # outranks the 4-of-4x4 'new york' (ln(N/4)), which in turn beats
    # any pair with a common member like ('the','cat') (ln(N/8))
    assert abs(out[0]["pmi"] - round(math.log(n / 2), 4)) < 1e-9
    ny = by_pair[("new", "york")]
    assert ny["c12"] == 4
    assert abs(ny["pmi"] - round(math.log(n * 4 / 16), 4)) < 1e-9
    tc = by_pair.get(("the", "cat"))
    if tc is not None:
        assert tc["pmi"] < ny["pmi"]
    # every returned pair met min_count; nothing from the 1-word doc
    assert all(r["c12"] >= 2 for r in out)
    assert not [r for r in out if "solo" in (r["w1"], r["w2"])]
