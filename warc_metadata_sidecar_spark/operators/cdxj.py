"""CDXJ index + merge (reference scripts 2 and 3).

sidecar_to_cdxj re-expresses sidecar2cdxj.py: sidecar rows -> (urlkey, ts,
json) lines. The reference re-parses the serialized payload per record
(convert_payload_to_json, sidecar2cdxj.py:18-29); we never left columnar form,
so the JSON block is rebuilt from the struct columns natively — zero shuffle,
zero Python (SURVEY.md §3.2).

merge_cdxj re-expresses merge_cdxj.py: a LEFT OUTER many-to-one equi-join of
the original CDXJ (probe, order-preserving) against the sidecar CDXJ (build,
unique keys), overlaying five fields onto the original JSON block
(merge_cdxj.py:30-56). The reference materializes the whole build side in a
dict (:85-93) — exactly Spark's broadcast-hash-join shape; AQE falls back to
sort-merge when the metadata side outgrows the broadcast threshold, which is
what makes this join work at 100 TB where the dict would OOM.

Probe-side input order is preserved via the explicit line_id column (the
reference appends to a list, :77,81) — order is a data property, not a
partition-iteration accident.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warc_metadata_sidecar_spark.functions.surt import surt_col, timestamp14_col
from warc_metadata_sidecar_spark.session import per_context

# cld2 code -> ISO-639-3 (merge_cdxj.py:12-27 uses langcodes; cld2 emits a
# closed code set so a static map is exact — SURVEY.md S10). The table is
# the full ISO-639-1 -> 639-3 mapping (terminological/T codes, which is what
# langcodes' to_alpha3() returns) plus cld2's legacy aliases (iw/in/ji/jw).
# cld2 codes that are ALREADY 3 letters (haw, ceb, hmn, ...) pass through in
# alpha3_codes_col; anything else (xx-Qaai script codes, 'un') is dropped,
# like the reference's LookupError / len != 3 path.
ALPHA3 = {
    "aa": "aar", "ab": "abk", "af": "afr", "ak": "aka", "am": "amh",
    "ar": "ara", "an": "arg", "as": "asm", "av": "ava", "ae": "ave",
    "ay": "aym", "az": "aze", "ba": "bak", "bm": "bam", "be": "bel",
    "bn": "ben", "bi": "bis", "bo": "bod", "bs": "bos", "br": "bre",
    "bg": "bul", "ca": "cat", "cs": "ces", "ch": "cha", "ce": "che",
    "cu": "chu", "cv": "chv", "kw": "cor", "co": "cos", "cr": "cre",
    "cy": "cym", "da": "dan", "de": "deu", "dv": "div", "dz": "dzo",
    "el": "ell", "en": "eng", "eo": "epo", "et": "est", "eu": "eus",
    "ee": "ewe", "fo": "fao", "fa": "fas", "fj": "fij", "fi": "fin",
    "fr": "fra", "fy": "fry", "ff": "ful", "gd": "gla", "ga": "gle",
    "gl": "glg", "gv": "glv", "gn": "grn", "gu": "guj", "ht": "hat",
    "ha": "hau", "he": "heb", "hz": "her", "hi": "hin", "ho": "hmo",
    "hr": "hrv", "hu": "hun", "hy": "hye", "ig": "ibo", "io": "ido",
    "ii": "iii", "iu": "iku", "ie": "ile", "ia": "ina", "id": "ind",
    "ik": "ipk", "is": "isl", "it": "ita", "jv": "jav", "ja": "jpn",
    "kl": "kal", "kn": "kan", "ks": "kas", "ka": "kat", "kr": "kau",
    "kk": "kaz", "km": "khm", "ki": "kik", "rw": "kin", "ky": "kir",
    "kv": "kom", "kg": "kon", "ko": "kor", "kj": "kua", "ku": "kur",
    "lo": "lao", "la": "lat", "lv": "lav", "li": "lim", "ln": "lin",
    "lt": "lit", "lb": "ltz", "lu": "lub", "lg": "lug", "mh": "mah",
    "ml": "mal", "mr": "mar", "mk": "mkd", "mg": "mlg", "mt": "mlt",
    "mn": "mon", "mi": "mri", "ms": "msa", "my": "mya", "na": "nau",
    "nv": "nav", "nr": "nbl", "nd": "nde", "ng": "ndo", "ne": "nep",
    "nl": "nld", "nn": "nno", "nb": "nob", "no": "nor", "ny": "nya",
    "oc": "oci", "oj": "oji", "or": "ori", "om": "orm", "os": "oss",
    "pa": "pan", "pi": "pli", "pl": "pol", "pt": "por", "ps": "pus",
    "qu": "que", "rm": "roh", "ro": "ron", "rn": "run", "ru": "rus",
    "sg": "sag", "sa": "san", "si": "sin", "sk": "slk", "sl": "slv",
    "se": "sme", "sm": "smo", "sn": "sna", "sd": "snd", "so": "som",
    "st": "sot", "es": "spa", "sq": "sqi", "sc": "srd", "sr": "srp",
    "ss": "ssw", "su": "sun", "sw": "swa", "sv": "swe", "ty": "tah",
    "ta": "tam", "tt": "tat", "te": "tel", "tg": "tgk", "tl": "tgl",
    "th": "tha", "ti": "tir", "to": "ton", "tn": "tsn", "ts": "tso",
    "tk": "tuk", "tr": "tur", "tw": "twi", "ug": "uig", "uk": "ukr",
    "ur": "urd", "uz": "uzb", "ve": "ven", "vi": "vie", "vo": "vol",
    "wa": "wln", "wo": "wol", "xh": "xho", "yi": "yid", "yo": "yor",
    "za": "zha", "zh": "zho", "zu": "zul",
    # cld2 legacy aliases (pre-1989 ISO codes still emitted by cld2)
    "iw": "heb", "in": "ind", "ji": "yid", "jw": "jav",
    # cld2 script-qualified variants
    "zh-Hant": "zho", "sr-Latn": "srp",
}

# schema of the sidecar CDXJ JSON block (hyphenated reference titles)
META_JSON_SCHEMA = T.StructType(
    [
        T.StructField("Identified-Payload-Type", T.MapType(T.StringType(), T.StringType())),
        T.StructField("Preservation-Identifier", T.StringType()),
        T.StructField(
            "Charset-Detected",
            T.StructType(
                [
                    T.StructField("encoding", T.StringType()),
                    T.StructField("confidence", T.DoubleType()),
                ]
            ),
        ),
        T.StructField(
            "Languages-cld2",
            T.StructType(
                [
                    T.StructField("reliable", T.BooleanType()),
                    T.StructField("text-bytes", T.IntegerType()),
                    T.StructField(
                        "languages",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("name", T.StringType()),
                                    T.StructField("code", T.StringType()),
                                    T.StructField("text-covered", T.IntegerType()),
                                    T.StructField("score", T.DoubleType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
        T.StructField("Soft-404-Detected", T.DoubleType()),
    ]
)


def sidecar_to_cdxj(sidecar: DataFrame) -> DataFrame:
    """sidecar rows -> (urlkey, ts, json). Mirrors sidecar2cdxj.py:40-61:
    warcinfo rows never exist in our sidecar table (F5 is structural), the
    JSON block carries the five title-keyed fields, absent fields omitted
    (to_json drops nulls)."""
    # staged SURT (with_surt), not the one-Column surt_col: the IDN gate
    # references the host subchain several times, and Catalyst CSE skips
    # conditional branches — inlined, the host regex chain would re-run
    # per reference for every record of the export (see with_surt docs)
    from warc_metadata_sidecar_spark.functions.surt import with_surt

    return with_surt(sidecar, "url", "urlkey").select(*_cdxj_cols())


@per_context
def _cdxj_cols() -> tuple:
    """sidecar_to_cdxj's output columns, built once per Spark context."""
    lang_block = F.when(
        F.col("languages").isNotNull(),
        F.struct(
            F.col("languages.reliable").alias("reliable"),
            F.col("languages.text_bytes").alias("text-bytes"),
            F.expr(
                "transform(languages.languages, e -> named_struct("
                "'name', e.name, 'code', e.code, "
                "'text-covered', e.text_covered, 'score', e.score))"
            ).alias("languages"),
        ),
    )
    json_block = F.to_json(
        F.struct(
            F.col("mime").alias("Identified-Payload-Type"),
            F.col("puid").alias("Preservation-Identifier"),
            F.col("charset").alias("Charset-Detected"),
            lang_block.alias("Languages-cld2"),
            F.col("soft404").alias("Soft-404-Detected"),
        )
    )
    return (
        F.col("urlkey"),
        timestamp14_col(F.col("warc_date")).alias("ts"),
        json_block.alias("json"),
    )


def parse_sidecar_payload(sidecar_payloads: DataFrame, payload_col: str = "payload") -> DataFrame:
    """S9: deserialize an externally-produced sidecar payload string back
    into columns (convert_payload_to_json, sidecar2cdxj.py:18-29).

    Native: split on newline, then each line once on ': '; JSON values via
    from_json, falling back to the raw string when not JSON (the reference's
    JSONDecodeError fallback, :26-28). Used when ingesting sidecar WARCs
    produced by OTHER tools — our own pipeline never leaves columnar form.
    """
    lines = F.split(F.col(payload_col), "\n")

    def field(title: str):
        # value of the line starting with '<title>: ', else NULL
        # (try_element_at: ANSI mode errors on element_at over empty arrays)
        return F.try_element_at(
            F.transform(
                F.filter(lines, lambda l: l.startswith(title + " ")),
                lambda l: l.substr(F.lit(len(title) + 2), F.length(l)),
            ),
            F.lit(1),
        )

    mime_raw = field("Identified-Payload-Type:")
    charset_raw = field("Charset-Detected:")
    lang_raw = field("Languages-cld2:")
    return sidecar_payloads.select(
        "*",
        F.from_json(mime_raw, "map<string,string>").alias("mime"),
        field("Preservation-Identifier:").alias("puid"),
        F.from_json(charset_raw, "struct<encoding:string,confidence:double>").alias("charset"),
        F.from_json(
            lang_raw,
            "struct<reliable:boolean,`text-bytes`:int,"
            "languages:array<struct<name:string,code:string,"
            "`text-covered`:int,score:double>>>",
        ).alias("languages"),
        field("Soft-404-Detected:").cast("double").alias("soft404"),
    )


def parse_cdxj_lines(lines: DataFrame) -> DataFrame:
    """CDXJ text -> (line_id, urlkey, ts, json) (reference P3: split(' ', 2),
    merge_cdxj.py:67,89). line_id preserves file order for the sink."""
    return lines.select(
        F.monotonically_increasing_id().alias("line_id"),
        F.split(F.col("value"), " ", 3).alias("parts"),
    ).select(
        "line_id",
        F.col("parts").getItem(0).alias("urlkey"),
        F.col("parts").getItem(1).alias("ts"),
        F.col("parts").getItem(2).alias("json"),
    )


def alpha3_codes_col(lang_struct_col: str = "meta.`Languages-cld2`"):
    """Comma-joined alpha-3 codes from a parsed Languages-cld2 block
    (merge_cdxj.py:12-27). Mapped via ALPHA3; codes cld2 already emits as
    bare 3-letter (haw, ceb, hmn...) pass through, everything else (script
    extensions, 'un') drops — the reference's LookupError/len!=3 path.
    '' when none convert. Built once per Spark context: the map is 400
    literals."""
    return _alpha3_codes(lang_struct_col)


@per_context
def _alpha3_codes(lang_struct_col: str) -> Column:
    mapping = F.create_map(*[F.lit(x) for kv in ALPHA3.items() for x in kv])
    return F.array_join(
        F.filter(
            F.transform(
                F.col(f"{lang_struct_col}.languages"),
                lambda e: F.coalesce(
                    F.element_at(mapping, e.getField("code")),
                    F.when(
                        e.getField("code").rlike("^[a-z]{3}$"), e.getField("code")
                    ),
                ),
            ),
            lambda c: c.isNotNull(),
        ),
        ",",
    )


def canonical_json_col(col: str = "json"):
    """json.loads -> json.dumps normalization of a schemaless JSON block
    (merge_cdxj.py:75-77): field order preserved, whitespace normalized to
    the Python dumps defaults (', ' / ': ' separators, ensure_ascii). The
    block is schemaless so this is a pandas UDF (a fixed StructType cannot
    express it); unparseable blocks pass through raw. The UDF is applied
    per call (one result id per use), its JVM function built once per Spark
    context."""
    return _canonical_json_udf()(F.col(col))


@per_context
def _canonical_json_udf():
    @F.pandas_udf(T.StringType())
    def _canon(vals: pd.Series) -> pd.Series:
        import json

        def one(v):
            if v is None:
                return None
            try:
                return json.dumps(json.loads(v))
            except (ValueError, TypeError):
                return v

        return vals.map(one)

    return _canon


def merge_cdxj(
    original: DataFrame,
    meta: DataFrame,
    meta_is_small: bool = True,
    canonicalize_json: bool = False,
) -> DataFrame:
    """J1+J2: left join original on (urlkey, ts); overlay the five sidecar
    fields into the original JSON block (merge_cdxj.py:59-82,30-56).

    Field-overlay fidelity:
      - mime-detected prefers python-magic over fido (:36-40);
      - charset carries only the encoding (:45-47);
      - languages become comma-joined alpha-3 codes, omitted when none
        convert (:48-52);
      - soft-404-detected only when TRUTHY — a 0.0 score present in the
        sidecar is dropped here (:53-55; SURVEY.md "subtle semantics");
      - original JSON field order preserved, sidecar fields appended — done
        by string surgery on the original block rather than re-parsing it
        into an unordered map;
      - canonicalize_json=True re-serializes MATCHED lines' original block
        through json.loads -> json.dumps (merge_cdxj.py:75-77 runs only in
        the matched branch); NON-matched lines pass through raw bytes
        (merge_cdxj.py:80-81 appends `line` verbatim) — so with
        non-canonical input spacing, only merged lines normalize, exactly
        like the reference.
    Returns (line_id, urlkey, ts, json, edited) ordered by line_id.
    """
    c = _merge_cols()
    order_col = F.col("line_id") if "line_id" in meta.columns else c["ord"]
    meta_parsed = meta.select(*c["meta"], order_col.alias("_ord"))
    # build side assumes unique keys; a duplicate key overwrites — LAST line
    # wins (merge_cdxj.py:92). row_number over desc(_ord) reproduces that.
    meta_unique = (
        meta_parsed.withColumn("_rn", c["rn"]).filter(c["last"]).select(*c["unique"])
    )

    # the reference materializes the entire build side in a driver dict
    # (merge_cdxj.py:85-93) — the distributed equivalent is a broadcast-hash
    # join, hinted explicitly because the window above hides the build
    # side's size from the planner. meta_is_small=False leaves the choice to
    # AQE (sort-merge / shuffled-hash) for merges where the metadata side
    # outgrows executor memory.
    build = F.broadcast(meta_unique) if meta_is_small else meta_unique
    joined = original.join(build, ["urlkey", "ts"], "left")

    # the block the string surgery operates on: matched lines get the
    # reference's loads->dumps normalization when requested; unmatched lines
    # never see it (their raw json is selected by the meta-null branch below,
    # so the UDF value is computed-but-unused there)
    merged_json = (
        _merged_json(canonical_json_col("json"), c["fragments"])
        if canonicalize_json
        else c["merged_json"]
    )
    return joined.select(
        *c["out_head"], merged_json.alias("json"), c["edited"]
    ).orderBy("line_id")


@per_context
def _merge_cols() -> dict:
    """merge_cdxj's columns, built once per Spark context; the JSON overlay
    is rebuilt per call only around the per-call canonicalizing UDF."""
    from pyspark.sql import Window

    mime = F.coalesce(
        F.col("meta.`Identified-Payload-Type`").getItem("python-magic"),
        F.col("meta.`Identified-Payload-Type`").getItem("fido"),
    )
    langs = alpha3_codes_col()
    soft404 = F.col("meta.`Soft-404-Detected`")

    fragments = F.concat_ws(
        ", ",
        F.when(mime.isNotNull(), F.concat(F.lit('"mime-detected": "'), mime, F.lit('"'))),
        F.when(
            F.col("meta.`Preservation-Identifier`").isNotNull(),
            F.concat(F.lit('"puid": "'), F.col("meta.`Preservation-Identifier`"), F.lit('"')),
        ),
        F.when(
            F.col("meta.`Charset-Detected`.encoding").isNotNull(),
            F.concat(
                F.lit('"charset": "'), F.col("meta.`Charset-Detected`.encoding"), F.lit('"')
            ),
        ),
        F.when(
            F.col("meta.`Languages-cld2`").isNotNull() & (F.length(langs) > 0),
            F.concat(F.lit('"languages": "'), langs, F.lit('"')),
        ),
        # truthy gate: NULL and 0.0 both drop the field (merge_cdxj.py:53)
        F.when(
            soft404.isNotNull() & (soft404 != 0.0),
            F.concat(F.lit('"soft-404-detected": '), soft404.cast("string")),
        ),
    )
    w = Window.partitionBy("urlkey", "ts").orderBy(F.desc("_ord"))
    return {
        "meta": (
            F.col("urlkey"), F.col("ts"), F.from_json("json", META_JSON_SCHEMA).alias("meta")
        ),
        "ord": F.monotonically_increasing_id(),
        "rn": F.row_number().over(w),
        "last": F.col("_rn") == 1,
        "unique": (F.col("urlkey"), F.col("ts"), F.col("meta")),
        "fragments": fragments,
        "merged_json": _merged_json(F.col("json"), fragments),
        "out_head": (F.col("line_id"), F.col("urlkey"), F.col("ts")),
        "edited": F.col("meta").isNotNull().alias("edited"),
    }


def _merged_json(base_json: Column, fragments: Column) -> Column:
    """The original JSON block with the sidecar fragments appended."""
    return F.when(F.col("meta").isNull(), F.col("json")).otherwise(
        # matched: reference re-dumps even when no field survives the
        # truthiness gates (json.dumps(updated_obj) unconditionally, :77)
        F.when(F.length(fragments) == 0, base_json)
        .when(
            F.regexp_replace(base_json, r"\s", "") == "{}",
            F.concat(F.lit("{"), fragments, F.lit("}")),
        )
        .otherwise(
            F.concat(
                F.regexp_replace(base_json, r"\}\s*$", ""),
                F.lit(", "),
                fragments,
                F.lit("}"),
            )
        )
    )


def merge_counters(merged: DataFrame) -> DataFrame:
    """A2: edited / non-edited counts (merge_cdxj.py:62-63,73,80,82)."""
    return merged.agg(
        F.sum(F.when(F.col("edited"), 1).otherwise(0)).alias("edited_count"),
        F.sum(F.when(~F.col("edited"), 1).otherwise(0)).alias("non_edited_count"),
    )


def cdxj_lines(df: DataFrame) -> DataFrame:
    """(urlkey, ts, json) -> one-column text lines for the text sink (SNK2)."""
    return df.select(F.concat_ws(" ", "urlkey", "ts", "json").alias("value"))


def lookup_cdxj(
    lines: DataFrame,
    urlkey_prefix: str,
    ts_from: str | None = None,
    ts_to: str | None = None,
) -> DataFrame:
    """Playback-style index lookup over CDXJ text lines — the cdx-server
    query shape the reference's merged index feeds (a sorted .cdxj file
    is binary-searched by pywb; merge_cdxj.py:59-82 produces exactly that
    file): urlkey-prefix match + optional timestamp-14 range, results in
    (urlkey, ts) index order.

    Scale shape: over raw text lines the P3 split (parse_cdxj_lines)
    runs first and the predicates apply post-parse — a full scan, the
    text file's cost. The production path stores the index PARSED
    (urlkey/ts/json columns, urlkey-sorted): pass such a frame directly
    and both predicates are sargable — the prefix reaches the parquet
    scan as a StringStartsWith PushedFilter and prunes row groups via
    min/max stats (the sorted text file's binary search re-expressed as
    a columnar range scan; plan-tested). Nothing shuffles until the
    final order-by of the (small) match set."""
    if "urlkey" in lines.columns:
        parsed = lines.select("urlkey", "ts", "json")
    else:
        parsed = parse_cdxj_lines(lines).drop("line_id")  # lookup results
        # are (urlkey, ts)-keyed; the file-order id is sink plumbing and
        # nondeterministic across partitionings
    out = parsed.filter(F.col("urlkey").startswith(urlkey_prefix))
    if ts_from is not None:
        out = out.filter(F.col("ts") >= ts_from)
    if ts_to is not None:
        out = out.filter(F.col("ts") <= ts_to)
    return out.orderBy("urlkey", "ts")


# --- SNK3: filename derivations (warc_metadata_sidecar.py:182-185,
# sidecar2cdxj.py:11-15, merge_cdxj.py:96-101) — driver-side naming helpers.
import re as _re


# single source of the sidecar naming rule — shared by the Python form,
# the column form (warc_export sinks) and the collision fallback
SIDECAR_FILENAME_PATTERN = r"w?arc(\.gz)?$"
SIDECAR_FILENAME_REPL = "warc.meta.gz"
COLLISION_FALLBACK_SUFFIX = ".meta.gz"


def sidecar_filename(warc_file: str) -> str:
    return _re.sub(SIDECAR_FILENAME_PATTERN, SIDECAR_FILENAME_REPL, warc_file)


def sidecar_filename_col(c):
    return F.regexp_replace(c, SIDECAR_FILENAME_PATTERN, SIDECAR_FILENAME_REPL)


def cdxj_filename(sidecar_file: str) -> str:
    return _re.sub(r"warc.meta.gz", "cdxj", sidecar_file)


def merged_cdxj_filename(warc_cdxj: str) -> str:
    return _re.sub(r"\.cdxj$", "_merged.cdxj", warc_cdxj)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "urlkey",
    ts_col: str = "ts",
    digest_col: str = "digest",
) -> DataFrame:
    """Crawl snapshot diff — the recrawl planner's NEW / CHANGED / SAME /
    GONE classification between two CDXJ-style capture sets (the
    reference's merged index is exactly this shape, merge_cdxj.py:59-82;
    the diff is the operation a recrawl pipeline runs BETWEEN two of its
    outputs and feeds frontier/recrawl.py's change history).

    Each side may carry multiple captures per urlkey: the LATEST capture
    (max ts) represents the side — resolved with ONE map-side-combinable
    max(struct(ts, digest)) aggregation per side, then a single
    full-outer equi-join on urlkey classifies:

        old only            -> gone
        new only            -> new
        digests equal       -> same
        digests differ      -> changed

    Scale shape: one shuffle per side on urlkey (both the agg and the
    join share it — AQE reuses the exchange); on urlkey-bucketed CDXJ
    parquet (the cdxj_lookup layout) the whole diff is exchange-free."""
    def latest(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy(F.col(key_col).alias("urlkey")).agg(
            F.max(F.struct(F.col(ts_col).alias("ts"), F.col(digest_col).alias("d")))[
                "d"
            ].alias(f"{tag}_digest")
        )

    o = latest(old, "old")
    n = latest(new, "new")
    joined = o.join(n, "urlkey", "full_outer")
    return joined.select(
        "urlkey",
        "old_digest",
        "new_digest",
        F.when(F.col("new_digest").isNull(), F.lit("gone"))
        .when(F.col("old_digest").isNull(), F.lit("new"))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit("same"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )
