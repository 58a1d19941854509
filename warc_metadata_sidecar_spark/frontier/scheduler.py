"""N3/N4: partitioned priority queue + politeness scheduling.

Per round: dedup candidates by canonical URL, drop robots-denied paths,
then take the top-`budget` rows per host by (priority DESC, canonical_url)
via a window rank. Ordering is fully determined by data (priority is a pure
function of the canonical URL; ties break on the URL), so the schedule is
identical at any parallelism — the property the simulator equality test
pins down.

Shuffle shape: ONE exchange on host for the window (the politeness unit);
the robots join broadcasts (robots is per-host — tiny relative to the
frontier). Host skew is bounded because the per-host output is capped at
`budget` rows; the heavy *input* side of a skewed host is pre-aggregated by
the candidate dedup, which keys on canonical_url (uniform by construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.session import per_context

DEFAULT_BUDGET = 2


def dedup_candidates(candidates: DataFrame) -> DataFrame:
    """One row per canonical_url: min discovery_round, min seq, min url as
    the deterministic representative (priority/host are functions of the
    canonical URL, so any representative agrees on them)."""
    return candidates.groupBy("canonical_url").agg(*_dedup_aggs())


@per_context
def _dedup_aggs() -> tuple[Column, ...]:
    return tuple(
        F.min(c).alias(c)
        for c in ("url", "host", "host_salt", "priority", "discovery_round", "seq")
    )


def _regexify_rule(p):
    """robots path pattern -> anchored regex (RFC 9309 §2.2.3): '*' matches
    any octet sequence, a TRAILING '$' anchors the end, everything else is
    literal. Built natively from the rule column: escape regex metachars,
    then rewrite '*' and the trailing escaped '$'."""
    esc = F.regexp_replace(p, r"([.^$+?(){}\[\]\\|])", r"\\$1")
    esc = F.regexp_replace(esc, r"\*", ".*")
    # '$' must itself be escaped in a Java replacement string
    esc = F.regexp_replace(esc, r"\\\$$", r"\$")
    return F.concat(F.lit("^"), esc)


def _rule_match(path, rule):
    """Does `path` match a prepared rule struct (p, re, w)? Plain prefixes
    use startswith; wildcard/'$' rules use the regex PREcomputed once per
    rule in the broadcast build (never re-derived per candidate row)."""
    return F.when(rule["w"], F.regexp_like(path, rule["re"])).otherwise(
        path.startswith(rule["p"])
    )


def py_rule_match(path: str, p: str) -> bool:
    """Python twin of _rule_match (simulator / unit oracles)."""
    import re as _re

    if "*" in p or p.endswith("$"):
        esc = _re.escape(p).replace(r"\*", ".*")
        if esc.endswith(r"\$"):
            esc = esc[:-2] + "$"
        return _re.match(esc, path) is not None
    return path.startswith(p)


def apply_robots(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """RFC 9309 §2.2.2 longest-match rule evaluation: among a host's
    Allow/Disallow path rules matching the candidate's path (prefix,
    '*' wildcard, or '$'-anchored — §2.2.3), the MOST SPECIFIC (longest
    pattern) decides; an Allow/Disallow tie prefers Allow; no matching
    rule = allowed.

    Shuffle-free: rules collapse to one broadcast row per host carrying an
    array<struct<prefix,allowed>>; the per-row array fold resolves the
    verdict inline (struct max orders by length then allowed, so ties break
    to Allow exactly per the RFC). With deny-only tables this reduces to
    the classic any-deny-match drop."""
    c = _robots_cols()
    rules = (
        robots.filter(c["is_rule"]).select(*c["rule"]).groupBy("host").agg(c["rules"])
    )
    joined = candidates.withColumn("_path", c["path"]).join(
        F.broadcast(rules), "host", "left"
    )
    return joined.filter(c["allowed"]).drop("_rules", "_path")


@per_context
def _robots_cols() -> dict:
    """apply_robots' columns, built once per Spark context."""
    best = F.array_max(
        F.transform(
            F.filter(F.col("_rules"), lambda r: _rule_match(F.col("_path"), r)),
            lambda r: F.struct(F.length(r["p"]).alias("l"), r["a"].alias("a")),
        )
    )
    return {
        "is_rule": F.col("path_prefix").isNotNull(),
        "rule": (
            "host",
            F.col("path_prefix").alias("p"),
            F.col("allowed").alias("a"),
            # wildcard machinery resolved ONCE per rule row, before the
            # per-candidate fold ever sees it
            ((F.instr("path_prefix", "*") > 0) | F.col("path_prefix").endswith("$")).alias(
                "w"
            ),
            _regexify_rule(F.col("path_prefix")).alias("re"),
        ),
        "rules": F.collect_list(F.struct("p", "a", "w", "re")).alias("_rules"),
        # the path is hoisted to a named column so its two regexp_replace
        # calls evaluate once per candidate row — inlined in the filter
        # lambda they re-evaluate once per RULE element (r8)
        "path": F.regexp_replace(
            F.regexp_replace(F.col("url"), "^[a-zA-Z][a-zA-Z0-9+.-]*://", ""), "^[^/]*", ""
        ),
        "allowed": best.isNull() | best["a"],
    }


def host_budgets(robots: DataFrame, default_budget: int = DEFAULT_BUDGET) -> DataFrame:
    """(host, budget, crawl_delay_s) from the allow rows (path_prefix null)."""
    c = _budget_cols(default_budget)
    return (
        robots.filter(c["is_allow"]).groupBy("host").agg(*c["aggs"])
        .withColumn("budget", c["budget"])
    )


@per_context
def _budget_cols(default_budget: int) -> dict:
    return {
        "is_allow": F.col("allowed") & F.col("path_prefix").isNull(),
        "aggs": (F.min("budget").alias("budget"), F.min("crawl_delay_s").alias("crawl_delay_s")),
        "budget": F.coalesce("budget", F.lit(default_budget)),
    }


def select_round(
    candidates: DataFrame,
    robots: DataFrame,
    default_budget: int = DEFAULT_BUDGET,
    round_no: int | None = None,
    prune_salts: int | None = None,
) -> DataFrame:
    """The politeness-aware per-round selection.

    crawl-delay semantics: one round = one base politeness interval; a host
    with crawl_delay_s = k is eligible only when round_no % k == 0 (the
    deterministic-time analog of per-host delay — no wall-clock in the plan,
    SURVEY.md N4). round_no=None (single-shot use) skips the gate.

    prune_salts enables EXACT two-phase top-k for mega-hosts — see
    rank_round, which this wraps.
    """
    ranked = rank_round(candidates, robots, default_budget, round_no, prune_salts)
    return ranked.filter(F.col("scheduled")).drop("eligible", "scheduled")


def rank_round(
    candidates: DataFrame,
    robots: DataFrame,
    default_budget: int = DEFAULT_BUDGET,
    round_no: int | None = 0,
    prune_salts: int | None = None,
) -> DataFrame:
    """The full ranked frame for one round, with a `scheduled` flag instead
    of a split — callers checkpoint THIS once and derive selected/carryover
    as cheap filters over it (one action per round, not two).

    prune_salts (VERDICT r2 #2) bounds the mega-host straggler: phase 1
    ranks within (host, salt) subgroups and only the per-subgroup top-budget
    rows enter the final per-host window, so its single-task sort input is
    <= budget*salts per host instead of the host's whole candidate list.
    EXACT by top-k containment: a row ranked below `budget` inside its salt
    subgroup has >= budget better rows on its host, so it could never be
    scheduled — phase-1-pruned rows re-enter the output unchanged with
    scheduled=false / rnk=null, i.e. they ARE carryover, and the crawl
    loop's schedule and queue are identical with or without pruning
    (pinned by tests).

    round_no=None (stateless use) skips the crawl-delay eligibility gate.
    """
    deduped = dedup_candidates(candidates)
    allowed = apply_robots(deduped, robots)
    budgets = host_budgets(robots, default_budget)
    c = _rank_cols(default_budget, prune_salts if prune_salts and prune_salts > 1 else None)
    ranked = allowed.join(F.broadcast(budgets), "host", "left").withColumns(
        {
            "budget": c["budget"],
            "crawl_delay_s": c["delay"],
            # the crawl-delay gate is the one per-round expression
            "eligible": F.lit(True) if round_no is None else F.lit(round_no) % c["delay"] == 0,
        }
    )
    pruned = None
    if "prnk" in c:
        ranked = ranked.withColumn("_prnk", c["prnk"])
        pruned = (
            ranked.filter(c["pruned"]).drop("_prnk")
            .withColumns({"rnk": c["no_rnk"], "scheduled": c["unscheduled"]})
        )
        ranked = ranked.filter(c["kept"]).drop("_prnk")
    out = ranked.withColumn("rnk", c["rnk"]).withColumn("scheduled", c["scheduled"])
    if pruned is not None:
        out = out.unionByName(pruned)
    return out.drop("budget", "crawl_delay_s")


@per_context
def _rank_cols(default_budget: int, prune_salts: int | None) -> dict:
    """rank_round's columns, built once per Spark context and setting."""
    order = (F.desc("priority"), F.asc("canonical_url"))
    c = {
        "budget": F.coalesce("budget", F.lit(default_budget)),
        "delay": F.coalesce("crawl_delay_s", F.lit(1)),
        "rnk": F.row_number().over(Window.partitionBy("host").orderBy(*order)),
        "scheduled": F.col("eligible") & (F.col("rnk") <= F.col("budget")),
    }
    if prune_salts:
        wp = Window.partitionBy(
            "host", F.pmod(F.xxhash64("canonical_url"), F.lit(prune_salts))
        ).orderBy(*order)
        c |= {
            "prnk": F.row_number().over(wp),
            "pruned": F.col("_prnk") > F.col("budget"),
            "kept": F.col("_prnk") <= F.col("budget"),
            "no_rnk": F.lit(None).cast("int"),
            "unscheduled": F.lit(False),
        }
    return c
