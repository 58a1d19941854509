"""N2 scale evidence (VERDICT r2 #1): per-round URL-seen anti-join shuffle
bytes must be independent of |seen|.

Controlled experiment: a fixed 20k-candidate batch anti-joins against seen
sets of growing size N, stored two ways —
  plain parquet  : the r2 layout; the seen side re-shuffles every join ->
                   shuffle bytes grow linearly with N
  bucketed table : the r3 layout (hash-bucketed by canonical_url, the
                   Iceberg bucket() analog); the seen side co-locates with
                   ZERO exchange -> shuffle bytes stay flat (candidates only)

Broadcast is disabled so the join keeps its at-scale shape (at 10^10 keys
nothing broadcasts). Shuffle bytes come from the driver's status
store (crawl.shuffle_totals). Results land in BENCH/SEEN.md.

Run: python BENCH/seen_shuffle.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import shutil
import tempfile

from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.frontier.crawl import shuffle_totals
from warc_metadata_sidecar_spark.frontier.seen import create_seen_bucketed
from warc_metadata_sidecar_spark.session import build_session

# r5 (VERDICT r4 #8): top size raised 10x to 32M rows — past any cache —
# to confirm the flat bucketed curve holds; the spread covers 160x
SIZES = [200_000, 3_200_000, 8_000_000, 32_000_000]
N_CAND = 20_000


def measure(spark, df) -> tuple[int, int]:
    before = shuffle_totals(spark)
    df.count()
    after = shuffle_totals(spark)
    return after[0] - before[0], after[1] - before[1]


def main() -> None:
    # shuffle_totals reads the driver's status store: no UI needed
    spark = build_session("seen-shuffle-bench", cpus=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    work = tempfile.mkdtemp(prefix="seen_shuffle_")
    cand = spark.range(N_CAND).select(
        F.concat(F.lit("https://h"), (F.col("id") % 50), F.lit(".example.com/p/"), F.col("id") * 3)
        .alias("canonical_url")
    ).localCheckpoint(eager=True)

    rows = []
    for n in SIZES:
        seen_df = spark.range(n).select(
            F.concat(F.lit("https://h"), (F.col("id") % 50), F.lit(".example.com/p/"), F.col("id"))
            .alias("canonical_url"),
            F.lit(0).alias("first_round"),
        )
        plain_path = os.path.join(work, f"plain_{n}")
        seen_df.write.mode("overwrite").parquet(plain_path)
        tbl = create_seen_bucketed(spark, os.path.join(work, f"buck_{n}"), seen_df)

        plain = spark.read.parquet(plain_path)
        pr, pw = measure(
            spark, cand.join(plain.select("canonical_url"), "canonical_url", "left_anti")
        )
        br, bw = measure(
            spark,
            cand.join(
                spark.table(tbl).select("canonical_url"), "canonical_url", "left_anti"
            ),
        )
        rows.append((n, pr + pw, br + bw))
        print(f"n={n}: plain shuffle {pr+pw:,} B   bucketed shuffle {br+bw:,} B")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    # --- loop-level signal: the crawl loop itself, resumed over a PRE-SEEDED
    # 2M-row seen set (the steady-state of a long crawl), 2 further rounds
    # per layout; per-round shuffle bytes come from run_crawl's own lineage
    from warc_metadata_sidecar_spark import gen
    from warc_metadata_sidecar_spark.frontier.canonical import canonicalize
    from warc_metadata_sidecar_spark.frontier.crawl import run_crawl

    N_SEEN = 2_000_000
    docs = gen.documents(spark, 5_000)
    docs_path = os.path.join(work, "loop_docs")
    docs.write.mode("overwrite").parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    seeds = gen.seed_frontier(spark, n_seeds=60)
    robots = gen.robots(spark, 50)
    big_seen = spark.range(N_SEEN).select(
        F.concat(F.lit("old://h"), (F.col("id") % 997), F.lit("/p/"), F.col("id"))
        .alias("canonical_url"),
        F.lit(0).alias("first_round"),
    )

    def loop(bucketed: bool):
        out_dir = os.path.join(work, f"loop_{bucketed}")
        # hand-build a round-0 checkpoint so the run RESUMES over big seen
        canonicalize(seeds).write.mode("overwrite").parquet(
            os.path.join(out_dir, "round=0", "frontier")
        )
        big_seen.write.mode("overwrite").parquet(
            os.path.join(out_dir, "round=0", "seen")
        )
        res = run_crawl(
            spark, docs, seeds, robots, rounds=3, universe=5_000,
            default_budget=40, skew_stats=False, use_bloom=False,
            out_dir=out_dir, bucketed_seen=bucketed,
        )
        return res.lineage

    union_rounds = loop(False)
    bucketed_rounds = loop(True)

    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "SEEN.md")
    with open(out, "w") as fh:
        fh.write(
            "# N2 URL-seen anti-join: shuffle bytes vs |seen| (VERDICT r2 #1)\n\n"
            "Fixed 20k-candidate batch, broadcast disabled (the at-scale join\n"
            "shape), local[8]. Shuffle bytes = read+write delta from the status\n"
            "API around the single anti-join action.\n\n"
            "| seen rows | plain parquet (r2 layout) | bucketed table (r3 layout) |\n"
            "|---|---|---|\n"
        )
        for n, p, b in rows:
            fh.write(f"| {n:,} | {p:,} B | {b:,} B |\n")
        growth_p = rows[-1][1] / max(rows[0][1], 1)
        growth_b = rows[-1][2] / max(rows[0][2], 1)
        span = rows[-1][0] // rows[0][0]
        fh.write(
            f"\n{span}x more seen rows -> plain shuffle grows {growth_p:.1f}x; "
            f"bucketed grows {growth_b:.2f}x (flat = candidates only).\n\n"
            "## Loop-level lineage (run_crawl RoundMetrics.shuffle_*_bytes)\n\n"
            "The crawl loop RESUMED over a pre-seeded 2,000,000-row seen set\n"
            "(steady state of a long crawl; use_bloom=False so the anti-join\n"
            "cost is undiluted), 2 further politeness rounds per layout,\n"
            "broadcast disabled. Both layouts share the frontier-proportional\n"
            "costs (rank window, dedup, repartition); the union layout\n"
            "ADDITIONALLY re-shuffles the full seen set every round.\n\n"
            "| round | seen_after | union shuffle B | bucketed shuffle B |\n"
            "|---|---|---|---|\n"
        )
        for u, b in zip(union_rounds, bucketed_rounds):
            fh.write(
                f"| {u.round} | {u.seen_after} | "
                f"{u.shuffle_read_bytes + u.shuffle_write_bytes:,} | "
                f"{b.shuffle_read_bytes + b.shuffle_write_bytes:,} |\n"
            )
        fh.write(
            "\nrun_crawl(bucketed_seen=True) is the crawl CLI default; it also\n"
            "writes O(delta) seen_delta checkpoints instead of full seen copies.\n"
        )
    print(f"wrote {out}")
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
