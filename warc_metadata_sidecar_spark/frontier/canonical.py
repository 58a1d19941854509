"""N1: URL canonicalization + host keys — pure column expressions.

canonical_url uses the same SURT key space as the CDXJ index (functions/
surt.py S1), so the frontier's URL-seen set and the index share one key
domain. priority is a pure function of the canonical URL (md5-derived), so
crawl ordering is a data property — identical on any cluster size, any
partitioning, any round (SURVEY.md §7.4).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.functions.surt import (
    host_col,
    py_host,
    py_surt,
    with_surt,
)
from warc_metadata_sidecar_spark.session import per_context

NUM_SALTS = 64


def priority_col(canonical_url: Column) -> Column:
    """Deterministic priority in [0,1): top 8 hex digits of md5, as a
    fraction of 2^32. conv() is JVM-side; no Python."""
    return F.conv(F.substring(F.md5(canonical_url), 1, 8), 16, 10).cast("double") / F.lit(
        float(1 << 32)
    )


def py_priority(canonical_url: str) -> float:
    """Bit-identical Python twin (simulator)."""
    return int(hashlib.md5(canonical_url.encode()).hexdigest()[:8], 16) / float(1 << 32)


def canonicalize(frontier: DataFrame, num_salts: int = NUM_SALTS) -> DataFrame:
    """Fill canonical_url/host/host_salt/priority from the raw url.

    host_salt spreads a hot host's rows across `num_salts` shuffle keys
    (skew control, N7): partition-level operations key on (host, host_salt)
    while politeness semantics still group by host.
    """
    # staged SURT (with_surt): intermediates evaluate once per row instead
    # of once per downstream reference — ~2x on the loop's canonicalization
    host, keys = _key_cols(num_salts)
    return with_surt(frontier, "url", "canonical_url").withColumn("host", host).withColumns(keys)


@per_context
def _key_cols(num_salts: int) -> tuple[Column, dict[str, Column]]:
    """canonicalize's host column, then its salt and priority columns, built
    once per Spark context. Host is projected on its own, so the optimizer
    computes it next to canonical_url as before; the salt and priority read
    only canonical_url and share one projection."""
    return host_col(F.col("url")), {
        "host_salt": F.pmod(F.xxhash64(F.col("canonical_url")), F.lit(num_salts)).cast("int"),
        "priority": priority_col(F.col("canonical_url")),
    }


def py_canonicalize(url: str) -> tuple[str, str, float]:
    """(canonical_url, host, priority) — simulator twin."""
    cu = py_surt(url)
    return cu, py_host(url), py_priority(cu)
