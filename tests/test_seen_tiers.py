"""Cuckoo overflow tier + sharded filters-table tests (north rule N2)."""

import inspect
import warnings

from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.frontier import seen as seen_mod
from warc_metadata_sidecar_spark.frontier.seen import (
    CuckooFilter,
    TieredSeenFilter,
    _shard_of,
    deserialize_tiered,
    filter_new,
    serialize_tiered,
    shard_expr,
    update_filter_shards,
)


def _probe(filters, num_shards=32):
    """Membership test over collected shard states, routed like the build."""
    states = {r.shard: deserialize_tiered(bytes(r.state)) for r in filters.collect()}

    def might_contain(url):
        t = states.get(_shard_of(url, num_shards))
        return t is not None and t.might_contain(url)

    return might_contain


def test_cuckoo_no_false_negatives():
    c = CuckooFilter(num_buckets=1 << 10)
    urls = [f"com,host{i % 37})/p/{i}" for i in range(2000)]
    for u in urls:
        c.add(u)
    assert all(c.might_contain(u) for u in urls)


def test_cuckoo_low_false_positive_rate():
    c = CuckooFilter(num_buckets=1 << 12)
    for i in range(2000):
        c.add(f"com,a)/{i}")
    fp = sum(1 for i in range(10000) if c.might_contain(f"org,b)/{i}"))
    assert fp / 10000 < 0.05


def test_tiered_filter_spills_and_never_drops():
    t = TieredSeenFilter(num_bits=1 << 12, spill_at=0.5)  # tiny bloom: forces spill
    urls = [f"edu,unt)/page/{i}" for i in range(5000)]
    for u in urls:
        t.add(u)
    assert t._adds > t._spill_after  # overflow tier actually engaged
    assert all(t.might_contain(u) for u in urls)


def test_tiered_filter_prefilter_semantics():
    # the tier is a PREFILTER: false positives allowed (resolved by the
    # exact anti-join), false negatives never
    t = TieredSeenFilter(num_bits=1 << 14)
    seen = [f"com,x)/{i}" for i in range(1000)]
    for u in seen:
        t.add(u)
    novel = [f"net,y)/{i}" for i in range(1000)]
    hits = sum(1 for u in novel if t.might_contain(u))
    assert hits < 500  # mostly cleared without the anti-join


def test_serialize_roundtrip_preserves_membership():
    t = TieredSeenFilter(num_bits=1 << 12, spill_at=0.5)  # tiny: forces spill
    urls = [f"edu,unt)/page/{i}" for i in range(4000)]
    for u in urls:
        t.add(u)
    t2 = deserialize_tiered(serialize_tiered(t))
    assert t2._adds == t._adds and t2._spill_after == t._spill_after
    assert all(t2.might_contain(u) for u in urls)
    # identical decisions on non-members too (bit-exact state)
    probes = [f"org,x)/{i}" for i in range(2000)]
    assert [t.might_contain(p) for p in probes] == [t2.might_contain(p) for p in probes]


def test_shard_expr_matches_python_twin(spark):
    urls = [f"com,host{i % 7})/p/{i}" for i in range(200)]
    df = spark.createDataFrame([(u,) for u in urls], ["canonical_url"])
    got = df.select("canonical_url", shard_expr(F.col("canonical_url"), 32).alias("s")).collect()
    for r in got:
        assert r.s == _shard_of(r.canonical_url, 32)


def test_sharded_build_is_executor_side(spark):
    # the r1 scale-killer was the build streaming every key through the
    # driver via toLocalIterator — assert the key path no longer exists,
    # nor a driver collect or broadcast of the filter states
    src = inspect.getsource(seen_mod)
    for driver_path in ("toLocalIterator", ".collect()", ".broadcast("):
        assert driver_path not in src
    urls = [f"com,x)/{i}" for i in range(3000)]
    df = spark.createDataFrame([(u,) for u in urls], ["canonical_url"])
    might_contain = _probe(update_filter_shards(spark, df, num_bits=1 << 12))
    assert all(might_contain(u) for u in urls)  # no false negatives


def test_incremental_update_equals_from_scratch(spark):
    # fold delta into existing shards == build from the union: the per-round
    # update path must be membership-equivalent to a full rebuild
    first = [f"com,a)/{i}" for i in range(1500)]
    delta = [f"net,b)/{i}" for i in range(1500)]
    df1 = spark.createDataFrame([(u,) for u in first], ["canonical_url"])
    df2 = spark.createDataFrame([(u,) for u in delta], ["canonical_url"])
    base = update_filter_shards(spark, df1, None, num_bits=1 << 12).localCheckpoint()
    updated = _probe(update_filter_shards(spark, df2, base, num_bits=1 << 12))
    scratch = _probe(
        update_filter_shards(spark, df1.unionByName(df2), None, num_bits=1 << 12)
    )
    for u in first + delta:
        assert updated(u)
    probes = [f"org,z)/{i}" for i in range(2000)]
    # same per-shard insertion order (shard hash is order-independent here
    # because each url appears once) -> bit-identical decisions
    assert sum(updated(p) for p in probes) < 300
    assert sum(scratch(p) for p in probes) < 300


def test_update_touches_only_delta_shards(spark):
    # shards with no delta keys pass through byte-identically — the property
    # that makes per-round cost O(delta + shards), not O(seen)
    first = [f"com,a)/{i}" for i in range(1000)]
    df1 = spark.createDataFrame([(u,) for u in first], ["canonical_url"])
    base = update_filter_shards(spark, df1, None, num_shards=8, num_bits=1 << 12).localCheckpoint()
    one_key = spark.createDataFrame([("net,delta)/only",)], ["canonical_url"])
    target_shard = _shard_of("net,delta)/only", 8)
    updated = update_filter_shards(spark, one_key, base, num_shards=8, num_bits=1 << 12)
    before = {r.shard: bytes(r.state) for r in base.collect()}
    after = {r.shard: bytes(r.state) for r in updated.collect()}
    assert set(before) == set(after)
    for shard in before:
        if shard == target_shard:
            assert before[shard] != after[shard]
        else:
            assert before[shard] == after[shard]


def test_shardjoin_lookup_equals_broadcast_lookup(spark):
    """The executor-side shard-join probe returns exactly what probing the
    collected shard states on the driver (the old broadcast lookup) and
    resolving its maybe-seen rows exactly would return, and both equal the
    plain exact anti-join."""
    url = F.concat(F.lit("https://h"), F.col("id") % 9, F.lit("/p/"), F.col("id"))
    cand = spark.range(600).select(url.alias("canonical_url"), (F.col("id") % 9).alias("extra"))
    seen = spark.range(0, 600, 3).select(url.alias("canonical_url"))
    filters = update_filter_shards(spark, seen)
    via_shardjoin = {
        (r.canonical_url, r.extra) for r in filter_new(spark, cand, seen, filters).collect()
    }
    might_contain = _probe(filters)
    seen_keys = {r.canonical_url for r in seen.collect()}
    via_broadcast = {
        (r.canonical_url, r.extra)
        for r in cand.collect()
        if not (might_contain(r.canonical_url) and r.canonical_url in seen_keys)
    }
    exact = {
        (r.canonical_url, r.extra)
        for r in cand.join(seen, "canonical_url", "left_anti").collect()
    }
    assert via_shardjoin == via_broadcast == exact and exact


def test_filter_state_compression_and_legacy_compat():
    """r3: shard states serialize zlib-compressed (sparse bitmaps -> ~KB per
    shard for the shuffle/collect/checkpoint paths) and still read the
    uncompressed TSF1 layout from r2 checkpoints."""
    import struct

    import numpy as np

    from warc_metadata_sidecar_spark.frontier.seen import (
        TieredSeenFilter,
        deserialize_tiered,
        serialize_tiered,
    )

    t = TieredSeenFilter()
    for i in range(2000):
        t.add(f"https://h{i % 50}.example.com/p/{i}")
    blob = serialize_tiered(t)
    assert blob[:4] == b"TSFZ"
    assert len(blob) < t.bloom.num_bits // 8  # genuinely compressed
    t2 = deserialize_tiered(blob)
    assert t2.bloom.bits.tobytes() == t.bloom.bits.tobytes()
    assert t2._adds == t._adds
    assert serialize_tiered(t2) == blob  # deterministic re-serialization
    # r2 (TSF1, raw) states still deserialize
    ov = np.array(sorted(t.cuckoo.overflowed), dtype=np.uint16)
    legacy = (
        b"TSF1"
        + struct.pack(
            "<QQQQQQQ",
            t.bloom.num_bits, t.bloom.num_hashes, t._adds, t._spill_after,
            t.cuckoo.num_buckets, t.cuckoo.slots, len(ov),
        )
        + t.bloom.bits.tobytes() + t.cuckoo.table.tobytes() + ov.tobytes()
    )
    t3 = deserialize_tiered(legacy)
    assert t3.bloom.bits.tobytes() == t.bloom.bits.tobytes()


def test_grouped_applies_raise_no_type_hint_warning(spark):
    """PySpark infers a grouped apply's eval type from its function's type
    hints and warns on every call when only some parameters carry one; the
    crawl loop builds these plans every round."""
    seen = spark.createDataFrame([(f"com,a)/{i}",) for i in range(50)], ["canonical_url"])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        filters = update_filter_shards(spark, seen)
        filters = update_filter_shards(spark, seen, filters)
        filter_new(spark, seen, seen, filters).collect()
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]
