"""Layered Bloom filter + sharded filters-table tests (north rule N2)."""

import inspect
import warnings

import numpy as np
from pyspark.sql import functions as F

from warc_metadata_sidecar_spark.frontier import seen as seen_mod
from warc_metadata_sidecar_spark.frontier.seen import (
    FILTERS_SCHEMA,
    SeenFilter,
    _shard_of,
    filter_new,
    hash_expr,
    read_filters,
    shard_expr,
    update_filter_shards,
    write_filters,
)


def _hashes(n, seed):
    return np.random.default_rng(seed).integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


def _probe(spark, filters, urls, num_shards=32):
    """Membership of `urls` over the collected shard states, routed and
    hashed like the build (the hashes are computed by Spark)."""
    states = {r.shard: SeenFilter.from_bytes(bytes(r.state)) for r in filters.collect()}
    rows = (
        spark.createDataFrame([(u,) for u in urls], ["u"])
        .select("u", hash_expr(F.col("u")).alias("h"))
        .collect()
    )
    hits = {}
    for r in rows:
        f = states.get(_shard_of(r.u, num_shards))
        hits[r.u] = f is not None and bool(f.might_contain([r.h])[0])
    return [hits[u] for u in urls]


def test_seen_filter_no_false_negatives():
    f = SeenFilter()
    keys = _hashes(2000, 0)
    f.add(keys)
    assert f.might_contain(keys).all()


def test_seen_filter_low_false_positive_rate():
    f = SeenFilter()
    f.add(_hashes(2000, 0))
    assert f.might_contain(_hashes(10000, 1)).mean() < 0.02


def test_tiered_filter_spills_and_never_drops():
    # keys arriving in rounds fill a layer, then spill into a new, larger
    # layer (one more hash each); no key is ever lost
    f = SeenFilter()
    keys = _hashes(5000, 0)
    for chunk in np.array_split(keys, 50):
        f.add(chunk)
    caps = [layer[0] for layer in f.layers]
    assert len(caps) > 2 and all(b >= a for a, b in zip(caps, caps[1:]))
    assert [layer[2] for layer in f.layers] == list(range(7, 7 + len(caps)))
    assert f.adds == 5000
    assert f.might_contain(keys).all()


def test_tiered_filter_prefilter_semantics():
    # the filter is a PREFILTER: false positives allowed (resolved by the
    # exact anti-join), false negatives never; the layered total stays
    # under twice layer 0's rate however many layers grow
    f = SeenFilter()
    for chunk in np.array_split(_hashes(20000, 0), 200):
        f.add(chunk)
    assert f.might_contain(_hashes(20000, 1)).mean() < 0.03
    # sized to its keys: 50 keys take a ~100-byte state
    small = SeenFilter()
    small.add(_hashes(50, 2))
    assert len(small.to_bytes()) < 200


def test_serialize_roundtrip_preserves_membership():
    f = SeenFilter()
    keys = _hashes(4000, 0)
    for chunk in np.array_split(keys, 9):
        f.add(chunk)
    f2 = SeenFilter.from_bytes(f.to_bytes())
    assert f2.adds == f.adds and len(f2.layers) == len(f.layers)
    assert f2.might_contain(keys).all()
    # identical decisions on non-members too (bit-exact state)
    probes = _hashes(2000, 1)
    assert (f.might_contain(probes) == f2.might_contain(probes)).all()
    # the state does not depend on the order keys arrive in
    g = SeenFilter()
    for chunk in np.array_split(keys, 9):
        g.add(chunk[::-1])
    assert g.to_bytes() == f.to_bytes()


def test_sliced_hashing_matches_one_pass(monkeypatch):
    """add and might_contain work through the hashes in bounded slices; the
    slice size changes neither the state nor any answer."""
    keys, probes = _hashes(3000, 0), _hashes(3000, 1)
    whole = SeenFilter()
    whole.add(keys)
    monkeypatch.setattr(seen_mod, "SLICE", 7)
    sliced = SeenFilter()
    sliced.add(keys)
    assert sliced.to_bytes() == whole.to_bytes()
    assert sliced.might_contain(keys).all()
    assert (sliced.might_contain(probes) == whole.might_contain(probes)).all()


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
    assert all(_probe(spark, update_filter_shards(spark, df), urls))  # no false negatives


def test_incremental_update_equals_from_scratch(spark):
    # fold delta into existing shards == build from the union: the per-round
    # update path must be membership-equivalent to a full rebuild
    first = [f"com,a)/{i}" for i in range(1500)]
    delta = [f"net,b)/{i}" for i in range(1500)]
    df1 = spark.createDataFrame([(u,) for u in first], ["canonical_url"])
    df2 = spark.createDataFrame([(u,) for u in delta], ["canonical_url"])
    base = update_filter_shards(spark, df1, None).localCheckpoint()
    updated = update_filter_shards(spark, df2, base)
    scratch = update_filter_shards(spark, df1.unionByName(df2), None)
    assert all(_probe(spark, updated, first + delta))
    assert all(_probe(spark, scratch, first + delta))
    probes = [f"org,z)/{i}" for i in range(2000)]
    assert sum(_probe(spark, updated, probes)) < 60
    assert sum(_probe(spark, scratch, probes)) < 60
    assert sum(r.adds for r in updated.collect()) == 3000


def test_update_touches_only_delta_shards(spark):
    # shards with no delta keys pass through byte-identically — the property
    # that makes per-round cost O(delta + shards), not O(seen)
    first = [f"com,a)/{i}" for i in range(1000)]
    df1 = spark.createDataFrame([(u,) for u in first], ["canonical_url"])
    base = update_filter_shards(spark, df1, None, num_shards=8).localCheckpoint()
    one_key = spark.createDataFrame([("net,delta)/only",)], ["canonical_url"])
    target_shard = _shard_of("net,delta)/only", 8)
    updated = update_filter_shards(spark, one_key, base, num_shards=8)
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
    rows = cand.collect()
    maybe = _probe(spark, filters, [r.canonical_url for r in rows])
    seen_keys = {r.canonical_url for r in seen.collect()}
    via_broadcast = {
        (r.canonical_url, r.extra)
        for r, m in zip(rows, maybe)
        if not (m and r.canonical_url in seen_keys)
    }
    exact = {
        (r.canonical_url, r.extra)
        for r in cand.join(seen, "canonical_url", "left_anti").collect()
    }
    assert via_shardjoin == via_broadcast == exact and exact


def test_filter_state_compression_and_legacy_compat(spark, tmp_path):
    """Shard states serialize zlib-compressed and deterministically. A
    bloom+cuckoo state of an older checkpoint (TSF1 raw, TSFZ compressed)
    is never misread: deserializing, probing or updating it raises, and a
    snapshot of them reads as absent (no marker), so run_crawl rebuilds it
    from seen on resume
    (test_frontier.test_crawl_resume_rebuilds_legacy_filter_states)."""
    import struct
    import zlib

    import pytest

    f = SeenFilter()
    f.add(_hashes(2000, 0))
    f.add(_hashes(1, 1))  # a fresh layer holding one key: mostly zero bytes
    blob = f.to_bytes()
    assert blob[:4] == b"LBF1"
    assert len(blob) < sum(len(layer[3]) for layer in f.layers)  # genuinely compressed
    assert SeenFilter.from_bytes(blob).to_bytes() == blob  # deterministic re-serialization

    # the older layout: header (bits, hashes, adds, spill_after, cuckoo
    # buckets, slots, overflow count) + bloom bitmap + cuckoo table
    header = struct.pack("<QQQQQQQ", 1 << 10, 5, 3, 100, 1 << 4, 4, 0)
    body = bytes(1 << 7) + bytes((1 << 4) * 4 * 2)
    legacy = {b"TSF1": b"TSF1" + header + body, b"TSFZ": b"TSFZ" + header + zlib.compress(body)}
    for blob in legacy.values():
        with pytest.raises(ValueError, match="rebuild the filters from seen"):
            SeenFilter.from_bytes(blob)

    url = F.concat(F.lit("https://h"), F.col("id") % 9, F.lit("/p/"), F.col("id"))
    cand = spark.range(300).select(url.alias("canonical_url"))
    seen = spark.range(0, 300, 3).select(url.alias("canonical_url"))
    old = spark.createDataFrame(
        [(s, bytearray(legacy[b"TSF1" if s % 2 else b"TSFZ"]), 3) for s in range(32)],
        FILTERS_SCHEMA,
    )
    with pytest.raises(Exception, match="rebuild the filters from seen"):
        filter_new(spark, cand, seen, old).collect()
    with pytest.raises(Exception, match="rebuild the filters from seen"):
        update_filter_shards(spark, cand, old).collect()

    # snapshots: an older one (no marker) reads as absent, a written one
    # reads back state for state
    old.write.parquet(str(tmp_path / "old"))
    assert read_filters(spark, str(tmp_path / "old")) is None
    assert read_filters(spark, str(tmp_path / "missing")) is None
    built = update_filter_shards(spark, seen)
    back = write_filters(spark, built, str(tmp_path / "new"))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, built.collect()))


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
