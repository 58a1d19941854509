"""The driver query registry: each name is declared once, and queries() /
oracle_sql() are built from it alone."""

import pytest

from warc_metadata_sidecar_spark import driver_queries as dq


def test_registering_a_name_twice_raises():
    before = dq._QUERIES["tpch_q1"]
    with pytest.raises(ValueError, match="tpch_q1"):
        dq._register("tpch_q1", template="SELECT 1 AS x")
    assert dq._QUERIES["tpch_q1"] is before

    dq._register("_registry_probe", template="SELECT 1 AS x")
    try:
        with pytest.raises(ValueError, match="_registry_probe"):
            dq._register("_registry_probe", engine=dq.flagship_sidecar, oracle="tpch_q1")
        assert dq._QUERIES["_registry_probe"].template == "SELECT 1 AS x"
    finally:
        del dq._QUERIES["_registry_probe"]


def test_a_query_without_template_needs_engine_and_oracle():
    with pytest.raises(ValueError):
        dq._register("_registry_probe", engine=dq.flagship_sidecar)
    assert "_registry_probe" not in dq._QUERIES


def test_every_query_has_an_engine_and_an_oracle():
    assert set(dq.queries()) == set(dq._QUERIES)
    assert len(dq._QUERIES) == 111
    for name, q in dq._QUERIES.items():
        if q.oracle is None or isinstance(q.oracle, str):
            assert dq._QUERIES[q.oracle or name].template is not None, name
        else:
            assert callable(q.oracle), name
