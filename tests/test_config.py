"""Reference A1 parity: config attribute parsing (no Spark needed)."""

from __future__ import annotations

import pytest

from hbase_observer_es_spark.sources.config import SyncConfig, parse_client_info


def test_reference_example_format():
    # the install doc's format: hosts joined by '-', host:port by ':'
    assert parse_client_info("es1:9300-es2:9300-es3:9301") == [
        ("es1", 9300),
        ("es2", 9300),
        ("es3", 9301),
    ]


def test_single_host():
    assert parse_client_info("localhost:9300") == [("localhost", 9300)]


@pytest.mark.parametrize(
    "bad", ["", "  ", "host", "host:", ":9300", "h:abc", "h:0", "h:70000", "h:1:2"]
)
def test_malformed_raises(bad):
    with pytest.raises((ValueError,)):
        parse_client_info(bad)


def test_from_attrs_roundtrip():
    cfg = SyncConfig.from_attrs(
        {
            "cluster.name": "my-cluster",
            "indexName": "region_idx",
            "indexType": "doc",
            "esClientInfo": "a:9300-b:9301",
        }
    )
    assert cfg.cluster_name == "my-cluster"
    assert cfg.index_name == "region_idx"
    assert cfg.index_type == "doc"
    assert cfg.hosts == (("a", 9300), ("b", 9301))


def test_from_attrs_missing_key():
    with pytest.raises(KeyError):
        SyncConfig.from_attrs({"indexName": "x"})


def test_registry_priority_order():
    """Registry order is ``_MODULES`` order with each module's QUERIES in
    insertion order, no name twice; oracles follow the same order."""
    import importlib

    from hbase_observer_es_spark.registry import _MODULES, all_oracles, all_queries

    expected = [
        name
        for mod in _MODULES
        for name in getattr(importlib.import_module(mod), "QUERIES", {})
    ]
    qs = list(all_queries())
    assert qs == expected
    assert len(set(qs)) == len(qs)
    os_ = list(all_oracles())
    assert os_ == [n for n in qs if n in set(os_)]
