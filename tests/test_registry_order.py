"""Pin the registry's exact query order and oracle key set.

The driver records correctness rows for the first 50 ``queries()``
entries, so the order of ``QUERIES`` is part of the contract, not an
accident of import order. These hashes pin today's full order (the
50-query driver window plus the tail) and the DuckDB-twin key set; a
deliberate driver-window rotation updates them in the same change.
"""

from __future__ import annotations

import hashlib
import importlib
import pkgutil

from etl_building_inspector_spark import plans
from etl_building_inspector_spark.plans.registry import ORACLES, QUERIES

QUERIES_SHA256 = "23fd138dcfceeded418b9775f02f5b6030b42bff1fbe6df7a57762f7e7a23829"
ORACLES_SHA256 = "61256adeff01d35a79bff3d0191e39b61f20725d687882e70a4a25cfb6577e3c"


def _sha256(names) -> str:
    return hashlib.sha256("\n".join(names).encode()).hexdigest()


def test_query_order_is_pinned():
    assert len(QUERIES) == 364
    assert _sha256(QUERIES) == QUERIES_SHA256


def test_oracle_keys_are_pinned():
    assert len(ORACLES) == 360
    assert _sha256(sorted(ORACLES)) == ORACLES_SHA256


def test_every_query_is_wrapped():
    unwrapped = [n for n, fn in QUERIES.items() if not hasattr(fn, "__wrapped__")]
    assert not unwrapped


def test_no_query_is_registered_by_two_modules():
    owner: dict[str, str] = {}
    dupes = []
    for info in pkgutil.iter_modules(plans.__path__):
        if not info.name.startswith("queries_"):
            continue
        mod = importlib.import_module(f"{plans.__name__}.{info.name}")
        for name in mod.QUERIES:
            if name in owner:
                dupes.append((name, owner[name], info.name))
            owner[name] = info.name
    assert not dupes
    assert set(owner) == set(QUERIES)
