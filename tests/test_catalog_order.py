"""The catalog order is a contract: the external correctness gate
checks the first ``DRIVER_WINDOW_N`` entries, so the order must only
change on purpose.  ``CATALOG_ORDER`` is the one place it is decided;
these tests pin it by digest and check that ``catalog()`` refuses a
registry and an order list that disagree."""

from __future__ import annotations

import hashlib

import pytest

from spark_dns_spark.plans import catalog as catmod
from spark_dns_spark.plans.catalog import CATALOG_ORDER, DRIVER_WINDOW_N, catalog

#: sha256 over the newline-joined names, as ordered before the order
#: became one explicit list.
FULL_DIGEST = "61bd23f9e628deafd5260b64661118ed0e43db88208c5905c3e64ea2d1ee0374"
WINDOW_DIGEST = "7e2cbe7c05ef0618eaf710d52f0a1bb6c347a80ac3ee6ceb440d03f5628ce297"


def _digest(names) -> str:
    return hashlib.sha256("\n".join(names).encode()).hexdigest()


def test_catalog_order_digest_pinned():
    names = list(catalog())
    assert tuple(names) == CATALOG_ORDER
    assert len(set(names)) == len(names) == 195
    assert _digest(names) == FULL_DIGEST
    assert _digest(names[:DRIVER_WINDOW_N]) == WINDOW_DIGEST


def test_unplaced_registered_query_raises(monkeypatch):
    catalog()  # fill the registry before copying it
    registry = dict(catmod._REGISTRY)
    registry["brand_new_query"] = registry[CATALOG_ORDER[0]]
    monkeypatch.setattr(catmod, "_REGISTRY", registry)
    with pytest.raises(ValueError, match="brand_new_query"):
        catalog()


def test_placed_unregistered_query_raises(monkeypatch):
    catalog()
    registry = dict(catmod._REGISTRY)
    del registry[CATALOG_ORDER[-1]]
    monkeypatch.setattr(catmod, "_REGISTRY", registry)
    with pytest.raises(ValueError, match=CATALOG_ORDER[-1]):
        catalog()
