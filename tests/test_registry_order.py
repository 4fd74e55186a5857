"""Pins the driver contract's name lists byte for byte.

``queries()`` and ``oracle_sql()`` are consumed in order: the driver
contract's correctness gate checks the first 50 ``queries()`` entries
against their oracles, so a reorder changes what is gated even when
every entry still exists. The hashes below are sha256 of the names
joined by newlines.
"""

import hashlib

import __spark_entry__ as E

QUERIES_SHA256 = (
    "ec232be9762d56794baf95326ad317d0fe717369475669c641d24f6867365ecb"
)
ORACLES_SHA256 = (
    "0bd686ba3aed7a72d5d52002987397bb19499b1bb23f3cd518d27e0ac833da4c"
)


def _check(names, count, digest):
    got = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert (len(names), got) == (count, digest), (
        "name list moved; current order:\n" + "\n".join(names)
    )


def test_queries_order_pinned():
    _check(list(E.queries()), 146, QUERIES_SHA256)


def test_oracle_order_pinned():
    _check(list(E.oracle_sql()), 145, ORACLES_SHA256)
