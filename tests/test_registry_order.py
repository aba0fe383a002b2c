"""The registry order is data. ``queries()`` must list exactly the names
in ``registry_order.txt``, in that order, and that list only grows at
its end. The driver samples the first keys of ``queries()``, so a
registration placed above an older one, or a reordered module import,
would silently move the sample."""

from __future__ import annotations

import hashlib
from pathlib import Path

import __spark_entry__ as contract

ORDER = Path(__file__).with_name("registry_order.txt")

# (length, sha256 of the first ``length`` lines) for each published
# list. Appending names keeps every entry valid; add an entry when the
# list grows.
PUBLISHED = [
    (243, "43af4e788c157d5a32f984bff27cf90e47aaef349cd8aafaaa4e4c3bf1bce72c"),
]


def _names() -> list[str]:
    return ORDER.read_text().splitlines()


def test_queries_order_equals_the_checked_in_list():
    names = _names()
    assert len(set(names)) == len(names)
    assert list(contract.queries()) == names


def test_checked_in_list_only_grows_by_appending():
    names = _names()
    for length, digest in PUBLISHED:
        head = "".join(f"{n}\n" for n in names[:length])
        assert len(names) >= length
        assert hashlib.sha256(head.encode()).hexdigest() == digest, (
            f"the first {length} registry names changed: append new names at the end"
        )
