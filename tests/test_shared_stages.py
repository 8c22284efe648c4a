"""A shared stage is cut by a lazy ``localCheckpoint`` (the rule in the
``catalog`` module docstring): no operator or streaming module calls
``persist()`` or ``cache()``, which would leave blocks to release."""

from __future__ import annotations

import pathlib
import re

import pytest

_PKG = pathlib.Path(__file__).resolve().parent.parent / "presto_db_spark"
_CALL = re.compile(r"\.persist\(|\.cache\(\)")


@pytest.mark.parametrize("package", ["operators", "streaming"])
def test_no_persist_or_cache_calls(package):
    hits = [
        f"{path.relative_to(_PKG)}:{no}: {line.strip()}"
        for path in sorted((_PKG / package).glob("*.py"))
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if _CALL.search(line)
    ]
    assert not hits, hits
