"""The package's house idioms, checked in its source:

- a session setting changes only through ``utils/settings.py``
  (temporary) or the two places that must set one for good:
  ``catalog.py`` (read settings) and ``io/pydatasource.py`` (filter
  pushdown, read when a later read is planned);
- a partition count is read from the plan (``winnow.spread_for_fanout``),
  never probed with ``getNumPartitions``, which runs an adaptive
  input's query stages;
- a frame is kept alive only through ``utils/caching.py`` (``pin`` and
  ``scope``).
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "proyecto_final_de_big_data_spark"

RULES = {
    "session setting": (
        re.compile(r"spark\.conf\.(set|unset)\b"),
        {"utils/settings.py", "catalog.py", "io/pydatasource.py"},
    ),
    "partition-count probe": (re.compile(r"getNumPartitions"), set()),
    "cache lifetime": (
        re.compile(r"\.persist\(|\.unpersist\(|\.cache\(\)|localCheckpoint\("),
        {"utils/caching.py"},
    ),
}


def _sources():
    return sorted(PACKAGE.rglob("*.py"))


def test_package_sources_found():
    assert len(_sources()) > 100


@pytest.mark.parametrize("rule", sorted(RULES))
def test_idiom_lives_in_one_place(rule):
    pattern, allowed = RULES[rule]
    hits = [
        f"{rel}:{n}: {line.strip()}"
        for path in _sources()
        if (rel := path.relative_to(PACKAGE).as_posix()) not in allowed
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, f"{rule} outside {sorted(allowed)}:\n" + "\n".join(hits)
