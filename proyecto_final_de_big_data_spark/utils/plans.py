"""Plan text and the claims a query makes about it.

``plan_text(df)`` is the one place the package, its tests and its tools
read a plan: ``explain`` prints rather than returns, so it captures
stdout. A registered query states what its physical plan relies on
(``register(..., claims=...)``) as properties of that text:

- ``has(*s)``: every string appears;
- ``lacks(*s)``: no string appears;
- ``has_any(*s)``: at least one string appears;
- ``count(s, lo=None, hi=None)``: ``s`` appears between ``lo`` and
  ``hi`` times, both inclusive.

Formatted mode prints each node twice, once in the tree (``Exchange
(8)``) and once as a detail header (``(8) Exchange``), so a count of
``") Exchange"`` counts nodes and one of ``"Exchange"`` counts both
mentions. ``check(df, claims)`` names the claims that fail; claims are
inert data, evaluated only by the test that walks the catalog and by
``tools/plan_audit.py``.
"""

from __future__ import annotations

import contextlib
import io
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    """What ``df.explain(mode)`` prints."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@dataclass(frozen=True)
class Claim:
    """One property of a plan's text. ``miss(text)`` is None when it
    holds, else what was found instead; ``repr`` reads as the call that
    made it."""

    label: str
    miss: Callable[[str], str | None]

    def __repr__(self) -> str:
        return self.label


def _label(kind: str, strings: tuple[str, ...], **bounds: int | None) -> str:
    args = [repr(s) for s in strings] + [f"{k}={v}" for k, v in bounds.items() if v is not None]
    return f"{kind}({', '.join(args)})"


def has(*s: str) -> Claim:
    def miss(text: str) -> str | None:
        gone = [x for x in s if x not in text]
        return f"missing {gone}" if gone else None

    return Claim(_label("has", s), miss)


def lacks(*s: str) -> Claim:
    def miss(text: str) -> str | None:
        found = [x for x in s if x in text]
        return f"found {found}" if found else None

    return Claim(_label("lacks", s), miss)


def has_any(*s: str) -> Claim:
    return Claim(_label("has_any", s), lambda text: None if any(x in text for x in s) else "found none")


def count(s: str, lo: int | None = None, hi: int | None = None) -> Claim:
    def miss(text: str) -> str | None:
        n = text.count(s)
        return f"found {n}" if (lo is not None and n < lo) or (hi is not None and n > hi) else None

    return Claim(_label("count", (s,), lo=lo, hi=hi), miss)


def check(df: DataFrame, claims: Iterable[Claim]) -> list[str]:
    """``"<claim>: <what was found>"`` for every claim ``df``'s formatted
    plan breaks; empty when all hold."""
    text = plan_text(df)
    return [f"{c!r}: {m}" for c in claims if (m := c.miss(text)) is not None]
