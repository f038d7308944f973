"""The SQL front door's one lexical rule for "top level".

Calcite lexes a statement once, with one grammar (Parser.jj via
SqlParser.parseStmt). The text rewrites in ``sql.py``, ``sql_match.py``
and ``plans/sql_substitution.py`` stay token scans, but they all ask
this module where a bracket closes and which separators sit at the top
level, so every pass agrees on one rule:

- ``(``…``)`` and ``[``…``]`` nest;
- nothing inside ``'…'``, ``"…"`` or ```…``` counts, and a doubled
  quote inside its own kind of quotes is an escape.

Depth is counted before a position's character, so a top-level ``(``
sits at depth 0 and so does a stray closer that ends an enclosing group
the scanned text does not include.
"""

from __future__ import annotations

import re
from bisect import bisect_left

_QUOTED = r"'(?:[^']|'')*'?|\"(?:[^\"]|\"\")*\"?|`(?:[^`]|``)*`?"
_LEX = re.compile(rf"{_QUOTED}|[()\[\]]")
_PAIRS = {"(": ")", "[": "]"}
_BRACKETS = frozenset("()[]")


def _lex(text: str):
    """One left-to-right pass: the unquoted bracket positions, the depth
    before each of them plus the depth at the end of the text, and the
    quoted spans."""
    brackets, depths, quoted, d = [], [], [], 0
    for m in _LEX.finditer(text):
        c = m.group()
        if c in _BRACKETS:
            brackets.append(m.start())
            depths.append(d)
            d += 1 if c in _PAIRS else -1
        else:
            quoted.append(m.span())
    depths.append(d)
    return brackets, depths, quoted


def string_mask(text: str) -> "list[bool]":
    """mask[i] is True when text[i] sits inside a quoted literal or
    identifier, the quotes included."""
    mask = [False] * len(text)
    for s, e in _lex(text)[2]:
        mask[s:e] = [True] * (e - s)
    return mask


def partner(text: str, i: int) -> "int | None":
    """Index of the bracket matching the one at ``i`` (forward from an
    opener, backward from a closer); None when ``text[i]`` is not an
    unquoted bracket or the text is unbalanced there."""
    brackets, depths, _ = _lex(text)
    k = bisect_left(brackets, i)
    if k == len(brackets) or brackets[k] != i:
        return None

    def level(j: int) -> int:  # an opener and its closer share a level
        return depths[j] if text[brackets[j]] in _PAIRS else depths[j + 1]

    forward = text[i] in _PAIRS
    steps = range(k + 1, len(brackets)) if forward else range(k - 1, -1, -1)
    j = next((j for j in steps if level(j) == level(k)), None)
    if j is None:
        return None
    o, c = (i, brackets[j]) if forward else (brackets[j], i)
    return brackets[j] if _PAIRS.get(text[o]) == text[c] else None


def depth0_matches(text: str, pattern: "re.Pattern[str] | str"
                   ) -> "list[re.Match[str]]":
    """The matches of ``pattern`` that start at depth 0 outside quotes."""
    brackets, depths, quoted = _lex(text)
    qstarts = [s for s, _ in quoted]
    out = []
    for m in re.compile(pattern).finditer(text):
        p = m.start()
        q = bisect_left(qstarts, p + 1) - 1
        if (q < 0 or p >= quoted[q][1]) \
                and depths[bisect_left(brackets, p)] == 0:
            out.append(m)
    return out


def split_depth0(text: str, sep: str) -> "list[str]":
    """Split ``text`` at the top-level occurrences of ``sep``: a
    punctuation separator (``","``, ``":"``) matches literally, a word
    (``"and"``, ``"or"``) case-insensitively at word boundaries. The
    parts come back raw, so ``sep.join(parts)`` rebuilds the input when
    every separator is spelled as ``sep``."""
    pat = (rf"\b{re.escape(sep)}\b" if sep[:1].isalpha()
           else re.escape(sep))
    parts, last = [], 0
    for m in depth0_matches(text, re.compile(pat, re.I)):
        parts.append(text[last:m.start()])
        last = m.end()
    parts.append(text[last:])
    return parts
