"""The front door's shared lexical rule (drill_calcite_spark/sqltext.py):
brackets nest, quoted text never counts. Pure string tests, no Spark."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from drill_calcite_spark.sqltext import (
    depth0_matches, partner, split_depth0, string_mask)


def test_string_mask_covers_all_three_quote_kinds_and_escapes():
    text = "a 'it''s' \"q\"\"d\" `b``t` c"
    masked = "".join(c for c, m in zip(text, string_mask(text)) if m)
    assert masked == "'it''s'\"q\"\"d\"`b``t`"
    assert string_mask("x 'open")[2:] == [True] * 5


def test_doubled_quote_is_an_escape_not_a_close():
    assert split_depth0("'a'',b', c", ",") == ["'a'',b'", " c"]


def test_brackets_inside_quotes_do_not_count():
    for q in ("'", '"', "`"):
        text = f"f({q}){q}), {q}({q} + g(x)"
        assert partner(text, 1) == 5
        assert split_depth0(text, ",") == [f"f({q}){q})", f" {q}({q} + g(x)"]


def test_mixed_paren_and_square_nesting():
    text = "array[f(1, 2), (3)], map[a(b[1])]"
    assert split_depth0(text, ",") == ["array[f(1, 2), (3)]",
                                       " map[a(b[1])]"]
    assert partner(text, 5) == text.index("]")
    assert partner("( [ ) ]", 0) is None


def test_keyword_split_is_word_bounded_and_case_insensitive():
    text = "band = 1 AND order_and = 2 and c = 'x and y' And (d and e)"
    assert split_depth0(text, "and") == [
        "band = 1 ", " order_and = 2 ", " c = 'x and y' ", " (d and e)"]
    assert split_depth0("a or b", "or") == ["a ", " b"]


def test_partner_both_directions_and_unbalanced():
    text = "x(a, (b)) + y"
    assert partner(text, 1) == 8 and partner(text, 8) == 1
    assert partner(text, 5) == 7 and partner(text, 7) == 5
    assert partner("f(a", 1) is None
    assert partner("a)", 1) is None
    assert partner("a(b", 0) is None          # not a bracket
    assert partner("'(' )", 1) is None        # quoted bracket


def test_depth0_matches_skip_nested_and_quoted_text():
    text = "select a from (select b from t) where c = 'from' order by d"
    got = [m.start() for m in depth0_matches(text, re.compile(r"\bfrom\b"))]
    assert got == [9]
    # a stray closer ends the enclosing group: it sits at depth 0
    stray = depth0_matches("a, f(b)) limit", r"\)")
    assert [m.start() for m in stray] == [7]


_PIECE = st.text(alphabet="ab,()[]'\"` ", max_size=8)


@settings(max_examples=100, deadline=None)
@given(st.lists(_PIECE, max_size=6))
def test_comma_split_round_trips(pieces):
    text = ",".join(pieces)
    assert ",".join(split_depth0(text, ",")) == text
