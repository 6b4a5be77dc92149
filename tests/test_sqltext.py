"""Property tests for the front door's SQL lexer (drill_calcite_spark/
sqltext.py), checked against a plain character walk kept here as the
reference."""

from __future__ import annotations

import pathlib
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from drill_calcite_spark import sqltext

_PIECES = ["'", '"', "`", "''", '""', "``", "(", ")", "[", "]", ",",
           " and ", " or ", "AND", "a", "x1 ", " "]
texts = st.lists(st.sampled_from(_PIECES), max_size=40).map("".join)


def _reference(text: str):
    """Per character: inside quotes?, brackets open before it; the
    opener index of each closer, from a stack; and where each quoted
    token starts."""
    quoted, depth, pairs, stack, starts = [], [], {}, [], []
    quote, d, i = None, 0, 0
    while i < len(text):
        c = text[i]
        quoted.append(quote is not None or c in "'\"`")
        depth.append(d)
        if quote is not None:
            if c == quote and text[i + 1:i + 2] == quote:
                quoted.append(True)
                depth.append(d)
                i += 1
            elif c == quote:
                quote = None
        elif c in "'\"`":
            quote = c
            starts.append(i)
        elif c in "([":
            stack.append(i)
            d += 1
        elif c in ")]":
            if stack:
                pairs[stack.pop()] = i
            d -= 1
        i += 1
    return quoted, depth, pairs, starts


def _level0(text: str) -> "list[int]":
    quoted, depth, _, _ = _reference(text)
    return [i for i in range(len(text)) if not quoted[i] and depth[i] == 0]


@settings(max_examples=400, deadline=None)
@given(texts)
def test_mask_marks_exactly_the_quoted_characters(text):
    quoted, _, _, starts = _reference(text)
    assert sqltext.mask(text) == quoted
    assert [s for s, _ in sqltext.quoted(text)] == starts


@settings(max_examples=400, deadline=None)
@given(texts)
def test_split_rejoins_and_cuts_only_at_depth0(text):
    parts = sqltext.split(text)
    assert ",".join(parts) == text
    cuts, pos = [], 0
    for p in parts[:-1]:
        pos += len(p)
        cuts.append(pos)
        pos += 1
    assert cuts == [i for i in _level0(text) if text[i] == ","]


@settings(max_examples=400, deadline=None)
@given(texts)
def test_top_keeps_exactly_the_depth0_matches(text):
    level0 = set(_level0(text))
    for pattern in (r"\band\b", r"[()\[\]]"):
        want = [m.span() for m in re.finditer(pattern, text, re.I)
                if m.start() in level0]
        assert [m.span() for m in sqltext.top(text, pattern)] == want
    split = sqltext.split(text, r"\band\b")
    assert sum(map(len, split)) + 3 * (len(split) - 1) == len(text)


@settings(max_examples=400, deadline=None)
@given(texts)
def test_close_and_opening_agree_with_the_stack(text):
    quoted, _, pairs, _ = _reference(text)
    for i, c in enumerate(text):
        if quoted[i]:
            continue
        if c in "([":
            want = pairs.get(i)
            assert sqltext.close(text, i) == (None if want is None
                                              else want + 1)
        elif c in ")]":
            want = next((o for o, e in pairs.items() if e == i), None)
            assert sqltext.opening(text, i) == want
    assert sqltext.wrapped(text) == (text.startswith("(")
                                     and pairs.get(0) == len(text) - 1)


def test_front_door_modules_count_no_depth_by_hand():
    pkg = pathlib.Path(sqltext.__file__).parent
    for rel in ("sql.py", "sql_match.py", "plans/sql_substitution.py",
                "operators/match_recognize.py"):
        assert "depth += 1" not in (pkg / rel).read_text(), rel
