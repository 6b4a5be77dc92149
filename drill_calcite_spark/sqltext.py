"""Quoting and nesting in SQL text: the one lexer of the dialect front door.

Calcite lexes a statement once, under one set of quoting rules (the
``Lex`` configuration, SqlParser.java:253-343), and every clause reads
those tokens. The front door's token rewrites (sql.py, sql_match.py,
plans/sql_substitution.py, operators/match_recognize.py) read statement
structure through this module alone, so they all share one rule:

- ``'…'`` is a string literal; ``"…"`` and a name in backticks are
  quoted identifiers. Inside each, a doubled quote is an escaped quote.
  An unterminated one runs to the end of the text.
- Outside quotes, ``(`` and ``[`` open a nesting level and ``)`` and
  ``]`` close one.

Every function below is one pass over the same tokens. Text at "depth 0"
is outside quotes with no bracket open before it; a closer that closes
nothing sits at depth 0 too, which is how a caller finds the end of the
list it started inside.
"""

from __future__ import annotations

import re

_QUOTED = (r"'[^']*(?:''[^']*)*'?"
           r'|"[^"]*(?:""[^"]*)*"?'
           r"|`[^`]*(?:``[^`]*)*`?")
# the bracket alternative matches one bracket character, never a quote,
# so _TOKEN cuts the same quoted tokens as _QUOTED_RE, plus each bracket
# outside them
_QUOTED_RE = re.compile(_QUOTED)
_TOKEN = re.compile(_QUOTED + r"|[()\[\]]")


def quoted(text: str) -> "list[tuple[int, int]]":
    """(start, end) of every literal and quoted identifier, quotes
    included."""
    return [m.span() for m in _QUOTED_RE.finditer(text)]


def mask(text: str) -> "list[bool]":
    """mask[i] is True when text[i] belongs to a literal or a quoted
    identifier, quotes included."""
    out = [False] * len(text)
    for s, e in quoted(text):
        out[s:e] = [True] * (e - s)
    return out


def close(text: str, open_at: int) -> "int | None":
    """Index just past the bracket that closes the one at ``open_at``;
    None when it is never closed."""
    depth = 0
    for m in _TOKEN.finditer(text, open_at):
        c = text[m.start()]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
            if not depth:
                return m.end()
    return None


def opening(text: str, close_at: int) -> "int | None":
    """Index of the bracket that the one at ``close_at`` closes; None
    when it closes nothing."""
    opened: "list[int]" = []
    for m in _TOKEN.finditer(text, 0, close_at + 1):
        c = text[m.start()]
        if c in "([":
            opened.append(m.start())
        elif c in ")]":
            if m.start() == close_at:
                return opened.pop() if opened else None
            if opened:
                opened.pop()
    return None


def top(text: str,
        pattern: "str | re.Pattern[str]") -> "list[re.Match[str]]":
    """Matches of ``pattern`` that start at depth 0. A ``str`` pattern is
    compiled case-insensitively."""
    if isinstance(pattern, str):
        pattern = re.compile(pattern, re.I)
    found = list(pattern.finditer(text))
    if not found:
        return found
    level0 = bytearray(len(text))
    depth = last = 0
    for m in _TOKEN.finditer(text):
        s = m.start()
        if not depth:
            level0[last:s] = b"\x01" * (s - last)
        c = text[s]
        if c in "([":
            level0[s] = not depth
            depth += 1
        elif c in ")]":
            level0[s] = not depth
            depth -= 1
        last = m.end()
    if not depth:
        level0[last:] = b"\x01" * (len(text) - last)
    return [m for m in found if level0[m.start()]]


def split(text: str, sep: "str | re.Pattern[str]" = ",") -> "list[str]":
    """``text`` cut at every depth-0 match of ``sep`` (a pattern, as in
    ``top``); the separators are dropped, nothing else is."""
    parts, last = [], 0
    for m in top(text, sep):
        parts.append(text[last:m.start()])
        last = m.end()
    parts.append(text[last:])
    return parts


def wrapped(text: str) -> bool:
    """True when one parenthesis pair encloses the whole of ``text``."""
    return text.startswith("(") and close(text, 0) == len(text)
