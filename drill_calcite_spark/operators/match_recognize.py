"""MATCH_RECOGNIZE — SQL row-pattern matching as a distributed operator.

Reference parity: rel/core/Match.java:57-72 (pattern, DEFINE predicates,
MEASURES, AFTER MATCH, PARTITION/ORDER) executed by an NFA at runtime
(runtime/Automaton.java, runtime/Matcher.java, runtime/Pattern.java,
adapter/enumerable/EnumerableMatch.java:66). Semantics re-implemented from
the SQL:2016 spec — no code ported; the reference's Java NFA is replaced by a
per-partition backtracking matcher over Arrow-batched pandas groups.

Scale notes: partitions are shuffled by PARTITION BY keys via
``applyInPandas`` — the same distribution Calcite's Match declares
(one pattern partition never spans workers). State is bounded by the
partition, exactly like the reference; skew in partition sizes is the
operational limit (same as any groupBy).

Supported subset (documented, tested):
- pattern: concatenation of symbols with greedy quantifiers ``+ * ? {m,n}``,
  alternation ``|`` at the top level of a group, ``PERMUTE(a, b, …)``
  (expanded to the alternation of all orderings in SQL:2016 preference
  order), and ``{- … -}`` exclusions, e.g. ``"STRT {- DOWN+ -} UP+"``.
- DEFINE: per-symbol vectorized predicates ``f(pdf) -> bool Series`` over the
  ordered partition (use ``.shift()`` for PREV/NEXT-style references), or
  ``StatefulDef`` wrappers for RUNNING-AGGREGATE conditions (SUM/COUNT over
  the rows matched so far — the canonical packing query the reference
  disables at match.iq:57-82; evaluated inside the backtracking matcher).
- AFTER MATCH SKIP PAST LAST ROW | TO NEXT ROW.
- ONE ROW PER MATCH via ``measures`` (callables over the matched slice).
- ALL ROWS PER MATCH (``rows_per_match="all"``): one output row per matched
  input row, with the implicit MATCH_NUMBER() (``match_no``, 1-based per
  partition) and CLASSIFIER() (``classifier``, the symbol that matched the
  row) columns plus input-column passthrough; measures default to FINAL
  semantics (per-match scalars repeated on every row); wrap a measure in
  ``RunningMeasure`` for SQL:2016 RUNNING evaluation (cumulative view of
  the match at each output row).
- SUBSET name = (members…) (rel/core/Match.java:60: ``subsets``): union
  symbols usable in measures — ``match_rows[name]`` is the sorted union of
  the member symbols' row lists.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame

from drill_calcite_spark import sqltext

Predicate = Callable[[pd.DataFrame], "pd.Series"]
Measure = Callable[[pd.DataFrame, dict[str, list[int]]], Any]


class StatefulDef:
    """A DEFINE predicate with RUNNING-AGGREGATE semantics (SQL:2016
    §R.6: aggregates in DEFINE range over the rows mapped so far in the
    current match attempt, candidate row included) — e.g. the canonical
    ``B AS char_length(S.ename) + SUM(char_length(b.ename || ';')) +
    char_length(';') <= 15`` packing query, which the reference DISABLES
    (match.iq:57-82: its Enumerable NFA evaluates DEFINE as static
    per-row predicates and cannot see match state). Wraps
    ``fn(pdf, j, rows_by_sym) -> bool``: ``pdf`` is the ordered
    partition, ``j`` the candidate row index, ``rows_by_sym`` the rows
    assigned so far in THIS match attempt by symbol — with ``j`` already
    appended to the candidate's own symbol. Evaluated inside the
    backtracking matcher (per candidate row, not vectorized); keep the
    body O(match length). A row that fails stops the current
    quantifier's extension — the standard's sequential-qualification
    rule for running DEFINE aggregates."""

    def __init__(self, fn: Callable[[pd.DataFrame, int, dict], bool]):
        self.fn = fn


class RunningMeasure:
    """ALL ROWS PER MATCH measure with RUNNING semantics (SQL:2016:
    the measure sees only the match rows up to and including the
    current output row — cumulative aggregates, running LAST). The
    engine's ALL-ROWS default is FINAL (per-match scalars repeated on
    every row; the driver-oracle rows pin that contract), and Calcite's
    parser exposes the choice as the FINAL/RUNNING prefix operators
    (SqlStdOperatorTable FINAL/RUNNING) — wrap a measure in this class
    (or spell RUNNING in the SQL front door) to select running
    evaluation. The wrapped callable keeps the (pdf, match_rows)
    signature; the matcher hands it the PREFIX view of match_rows at
    each output row (every symbol list, '*', and SUBSET truncated to
    rows <= current). In ONE ROW mode running == final at the last row,
    so the wrapper is transparent there."""

    def __init__(self, fn: "Measure"):
        self.fn = fn


# ------------------------------------------------------------- pattern parser
class _Tok:
    def __init__(self, sym: str, lo: int, hi: int | None, excl: bool = False):
        self.sym, self.lo, self.hi = sym, lo, hi  # hi=None → unbounded
        self.excl = excl  # {- X -} exclusion: matched but not output

    def __repr__(self):
        core = f"{self.sym}{{{self.lo},{self.hi}}}"
        return f"{{-{core}-}}" if self.excl else core


_QUANT = {"+": (1, None), "*": (0, None), "?": (0, 1)}

_ELEMENT_RE = re.compile(
    r"\{-|-\}|PERMUTE|\(|\)|,|[A-Za-z_][A-Za-z0-9_]*(?:[+*?]|\{\d+,\d+\})?"
)


def _make_tok(piece: str, excl: bool) -> _Tok:
    m = re.fullmatch(r"([A-Za-z_][A-Za-z0-9_]*)([+*?]|\{(\d+),(\d+)\})?", piece)
    if not m:
        raise ValueError(f"unsupported pattern element: {piece!r}")
    sym, q = m.group(1), m.group(2)
    if q is None:
        lo, hi = 1, 1
    elif q in _QUANT:
        lo, hi = _QUANT[q]
    else:
        lo, hi = int(m.group(3)), int(m.group(4))
    return _Tok(sym, lo, hi, excl)


def _parse_branch(branch: str) -> list[list[_Tok]]:
    """Parse one alternation branch into token sequences. A branch expands
    into multiple sequences when it contains PERMUTE(a, b, …) — SQL:2016
    defines PERMUTE as the alternation of all orderings, preferred in the
    order generated by permuting the listed elements left-to-right
    (SqlStdOperatorTable.java:2338 PATTERN_PERMUTE), which is exactly
    itertools.permutations order. {- X -} marks exclusion (matched rows
    withheld from ALL ROWS PER MATCH output)."""
    from itertools import permutations

    pieces = _ELEMENT_RE.findall(branch)
    if "".join(pieces).replace(" ", "") != branch.replace(" ", ""):
        raise ValueError(f"unsupported pattern syntax: {branch!r}")
    seqs: list[list[_Tok]] = [[]]
    excl = False
    i = 0
    while i < len(pieces):
        p = pieces[i]
        if p == "{-":
            excl = True
        elif p == "-}":
            excl = False
        elif p == "PERMUTE":
            if i + 1 >= len(pieces) or pieces[i + 1] != "(":
                raise ValueError("PERMUTE must be followed by (…)")
            j = i + 2
            items: list[_Tok] = []
            while j < len(pieces) and pieces[j] != ")":
                if pieces[j] != ",":
                    items.append(_make_tok(pieces[j], excl))
                j += 1
            if j >= len(pieces):
                raise ValueError("unterminated PERMUTE(…)")
            seqs = [s + list(perm) for s in seqs for perm in permutations(items)]
            i = j
        elif p in ("(", ")", ","):
            raise ValueError(f"unsupported grouping outside PERMUTE: {branch!r}")
        else:
            tok = _make_tok(p, excl)
            seqs = [s + [tok] for s in seqs]
        i += 1
    if excl:
        raise ValueError(f"unterminated {{- … -}} exclusion: {branch!r}")
    return seqs


def _parse_pattern(pattern: str) -> list[list[_Tok]]:
    """Parse 'A B+ C*' (top-level '|' alternation, PERMUTE(…), {- … -})
    into alternative token sequences, in preference order."""
    alts: list[list[_Tok]] = []
    for branch in pattern.split("|"):
        alts.extend(_parse_branch(branch))
    return alts


# ------------------------------------------------------------------- matcher
def _match_here(symrows: list[set], toks: list[_Tok], i: int,
                assign: list[tuple[str, int]],
                times=None, within=None,
                stateful=None) -> list[tuple[str, int]] | None:
    """Greedy backtracking match of token list starting at row i.
    Returns the assignment [(symbol, row_idx), ...] or None.

    ``times``/``within``: WITHIN interval pruning inside the backtracking
    search. Rows are time-ordered, so a row whose time exceeds
    ``start_time + within`` can never belong to this match — cap each
    token's take there, which makes the matcher backtrack to the longest
    QUALIFYING prefix instead of greedily overshooting and rejecting the
    whole match (SQL:2016: quantifiers yield the preferred shorter match
    when the longer one violates WITHIN)."""
    if not toks:
        return assign
    tok, rest = toks[0], toks[1:]
    n = len(symrows)
    t0 = None
    if times is not None:
        t0 = times[assign[0][1]] if assign else (times[i] if i < n else None)
    # count max consecutive rows matching tok.sym from i, capped by WITHIN.
    # A stateful DEFINE (running aggregates) qualifies each row against
    # the assignment built SO FAR — sequential, so the first failing row
    # caps the quantifier (SQL:2016 running-DEFINE rule).
    sf = (stateful or {}).get(tok.sym)
    max_take = 0
    while (i + max_take < n
           and (tok.hi is None or max_take < tok.hi)
           and (t0 is None or times[i + max_take] - t0 <= within)):
        j = i + max_take
        if sf is not None:
            prefix = assign + [(tok.sym, r, tok.excl)
                               for r in range(i, j)]
            if not sf(j, prefix):
                break
        elif tok.sym not in symrows[j]:
            break
        max_take += 1
    # greedy: try longest first
    for take in range(max_take, tok.lo - 1, -1):
        sub = assign + [(tok.sym, j, tok.excl) for j in range(i, i + take)]
        out = _match_here(symrows, rest, i + take, sub, times, within,
                          stateful)
        if out is not None:
            return out
    return None


def _find_matches(symrows: list[set], alternatives: list[list[_Tok]],
                  skip: tuple,
                  times=None, within=None,
                  stateful=None) -> list[dict[str, list[int]]]:
    """Scan the partition left-to-right; at each start row try each
    alternative (in order), greedy within an alternative — SQL:2016
    leftmost-match, AFTER MATCH SKIP semantics.

    ``times``/``within`` implement the WITHIN interval clause
    (rel/core/Match.java ``interval``): every candidate match must span at
    most ``within`` from its first row; the bound is enforced DURING
    backtracking, so a greedy overshoot falls back to the longest
    qualifying shorter match rather than dropping the match entirely."""
    matches = []
    i, n = 0, len(symrows)
    while i < n:
        assign = None
        for alt in alternatives:
            assign = _match_here(symrows, alt, i, [], times, within,
                                 stateful)
            if assign:
                break
        if assign:
            rows: dict[str, list[int]] = {}
            excluded: set[int] = set()
            for sym, j, ex in assign:
                rows.setdefault(sym, []).append(j)
                if ex:
                    excluded.add(j)
            all_rows = sorted(j for _, j, _ in assign)
            rows["*"] = all_rows
            rows["-"] = sorted(excluded)  # {- … -} rows: matched, not output
            matches.append(rows)
            if skip[0] == "past_last":
                i = all_rows[-1] + 1
            elif skip[0] == "next_row":
                i = all_rows[0] + 1
            else:  # ("to_last"|"to_first", SYM): resume AT that row —
                # the canonical SKIP TO LAST UP lets a match's final rise
                # seed the next match (overlapping V-shapes). An unmatched
                # target variable falls back to past-last; a target at the
                # match start would loop, so it advances by one instead
                # (the standard's no-progress guard).
                tgt = rows.get(skip[1], [])
                if not tgt:
                    i = all_rows[-1] + 1
                else:
                    t = tgt[-1] if skip[0] == "to_last" else tgt[0]
                    i = t if t > all_rows[0] else all_rows[0] + 1
        else:
            i += 1
    return matches


# ------------------------------------------------------------------ operator
def match_recognize(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    pattern: str,
    define: dict[str, Predicate],
    measures: dict[str, Measure],
    output_schema: str,
    after_match: str = "skip_past_last_row",
    rows_per_match: str = "one",
    subset: dict[str, Sequence[str]] | None = None,
    within: tuple[str, Any] | None = None,
) -> DataFrame:
    """Distributed MATCH_RECOGNIZE. Measures receive
    ``(ordered_partition_pdf, match_rows)`` where ``match_rows`` maps
    symbol → row indices ('*' = all matched rows; SUBSET names included).

    ``rows_per_match="one"`` (default): one output row per match; the
    output columns are exactly the measures.

    ``rows_per_match="all"``: one output row per MATCHED INPUT ROW. Output
    columns (declared in ``output_schema``) resolve in priority order:
    ``match_no`` → MATCH_NUMBER(), ``classifier`` → CLASSIFIER(), a measure
    name → that measure's FINAL value repeated per row, anything else → the
    input column of the same name at the matched row.

    ``within=(time_col, max_span)`` is the WITHIN interval clause
    (rel/core/Match.java ``interval``): a match must complete inside
    ``max_span`` of its first row (pd.Timedelta for timestamp columns,
    numeric for numeric ones); longer candidates are rejected.

    Example (V-shape detection)::

        match_recognize(
            events, ["user_id"], ["ts"],
            pattern="STRT DOWN+ UP+",
            define={
                "STRT": lambda p: pd.Series(True, index=p.index),
                "DOWN": lambda p: p["value"] < p["value"].shift(1),
                "UP":   lambda p: p["value"] > p["value"].shift(1),
            },
            measures={
                "user_id":  lambda p, m: p["user_id"].iloc[0],
                "start_id": lambda p, m: p["event_id"].iloc[m["*"][0]],
                "bottom":   lambda p, m: p["value"].iloc[m["DOWN"][-1]],
                "end_id":   lambda p, m: p["event_id"].iloc[m["*"][-1]],
            },
            output_schema="user_id long, start_id long, bottom double, end_id long",
        )
    """
    am = after_match.strip().lower()
    if am == "skip_past_last_row":
        skip: tuple = ("past_last",)
    elif am == "skip_to_next_row":
        skip = ("next_row",)
    else:
        m_skip = re.fullmatch(r"skip_to_(last|first)[ _]+(\w+)", am)
        if not m_skip:
            raise ValueError(f"unsupported AFTER MATCH mode: {after_match}")
        # AFTER MATCH SKIP TO LAST/FIRST <var> (rel/core/Match.java
        # `after` / SqlMatchRecognize.AfterOption SKIP_TO_LAST/FIRST)
        skip = (f"to_{m_skip.group(1)}", m_skip.group(2).upper())
    if rows_per_match not in ("one", "all"):
        raise ValueError(f"unsupported ROWS PER MATCH mode: {rows_per_match}")
    alternatives = _parse_pattern(pattern)
    pattern_syms = {t.sym for alt in alternatives for t in alt}

    def _np_true(n):
        import numpy as _np
        return _np.ones(n, dtype=bool)
    part_cols, order_cols = list(partition_by), list(order_by)
    meas_items = list(measures.items())
    subsets = {k: list(v) for k, v in (subset or {}).items()}
    # output column order comes from the declared schema in ALL ROWS mode
    # (split at depth-0 commas only — ``decimal(7,2)`` carries its own)
    out_cols = (
        [c.split()[0] for c in sqltext.split(output_schema) if c.strip()]
        if rows_per_match == "all" else [k for k, _ in meas_items]
    )

    def process(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        if n == 0:
            return pd.DataFrame({k: [] for k in out_cols})
        # classify every row for every symbol (vectorized; NaN → False).
        # Stateful DEFINEs (running aggregates) cannot be pre-classified:
        # they get a universal static mask and are re-checked per
        # candidate row inside the backtracking matcher.
        sym_masks = {}
        state_checks = {}
        for sym, pred in define.items():
            if isinstance(pred, StatefulDef):
                sym_masks[sym] = _np_true(n)

                def _check(j, prefix, _sym=sym, _fn=pred.fn):
                    rows: dict[str, list[int]] = {}
                    for s_, r_, _x in prefix:
                        rows.setdefault(s_, []).append(r_)
                    rows.setdefault(_sym, []).append(j)
                    return bool(_fn(pdf, j, rows))

                state_checks[sym] = _check
                continue
            s = pred(pdf)
            sym_masks[sym] = s.fillna(False).astype(bool).to_numpy()
        # SQL:2016: a pattern variable with no DEFINE entry is TRUE for
        # every row (SqlValidatorImpl validateMatchRecognize — undefined
        # variables default to the universal row set)
        for sym in pattern_syms:
            if sym not in sym_masks:
                sym_masks[sym] = _np_true(n)
        symrows = [
            {sym for sym, mask in sym_masks.items() if mask[i]} for i in range(n)
        ]
        times = pdf[within[0]].to_numpy() if within is not None else None
        max_span = within[1] if within is not None else None
        out_rows = []
        for match_no, m in enumerate(
            _find_matches(symrows, alternatives, skip,
                          times=times, within=max_span,
                          stateful=state_checks), start=1,
        ):
            for name, members in subsets.items():
                m[name] = sorted({j for s in members for j in m.get(s, [])})
            if rows_per_match == "one":
                out_rows.append({
                    k: (fn.fn if isinstance(fn, RunningMeasure) else fn)(
                        pdf, m) for k, fn in meas_items})
                continue
            # CLASSIFIER() names the PATTERN variable (SQL:2016) —
            # including undefined (universal) symbols like the packing
            # query's S; subset/'*'/'-' keys are not pattern variables
            classifier = {j: sym for sym, rows_ in m.items()
                          if sym in pattern_syms for j in rows_}
            final = {k: fn(pdf, m) for k, fn in meas_items
                     if not isinstance(fn, RunningMeasure)}
            running = {k: fn.fn for k, fn in meas_items
                       if isinstance(fn, RunningMeasure)}
            withheld = set(m.get("-", ()))
            for j in m["*"]:
                if j in withheld:  # {- … -} exclusion
                    continue
                if running:
                    pref = {k2: [r for r in rows_ if r <= j]
                            for k2, rows_ in m.items()}
                row = {}
                for col in out_cols:
                    if col == "match_no":
                        row[col] = match_no
                    elif col == "classifier":
                        row[col] = classifier.get(j)
                    elif col in final:
                        row[col] = final[col]
                    elif col in running:
                        row[col] = running[col](pdf, pref)
                    else:
                        row[col] = pdf[col].iloc[j]
                out_rows.append(row)
        return pd.DataFrame(out_rows, columns=out_cols)

    return df.groupBy(*part_cols).applyInPandas(process, schema=output_schema)
