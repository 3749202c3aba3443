"""The statement front end's one lexical rule.

Every text-level scan in ``engine.py`` and ``plans/`` asks the same
questions: is this position inside a string literal or a comment, where
does this bracket close, which commas and keywords sit at the top level.
This module answers them with one rule, the subset of DuckDB's lexer the
front end relies on:

* ``'...'`` string literals, ``''`` escaping a quote inside one;
* ``--`` line comments, running to the end of the line;
* ``(``, ``[`` and ``{`` open one depth, ``)``, ``]`` and ``}`` close one.

Block comments and dollar-quoted strings are not part of the rule. A
quote with no closing quote is ordinary text.
"""

from __future__ import annotations

import re
from typing import Callable, Iterator

_TOKEN = re.compile(
    r"(?P<skip>'(?:[^']|'')*'|--[^\n]*)"
    r"|(?P<open>[(\[{])|(?P<close>[)\]}])|,")


def _tokens(text: str, start: int = 0) -> Iterator[tuple[re.Match, int]]:
    """Each literal, comment, bracket and comma from ``start`` on, with
    the depth it sits at (an opener and its closer share the depth of
    the text around them)."""
    depth = 0
    for m in _TOKEN.finditer(text, start):
        kind = m.lastgroup
        if kind == "close":
            depth -= 1
        yield m, depth
        if kind == "open":
            depth += 1


def literal_spans(text: str) -> list[tuple[int, int]]:
    """``(start, end)`` of every string literal and comment."""
    if "'" not in text and "--" not in text:
        return []
    return [m.span() for m in _TOKEN.finditer(text)
            if m.lastgroup == "skip"]


def finditer(pattern: str | re.Pattern, text: str,
             flags: int = 0) -> Iterator[re.Match]:
    """``re.finditer`` minus the matches that start inside a string
    literal or comment."""
    spans = literal_spans(text)
    for m in re.finditer(pattern, text, flags):
        if not any(a <= m.start() < b for a, b in spans):
            yield m


def sub(pattern: str | re.Pattern, repl: Callable[[re.Match], str],
        text: str) -> str:
    """``re.sub`` that leaves matches starting inside a string literal or
    comment unchanged (``repl`` is not called for them)."""
    spans = literal_spans(text)

    def guarded(m: re.Match) -> str:
        if any(a <= m.start() < b for a, b in spans):
            return m.group(0)
        return repl(m)

    return re.sub(pattern, guarded, text)


def scan(text: str, start: int = 0) -> Iterator[tuple[int, str, int]]:
    """``(position, char, depth)`` of each bracket and comma outside
    literals and comments, from ``start`` on; depth counts the brackets
    enclosing the char, not the char itself."""
    for m, depth in _tokens(text, start):
        if m.lastgroup != "skip":
            yield m.start(), m.group(), depth


def match_paren(text: str, open_idx: int) -> int:
    """Index of the bracket closing the one at ``open_idx``."""
    for pos, ch, depth in scan(text, open_idx):
        if depth == 0 and ch in ")]}":
            return pos
    raise ValueError("unbalanced parentheses")


def enclosing_bracket(text: str, pos: int) -> int | None:
    """Index of the innermost bracket still open at ``pos``, or None at
    the top level."""
    stack: list[int] = []
    for i, ch, _ in scan(text):
        if i >= pos:
            break
        if ch in "([{":
            stack.append(i)
        elif ch != "," and stack:
            stack.pop()
    return stack[-1] if stack else None


def top_level_finditer(text: str, pattern: str | re.Pattern,
                       start: int = 0) -> Iterator[re.Match]:
    """Matches of ``pattern`` (case-insensitive when given as a string)
    in the depth-0 text outside literals and comments. A match never
    spans a literal, comment, bracket or comma."""
    if isinstance(pattern, str):
        pattern = re.compile(pattern, re.IGNORECASE)
    gap, top = start, True
    for m, depth in _tokens(text, start):
        if top:
            yield from pattern.finditer(text, gap, m.start())
        gap = m.end()
        top = depth + (m.lastgroup == "open") == 0
    if top:
        yield from pattern.finditer(text, gap)


def find_top_level(text: str, word: str, start: int = 0) -> int:
    """Index of the first whole-word, case-insensitive ``word`` at depth
    0 outside literals and comments, from ``start`` on; -1 when absent."""
    pat = rf"(?<!\w){re.escape(word)}(?!\w)"
    return next((m.start() for m in top_level_finditer(text, pat, start)),
                -1)


def split_top_commas(text: str) -> list[str]:
    """The non-empty, stripped pieces between depth-0 commas outside
    literals and comments. Comments are dropped from the pieces, so a
    piece embedded in other text cannot comment out what follows it."""
    parts, buf, last = [], [], 0
    for m, depth in _tokens(text):
        if m.lastgroup == "skip" and m.group().startswith("--"):
            buf.append(text[last:m.start()])
            last = m.end()
        elif m.group() == "," and depth == 0:
            buf.append(text[last:m.start()])
            parts.append("".join(buf))
            buf, last = [], m.end()
    buf.append(text[last:])
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]
