"""The engine's one lexical rule for SQL text.

Every scan of SQL text asks the same questions: is this position inside
a string literal, a quoted identifier or a comment, where does this
bracket close, which commas and keywords sit at the top level. The
statement front end (``engine.py``, ``plans/``), the dialect rewrite
(``dialect.py``) and the DML stats cut (``snapshots.py``) all answer
them here, with one rule, the subset of DuckDB's lexer the engine relies
on. These classes are atomic: nothing inside one is a bracket, comma,
keyword or comment.

* ``'...'`` string literals, ``''`` escaping a quote inside one;
* ``E'...'`` escape strings, a backslash escaping the next character and
  ``''`` a quote;
* ``$tag$...$tag$`` dollar-quoted strings (the tag may be empty);
* ``"..."`` and ```...``` quoted identifiers, a doubled quote escaping
  one;
* ``--`` line comments, running to the end of the line, and ``/* */``
  block comments.

``(``, ``[`` and ``{`` open one depth, ``)``, ``]`` and ``}`` close one.

The rule has two views built from the same pieces: ``tokenize`` splits
text into typed tokens for the token-level passes, and the char-level
helpers (``literal_spans`` through ``split_top_commas``) skip the atomic
classes over raw text. A quote or ``/*`` with no closing partner is
ordinary text.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Iterator

# --- the atomic classes, each written once --------------------------------

_COMMENT = r"--[^\n]*|/\*[\s\S]*?\*/"
_STR = r"'(?:[^']|'')*'"
_ESTR = r"(?<![\w'\"])[eE]'(?:[^'\\]|\\[\s\S]|'')*'"
_DSTR = r"\$(?P<tag>[A-Za-z_]\w*|)\$[\s\S]*?\$(?P=tag)\$"
_QID = r'"(?:[^"]|"")*"'
_BQID = r"`(?:[^`]|``)*`"

_OPENERS = frozenset("([{")
_CLOSERS = frozenset(")]}")

# --- token view -------------------------------------------------------------

_TOKEN_RE = re.compile("|".join(rf"(?P<{kind}>{pat})" for kind, pat in (
    ("ws", r"\s+"),
    ("comment", _COMMENT),
    ("str", _STR),
    ("estr", _ESTR),
    ("dstr", _DSTR),
    ("qid", _QID),
    ("bqid", _BQID),
    ("num", r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"),
    ("arrow2", r"->>"),
    ("arrow", r"->"),
    ("op", r"<=|>=|<>|!=|=|<|>|\|\||[+\-*/%]"),
    ("punct", r"[(),;\[\].{}:]"),
    ("ident", r"[A-Za-z_][A-Za-z0-9_$]*"),
    ("other", r"[\s\S]"),
)))


@dataclass(slots=True)
class Tok:
    kind: str
    text: str


def tokenize(sql: str) -> list[Tok]:
    """``sql`` as tokens; joining their texts gives ``sql`` back. A
    character no class claims is a one-character ``other`` token."""
    return [Tok(m.lastgroup, m.group()) for m in _TOKEN_RE.finditer(sql)]


def detokenize(toks: list[Tok]) -> str:
    return "".join(t.text for t in toks)


def significant(toks: list[Tok]) -> list[int]:
    """Indices of the tokens that are not whitespace or comments."""
    return [i for i, t in enumerate(toks) if t.kind not in ("ws", "comment")]


def bracket_depths(toks: list[Tok]) -> list[int]:
    """The depth of each token; a bracket sits at the depth of the text
    around it."""
    out, d = [], 0
    for t in toks:
        if t.text in _CLOSERS:
            d -= 1
        out.append(d)
        if t.text in _OPENERS:
            d += 1
    return out


def match_bracket(toks: list[Tok], idx: int) -> int:
    """Index of the token matching the bracket at ``idx``: forward from
    an opener, backward from a closer. From any other token, backward
    to the opener enclosing it."""
    text = toks[idx].text
    step = 1 if text in _OPENERS else -1
    depth = 0 if text in _OPENERS or text in _CLOSERS else 1
    for i in range(idx, len(toks) if step == 1 else -1, step):
        text = toks[i].text
        if text in _OPENERS:
            depth += step
        elif text in _CLOSERS:
            depth -= step
        if depth == 0:
            return i
    raise ValueError("unbalanced parentheses")


def split_args(toks: list[Tok], open_idx: int,
               close_idx: int) -> list[tuple[int, int]]:
    """``(start, end)`` token spans of the depth-0 comma-separated
    arguments between the brackets at ``open_idx`` and ``close_idx``."""
    spans, depth, start = [], 0, open_idx + 1
    for i in range(open_idx + 1, close_idx):
        text = toks[i].text
        if text in _OPENERS:
            depth += 1
        elif text in _CLOSERS:
            depth -= 1
        elif text == "," and depth == 0:
            spans.append((start, i))
            start = i + 1
    if close_idx > open_idx + 1:
        spans.append((start, close_idx))
    return spans


def split_top_and(text: str) -> list[str]:
    """The non-empty, stripped conjuncts of ``text`` split at its
    depth-0 ANDs. The AND of a ``BETWEEN … AND …`` stays in its
    conjunct."""
    toks = tokenize(text)
    parts, start, between = [], 0, 0
    for i, d in enumerate(bracket_depths(toks)):
        t = toks[i]
        if d or t.kind != "ident":
            continue
        word = t.text.upper()
        if word == "BETWEEN":
            between += 1
        elif word == "AND" and between:
            between -= 1
        elif word == "AND":
            parts.append(detokenize(toks[start:i]))
            start = i + 1
    parts.append(detokenize(toks[start:]))
    return [p.strip() for p in parts if p.strip()]


# --- char-level view --------------------------------------------------------

_SCAN = re.compile(
    rf"(?P<skip>{_COMMENT}|{_STR}|{_ESTR}|{_DSTR}|{_QID}|{_BQID})"
    r"|(?P<open>[(\[{])|(?P<close>[)\]}])|,")


def _tokens(text: str, start: int = 0) -> Iterator[tuple[re.Match, int]]:
    """Each atomic span, bracket and comma from ``start`` on, with the
    depth it sits at (an opener and its closer share the depth of the
    text around them)."""
    depth = 0
    for m in _SCAN.finditer(text, start):
        kind = m.lastgroup
        if kind == "close":
            depth -= 1
        yield m, depth
        if kind == "open":
            depth += 1


def literal_spans(text: str) -> list[tuple[int, int]]:
    """``(start, end)`` of every literal, quoted identifier and comment."""
    if not any(c in text for c in ("'", '"', "`", "$", "--", "/*")):
        return []
    return [m.span() for m in _SCAN.finditer(text)
            if m.lastgroup == "skip"]


def finditer(pattern: str | re.Pattern, text: str,
             flags: int = 0) -> Iterator[re.Match]:
    """``re.finditer`` minus the matches that start inside a literal,
    quoted identifier or comment."""
    spans = literal_spans(text)
    for m in re.finditer(pattern, text, flags):
        if not any(a <= m.start() < b for a, b in spans):
            yield m


def sub(pattern: str | re.Pattern, repl: Callable[[re.Match], str],
        text: str) -> str:
    """``re.sub`` that leaves matches starting inside a literal, quoted
    identifier or comment unchanged (``repl`` is not called for them)."""
    spans = literal_spans(text)

    def guarded(m: re.Match) -> str:
        if any(a <= m.start() < b for a, b in spans):
            return m.group(0)
        return repl(m)

    return re.sub(pattern, guarded, text)


def scan(text: str, start: int = 0) -> Iterator[tuple[int, str, int]]:
    """``(position, char, depth)`` of each bracket and comma outside the
    atomic classes, from ``start`` on; depth counts the brackets
    enclosing the char, not the char itself."""
    for m, depth in _tokens(text, start):
        if m.lastgroup != "skip":
            yield m.start(), m.group(), depth


def match_paren(text: str, open_idx: int) -> int:
    """Index of the bracket closing the one at ``open_idx``."""
    for pos, ch, depth in scan(text, open_idx):
        if depth == 0 and ch in _CLOSERS:
            return pos
    raise ValueError("unbalanced parentheses")


def enclosing_bracket(text: str, pos: int) -> int | None:
    """Index of the innermost bracket still open at ``pos``, or None at
    the top level."""
    stack: list[int] = []
    for i, ch, _ in scan(text):
        if i >= pos:
            break
        if ch in _OPENERS:
            stack.append(i)
        elif ch != "," and stack:
            stack.pop()
    return stack[-1] if stack else None


def top_level_finditer(text: str, pattern: str | re.Pattern,
                       start: int = 0) -> Iterator[re.Match]:
    """Matches of ``pattern`` (case-insensitive when given as a string)
    in the depth-0 text outside the atomic classes. A match never spans
    a literal, quoted identifier, comment, bracket or comma."""
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
    0 outside the atomic classes, from ``start`` on; -1 when absent."""
    pat = rf"(?<!\w){re.escape(word)}(?!\w)"
    return next((m.start() for m in top_level_finditer(text, pat, start)),
                -1)


def split_top_commas(text: str) -> list[str]:
    """The non-empty, stripped pieces between depth-0 commas outside the
    atomic classes. Comments are dropped from the pieces, so a piece
    embedded in other text cannot comment out what follows it."""
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
