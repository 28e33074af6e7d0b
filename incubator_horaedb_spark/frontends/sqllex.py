"""The one SQL lexer behind every text rewrite and placeholder scan.

``spans`` splits SQL text into code, string, backtick-identifier and
comment spans by the lexical rules of the backing engine (Spark).  Each
rewrite and placeholder scan must agree with the engine on what is code;
if it does not, a rewrite edits a literal, or a bound value is put into
text the engine throws away.  The rules:

- ``'…'`` and ``"…"`` are string literals.  Spark reads double quotes as
  strings and PostgreSQL as identifiers, and either way nothing inside is
  code.  A backslash escape (Hive style) and a doubled quote both stay
  inside the literal.
- A backtick identifier runs to the next backtick; a doubled backtick
  stays inside it.
- ``--`` opens a line comment with or without whitespace after it.
  MySQL's own lexer wants a space there, but Spark does not, so a ``?``
  after ``--x`` is comment text.
- ``/* */`` comments nest, as in Spark 3+, so a ``?`` between an inner and
  the outer ``*/`` is comment text.
- ``#`` opens a line comment in the MySQL dialect only (``mysql=True``).
- An unterminated string, identifier or comment runs to the end of the
  text.

Rewrites run their regexes on ``code_mask``: a same-length copy of the
text in which comments and string bodies are blanked, so match offsets
apply to the original text unchanged.
"""

from __future__ import annotations

import re
from typing import NamedTuple

CODE, STRING, IDENT, COMMENT = "code", "string", "ident", "comment"


class Span(NamedTuple):
    kind: str
    start: int
    end: int
    closed: bool = True  # False: unterminated, runs to the end of the text


_OPEN = re.compile(r"['\"`]|--|/\*")
_OPEN_MYSQL = re.compile(r"['\"`#]|--|/\*")
_QUOTED = {
    "'": re.compile(r"'(?:[^'\\]|\\[\s\S]|'')*'"),
    '"': re.compile(r'"(?:[^"\\]|\\[\s\S]|"")*"'),
    "`": re.compile(r"`(?:[^`]|``)*`"),
}
_BLOCK = re.compile(r"/\*|\*/")


def spans(sql: str, mysql: bool = False) -> list[Span]:
    """The spans of ``sql`` in order; together they cover it exactly."""
    out: list[Span] = []
    i, n = 0, len(sql)
    opener = _OPEN_MYSQL if mysql else _OPEN
    while i < n:
        m = opener.search(sql, i)
        s = n if m is None else m.start()
        if s > i:
            out.append(Span(CODE, i, s))
        if m is None:
            break
        tok = m.group()
        if tok in _QUOTED:
            kind = IDENT if tok == "`" else STRING
            q = _QUOTED[tok].match(sql, s)
            span = Span(kind, s, q.end()) if q else Span(kind, s, n, False)
        elif tok == "/*":
            span = Span(COMMENT, s, n, False)
            depth = 0
            for b in _BLOCK.finditer(sql, s):
                depth += 1 if b.group() == "/*" else -1
                if not depth:
                    span = Span(COMMENT, s, b.end())
                    break
        else:  # -- or #
            e = sql.find("\n", s)
            span = Span(COMMENT, s, n if e < 0 else e)
        out.append(span)
        i = span.end
    return out


def code_mask(sql: str, mysql: bool = False) -> str:
    """``sql`` with every comment and every string body blanked to spaces.
    String delimiters and backtick identifiers are kept, so a literal
    still reads as ``'   '`` and identifier regexes still match."""
    out = []
    for kind, s, e, closed in spans(sql, mysql):
        if kind == COMMENT:
            out.append(" " * (e - s))
        elif kind == STRING:
            q = sql[s]
            out.append(q + " " * (e - s - 1 - closed) + (q if closed else ""))
        else:
            out.append(sql[s:e])
    return "".join(out)


def sub(pattern, repl, sql: str, flags: int = 0) -> str:
    """``re.sub`` that only matches code: ``pattern`` is matched on the
    mask and ``repl(match)`` is spliced into ``sql`` at the same offsets.
    The match reads the mask, so its groups see code as written and
    string bodies as blanks; ``repl`` slices ``sql`` for a literal's text."""
    out, last = [], 0
    for m in re.finditer(pattern, code_mask(sql), flags):
        out += (sql[last : m.start()], repl(m))
        last = m.end()
    return "".join(out) + sql[last:]


def sub_code_spans(pattern, repl, sql: str, mysql: bool = False) -> str:
    """``re.sub`` applied to each code span alone: strings, backtick
    identifiers and comments pass through (placeholder binding)."""
    return "".join(
        re.sub(pattern, repl, sql[s:e]) if kind == CODE else sql[s:e]
        for kind, s, e, _ in spans(sql, mysql)
    )


# A mask still holds backtick identifiers, which may contain any
# character; the scans below step over them whole.
_PARENS = re.compile(r"`[^`]*`?|[()]")


def paren_end(mask: str, i: int) -> int | None:
    """Index one past the ``)`` that closes the ``(`` at ``mask[i]``;
    None when it is never closed."""
    depth = 0
    for m in _PARENS.finditer(mask, i):
        if m.group() == "(":
            depth += 1
        elif m.group() == ")":
            depth -= 1
            if not depth:
                return m.end()
    return None


def _hits(pattern: str, mask: str, pos: int = 0):
    """(paren depth, match) for each case-insensitive match of ``pattern``
    in ``mask`` from ``pos`` on, outside backtick identifiers."""
    depth = 0
    rx = re.compile(rf"`[^`]*`?|([()])|(?P<hit>{pattern})", re.I)
    for m in rx.finditer(mask, pos):
        if m.group(1):
            depth += 1 if m.group(1) == "(" else -1
        elif m.group("hit") is not None:
            yield depth, m


def search(pattern: str, mask: str, pos: int = 0) -> re.Match | None:
    """First match of ``pattern`` from ``pos`` on, outside backtick
    identifiers."""
    return next((m for _, m in _hits(pattern, mask, pos)), None)


def find_top_level(pattern: str, mask: str) -> re.Match | None:
    """First match of ``pattern`` outside parentheses and backtick
    identifiers."""
    return next((m for depth, m in _hits(pattern, mask) if not depth), None)


def strip(sql: str) -> str:
    """``sql.strip()``, except that a trailing ``--`` comment is kept whole
    and ended with a newline, so code spliced after it stays code."""
    sql = sql.lstrip()
    end = len(sql.rstrip())
    last = next((sp for sp in reversed(spans(sql)) if sp.start < end), None)
    if last and last.kind == COMMENT and sql.startswith("--", last.start):
        return sql[: last.end] + "\n"
    return sql[:end]


def split_top_level(sql: str) -> list[str]:
    """The stripped pieces of ``sql`` between commas that lie outside
    parentheses, strings and comments.  An empty piece between two commas
    is kept, so ``f(a,,b)`` keeps three arguments; a trailing comma adds
    no piece, as sqlparser allows one after the last column definition."""
    cuts = [m.start() for depth, m in _hits(",", code_mask(sql)) if not depth]
    bounds = [-1, *cuts, len(sql)]
    pieces = [strip(sql[a + 1 : b]) for a, b in zip(bounds, bounds[1:])]
    return pieces[:-1] if not pieces[-1] else pieces
