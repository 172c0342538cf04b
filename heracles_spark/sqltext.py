"""SQL lexical rules — the one tokenizer behind every text helper.

Every statement the dispatcher rewrites ends in stock ``spark.sql``, so
the text layer must split SQL exactly the way Spark's lexer does
(SqlBaseLexer / SparkParserUtils.unescapeSQLString, checked against
Spark 4.1):

* ``'...'`` and ``"..."`` are string literals: ``\\`` escapes the next
  character and a doubled quote stands for one (``'it''s'``);
  ``r'...'`` is raw (no escapes); adjacent literals concatenate;
* ``\\`...\\``` is a quoted identifier (a doubled backquote is one);
* ``--`` starts a line comment and ``/* */`` block comments NEST;
* ``/*+ ... */`` is a hint — code, never a comment;
* a literal, quoted identifier or block comment that never closes is
  an error, never a token that swallows the rest of the statement.

``lex`` returns a statement's code tokens (whitespace and comments
dropped), each carrying its paren depth, computed once per statement
and cached. The helpers below are filters over those tokens; the
dispatcher's scanners (``sql.py``, ``dml.py``, ``cli.py``) use nothing
else to find quotes, parens or comments.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import NamedTuple

# One token, after any whitespace; at the end, only the whitespace.
_TOKEN = re.compile(r"""\s*(?:
    (?P<comment>--(?:\\\n|[^\r\n])*)
  | (?P<block>/\*)
  | (?P<str>[rR]'[^']*'|'(?:[^'\\]|\\.|'')*')
  | (?P<dstr>[rR]"[^"]*"|"(?:[^"\\]|\\.|"")*")
  | (?P<ident>`(?:[^`]|``)*`)
  | (?P<unclosed>['"`].*)
  | (?P<word>\w+)
  | (?P<op>.)
  | \Z)""", re.VERBOSE | re.DOTALL)
_BLOCK_MARK = re.compile(r"/\*|\*/")
# One escape, or the literal's own quote doubled.
_ESCAPE = {q: re.compile(
    r"\\(u[0-9a-fA-F]{4}|U[0-9a-fA-F]{8}|[01][0-7]{2}|.)|" + q + q,
    re.DOTALL) for q in "'\""}
_ESCAPED_CHAR = {"0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t",
                 "Z": "\x1a", "%": "\\%", "_": "\\_"}


class Tok(NamedTuple):
    kind: str      # str | dstr | ident | word | op | hint
    text: str
    start: int
    end: int
    depth: int     # paren depth outside the token: '(' and its ')' share it


_new_tok = tuple.__new__     # Tok without NamedTuple's per-call overhead


def tokens(sql: str):
    """Every token as ``(kind, start, end)``, whitespace (``ws``) and
    comments (``comment``) included — the texts concatenate back to
    ``sql``. A block comment opening with ``/*+`` is a ``hint``. A
    literal, quoted identifier or block comment that never closes is
    one ``unclosed`` token running to the end of ``sql``."""
    pos, n = 0, len(sql)
    while pos < n:
        m = _TOKEN.match(sql, pos)
        kind, end = m.lastgroup, m.end()
        start = m.start(kind) if kind else end
        if start > pos:
            yield "ws", pos, start
        if kind is None:
            return
        if kind == "block":
            kind = "hint" if sql.startswith("+", end) else "comment"
            depth = 1
            for mark in _BLOCK_MARK.finditer(sql, end):
                depth += 1 if mark.group() == "/*" else -1
                if depth == 0:
                    end = mark.end()
                    break
            else:
                kind, end = "unclosed", n
        yield kind, start, end
        pos = end


def _unclosed(sql: str, start: int):
    """The error Spark's lexer raises for text that never closes."""
    what = ("bracketed comment" if sql.startswith("/*", start)
            else "quoted identifier" if sql[start] == "`"
            else "string literal")
    return ValueError(f"Unclosed {what}: {sql[start:start + 20]!r}")


@lru_cache(maxsize=64)
def lex(sql: str) -> tuple[Tok, ...]:
    """Code tokens of ``sql`` with their paren depths. Raises
    ValueError on an unclosed literal or comment, as Spark does."""
    out, depth = [], 0
    for kind, start, end in tokens(sql):
        if kind == "ws" or kind == "comment":
            continue
        if kind == "unclosed":
            raise _unclosed(sql, start)
        text = sql[start:end]
        if text == ")":
            depth -= 1
        out.append(_new_tok(Tok, (kind, text, start, end, depth)))
        if text == "(":
            depth += 1
    return tuple(out)


def strip_comments(sql: str) -> str:
    """``sql`` with every comment replaced by one space (hints kept).
    Raises ValueError on an unclosed literal or comment, as Spark does:
    an unclosed ``/*`` never silently swallows the rest of a statement."""
    if "--" not in sql and "/*" not in sql:
        return sql
    out = []
    for kind, start, end in tokens(sql):
        if kind == "unclosed":
            raise _unclosed(sql, start)
        out.append(" " if kind == "comment" else sql[start:end])
    return "".join(out)


def has_hint(sql: str) -> bool:
    """``sql`` holds a ``/*+ ... */`` hint (lexed only when the marker
    occurs at all)."""
    return "/*+" in sql and any(t.kind == "hint" for t in lex(sql))


def closing(toks, i: int) -> int:
    """Index of the ``)`` matching the ``(`` at ``toks[i]``, or -1."""
    d = toks[i].depth
    for j in range(i + 1, len(toks)):
        if toks[j].depth == d and toks[j].text == ")":
            return j
    return -1


def balanced(sql: str) -> bool:
    """Parens outside literals and comments pair up."""
    toks = lex(sql)
    return all(t.depth >= 0 for t in toks) and (
        not toks or toks[-1].depth + (toks[-1].text == "(") == 0)


def find_top_level(sql: str, pattern: str) -> int:
    """Offset of the first paren-depth-0 word token where ``pattern``
    (case-insensitive regex) matches, or -1."""
    pat = re.compile(pattern, re.IGNORECASE)
    for t in lex(sql):
        if t.depth == 0 and t.kind == "word" and pat.match(sql, t.start):
            return t.start
    return -1


def split_top(sql: str, sep: str) -> list[str]:
    """Split on the one-character ``sep`` at paren depth 0; parts are
    stripped, empty ones dropped."""
    out, last = [], 0
    for t in lex(sql):
        if t.depth == 0 and t.text == sep and t.kind == "op":
            out.append(sql[last:t.start])
            last = t.end
    out.append(sql[last:])
    return [p for p in (x.strip() for x in out) if p]


def clause_words(sql: str):
    """Word tokens at paren depth 0 and outside ``CASE .. END``, which
    nests like a paren (its WHEN/THEN/AND/OR are opaque)."""
    case_depth = 0
    for t in lex(sql):
        if t.depth != 0 or t.kind != "word":
            continue
        word = t.text.upper()
        if word == "CASE":
            case_depth += 1
        elif word == "END" and case_depth:
            case_depth -= 1
        elif not case_depth:
            yield t


def split_top_and(sql: str) -> "list[str] | None":
    """Split a WHERE body into top-level AND conjuncts, or None when a
    top-level OR makes it non-conjunctive. ``x BETWEEN a AND b``'s own
    AND pairs the bounds and is never a separator; ANDs inside
    ``CASE .. END`` are opaque."""
    parts, last = [], 0
    pending_between = False
    for t in clause_words(sql):
        word = t.text.upper()
        if word == "BETWEEN":
            pending_between = True
        elif word == "AND":
            if pending_between:
                pending_between = False     # the bounds' own AND
            else:
                parts.append(sql[last:t.start])
                last = t.end
        elif word == "OR":
            return None
    parts.append(sql[last:])
    return [p.strip() for p in parts if p.strip()]


def value_rows(sql: str) -> list[list[str]]:
    """The cells of ``(v, ...), (v, ...)``, alone or ending an INSERT
    statement (its depth-0 words are skipped): one list per row of each
    cell's SQL text, undecoded."""
    rows, cells, group = [], [], []
    for t in lex(sql):
        if t.depth == 1 and t.text == "," and t.kind == "op" \
                or t.depth == 0 and t.text == ")":
            if group:
                cells.append(sql[group[0].start:group[-1].end])
            group = []
            if t.depth == 0:
                rows.append(cells)
                cells = []
        elif t.depth > 0:
            group.append(t)
    return rows


def _unescape(m: re.Match) -> str:
    esc = m.group(1)
    if esc is None:                    # doubled quote
        return m.group()[0]
    if len(esc) == 1:
        return _ESCAPED_CHAR.get(esc, esc)
    if esc[0] in "uU":
        cp = int(esc[1:], 16)
        if cp < 0x110000:
            return chr(cp)
        hi, lo = divmod(cp - 0x10000, 0x400)   # Spark's UTF-16 pair
        return chr((hi + 0xD800) & 0xFFFF) + chr(lo + 0xDC00)
    return chr(int(esc, 8))


def string_value(token: str) -> str:
    """The value Spark gives one string-literal token (``'..'``,
    ``".."`` or raw ``r'..'``)."""
    if token[0] in "rR":
        return token[2:-1]
    return _ESCAPE[token[0]].sub(_unescape, token[1:-1])


def quote(value: str) -> str:
    """Render ``value`` as a Spark string literal that reads back to
    exactly ``value``."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
