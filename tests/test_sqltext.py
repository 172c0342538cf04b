"""The SQL lexer (heracles_spark.sqltext) against Spark's own lexer:
token texts reassemble the input, comments never change the code
tokens, and every string literal decodes to the value Spark gives it."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from heracles_spark import sqltext

_SQL_CHARS = st.sampled_from(
    ["'", '"', "`", "\\", "(", ")", "-", "/", "*", "+", ";", " ", "\n",
     "a", "n", "r", "0", "="])
_SQL_TEXT = st.lists(_SQL_CHARS, max_size=60).map("".join)


@settings(max_examples=300, deadline=None)
@given(_SQL_TEXT)
def test_tokens_reassemble_input(sql):
    assert "".join(sql[s:e] for _, s, e in sqltext.tokens(sql)) == sql


@settings(max_examples=300, deadline=None)
@given(_SQL_TEXT)
def test_comment_stripping_keeps_code_tokens(sql):
    def code(text):
        return [(t.kind, t.text, t.depth) for t in sqltext.lex(text)]

    if any(kind == "unclosed" for kind, _, _ in sqltext.tokens(sql)):
        # text Spark's lexer rejects is never turned into code tokens
        with pytest.raises(ValueError, match="Unclosed"):
            sqltext.lex(sql)
        return
    assert code(sqltext.strip_comments(sql)) == code(sql)


def _literal(quote: str):
    """A closed string literal over chars that exercise the escape
    rules: backslash escapes, doubled quotes, the other quote, octal
    and unicode escapes, and the LIKE-wildcard escapes Spark keeps."""
    other = '"' if quote == "'" else "'"
    piece = st.one_of(
        st.sampled_from(["a", " ", "(", ")", ";", "-", "/", "*", "%", "_",
                         "n", "0", other]),
        st.sampled_from(["\\", quote]).map(lambda c: c * 2),
        st.sampled_from(["\\" + c for c in
                         ["'", '"', "n", "t", "0", "%", "_", "q", "Z",
                          "101", "u0041", "U0001F600", "(", ";"]]))
    return st.lists(piece, max_size=12).map(
        lambda ps: quote + "".join(ps) + quote)


_RAW = st.lists(st.sampled_from(["a", "\\", '"', "n", "("]),
                max_size=6).map(lambda cs: "r'" + "".join(cs) + "'")


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.one_of(_literal("'"), _literal('"'), _RAW),
                min_size=1, max_size=40))
def test_string_value_matches_spark(spark, lits):
    for lit in lits:
        toks = sqltext.lex(lit)
        assert [t.text for t in toks] == [lit]
    # all literals in one statement; the last column concatenates the
    # single-quoted ones as adjacent literals
    single = [lit for lit in lits if lit[0] != '"']
    cols = lits + ([" ".join(single)] if single else [])
    row = spark.sql("SELECT " + ", ".join(
        f"{c} AS c{i}" for i, c in enumerate(cols))).first()
    assert [sqltext.string_value(lit) for lit in lits] == \
        list(row)[:len(lits)]
    if single:
        assert "".join(map(sqltext.string_value, single)) == row[-1]


def test_quote_round_trips_through_spark(spark):
    values = ["it's", "a\\b", "\\'", "''", "x\\", "%_\\%", "(;--/*"]
    row = spark.sql("SELECT " + ", ".join(
        f"{sqltext.quote(v)} AS c{i}" for i, v in enumerate(values))).first()
    assert list(row) == values


def test_lexical_rules():
    assert [t.text for t in sqltext.lex("SELECT `k``q` /* /* */ x */ 1")] \
        == ["SELECT", "`k``q`", "1"]
    assert [t.kind for t in sqltext.lex("SELECT /*+ BROADCAST(t) */ 1")] \
        == ["word", "hint", "word"]
    assert sqltext.strip_comments("a -- c\nb /* x /* y */ z */ c") == \
        "a  \nb   c"
    assert sqltext.split_top("a, f(b, ','), 'x,y' -- ,\n", ",") == \
        ["a", "f(b, ',')", "'x,y' -- ,"]
    assert sqltext.find_top_level("SELECT '(' FROM (SELECT 1) WHERE x",
                                  r"WHERE\b") == 27
    assert sqltext.balanced("f(')') -- )\n")
    assert not sqltext.balanced("f(()")


@pytest.mark.parametrize("sql", [
    "DELETE FROM t /* WHERE k = 5", "a /* /* */ b", "SELECT /*+ HINT",
    "a 'b", 'a "b', "a `b", r"a 'b\'", "a r'b", "a 'b'' c",
])
def test_unclosed_literal_or_comment_raises(sql):
    """An unclosed literal or block comment is one ``unclosed`` token
    to the end of the text, and lexing it raises the way Spark's lexer
    does: it never swallows the rest of a statement as a comment."""
    assert list(sqltext.tokens(sql))[-1][0] == "unclosed"
    with pytest.raises(ValueError, match="Unclosed"):
        sqltext.lex(sql)
    with pytest.raises(ValueError, match="Unclosed"):
        sqltext.strip_comments(sql + " -- c")
