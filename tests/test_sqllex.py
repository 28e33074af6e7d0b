"""The SQL lexer (frontends/sqllex.py) and the rewrites and placeholder
scans built on it: one regression test per defect of the former
hand-rolled scanners, then property tests over generated SQL."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from incubator_horaedb_spark.frontends import sqllex
from incubator_horaedb_spark.frontends.sql_shim import (
    Engine,
    _extract_query_range_ms,
    rewrite_qualify,
)
from incubator_horaedb_spark.functions.sql_bindings import rewrite_sql_functions
from incubator_horaedb_spark.wire.mysql import (
    _count_question_params,
    _substitute_question_params,
)
from incubator_horaedb_spark.wire.postgresql import _count_placeholders, _substitute_params

# --- regressions --------------------------------------------------------------


def test_call_inside_literal_or_comment_is_not_rewritten():
    for sql in (
        "SELECT 'thetasketch_distinct(x)'",
        "SELECT 1 -- thetasketch_distinct(y)\nFROM t",
        'SELECT "date_bin(1,2)"',
    ):
        assert rewrite_sql_functions(sql) == sql


def test_paren_inside_literal_does_not_close_the_call():
    assert rewrite_sql_functions("SELECT thetasketch_distinct(concat(a, ')')) FROM t") == (
        "SELECT approx_count_distinct(concat(a, ')'), 0.008) FROM t"
    )


def test_query_range_ignores_comments_and_literals():
    big = "ts BETWEEN 0 AND 1000000000000"
    for tail in ("/* ts BETWEEN 0 AND 1 */", "AND tag <> 'ts < 5'"):
        sql = f"SELECT * FROM t WHERE {big} {tail}"
        assert _extract_query_range_ms(sql, {"ts"}) == 10**12, tail


def test_qualify_inside_comment_is_not_a_clause():
    sql = "SELECT a FROM t -- QUALIFY me"
    assert rewrite_qualify(sql) == sql


def test_paren_inside_comment_does_not_hide_qualify():
    out = rewrite_qualify(
        "SELECT a /* ( */ FROM t QUALIFY row_number() OVER (ORDER BY a) = 1"
    )
    assert out.startswith("SELECT a FROM (")
    assert out.rstrip().endswith("WHERE __qualify")


def test_system_tables_literal_is_kept(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "store"))
    row = e.execute_sql("SELECT 'system.public.tables' AS s").collect()[0]
    assert row["s"] == "system.public.tables"


def test_ts_coercion_after_escaped_quote(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "store"))
    e.execute_sql(
        "CREATE TABLE q (tag string TAG, ts timestamp NOT NULL, timestamp KEY (ts)) "
        "ENGINE=Analytic WITH(enable_ttl='false')"
    )
    e.execute_sql("INSERT INTO q (tag, ts) VALUES ('a', 1500)")
    df = e.execute_sql(
        "SELECT count(*) AS n FROM q WHERE tag <> 'it\\'s' AND ts > 1000 AND tag <> 'x'"
    )
    assert df.collect()[0]["n"] == 1


def test_insert_literal_with_escaped_quote_and_comma(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "store"))
    e.execute_sql(
        "CREATE TABLE w (s string, ts timestamp NOT NULL, timestamp KEY (ts)) "
        "ENGINE=Analytic WITH(enable_ttl='false')"
    )
    assert e.execute_sql("INSERT INTO w (s, ts) VALUES ('it\\'s, fine', 1)") == 1
    assert [r["s"] for r in e.execute_sql("SELECT s FROM w").collect()] == ["it's, fine"]


# --- generated SQL ------------------------------------------------------------

_TRAPS = [
    "x", ")", "(", ",", " ", "?", "$1", "$12", "--", "thetasketch_distinct(q)",
    "date_bin(1,2)", "time_bucket(ts, P1D)", "QUALIFY z", "system.public.tables",
    "ts < 5",
]


def _quoted(q: str):
    other = "'" if q == '"' else '"'
    body = st.lists(st.sampled_from(_TRAPS + [f"\\{q}", q * 2, other, "`", "/*", "\\\\"]))
    return body.map(lambda parts: q + "".join(parts) + q)


_STRING = st.one_of(_quoted("'"), _quoted('"'))
_COMMENT_TEXT = st.lists(st.sampled_from(_TRAPS + ["'", '"', "`"])).map("".join)
_LINE_COMMENT = _COMMENT_TEXT.map(lambda t: f"--{t}\n")
_BLOCK_COMMENT = st.recursive(
    _COMMENT_TEXT.map(lambda t: f"/*{t}*/"),
    lambda inner: st.tuples(_COMMENT_TEXT, inner, _COMMENT_TEXT).map(
        lambda p: f"/*{p[0]}{p[1]}{p[2]}\n*/"
    ),
    max_leaves=3,
)
_COMMENT = st.one_of(_LINE_COMMENT, _BLOCK_COMMENT)
_IDENT = st.sampled_from(
    ["`x y`", "`a(b`", "`c,d)`", "`it's`", "`q?$1`", "`thetasketch_distinct(q)`", "`a``b`"]
)
_NOISE = st.one_of(st.just(""), st.just(" "), _COMMENT.map(lambda c: f" {c} "))

# literals a rewrite consumes (periods, DATE_BIN operands) or renders
_CONSUMED = {"'PT1M'", "'P1D'", "'30'", "'2001-01-01T00:00:00Z'"}
_RENDERED = {"'-'", "'0'", "'DAY'"}


@st.composite
def _select(draw) -> tuple[str, bool, int]:
    """(statement, has a code QUALIFY, number of code theta calls)."""
    s, n = draw(_STRING), draw(_NOISE)
    items = {
        "a": 0,
        f"{draw(_IDENT)} AS i1": 0,
        "thetasketch_distinct(a) AS n1": 1,
        f"thetasketch_distinct(concat(a, {s}){n}) AS n2": 1,
        "time_bucket(ts, 'PT1M') AS b1": 0,
        f"time_bucket(concat(ts, {s}){n}, 'P1D') AS b2": 0,
        "date_bin(60000, ts, 0) AS d1": 0,
        "DATE_BIN(INTERVAL '30' second, ts, TIMESTAMP '2001-01-01T00:00:00Z') AS d2": 0,
        f"{s} AS s1": 0,
    }
    chosen = draw(st.lists(st.sampled_from(sorted(items)), min_size=1, max_size=4))
    qualify = draw(st.booleans())
    noise = lambda: draw(_NOISE)  # noqa: E731
    sql = noise() + "SELECT " + ", ".join(c + noise() for c in chosen) + " FROM t" + noise()
    if draw(st.booleans()):
        sql += f" WHERE v > 1 AND tag <> {draw(_STRING)}" + noise()
    if qualify:
        sql += " QUALIFY row_number() OVER (ORDER BY a) = 1" + noise()
    if draw(st.booleans()):
        sql += " ORDER BY a" + noise() + " LIMIT 5"
    return sql, qualify, sum(items[c] for c in chosen)


def _literals(sql: str, mysql: bool = False) -> set[str]:
    kinds = (sqllex.STRING, sqllex.COMMENT)
    return {sql[s:e] for kind, s, e, _ in sqllex.spans(sql, mysql) if kind in kinds}


def _code(sql: str, mysql: bool = False) -> str:
    return " ".join(sql[s:e] for kind, s, e, _ in sqllex.spans(sql, mysql) if kind == sqllex.CODE)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.sampled_from("ab ?$1'\"`\\-/*#\n(),")), st.booleans())
def test_spans_cover_text_and_mask_keeps_offsets(sql, mysql):
    sp = sqllex.spans(sql, mysql)
    assert "".join(sql[s:e] for _, s, e, _ in sp) == sql
    assert all(a.end == b.start for a, b in zip(sp, sp[1:]))
    mask = sqllex.code_mask(sql, mysql)
    assert len(mask) == len(sql)
    for kind, s, e, _ in sp:
        if kind in (sqllex.CODE, sqllex.IDENT):
            assert mask[s:e] == sql[s:e]


@settings(max_examples=300, deadline=None)
@given(_select())
def test_rewrites_leave_literals_and_comments_alone(case):
    sql, qualify, thetas = case
    both = lambda s: rewrite_qualify(rewrite_sql_functions(s))  # noqa: E731
    for rewrite in (rewrite_sql_functions, rewrite_qualify, both):
        out = rewrite(sql)
        assert _literals(sql) - _CONSUMED <= _literals(out)
        assert _literals(out) <= _literals(sql) | _RENDERED
        assert rewrite(out) == out
    out = both(sql)
    assert not re.search(r"thetasketch_distinct|time_bucket|date_bin|\bqualify\b", _code(out), re.I)
    assert ("__qualify" in out) == qualify
    assert out.count("approx_count_distinct(") == thetas


@st.composite
def _placeholders(draw, mysql: bool) -> tuple[str, list[int]]:
    """(statement, the placeholders written in code: 0 for ``?``, n for ``$n``)."""
    comment = st.one_of(_COMMENT, _COMMENT_TEXT.map(lambda t: f"#{t}\n")) if mysql else _COMMENT
    mark = st.just(0) if mysql else st.integers(1, 12)
    parts = draw(st.lists(st.one_of(mark, _STRING, _IDENT, comment, st.sampled_from(["a", ",", "+ 1"]))))
    sql = "SELECT " + " ".join(("?" if p == 0 else f"${p}") if isinstance(p, int) else p for p in parts)
    return sql, [p for p in parts if isinstance(p, int)]


@settings(max_examples=200, deadline=None)
@given(_placeholders(mysql=True))
def test_mysql_placeholders_are_counted_and_bound_in_code_only(case):
    sql, marks = case
    assert _count_question_params(sql) == len(marks)
    out = _substitute_question_params(sql, ["7"] * len(marks))
    assert "?" not in _code(out, mysql=True)
    assert _literals(sql, mysql=True) <= _literals(out, mysql=True)


@settings(max_examples=200, deadline=None)
@given(_placeholders(mysql=False))
def test_pg_placeholders_are_counted_and_bound_in_code_only(case):
    sql, marks = case
    assert _count_placeholders(sql) == max(marks, default=0)
    out = _substitute_params(sql, ["7"] * max(marks, default=0), [])
    assert not re.search(r"\$\d", _code(out))
    assert _literals(sql) <= _literals(out)
