"""The SQL rewriter's boolean-matcher (<>/!=) and MVD comparison rewrites
must be string-literal-safe and context-aware:

- a quoted literal CONTAINING an `id <> '...'` shape passes through
  verbatim (regex rewrites never touch data);
- in a projection context (`SELECT dim <> 'z' AS flag`) Druid's
  sql-compatible `!=` is an EXPRESSION yielding NULL for NULL input
  (ExpressionVirtualColumn three-valued semantics), while in filter
  contexts (WHERE/HAVING/ON/WHEN) it plans as not(selector) — a two-valued
  ValueMatcher that matches nulls (CalciteQueryTest testCountStarOnView).

Reference: sql/src/main/java/org/apache/druid/sql/calcite/expression/
Expressions.java (filter vs expression planning split).

Every rewrite reads the text through one tokenizer, so a comment, a quoted
identifier or a nested operand reads the same to each of them (the table
at the end)."""

import pytest

from incubator_druid_spark.api import sql_query
from incubator_druid_spark.sql.functions import druid_sql


def q1(spark, cat, sql):
    return tuple(druid_sql(spark, sql, cat).first())


def test_literal_containing_neq_shape_untouched(spark, foo_catalog):
    # The advisor's verified corruption case: 'x <> ''y''' is DATA.
    assert q1(spark, foo_catalog,
              "SELECT 'x <> ''y''' AS s FROM foo LIMIT 1") == ("x <> 'y'",)


def test_literal_containing_mvd_eq_shape_untouched(spark, foo_catalog):
    # dim2 is an MVD column; a literal containing `dim2 = 'a'` is DATA.
    assert q1(spark, foo_catalog,
              "SELECT 'dim2 = ''a''' AS s FROM foo LIMIT 1") == ("dim2 = 'a'",)


def test_projection_neq_is_three_valued(spark, foo_catalog):
    # dim1 = '' row: '' <> 'z' is TRUE; but a NULL operand projects NULL.
    # numeric-string col dim1 has no nulls in foo, so build one via NULLIF.
    got = q1(spark, foo_catalog, """
        SELECT COUNT(*) AS total,
               COUNT(CASE WHEN NULLIF(dim1, '') <> 'z' THEN 1 END) AS t
        FROM foo""")
    # 6 rows; NULLIF makes one NULL → expression yields NULL there (not
    # TRUE), CASE counts only the 5 definite rows.
    assert got == (6, 5)


def test_filter_neq_is_two_valued(spark, foo_catalog):
    # WHERE context stays a matcher: NULL rows MATCH <> 'z'
    # (testCountStarOnView semantics).
    # Bare-identifier form is the rewritten (matcher) path: all 6 rows.
    got = q1(spark, foo_catalog,
             "SELECT COUNT(*) AS c FROM foo WHERE dim1 <> 'z'")
    assert got == (6,)
    # Non-bare shapes (function call on the left) stay on Spark's
    # three-valued <>: the NULL row drops.  Documented limitation — Druid
    # would virtual-column + matcher this too.
    got2 = q1(spark, foo_catalog,
              "SELECT COUNT(*) AS c FROM foo WHERE NULLIF(dim1, '') <> 'z'")
    assert got2 == (5,)


def test_where_neq_after_and_still_rewritten(spark, foo_catalog):
    got = q1(spark, foo_catalog, """
        SELECT COUNT(*) AS c FROM foo
        WHERE cnt = 1 AND dim1 <> 'z'""")
    assert got == (6,)


@pytest.fixture(scope="module")
def tokens_catalog(spark, foo, tmp_path_factory):
    """foo twice: as ``foo`` and as ``foo_first``, a name only the
    comment case below reads, so that query is the first of the session
    to reference it (no temp view holds it yet)."""
    from incubator_druid_spark.catalog import Catalog
    path = str(tmp_path_factory.mktemp("tokens_ds") / "foo.parquet")
    foo.write.mode("overwrite").parquet(path)
    cat = Catalog(spark)
    cat.register("foo", path)
    cat.register("foo_first", path)
    return cat


# (sql, parameters, expected object rows), each through the SQL endpoint
TOKEN_CASES = {
    # an apostrophe in a comment opened no literal in the table scan
    "comment_apostrophe_first_query": (
        "SELECT COUNT(*) AS n -- the user's count\nFROM foo_first", None,
        [{"n": 6}]),
    # the quoted identifier after such a comment is still an identifier
    "quoted_ident_after_comment": (
        "SELECT COUNT(*) AS n FROM foo /* it's */ WHERE \"dim1\" = 'abc'",
        None, [{"n": 1}]),
    # an operand of any depth: the nested form equals the flat one
    "nested_floor_to": (
        "SELECT COUNT(*) AS n FROM foo WHERE FLOOR(TIME_PARSE(CONCAT("
        "CAST(__time AS VARCHAR), '')) TO MONTH) = FLOOR(__time TO MONTH)",
        None, [{"n": 6}]),
    "nested_position_from": (
        "SELECT POSITION('b' IN CONCAT(dim1, LOWER('XB')) FROM 3) AS p "
        "FROM foo WHERE dim1 = 'abc'", None, [{"p": 5}]),
    "parameter_after_comment": (
        "SELECT COUNT(*) AS n FROM foo -- it's a count\nWHERE dim1 = ?",
        [{"type": "VARCHAR", "value": "abc"}], [{"n": 1}]),
    # an array second argument built by ARRAY_SLICE / ARRAY_CONCAT is
    # contains-all (ArrayContainsFunction), as a literal array is
    "array_contains_slice": (
        "SELECT COUNT(*) AS n FROM foo "
        "WHERE ARRAY_CONTAINS(dim3, ARRAY_SLICE(dim3, 0, 1))", None,
        [{"n": 5}]),
    "array_contains_concat": (
        "SELECT COUNT(*) AS n FROM foo "
        "WHERE ARRAY_CONTAINS(dim3, ARRAY_CONCAT(ARRAY['a'], ARRAY['b']))",
        None, [{"n": 1}]),
}


@pytest.mark.parametrize("case", TOKEN_CASES)
def test_tokenized_rewrites(spark, tokens_catalog, case):
    sql, params, expected = TOKEN_CASES[case]
    body = {"query": sql}
    if params is not None:
        body["parameters"] = params
    assert sql_query(body, spark, tokens_catalog) == expected


def test_rewrite_calls_unterminated_passthrough():
    """An unbalanced call (end-of-string before the closing paren) passes
    through VERBATIM — the rewriter must not invent a ')' that was never in
    the source, nor normalize the argument whitespace of the broken call."""
    from incubator_druid_spark.sql.functions import _rewrite_calls

    src = "SELECT STRPOS(x,  'a'"          # unterminated, odd spacing
    assert _rewrite_calls(src, "strpos", lambda a: None) == src
    # a terminated call BEFORE the broken one still rewrites
    src2 = "STRPOS(a, b) + STRPOS(c"
    out = _rewrite_calls(src2, "strpos", lambda a: f"instr({', '.join(a)})")
    assert out == "instr(a, b) + STRPOS(c"
