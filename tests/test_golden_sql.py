"""Golden SQL tests over the `foo` fixture — ports of representative
CalciteQueryTest behaviors (sql/src/test/.../CalciteQueryTest.java asserts
exact rows for each SQL statement against the same six-row datasource;
FIXTURES.md reproduces the rows).  SQL-compatible null mode throughout.

MVD note: Druid SQL implicitly explodes multi-value dims on GROUP BY; in this
engine that semantics lives in the native groupBy path (tested in
test_query_types) while the SQL surface exposes arrays honestly — golden
cases touching MVDs go through the native API here.
"""

import pytest

from incubator_druid_spark import translate
from incubator_druid_spark.sql.functions import druid_sql
from tests.conftest import rows


def q(spark, foo_catalog, sql):
    return druid_sql(spark, sql, foo_catalog)


def test_select_count_star(spark, foo_catalog):
    assert q(spark, foo_catalog, "SELECT COUNT(*) AS c FROM foo").first()["c"] == 6


def test_aggregates(spark, foo_catalog):
    r = q(spark, foo_catalog, """
        SELECT SUM(m2) AS s, MIN(m1) AS mn, MAX(m1) AS mx, AVG(m2) AS a,
               COUNT(DISTINCT dim1) AS d
        FROM foo""").first()
    assert (r["s"], r["mn"], r["mx"], r["a"], r["d"]) == (21.0, 1.0, 6.0, 3.5, 6)


def test_filtered_aggregates(spark, foo_catalog):
    r = q(spark, foo_catalog, """
        SELECT COUNT(*) FILTER (WHERE dim1 <> '') AS nonempty,
               SUM(m2) FILTER (WHERE m1 > 3) AS big
        FROM foo""").first()
    assert r["nonempty"] == 5 and r["big"] == 15.0


def test_group_by_having_order(spark, foo_catalog):
    out = q(spark, foo_catalog, """
        SELECT dim1, SUM(m2) AS s FROM foo
        GROUP BY dim1 HAVING SUM(m2) > 3 ORDER BY s DESC LIMIT 2""").collect()
    assert [(r["dim1"], r["s"]) for r in out] == [("abc", 6.0), ("def", 5.0)]


def test_case_and_coalesce(spark, foo_catalog):
    out = q(spark, foo_catalog, """
        SELECT dim1,
               CASE WHEN m1 <= 2 THEN 'small' WHEN m1 <= 4 THEN 'mid'
                    ELSE 'big' END AS band,
               COALESCE(NULLIF(dim1, ''), 'EMPTY') AS d
        FROM foo WHERE m1 IN (1, 3, 6)""").collect()
    got = {(r["dim1"], r["band"], r["d"]) for r in out}
    assert got == {("", "small", "EMPTY"), ("2", "mid", "2"),
                   ("abc", "big", "abc")}


def test_time_floor_group(spark, foo_catalog):
    out = q(spark, foo_catalog, """
        SELECT TIME_FLOOR(__time, 'P1Y') AS y, COUNT(*) AS c, SUM(cnt) AS sc
        FROM foo GROUP BY 1 ORDER BY 1""").collect()
    assert [(str(r["y"])[:4], r["c"], r["sc"]) for r in out] == \
        [("2000", 3, 3), ("2001", 3, 3)]


def test_extract_and_time_predicates(spark, foo_catalog):
    out = q(spark, foo_catalog, """
        SELECT COUNT(*) AS c FROM foo
        WHERE __time >= TIMESTAMP '2000-01-02 00:00:00'
          AND __time < TIMESTAMP '2001-01-02 00:00:00'""").first()
    assert out["c"] == 3
    r = q(spark, foo_catalog, """
        SELECT EXTRACT(YEAR FROM __time) AS y, COUNT(*) AS c
        FROM foo GROUP BY 1 ORDER BY 1""").collect()
    assert [(x["y"], x["c"]) for x in r] == [(2000, 3), (2001, 3)]


def test_lookup_function(spark, foo_catalog):
    out = q(spark, foo_catalog, """
        SELECT dim1, LOOKUP(dim1, 'lookyloo') AS v FROM foo
        WHERE LOOKUP(dim1, 'lookyloo') IS NOT NULL""").collect()
    assert {(r["dim1"], r["v"]) for r in out} == {("abc", "xabc")}


def test_string_functions(spark, foo_catalog):
    r = q(spark, foo_catalog, """
        SELECT TEXTCAT(dim1, 'x') AS t, STRPOS(dim1, 'b') AS p,
               UPPER(dim1) AS u, SUBSTRING(dim1, 1, 2) AS s
        FROM foo WHERE dim1 = 'abc'""").first()
    assert (r["t"], r["p"], r["u"], r["s"]) == ("abcx", 2, "ABC", "ab")


def test_numeric_string_casts(spark, foo_catalog):
    # '10.1', '2', '1' cast to DOUBLE; 'abc'/'def'/'' → NULL (non-ANSI mode)
    out = q(spark, foo_catalog, """
        SELECT SUM(CAST(dim1 AS DOUBLE)) AS s FROM foo""").first()
    assert out["s"] == pytest.approx(13.1)


def test_self_join(spark, foo_catalog):
    out = q(spark, foo_catalog, """
        SELECT a.dim1, b.m2 FROM foo a JOIN foo b ON a.m1 = b.m2
        WHERE a.dim1 = 'abc'""").collect()
    assert [(r["dim1"], r["m2"]) for r in out] == [("abc", 6.0)]


def test_union_all_and_distinct(spark, foo_catalog):
    assert q(spark, foo_catalog, """
        SELECT COUNT(*) AS c FROM
        (SELECT dim1 FROM foo UNION ALL SELECT dim1 FROM foo)""").first()["c"] == 12
    assert q(spark, foo_catalog, """
        SELECT COUNT(*) AS c FROM
        (SELECT dim1 FROM foo UNION SELECT dim1 FROM foo)""").first()["c"] == 6


def test_subquery_in_filter(spark, foo_catalog):
    out = q(spark, foo_catalog, """
        SELECT dim1 FROM foo
        WHERE m2 IN (SELECT MAX(m2) FROM foo)""").collect()
    assert [r["dim1"] for r in out] == ["abc"]


def test_window_function_superset(spark, foo_catalog):
    out = q(spark, foo_catalog, """
        SELECT dim1, m2,
               ROW_NUMBER() OVER (ORDER BY m2 DESC) AS rn,
               LAG(dim1) OVER (ORDER BY m2) AS prev
        FROM foo ORDER BY m2 DESC LIMIT 2""").collect()
    assert [(r["dim1"], r["rn"]) for r in out] == [("abc", 1), ("def", 2)]
    assert out[0]["prev"] == "def"


def test_grouping_sets_sql(spark, foo_catalog):
    """CalciteQueryTest GROUP BY GROUPING SETS — maps to Druid subtotalsSpec;
    Spark native grouping sets + GROUPING()."""
    out = q(spark, foo_catalog, """
        SELECT dim2[0] AS d, GROUPING(dim2[0]) AS g, SUM(m2) AS s
        FROM foo GROUP BY GROUPING SETS ((dim2[0]), ())""").collect()
    got = {(r["d"], r["g"]): r["s"] for r in out}
    assert got[(None, 1)] == 21.0          # grand total row, GROUPING()=1
    assert got[("a", 0)] == 5.0            # rows 1+4


def test_correlated_exists(spark, foo_catalog):
    """CalciteCorrelatedQueryTest — correlated EXISTS decorrelates to a
    semi-join."""
    out = q(spark, foo_catalog, """
        SELECT dim1 FROM foo a
        WHERE EXISTS (SELECT 1 FROM foo b WHERE b.m1 = a.m2 + 1)
          AND dim1 <> '' ORDER BY dim1""").collect()
    # rows whose m2+1 appears as another row's m1 (m1 runs 1..6, m2==m1):
    # m2 in 1..5 qualifies; 'abc' (m2=6) has no m1=7 partner
    assert [r["dim1"] for r in out] == ["1", "10.1", "2", "def"]


def test_intersect_except(spark, foo_catalog):
    assert q(spark, foo_catalog, """
        SELECT COUNT(*) AS c FROM
        (SELECT dim1 FROM foo WHERE m2 <= 4
         INTERSECT SELECT dim1 FROM foo WHERE m2 >= 4)""").first()["c"] == 1
    assert q(spark, foo_catalog, """
        SELECT COUNT(*) AS c FROM
        (SELECT dim1 FROM foo EXCEPT SELECT dim1 FROM foo WHERE m2 > 2)
        """).first()["c"] == 2


def test_approx_count_distinct_sql(spark, foo_catalog):
    r = q(spark, foo_catalog, """
        SELECT APPROX_COUNT_DISTINCT(dim1) AS a, COUNT(DISTINCT dim1) AS e,
               COUNT(DISTINCT dim1) + COUNT(DISTINCT m1) AS multi
        FROM foo""").first()
    assert r["a"] == 6 and r["e"] == 6 and r["multi"] == 12


def test_group_by_expression(spark, foo_catalog):
    out = q(spark, foo_catalog, """
        SELECT SUBSTRING(dim1, 1, 1) AS c1, COUNT(*) AS n
        FROM foo WHERE dim1 <> '' GROUP BY 1 ORDER BY n DESC, c1""").collect()
    assert [(r["c1"], r["n"]) for r in out] == \
        [("1", 2), ("2", 1), ("a", 1), ("d", 1)]


def test_nested_aggregation_query(spark, foo_catalog):
    """Stacked aggregation (DruidOuterQueryRel): avg of per-group sums."""
    r = q(spark, foo_catalog, """
        SELECT AVG(s) AS a, COUNT(*) AS groups FROM
        (SELECT dim2[0] AS d, SUM(m2) AS s FROM foo GROUP BY dim2[0])""").first()
    assert r["groups"] == 4 and r["a"] == pytest.approx(21.0 / 4)


def test_order_by_limit_offset(spark, foo_catalog):
    out = q(spark, foo_catalog, """
        SELECT dim1, m2 FROM foo ORDER BY m2 DESC LIMIT 2 OFFSET 1""").collect()
    assert [(r["dim1"], r["m2"]) for r in out] == [("def", 5.0), ("1", 4.0)]


def test_safe_divide_and_div_zero(spark, foo_catalog):
    """Druid non-ANSI division: x/0 → NULL in SQL mode; SAFE_DIVIDE alias."""
    r = q(spark, foo_catalog, """
        SELECT SAFE_DIVIDE(m2, m2 - m2) AS sd, m2 / (m2 - m2) AS dz
        FROM foo WHERE m2 = 1.0""").first()
    assert r["sd"] is None and r["dz"] is None


def test_earliest_latest_quantile_sql(spark, foo_catalog):
    """Druid SQL aggregate names (EarliestLatestAnySqlAggregator /
    QuantileSqlAggregator) rewritten to min_by/max_by/percentile_approx."""
    r = q(spark, foo_catalog, """
        SELECT EARLIEST(dim1) AS e, LATEST(dim1) AS l,
               LATEST_BY(dim1, m2) AS lb,
               APPROX_QUANTILE_DS(m2, 0.5) AS med,
               ANY_VALUE(cnt) AS av
        FROM foo""").first()
    assert r["e"] == "" and r["l"] == "abc" and r["lb"] == "abc"
    assert r["med"] in (3.0, 4.0)     # median of 1..6, either midpoint ok
    assert r["av"] == 1
    r2 = q(spark, foo_catalog, """
        SELECT APPROX_COUNT_DISTINCT_DS_HLL(dim1) AS h,
               APPROX_COUNT_DISTINCT_DS_THETA(dim1, 4096) AS t FROM foo""").first()
    assert r2["h"] == 6 and r2["t"] == 6


def test_mvd_group_by_native(spark, foo_catalog):
    """Druid SQL GROUP BY dim3 (MVD) explodes — native path equivalence."""
    out = translate({
        "queryType": "groupBy", "dataSource": "foo", "granularity": "all",
        "dimensions": ["dim3"],
        "aggregations": [{"type": "longSum", "name": "c", "fieldName": "cnt"}],
    }, spark, foo_catalog)
    got = dict(rows(out, "dim3", "c"))
    assert got["b"] == 2 and got[""] == 1 and got[None] == 2


def test_floor_ceil_to_unit(spark, foo_catalog):
    """Calcite FLOOR(ts TO unit)/CEIL(ts TO unit) (FloorOperatorConversion /
    CeilOperatorConversion) — the canonical Druid SQL time-bucket idiom."""
    out = q(spark, foo_catalog, """
        SELECT FLOOR(__time TO YEAR) AS y, COUNT(*) AS c
        FROM foo GROUP BY FLOOR(__time TO YEAR) ORDER BY 1""").collect()
    assert [(str(r["y"])[:4], r["c"]) for r in out] == [("2000", 3), ("2001", 3)]
    one = q(spark, foo_catalog, """
        SELECT CEIL(__time TO MONTH) AS m FROM foo
        WHERE dim1 = 'abc'""").first()
    # 2001-01-01T00 ceils to the next month boundary only if not aligned;
    # foo's 'abc' row is at 2001-01-03 → ceil = 2001-02-01
    assert str(one["m"])[:10] == "2001-02-01"


def test_truncate_parse_long_string_format(spark, foo_catalog):
    row = q(spark, foo_catalog, """
        SELECT TRUNCATE(m2 * 1.117, 1) AS t, TRUNCATE(-2.79, 1) AS tn,
               PARSE_LONG('42') AS pl,
               STRING_FORMAT('%s-%d', dim1, 7) AS sf
        FROM foo WHERE dim1 = 'abc'""").first()
    assert abs(row["t"] - 6.7) < 1e-9      # 6.0 * 1.117 = 6.702 → 6.7
    assert row["tn"] == -2.7               # truncate toward zero, not floor
    assert row["pl"] == 42
    assert row["sf"] == "abc-7"


def test_non_ansi_cast_and_concat_nulls(spark, foo_catalog):
    """CalciteQueryTest cast/null behaviors: bad string→number casts yield
    NULL (Druid expr non-ANSI), CONCAT propagates NULL in SQL-null mode."""
    row = q(spark, foo_catalog, """
        SELECT CAST('abc' AS BIGINT) AS bad_cast,
               CAST(dim1 AS DOUBLE) AS num_cast,
               CONCAT(CAST(NULL AS VARCHAR), dim1) AS cat_null
        FROM foo WHERE dim1 = '10.1'""").first()
    assert row["bad_cast"] is None
    assert row["num_cast"] == 10.1
    assert row["cat_null"] is None


def test_like_escape_between_position(spark, foo_catalog):
    rows_ = q(spark, foo_catalog, r"""
        SELECT dim1 FROM foo
        WHERE dim1 LIKE '10\_1' ESCAPE '\'
           OR (dim1 LIKE 'a%' AND __time BETWEEN TIMESTAMP '2001-01-01'
                                             AND TIMESTAMP '2001-12-31')
        ORDER BY dim1""").collect()
    assert [r["dim1"] for r in rows_] == ["abc"]  # '10_1' literal matches none
    row = q(spark, foo_catalog, """
        SELECT POSITION('b' IN dim1) AS p,
               SUBSTRING(dim1 FROM 2 FOR 1) AS s
        FROM foo WHERE dim1 = 'abc'""").first()
    assert row["p"] == 2 and row["s"] == "b"


def test_group_by_empty_and_count_distinct_exact(spark, foo_catalog):
    """GROUP BY () global aggregate + exact COUNT(DISTINCT) expansion
    (Rules.java:274 AggregateExpandDistinctAggregatesRule)."""
    row = q(spark, foo_catalog, """
        SELECT COUNT(DISTINCT dim1) AS cd, SUM(m1) AS s
        FROM foo GROUP BY ()""").first()
    assert row["cd"] == 6 and row["s"] == 21.0


def test_order_by_null_position(spark, foo_catalog):
    """Null ordering control — NULLS FIRST/LAST explicit (Druid SQL exposes
    Calcite's null direction syntax)."""
    vals = [r["l"] for r in q(spark, foo_catalog, """
        SELECT CASE WHEN m1 > 4 THEN m1 END AS l FROM foo
        ORDER BY l DESC NULLS LAST""").collect()]
    assert vals == [6.0, 5.0, None, None, None, None]
    vals = [r["l"] for r in q(spark, foo_catalog, """
        SELECT CASE WHEN m1 > 4 THEN m1 END AS l FROM foo
        ORDER BY l ASC NULLS FIRST LIMIT 3""").collect()]
    assert vals == [None, None, None]


def test_nested_groupby_on_subquery_agg(spark, foo_catalog):
    """Stacked aggregation: outer GROUP BY over an inner aggregate — the
    DruidOuterQueryRel shape (DruidRules.java:145-244)."""
    out = q(spark, foo_catalog, """
        SELECT cnt_bucket, COUNT(*) AS n FROM (
            SELECT dim2_first, COUNT(*) AS cnt_bucket FROM (
                SELECT dim1, element_at(dim2, 1) AS dim2_first FROM foo
                WHERE dim2 IS NOT NULL) t
            GROUP BY dim2_first) tt
        GROUP BY cnt_bucket ORDER BY cnt_bucket""").collect()
    # dim2 firsts: 'a'(×2), null(from []), ''(from ['']), 'abc' → buckets
    got = [(r["cnt_bucket"], r["n"]) for r in out]
    assert got == [(1, 3), (2, 1)]


def test_select_distinct_and_limit_zero(spark, foo_catalog):
    """SELECT DISTINCT plans as groupBy (DruidQuery.toQuery); LIMIT 0 returns
    an empty result that still carries the schema."""
    vals = sorted(r["dim1"] for r in q(spark, foo_catalog,
        "SELECT DISTINCT dim1 FROM foo").collect())
    assert vals == ["", "1", "10.1", "2", "abc", "def"]
    empty = q(spark, foo_catalog, "SELECT dim1, m1 FROM foo LIMIT 0")
    assert empty.columns == ["dim1", "m1"] and empty.count() == 0


def test_having_on_aliased_aggregate(spark, foo_catalog):
    out = q(spark, foo_catalog, """
        SELECT SUBSTRING(dim1, 1, 1) AS pfx, SUM(m1) AS s FROM foo
        WHERE dim1 <> ''
        GROUP BY SUBSTRING(dim1, 1, 1) HAVING SUM(m1) > 4
        ORDER BY s DESC""").collect()
    # prefixes: '1' ← {'10.1','1'} = 6.0, 'a' ← {'abc'} = 6.0, 'd' ← {'def'} = 5.0
    assert {(r["pfx"], r["s"]) for r in out} == \
        {("1", 6.0), ("a", 6.0), ("d", 5.0)}
    assert [r["s"] for r in out] == [6.0, 6.0, 5.0]


def test_time_floor_timezone_and_origin(spark, foo_catalog):
    """TimeFloorOperatorConversion.java — TIME_FLOOR(ts, period, origin, tz).
    tz: floor in local wall-clock; origin: buckets anchored at the origin."""
    r = q(spark, foo_catalog, """
        SELECT TIME_FLOOR(__time, 'P1D', NULL, 'America/Los_Angeles') AS d
        FROM foo WHERE dim1 = ''""").first()
    # 2000-01-01T00:00 UTC = 1999-12-31T16:00 LA → LA midnight = 08:00 UTC
    assert str(r["d"]) == "1999-12-31 08:00:00"
    r = q(spark, foo_catalog, """
        SELECT TIME_FLOOR(__time, 'PT1H',
                          TIMESTAMP '2000-01-01 00:30:00') AS h
        FROM foo WHERE dim1 = ''""").first()
    assert str(r["h"]) == "1999-12-31 23:30:00"
    grouped = q(spark, foo_catalog, """
        SELECT TIME_FLOOR(__time, 'P1Y', NULL, 'America/Los_Angeles') AS y,
               COUNT(*) AS c
        FROM foo GROUP BY 1 ORDER BY 1""").collect()
    # LA-local years (UTC-midnight rows land at 16:00 LA the prior day):
    # 2000-01-01 → LA 1999; 2000-01-02/03 + 2001-01-01 → LA 2000;
    # 2001-01-02/03 → LA 2001; year boundaries at 08:00 UTC
    assert [(str(r["y"]), r["c"]) for r in grouped] == \
        [("1999-01-01 08:00:00", 1), ("2000-01-01 08:00:00", 3),
         ("2001-01-01 08:00:00", 2)]


def test_time_shift_extract_timezone(spark, foo_catalog):
    r = q(spark, foo_catalog, """
        SELECT TIME_SHIFT(__time, 'P1M', 1, 'America/Los_Angeles') AS m,
               TIME_EXTRACT(__time, 'DAY', 'America/Los_Angeles') AS d,
               TIME_FORMAT(__time, 'yyyy-MM-dd HH', 'America/Los_Angeles') AS f
        FROM foo WHERE dim1 = ''""").first()
    # 2000-01-01T00 UTC = 1999-12-31T16 LA; +1 month LA = 2000-01-31T16 LA
    # = 2000-02-01T00 UTC
    assert str(r["m"]) == "2000-02-01 00:00:00"
    assert r["d"] == 31
    assert r["f"] == "1999-12-31 16"


def test_regexp_extract_null_on_no_match(spark, foo_catalog):
    """RegexpExtractExprMacro.java: no match → NULL (Spark builtin: '');
    default group is 0 (whole match)."""
    out = q(spark, foo_catalog, r"""
        SELECT dim1, REGEXP_EXTRACT(dim1, '^(\\d+)', 1) AS num,
               REGEXP_EXTRACT(dim1, 'b') AS whole
        FROM foo""").collect()
    got = {(r["dim1"], r["num"], r["whole"]) for r in out}
    assert got == {("", None, None), ("10.1", "10", None), ("2", "2", None),
                   ("1", "1", None), ("def", None, None),
                   ("abc", None, "b")}


def test_mv_sql_function_family(spark, foo_catalog):
    """MultiValueStringOperatorConversions.java: the MV_* SQL wrappers over
    array dims — length/contains/overlap/offset/ordinal/append/slice/
    to-string/filter-only on foo.dim3 (['a','b'], ['b','c'], ['d'], [''],
    [], null)."""
    out = q(spark, foo_catalog, """
        SELECT dim1,
               MV_LENGTH(dim3) AS n,
               MV_CONTAINS(dim3, 'b') AS has_b,
               MV_OVERLAP(dim3, ARRAY('b', 'd')) AS ov,
               MV_OFFSET(dim3, 0) AS first0,
               MV_ORDINAL(dim3, 1) AS first1,
               MV_TO_STRING(dim3, ',') AS joined,
               MV_FILTER_ONLY(dim3, ARRAY('a', 'b')) AS only_ab
        FROM foo""").collect()
    got = {r["dim1"]: r for r in out}
    assert (got[""]["n"], got[""]["has_b"], got[""]["ov"]) == (2, True, True)
    assert got[""]["first0"] == "a" and got[""]["first1"] == "a"
    assert got[""]["joined"] == "a,b" and got[""]["only_ab"] == ["a", "b"]
    assert got["10.1"]["only_ab"] == ["b"]
    assert (got["2"]["has_b"], got["2"]["ov"]) == (False, True)
    assert got["def"]["n"] == 0 and got["def"]["joined"] == ""
    assert got["abc"]["n"] is None and got["abc"]["has_b"] is None


def test_mv_string_roundtrip_and_edit(spark, foo_catalog):
    """STRING_TO_MV / MV_APPEND / MV_PREPEND / MV_CONCAT / MV_SLICE /
    MV_OFFSET_OF / MV_ORDINAL_OF."""
    r = q(spark, foo_catalog, """
        SELECT STRING_TO_MV('x,y,z', ',') AS arr,
               MV_APPEND(STRING_TO_MV('x,y', ','), 'z') AS ap,
               MV_PREPEND('w', STRING_TO_MV('x,y', ',')) AS pre,
               MV_CONCAT(STRING_TO_MV('x', ','), STRING_TO_MV('y', ',')) AS cc,
               MV_SLICE(STRING_TO_MV('a,b,c,d', ','), 1, 3) AS sl,
               MV_OFFSET_OF(STRING_TO_MV('a,b,c', ','), 'b') AS off,
               MV_ORDINAL_OF(STRING_TO_MV('a,b,c', ','), 'b') AS ord
        FROM foo LIMIT 1""").first()
    assert r["arr"] == ["x", "y", "z"] and r["ap"] == ["x", "y", "z"]
    assert r["pre"] == ["w", "x", "y"] and r["cc"] == ["x", "y"]
    assert r["sl"] == ["b", "c"]
    assert r["off"] == 1 and r["ord"] == 2


def test_bitwise_sql_functions(spark, foo_catalog):
    """Function.java BitAnd/BitOr/BitXor/Shift* via the BITWISE_* SQL names."""
    r = q(spark, foo_catalog, """
        SELECT BITWISE_AND(12, 10) AS a, BITWISE_OR(12, 10) AS o,
               BITWISE_XOR(12, 10) AS x,
               BITWISE_SHIFT_LEFT(1, 10) AS sl,
               BITWISE_SHIFT_RIGHT(-8, 1) AS sr
        FROM foo LIMIT 1""").first()
    assert (r["a"], r["o"], r["x"]) == (8, 14, 6)
    assert r["sl"] == 1024 and r["sr"] == -4


def test_ipv4_sql_functions(spark, foo_catalog):
    """IPv4Address*ExprMacro.java SQL names: parse/stringify/match."""
    r = q(spark, foo_catalog, """
        SELECT IPV4_PARSE('192.168.1.1') AS n,
               IPV4_STRINGIFY(3232235777) AS s,
               IPV4_MATCH('192.168.1.50', '192.168.1.0/24') AS hit,
               IPV4_MATCH('10.0.0.1', '192.168.1.0/24') AS miss
        FROM foo LIMIT 1""").first()
    assert r["n"] == 3232235777 and r["s"] == "192.168.1.1"
    assert r["hit"] is True and r["miss"] is False


def test_time_in_interval_and_contains_string(spark, foo_catalog):
    """TIME_IN_INTERVAL (ISO interval membership, half-open) +
    CONTAINS_STRING/ICONTAINS_STRING (ContainsExprMacro.java)."""
    out = q(spark, foo_catalog, """
        SELECT dim1 FROM foo
        WHERE TIME_IN_INTERVAL(__time, '2000-01-01T00:00:00Z/2001-01-01T00:00:00Z')
        """).collect()
    assert {r["dim1"] for r in out} == {"", "10.1", "2"}
    out2 = q(spark, foo_catalog, """
        SELECT CONTAINS_STRING(dim1, 'bc') AS c,
               ICONTAINS_STRING(dim1, 'BC') AS ic
        FROM foo WHERE dim1 = 'abc'""").first()
    assert out2["c"] is True and out2["ic"] is True


def test_strpos_textcat_human_strings(spark, foo_catalog):
    """STRPOS (1-based, 0 when absent), TEXTCAT, REGEXP_LIKE."""
    r = q(spark, foo_catalog, """
        SELECT STRPOS('haystack', 'st') AS pos,
               STRPOS('haystack', 'zz') AS none,
               TEXTCAT(dim1, '!') AS cat,
               REGEXP_LIKE(dim1, '^[0-9.]+$') AS numish
        FROM foo WHERE dim1 = '10.1'""").first()
    assert r["pos"] == 4 and r["none"] == 0
    assert r["cat"] == "10.1!" and r["numish"] is True


def test_div_truncates_toward_zero(spark, foo_catalog):
    """DIV is Java long division (Function.java Div): a negative quotient
    truncates toward zero, where a floor would give -4."""
    r = q(spark, foo_catalog, """
        SELECT DIV(-7, 2) AS a, DIV(7, -2) AS b, DIV(7, 2) AS c,
               DIV(cnt * -7, 2) AS d
        FROM foo WHERE dim1 = '10.1'""").first()
    assert (r["a"], r["b"], r["c"], r["d"]) == (-3, -3, 3, -3)


# ---------------------------------------------------------------------------
# numfoo — typed numeric dimensions with nulls (CalciteTests.java:492-566);
# SQL-compatible null mode: null is absent from aggregates and never equal
# to 0 in predicates (NullHandling.java sqlCompatible)
# ---------------------------------------------------------------------------

def test_numfoo_null_aggregates(spark, numfoo_catalog):
    r = q(spark, numfoo_catalog, """
        SELECT count(*) AS n, count(d1) AS nd, sum(d1) AS sd, avg(d1) AS ad,
               min(l1) AS mn, max(l1) AS mx, sum(l2) AS sl2
        FROM numfoo""").first()
    assert r["n"] == 6 and r["nd"] == 3
    assert abs(r["sd"] - 2.7) < 1e-12 and abs(r["ad"] - 0.9) < 1e-12
    assert r["mn"] == 0 and r["mx"] == 325323
    assert r["sl2"] == 325323  # nulls absent, not zero


def test_numfoo_null_predicates(spark, numfoo_catalog):
    # l1 = 0 matches only the true-zero row, not the null rows
    out = q(spark, numfoo_catalog,
            "SELECT dim1 FROM numfoo WHERE l1 = 0").collect()
    assert [r["dim1"] for r in out] == ["2"]
    out = q(spark, numfoo_catalog,
            "SELECT count(*) AS c FROM numfoo WHERE d1 IS NULL").first()
    assert out["c"] == 3
    # null never satisfies an inequality either
    out = q(spark, numfoo_catalog,
            "SELECT count(*) AS c FROM numfoo WHERE f1 > -1").first()
    assert out["c"] == 3


def test_numfoo_group_by_null_sums(spark, numfoo_catalog):
    """GROUP BY dim4: the 'b' group is all-null in l1 → SUM is NULL (not 0)."""
    out = q(spark, numfoo_catalog, """
        SELECT dim4, sum(l1) AS s, count(l1) AS c
        FROM numfoo GROUP BY dim4 ORDER BY dim4""").collect()
    assert [(r["dim4"], r["s"], r["c"]) for r in out] == [
        ("a", 325330, 3), ("b", None, 0)]


def test_numfoo_coalesce_and_float_sum(spark, numfoo_catalog):
    r = q(spark, numfoo_catalog, """
        SELECT sum(coalesce(l1, 0)) AS s0,
               round(sum(f1), 3) AS sf,
               count(DISTINCT dim5) AS dc
        FROM numfoo""").first()
    assert r["s0"] == 325330
    assert abs(r["sf"] - 1.1) < 1e-6
    assert r["dc"] == 4  # aa, ab, ba, ad


def test_numfoo_group_by_numeric_dim(spark, numfoo_catalog):
    """Grouping on a nullable numeric dimension keeps a NULL group."""
    out = q(spark, numfoo_catalog, """
        SELECT d1, count(*) AS c FROM numfoo GROUP BY d1""").collect()
    got = {(r["d1"], r["c"]) for r in out}
    assert got == {(1.0, 1), (1.7, 1), (0.0, 1), (None, 3)}


# ---------------------------------------------------------------------------
# foo ⋈ foo2 — cross-datasource joins/unions (CalciteTests RAW_ROWS2;
# CalciteQueryTest join coverage: Druid executes these as broadcast hash
# joins with an inner-join-only large side — Spark is a strict superset)
# ---------------------------------------------------------------------------

def test_cross_datasource_join(spark, two_table_catalog):
    out = q(spark, two_table_catalog, """
        SELECT f.dim1, f2.dim2 AS lang, f2.dim3
        FROM foo f JOIN foo2 f2 ON f.dim1 = f2.dim1""").collect()
    # only 'druid' has no partner in foo; foo has none of the unicode values
    assert out == [] or all(r["dim1"] == "druid" for r in out)
    out2 = q(spark, two_table_catalog, """
        SELECT f2.dim2 AS lang, COUNT(f.dim1) AS matched
        FROM foo2 f2 LEFT JOIN foo f ON f.m1 = f2.m1
        GROUP BY f2.dim2 ORDER BY lang""").collect()
    # every foo2 row has m1=1.0 which matches exactly one foo row
    assert [(r["lang"], r["matched"]) for r in out2] == \
        [("en", 1), ("he", 1), ("ru", 1)]


def test_union_all_mismatched_tables(spark, two_table_catalog):
    """UnionDataSource semantics: UNION ALL by column name over tables with
    different column sets (UnionDataSource.java:34-58 unions shared columns)."""
    out = q(spark, two_table_catalog, """
        SELECT dim1 FROM
        (SELECT dim1, m1 FROM foo UNION ALL SELECT dim1, m1 FROM foo2)
        WHERE m1 = 1.0 ORDER BY dim1""").collect()
    # UTF-8 binary collation: Cyrillic (U+04xx) sorts before Hebrew (U+05xx)
    assert [r["dim1"] for r in out] == ["", "druid", "друид", "דרואיד"]


def test_unicode_strings_roundtrip(spark, two_table_catalog):
    """Unicode dim values survive scan/filter/group (CalciteQueryTest
    testUnicodeFilterAndGroupBy)."""
    out = q(spark, two_table_catalog, """
        SELECT dim1, COUNT(*) AS c FROM foo2
        WHERE dim1 IN ('דרואיד', 'друид') GROUP BY dim1""").collect()
    assert {(r["dim1"], r["c"]) for r in out} == {("דרואיד", 1), ("друид", 1)}


def test_case_aggregates_to_filter(spark, foo_catalog):
    """AggregateCaseToFilterRule (Rules.java:120): SUM(CASE WHEN p THEN x
    END) ≡ filtered aggregation."""
    r = q(spark, foo_catalog, """
        SELECT SUM(CASE WHEN dim1 <> '' THEN m2 END) AS s,
               COUNT(CASE WHEN m1 > 3 THEN 1 END) AS c,
               AVG(CASE WHEN m1 <= 3 THEN m2 ELSE NULL END) AS a
        FROM foo""").first()
    assert r["s"] == 20.0 and r["c"] == 3 and r["a"] == 2.0


def test_having_count_distinct(spark, foo_catalog):
    out = q(spark, foo_catalog, """
        SELECT EXTRACT(YEAR FROM __time) AS y, COUNT(DISTINCT dim1) AS d
        FROM foo GROUP BY 1 HAVING COUNT(DISTINCT dim1) >= 3
        ORDER BY y""").collect()
    assert [(r["y"], r["d"]) for r in out] == [(2000, 3), (2001, 3)]


def test_order_by_unselected_aggregate(spark, foo_catalog):
    """ORDER BY an aggregate that isn't in the SELECT list (SORT slot over
    AGGREGATE in PartialDruidQuery)."""
    out = q(spark, foo_catalog, """
        SELECT dim1 FROM foo WHERE dim1 <> ''
        GROUP BY dim1 ORDER BY SUM(m2) DESC LIMIT 3""").collect()
    assert [r["dim1"] for r in out] == ["abc", "def", "1"]


def test_time_shift_negative_and_millis_roundtrip(spark, foo_catalog):
    r = q(spark, foo_catalog, """
        SELECT TIME_SHIFT(__time, 'P1M', -2) AS back,
               MILLIS_TO_TIMESTAMP(TIMESTAMP_TO_MILLIS(__time)) AS rt,
               TIME_EXTRACT(__time, 'DOY') AS doy
        FROM foo WHERE dim1 = 'abc'""").first()
    # 2001-01-03 - 2 months = 2000-11-03; DOY of Jan 3 = 3
    assert str(r["back"]).startswith("2000-11-03")
    assert str(r["rt"]).startswith("2001-01-03")
    assert r["doy"] == 3


def test_lookup_miss_coalesce_chain(spark, foo_catalog):
    """LOOKUP misses yield NULL; COALESCE builds Druid's
    replaceMissingValueWith behavior (RegisteredLookupExtractionFn)."""
    out = q(spark, foo_catalog, """
        SELECT dim1, COALESCE(LOOKUP(dim1, 'lookyloo'), 'MISSING') AS v
        FROM foo WHERE dim1 IN ('abc', 'def') ORDER BY dim1""").collect()
    assert [(r["dim1"], r["v"]) for r in out] == \
        [("abc", "xabc"), ("def", "MISSING")]


def test_safe_divide_null_and_nvl(spark, foo_catalog):
    r = q(spark, foo_catalog, """
        SELECT SAFE_DIVIDE(m2, m1 - m1) AS z,
               SAFE_DIVIDE(m2, 2.0) AS h,
               NVL(NULLIF(dim1, ''), 'E') AS n
        FROM foo WHERE dim1 = ''""").first()
    assert r["z"] is None and r["h"] == 0.5 and r["n"] == "E"


def test_lookup_schema_table(spark, foo_catalog):
    """lookup.<name> tables (LookupSchema.java: two STRING columns k, v) —
    registered lookups queryable and joinable as first-class tables."""
    out = q(spark, foo_catalog, """
        SELECT k, v FROM lookup.lookyloo ORDER BY k""").collect()
    assert [(r["k"], r["v"]) for r in out] == \
        [("6", "x6"), ("a", "xa"), ("abc", "xabc"),
         ("nosuchkey", "mysteryvalue")]
    out2 = q(spark, foo_catalog, """
        SELECT f.dim1, l.v FROM foo f JOIN lookup.lookyloo l ON f.dim1 = l.k
        ORDER BY f.dim1""").collect()
    assert [(r["dim1"], r["v"]) for r in out2] == [("abc", "xabc")]


def test_explain_plan_for(spark, foo_catalog):
    """EXPLAIN PLAN FOR (SqlExplain via DruidPlanner): one row with PLAN
    (this engine's physical plan) and RESOURCES (touched datasources)."""
    import json as _json
    r = q(spark, foo_catalog, """
        EXPLAIN PLAN FOR SELECT dim1, SUM(m2) FROM foo
        WHERE m1 > 2 GROUP BY dim1""").first()
    assert "HashAggregate" in r["PLAN"] and "Scan parquet" in r["PLAN"]
    assert _json.loads(r["RESOURCES"]) == [{"name": "foo",
                                            "type": "DATASOURCE"}]


def test_dotted_name_rewrites_skip_string_literals(spark, foo_catalog):
    """The INFORMATION_SCHEMA./sys./lookup. table-name rewrites must never
    rewrite matching text inside string literals (data stays data)."""
    r = q(spark, foo_catalog, """
        SELECT 'lookup.lookyloo' AS a, 'sys.segments x' AS b,
               'INFORMATION_SCHEMA.TABLES' AS c FROM foo LIMIT 1""").first()
    assert r["a"] == "lookup.lookyloo"
    assert r["b"] == "sys.segments x"
    assert r["c"] == "INFORMATION_SCHEMA.TABLES"


def test_bloom_filter_test_sql(spark, foo_catalog):
    """BLOOM_FILTER_TEST(expr, base64) — SQL membership against a
    Druid-serialized BloomKFilter (BloomDimFilterSqlTest surface)."""
    import base64

    from incubator_druid_spark.functions.bloomk import BloomKFilter
    bf = BloomKFilter.for_entries(50)
    bf.add_string("abc")
    bf.add_string("def")
    b64 = base64.b64encode(bf.serialize()).decode()
    out = q(spark, foo_catalog, f"""
        SELECT dim1 FROM foo
        WHERE BLOOM_FILTER_TEST(dim1, '{b64}') ORDER BY dim1""").collect()
    assert [r["dim1"] for r in out] == ["abc", "def"]


def test_time_floor_arbitrary_iso_periods(spark, foo_catalog):
    """TimeFloorOperatorConversion.java:40-75 delegates to PeriodGranularity:
    ANY literal ISO period is legal in SQL TIME_FLOOR/CEIL/SHIFT.  Arbitrary
    periods (PT2H, PT7M, PT90S, P2W, P6M, tz'd PT2H) must match the native
    DataFrame layer (model/granularity.py) exactly."""
    from pyspark.sql import functions as F

    from incubator_druid_spark.model.granularity import parse_granularity

    sql_rows = q(spark, foo_catalog, """
        SELECT TIME_FLOOR(__time, 'PT2H') AS f2h,
               TIME_CEIL(__time, 'PT7M') AS c7m,
               TIME_SHIFT(__time, 'PT90S', 3) AS s90,
               TIME_FLOOR(__time, 'P2W') AS f2w,
               TIME_FLOOR(__time, 'P6M') AS f6m,
               TIME_FLOOR(__time, 'PT2H', NULL, 'America/Los_Angeles') AS f2htz
        FROM foo ORDER BY __time""").collect()

    def g(p, tz=None):
        spec = {"type": "period", "period": p}
        if tz:
            spec["timeZone"] = tz
        return parse_granularity(spec)

    t = F.col("__time")
    native = (foo_catalog.table("foo").orderBy("__time").select(
        g("PT2H").floor(t).alias("f2h"),
        g("PT7M").ceil(t).alias("c7m"),
        g("PT90S").shift(t, 3).alias("s90"),
        g("P2W").floor(t).alias("f2w"),
        g("P6M").floor(t).alias("f6m"),
        g("PT2H", "America/Los_Angeles").floor(t).alias("f2htz"))
        .collect())
    assert [tuple(r) for r in sql_rows] == [tuple(r) for r in native]


def test_time_floor_bad_periods_raise_not_null(spark, foo_catalog):
    """An unparseable literal period or a non-literal period column must
    RAISE, never return silent NULLs (VERDICT r1 gap)."""
    with pytest.raises(ValueError, match="bad ISO-8601 period"):
        q(spark, foo_catalog,
          "SELECT TIME_FLOOR(__time, 'PXYZ') AS x FROM foo")
    with pytest.raises(Exception, match="unsupported non-literal period"):
        q(spark, foo_catalog,
          "SELECT TIME_FLOOR(__time, dim1) AS x FROM foo").collect()


# ---------------------------------------------------------------------------
# distinct-count / nested-subquery / filter-simplification tranche
# ---------------------------------------------------------------------------

def test_nested_group_by(spark, foo_catalog):
    """CalciteQueryTest testNestedGroupBy — aggregate of an aggregate with a
    MAX(__time) carried through."""
    out = q(spark, foo_catalog, """
        SELECT
            FLOOR(__time to hour) AS t,
            dim1,
            COUNT(m2) AS c
        FROM (
            SELECT
                MAX(__time) AS __time,
                m2,
                dim1
            FROM druid.foo
            WHERE 1=1
                AND m1 = '5.0'
            GROUP BY m2, dim1
        )
        GROUP BY FLOOR(__time to hour), dim1""").collect()
    assert [(str(r["t"])[:10], r["dim1"], r["c"]) for r in out] == [
        ("2001-01-02", "def", 1)]


def test_double_nested_group_by(spark, foo_catalog):
    """testDoubleNestedGroupBy (sql branch: 4 dim2[0] groups)."""
    r = q(spark, foo_catalog, """
        SELECT SUM(cnt) AS s, COUNT(*) AS c FROM (
          SELECT d2, SUM(t1.cnt) cnt FROM (
            SELECT
              dim1,
              dim2[0] AS d2,
              COUNT(*) cnt
            FROM druid.foo
            GROUP BY dim1, dim2[0]
          ) t1
          GROUP BY d2
        ) t2""").first()
    assert (r["s"], r["c"]) == (6, 4)


def test_union_all_same_table_three_times(spark, foo_catalog):
    """testUnionAllSameTableThreeTimes (dim2[0])."""
    out = q(spark, foo_catalog, """
        SELECT
        dim1, dim2[0] AS d2, SUM(m1) AS s, COUNT(*) AS c
        FROM (SELECT * FROM foo UNION ALL SELECT * FROM foo
              UNION ALL SELECT * FROM foo)
        WHERE dim2[0] = 'a' OR dim2[0] = 'def'
        GROUP BY 1, 2""")
    assert rows(out, "dim1", "d2", "s", "c") == [
        ("", "a", 3.0, 3), ("1", "a", 12.0, 3)]


def test_in_filters(spark, foo_catalog):
    """testInFilter + testInFilterWith23Elements."""
    out = q(spark, foo_catalog, """
        SELECT dim1, COUNT(*) AS c FROM druid.foo
        WHERE dim1 IN ('abc', 'def', 'ghi') GROUP BY dim1""")
    assert rows(out, "dim1", "c") == [("abc", 1), ("def", 1)]
    many = ", ".join(f"'v{i}'" for i in range(21)) + ", 'abc', 'def'"
    out = q(spark, foo_catalog, f"""
        SELECT dim1, COUNT(*) AS c FROM druid.foo
        WHERE dim1 IN ({many}) GROUP BY dim1""")
    assert rows(out, "dim1", "c") == [("abc", 1), ("def", 1)]


def test_bound_filter_simplification(spark, foo_catalog):
    """testCountStarWithDegenerateFilter + testCountStarWithBoundFilterSimplifyOr
    (dim2[0] scalar view)."""
    assert q(spark, foo_catalog, """
        SELECT COUNT(*) AS c FROM druid.foo
        WHERE dim2[0] = 'a' and (dim1 > 'a' OR dim1 < 'b')""").first()["c"] == 2
    assert q(spark, foo_catalog, """
        SELECT COUNT(*) AS c FROM druid.foo
        WHERE (dim1 >= 'a' and dim1 < 'b') OR dim1 = 'ab'""").first()["c"] == 1


def test_group_by_literal_in_subquery_grouping(spark, numfoo_catalog):
    """testGroupByWithLiteralInSubqueryGrouping."""
    out = q(spark, numfoo_catalog, """
        SELECT
           t1, t2
          FROM
           ( SELECT
             'dummy' as t1,
             CASE
               WHEN
                 dim4 = 'b'
               THEN dim4
               ELSE NULL
             END AS t2
             FROM
               numfoo
             GROUP BY
               dim4
           )
         GROUP BY
           t1,t2""")
    assert rows(out, "t1", "t2") == [("dummy", "b"), ("dummy", None)]


def test_approx_count_distinct_family(spark, foo_catalog):
    """testApproxCountDistinct shape (sql branch) — APPROX_COUNT_DISTINCT
    over dim2[0] and expressions; exact at these cardinalities."""
    r = q(spark, foo_catalog, """
        SELECT
          SUM(cnt) AS a,
          APPROX_COUNT_DISTINCT(dim2[0]) AS b,
          APPROX_COUNT_DISTINCT_DS_HLL(dim2[0]) AS c,
          APPROX_COUNT_DISTINCT_DS_THETA(dim2[0]) AS d,
          COUNT(DISTINCT SUBSTRING(dim2[0], 1, 1)) AS e
        FROM druid.foo""").first()
    # sql branch: dim2[0] distinct non-null = {a, '', abc} = 3; SUBSTRING
    # of '' is NULL in sql mode so e counts only {'a'} — the reference's
    # sql-branch expectation is exactly {6, 3, …, 1} (testApproxCountDistinct)
    assert (r["a"], r["b"], r["c"], r["d"], r["e"]) == (6, 3, 3, 3, 1)


def test_count_star_with_like_filter(spark, foo_catalog):
    """testCountStarWithLikeFilter — LIKE with a custom escape char
    escaping a NON-wildcard (Calcite reads 'xb' escape 'x' as literal 'b';
    Spark rejects that form, so the rewriter unescapes it).  dim1 'a%' →
    'abc'; dim2[0] contains 'b' → row5's 'abc' → 2 (the reference's 2L)."""
    assert q(spark, foo_catalog, """
        SELECT COUNT(*) AS c FROM druid.foo
        WHERE dim1 like 'a%' OR dim2[0] like '%xb%' escape 'x'
        """).first()["c"] == 2


def test_group_by_sort_on_post_aggregation(spark, foo_catalog):
    """testGroupByWithSortOnPostAggregationDefault — order by a computed
    MIN+MAX expression with limit."""
    out = q(spark, foo_catalog, """
        SELECT dim1, MIN(m1) + MAX(m1) AS x FROM druid.foo
        GROUP BY dim1 ORDER BY x LIMIT 3""").collect()
    assert [(r["dim1"], r["x"]) for r in out] == [
        ("", 2.0), ("10.1", 4.0), ("2", 6.0)]


def test_group_by_sort_push_down(spark, foo_catalog):
    """testGroupBySortPushDown (dim2[0]; sql branch nulls)."""
    out = q(spark, foo_catalog, """
        SELECT dim2[0] AS d2, dim1, SUM(cnt) AS s FROM druid.foo
        GROUP BY dim2[0], dim1 ORDER BY dim1 LIMIT 4""").collect()
    assert [(r["d2"], r["dim1"], r["s"]) for r in out] == [
        ("a", "", 1), ("a", "1", 1), (None, "10.1", 1), ("", "2", 1)]


def test_group_by_limit_push_down_with_having(spark, foo_catalog):
    """testGroupByLimitPushDownWithHavingOnLong (sql branch: NULL dim2
    sorts FIRST ascending in Druid; Spark default is also nulls-first asc)."""
    out = q(spark, foo_catalog, """
        SELECT dim1, dim2[0] AS d2, SUM(cnt) AS thecnt FROM druid.foo
        group by dim1, dim2[0] having SUM(cnt) = 1
        order by dim2[0], dim1 limit 4""").collect()
    assert [(r["dim1"], r["d2"], r["thecnt"]) for r in out] == [
        ("10.1", None, 1), ("abc", None, 1), ("2", "", 1), ("", "a", 1)]


def test_textcat_and_concat(spark, foo_catalog):
    """testTextcat + testConcat — multi-arg CONCAT is null-propagating in
    sql mode."""
    out = q(spark, foo_catalog,
            "SELECT textcat(dim1, dim1) as dimX FROM foo")
    assert rows(out, "dimX") == [
        ("",), ("10.110.1",), ("11",), ("22",), ("abcabc",), ("defdef",)]
    out = q(spark, foo_catalog, """
        SELECT CONCAT(dim1, '-', dim1, '_', dim1) as dimX FROM foo""")
    assert rows(out, "dimX") == [
        ("-_",), ("1-1_1",), ("10.1-10.1_10.1",), ("2-2_2",),
        ("abc-abc_abc",), ("def-def_def",)]


def test_select_single_column_twice(spark, foo_catalog):
    """testSelectSingleColumnTwice."""
    out = q(spark, foo_catalog, """
        SELECT dim1 x, dim1 y FROM druid.foo ORDER BY __time LIMIT 2""").collect()
    assert [(r["x"], r["y"]) for r in out] == [("", ""), ("10.1", "10.1")]


def test_timeseries_descending_sql(spark, foo_catalog):
    """testTimeseriesDescending — month buckets ordered DESC."""
    out = q(spark, foo_catalog, """
        SELECT gran, SUM(cnt) AS s FROM (
          SELECT floor(__time TO month) AS gran,
          cnt FROM druid.foo
        ) AS x
        GROUP BY gran
        ORDER BY gran DESC""").collect()
    assert [(str(r["gran"])[:10], r["s"]) for r in out] == [
        ("2001-01-01", 3), ("2000-01-01", 3)]


def test_group_by_aggregator_default_values(spark, numfoo_catalog):
    """testGroupByAggregatorDefaultValues (sql branch) — aggregators over a
    filter matching NOTHING: counts are 0, everything else NULL."""
    r = q(spark, numfoo_catalog, """
        SELECT
         dim5,
         count(*) FILTER(WHERE dim1 = 'nonexistent') AS c,
         COUNT(DISTINCT dim1) FILTER(WHERE dim1 = 'nonexistent') AS cd,
         sum(d1) FILTER(WHERE dim1 = 'nonexistent') AS s,
         max(d1) FILTER(WHERE dim1 = 'nonexistent') AS mx,
         min(d1) FILTER(WHERE dim1 = 'nonexistent') AS mn,
         sum(l1) FILTER(WHERE dim1 = 'nonexistent') AS ls,
         max(l1) FILTER(WHERE dim1 = 'nonexistent') AS lmx,
         avg(d1) FILTER(WHERE dim1 = 'nonexistent') AS a
        FROM numfoo WHERE dim5 = 'aa' GROUP BY dim5""").first()
    assert (r["dim5"], r["c"], r["cd"]) == ("aa", 0, 0)
    assert all(r[k] is None for k in ("s", "mx", "mn", "ls", "lmx", "a"))


def test_group_by_ordinal(spark, foo_catalog):
    """testGroupByOrdinal — GROUP BY 1."""
    out = q(spark, foo_catalog,
            "SELECT cnt, COUNT(*) AS c FROM druid.foo GROUP BY 1").collect()
    assert [(r["cnt"], r["c"]) for r in out] == [(1, 6)]


def test_using_subquery_as_filter_on_two_columns(spark, foo_catalog):
    """testUsingSubqueryAsFilterOnTwoColumns — tuple-IN against a
    having-filtered grouped subquery (dim2[0])."""
    out = q(spark, foo_catalog, """
        SELECT __time, cnt, dim1, dim2[0] AS d2 FROM druid.foo
        WHERE (dim1, dim2[0]) IN (
           SELECT dim1, d2 FROM (
             SELECT dim1, dim2[0] AS d2, COUNT(*)
             FROM druid.foo
             WHERE dim2[0] = 'abc'
             GROUP BY dim1, dim2[0]
             HAVING COUNT(*) = 1
           )
        )""").collect()
    assert [(str(r["__time"])[:10], r["cnt"], r["dim1"], r["d2"])
            for r in out] == [("2001-01-02", 1, "def", "abc")]


def test_using_subquery_as_filter_with_inner_sort(spark, foo_catalog):
    """testUsingSubqueryAsFilterWithInnerSort (sql branch — 4 rows)."""
    out = q(spark, foo_catalog, """
        SELECT dim1, dim2[0] AS d2 FROM druid.foo
        WHERE dim2[0] IN (
           SELECT dim2[0]
           FROM druid.foo
           GROUP BY dim2[0]
           ORDER BY dim2[0] DESC
        )""")
    assert rows(out, "dim1", "d2") == [
        ("", "a"), ("1", "a"), ("2", ""), ("def", "abc")]


def test_select_star_time_descending(spark, foo_catalog):
    """testSelectStarWithLimitTimeDescending — full-row scan ordered by time
    DESC with limit."""
    out = q(spark, foo_catalog,
            "SELECT * FROM druid.foo ORDER BY __time DESC LIMIT 2").collect()
    assert [r["dim1"] for r in out] == ["abc", "def"]
    assert [str(r["__time"])[:10] for r in out] == ["2001-01-03", "2001-01-02"]


def test_information_schema_tables(spark, foo_catalog):
    """testInformationSchemaTables shape — the datasource catalog lists foo
    as a TABLE."""
    out = {(r["TABLE_NAME"], r["TABLE_TYPE"]) for r in q(spark, foo_catalog, """
        SELECT TABLE_NAME, TABLE_TYPE FROM INFORMATION_SCHEMA.TABLES
        """).collect()}
    assert ("foo", "TABLE") in out


def test_extract_druid_units(spark, foo_catalog):
    """EXTRACT maps straight to TimestampExtractExprMacro for EVERY unit
    (ExtractOperatorConversion.java:40-57): SECOND is an integer, DOW is joda
    Mon=1..Sun=7 (2000-01-01 was a Saturday → 6), MILLISECOND is 0..999 even
    pre-1970 (pmod, not signed %), EPOCH is seconds, plus the units Spark's
    EXTRACT rejects outright."""
    r = q(spark, foo_catalog, """
        SELECT EXTRACT(SECOND FROM TIMESTAMP '2000-01-01 01:02:03.456') AS s,
               EXTRACT(DOW FROM TIMESTAMP '2000-01-01 00:00') AS dow,
               EXTRACT(ISODOW FROM TIMESTAMP '2000-01-02 00:00') AS isodow,
               EXTRACT(MILLISECOND FROM TIMESTAMP '2000-01-01 01:02:03.456') AS ms,
               EXTRACT(MILLISECOND FROM TIMESTAMP '1969-12-31 23:59:59.250') AS ms_neg,
               EXTRACT(EPOCH FROM TIMESTAMP '1970-01-01 00:01:00') AS ep,
               EXTRACT(ISOYEAR FROM TIMESTAMP '2000-06-01 00:00') AS iy,
               EXTRACT(DECADE FROM TIMESTAMP '2000-06-01 00:00') AS dec,
               EXTRACT(CENTURY FROM TIMESTAMP '2000-06-01 00:00') AS cen,
               EXTRACT(MILLENNIUM FROM TIMESTAMP '2000-06-01 00:00') AS mil
    """).first()
    assert (r["s"], r["dow"], r["isodow"], r["ms"], r["ms_neg"], r["ep"],
            r["iy"], r["dec"], r["cen"], r["mil"]) == (
        3, 6, 7, 456, 250, 60, 2000, 200, 20, 2)


def test_earliest_latest_by_maxbytes(spark, foo_catalog):
    """EARLIEST_BY/LATEST_BY(expr, ts, maxBytesPerValue) — the string form's
    third buffer-sizing arg is dropped like EARLIEST/LATEST's
    (EarliestLatestBySqlAggregator)."""
    r = q(spark, foo_catalog, """
        SELECT EARLIEST_BY(dim1, __time, 1024) AS e,
               LATEST_BY(dim1, __time, 1024) AS l,
               EARLIEST_BY(m1, __time) AS e2
        FROM foo""").first()
    assert (r["e"], r["l"], r["e2"]) == ("", "abc", 1.0)


def test_nested_integer_cast(spark, foo_catalog):
    """Druid's truncating string→int cast applies to casts NESTED inside
    other calls — CAST(CAST('10.1' AS INTEGER) AS VARCHAR) is '10', and an
    int cast inside a rewritten call's arguments still truncates
    (_rewrite_calls rewrites args before emitting unmatched outer calls)."""
    r = q(spark, foo_catalog, """
        SELECT CAST(CAST('10.1' AS INTEGER) AS VARCHAR) AS v,
               STRPOS(CAST(CAST('10.1' AS BIGINT) AS VARCHAR), '0') AS p,
               CAST('10.1' AS INTEGER) AS i
    """).first()
    assert (r["v"], r["p"], r["i"]) == ("10", 2, 10)
