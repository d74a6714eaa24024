"""Druid native expression language → Spark Column compiler.

The reference parses expressions with ANTLR (core/src/main/java/org/apache/druid/
math/expr/Parser.java, grammar core/src/main/antlr4/.../Expr.g4) into an Expr
tree evaluated row-at-a-time or vectorized (math/expr/vector/).  We compile the
same surface grammar straight to Catalyst Column expressions, so evaluation
happens inside whole-stage codegen — strictly faster than the reference's
interpreter, with zero Python in the hot path.

Grammar (from Expr.g4):
    expr : '-'/'!' expr | expr '^' expr | expr ('*'|'/'|'%') expr
         | expr ('+'|'-') expr | expr ('<'|'<='|'>'|'>='|'=='|'!=') expr
         | expr ('&&'|'||') expr | ident '(' args ')' | '(' expr ')'
         | literals | identifier ;  identifiers bare or "double-quoted";
    strings 'single-quoted'; array literals ['a','b']; lambdas (x) -> expr.

Design: the parser keeps Python literals un-wrapped until they combine with a
Column, so function implementations can read constant args (period strings,
regex patterns, lookup names) without round-tripping through Catalyst literals.

Function semantics per core/.../math/expr/Function.java and ApplyFunction.java;
time macros per processing/.../query/expression/*ExprMacro.java (file cites in
the registry).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Lexer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"""
      (?P<ws>\s+)
    | (?P<double>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+)
    | (?P<long>\d+)
    | (?P<str>'(?:[^'\\]|\\.)*')
    | (?P<qident>"(?:[^"\\]|\\.)*")
    | (?P<ident>[A-Za-z_$][A-Za-z0-9_$.]*)
    | (?P<arrow>->)
    | (?P<op><=|>=|==|!=|&&|\|\||[-+*/%^<>!(),\[\]])
""", re.VERBOSE)


def _lex(s: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(s):
        m = _TOKEN_RE.match(s, i)
        if not m:
            raise ValueError(f"bad token at {i} in expression: {s[i:i+20]!r}")
        i = m.end()
        if m.lastgroup != "ws":
            out.append((m.lastgroup, m.group()))
    out.append(("eof", ""))
    return out


_JAVA_ESCAPES = {"t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
                 "\\": "\\", "'": "'", '"': '"', "/": "/", "0": "\0"}



def _lenient_long(c: Column) -> Column:
    """ExprEval.asLong operand read: exact long parse, else double-truncate,
    else null — identical under ANSI on and off (the canonical route lives
    in functions/lenient.py; keep exactly one implementation)."""
    from incubator_druid_spark.functions.lenient import lenient_cast
    return lenient_cast(c, "long")


def _array_ctor(p, *items):
    """ArrayConstructorFunction literal typing: mixed numeric/string
    literal elements resolve the array to the NUMERIC type with
    non-parsing strings as null (FunctionTest testArrayConstructor:
    array(1, 2, 3, 'bar') is LONG[1,2,3,null]) — Spark's F.array would
    instead coerce everything to string."""
    lits = [x for x in items if not isinstance(x, Column)]
    has_num = any(isinstance(x, (int, float)) and not isinstance(x, bool)
                  for x in lits)
    has_str = any(isinstance(x, str) for x in lits)
    if has_num and has_str and len(lits) == len(items):
        t = "double" if any(isinstance(x, float) for x in lits) else "long"
        cols = [_c(x).try_cast(t) for x in items]
        return p.tag_array(F.array(*cols))
    out = p.tag_array(F.array(*[_c(x) for x in items]))
    if items and all(isinstance(x, str) or p._is_string_col(x)
                     for x in items):
        p.tag_string_elems(out)
    return out

def _unquote(s: str) -> str:
    """Java-unescape a quoted literal (ExprListenerImpl.escapeStringLiteral
    → StringEscapeUtils.unescapeJava): '\\t' is a TAB, '\\uXXXX' a code
    point — merely stripping the backslash would turn '\\t' into 't'."""
    body, out, i = s[1:-1], [], 0
    n = len(body)
    while i < n:
        ch = body[i]
        if ch == "\\" and i + 1 < n:
            nxt = body[i + 1]
            if nxt == "u" and i + 5 < n:
                try:
                    out.append(chr(int(body[i + 2:i + 6], 16)))
                    i += 6
                    continue
                except ValueError:
                    pass
            out.append(_JAVA_ESCAPES.get(nxt, nxt))
            i += 2
            continue
        out.append(ch)
        i += 1
    joined = "".join(out)
    # Java string semantics: '🤘' is a UTF-16 surrogate PAIR
    # forming one code point; chr() above produced two lone surrogates,
    # which py4j cannot UTF-8-encode — re-pair them
    if any("\ud800" <= c <= "\udfff" for c in joined):
        joined = joined.encode("utf-16", "surrogatepass").decode("utf-16")
    return joined


def _c(x) -> Column:
    """Coerce a parse result (python literal | Column) to a Column.
    Druid integers are LONG (64-bit) — F.lit on a small Python int would
    otherwise type as 32-bit int (OutputTypeTest constants)."""
    if isinstance(x, Column):
        return x
    if isinstance(x, int) and not isinstance(x, bool):
        return F.lit(x).cast("long")
    return F.lit(x)


def _as_bool(x, is_string: bool = False) -> Column:
    """Druid truthiness (Evals.asBoolean): numbers are true iff > 0 —
    Spark's boolean cast would make every non-zero (incl. negatives) true —
    and strings via Boolean.parseBoolean (only 'true', case-insensitive).
    null is falsy (a null predicate never matches)."""
    if isinstance(x, bool):
        return F.lit(x)
    if isinstance(x, (int, float)):
        return F.lit(x > 0)
    if isinstance(x, str):
        return F.lit(x.lower() == "true")
    if is_string:
        return F.lower(x.cast("string")) == "true"
    d = x.try_cast("double")  # bool -> 1.0/0.0; unparseable string -> null
    return (F.when(d.isNotNull(), d > F.lit(0.0))
             .otherwise(F.lower(x.cast("string")) == "true"))


def druid_truthy(col: Column) -> Column:
    """Public truthiness wrapper for expression FILTER contexts
    (ExpressionFilter applies Evals.asBoolean to the expression value —
    a plain boolean cast wrongly matches negative numbers)."""
    return _as_bool(col)


def lit_val(x):
    """Python value of a constant arg, or None-ish passthrough for Columns."""
    return None if isinstance(x, Column) else x


def _is_null_lit(x) -> bool:
    """True for the Column the parser produced for the `null` keyword —
    array LITERALS need to see it as the literal None for their typing
    rules, not as a non-literal element."""
    return isinstance(x, Column) and str(x) == "Column<'NULL'>"


def _typed_array_literal(p, etype: str | None, items):
    """Array LITERAL typing (Expr.g4 / ExprListenerImpl — ParserTest's
    literal-array matrix).  Unlike the array() FUNCTION (coercive,
    _array_ctor), literals are strict:

    * implicit: all-null/empty → STRING; first non-null sets the type;
      a non-string under STRING, or a string under numeric, is a parse
      ERROR (the reference's RE messages reproduced);
      mixed long/double → DOUBLE.
    * explicit <LONG>/<DOUBLE>: numeric-or-null only, coerced; a string
      element is an error.  <STRING>: any literal, rendered as text.
    """
    vals = [None if _is_null_lit(x) else x for x in items]
    if etype is None:
        first = next((v for v in vals if v is not None), None)
        if first is None:
            etype = "STRING"
        elif isinstance(first, str):
            for v in vals:
                if v is not None and not isinstance(v, str):
                    raise ValueError(
                        f"Failed to parse array: element {_render(v)} "
                        f"is not a string")
            etype = "STRING"
        else:
            bad = next((v for v in vals if isinstance(v, str)), None)
            kind = ("double" if any(isinstance(v, float) for v in vals
                                    if not isinstance(v, str)) else "long")
            if bad is not None:
                raise ValueError(
                    f"Failed to parse array element '{bad}' as a {kind}")
            etype = "DOUBLE" if kind == "double" else "LONG"
    conv: list = []
    for v in vals:
        if v is None:
            conv.append(None)
        elif etype == "STRING":
            conv.append(v if isinstance(v, str) else _render(v))
        elif isinstance(v, (int, float)) and not isinstance(v, bool):
            conv.append(int(v) if etype == "LONG" else float(v))
        else:
            raise ValueError(
                f"Failed to parse array element '{v}' as a {etype.lower()}")
    elem = {"STRING": "string", "LONG": "long", "DOUBLE": "double"}[etype]
    out = F.array(*[F.lit(v) for v in conv]).cast(f"array<{elem}>")
    p.tag_array(out)
    if etype == "STRING":
        p.tag_string_elems(out)
    return out


def _render(v) -> str:
    """Java toString rendering of a literal (2000 → '2000', 1.1 → '1.1')."""
    if isinstance(v, float) and v.is_integer():
        return f"{v:.1f}"
    return str(v)


def lit_str(x) -> str | None:
    v = lit_val(x)
    return None if v is None else str(v)



def _req_lit_str(x, fname: str, what: str = "pattern") -> str:
    """SQL-null-mode macro contract: the pattern/substring argument must be
    a non-null string LITERAL (RegexpExtractExprMacro/ContainsExprMacro
    'must be a string literal' — null and non-literal args are planner
    errors, not row-level nulls)."""
    v = lit_val(x)
    if not isinstance(v, str):
        # null, non-literal (Column) and numeric literals all refuse
        raise ValueError(
            f"Function[{fname}] {what} must be a string literal")
    return v

# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

class _Parser:
    """Precedence-climbing parser; precedence mirrors Expr.g4 rule order."""

    def __init__(self, tokens, resolver, reg):
        self.toks = tokens
        self.i = 0
        self.resolver = resolver
        self.registry = reg
        self.lambda_params: dict[str, Column] = {}
        # ids of Columns produced by array-returning constructs (array
        # literals, array()/string_to_array()/map()/… calls) — the AST
        # knowledge array-vs-scalar dispatchers (array_contains) need,
        # threaded here because a compiled Column loses its source shape
        self.array_ids: set[int] = set()
        # ids of Columns known string-typed (concat chains via binary `+`)
        self.string_ids: set[int] = set()
        # ids of Columns known integral (long/int) — lets round() keep the
        # exact LONG path instead of the double NaN/Inf guard
        self.integral_ids: set[int] = set()
        # ids of ARRAY Columns whose ELEMENTS are strings (MVDs) — lets
        # HOF lambda variables inherit the element type, so `x + 1` inside
        # map() takes the lenient string→double route mode-independently
        self.string_elem_ids: set[int] = set()
        # ids of Columns known numeric-but-not-integral (float/double) —
        # with integral_ids, drives the mixed string/number `+` dispatch
        self.numeric_ids: set[int] = set()
        # Strong references to every tagged Column: id() is only unique among
        # LIVE objects, and CPython recycles a freed Column's id for the next
        # same-type allocation — an untagged Column could alias a freed tagged
        # id and silently mis-dispatch (arith `+` → concat).  Pinning keeps
        # tagged ids unique for the parser's lifetime.
        self._pinned: list[Column] = []

    def tag_array(self, col: Column) -> Column:
        self.array_ids.add(id(col))
        self._pinned.append(col)
        return col

    def tag_string(self, col: Column) -> Column:
        self.string_ids.add(id(col))
        self._pinned.append(col)
        return col

    def tag_string_elems(self, col: Column) -> Column:
        self.string_elem_ids.add(id(col))
        return col

    def tag_integral(self, col: Column) -> Column:
        self.integral_ids.add(id(col))
        self._pinned.append(col)
        return col

    def tag_numeric(self, col: Column) -> Column:
        self.numeric_ids.add(id(col))
        self._pinned.append(col)
        return col

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, val):
        k, v = self.next()
        if v != val:
            raise ValueError(f"expected {val!r}, got {v!r}")

    def parse(self):
        e = self.parse_or()
        if self.peek()[0] != "eof":
            raise ValueError(f"trailing input at {self.peek()!r}")
        return e

    def truthy(self, x) -> Column:
        return _as_bool(x, isinstance(x, Column)
                        and id(x) in self.string_ids)

    def parse_or(self):
        # Druid TRUTHINESS on each operand (Evals.asBoolean: numbers > 0,
        # strings parseBoolean) — a plain boolean cast would make negative
        # numbers truthy.  The result is boolean (in Druid's LONG-based
        # type system BinOrExpr passes the operand VALUE through, but its
        # comparisons are longs 1/0, so the distinction only shows on
        # non-boolean operands; Spark's typed CaseWhen can't mix those).
        left = self.parse_and()
        while self.peek()[1] == "||":
            self.next()
            left = self.truthy(left) | self.truthy(self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_cmp()
        while self.peek()[1] == "&&":
            self.next()
            left = self.truthy(left) & self.truthy(self.parse_cmp())
        return left

    def parse_cmp(self):
        left = self.parse_add()
        while self.peek()[1] in ("<", "<=", ">", ">=", "==", "!="):
            op = self.next()[1]
            right = self.parse_add()
            l, r = left, right
            # BinaryBooleanOpExprBase: STRING vs STRING compares as
            # strings; a MIXED string/numeric comparison evaluates as
            # DOUBLES (the string side parses, unparseable → null) —
            # never as Spark's truncating string→int cast ('1.234' == 1
            # is false, ExpressionFilterTest).  Applied only when one
            # side is KNOWN string (literal or tagged column) and the
            # other is a numeric literal; column-vs-column comparisons
            # already promote to double under Spark's coercion.
            l_str = isinstance(l, str) or self._is_string_col(l)
            r_str = isinstance(r, str) or self._is_string_col(r)
            l_num = self._is_numeric(l)
            r_num = self._is_numeric(r)
            if l_str and r_num:
                l = _c(l).try_cast("double")
                r = _c(r).cast("double")
            elif r_str and l_num:
                r = _c(r).try_cast("double")
                l = _c(l).cast("double")
            if not isinstance(l, Column) and not isinstance(r, Column):
                l = _c(l)
            left = {"<": lambda: _c(l) < r, "<=": lambda: _c(l) <= r,
                    ">": lambda: _c(l) > r, ">=": lambda: _c(l) >= r,
                    "==": lambda: _c(l) == r, "!=": lambda: _c(l) != r}[op]()
        return left

    def parse_add(self):
        left = self.parse_mul()
        while self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            right = self.parse_mul()
            if not isinstance(left, Column) and not isinstance(right, Column):
                left = left + right if op == "+" else left - right
                continue
            l_str = isinstance(left, str) or self._is_string_col(left)
            r_str = isinstance(right, str) or self._is_string_col(right)
            l_num = self._is_numeric(left)
            r_num = self._is_numeric(right)
            if op == "+" and l_str and r_str:
                # ExprTypeConversion.autoDetect: STRING only when BOTH
                # sides are STRING → BinPlusExpr.evalString concatenates.
                # A concat RESULT is itself string-typed, so the chain
                # `market + ' ' + market` keeps concatenating (tag below).
                left = self.tag_string(F.concat(_c(left).cast("string"),
                                                _c(right).cast("string")))
            elif (l_str and r_num) or (r_str and l_num):
                # MIXED string/numeric: numeric(STRING, LONG/DOUBLE) =
                # DOUBLE — the string side parses (unparseable → null),
                # it does NOT concatenate ('5' + 1 is 6.0 in Druid)
                left = (_c(left).try_cast("double")
                        + _c(right).try_cast("double")
                        if op == "+"
                        else _c(left).try_cast("double")
                        - _c(right).try_cast("double"))
            elif op == "+" and (l_str or r_str):
                # one side KNOWN string, other an untyped column: presume
                # string (the common `'prefix' + dim` shape in untyped
                # resolver contexts)
                left = self.tag_string(F.concat(_c(left).cast("string"),
                                                _c(right).cast("string")))
            else:
                res = _c(left) + right if op == "+" else _c(left) - right
                if self._is_integral(left) and self._is_integral(right):
                    res = self.tag_integral(res)
                left = res
        return left

    def _is_string_col(self, x) -> bool:
        return isinstance(x, Column) and id(x) in self.string_ids

    def _is_integral(self, x) -> bool:
        """Python int literal or a Column tagged long/int — propagated
        through + - * / % so round() can keep exact LONG arithmetic and
        `/` keeps Java long-division semantics."""
        return ((isinstance(x, int) and not isinstance(x, bool))
                or (isinstance(x, Column) and id(x) in self.integral_ids))

    def _is_numeric(self, x) -> bool:
        """Python number or a Column tagged any-numeric (superset of
        integral) — drives the mixed string/number `+` dispatch."""
        return ((isinstance(x, (int, float)) and not isinstance(x, bool))
                or (isinstance(x, Column) and (id(x) in self.numeric_ids
                                               or id(x) in self.integral_ids)))

    def parse_mul(self):
        left = self.parse_pow()
        while self.peek()[1] in ("*", "/", "%"):
            op = self.next()[1]
            right = self.parse_pow()
            if not isinstance(left, Column) and not isinstance(right, Column):
                if op == "/" and isinstance(left, int) \
                        and isinstance(right, int) \
                        and not isinstance(left, bool) \
                        and not isinstance(right, bool) and right != 0:
                    # Java long division truncates TOWARD ZERO
                    q = abs(left) // abs(right)
                    left = q if (left < 0) == (right < 0) else -q
                else:
                    left = {"*": left * right, "/": left / right,
                            "%": left % right}[op]
                continue
            if op == "/" and self._is_integral(left) \
                    and self._is_integral(right):
                # BinDivExpr LONG/LONG is Java long division (truncating)
                # — Spark `/` is always double.  Spark's `div` function
                # has the exact semantics, JVM-side on longs.
                rl = _c(right).cast("long")
                left = self.tag_integral(
                    F.when(rl == 0, F.lit(None).cast("long"))
                    .otherwise(F.call_function("div", _c(left).cast("long"),
                                               rl)))
                continue
            l_str = isinstance(left, str) or self._is_string_col(left)
            r_str = isinstance(right, str) or self._is_string_col(right)
            l_mixed = l_str and (self._is_numeric(right) or r_str)
            r_mixed = r_str and (self._is_numeric(left) or l_str)
            if l_mixed or r_mixed:
                # numeric(STRING, NUMBER) = DOUBLE: the string side parses
                # leniently (BinaryEvalOpExprBase via ExprEval.asDouble);
                # unlike `+` (which concatenates), * / % over TWO strings
                # also parse both sides numerically
                lc = _c(left).try_cast("double") if l_mixed else _c(left)
                rc = _c(right).try_cast("double") if r_mixed else _c(right)
            else:
                lc, rc = _c(left), _c(right)
            res = {"*": lc * rc,
                   "/": F.try_divide(lc, rc),
                   "%": F.try_mod(lc, rc)}[op]
            if op in ("*", "%") and self._is_integral(left) \
                    and self._is_integral(right):
                res = self.tag_integral(res)
            left = res
        return left

    def parse_pow(self):
        left = self.parse_unary()
        if self.peek()[1] == "^":
            self.next()
            right = self.parse_pow()  # right-assoc
            if not isinstance(left, Column) and not isinstance(right, Column):
                return left ** right
            res = F.pow(_c(left), _c(right))
            if self._is_integral(left) and self._is_integral(right):
                # BinPowExpr long path (LongMath.pow) — LONG output.  The
                # literal/literal branch above is exact; the column route
                # goes through double pow, so magnitudes beyond 2^53 may
                # round (documented divergence).
                return self.tag_integral(res.cast("long"))
            return res
        return left

    def parse_unary(self):
        v = self.peek()[1]
        if v == "-":
            self.next()
            e = self.parse_unary()
            if isinstance(e, Column):
                return (self.tag_integral(-e) if self._is_integral(e)
                        else -e)
            return -e
        if v == "!":
            self.next()
            return ~_as_bool(self.parse_unary())
        return self.parse_postfix()

    def _parse_array_items(self):
        """Elements of an array literal; the opening '[' is consumed."""
        items = []
        if self.peek()[1] != "]":
            items.append(self.parse_or())
            while self.peek()[1] == ",":
                self.next()
                items.append(self.parse_or())
        self.expect("]")
        return items

    def parse_postfix(self):
        e = self.parse_atom()
        while self.peek()[1] == "[":
            self.next()
            idx = self.parse_or()
            self.expect("]")
            e = F.get(_c(e), idx if isinstance(idx, Column) else int(idx))
        return e

    def parse_atom(self):
        k, v = self.next()
        if k == "double":
            return float(v)
        if k == "long":
            return int(v)
        if k == "str":
            return _unquote(v)
        if k == "qident":
            return self._ident(_unquote(v))
        if v == "(":
            e = self.parse_or()
            self.expect(")")
            return e
        if v == "[":
            items = self._parse_array_items()
            if any(isinstance(x, Column) and not _is_null_lit(x)
                   for x in items):
                # non-literal elements: the array() function's coercive
                # typing applies (the grammar only produces literals here,
                # but identifiers inside lambdas parse through this path)
                return _array_ctor(self, *items)
            return _typed_array_literal(self, None, items)
        if v == "<":
            # explicit typed array literal <LONG>[...] / <DOUBLE>[...] /
            # <STRING>[...] (Expr.g4 explicit-array alternative;
            # ParserTest testLiteralArraysExplicitTypes)
            save = self.i
            k2, tname = self.peek()
            if k2 == "ident" and tname.upper() in ("LONG", "DOUBLE",
                                                   "STRING"):
                self.next()
                if self.peek()[1] == ">":
                    self.next()
                    if self.peek()[1] == "[":
                        self.next()
                        items = self._parse_array_items()
                        return _typed_array_literal(self, tname.upper(),
                                                    items)
            self.i = save
            raise ValueError("unexpected token '<'")
        if k == "ident":
            if self.peek()[1] == "(":
                return self._call(v)
            if v == "null":
                return F.lit(None)
            if v == "true":
                return True
            if v == "false":
                return False
            # Expr.g4 DOUBLE literal alternatives (ParserTest
            # testParseConstants) — exact case, like the grammar
            if v == "Infinity":
                return float("inf")
            if v == "NaN":
                return float("nan")
            if v.startswith("__") and v not in ("__time",):
                pass
            return self._ident(v)
        raise ValueError(f"unexpected token {v!r}")

    def _ident(self, name):
        if name in self.lambda_params:
            return self.lambda_params[name]
        return self.resolver(name)

    _ARRAY_RETURNING = frozenset({
        "array", "string_to_array", "array_append", "array_prepend",
        "array_concat", "array_set_add", "array_set_add_all", "array_slice",
        "map", "filter", "cartesian_map"})
    _STRING_RETURNING = frozenset({
        "concat", "upper", "lower", "substring", "substr", "trim", "ltrim",
        "rtrim", "replace", "format", "repeat", "reverse", "right", "left",
        "lpad", "rpad", "array_to_string", "timestamp_format", "lookup",
        "regexp_extract", "regexp_replace"})

    def _call(self, name):
        args = self.parse_args()
        fn = self.registry.get(name.lower())
        if fn is None:
            raise ValueError(f"unknown druid function: {name!r}")
        out = fn(self, *args)
        if isinstance(out, Column):
            if name.lower() in self._ARRAY_RETURNING:
                self.tag_array(out)
            elif name.lower() in self._STRING_RETURNING:
                self.tag_string(out)
        return out

    def parse_args(self):
        self.expect("(")
        args = []
        if self.peek()[1] != ")":
            while True:
                args.append(self._parse_arg())
                if self.peek()[1] == ",":
                    self.next()
                    continue
                break
        self.expect(")")
        return args

    def _parse_arg(self):
        if self.peek()[1] == "(":
            save = self.i
            self.next()
            lam = self._try_lambda_params()
            if lam is not None:
                params, j = lam
                self.i = j
                return _Lambda(params, self)
            self.i = save
        # bare single-param lambda `x -> expr` (Expr.g4 lambda alternative
        # without parens — ExpressionVirtualColumnTest map(b -> b * 2, b))
        if (self.peek()[0] == "ident"
                and self.toks[self.i + 1][0] == "arrow"):
            param = self.next()[1]
            self.next()  # arrow
            return _Lambda([param], self)
        return self.parse_or()

    def _try_lambda_params(self):
        """After '(' consumed: detect `ident[, ident]*) ->` without consuming."""
        params, j = [], self.i
        while True:
            if self.toks[j][0] != "ident":
                return None
            params.append(self.toks[j][1])
            j += 1
            if self.toks[j][1] == ",":
                j += 1
                continue
            if self.toks[j][1] == ")":
                j += 1
                break
            return None
        if self.toks[j][0] == "arrow":
            return params, j + 1
        return None


class _Lambda:
    """Deferred lambda body: records its token span; re-parsed at apply time
    with parameters bound to Spark HOF lambda variables."""

    def __init__(self, params, parser: _Parser):
        self.params = params
        self.parser = parser
        self.start = parser.i
        depth = 0
        while True:
            k, v = parser.toks[parser.i]
            if v in "([":
                depth += 1
            elif v in ")]":
                if depth == 0:
                    break
                depth -= 1
            elif v == "," and depth == 0:
                break
            elif k == "eof":
                break
            parser.i += 1
        self.end = parser.i

    def __call__(self, *cols: Column) -> Column:
        sub = _Parser(self.parser.toks[self.start:self.end] + [("eof", "")],
                      self.parser.resolver, self.parser.registry)
        sub.lambda_params = dict(self.parser.lambda_params)
        sub.lambda_params.update(dict(zip(self.params, cols)))
        # SHARE the parent's type-tag sets and its (possibly tagging)
        # identifier resolution, so a column referenced inside the lambda
        # BODY keeps its string/integral/numeric/timestamp tags — the
        # parameters themselves resolve from sub.lambda_params first and
        # are never tagged (they shadow same-named columns)
        sub.array_ids = self.parser.array_ids
        sub.string_ids = self.parser.string_ids
        sub.integral_ids = self.parser.integral_ids
        sub.numeric_ids = self.parser.numeric_ids
        sub.string_elem_ids = self.parser.string_elem_ids
        parent_ident = self.parser._ident

        def _sub_ident(name, _sub=sub, _parent=parent_ident):
            if name in _sub.lambda_params:
                return _sub.lambda_params[name]
            return _parent(name)
        sub._ident = _sub_ident
        return _c(sub.parse_or())


# ---------------------------------------------------------------------------
# Function registry
# ---------------------------------------------------------------------------

def _null_as_1(a: Column) -> Column:
    """A null array operand becomes the one-element [null] array (Druid's
    scalar-to-array promotion applied to the null MVD read).  element_at on
    the (null) array gives a null of the element type, so the promotion is
    type-correct for any element type."""
    return F.coalesce(a, F.array(F.element_at(a, F.lit(1))))


def _cols(f):
    """Wrap fn expecting all-Column args."""
    return lambda p, *args: f(*[_c(a) for a in args])


def _registry() -> dict:
    from incubator_druid_spark.model.granularity import (Granularity,
                                                         parse_granularity)

    def _gran(period, origin=None, tz=None) -> Granularity:
        if isinstance(tz, Column):
            # the reference evaluates a non-literal timezone from row
            # bindings (ExprMacroTest timestamp_shift(t,'P1D',2,
            # CityOfAngels)); this engine compiles the chronology into the
            # plan, so a dynamic zone must refuse loudly rather than
            # silently compute UTC
            raise ValueError(
                "timestamp macro timezone must be a literal string "
                "(dynamic per-row timezones are not supported)")
        return parse_granularity({"period": lit_str(period),
                                  "origin": lit_val(origin),
                                  "timeZone": lit_str(tz)})

    def _ts_c(ts, p=None):
        # a LONG literal fed to a timestamp macro is epoch millis
        # (ExprEval.asLong feeds the macro's chronology directly —
        # ExpressionsTest passes 949550706000 straight to timestamp_floor);
        # a KNOWN-integral column likewise — in Druid's type system every
        # long handed to a time macro IS epoch millis (__time resolves to
        # its LONG storage when timestamp_cols tagging is on)
        if isinstance(ts, (int, float)) and not isinstance(ts, bool):
            return F.timestamp_millis(F.lit(int(ts)))
        if p is not None and p._is_integral(ts):
            return F.timestamp_millis(_c(ts))
        return _c(ts)

    def timestamp_floor(p, ts, period, origin=None, tz=None):
        # query/expression/TimestampFloorExprMacro.java
        return _gran(period, origin, tz).floor(_ts_c(ts, p))

    def timestamp_ceil(p, ts, period, origin=None, tz=None):
        # query/expression/TimestampCeilExprMacro.java
        return _gran(period, origin, tz).ceil(_ts_c(ts, p))

    def timestamp_shift(p, ts, period, step, tz=None):
        # query/expression/TimestampShiftExprMacro.java
        return _gran(period, None, tz).shift(_ts_c(ts, p), int(lit_val(step)))

    _EXTRACT = {
        # TimestampExtractExprMacro.java:113-154 — EPOCH is seconds;
        # MILLISECOND is millis-of-second.  EPOCH/MICROSECOND are handled
        # tz-INDEPENDENTLY in timestamp_extract (getMillis() ignores the
        # chronology zone) — listed here only for unit validation.
        "EPOCH": F.unix_timestamp,
        "MICROSECOND": lambda c: (F.unix_timestamp(c) / 1000).cast("long"),
        # pmod, not %: Joda millisOfSecond().get() is always 0..999, but
        # Spark's % keeps the sign for pre-1970 timestamps
        "MILLISECOND": lambda c: F.pmod(F.unix_millis(c), F.lit(1000)),
        "SECOND": F.second, "MINUTE": F.minute, "HOUR": F.hour,
        # DOW and ISODOW both return joda dayOfWeek (Mon=1..Sun=7):
        # TimestampExtractExprMacro.java:130-133
        "DAY": F.dayofmonth, "DOW": lambda c: F.weekday(c) + 1,
        "ISODOW": lambda c: F.weekday(c) + 1, "DOY": F.dayofyear,
        "WEEK": F.weekofyear, "MONTH": F.month, "QUARTER": F.quarter,
        # reference quirk: ISOYEAR returns the plain year
        # (TimestampExtractExprMacro.java:144-145)
        "YEAR": F.year, "ISOYEAR": F.year,
        "DECADE": lambda c: F.floor(F.year(c) / 10),
        "CENTURY": lambda c: F.ceil(F.year(c) / 100),
        "MILLENNIUM": lambda c: F.ceil(F.year(c) / 1000),
    }

    def timestamp_extract(p, ts, unit, tz=None):
        # query/expression/TimestampExtractExprMacro.java
        c = _ts_c(ts, p)
        u = lit_str(unit).upper()
        z = lit_str(tz)
        if u in ("EPOCH", "MICROSECOND"):
            # dateTime.getMillis()/1000 — the INSTANT, regardless of the
            # chronology's zone; shifting first would skew by the offset
            return _EXTRACT[u](c)
        if z and z != "UTC":
            c = F.from_utc_timestamp(c, z)
        return _EXTRACT[u](c)

    def timestamp_parse(p, s, fmt=None, tz=None):
        # query/expression/TimestampParseExprMacro.java — the timeZone arg
        # localizes a zoneless wall clock (joda withZone): parse as wall
        # time, then reinterpret in tz — but a string carrying an EXPLICIT
        # offset ('Z', '+05:30') already pins the instant; joda's parsed
        # offset overrides withZone (TimestampParseExprMacro
        # createDefaultParser appends an optional offset element), so those
        # rows must not be re-shifted
        sc = _c(s).cast("string")
        z = lit_str(tz) if tz is not None else None
        if fmt is None or lit_val(fmt) is None:
            # joda ISO_DATE_OPTIONAL_TIME accepts a date, a bare 'T', then
            # an offset ('2010-04-12T+09:00') — Spark's cast needs the
            # time element spelled out
            sc = F.regexp_replace(
                sc, r"^(\d{4}-\d{2}-\d{2})T(?=(Z|[+-]|$))", r"$1T00:00:00")
            out = sc.try_cast("timestamp")
            if z and z != "UTC":
                has_off = sc.rlike(
                    r"\d{2}:\d{2}(:\d{2}(\.\d+)?)?\s*(Z|[+-]\d{2}(:?\d{2})?)$")
                out = F.when(has_off, out) \
                       .otherwise(F.to_utc_timestamp(out, z))
            return out
        fmt_s = lit_str(fmt)
        out = F.try_to_timestamp(sc, F.lit(_joda_to_spark(fmt_s)))
        if z and z != "UTC" and "Z" not in fmt_s:
            # a pattern that parses an offset (joda Z/ZZ) pins the instant
            out = F.to_utc_timestamp(out, z)
        return out

    def timestamp_format(p, ts, fmt=None, tz=None):
        # query/expression/TimestampFormatExprMacro.java
        c = _ts_c(ts, p)
        z = lit_str(tz)
        if z and z != "UTC":
            c = F.from_utc_timestamp(c, z)
        f = _joda_to_spark(lit_str(fmt)) if fmt is not None else "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
        return F.date_format(c, f)

    def _case_searched(p, *args):
        # Function.java:2090 — case_searched(cond1, v1, ..., else?)
        pairs, els = (args[:-1], args[-1]) if len(args) % 2 == 1 else (args, None)
        out = F.when(_as_bool(pairs[0]), _c(pairs[1]))
        for i in range(2, len(pairs), 2):
            out = out.when(_as_bool(pairs[i]), _c(pairs[i + 1]))
        return out.otherwise(_c(els)) if els is not None else out

    def _case_simple(p, *args):
        # Function.java:2139 — case_simple(expr, v1, r1, ..., else?)
        e, rest = _c(args[0]), args[1:]
        pairs, els = (rest[:-1], rest[-1]) if len(rest) % 2 == 1 else (rest, None)
        out = F.when(e == _c(pairs[0]), _c(pairs[1]))
        for i in range(2, len(pairs), 2):
            out = out.when(e == _c(pairs[i]), _c(pairs[i + 1]))
        return out.otherwise(_c(els)) if els is not None else out

    _CAST_MAP = {"LONG": "long", "DOUBLE": "double", "FLOAT": "float", "STRING": "string",
                 "LONG_ARRAY": "array<long>", "DOUBLE_ARRAY": "array<double>",
                 "STRING_ARRAY": "array<string>", "ARRAY<LONG>": "array<long>",
                 "ARRAY<DOUBLE>": "array<double>", "ARRAY<STRING>": "array<string>"}

    def _cast(p, e, t):
        tt = lit_str(t).upper()
        spark_t = _CAST_MAP.get(tt, tt.lower())
        c = _c(e)
        if spark_t in ("long", "int"):
            # ExprEval.computeNumber:565-580 — tryParseLong, else parse as
            # double and truncate ('10.1' → 10, not NULL)
            return F.coalesce(c.try_cast(spark_t),
                              c.try_cast("double").try_cast(spark_t))
        if spark_t.startswith("array<"):
            # per-ELEMENT lenient casts: cast(['1.0'], 'LONG_ARRAY') is
            # [1], not a CAST_INVALID_INPUT under an ANSI host (ExprEval
            # castTo applies computeNumber element-wise)
            elem = spark_t[6:-1]
            if elem in ("long", "int"):
                out = F.transform(c, lambda x: F.coalesce(
                    x.try_cast(elem), x.try_cast("double").try_cast(elem)))
            elif elem in ("double", "float"):
                out = F.transform(c, lambda x: x.try_cast(elem))
            else:
                out = F.transform(c, lambda x: x.cast(elem))
            # a cast to an array type is an array-returning construct for
            # downstream array-vs-scalar dispatch (array_contains)
            p.tag_array(out)
            if elem == "string":
                p.tag_string_elems(out)
            return out
        return (c.try_cast(spark_t) if spark_t in ("double", "float")
                else c.cast(spark_t))

    def _substring(p, s, start, length):
        # Function.java:2460 — 0-based start; negative length = to end
        ln = lit_val(length)
        if ln is not None and int(ln) < 0:
            return F.substring(_c(s), _plus1(start), 2**31 - 1)
        return F.substring(_c(s), _plus1(start),
                           length if isinstance(length, Column) else int(ln))

    def _plus1(start):
        return (start.cast("int") + 1) if isinstance(start, Column) else int(start) + 1


    def _reduce_extreme(spark_fn):
        """greatest/least (Function.java ReduceFunction): null operands are
        SKIPPED, any STRING operand widens the whole reduction to string
        comparison ('A' > '9' lexicographically), no operands -> null."""
        def impl(p, *args):
            if not args:
                return F.lit(None).cast("string")
            any_str = any(isinstance(a, str) or p._is_string_col(a)
                          for a in args)
            cols = [_c(a) for a in args]
            if any_str:
                out = spark_fn(*[c.cast("string") for c in cols]) \
                    if len(cols) > 1 else cols[0].cast("string")
                return p.tag_string(out)
            return spark_fn(*cols) if len(cols) > 1 else cols[0]
        return impl


    def _bitwise_bin(fn):
        """FunctionTest testBitwise: bitwiseAnd('2','1') is null (two
        strings never widen) but bitwiseAnd(3,'1') forgives the one
        string; doubles truncate via the lenient long read."""
        def impl(p, a, b):
            a_str = isinstance(a, str) or p._is_string_col(a)
            b_str = isinstance(b, str) or p._is_string_col(b)
            if a_str and b_str:
                return F.lit(None).cast("long")
            return fn(_lenient_long(_c(a)), _lenient_long(_c(b)))
        return impl

    def _bitwise_unary(p, x):
        """bitwiseComplement accepts no string slop — '1' is null."""
        if isinstance(x, str) or p._is_string_col(x):
            return F.lit(None).cast("long")
        return F.bitwise_not(_lenient_long(_c(x)))

    def _round(p, x, scale=None):
        # Function.java RoundFunction: NaN rounds to 0, +-Infinity clamps
        # to +-Double.MAX_VALUE, non-numeric strings are null (sql mode).
        # The reference returns the input's OWN numeric type (exact
        # BigDecimal for longs), so a known-integral column skips the
        # double guard entirely — longs can't be NaN/Inf, and the guard's
        # double literals would unify the CaseWhen to DOUBLE, corrupting
        # values beyond 2^53 and changing the output type.
        c = _c(x)
        if isinstance(x, Column) and id(x) in p.array_ids:
            # round of an array is null in SQL mode (RoundFunction's type
            # check; FunctionTest testRoundWithNullValueOrInvalid)
            return F.lit(None).cast("double")
        sc = 0
        sc_col = None
        if scale is not None:
            sv = lit_val(scale)
            if sv is None:
                sc_col = _c(scale)  # non-literal scale (a column)
            elif isinstance(sv, bool) or isinstance(sv, str) or (
                    isinstance(sv, float) and not float(sv).is_integer()):
                # RoundFunction: "second argument ... should be integer
                # type" (testRoundWithInvalidSecondArgument)
                raise ValueError(
                    "The second argument to the function[round] should be "
                    "integer type")
            else:
                sc = int(sv)
        if sc_col is not None:
            # non-literal scale: Spark round() needs a foldable scale, so
            # scale arithmetically (HALF_UP either way).  The scale read is
            # lenient (try_cast — a garbage scale nulls, never throws under
            # an ANSI host).  A known-integral input with scale >= 0 is the
            # IDENTITY (rounding an integer to decimal places) — returning
            # it directly keeps exact LONG values beyond 2^53; only the
            # negative-scale leg pays the double round-trip.
            sci = _lenient_long(sc_col).cast("int")
            pw = F.pow(F.lit(10.0), sci)
            if p._is_integral(x):
                return F.when(sci >= 0, c) \
                        .otherwise((F.round(c.cast("double") * pw, 0) / pw)
                                   .try_cast("long"))
            return F.round(c.try_cast("double") * pw, 0) / pw
        if p._is_integral(x):
            return F.round(c, sc)
        cd = c.try_cast("double")
        maxv = 1.7976931348623157e308
        guarded = (F.when(F.isnan(cd), F.lit(0.0))
                    .when(cd == F.lit(float("inf")), F.lit(maxv))
                    .when(cd == F.lit(float("-inf")), F.lit(-maxv))
                    .otherwise(cd))
        return F.round(guarded, sc)

    def _strpos(p, h, n, from_index=None):
        # Function.java:2415 — 0-based, -1 when absent; Spark instr is
        # 1-based/0.  fromIndex starts the search at that 0-based offset
        # and the returned position stays absolute.
        if from_index is None:
            return (F.instr(_c(h), lit_str(n)) - 1).cast("long")
        # Java indexOf clamps a negative (or missing) fromIndex to 0; a
        # raw negative position would make Spark substring count from the
        # string's END instead
        fi = F.greatest(F.coalesce(_c(from_index).cast("int"), F.lit(0)),
                        F.lit(0))
        rel = F.instr(F.substring(_c(h), fi + 1, F.lit(2 ** 31 - 1)),
                      lit_str(n))
        return (F.when(rel > 0, rel + fi - 1)
                 .otherwise(F.lit(-1))).cast("long")

    def _lookup(p, col, name, replace_missing=None):
        from incubator_druid_spark.functions.lookups import lookup_column
        return lookup_column(lit_str(name), _c(col),
                             lit_str(replace_missing) if replace_missing is not None else None)

    def _elem_bind(p, arr):
        # the lambda variable inherits the array's ELEMENT type: MVD
        # elements are strings, so `x + 1` inside map() must take the
        # lenient string→double route in any session mode
        se = isinstance(arr, Column) and id(arr) in p.string_elem_ids
        return (lambda x: p.tag_string(x)) if se else (lambda x: x)

    def _cartesian_map(p, lam, *arrs):
        if not isinstance(lam, _Lambda) or not arrs:
            raise ValueError("cartesian_map expects a lambda and ≥1 array")
        binds = [_elem_bind(p, a) for a in arrs]

        def build(prefix, i):
            if i == len(arrs) - 1:
                return F.transform(
                    _c(arrs[i]),
                    lambda v: _c(lam(*prefix, binds[i](v))))
            return F.flatten(F.transform(
                _c(arrs[i]),
                lambda v: build(prefix + [binds[i](v)], i + 1)))

        return build([], 0)

    def _hof(fname):
        # PySpark HOFs introspect the Python callable's signature, so wrap the
        # deferred _Lambda in a plain single-arg lambda
        def apply(p, lam, arr):
            if not isinstance(lam, _Lambda):
                raise ValueError(f"{fname} expects a lambda")
            bind = _elem_bind(p, arr)
            return getattr(F, fname)(_c(arr), lambda x: lam(bind(x)))
        return apply

    def _map(p, lam, arr):
        # ApplyFunction.java:195
        bind = _elem_bind(p, arr)
        return F.transform(_c(arr), lambda x: lam(bind(x)))

    def _fold(p, lam, arr, acc):
        # ApplyFunction.java:350 — fold((x, acc) -> ..., arr, init).
        # Spark's aggregate() fixes the accumulator type from the init value;
        # Druid's is dynamic — type the accumulator from the init literal and
        # pin the merge result to it.
        acc_type = None
        v = lit_val(acc)
        if isinstance(v, bool):
            acc_type = "boolean"
        elif isinstance(v, int):
            acc_type = "long"
        elif isinstance(v, float):
            acc_type = "double"
        init = _c(acc).cast(acc_type) if acc_type else _c(acc)
        merge = (lambda a, x: _c(lam(x, a)).cast(acc_type)) if acc_type \
            else (lambda a, x: _c(lam(x, a)))
        return F.aggregate(_c(arr), init, merge)

    def _concat(p, *args):
        return F.concat(*[_c(a).cast("string") for a in args])

    def _safe_divide(p, a, b):
        b = _c(b)
        return F.when(b == 0, F.lit(None)).otherwise(F.try_divide(_c(a), b))

    _IPV4_RE = (r"^(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
                r"(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}$")

    def _ipv4_long(p, x):
        """Uint32 value of an address operand, null when invalid — the
        reference's macros dispatch LONG inputs numerically (validated to
        the uint32 range) and STRING inputs STRICTLY as dotted-quad
        (IPv4AddressParseExprMacroTest testValidStringArgUnsignedInt: the
        string '3232235521' is NULL, only the LONG form parses).  An
        UNTAGGED column keeps a bare-digits fallback: a LONG column read
        through an untyped resolver stringifies to digits, and dropping
        them would break numeric columns in untyped contexts."""
        if isinstance(x, int) and not isinstance(x, bool):
            return F.lit(x if 0 <= x <= 0xFFFFFFFF else None).cast("long")
        c = _c(x)
        if isinstance(x, Column) and id(x) in p.integral_ids:
            return F.when((c >= 0) & (c <= 0xFFFFFFFF), c.cast("long"))
        s = c.cast("string")
        o = F.split(s, r"\.")
        dotted = (F.get(o, 0).cast("long") * 16777216
                  + F.get(o, 1).cast("long") * 65536
                  + F.get(o, 2).cast("long") * 256 + F.get(o, 3).cast("long"))
        out = F.when(s.rlike(_IPV4_RE), dotted)
        if isinstance(x, str) or p._is_string_col(x):
            return out  # known-string input: dotted-quad only
        num = s.try_cast("long")
        return out.when(s.rlike(r"^\d+$")
                        & num.isNotNull() & (num <= 0xFFFFFFFF), num)

    def _ipv4_parse(p, s):
        return _ipv4_long(p, s)

    def _ipv4_stringify(p, n):
        v = _ipv4_long(p, n)
        return F.when(v.isNotNull(), F.concat_ws(
            ".", ((v / 16777216).cast("long") % 256).cast("string"),
            ((v / 65536).cast("long") % 256).cast("string"),
            ((v / 256).cast("long") % 256).cast("string"),
            (v % 256).cast("string")))

    def _ipv4_match(p, addr, subnet):
        s = lit_str(subnet)
        base, _, bits = s.partition("/")
        parts = [int(x) for x in base.split(".")]
        ip = (parts[0] << 24) | (parts[1] << 16) | (parts[2] << 8) | parts[3]
        mask = (0xFFFFFFFF << (32 - int(bits))) & 0xFFFFFFFF if bits else 0xFFFFFFFF
        lo, hi = ip & mask, (ip & mask) | (~mask & 0xFFFFFFFF)
        a = _ipv4_long(p, addr)
        # invalid address never matches (macro returns false, not null)
        return F.coalesce((a >= lo) & (a <= hi), F.lit(False))

    def _parse_long(p, s, radix=None):
        if radix is not None and lit_val(radix) not in (None, 10):
            r = int(lit_val(radix))
            c = _c(s)
            if r == 16:
                # ParseLongFunction strips an optional 0x/0X prefix at
                # radix 16 (ExpressionsTest: parse_long('0xEF',16) = 239)
                c = F.regexp_replace(c, "^0[xX]", "")
            return F.conv(c, r, 10).try_cast("long")
        return _lenient_long(_c(s))

    def _human_readable(units, base):
        # HumanReadableBytes-style unit scaling (these functions postdate
        # the 0.22 reference; implemented to the documented contract):
        # divide by base until < base, suffix the unit, default precision 2
        def fn(p, x, precision=None):
            prec = int(lit_val(precision)) if precision is not None else 2
            v = _c(x).cast("double")
            a = F.abs(v)

            def fmt(col):
                return F.format_string(f"%.{prec}f", col)

            out = F.concat(fmt(v), F.lit(units[0]))
            for i, u in enumerate(units[1:], start=1):
                lo = float(base) ** i
                hi = float(base) ** (i + 1)
                cond = (a >= lo) & (a < hi) if i < len(units) - 1 \
                    else (a >= lo)
                out = F.when(cond, F.concat(fmt(v / F.lit(lo)), F.lit(u))) \
                       .otherwise(out)
            return F.when(v.isNotNull(), out)
        return fn

    def _array_slice(p, a, s, e=None):
        st = int(lit_val(s))
        if e is None:
            return F.slice(_c(a), st + 1, 2**31 - 1)
        return F.slice(_c(a), st + 1, int(lit_val(e)) - st)

    def _arr_lift(p, a):
        """Implicit scalar→array coercion for array-function arguments
        (Function.java ArrayContainsFunction over a scalar selector): a
        KNOWN scalar (non-Column literal or string-tagged column) wraps
        into a 1-element array; anything else passes through as-is."""
        if not isinstance(a, Column):
            return F.array(_c(a))
        if id(a) in p.string_ids and id(a) not in p.array_ids:
            return F.array(a)
        return _c(a)

    def _string_to_array(p, s, sep):
        # StringToArrayFunction uses Java String.split: the separator is a
        # REGEX and trailing empty strings are dropped (limit 0).  Emulate
        # the trailing-drop by stripping trailing separator runs first; a
        # separators-only string splits to the EMPTY array.
        pat = lit_str(sep)
        if pat is None:
            return F.split(_c(s), sep)
        sc = _c(s).cast("string")
        trimmed = F.regexp_replace(sc, f"(?:{pat})+$", "")
        # Java quirks: "".split(x) is [""], but a separators-only string
        # drops every trailing empty and yields []
        return (F.when(sc == "", F.array(F.lit("")))
                 .when(trimmed == "", F.array().cast("array<string>"))
                 .otherwise(F.split(trimmed, pat)))

    r: dict = {
        # -- math (Function.java:798-1929; class line numbers in SURVEY §2.9)
        "abs": _cols(F.abs), "acos": _cols(F.acos), "asin": _cols(F.asin),
        "atan": _cols(F.atan), "atan2": _cols(F.atan2), "cbrt": _cols(F.cbrt),
        "ceil": _cols(F.ceil), "cos": _cols(F.cos), "cosh": _cols(F.cosh),
        "cot": _cols(lambda x: F.try_divide(F.cos(x), F.sin(x))),
        # Function.java Div: Java long division — truncates toward zero
        # (floor() would be off by one for negative quotients); Spark's div
        # function has the same semantics, exact on longs.  Non-integral
        # double operands are truncated first (Druid's double overload does
        # (long)(x/y) — differs only when operands are fractional).
        "div": _cols(lambda a, b: F.when(
            b.cast("long") == 0, F.lit(None).cast("long")).otherwise(
            F.call_function("div", a.cast("long"), b.cast("long")))),
        "exp": _cols(F.exp), "expm1": _cols(F.expm1), "floor": _cols(F.floor),
        "log": _cols(F.log), "log10": _cols(F.log10), "log1p": _cols(F.log1p),
        "log2": _cols(F.log2),
        "pi": lambda p: 3.141592653589793,
        "pow": _cols(F.pow), "power": _cols(F.pow),
        "rint": _cols(F.rint), "round": _round,
        "signum": _cols(F.signum), "sin": _cols(F.sin), "sinh": _cols(F.sinh),
        "sqrt": _cols(F.sqrt), "tan": _cols(F.tan), "tanh": _cols(F.tanh),
        "todegrees": _cols(F.degrees), "toradians": _cols(F.radians),
        "copysign": _cols(lambda a, b: F.abs(a) * F.when(F.signum(b) == 0, 1).otherwise(F.signum(b))),
        "hypot": _cols(F.hypot),
        "remainder": _cols(lambda a, b: a - F.rint(F.try_divide(a, b)) * b),
        # BivariateMathFunction: null when EITHER operand is null (greatest/
        # least would skip the null); greatest/least keep the skipping
        # ReduceFunction semantics below
        "max": _cols(lambda a, b: F.when(a.isNotNull() & b.isNotNull(),
                                         F.greatest(a, b))),
        "min": _cols(lambda a, b: F.when(a.isNotNull() & b.isNotNull(),
                                         F.least(a, b))),
        "greatest": _reduce_extreme(F.greatest),
        "least": _reduce_extreme(F.least),
        "scalb": _cols(lambda a, b: a * F.pow(F.lit(2.0), b.try_cast("double"))),
        "safe_divide": _safe_divide,
        "parse_long": _parse_long,
        # -- bitwise (Function.java:888-1064)
        "bitwisecomplement": _bitwise_unary,
        "bitwiseand": _bitwise_bin(lambda x, y: x.bitwiseAND(y)),
        "bitwiseor": _bitwise_bin(lambda x, y: x.bitwiseOR(y)),
        "bitwisexor": _bitwise_bin(lambda x, y: x.bitwiseXOR(y)),
        # shiftleft/right take a literal shift count in Spark; fall back to
        # arithmetic (×/÷ by 2^b) for column-valued shift amounts
        "bitwiseshiftleft": lambda p, a, b: (
            F.shiftleft(_lenient_long(_c(a)), int(lit_val(b)))
            if lit_val(b) is not None
            else (_lenient_long(_c(a)) * F.pow(F.lit(2.0), _c(b))
                  .try_cast("long")).try_cast("long")),
        "bitwiseshiftright": lambda p, a, b: (
            F.shiftright(_lenient_long(_c(a)), int(lit_val(b)))
            if lit_val(b) is not None
            else F.floor(F.try_divide(_lenient_long(_c(a)),
                             F.pow(F.lit(2.0), _c(b)))).try_cast("long")),
        # IEEE-754 bit reinterpretation (BitwiseConvert*Function — float
        # operands truncate to long first, strings are null; reflect gives
        # the exact Java semantics JVM-side)
        "bitwiseconvertlongbitstodouble": _cols(lambda x: F.when(
            _lenient_long(x).isNotNull(), F.call_function(
                "reflect", F.lit("java.lang.Double"),
                F.lit("longBitsToDouble"),
                F.coalesce(_lenient_long(x), F.lit(0).cast("long")))
            .cast("double"))),
        "bitwiseconvertdoubletolongbits": _cols(lambda x: F.when(
            x.try_cast("double").isNotNull(), F.call_function(
                "reflect", F.lit("java.lang.Double"),
                F.lit("doubleToLongBits"),
                F.coalesce(x.try_cast("double"), F.lit(0.0)))
            .cast("long"))),
        # -- conditionals / null (Function.java:2056-2247)
        "if": lambda p, c, a, b: F.when(_as_bool(c), _c(a)).otherwise(_c(b)),
        "case_searched": _case_searched, "case_simple": _case_simple,
        "nvl": _cols(F.coalesce), "coalesce": _cols(F.coalesce),
        "isnull": _cols(F.isnull), "notnull": _cols(lambda c: ~F.isnull(c)),
        "cast": _cast,
        # -- strings (Function.java:2278-2806 + macros in query/expression/)
        "concat": _concat, "strlen": _cols(F.length), "length": _cols(F.length),
        "format": lambda p, fmt, *a: F.format_string(lit_str(fmt), *[_c(x) for x in a]),
        "strpos": _strpos, "substring": _substring,
        # negative counts are invalid -> null (sql mode;
        # testAbnormalRight/LeftWithNegativeNumber)
        "right": _cols(lambda s, n: F.when(
            n.try_cast("long") >= 0, F.right(s, n.try_cast("int")))),
        "left": _cols(lambda s, n: F.when(
            n.try_cast("long") >= 0, F.left(s, n.try_cast("int")))),
        "replace": _cols(lambda s, a, b: F.replace(s, a, b)),
        "lower": _cols(F.lower), "upper": _cols(F.upper),
        "reverse": _cols(F.reverse),
        "repeat": _cols(lambda s, n: F.when(
            n.try_cast("int") >= 0, F.repeat(s, n.try_cast("int")))),
        "lpad": lambda p, s, n, pad: F.lpad(_c(s), int(lit_val(n)), lit_str(pad)),
        "rpad": lambda p, s, n, pad: F.rpad(_c(s), int(lit_val(n)), lit_str(pad)),
        "trim": _cols(F.trim), "ltrim": _cols(F.ltrim), "rtrim": _cols(F.rtrim),
        "btrim": _cols(F.trim),
        # LikeExprMacro → LikeMatcher.matches(null) is FALSE, never null
        # (LikeDimFilter.java:291-295 `val != null && matches`):
        # like(null, 'f%') evaluates 0, unlike Spark's null-propagating LIKE
        "like": lambda p, s, pat, esc=None: F.coalesce(
            _c(s).like(lit_str(pat)), F.lit(False)),
        # RegexpExtractExprMacro.java: matcher.find() ? group(idx) : NULL —
        # Spark's regexp_extract returns '' on no-match, so guard with rlike
        # an empty extracted group is NULL in SQL null mode
        # (RegexpExtractExprMacroTest testEmptyStringPattern asserts
        # NullHandling.emptyToNullIfNeeded(""))
        "regexp_extract": lambda p, s, pat, idx=None: F.nullif(F.when(
            _c(s).rlike(_req_lit_str(pat, "regexp_extract")),
            F.regexp_extract(_c(s), _req_lit_str(pat, "regexp_extract"),
                             int(lit_val(idx)) if idx is not None else 0)),
            F.lit("")),
        # null input matches nothing -> false, not null (RegexpLikeExpr)
        # Druid native booleans ARE longs (ExprEval LONG 1/0) — returning
        # LONG keeps them usable in arithmetic folds (`acc + regexp_like`)
        # while filters cast back to boolean
        "regexp_like": lambda p, s, pat: F.coalesce(
            _c(s).rlike(_req_lit_str(pat, "regexp_like")),
            F.lit(False)).cast("long"),
        "regexp_replace": lambda p, s, pat, rep: F.regexp_replace(
            _c(s), lit_str(pat), lit_str(rep)),
        "contains_string": lambda p, s, sub: (
            F.instr(_c(s), _req_lit_str(sub, "contains_string",
                                        "substring")) > 0).cast("long"),
        "icontains_string": lambda p, s, sub: (
            F.instr(F.lower(_c(s)),
                    _req_lit_str(sub, "icontains_string",
                                 "substring").lower()) > 0).cast("long"),
        # -- time macros (processing/.../query/expression/)
        "timestamp_floor": timestamp_floor, "timestamp_ceil": timestamp_ceil,
        "timestamp_shift": timestamp_shift, "timestamp_extract": timestamp_extract,
        "timestamp_parse": timestamp_parse, "timestamp_format": timestamp_format,
        # core timestamp()/unix_timestamp() (Function.java
        # TimestampFromEpochFunc:2807/UnixTimestampFunc:2862) return LONG
        # millis/seconds — unlike the timestamp_parse MACRO, whose
        # TimestampType representation this engine keeps for ergonomic
        # downstream reads.  Seconds divide like Java long division
        # (truncation toward zero).
        "timestamp": lambda p, *a: F.unix_millis(_c(timestamp_parse(p, *a))),
        "unix_timestamp": lambda p, *a: (
            F.unix_millis(_c(timestamp_parse(p, *a))) / F.lit(1000)
        ).cast("long"),
        "millis_to_timestamp": _cols(lambda n: F.timestamp_millis(n.cast("long"))),
        "timestamp_to_millis": _cols(F.unix_millis),
        # -- arrays (Function.java:2918-3457)
        "array": _array_ctor, "array_length": _cols(F.size),
        "string_to_array": _string_to_array,
        # null elements print as 'null' (ArrayToStringFunction joins with
        # String.valueOf)
        "array_to_string": lambda p, a, sep: F.array_join(
            _c(a), lit_str(sep), "null"),
        "array_offset": lambda p, a, i: F.get(_c(a), i if isinstance(i, Column) else int(i)),
        "array_ordinal": lambda p, a, i: F.try_element_at(
            _c(a), i if isinstance(i, Column) else F.lit(int(i))),
        # miss → NULL (ArrayOffsetOfFunction:3258 — -1/0 only under
        # replaceWithDefault; Spark's array_position returns 0 on miss)
        "array_offset_of": _cols(lambda a, v: (
            F.nullif(F.array_position(a, v), F.lit(0)) - 1).cast("long")),
        "array_ordinal_of": _cols(lambda a, v: F.nullif(
            F.array_position(a, v), F.lit(0)).cast("long")),
        # append/prepend/concat promote a null scalar operand to [null]
        # (ArrayAppendFunction scalar-to-array promotion; the null-MVD row
        # yields [null, 'foo'] in testMultiValueStringAppend).  element_at
        # on the null array is a type-correct null element.
        "array_append": _cols(lambda a, v: F.array_append(_null_as_1(a), v)),
        "array_prepend": _cols(lambda v, a: F.array_prepend(_null_as_1(a), v)),
        "array_concat": _cols(lambda a, b: F.concat(_null_as_1(a),
                                                    _null_as_1(b))),
        "array_set_add": _cols(lambda a, v: F.array_sort(F.array_distinct(F.array_append(a, v)))),
        "array_set_add_all": _cols(lambda a, b: F.array_sort(F.array_union(a, b))),
        # ArrayContainsFunction: array 2nd argument = contains-all, scalar =
        # membership.  Dispatch uses the PARSER's tags (p.array_ids — set for
        # array literals and array-returning calls as they are parsed), not
        # Catalyst text inspection, so any tagged construct — nested parens,
        # casts around it, concat results — dispatches correctly and the
        # implementation doesn't touch private _jc (Connect-safe).  A bare
        # column REFERENCE of array type as the 2nd argument still falls to
        # the membership branch and surfaces as an analysis-time type error,
        # never a wrong answer.
        # A known-SCALAR 1st argument (literal, or a string-tagged column)
        # lifts to a single-element array — array_contains(dim3, '1') over
        # a string column is equality (ExpressionFilterTest).
        "array_contains": lambda p, a, v: (
            F.forall(_c(v), lambda x: F.array_contains(_arr_lift(p, a), x))
            if isinstance(v, Column) and id(v) in p.array_ids
            else F.array_contains(_arr_lift(p, a), _c(v))),
        "array_overlap": _cols(F.arrays_overlap),
        "array_slice": _array_slice,
        # -- higher-order fns (ApplyFunction.java: map:195, filter:471, any:609, all:632, fold:350)
        "map": _map, "filter": _hof("filter"), "any": _hof("exists"),
        "all": _hof("forall"), "fold": _fold,
        # cartesian_map((x,...) -> e, a1, ..., aN): e over the N-way cross
        # product (ApplyFunction.java CartesianMapFunction) — nested
        # transforms flattened a1-major, null arrays propagate null.  The
        # lambda may declare fewer params than arrays (`() -> 1` maps every
        # combination to the constant, like the reference).
        "cartesian_map": _cartesian_map,
        # cartesian_fold((x,y,acc) -> e, a1, a2, init): fold over the
        # cross product (CartesianFoldFunction)
        "cartesian_fold": lambda p, lam, a1, a2, acc: F.aggregate(
            F.flatten(F.transform(
                _c(a1), lambda x: F.transform(
                    _c(a2), lambda y: F.struct(x.alias("x"),
                                               y.alias("y"))))),
            _c(acc),
            lambda a, s: _c(lam(s["x"], s["y"], a))),
        # -- ip (query/expression/IPv4Address*ExprMacro.java)
        "ipv4_parse": _ipv4_parse, "ipv4_stringify": _ipv4_stringify,
        "ipv4_match": _ipv4_match,
        # -- lookup (query/expression/LookupExprMacro.java)
        "lookup": _lookup,
        # -- human readable (Function.java HumanReadableByteFormat classes)
        "human_readable_binary_byte_format": _human_readable(
            [" B", " KiB", " MiB", " GiB", " TiB", " PiB"], 1024),
        "human_readable_decimal_byte_format": _human_readable(
            [" B", " KB", " MB", " GB", " TB", " PB"], 1000),
        "human_readable_decimal_format": _human_readable(
            ["", " K", " M", " G", " T", " P"], 1000),
    }
    return r


def _joda_to_spark(fmt: str) -> str:
    """Joda-time patterns → Spark (JDK DateTimeFormatter).  The divergent
    letters, translated outside quoted sections:
    - Joda Y = year-of-era, but java.time Y = WEEK-based year ('YYYY-MM-dd'
      would print 2026 for 2025-12-29) → y
    - Joda x = weekyear → java.time Y
    - Joda Z = +0800 offset → xx; ZZ = +08:00 → XXX; ZZZ = zone id → VV
    """
    out, i, n = [], 0, len(fmt)
    while i < n:
        ch = fmt[i]
        if ch == "'":
            j = i + 1
            while j < n and fmt[j] != "'":
                j += 1
            out.append(fmt[i:j + 1])
            i = j + 1
        elif ch == "Y":
            out.append("y")
            i += 1
        elif ch == "x":
            out.append("Y")
            i += 1
        elif ch == "Z":
            run = 1
            while i + run < n and fmt[i + run] == "Z":
                run += 1
            out.append({1: "xx", 2: "XXX"}.get(run, "VV"))
            i += run
        else:
            out.append(ch)
            i += 1
    return "".join(out)


_REGISTRY: dict | None = None


def registry() -> dict:
    global _REGISTRY
    if _REGISTRY is None:
        _REGISTRY = _registry()
    return _REGISTRY


def compile_expr(expression: str, resolver,
                 string_cols: set[str] | None = None,
                 array_cols: set[str] | None = None,
                 integral_cols: set[str] | None = None,
                 numeric_cols: set[str] | None = None,
                 timestamp_cols: set[str] | None = None,
                 string_array_cols: set[str] | None = None) -> Column:
    """Compile a Druid native expression string to a Spark Column.

    ``resolver(name)`` maps identifiers to Columns (typically ``F.col``; the
    caller decides how ``__time`` resolves).  ``string_cols`` tags the named
    identifiers string-typed, so `col_a + col_b` concatenates when either
    side is a known string column (BinPlusExpr.evalString) — without it only
    literal-involving `+` chains concatenate.  ``array_cols`` tags MVD
    identifiers so array-vs-scalar dispatchers (array_contains) can lift
    known-scalar arguments to single-element arrays (Function.java's
    implicit scalar→array coercion).
    """
    p = _Parser(_lex(expression), resolver, registry())
    if (string_cols or array_cols or integral_cols or numeric_cols
            or timestamp_cols or string_array_cols):
        orig_ident = p._ident

        def tagged_ident(name, _orig=orig_ident, _p=p,
                         _sc=string_cols or set(), _ac=array_cols or set(),
                         _ic=integral_cols or set(),
                         _nc=numeric_cols or set(),
                         _tc=timestamp_cols or set(),
                         _sac=string_array_cols or set()):
            col = _orig(name)
            if isinstance(col, Column):
                if name in _p.lambda_params:
                    # a lambda parameter SHADOWS the column of the same
                    # name — never apply column-type tags to it
                    return col
                if name in _tc:
                    # Druid's expression layer reads a time column at its
                    # LONG storage (epoch millis): `__time + 86400000` is
                    # plain arithmetic and casting to LONG/STRING renders
                    # millis, never Spark's seconds (Expr.java bindings via
                    # ColumnValueSelector.getLong; ExpressionsTest
                    # testTimePlusDayTimeInterval).  Time macros convert
                    # back via _ts_c's integral branch.
                    col = F.unix_millis(col)
                    _p.tag_integral(col)
                if name in _sc:
                    _p.tag_string(col)
                if name in _ac:
                    _p.tag_array(col)
                if name in _sac:
                    _p.tag_string_elems(col)
                if name in _ic:
                    _p.tag_integral(col)
                if name in _nc:
                    _p.tag_numeric(col)
            return col
        p._ident = tagged_ident
    out = p.parse()
    return _c(out)


def mvd_map_target(expression: str, array_cols: set[str]) -> str | None:
    """The single multi-value column a scalar expression should MAP over,
    or None when no mapping applies (ExpressionPlan's NEEDS_APPLIED trait —
    segment/virtual/ExpressionVirtualColumn.java + ExpressionPlan.java:
    a scalar-typed expression referencing one MVD input maps across its
    elements and yields an MVD).

    Conservative detection from the token stream: exactly one array-typed
    identifier referenced, the expression is not just the bare identifier,
    and no array-aware function (array_*/mv_*/HOFs, which take the whole
    array) appears — those expressions already handle the array explicitly.
    Two distinct MVD references raise in Druid too (no implicit zip)."""
    _ARRAY_AWARE = {"map", "filter", "fold", "any", "all", "cartesian_map",
                    "cartesian_fold", "array", "string_to_array"}
    toks = _lex(expression)
    refs, fns = set(), set()
    for i, (kind, val) in enumerate(toks):
        if kind != "ident":
            continue
        if i + 1 < len(toks) and toks[i + 1][1] == "(":
            fns.add(val.lower())
            continue
        if val in array_cols:
            refs.add(val)
    if len(refs) != 1:
        return None
    if any(f in _ARRAY_AWARE or f.startswith(("array_", "mv_"))
           for f in fns):
        return None
    target = next(iter(refs))
    if expression.strip() == target:
        return None
    return target


def compile_expr_mvd(expression: str, resolver, array_cols: set[str],
                     string_cols: set[str] | None = None,
                     integral_cols: set[str] | None = None,
                     numeric_cols: set[str] | None = None,
                     timestamp_cols: set[str] | None = None,
                     string_array_cols: set[str] | None = None):
    """compile_expr + Druid's single-MVD scalar mapping: when
    ``mvd_map_target`` finds a mapped column, the expression compiles inside
    ``transform(mvd, x -> expr[mvd := x])`` and the result is an MVD."""
    def _mvd_read(n):
        # Druid's dimension selector reads an EMPTY multi-value row as null
        # (no values), not as an empty array — array functions then see a
        # null scalar (CalciteMultiValueStringQueryTest: the [] row groups
        # with the null row in every MV_* expected result)
        c = resolver(n)
        return F.when(F.size(c) > 0, c) if n in array_cols else c

    target = mvd_map_target(expression, array_cols)
    if target is None:
        return compile_expr(expression, _mvd_read, string_cols,
                            integral_cols=integral_cols,
                            numeric_cols=numeric_cols,
                            timestamp_cols=timestamp_cols,
                            string_array_cols=string_array_cols)
    # MVD elements are strings — the mapped lambda variable is string-typed
    sc = (string_cols or set()) | {target}
    return F.transform(
        _mvd_read(target),
        lambda x: _c(compile_expr(
            expression,
            lambda n, _x=x: _x if n == target else _mvd_read(n), sc,
            integral_cols=integral_cols, numeric_cols=numeric_cols,
            timestamp_cols=timestamp_cols,
            string_array_cols=string_array_cols)))
