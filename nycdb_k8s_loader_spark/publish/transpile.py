"""Postgres-dialect → Spark-SQL transpiler (lite).

SURVEY.md §4.3 option (b): the reference's transformation scripts are
Postgres SQL (/root/reference/tests/sql/*.sql). Spark 4 already parses
most of the dialect (FILTER (WHERE …), INTERVAL strings, listagg);
this module rewrites the remaining Postgres-isms those scripts use:

| Postgres | Spark rewrite |
|---|---|
| ``expr::type``                | ``CAST(expr AS type)`` (type-mapped) |
| ``'3 YEARS'::INTERVAL``       | ``INTERVAL '3 YEARS'`` |
| ``x = any('{A,B}')``          | ``x IN ('A', 'B')`` |
| ``x ~* 'pat'`` / ``~ / !~*``  | ``x RLIKE '(?i)pat'`` / negations |
| ``string_agg(x, ',' [ORDER BY o])`` | ``listagg(x, ',') WITHIN GROUP (ORDER BY o)`` |
| ``SELECT DISTINCT ON (k) …``  | ranked-window rewrite (deterministic tiebreak required) |
| ``json_build_object('k', v, …)`` | ``to_json(named_struct('k', v, …))`` |

Invariant: every rewrite runs on the lexer's masked text
(publish/lexer.py), so nothing inside a string constant, a comment or a
``$$`` body is ever rewritten, and those pieces come back byte for
byte. A rewrite that needs a literal's content (``= any('{…}')``,
``~*`` patterns, table-function arguments) reads it through its
placeholder and emits new literals through the same table. Scope: the
constructs in the reference's SQL fixtures
(wow_2021_create_bldgs_table.sql etc.); shapes beyond them belong in
the hand-ported DataFrame layer (§4.3 option (a), which the plans/
package implements).
"""

from __future__ import annotations

import re

from nycdb_k8s_loader_spark.publish.lexer import LITERAL, Masked

_TYPE_MAP = {
    "int": "INT",
    "int4": "INT",
    "integer": "INT",
    "int8": "BIGINT",
    "bigint": "BIGINT",
    "smallint": "SMALLINT",
    "int2": "SMALLINT",
    "text": "STRING",
    "varchar": "STRING",
    "float8": "DOUBLE",
    "float4": "FLOAT",
    "numeric": "DECIMAL(38,9)",
    "bool": "BOOLEAN",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamptz": "TIMESTAMP",
}

# '3 YEARS'::INTERVAL  →  INTERVAL '3 YEARS'
_INTERVAL_CAST = re.compile(rf"({LITERAL})\s*::\s*INTERVAL\b", re.IGNORECASE)

# expr::type for simple exprs: identifier/qualified/literal/closing paren
_SIMPLE_CAST = re.compile(
    r"((?:[A-Za-z_][\w$]*\s*\.\s*)?[A-Za-z_][\w$]*(?:\([^()]*\))?"
    rf"|{LITERAL}|\d+(?:\.\d+)?)\s*::\s*([A-Za-z_][\w]*)"
)

# col = any('{A,B,C}')
_EQ_ANY = re.compile(rf"=\s*any\s*\(\s*({LITERAL})\s*\)", re.IGNORECASE)

# regex-match operators against a literal pattern
_REGEX_CI = re.compile(rf"(!?)~\*\s*({LITERAL})")
_REGEX_CS = re.compile(rf"(!?)~\s*({LITERAL})")

_STRING_AGG_OPEN = re.compile(r"\bstring_agg\s*\(", re.IGNORECASE)

_JSON_BUILD = re.compile(r"\bjson_build_object\s*\(", re.IGNORECASE)

_DISTINCT_ON = re.compile(
    r"SELECT\s+DISTINCT\s+ON\s*\(([^)]+)\)\s*", re.IGNORECASE
)


_PAREN_CAST = re.compile(r"\)\s*::\s*([A-Za-z_][\w]*)")


def _rewrite_paren_casts(sql: str) -> str:
    """``(expr)::type`` → ``CAST((expr) AS TYPE)`` — the parenthesized
    form _SIMPLE_CAST can't reach (it has no backward paren matching).
    A preceding function identifier is absorbed into the cast operand
    so ``fn(nested(x))::int`` casts the whole call."""
    while True:
        m = _PAREN_CAST.search(sql)
        if not m:
            break
        depth, i = 0, m.start()
        while i >= 0:
            if sql[i] == ")":
                depth += 1
            elif sql[i] == "(":
                depth -= 1
                if depth == 0:
                    break
            i -= 1
        if i < 0:  # unbalanced — leave untouched rather than corrupt
            break
        fn = re.search(r"(?:[A-Za-z_][\w$]*\s*\.\s*)?[A-Za-z_][\w$]*\s*$", sql[:i])
        # absorb a preceding identifier only if it is a function name,
        # not a SQL keyword ("SELECT (x)::int" casts (x), not SELECT(x))
        keywords = {
            "select", "where", "from", "and", "or", "on", "when", "then",
            "else", "end", "by", "as", "in", "not", "filter", "having",
            "join", "using", "case", "between", "like", "distinct",
            "union", "all", "values", "over", "partition", "order",
            "group", "limit", "exists", "is", "null", "true", "false",
        }
        start = i
        if fn and fn.group(0).strip().lower() not in keywords:
            start = fn.start()
        pg_type = m.group(1).lower()
        spark_type = _TYPE_MAP.get(pg_type, pg_type.upper())
        operand = sql[start : m.start() + 1]
        sql = f"{sql[:start]}CAST({operand} AS {spark_type}){sql[m.end():]}"
    return sql


def _rewrite_casts(sql: str) -> str:
    sql = _INTERVAL_CAST.sub(lambda m: f"INTERVAL {m.group(1)}", sql)
    sql = _rewrite_paren_casts(sql)

    def cast_sub(m: re.Match) -> str:
        expr, pg_type = m.group(1), m.group(2).lower()
        spark_type = _TYPE_MAP.get(pg_type, pg_type.upper())
        return f"CAST({expr} AS {spark_type})"

    # repeat for chained casts (a::int::text)
    prev = None
    while prev != sql:
        prev = sql
        sql = _SIMPLE_CAST.sub(cast_sub, sql)
    return sql


def _rewrite_any(sql: str, masked: Masked) -> str:
    def any_sub(m: re.Match) -> str:
        array = masked.value(m.group(1))
        if not (array.startswith("{") and array.endswith("}")):
            return m.group(0)
        items = [v.strip() for v in array[1:-1].split(",") if v.strip()]
        return "IN (" + ", ".join(masked.hold(v.strip('"')) for v in items) + ")"

    return _EQ_ANY.sub(any_sub, sql)


def _rewrite_regex_ops(sql: str, masked: Masked) -> str:
    def ci(m: re.Match) -> str:
        pat = masked.hold("(?i)" + masked.value(m.group(2)))
        return f"{'NOT RLIKE' if m.group(1) else 'RLIKE'} {pat}"

    def cs(m: re.Match) -> str:
        return f"{'NOT RLIKE' if m.group(1) else 'RLIKE'} {m.group(2)}"

    return _REGEX_CS.sub(cs, _REGEX_CI.sub(ci, sql))


def _scan_to_close(sql: str, start: int) -> int:
    """Index just past the ')' matching the '(' before ``start``."""
    depth, i = 1, start
    while i < len(sql) and depth:
        depth += {"(": 1, ")": -1}.get(sql[i], 0)
        i += 1
    return i


def _split_top_commas(args: str) -> list[str]:
    out, depth, start = [], 0, 0
    for i, ch in enumerate(args):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(args[start:i])
            start = i + 1
    return out + [args[start:]]


def _rewrite_calls(sql: str, opener: re.Pattern, build) -> str:
    """Replace every ``opener …)`` call by ``build(args)``, outermost
    first, until none is left (so nested calls are rewritten too)."""
    while m := opener.search(sql):
        end = _scan_to_close(sql, m.end())
        sql = sql[: m.start()] + build(sql[m.end() : end - 1]) + sql[end:]
    return sql


def _string_agg(args: str) -> str:
    """``string_agg(expr, sep [ORDER BY o])`` → ``listagg(expr, sep)
    [WITHIN GROUP (ORDER BY o)]``."""
    expr, *seps = _split_top_commas(args)
    rest = ",".join(seps).strip()
    om = re.search(r"\s+ORDER\s+BY\s+(.+)$", rest, re.IGNORECASE | re.DOTALL)
    if om:
        sep = rest[: om.start()].strip()
        return (
            f"listagg({expr.strip()}, {sep}) WITHIN GROUP "
            f"(ORDER BY {om.group(1).strip()})"
        )
    return f"listagg({expr.strip()}, {rest})"


_JSON_AGG_OPEN = re.compile(r"\bjsonb?_agg\s*\(", re.IGNORECASE)

_FILTER_OPEN = re.compile(r"\s*FILTER\s*\(", re.IGNORECASE)


def _rewrite_json_agg(sql: str) -> str:
    """``json_agg(expr [ORDER BY k [DESC], ...]) [FILTER (WHERE p)]`` →
    Spark's ordered-collect idiom: collect structs carrying the order
    keys, array_sort with a comparator lambda, project the value back
    out, to_json the array. The FILTER clause moves onto collect_list —
    it must attach to the aggregate, not the to_json wrapper. An expr already wrapped in to_json(...) (from the
    json_build_object rewrite running first) is unwrapped so elements
    aggregate as structs, not pre-serialized strings."""
    while True:
        m = _JSON_AGG_OPEN.search(sql)
        if not m:
            return sql
        end = _scan_to_close(sql, m.end())
        args = sql[m.end() : end - 1]
        om = re.search(r"\s+ORDER\s+BY\s+(.+)$", args, re.IGNORECASE | re.DOTALL)
        if om:
            expr, order = args[: om.start()].strip(), om.group(1).strip()
        else:
            expr, order = args.strip(), None
        if (
            expr.lower().startswith("to_json(") and expr.endswith(")")
            and _scan_to_close(expr, len("to_json(")) == len(expr)
        ):
            expr = expr[len("to_json(") : -1]
        filt, tail_start = "", end
        fm = _FILTER_OPEN.match(sql[end:])
        if fm:
            fend = _scan_to_close(sql, end + fm.end())
            filt = " " + sql[end:fend].strip()
            tail_start = fend
        if order:
            fields, cmps = [], []
            for i, key in enumerate(_split_top_commas(order)):
                key = key.strip()
                desc = bool(re.search(r"\s+DESC\s*$", key, re.IGNORECASE))
                key = re.sub(
                    r"\s+(ASC|DESC)\s*$", "", key, flags=re.IGNORECASE
                )
                fields.append(f"'__o{i}', {key}")
                lo, hi = ("1", "-1") if desc else ("-1", "1")
                cmps.append(
                    f"WHEN l.__o{i} < r.__o{i} THEN {lo} "
                    f"WHEN l.__o{i} > r.__o{i} THEN {hi}"
                )
            struct = f"named_struct({', '.join(fields)}, '__v', {expr})"
            comparator = f"(l, r) -> CASE {' '.join(cmps)} ELSE 0 END"
            inner = (
                f"transform(array_sort(collect_list({struct}){filt}, "
                f"{comparator}), s -> s.__v)"
            )
        else:
            inner = f"collect_list({expr}){filt}"
        sql = f"{sql[:m.start()]}to_json({inner}){sql[tail_start:]}"


def _rewrite_distinct_on(sql: str) -> str:
    """``SELECT DISTINCT ON (keys) <list> FROM <rest> [ORDER BY o]`` →
    ranked-window subquery. Postgres picks the first row per key in
    ORDER BY order (arbitrary when absent — wow_2021 sql:67 relies on
    that); we make it deterministic by ordering on the keys themselves
    when no ORDER BY is given (SURVEY §2 D1 discipline)."""
    m = _DISTINCT_ON.search(sql)
    if not m:
        return sql
    keys = m.group(1).strip()
    prefix = sql[: m.start()]  # e.g. "CREATE TABLE t AS " — keep it
    rest = sql[m.end():].rstrip().rstrip(";")
    # split off a trailing top-level ORDER BY if present
    om = re.search(r"\bORDER\s+BY\s+(.+?)$", rest, re.IGNORECASE | re.DOTALL)
    if om:
        order = om.group(1).strip()
        rest = rest[: om.start()].rstrip()
    else:
        order = keys
    # locate the top-level FROM: the window column joins the select list
    fm = re.search(r"\bFROM\b", rest, re.IGNORECASE)
    if not fm:
        return sql  # shape not understood — leave untouched
    select_list = rest[: fm.start()].rstrip().rstrip(",")
    from_part = rest[fm.start():]
    return (
        f"{prefix}SELECT * EXCEPT (__rn) FROM (SELECT {select_list}, "
        f"row_number() OVER (PARTITION BY {keys} ORDER BY {order}) AS __rn "
        f"{from_part}) WHERE __rn = 1"
    )


_VESTIGIAL_USING = re.compile(
    r"(\bFROM\s+[A-Za-z_][\w$.]*\s+)USING\s*\([^)]*\)", re.IGNORECASE
)


def _rewrite_vestigial_using(sql: str) -> str:
    """Drop a ``USING (col)`` that directly follows a single FROM table
    with no JOIN — a vestigial clause the reference's wow_2021 script
    carries (tests/sql/wow_2021_create_bldgs_table.sql:60: the table is
    already the joined view, the USING is dead text). JOIN ... USING is
    untouched (the pattern requires FROM immediately before)."""
    return _VESTIGIAL_USING.sub(lambda m: m.group(1), sql)


def _rewrite_drop_cascade(sql: str) -> str:
    """``DROP TABLE ... CASCADE`` → plain DROP TABLE. Spark has no
    CASCADE at table granularity (SURVEY §2 K2; dependent views are
    re-created by the engine's function/view registry, mirroring the
    reference's re-run-after-swap pattern)."""
    return re.sub(
        r"(?i)(\bDROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?[\w\".]+)\s+CASCADE\b",
        r"\1",
        sql,
    )


#: ``FROM/JOIN <qualified_name>(<args>)`` — a table-function call in a
#: FROM position. The mandatory identifier excludes subqueries
#: ``FROM (SELECT ...)``; non-literal args or unregistered names are
#: left untouched by the rewriter below.
_TABLE_FN_CALL = re.compile(
    r"\b(FROM|JOIN)\s+((?:[A-Za-z_][\w$]*\s*\.\s*)?[A-Za-z_][\w$]*)"
    r"\s*\(([^()]*)\)",
    re.IGNORECASE,
)
#: a signed SQL numeric literal (Python's int()/float() would also
#: take ``inf``, ``nan`` and ``1_000``)
_NUMBER = re.compile(r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?")


def rewrite_table_fn_calls(sql: str, resolve) -> str:
    """Rewrite table-valued function calls in FROM/JOIN position into
    plain table references — the Spark analog of Postgres set-returning
    functions (the reference's users write ``SELECT ... FROM
    wow.get_assoc_addrs_from_bbl('xxx')``, tests/test_wowutil.py:42-44;
    Spark SQL cannot call a driver-side table function, so the engine
    materializes the result as a temp view and substitutes its name).

    ``resolve(name, args) -> str | None`` receives the (possibly
    schema-qualified) function name and the parsed LITERAL argument
    list (strings unquoted, numbers as int/float) and returns the
    replacement view name, or None to leave the call untouched
    (unregistered name — e.g. ``FROM range(10)`` / lateral builtins).
    Calls with non-literal arguments are never rewritten: a correlated
    table-function argument needs a lateral join, which belongs in the
    DataFrame layer."""

    masked = Masked(sql)

    def sub(m: re.Match) -> str:
        kw, name, rawargs = m.group(1), m.group(2), m.group(3)
        name = re.sub(r"\s*\.\s*", ".", name)
        args: list = []
        for a in _split_top_commas(rawargs):
            a = a.strip()
            if not a:
                continue
            if re.fullmatch(LITERAL, a):
                args.append(masked.value(a))
                continue
            if not _NUMBER.fullmatch(a):
                return m.group(0)  # non-literal arg: leave untouched
            args.append(float(a) if any(c in a for c in ".eE") else int(a))
        view = resolve(name, args)
        if view is None:
            return m.group(0)
        return f"{kw} {view}"

    return masked.unmask(_TABLE_FN_CALL.sub(sub, masked.text))


def transpile_pg(sql: str) -> str:
    """Apply all rewrites to the masked statement. Order matters:
    interval-casts before simple casts, DISTINCT ON last (it
    restructures the statement)."""
    masked = Masked(sql)
    out = _rewrite_drop_cascade(masked.text)
    out = _rewrite_vestigial_using(out)
    out = _rewrite_casts(out)
    out = _rewrite_any(out, masked)
    out = _rewrite_regex_ops(out, masked)
    out = _rewrite_calls(out, _STRING_AGG_OPEN, _string_agg)
    out = _rewrite_calls(
        out, _JSON_BUILD, lambda args: f"to_json(named_struct({args}))"
    )
    out = _rewrite_json_agg(out)
    out = _rewrite_distinct_on(out)
    return masked.unmask(out)
