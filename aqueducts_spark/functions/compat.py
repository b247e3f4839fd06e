"""DataFusion SQL dialect compatibility layer.

The reference delegates every stage query to DataFusion SQL
(aqueducts/core/src/stages/mod.rs:58), so pipelines written against it
use DataFusion function names. Spark SQL is a near-superset but some
names differ (SURVEY §2.B). This module closes the gap two ways, so
reference pipelines run unmodified:

1. :func:`register_compat_functions` — **SQL UDFs** (``CREATE OR
   REPLACE TEMPORARY FUNCTION ... RETURN <expr>``) for functions whose
   signature is fixed. These inline into the Catalyst plan at analysis
   time (verified: the optimized plan shows the expanded expression
   inside WholeStageCodegen — zero runtime overhead, unlike Python
   UDFs).
2. :func:`translate_sql` — a token-aware rename for functions that are
   1:1 with a Spark builtin but generic/variadic (so a typed SQL UDF
   cannot express them), plus the ``->``/``->>`` JSON operators from
   ``datafusion-functions-json`` (custom_udfs.rs:60-70). String
   literals, quoted identifiers, and comments are never touched.

Opt-in: set ``sql_dialect: datafusion`` on the pipeline to translate
every stage query; the SQL UDFs are always registered (additive names,
no Spark builtin is shadowed).

Known approximations (documented, not silent):

* ``approx_median(x)`` -> exact ``median(x)`` (Spark's approx form
  needs a second argument; exact is a superset of approx semantics).
* ``regexp_match`` returns the full first match as a 1-element array
  (DataFusion returns match-or-groups; group form differs).
* ``date_bin`` stride resolution is whole seconds (Spark casts a
  DAY-TO-SECOND interval to its seconds value).
* ``a -> 'k'`` maps to ``json_as_text`` like ``->>`` (Spark has no
  JSON union type; chained access still works because object results
  serialize to compact JSON text).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import SparkSession

from ..session import once_per_session

# --- 1. fixed-signature functions as inlined SQL UDFs ---------------------

_SQL_UDFS: dict[str, str] = {
    # DataFusion strpos(string, substring) -> 1-based position, 0 if absent
    "strpos": (
        "CREATE OR REPLACE TEMPORARY FUNCTION strpos(s STRING, sub STRING) "
        "RETURNS INT RETURN instr(s, sub)"
    ),
    # DataFusion to_hex(int) -> lowercase hex string
    "to_hex": (
        "CREATE OR REPLACE TEMPORARY FUNCTION to_hex(n BIGINT) "
        "RETURNS STRING RETURN lower(hex(n))"
    ),
    # DataFusion date_bin(stride, source, origin): origin-aligned bucket.
    # CAST(interval AS BIGINT) yields whole seconds for DAY TO SECOND.
    # FLOOR division, not `div`: div truncates toward zero, so a src
    # EARLIER than the origin would bin one stride too late (DataFusion
    # floors).  floor(a/b) for b>0 == a div b - (1 if a % b != 0 and
    # a < 0) in exact integer arithmetic.
    "date_bin": (
        "CREATE OR REPLACE TEMPORARY FUNCTION date_bin("
        "stride INTERVAL DAY TO SECOND, src TIMESTAMP, origin TIMESTAMP) "
        "RETURNS TIMESTAMP RETURN timestamp_micros("
        "unix_micros(origin) + "
        "(((unix_micros(src) - unix_micros(origin)) div (CAST(stride AS BIGINT) * 1000000))"
        " - (CASE WHEN (unix_micros(src) - unix_micros(origin)) < 0"
        " AND (unix_micros(src) - unix_micros(origin)) % (CAST(stride AS BIGINT) * 1000000) != 0"
        " THEN 1 ELSE 0 END))"
        " * (CAST(stride AS BIGINT) * 1000000))"
    ),
    "to_timestamp_seconds": (
        "CREATE OR REPLACE TEMPORARY FUNCTION to_timestamp_seconds(n BIGINT) "
        "RETURNS TIMESTAMP RETURN timestamp_seconds(n)"
    ),
    "to_timestamp_millis": (
        "CREATE OR REPLACE TEMPORARY FUNCTION to_timestamp_millis(n BIGINT) "
        "RETURNS TIMESTAMP RETURN timestamp_millis(n)"
    ),
    "to_timestamp_micros": (
        "CREATE OR REPLACE TEMPORARY FUNCTION to_timestamp_micros(n BIGINT) "
        "RETURNS TIMESTAMP RETURN timestamp_micros(n)"
    ),
    # DataFusion to_unixtime(ts) -> seconds since epoch
    "to_unixtime": (
        "CREATE OR REPLACE TEMPORARY FUNCTION to_unixtime(t TIMESTAMP) "
        "RETURNS BIGINT RETURN unix_micros(t) div 1000000"
    ),
    "today": (
        "CREATE OR REPLACE TEMPORARY FUNCTION today() RETURNS DATE RETURN current_date()"
    ),
    # DataFusion to_char(ts, chrono-format): translate the common chrono
    # specifiers to Java pattern letters inside the expression (stays in
    # codegen; replace() chain constant-folds for literal formats).
    # Spark 4 has a builtin `to_char` (numeric formatting) that SQL UDFs
    # cannot shadow, so this registers as df_to_char; the dialect
    # translator renames to_char -> df_to_char.
    # Literal-safe translation: in chrono every non-% character is a
    # LITERAL, but Java patterns treat bare letters as pattern letters
    # ('%Y-%m-%dT%H' would die on the unquoted ISO 'T').  So: wrap the
    # whole format in quotes (all literal), and each specifier
    # replacement closes/reopens the quote around its pattern letters;
    # collapsing the resulting '' pairs merges adjacent sections.
    # (Known approximation: a literal ' in the format is unsupported.)
    "df_to_char": (
        "CREATE OR REPLACE TEMPORARY FUNCTION df_to_char(t TIMESTAMP, fmt STRING) "
        "RETURNS STRING RETURN IF("
        # any % left after removing the supported specifiers is an
        # unsupported chrono directive (%b, %%, ...): raise instead of
        # silently rendering it as literal text
        "contains(replace(replace(replace(replace(replace(replace(fmt,"
        "'%Y',''),'%m',''),'%d',''),'%H',''),'%M',''),'%S',''), '%'), "
        "raise_error(concat('df_to_char: unsupported chrono specifier in "
        "format ', fmt, ' (supported: %Y %m %d %H %M %S)')), "
        "date_format(t, "
        "replace(concat('''', "
        "replace(replace(replace(replace(replace(replace(fmt,"
        "'%Y','''yyyy'''),'%m','''MM'''),'%d','''dd'''),"
        "'%H','''HH'''),'%M','''mm'''),'%S','''ss'''),"
        " ''''), '''''', '')))"
    ),
    # DataFusion regexp_match(s, p): first full match as array (approx)
    "regexp_match": (
        "CREATE OR REPLACE TEMPORARY FUNCTION regexp_match(s STRING, p STRING) "
        "RETURNS ARRAY<STRING> RETURN "
        "CASE WHEN s RLIKE p THEN array(regexp_extract(s, p, 0)) END"
    ),
    # DataFusion gcd/lcm (Spark has no builtins). Euclid's algorithm as
    # a bounded fold: 92 iterations covers the 64-bit worst case
    # (consecutive Fibonacci numbers); each step is IF(y=0, fixpoint,
    # (y, x mod y)). Inlines into codegen like every SQL UDF here.
    "gcd": (
        "CREATE OR REPLACE TEMPORARY FUNCTION gcd(a BIGINT, b BIGINT) "
        "RETURNS BIGINT RETURN aggregate(sequence(1, 92), "
        "named_struct('x', abs(a), 'y', abs(b)), "
        "(s, i) -> IF(s.y = 0, s, named_struct('x', s.y, 'y', s.x % s.y)), "
        "s -> s.x)"
    ),
    "lcm": (
        "CREATE OR REPLACE TEMPORARY FUNCTION lcm(a BIGINT, b BIGINT) "
        "RETURNS BIGINT RETURN CASE WHEN a = 0 OR b = 0 THEN 0 ELSE "
        "abs((a div aggregate(sequence(1, 92), "
        "named_struct('x', abs(a), 'y', abs(b)), "
        "(s, i) -> IF(s.y = 0, s, named_struct('x', s.y, 'y', s.x % s.y)), "
        "s -> s.x)) * b) END"
    ),
}


@once_per_session
def register_compat_functions(spark: SparkSession) -> None:
    """Register the DataFusion-name SQL UDFs on this session, once per
    JVM session (``once_per_session``): a later call on the same session
    does nothing, so a pack function that user or stage SQL redefines or
    drops afterwards stays that way on that session.

    Every definition is a pure SQL expression (CREATE OR REPLACE), so
    Catalyst inlines it — no Python round-trip.
    """
    for ddl in _SQL_UDFS.values():
        spark.sql(ddl)


# --- 2. token-aware renames for generic/variadic functions ----------------

# DataFusion name -> Spark builtin with identical argument shape.
FUNCTION_RENAMES: dict[str, str] = {
    "arrow_typeof": "typeof",
    "approx_distinct": "approx_count_distinct",
    "approx_percentile_cont": "percentile_approx",
    "approx_median": "median",  # exact superset (documented)
    "make_array": "array",
    "array_length": "array_size",
    "array_has": "array_contains",
    "array_element": "element_at",
    "list_element": "element_at",
    "array_cat": "concat",
    "array_concat": "concat",
    "list_append": "array_append",
    "list_prepend": "array_prepend",
    "array_push_back": "array_append",
    "array_push_front": "array_prepend",
    "list_distinct": "array_distinct",
    "list_sort": "array_sort",
    "list_contains": "array_contains",
    "ends_with": "endswith",
    "starts_with": "startswith",
    "to_char": "df_to_char",  # timestamp formatting (see _SQL_UDFS)
}

_IDENT_CHARS = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_")


def _scan_regions(sql: str):
    """Yield (start, end, is_code) spans, separating string literals,
    quoted identifiers, and comments from translatable code."""
    i, n, start = 0, len(sql), 0
    while i < n:
        ch = sql[i]
        if ch == "'" or ch == '"' or ch == "`":
            if start < i:
                yield (start, i, True)
            quote, j = ch, i + 1
            while j < n:
                if sql[j] == quote:
                    if j + 1 < n and sql[j + 1] == quote:  # doubled escape
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            else:
                j = n
            yield (i, j, False)
            i = start = j
        elif ch == "-" and i + 1 < n and sql[i + 1] == "-":
            # line comment: '--' always starts one (SQL/DataFusion
            # lexing) — the JSON operators are '->'/'->>', never '-->',
            # so no special case; treating '-->…' as code used to let a
            # quote inside the comment desynchronize literal detection
            # for the rest of the query
            if start < i:
                yield (start, i, True)
            j = sql.find("\n", i)
            j = n if j == -1 else j + 1
            yield (i, j, False)
            i = start = j
        elif ch == "/" and i + 1 < n and sql[i + 1] == "*":
            if start < i:
                yield (start, i, True)
            j = sql.find("*/", i + 2)
            j = n if j == -1 else j + 2
            yield (i, j, False)
            i = start = j
        else:
            i += 1
    if start < n:
        yield (start, n, True)


def _rename_functions(code: str) -> str:
    """Rename known function-call identifiers in a code (non-literal)
    region. Only UNQUALIFIED identifiers followed by '(' are touched:
    a leading '.' means a catalog/udf-qualified name that happens to
    collide with a DataFusion builtin, which must pass through."""
    out = []
    i, n = 0, len(code)
    while i < n:
        ch = code[i]
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and code[j] in _IDENT_CHARS:
                j += 1
            ident = code[i:j]
            k = j
            while k < n and code[k] in " \t\r\n":
                k += 1
            lowered = ident.lower()
            qualified = i > 0 and code[i - 1] == "."
            if (
                k < n
                and code[k] == "("
                and lowered in FUNCTION_RENAMES
                and not qualified
            ):
                out.append(FUNCTION_RENAMES[lowered])
            else:
                out.append(ident)
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out)


# `expr ->> 'key'` / `expr -> 'key'` / `expr -> 0`.  NOTE: in the
# DataFusion dialect `->` is ALWAYS the JSON operator — DataFusion SQL
# has no `->` lambda syntax, so a datafusion-dialect query can never
# contain Spark higher-order-function lambdas (write those stages in
# the default Spark dialect instead).
_JSON_KEY = _re.compile(r"'(?:[^']|'')*'|\d+")

# bare keywords that can END an expression but are useless as a
# backward-scanned operand (the scan would mis-capture just the word)
_LHS_KEYWORDS = frozenset(
    ("end", "else", "then", "when", "case", "and", "or", "not", "in",
     "is", "null", "true", "false", "between", "like")
)


def _code_mask(sql: str) -> list[bool]:
    mask = [False] * len(sql)
    for start, end, is_code in _scan_regions(sql):
        if is_code:
            for i in range(start, end):
                mask[i] = True
    return mask


def _find_lhs_start(sql: str, mask: list[bool], op_idx: int) -> int | None:
    """Start index of the operator's left operand: a dotted identifier
    chain, or a balanced-paren call / parenthesized expression (with
    its function-name prefix, if any).  Returns None when no usable
    operand precedes the operator."""
    k = op_idx - 1
    while k >= 0 and sql[k] in " \t\r\n":
        k -= 1
    if k < 0:
        return None
    if sql[k] in ("'", '"'):
        # string-literal or (DataFusion-style) double-quoted-identifier
        # operand: the operand is the whole quoted region
        for start, end, is_code in _scan_regions(sql):
            if not is_code and start <= k < end:
                return start
        return None
    if sql[k] == ")":
        depth, p = 0, k
        while p >= 0:
            if mask[p] and sql[p] == ")":
                depth += 1
            elif mask[p] and sql[p] == "(":
                depth -= 1
                if depth == 0:
                    break
            p -= 1
        if depth != 0:
            return None
        q = p - 1
        while q >= 0 and (sql[q] in _IDENT_CHARS or sql[q] == "."):
            q -= 1
        return q + 1
    q = k
    while q >= 0 and (sql[q] in _IDENT_CHARS or sql[q] == "."):
        q -= 1
    if q >= k:
        return None
    if sql[q + 1] == "." and q >= 0 and sql[q] == ")":
        # field access on a parenthesized expression: `(expr).b ->` —
        # the operand includes the paren group (and any call prefix)
        depth, p = 0, q
        while p >= 0:
            if mask[p] and sql[p] == ")":
                depth += 1
            elif mask[p] and sql[p] == "(":
                depth -= 1
                if depth == 0:
                    break
            p -= 1
        if depth != 0:
            return None
        r = p - 1
        while r >= 0 and (sql[r] in _IDENT_CHARS or sql[r] == "."):
            r -= 1
        return r + 1
    return q + 1


def _rewrite_json_ops(sql: str) -> str:
    """Collapse JSON-access chains of ANY depth left-to-right: the lhs
    is matched by balanced-paren scanning, not a bounded-nesting regex
    (a regex capped at one nesting level broke chains of depth >= 4)."""
    pos = 0
    while True:
        mask = _code_mask(sql)
        n = len(sql)
        idx = None
        i = pos
        while i < n - 1:
            if mask[i] and sql[i] == "-" and sql[i + 1] == ">":
                idx = i
                break
            i += 1
        if idx is None:
            return sql
        op_len = 3 if sql[idx : idx + 3] == "->>" else 2
        j = idx + op_len
        while j < n and sql[j] in " \t\r\n":
            j += 1
        key_m = _JSON_KEY.match(sql, j)
        lhs_start = _find_lhs_start(sql, mask, idx)
        if key_m is None or lhs_start is None:
            pos = idx + op_len  # not a JSON access — leave it and move on
            continue
        lhs = sql[lhs_start:idx].rstrip()
        if lhs.lower() in _LHS_KEYWORDS:
            # 'CASE ... END -> key': the backward identifier scan can
            # only capture the trailing keyword — emitting
            # json_as_text(END, ...) would be garbage SQL with a
            # misleading parse error
            raise ValueError(
                f"cannot translate JSON operator after bare keyword "
                f"{lhs!r}: parenthesize the operand, e.g. "
                f"(CASE ... END) -> 'key'"
            )
        if lhs.startswith('"') and lhs.endswith('"') and len(lhs) >= 2:
            # DataFusion double-quoted identifier -> Spark backticks
            # (Spark reads double quotes as a string literal by default)
            inner = lhs[1:-1].replace('""', '"')
            lhs = "`" + inner.replace("`", "``") + "`"
        sql = (
            sql[:lhs_start]
            + f"json_as_text({lhs}, {key_m.group(0)})"
            + sql[key_m.end():]
        )
        pos = lhs_start  # a chain's next '->' now follows the rewrite


def _strip_comments(sql: str) -> str:
    """Replace comments with whitespace (strings untouched): a comment
    between a function name and its '(' — or between an operand and
    '->' — otherwise splits the scan regions and silently defeats
    translation."""
    parts = []
    for start, end, _is_code in _scan_regions(sql):
        chunk = sql[start:end]
        if chunk.startswith("--") or chunk.startswith("/*"):
            chunk = "\n" if chunk.endswith("\n") else " "
        parts.append(chunk)
    return "".join(parts)


def translate_sql(sql: str) -> str:
    """Translate a DataFusion-dialect query to Spark SQL.

    Renames + JSON-operator rewrite on code regions only; string
    literals and quoted identifiers pass through verbatim (comments are
    replaced with whitespace — they are semantically inert, and keeping
    them defeated translation across comment boundaries).
    """
    sql = _strip_comments(sql)
    parts = []
    for start, end, is_code in _scan_regions(sql):
        chunk = sql[start:end]
        if is_code:
            chunk = _rename_functions(chunk)
        parts.append(chunk)
    return _rewrite_json_ops("".join(parts))
