"""Lightweight SQL text utilities: code-region scanning, top-level keyword
search, clause splitting, identifier qualification.

This replaces the reference's byte-offset string surgery
(/root/reference/yardstick-rs/src/sql/measures.rs — nom combinators plus
hand-rolled lexers) with a small reusable scanner.  All functions treat
string literals ('..' with '' escape), double-quoted identifiers,
backquoted identifiers, line comments (--), block comments (/* */) and
dollar-quoted strings ($tag$..$tag$) as opaque.
"""

from __future__ import annotations

import re
from typing import Iterator


class YardstickError(Exception):
    """Engine-level error (re-exported as yardstick_spark.YardstickError)."""

SQL_KEYWORDS = {
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER", "LIMIT",
    "OFFSET", "JOIN", "ON", "AND", "OR", "NOT", "IN", "IS", "NULL", "TRUE",
    "FALSE", "AS", "CASE", "WHEN", "THEN", "ELSE", "END", "LIKE", "ILIKE",
    "BETWEEN", "CAST", "DISTINCT", "ALL", "UNION", "INTERSECT", "EXCEPT",
    "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "CROSS", "USING", "WITH",
    "OVER", "PARTITION", "ROWS", "RANGE", "PRECEDING", "FOLLOWING",
    "UNBOUNDED", "CURRENT", "ROW", "ASC", "DESC", "NULLS", "FIRST", "LAST",
    "EXISTS", "ANY", "SOME", "INTERVAL", "EXTRACT", "FILTER", "WITHIN",
    "ROLLUP", "CUBE", "GROUPING", "SETS", "VALUES", "LIMIT", "QUALIFY",
    "ESCAPE", "COLLATE", "ARRAY", "STRUCT", "MAP", "LATERAL", "SEMI",
    "ANTI", "NATURAL", "TABLESAMPLE", "PIVOT", "UNPIVOT", "WINDOW", "DIV",
}

_IDENT_START = re.compile(r"[A-Za-z_]")
_IDENT_CHAR = re.compile(r"[A-Za-z0-9_$]")


def skip_code_unit(sql: str, i: int) -> int:
    """If sql[i] starts a string/comment/quoted-ident/dollar-quote, return
    the index just past it; otherwise return i (meaning: plain code)."""
    n = len(sql)
    c = sql[i]
    if c == "'":
        j = i + 1
        while j < n:
            if sql[j] == "'":
                if j + 1 < n and sql[j + 1] == "'":
                    j += 2
                    continue
                return j + 1
            j += 1
        return n
    if c == '"':
        j = i + 1
        while j < n:
            if sql[j] == '"':
                if j + 1 < n and sql[j + 1] == '"':
                    j += 2
                    continue
                return j + 1
            j += 1
        return n
    if c == "`":
        j = sql.find("`", i + 1)
        return n if j < 0 else j + 1
    if c == "-" and i + 1 < n and sql[i + 1] == "-":
        j = sql.find("\n", i + 2)
        return n if j < 0 else j + 1
    if c == "/" and i + 1 < n and sql[i + 1] == "*":
        j = sql.find("*/", i + 2)
        return n if j < 0 else j + 2
    if c == "$":
        m = re.match(r"\$[A-Za-z0-9_]*\$", sql[i:])
        if m:
            tag = m.group(0)
            j = sql.find(tag, i + len(tag))
            return n if j < 0 else j + len(tag)
    return i


def iter_code(sql: str, start: int = 0) -> Iterator[tuple[int, str, int]]:
    """Yield (index, char, paren_depth) for characters in plain code regions."""
    i, n, depth = start, len(sql), 0
    while i < n:
        j = skip_code_unit(sql, i)
        if j > i:
            i = j
            continue
        c = sql[i]
        if c == "(":
            yield i, c, depth
            depth += 1
            i += 1
            continue
        if c == ")":
            depth = max(0, depth - 1)
            yield i, c, depth
            i += 1
            continue
        yield i, c, depth
        i += 1


def is_word_boundary(sql: str, start: int, end: int) -> bool:
    before_ok = start == 0 or not _IDENT_CHAR.match(sql[start - 1])
    after_ok = end >= len(sql) or not _IDENT_CHAR.match(sql[end])
    return before_ok and after_ok


def find_top_level_keyword(sql: str, keyword: str, start: int = 0) -> int | None:
    """Find a (possibly multi-word) keyword at paren depth 0 outside
    strings/comments, starting at `start`.  Returns its index or None.
    Multi-word keywords match with arbitrary whitespace between words."""
    words = keyword.upper().split()
    first = words[0]
    upper = sql.uppercase_cache if hasattr(sql, "uppercase_cache") else sql.upper()
    for i, c, depth in iter_code(sql, start):
        if depth != 0:
            continue
        if upper.startswith(first, i) and is_word_boundary(sql, i, i + len(first)):
            pos = i + len(first)
            ok = True
            for w in words[1:]:
                while pos < len(sql) and sql[pos].isspace():
                    pos += 1
                if upper.startswith(w, pos) and is_word_boundary(sql, pos, pos + len(w)):
                    pos += len(w)
                else:
                    ok = False
                    break
            if ok:
                return i
    return None


def find_first_top_level_keyword(
    sql: str, start: int, keywords: list[str]
) -> tuple[int, str] | None:
    best: tuple[int, str] | None = None
    for kw in keywords:
        pos = find_top_level_keyword(sql, kw, start)
        if pos is not None and (best is None or pos < best[0]):
            best = (pos, kw)
    return best


def split_top_level(sql: str, sep: str = ",") -> list[str]:
    """Split on `sep` at paren depth 0 outside strings/comments."""
    parts: list[str] = []
    last = 0
    for i, c, depth in iter_code(sql):
        if depth == 0 and c == sep:
            parts.append(sql[last:i])
            last = i + 1
    parts.append(sql[last:])
    return parts


def find_matching_paren(sql: str, open_pos: int) -> int | None:
    """Given index of '(', return index of its matching ')'."""
    assert sql[open_pos] == "("
    level = 0
    i = open_pos
    n = len(sql)
    while i < n:
        j = skip_code_unit(sql, i)
        if j > i:
            i = j
            continue
        if sql[i] == "(":
            level += 1
        elif sql[i] == ")":
            level -= 1
            if level == 0:
                return i
        i += 1
    return None


def iter_identifiers(sql: str) -> Iterator[tuple[int, int, str]]:
    """Yield (start, end, text) for bare identifiers in code regions.
    Skips quoted identifiers and string contents."""
    i, n = 0, len(sql)
    while i < n:
        j = skip_code_unit(sql, i)
        if j > i:
            i = j
            continue
        c = sql[i]
        if _IDENT_START.match(c):
            start = i
            i += 1
            while i < n and _IDENT_CHAR.match(sql[i]):
                i += 1
            yield start, i, sql[start:i]
            continue
        i += 1


def next_nonspace(sql: str, i: int) -> int:
    n = len(sql)
    while i < n:
        if sql[i].isspace():
            i += 1
            continue
        j = skip_code_unit(sql, i)
        # comments are "space"; strings are not
        if j > i and sql[i] in "-/" :
            i = j
            continue
        return i
    return n


def prev_nonspace(sql: str, i: int) -> int:
    """Index of last non-space char before i, or -1."""
    i -= 1
    while i >= 0 and sql[i].isspace():
        i -= 1
    return i


def strip_qualifiers(expr: str, qualifiers: set[str] | None = None) -> str:
    """Remove `q.` prefixes from qualified column refs.  If `qualifiers`
    given, only strip those (case-insensitive); else strip any single-level
    qualifier.  Mirrors strip_at_where_qualifiers (measures.rs:3800-3861)."""
    quals = {q.lower() for q in qualifiers} if qualifiers else None
    out: list[str] = []
    last = 0
    n = len(expr)
    for start, end, text in iter_identifiers(expr):
        p = prev_nonspace(expr, start)
        if p >= 0 and expr[p] == ".":
            continue  # this token is the column part; handled via qualifier token
        k = end
        while k < n and expr[k].isspace():
            k += 1
        if k < n and expr[k] == ".":
            # token is a qualifier
            m = next_nonspace(expr, k + 1)
            if m < n and (_IDENT_START.match(expr[m]) or expr[m] == '"'):
                if quals is None or text.lower() in quals:
                    out.append(expr[last:start])
                    last = m  # drop "qual." keep column
    out.append(expr[last:])
    return "".join(out)


def replace_identifiers(expr: str, mapping: dict[str, str]) -> str:
    """Replace bare identifier tokens (not function names, not qualified)
    per `mapping` (keys lowercase)."""
    out: list[str] = []
    last = 0
    for start, end, text in iter_identifiers(expr):
        repl = mapping.get(text.lower())
        if repl is None:
            continue
        k = next_nonspace(expr, end)
        is_func = k < len(expr) and expr[k] == "("
        p = prev_nonspace(expr, start)
        already_qualified = (p >= 0 and expr[p] == ".") or (
            k < len(expr) and expr[k] == "."
        )
        if is_func or already_qualified or text.upper() in SQL_KEYWORDS:
            continue
        out.append(expr[last:start])
        out.append(repl)
        last = end
    out.append(expr[last:])
    return "".join(out)


def normalize_ws(s: str) -> str:
    return " ".join(s.split())


def normalize_dim_key(col: str) -> str:
    """Normalized key for dimension comparison — lowercase, ws-collapsed;
    simple refs reduce to their last path component
    (reference: normalize_group_by_col, measures.rs:2719-2742)."""
    t = col.strip().strip('"')
    if "(" in t:
        return normalize_ws(t).lower()
    return t.split(".")[-1].strip().strip('"').lower()


def convert_dollar_quotes(sql: str) -> str:
    """DuckDB dollar-quoted strings ($tag$..$tag$) -> standard quoted."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "$":
            m = re.match(r"\$[A-Za-z0-9_]*\$", sql[i:])
            if m:
                tag = m.group(0)
                j = sql.find(tag, i + len(tag))
                if j >= 0:
                    body = sql[i + len(tag): j]
                    out.append("'" + body.replace("'", "''") + "'")
                    i = j + len(tag)
                    continue
        j = skip_code_unit(sql, i)
        if j > i:
            out.append(sql[i:j])
            i = j
            continue
        out.append(c)
        i += 1
    return "".join(out)


def strip_comments(sql: str) -> str:
    """Remove -- and /* */ comments (string-safe); collapse to a space so
    token boundaries survive.  Used on extracted expressions (dims, select
    items) that may carry trailing inline comments into generated SQL."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "-" and i + 1 < n and sql[i + 1] == "-":
            j = sql.find("\n", i + 2)
            out.append(" ")
            i = n if j < 0 else j + 1
            continue
        if c == "/" and i + 1 < n and sql[i + 1] == "*":
            j = sql.find("*/", i + 2)
            out.append(" ")
            i = n if j < 0 else j + 2
            continue
        j = skip_code_unit(sql, i)
        if j > i:
            out.append(sql[i:j])
            i = j
            continue
        out.append(c)
        i += 1
    return "".join(out).strip()


def strip_leading_comments(sql: str) -> str:
    """Drop leading whitespace/comments so statement classification sees
    the first code token."""
    i, n = 0, len(sql)
    while i < n:
        if sql[i].isspace():
            i += 1
            continue
        if sql[i] == "-" and i + 1 < n and sql[i + 1] == "-":
            j = sql.find("\n", i + 2)
            i = n if j < 0 else j + 1
            continue
        if sql[i] == "/" and i + 1 < n and sql[i + 1] == "*":
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
            continue
        break
    return sql[i:]


def unquote_ident(name: str) -> str:
    t = name.strip()
    for q in ('"', "`"):
        if len(t) >= 2 and t.startswith(q) and t.endswith(q):
            return t[1:-1].replace(q + q, q)
    return t
