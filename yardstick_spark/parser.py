"""Top-level SELECT structure extraction.

Replaces the reference's DuckDB-parser FFI
(/root/reference/src/yardstick_parser_ffi.cpp:1314-1434 parse_select) with a
clause splitter built on sqlutil's code-region scanner.  We only need the
*shape* of the query (item ranges, FROM tables, WHERE/GROUP BY/HAVING
boundaries) — the rewritten SQL is handed to Spark's real parser.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .sqlutil import (
    find_first_top_level_keyword,
    find_matching_paren,
    find_top_level_keyword,
    is_word_boundary,
    iter_identifiers,
    next_nonspace,
    prev_nonspace,
    skip_code_unit,
    split_top_level,
    normalize_dim_key,
    unquote_ident,
)

TAIL_KEYWORDS = ["GROUP BY", "HAVING", "QUALIFY", "WINDOW", "ORDER BY", "LIMIT", "OFFSET"]
SETOP_KEYWORDS = ["UNION", "INTERSECT", "EXCEPT"]

KNOWN_AGGREGATES = {
    # reference known-aggregate list (measures.rs:7816-7847) + Spark natives
    "count", "sum", "avg", "min", "max", "any_value", "string_agg", "listagg",
    "array_agg", "list", "collect_list", "collect_set", "first", "last",
    "first_value", "last_value", "median", "mode", "stddev", "stddev_pop",
    "stddev_samp", "var_pop", "var_samp", "variance", "quantile",
    "quantile_cont", "quantile_disc", "percentile", "percentile_approx",
    "percentile_cont", "percentile_disc", "bool_and", "bool_or", "bit_and",
    "bit_or", "bit_xor", "approx_count_distinct", "corr", "covar_pop",
    "covar_samp", "skewness", "kurtosis", "aggregate_m", "product",
    "count_if", "count_distinct", "sum_distinct", "every", "some", "any",
    "max_by", "min_by", "bitmap_count", "try_sum", "try_avg", "regr_avgx",
    "regr_avgy", "regr_count", "regr_r2", "regr_slope", "regr_intercept",
    "grouping", "grouping_id", "histogram_numeric", "hll_sketch_agg",
}


@dataclass
class SelectItem:
    start: int
    end: int
    text: str
    expr: str
    alias: str | None
    is_star: bool = False
    is_aggregate: bool = False
    is_literal: bool = False
    has_aggregate_call: bool = False  # contains AGGREGATE( measure-fn


@dataclass
class TableRef:
    name: str  # unqualified table/view name
    alias: str | None
    qualifier: str | None = None  # schema qualifier, e.g. "main"

    @property
    def effective(self) -> str:
        return self.alias or self.name


@dataclass
class SelectInfo:
    sql: str
    select_pos: int = 0
    items: list[SelectItem] = field(default_factory=list)
    from_start: int | None = None  # index of FROM keyword
    from_end: int | None = None  # index past the from clause
    tables: list[TableRef] = field(default_factory=list)
    where: str | None = None
    where_start: int | None = None
    where_end: int | None = None
    group_by: str | None = None
    group_by_start: int | None = None
    group_by_end: int | None = None
    having: str | None = None
    order_by: str | None = None
    tail_start: int | None = None  # first tail clause after FROM/WHERE
    distinct: bool = False

    @property
    def primary_table(self) -> TableRef | None:
        return self.tables[0] if self.tables else None



_AGG_RE = re.compile(r"\bAGGREGATE\s*\(", re.IGNORECASE)
_NUMBER_RE = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")


def is_literal_constant(expr: str) -> bool:
    e = expr.strip()
    if not e:
        return False
    if _NUMBER_RE.match(e):
        return True
    if e.startswith("'") and e.endswith("'"):
        return True
    if e.upper() in ("NULL", "TRUE", "FALSE"):
        return True
    if re.match(r"^(DATE|TIMESTAMP|INTERVAL)\s+'[^']*'$", e, re.IGNORECASE):
        return True
    return False


def contains_aggregate_fn(expr: str, extra: set[str] | None = None) -> bool:
    """True if expr contains a call to a known aggregate function at any
    depth, excluding inside OVER(...) windows (a window fn is not a group
    aggregate for dimension classification — reference treats window items
    as aggregates though, see is_aggregate flag use)."""
    for start, end, text in iter_identifiers(expr):
        k = next_nonspace(expr, end)
        if k < len(expr) and expr[k] == "(":
            low = text.lower()
            if low in KNOWN_AGGREGATES or (extra and low in extra):
                return True
    return False


def has_window_over(expr: str) -> bool:
    """Detect `) OVER (` / `) OVER name` (measures.rs:3010-3126)."""
    upper = expr.upper()
    i = 0
    n = len(expr)
    while i < n:
        j = skip_code_unit(expr, i)
        if j > i:
            i = j
            continue
        if expr[i] == ")":
            k = next_nonspace(expr, i + 1)
            if upper.startswith("OVER", k) and is_word_boundary(expr, k, k + 4):
                m = next_nonspace(expr, k + 4)
                if m < n and (expr[m] == "(" or expr[m].isalpha() or expr[m] == "_"):
                    return True
        i += 1
    return False


def split_expr_alias(item: str) -> tuple[str, str | None]:
    pos = find_top_level_keyword(item, "AS", 0)
    if pos is not None:
        return item[:pos].rstrip(), item[pos + 2 :].strip()
    # implicit alias: `expr ident` where expr doesn't end with an operator
    stripped = item.rstrip()
    m = re.search(r'([A-Za-z_][A-Za-z0-9_]*|"[^"]+")\s*$', stripped)
    if m and m.start() > 0:
        candidate = stripped[m.start():]
        before = prev_nonspace(stripped, m.start())
        if before >= 0 and (stripped[before].isalnum() or stripped[before] in ")'\"_]"):
            from .sqlutil import SQL_KEYWORDS

            tok = candidate.strip()
            if (
                tok.upper() not in SQL_KEYWORDS
                and not tok.startswith("'")
                and stripped[before] != "."
                and " " in stripped[: m.start()].strip() + " "
                and _looks_like_expr_end(stripped[: m.start()])
            ):
                return stripped[: m.start()].rstrip(), tok
    return stripped, None


def _looks_like_expr_end(expr: str) -> bool:
    e = expr.rstrip()
    if not e:
        return False
    return e[-1] not in "+-*/%<>=|&,(" and not e.upper().endswith(
        ("AND", "OR", "NOT", "WHEN", "THEN", "ELSE", "CASE", "IN", "LIKE", "IS")
    )


def parse_select(sql: str, extra_aggs: set[str] | None = None) -> SelectInfo | None:
    """Split one SELECT statement (no leading WITH) into clause ranges."""
    info = SelectInfo(sql=sql)
    sel = find_top_level_keyword(sql, "SELECT", 0)
    if sel is None:
        return None
    info.select_pos = sel
    items_start = sel + len("SELECT")
    k = next_nonspace(sql, items_start)
    if sql.upper().startswith("DISTINCT", k) and is_word_boundary(sql, k, k + 8):
        info.distinct = True
        items_start = k + 8
    from_pos = find_top_level_keyword(sql, "FROM", items_start)
    if from_pos is None:
        # SELECT without FROM
        tail = find_first_top_level_keyword(sql, items_start, TAIL_KEYWORDS)
        items_end = tail[0] if tail else len(sql)
        _parse_items(info, sql, items_start, items_end, extra_aggs)
        return info
    info.from_start = from_pos
    _parse_items(info, sql, items_start, from_pos, extra_aggs)

    after_from = from_pos + 4
    stop = find_first_top_level_keyword(
        sql, after_from, ["WHERE"] + TAIL_KEYWORDS + SETOP_KEYWORDS
    )
    from_end = stop[0] if stop else len(sql)
    info.from_end = from_end
    _parse_from_tables(info, sql[after_from:from_end])

    where_pos = find_top_level_keyword(sql, "WHERE", after_from)
    if where_pos is not None:
        wstart = where_pos + 5
        wstop = find_first_top_level_keyword(
            sql, wstart, TAIL_KEYWORDS + SETOP_KEYWORDS
        )
        wend = wstop[0] if wstop else len(sql)
        info.where = sql[wstart:wend].strip().rstrip(";").strip()
        info.where_start, info.where_end = where_pos, wend

    gb_pos = find_top_level_keyword(sql, "GROUP BY", after_from)
    if gb_pos is not None:
        gstart = gb_pos + len("GROUP")
        gstart = find_top_level_keyword(sql, "BY", gstart) + 2  # type: ignore[operator]
        gstop = find_first_top_level_keyword(
            sql, gstart, ["HAVING", "QUALIFY", "WINDOW", "ORDER BY", "LIMIT", "OFFSET"]
            + SETOP_KEYWORDS,
        )
        gend = gstop[0] if gstop else len(sql)
        info.group_by = sql[gstart:gend].strip().rstrip(";").strip()
        info.group_by_start, info.group_by_end = gb_pos, gend

    hv_pos = find_top_level_keyword(sql, "HAVING", after_from)
    if hv_pos is not None:
        hstart = hv_pos + 6
        hstop = find_first_top_level_keyword(
            sql, hstart, ["QUALIFY", "WINDOW", "ORDER BY", "LIMIT", "OFFSET"] + SETOP_KEYWORDS
        )
        hend = hstop[0] if hstop else len(sql)
        info.having = sql[hstart:hend].strip().rstrip(";").strip()

    ob_pos = find_top_level_keyword(sql, "ORDER BY", after_from)
    if ob_pos is not None:
        ostart = find_top_level_keyword(sql, "BY", ob_pos) + 2  # type: ignore[operator]
        ostop = find_first_top_level_keyword(sql, ostart, ["LIMIT", "OFFSET"] + SETOP_KEYWORDS)
        oend = ostop[0] if ostop else len(sql)
        info.order_by = sql[ostart:oend].strip().rstrip(";").strip()

    tail = find_first_top_level_keyword(sql, after_from, TAIL_KEYWORDS)
    info.tail_start = tail[0] if tail else None
    return info


def _parse_items(
    info: SelectInfo, sql: str, start: int, end: int, extra_aggs: set[str] | None
) -> None:
    seg = sql[start:end]
    offset = start
    last = 0
    ranges: list[tuple[int, int]] = []
    from .sqlutil import iter_code

    for i, c, depth in iter_code(seg):
        if depth == 0 and c == ",":
            ranges.append((last, i))
            last = i + 1
    ranges.append((last, len(seg)))
    for s, e in ranges:
        text = seg[s:e]
        if not text.strip():
            continue
        expr, alias = split_expr_alias(text.strip())
        item = SelectItem(
            start=offset + s,
            end=offset + e,
            text=text,
            expr=expr.strip(),
            alias=unquote_ident(alias) if alias else None,
        )
        stripped = expr.strip()
        item.is_star = stripped == "*" or stripped.endswith(".*")
        item.is_literal = is_literal_constant(stripped)
        item.has_aggregate_call = bool(_AGG_RE.search(stripped))
        item.is_aggregate = (
            contains_aggregate_fn(stripped, extra_aggs) or has_window_over(stripped)
        ) and not item.has_aggregate_call
        info.items.append(item)


_JOIN_RE = re.compile(
    r"\b(LEFT|RIGHT|FULL|INNER|CROSS|OUTER|SEMI|ANTI|NATURAL)?\s*"
    r"(LEFT|RIGHT|FULL|INNER|CROSS|OUTER|SEMI|ANTI)?\s*JOIN\b",
    re.IGNORECASE,
)


def _parse_from_tables(info: SelectInfo, from_clause: str) -> None:
    """Extract table refs from a FROM clause: comma list + JOINs.
    Subqueries get name '' with their alias."""
    # split on top-level commas first
    for part in split_top_level(from_clause):
        _parse_join_chain(info, part)


def _parse_join_chain(info: SelectInfo, text: str) -> None:
    # find JOIN keywords at top level; segments between them are table refs
    bounds: list[int] = [0]
    from .sqlutil import iter_code

    upper = text.upper()
    positions: list[tuple[int, int]] = []  # (join_kw_start, table_start)
    for i, c, depth in iter_code(text):
        if depth == 0 and upper.startswith("JOIN", i) and is_word_boundary(text, i, i + 4):
            positions.append((i, i + 4))
    segs: list[str] = []
    prev = 0
    for kw_start, after in positions:
        segs.append(text[prev:kw_start])
        prev = after
    segs.append(text[prev:])
    for seg in segs:
        # strip join-type prefixes and ON/USING suffixes
        s = seg.strip()
        s = re.sub(
            r"^(LEFT|RIGHT|FULL|INNER|CROSS|OUTER|SEMI|ANTI|NATURAL|\s)+(?=\S)",
            "",
            s,
            flags=re.IGNORECASE,
        )
        on_pos = find_top_level_keyword(s, "ON", 0)
        using_pos = find_top_level_keyword(s, "USING", 0)
        cut = min(x for x in [on_pos, using_pos, len(s)] if x is not None)
        s = s[:cut].strip()
        if not s:
            continue
        if s.startswith("("):
            close = find_matching_paren(s, 0)
            rest = s[close + 1 :].strip() if close is not None else ""
            alias = _parse_alias(rest)
            info.tables.append(TableRef(name="", alias=alias))
            continue
        m = re.match(r'^((?:[A-Za-z_][\w$]*|"[^"]+")(?:\.(?:[A-Za-z_][\w$]*|"[^"]+"))*)',
                     s)
        if not m:
            continue
        qname = m.group(1)
        parts = qname.split(".")
        name = unquote_ident(parts[-1])
        qualifier = unquote_ident(parts[-2]) if len(parts) > 1 else None
        rest = s[m.end():].strip()
        alias = _parse_alias(rest)
        info.tables.append(TableRef(name=name, alias=alias, qualifier=qualifier))


def _parse_alias(rest: str) -> str | None:
    if not rest:
        return None
    r = rest
    if r.upper().startswith("AS ") or r.upper() == "AS":
        r = r[2:].strip()
    m = re.match(r'^([A-Za-z_][\w$]*|"[^"]+")', r)
    if m:
        tok = m.group(1)
        if unquote_ident(tok).upper() not in ("ON", "USING", "WHERE", "GROUP", "ORDER",
                                              "LIMIT", "HAVING", "JOIN", "LEFT", "RIGHT",
                                              "FULL", "INNER", "CROSS", "OUTER"):
            return unquote_ident(tok)
    return None


def resolve_group_by_cols(info: SelectInfo) -> list[str]:
    """Resolve the query's GROUP BY into concrete dimension expressions:
    - `GROUP BY ALL` -> dimension select items (S2)
    - ordinals -> select item exprs
    - aliases -> select item exprs
    - plain exprs kept verbatim
    Falls back to dimension select items when no GROUP BY (implicit S1).
    """
    dims_from_items = [
        it.expr
        for it in info.items
        if not it.is_aggregate and not it.is_star and not it.is_literal
        and not it.has_aggregate_call
    ]
    if info.group_by is None:
        return dims_from_items
    content = info.group_by.strip()
    upper = content.upper()
    if upper == "ALL" or upper.startswith("ALL "):
        return dims_from_items
    # strip ROLLUP/CUBE/GROUPING SETS wrappers for dim extraction
    m = re.match(r"^(ROLLUP|CUBE)\s*\(", content, re.IGNORECASE)
    if m:
        close = find_matching_paren(content, m.end() - 1)
        if close is not None:
            content = content[m.end(): close]
    m = re.match(r"^GROUPING\s+SETS\s*\(", content, re.IGNORECASE)
    if m:
        close = find_matching_paren(content, m.end() - 1)
        if close is not None:
            inner = content[m.end(): close]
            # union of all set columns
            cols: list[str] = []
            for grp in split_top_level(inner):
                g = grp.strip()
                if g.startswith("("):
                    g = g[1:-1]
                for c in split_top_level(g):
                    c = c.strip()
                    if c and c not in cols:
                        cols.append(c)
            content = ", ".join(cols)

    alias_map = {
        it.alias.lower(): it.expr for it in info.items if it.alias
    }
    out: list[str] = []
    from .sqlutil import strip_comments

    for raw in split_top_level(content):
        col = strip_comments(raw.strip())
        if not col:
            continue
        if col.isdigit():
            idx = int(col) - 1
            if 0 <= idx < len(info.items):
                out.append(info.items[idx].expr)
            continue
        # a QUALIFIED ref is a real table column, never a select alias
        # (alias-collision rule, measures.test:1196-1232)
        is_qualified = "." in re.sub(r"'[^']*'|\"[^\"]*\"", "", col)
        resolved = None if is_qualified else alias_map.get(normalize_dim_key(col))
        if resolved is not None and normalize_dim_key(resolved) != normalize_dim_key(col):
            out.append(resolved)
        else:
            out.append(col)
    return out


def group_by_uses_grouping_sets(info: SelectInfo) -> bool:
    if info.group_by is None:
        return False
    return bool(
        re.match(r"^\s*(ROLLUP|CUBE|GROUPING\s+SETS)\s*\(", info.group_by, re.IGNORECASE)
    )
