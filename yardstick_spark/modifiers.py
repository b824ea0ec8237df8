"""AT (...) context-modifier grammar and the evaluation-context state
machine (the semantic core, SURVEY.md §2.3).

Grammar mirrors the reference's nom parsers
(/root/reference/yardstick-rs/src/sql/measures.rs:1025-1226): a single AT
clause may hold several modifiers (`AT (ALL region SET year = 2023)`),
multiple AT clauses chain, and modifiers compose right-to-left
(measures.rs:6046-6176):
- `ALL` (global) clears filters and any SET conditions to its right;
- `ALL dim` removes a dimension from the correlation set;
- `SET dim = expr` pins/translates a dimension and bypasses the outer
  WHERE (paper §5.1);
- `WHERE cond` replaces the context filter;
- `VISIBLE` re-applies the outer query's WHERE (suppressed by SET/ALL-global).

The computed EvalContext is plan-shape-agnostic: expand.py lowers it to a
grouped-aggregate + null-safe join (or window) instead of the reference's
correlated scalar subqueries.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .sqlutil import (
    find_matching_paren,
    next_nonspace,
    is_word_boundary,
    skip_code_unit,
)


@dataclass
class AllGlobal:
    pass


@dataclass
class All:
    dim: str


@dataclass
class Set:
    dim: str
    expr: str


@dataclass
class Where:
    cond: str


@dataclass
class Visible:
    pass


Modifier = AllGlobal | All | Set | Where | Visible


_MOD_KEYWORDS = ("ALL", "SET", "WHERE", "VISIBLE")


def _starts_with_modifier_keyword(s: str) -> bool:
    t = s.lstrip().upper()
    return (
        t.startswith("ALL ") or t == "ALL"
        or t.startswith("SET ")
        or t.startswith("WHERE ")
        or t == "VISIBLE" or t.startswith("VISIBLE ")
    )


def _parse_expression_or_identifier(s: str) -> tuple[str, str]:
    """Parse one dimension token: qualified identifier, optionally a
    function-call expression like MONTH(date).  Returns (dim, rest)."""
    s = s.lstrip()
    m = re.match(r'([A-Za-z_][\w$]*|"[^"]+")(\s*\.\s*(?:[A-Za-z_][\w$]*|"[^"]+"))*', s)
    if not m:
        return "", s
    end = m.end()
    k = next_nonspace(s, end)
    if k < len(s) and s[k] == "(":
        close = find_matching_paren(s, k)
        if close is not None:
            return s[: close + 1].strip(), s[close + 1 :]
    return s[:end], s[end:]


def parse_at_content(content: str) -> list[Modifier]:
    """Parse the inside of one AT (...) clause into modifiers."""
    mods: list[Modifier] = []
    rest = content.strip()
    while rest:
        upper = rest.upper()
        if upper.startswith("ALL") and is_word_boundary(rest, 0, 3):
            after = rest[3:]
            if not after.strip():
                mods.append(AllGlobal())
                rest = ""
                continue
            # ALL followed by dims until next modifier keyword
            dim, after2 = _parse_expression_or_identifier(after)
            if not dim:
                mods.append(AllGlobal())
                rest = after.strip()
                continue
            mods.append(All(dim))
            rest = after2.strip()
            while rest and not _starts_with_modifier_keyword(rest):
                dim, rest2 = _parse_expression_or_identifier(rest)
                if not dim:
                    break
                mods.append(All(dim))
                rest = rest2.strip()
            continue
        if upper.startswith("SET") and is_word_boundary(rest, 0, 3):
            after = rest[3:].lstrip()
            dim, after2 = _parse_expression_or_identifier(after)
            after2 = after2.lstrip()
            if not after2.startswith("="):
                break
            expr_part = after2[1:].strip()
            # expression runs until a following top-level modifier keyword
            cut = _find_next_modifier_kw(expr_part)
            expr = expr_part[:cut].strip()
            mods.append(Set(dim, expr))
            rest = expr_part[cut:].strip()
            continue
        if upper.startswith("WHERE") and is_word_boundary(rest, 0, 5):
            # WHERE consumes the remainder of the clause
            mods.append(Where(rest[5:].strip()))
            rest = ""
            continue
        if upper.startswith("VISIBLE") and is_word_boundary(rest, 0, 7):
            mods.append(Visible())
            rest = rest[7:].strip()
            continue
        break
    return mods


def _find_next_modifier_kw(s: str) -> int:
    """Find index of the next top-level modifier keyword in a SET value
    expression (so `AT (SET year = year - 1 VISIBLE)` parses)."""
    i, n = 0, len(s)
    depth = 0
    upper = s.upper()
    while i < n:
        j = skip_code_unit(s, i)
        if j > i:
            i = j
            continue
        c = s[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif depth == 0:
            for kw in ("VISIBLE", "SET ", "WHERE "):
                kwlen = len(kw.rstrip())
                if upper.startswith(kw.rstrip(), i) and is_word_boundary(s, i, i + kwlen):
                    if kw.rstrip() != "SET" or upper.startswith("SET ", i):
                        # avoid cutting identifiers like `settings`
                        if i > 0 and s[i - 1].isspace():
                            return i
        i += 1
    return n


@dataclass
class EvalContext:
    """The lowered evaluation context for one measure reference.

    corr_dims:      outer dimension expressions to correlate on (null-safe)
    set_conditions: (inner_dim_sql, outer_value_sql) pairs — inner side is
                    matched against a computed value from the outer row
    filter_sql:     predicate applied to the base relation (already
                    qualifier-stripped), or None
    grand_total:    no correlation at all (AT (ALL))
    """

    corr_dims: list[str] = field(default_factory=list)
    set_conditions: list[tuple[str, str]] = field(default_factory=list)
    filter_sql: str | None = None
    grand_total: bool = False



def _dim_matches(col: str, dim: str) -> bool:
    """Does group-by col `col` name dimension `dim`?  (measures.rs:5797-5812)"""
    dim_l = dim.strip().lower()
    col_l = col.strip().lower()
    if "(" in dim:
        return " ".join(col_l.split()) == " ".join(dim_l.split())
    col_name = col_l.split(".")[-1].strip()
    dim_name = dim_l.split(".")[-1].strip()
    return col_name == dim_name


def compute_context(
    modifiers: list[Modifier],
    group_by_cols: list[str],
    outer_where: str | None,
    resolve_set_value,
) -> EvalContext:
    """Lower a modifier chain to an EvalContext.

    `resolve_set_value(dim, expr)` resolves CURRENT references and returns
    the outer-side SQL for a SET value.

    Follows the reference's composition rules exactly
    (measures.rs:5413-5631 non-decomposable path, which the production FFI
    entry always uses):
    - no modifiers => VISIBLE: correlate on all dims + outer WHERE
    - single ALL => grand total; ALL dim => correlate on remaining dims,
      outer WHERE dropped
    - single SET => set condition + correlate on other dims, WHERE dropped
    - single WHERE => only the condition (no correlation!)
    - single VISIBLE => correlate on dims + outer WHERE
    - chains: right-to-left state machine; ALL-global clears filters/SETs
      accumulated to its right; SET suppresses VISIBLE.
    """
    ctx = EvalContext()

    if not modifiers:
        ctx.corr_dims = list(group_by_cols)
        ctx.filter_sql = outer_where
        ctx.grand_total = not group_by_cols and outer_where is None
        return ctx

    if len(modifiers) == 1:
        m = modifiers[0]
        if isinstance(m, AllGlobal):
            ctx.grand_total = True
            return ctx
        if isinstance(m, All):
            remaining = [c for c in group_by_cols if not _dim_matches(c, m.dim)]
            ctx.corr_dims = remaining
            ctx.grand_total = not remaining
            return ctx
        if isinstance(m, Set):
            ctx.set_conditions = [(m.dim, resolve_set_value(m.dim, m.expr))]
            ctx.corr_dims = [c for c in group_by_cols if not _dim_matches(c, m.dim)]
            return ctx
        if isinstance(m, Where):
            ctx.filter_sql = m.cond
            ctx.grand_total = False
            return ctx
        if isinstance(m, Visible):
            ctx.corr_dims = list(group_by_cols)
            ctx.filter_sql = outer_where
            return ctx

    # all-ALL fast path (measures.rs:5450-5515)
    if all(isinstance(m, (All, AllGlobal)) for m in modifiers):
        if any(isinstance(m, AllGlobal) for m in modifiers):
            ctx.grand_total = True
            return ctx
        removed = [m.dim for m in modifiers if isinstance(m, All)]
        remaining = [
            c for c in group_by_cols
            if not any(_dim_matches(c, d) for d in removed)
        ]
        ctx.corr_dims = remaining
        ctx.grand_total = not remaining
        return ctx

    # general right-to-left state machine (measures.rs:5520-5631)
    has_set = any(isinstance(m, Set) for m in modifiers)
    effective_where: str | None = None
    has_all_global = False
    set_conditions: list[tuple[str, str]] = []
    removed_dims: list[str] = []

    for m in reversed(modifiers):
        if isinstance(m, AllGlobal):
            has_all_global = True
            effective_where = None
            set_conditions.clear()
        elif isinstance(m, All):
            removed_dims.append(m.dim)
        elif isinstance(m, Visible):
            if not has_set and not has_all_global and outer_where:
                effective_where = outer_where
        elif isinstance(m, Where):
            if not has_all_global:
                effective_where = m.cond
        elif isinstance(m, Set):
            if not has_all_global and not any(
                _dim_matches(m.dim, d) or _dim_matches(d, m.dim) for d in removed_dims
            ):
                set_conditions.append((m.dim, resolve_set_value(m.dim, m.expr)))

    if has_all_global and not set_conditions:
        ctx.grand_total = True
        return ctx

    remaining = [
        c for c in group_by_cols
        if not any(_dim_matches(c, d) for d in removed_dims)
        and not any(_dim_matches(c, d) for d, _ in set_conditions)
    ]
    ctx.corr_dims = remaining
    ctx.set_conditions = set_conditions
    ctx.filter_sql = effective_where
    ctx.grand_total = not remaining and not set_conditions and effective_where is None
    return ctx


# -- CURRENT resolution (measures.rs:3455-3619) -------------------------------


def dimension_in_group_by(dim: str, group_by_cols: list[str]) -> bool:
    return any(_dim_matches(c, dim) for c in group_by_cols)


def where_has_simple_equality(where: str, dim_name: str) -> bool:
    if re.search(r"\bOR\b", where, re.IGNORECASE):
        return False
    for m in re.finditer(r"(?<![<>!=])=(?!=)", where):
        left = where[: m.start()].rstrip()
        mm = re.search(r'([A-Za-z_][\w$]*|"[^"]+")\s*$', left)
        if mm:
            tok = mm.group(1).strip('"')
            if tok.lower() == dim_name.lower():
                return True
    return False


def resolve_current_in_expr(
    expr: str,
    group_by_cols: list[str],
    outer_where: str | None,
) -> str:
    """`CURRENT d` -> `d` iff single-valued in context, else NULL
    (measures.rs:3524-3619)."""
    out: list[str] = []
    i, n = 0, len(expr)
    while i < n:
        j = skip_code_unit(expr, i)
        if j > i:
            out.append(expr[i:j])
            i = j
            continue
        c = expr[i]
        if c.isalpha() or c == "_":
            start = i
            i += 1
            while i < n and (expr[i].isalnum() or expr[i] == "_"):
                i += 1
            token = expr[start:i]
            if token.upper() == "CURRENT":
                k = next_nonspace(expr, i)
                m = re.match(r"[A-Za-z_][\w$]*(\.[A-Za-z_][\w$]*)*", expr[k:]) if k < n else None
                if m:
                    dim = m.group(0)
                    dim_name = dim.split(".")[-1]
                    single = dimension_in_group_by(dim, group_by_cols) or (
                        outer_where is not None
                        and where_has_simple_equality(outer_where, dim_name)
                    )
                    out.append(dim if single else "NULL")
                    i = k + m.end()
                    continue
            out.append(token)
            continue
        out.append(c)
        i += 1
    return "".join(out)
