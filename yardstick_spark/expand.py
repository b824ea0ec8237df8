"""Measure-query expansion: AGGREGATE()/AT rewriting into Spark SQL.

This is the Spark-first replacement for the reference's expansion pipeline
(/root/reference/yardstick-rs/src/sql/measures.rs:7110-7592
expand_aggregate_with_at).  Semantics are identical — every measure
reference is evaluated against its view's *base relation* in a context
derived from the calling query (correlation dims + SET pins + filter) —
but the emitted plan shape is different:

reference:  correlated scalar subquery per call site
this engine: shared grouped-aggregate CTE per distinct context,
             null-safe (<=>) LEFT JOIN into the calling query, value
             referenced through any_value()

The join shape is what the reference itself calls the preferred plan
(build_non_decomposable_join_plan, measures.rs:5249-5402) and is the only
shape that scales on Spark: Catalyst turns the small grouped sides into
broadcast joins, and identical contexts are computed once instead of per
call site.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .catalog import MeasureCatalog, MeasureView, ResolvedMeasure
from .modifiers import (
    EvalContext,
    Modifier,
    Set as SetMod,
    Where as WhereMod,
    compute_context,
    dimension_in_group_by,
    parse_at_content,
    resolve_current_in_expr,
)
from .parser import (
    SelectInfo,
    group_by_uses_grouping_sets,
    parse_select,
    resolve_group_by_cols,
)
from .sqlutil import (
    SQL_KEYWORDS,
    YardstickError,
    find_first_top_level_keyword,
    find_matching_paren,
    find_top_level_keyword,
    is_word_boundary,
    iter_identifiers,
    next_nonspace,
    prev_nonspace,
    normalize_dim_key,
    normalize_ws,
    replace_identifiers,
    skip_code_unit,
    split_top_level,
    strip_qualifiers,
    unquote_ident,
)

DEFAULT_CONTEXT_MARKER = "/*YS_DEFAULT*/"


class _SubqueryExpandError(Exception):
    pass


@dataclass
class ExpandResult:
    sql: str
    had_aggregate: bool = False
    error: str | None = None
    warnings: list[str] = field(default_factory=list)
    used_views: set[str] = field(default_factory=set)


@dataclass
class AggregateSite:
    measure_raw: str  # verbatim content of AGGREGATE(...)
    measure_name: str  # unqualified lookup name
    modifiers: list[Modifier]
    start: int
    end: int  # end of the whole AGGREGATE(..) AT (..) chain (excl marker)
    default_context: bool = False


@dataclass
class CtxSpec:
    """One shared evaluation-context subquery."""

    alias: str
    value_exprs: list[str]  # aggregate expressions to compute
    value_aliases: list[str]
    inner_keys: list[str]  # expressions over the base relation
    outer_keys: list[str]  # expressions over the calling query's FROM
    base_sql: str
    filter_sql: str | None
    window_specs: list[tuple[str, str] | None] = None  # (expr, measure) per value

    def key(self) -> tuple:
        return (
            normalize_ws(self.base_sql).lower(),
            tuple(normalize_ws(k).lower() for k in self.inner_keys),
            tuple(normalize_ws(k).lower() for k in self.outer_keys),
            normalize_ws(self.filter_sql or "").lower(),
        )


# -- sugar rewrites ------------------------------------------------------------


def expand_curly_braces(sql: str) -> str:
    """`{m}` -> `AGGREGATE(m)` (measures.rs:994-1018)."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        j = skip_code_unit(sql, i)
        if j > i:
            out.append(sql[i:j])
            i = j
            continue
        if sql[i] == "{":
            m = re.match(r"\{(\w+)\}", sql[i:])
            if m:
                out.append(f"AGGREGATE({m.group(1)})")
                i += m.end()
                continue
        out.append(sql[i])
        i += 1
    return "".join(out)


_SIMPLE_REF_RE = re.compile(
    r'^\s*((?:[A-Za-z_][\w$]*|"[^"]+")\s*\.\s*)?([A-Za-z_][\w$]*|"[^"]+")\s*$'
)


def parse_simple_measure_ref(expr: str) -> tuple[str | None, str] | None:
    m = _SIMPLE_REF_RE.match(expr)
    if not m:
        return None
    qual = m.group(1)
    qual = unquote_ident(qual.rstrip().rstrip(".").strip()) if qual else None
    return qual, unquote_ident(m.group(2))


def rewrite_measure_at_refs(sql: str, known: set[str]) -> str:
    """`m AT (...)` -> `AGGREGATE(m) AT (...)` (measures.rs:834-951)."""
    if not known:
        return sql
    upper = sql.upper()
    repls: list[tuple[int, int, str]] = []
    i, n = 0, len(sql)
    while i < n:
        j = skip_code_unit(sql, i)
        if j > i:
            i = j
            continue
        if upper.startswith("AT", i) and is_word_boundary(sql, i, i + 2):
            k = next_nonspace(sql, i + 2)
            if k < n and sql[k] == "(":
                b = _find_previous_ref_bounds(sql, i)
                if b:
                    token = sql[b[0]: b[1]].strip()
                    ref = parse_simple_measure_ref(token)
                    if ref and ref[1].lower() in known:
                        repls.append((b[0], b[1], f"AGGREGATE({token})"))
            i += 2
            continue
        i += 1
    for s, e, r in sorted(repls, key=lambda x: -x[0]):
        sql = sql[:s] + r + sql[e:]
    return sql


def _find_previous_ref_bounds(sql: str, at_pos: int) -> tuple[int, int] | None:
    """Bounds of the identifier token chain immediately before AT."""
    i = at_pos - 1
    while i >= 0 and sql[i].isspace():
        i -= 1
    if i < 0:
        return None
    end = i + 1
    if sql[i] == ")":
        return None  # `...) AT (` — function call, handled as AGGREGATE chain
    while i >= 0 and (sql[i].isalnum() or sql[i] in '_."$'):
        i -= 1
    start = i + 1
    if start >= end:
        return None
    return start, end


def rewrite_implicit_measure_refs(
    sql: str, info: SelectInfo, measures_for_query: set[str]
) -> str:
    """Bare `revenue` as a top-level SELECT item ->
    `AGGREGATE(revenue) /*YS_DEFAULT*/` (measures.rs:495-786; paper default
    context: ignores outer WHERE — measures.test:3267-3283)."""
    repls: list[tuple[int, int, str]] = []
    for it in info.items:
        if it.is_aggregate or it.is_star or it.has_aggregate_call or it.is_literal:
            continue
        ref = parse_simple_measure_ref(it.expr)
        if not ref or ref[1].lower() not in measures_for_query:
            continue
        if re.search(r"\sAT\s*\(", it.text, re.IGNORECASE):
            continue
        new = f"AGGREGATE({it.expr.strip()}) {DEFAULT_CONTEXT_MARKER}"
        if it.alias:
            new += f" AS {it.alias}"
        else:
            new += f" AS {ref[1]}"
        repls.append((it.start, it.end, new + " "))
    for s, e, r in sorted(repls, key=lambda x: -x[0]):
        sql = sql[:s] + r + sql[e:]
    return sql


# -- AGGREGATE call-site scanning ----------------------------------------------

def find_aggregate_sites(sql: str) -> list[AggregateSite]:
    sites: list[AggregateSite] = []
    i, n = 0, len(sql)
    upper = sql.upper()
    while i < n:
        j = skip_code_unit(sql, i)
        if j > i:
            i = j
            continue
        if upper.startswith("AGGREGATE", i) and is_word_boundary(sql, i, i + 9):
            k = next_nonspace(sql, i + 9)
            if k < n and sql[k] == "(":
                close = find_matching_paren(sql, k)
                if close is None:
                    i += 9
                    continue
                content = sql[k + 1 : close]
                if len(split_top_level(content)) != 1:
                    # DuckDB's native aggregate(list, 'fn') — don't intercept
                    # (S13, no_semantic_prefix.test:2151-2181)
                    i = close + 1
                    continue
                ref = parse_simple_measure_ref(content)
                if ref is None:
                    i = close + 1
                    continue
                end = close + 1
                modifiers: list[Modifier] = []
                while True:
                    p = next_nonspace(sql, end)
                    if p < n and upper.startswith("AT", p) and is_word_boundary(sql, p, p + 2):
                        q = next_nonspace(sql, p + 2)
                        if q < n and sql[q] == "(":
                            c2 = find_matching_paren(sql, q)
                            if c2 is None:
                                break
                            modifiers.extend(parse_at_content(sql[q + 1 : c2]))
                            end = c2 + 1
                            continue
                    break
                default_ctx = False
                p = end
                while p < n and sql[p].isspace():
                    p += 1
                if sql.startswith(DEFAULT_CONTEXT_MARKER, p):
                    default_ctx = True
                    end = p + len(DEFAULT_CONTEXT_MARKER)
                sites.append(
                    AggregateSite(
                        measure_raw=content.strip(),
                        measure_name=ref[1],
                        modifiers=modifiers,
                        start=i,
                        end=end,
                        default_context=default_ctx,
                    )
                )
                i = end
                continue
            i += 9
            continue
        i += 1
    return sites


def _has_inline_as_measure(sql: str) -> bool:
    """True when a real `AS MEASURE` token sequence appears in the
    statement — comment/string-aware (measures.test:130 requires that a
    comment merely CONTAINING the words is not intercepted)."""
    i, n = 0, len(sql)
    upper = sql.upper()
    while i < n:
        j = skip_code_unit(sql, i)
        if j > i:
            i = j
            continue
        if upper.startswith("AS", i) and is_word_boundary(sql, i, i + 2):
            k = next_nonspace(sql, i + 2)
            if (
                k < n
                and upper.startswith("MEASURE", k)
                and is_word_boundary(sql, k, k + 7)
            ):
                # a plain alias NAMED measure (`x AS measure FROM t`)
                # is legal SQL: only flag when a measure NAME follows
                m = next_nonspace(sql, k + 7)
                if m < n and (sql[m] in '"`' or sql[m].isalpha()
                              or sql[m] == "_"):
                    word = re.match(
                        r'[A-Za-z_][\w$]*|"[^"]+"|`[^`]+`', sql[m:]
                    )
                    if word and word.group(0).upper() not in (
                        SQL_KEYWORDS
                        # Spark-dialect words that can follow an alias
                        | {"MINUS", "SORT", "DISTRIBUTE", "CLUSTER"}
                    ):
                        return True
            i += 2
            continue
        i += 1
    return False


def has_aggregate_function(sql: str) -> bool:
    i, n = 0, len(sql)
    upper = sql.upper()
    while i < n:
        j = skip_code_unit(sql, i)
        if j > i:
            i = j
            continue
        if upper.startswith("AGGREGATE", i) and is_word_boundary(sql, i, i + 9):
            k = next_nonspace(sql, i + 9)
            if k < n and sql[k] == "(":
                return True
            i += 9
            continue
        i += 1
    return False


# -- CTE recursion (S3, measures.rs:2113-2251) ---------------------------------


def expand_cte_queries(sql: str, expander) -> tuple[str, bool, list[str]]:
    stripped = sql.lstrip()
    offset = len(sql) - len(stripped)
    if not stripped.upper().startswith("WITH") or not is_word_boundary(
        stripped, 0, 4
    ):
        return sql, False, []
    i = offset + 4
    had = False
    warnings: list[str] = []
    out = sql
    shift = 0
    n = len(sql)
    while True:
        m = re.match(r'\s*(RECURSIVE\s+)?([A-Za-z_][\w$]*|"[^"]+")\s*(\([^)]*\)\s*)?AS\s*\(',
                     sql[i:], re.IGNORECASE)
        if not m:
            break
        open_pos = i + m.end() - 1
        close = find_matching_paren(sql, open_pos)
        if close is None:
            break
        body = sql[open_pos + 1 : close]
        res = expander(body)
        if res.sql != body:
            had = had or res.had_aggregate
            warnings.extend(res.warnings)
            out = out[: open_pos + 1 + shift] + res.sql + out[close + shift :]
            shift += len(res.sql) - len(body)
        else:
            had = had or res.had_aggregate
            warnings.extend(res.warnings)
        k = next_nonspace(sql, close + 1)
        if k < n and sql[k] == ",":
            i = k + 1
            continue
        # main query begins at k
        main = sql[k:]
        res = expander(main)
        if res.sql != main:
            had = had or res.had_aggregate
            warnings.extend(res.warnings)
            out = out[: k + shift] + res.sql
        else:
            had = had or res.had_aggregate
            warnings.extend(res.warnings)
        return out, had, warnings
    return out, had, warnings


# -- main expansion -------------------------------------------------------------


class QueryExpander:
    def __init__(self, catalog: MeasureCatalog, view_columns=None, strict: bool = False,
                 permanent_overrides=None):
        self.catalog = catalog
        self.view_columns = view_columns or (lambda name: None)
        self.strict = strict
        # view-name -> permanent MeasureView currently shadowed by a batch
        # TEMP view; used for `main.`-qualified reads
        self.permanent_overrides = permanent_overrides or {}

    # .. helpers ..

    def _source_dim_names(self, view_name: str) -> set[str]:
        v = self.catalog.get(view_name)
        if not v:
            return set()
        dims: set[str] = set(v.dimension_exprs.keys())
        for col in v.group_by_cols:
            dims.add(normalize_dim_key(col))
        cols = self.view_columns(view_name)
        if cols:
            measure_names = {m.column_name.lower() for m in v.measures}
            dims.update(c.lower() for c in cols if c.lower() not in measure_names)
        return dims

    def expand(self, sql: str) -> ExpandResult:
        self._used_views: set[str] = getattr(self, "_used_views", set())
        if _has_inline_as_measure(sql):
            # AS MEASURE is a CREATE VIEW construct in the reference
            # (every corpus use is a view body); left in a plain query
            # it would half-expand into a confusing downstream parse
            # error — fail with the actual contract instead.  Checked
            # BEFORE CTE recursion: expand_cte_queries drops inner
            # errors, so the whole-statement scan is the reliable gate.
            return ExpandResult(
                sql, had_aggregate=True,
                error=(
                    "AS MEASURE is only supported in CREATE VIEW "
                    "statements; define the measure in a view and "
                    "query it with AGGREGATE(...)"
                ),
            )
        # CTE recursion first
        body, had_cte, cte_warnings = expand_cte_queries(sql, self.expand)
        if body != sql:
            res = ExpandResult(body, had_aggregate=had_cte)
            res.warnings = cte_warnings
            res.used_views = set(self._used_views)
            return res

        known = self.catalog.known_measure_names()
        out = expand_curly_braces(sql)
        try:
            out = self._expand_yardstick_tablefn(out)
            out = rewrite_measure_at_refs(out, known)
            out = self._expand_subqueries(out)
        except _SubqueryExpandError as e:
            return self._merge_pending(
                ExpandResult(out, had_aggregate=True, error=str(e),
                             used_views=set(self._used_views)))

        info = parse_select(out)
        if info is not None and known:
            by_view = self.catalog.measures_by_view()
            measures_here: set[str] = set()
            for t in info.tables:
                measures_here |= by_view.get(t.name.lower(), set())
            if not info.tables:
                measures_here = set()
            if measures_here:
                new = rewrite_implicit_measure_refs(out, info, measures_here)
                if new != out:
                    out = new
                    info = parse_select(out)

        if not has_aggregate_function(out):
            return self._merge_pending(
                ExpandResult(out, had_aggregate=(out != sql),
                             used_views=set(self._used_views)))
        if info is None:
            return self._merge_pending(
                ExpandResult(out, had_aggregate=True,
                             used_views=set(self._used_views)))

        sites = find_aggregate_sites(out)
        if not sites:
            return self._merge_pending(
                ExpandResult(out, had_aggregate=(out != sql),
                             used_views=set(self._used_views)))

        res = self._expand_select(out, info, sites)
        res.used_views |= self._used_views
        return self._merge_pending(res)

    def _merge_pending(self, res: ExpandResult) -> ExpandResult:
        pending = getattr(self, "_pending_warnings", [])
        for w in pending:
            if w not in res.warnings:
                res.warnings.append(w)
        self._pending_warnings = []
        return res

    def _expand_yardstick_tablefn(self, sql: str) -> str:
        """`SELECT * FROM yardstick('sql' [, warnings])` — the reference's
        wrapper table function (cpp:228-312, Q7).  Expand the embedded SQL
        and inline it as a derived table."""
        out = sql
        while True:
            m = re.search(r"\byardstick\s*\(", out, re.IGNORECASE)
            if not m:
                return out
            close = find_matching_paren(out, m.end() - 1)
            if close is None:
                return out
            args = split_top_level(out[m.end(): close])
            first = args[0].strip()
            if not (first.startswith("'") and first.endswith("'")):
                return out
            inner_sql = first[1:-1].replace("''", "'")
            res = self.expand(inner_sql)
            self._used_views |= res.used_views
            if res.error:
                raise_err = res.error
                out = (
                    out[: m.start()]
                    + f"(SELECT raise_error('{raise_err}'))"
                    + out[close + 1 :]
                )
                continue
            for w in res.warnings:
                self._pending_warnings = getattr(self, "_pending_warnings", [])
                if w not in self._pending_warnings:
                    self._pending_warnings.append(w)
            out = out[: m.start()] + f"({res.sql})" + out[close + 1 :]

    def _expand_subqueries(self, sql: str) -> str:
        """Recursively expand parenthesized sub-SELECTs that contain
        AGGREGATE() calls — FROM-clause derived tables, scalar subqueries
        (reference: top_level_parenthesized_query_body_range +
        per-statement recursion, measures.rs:7111-7134)."""
        out = sql
        pos = 0
        while True:
            found = None
            i, n = pos, len(out)
            while i < n:
                j = skip_code_unit(out, i)
                if j > i:
                    i = j
                    continue
                if out[i] == "(":
                    k = next_nonspace(out, i + 1)
                    upper = out.upper()
                    if (
                        upper.startswith("SELECT", k)
                        and is_word_boundary(out, k, k + 6)
                    ) or (
                        upper.startswith("WITH", k)
                        and is_word_boundary(out, k, k + 4)
                    ):
                        close = find_matching_paren(out, i)
                        if close is not None:
                            content = out[i + 1 : close]
                            if has_aggregate_function(content):
                                found = (i, close, content)
                                break
                            pos_next = close + 1
                            i = pos_next
                            continue
                i += 1
            if not found:
                return out
            start, close, content = found
            res = self.expand(content)
            self._pending_warnings = getattr(self, "_pending_warnings", [])
            for w in res.warnings:
                if w not in self._pending_warnings:
                    self._pending_warnings.append(w)
            if res.error:
                raise _SubqueryExpandError(res.error)
            out = out[: start + 1] + res.sql + out[close:]
            pos = start + 1 + len(res.sql) + 1

    # .. the core ..

    def _expand_select(
        self, sql: str, info: SelectInfo, sites: list[AggregateSite]
    ) -> ExpandResult:
        warnings: list[str] = []
        primary = info.primary_table
        primary_name = primary.name if primary else ""
        group_by_cols = resolve_group_by_cols(info) if info.group_by else []
        dim_cols = [
            it.expr
            for it in info.items
            if not it.is_aggregate and not it.is_star and not it.is_literal
            and not it.has_aggregate_call
        ]
        effective_dims = group_by_cols if info.group_by else dim_cols
        outer_where = info.where

        # SET validation (measures.rs:6350-6374)
        for site in sites:
            for m in site.modifiers:
                if isinstance(m, SetMod) and "(" not in m.dim:
                    dim_name = m.dim.split(".")[-1].strip()
                    if _mentions_ident_outside_current(m.expr, dim_name) and not dimension_in_group_by(
                        m.dim, effective_dims
                    ):
                        return ExpandResult(
                            sql,
                            had_aggregate=True,
                            error=(
                                f"AT (SET {m.dim} = {m.expr}) references {dim_name}, "
                                f"but the query does not group by {dim_name}. Add "
                                f"{dim_name} to SELECT/GROUP BY or use a constant SET value."
                            ),
                        )

        uses_grouping_sets = group_by_uses_grouping_sets(info)

        ctxs: dict[tuple, CtxSpec] = {}
        replacements: list[tuple[int, int, str]] = []
        ctx_counter = 0

        use_permanent = bool(
            primary and primary.qualifier and primary.qualifier.lower() == "main"
            and self.permanent_overrides
        )
        # Inline fast path (see _inline_target): when a site's evaluation
        # context is exactly the outer grouping, the measure aggregates
        # in place over the view rows — one scan + one shuffle instead of
        # a second base scan, a context shuffle, and a join back.  At
        # 100 TB this halves the fact-table reads of the common query.
        inline_view = None if use_permanent else self._inline_target(info)
        inline_cols: dict[str, None] = {}
        inlined = False
        # window functions are not valid in HAVING — window-inline
        # candidates positioned there keep the join path
        having_pos = find_top_level_keyword(sql, "HAVING")
        for site in sorted(sites, key=lambda s: -s.start):
            resolved = self.catalog.resolve(
                site.measure_name,
                primary_name,
                overrides=self.permanent_overrides if use_permanent else None,
            )
            if resolved is None:
                replacements.append(
                    (site.start, site.end, f"SUM({site.measure_name})")
                )
                continue
            self._used_views.add(resolved.source_view.lower())

            eval_dims = self._filter_dims_for_measure(
                effective_dims, resolved, info
            )
            if (
                not eval_dims
                and effective_dims
                and resolved.source_view.lower() == primary_name.lower()
            ):
                eval_dims = list(effective_dims)

            # outer WHERE visible to this measure's recompute, stripped of
            # source-view qualifiers (strip_at_where_qualifiers)
            allowed_quals = self._allowed_qualifiers(resolved, info)
            where_for_measure = (
                strip_qualifiers(outer_where, allowed_quals) if outer_where else None
            )

            def resolve_set_value(dim: str, expr: str) -> str:
                return resolve_current_in_expr(expr, effective_dims, outer_where)

            if site.default_context:
                ctx = EvalContext(corr_dims=list(eval_dims), filter_sql=None,
                                  grand_total=not eval_dims)
            else:
                ctx = compute_context(
                    site.modifiers, eval_dims, where_for_measure, resolve_set_value
                )
                # AT (WHERE d = outer.d) conjuncts that reference an outer
                # alias are correlations, not filters (paper Listing 12;
                # qualify_outer_reference measures.rs:3301-3329) — lower
                # them to <=> join keys so Spark never sees a correlated
                # subquery
                if any(isinstance(m, WhereMod) for m in site.modifiers) \
                        and ctx.filter_sql:
                    corr, rest = _extract_filter_correlations(
                        ctx.filter_sql, info
                    )
                    if corr:
                        ctx.set_conditions = list(ctx.set_conditions) + corr
                        ctx.filter_sql = rest
                        ctx.grand_total = False

            from .warnings_analyzer import warning_for_at_all

            w = warning_for_at_all(
                site.measure_name,
                site.modifiers,
                outer_where,
                eval_dims,
                self._source_dim_names(resolved.source_view),
                allowed_quals,
            )
            if w and w not in warnings:
                warnings.append(w)

            # plain window-measure passthrough: aggregate the materialized
            # view column (measures.rs:7516-7523)
            if resolved.is_window and not site.modifiers and not site.default_context:
                replacements.append(
                    (site.start, site.end,
                     f"{resolved.agg_fn}({site.measure_name})")
                )
                continue

            in_where = (
                info.where_start is not None
                and site.start > info.where_start
                and (info.where_end is None or site.end <= info.where_end)
            )
            if (
                inline_view is not None
                and not in_where
                and not resolved.is_window
                and resolved.source_view.lower() == primary_name.lower()
                and not ctx.set_conditions
                and [normalize_dim_key(d) for d in ctx.corr_dims]
                == [normalize_dim_key(d) for d in effective_dims]
                and normalize_ws(ctx.filter_sql or "").lower()
                == normalize_ws(where_for_measure or "").lower()
            ):
                expr = self._apply_dim_exprs(resolved.eval_expression, resolved)
                needed = self._inline_base_cols(expr, inline_view)
                if needed is not None:
                    wrapped = f"({expr})"
                    if uses_grouping_sets and ctx.corr_dims:
                        guards = " + ".join(
                            f"grouping({d})" for d in ctx.corr_dims
                        )
                        wrapped = (
                            f"(CASE WHEN {guards} > 0 THEN NULL "
                            f"ELSE {expr} END)"
                        )
                    for c in needed:
                        inline_cols.setdefault(c)
                    inlined = True
                    replacements.append((site.start, site.end, wrapped))
                    continue

            # Window-inline: a context on a PROPER SUBSET of the outer
            # dims (AT (ALL dim), incl. chains) with no filter change is
            # a window over the inline partial aggregates — the subtotal
            # plan SCALING.md documents: one raw scan, group-row-sized
            # window shuffle, instead of a second base scan + context
            # join.  Requires no outer WHERE (ALL drops it, so the
            # window's filtered input would diverge) and a combinable
            # aggregate.  AT (ALL) grand totals deliberately stay on the
            # broadcast-join path: PARTITION BY () funnels every group
            # row through one task at scale, a 1-row broadcast does not.
            window_fn = None
            if (
                inline_view is not None
                and not in_where
                and not resolved.is_window
                # locally sound, not just via the ddl.py invariant that
                # non-decomposable views get GROUP BY ALL base queries:
                # SUM((COUNT(DISTINCT x))) OVER (...) over row-grain
                # input would double-count values shared across groups
                and resolved.is_decomposable
                and not uses_grouping_sets
                and resolved.source_view.lower() == primary_name.lower()
                and not ctx.set_conditions
                and not ctx.grand_total
                and ctx.corr_dims
                and info.where is None
                and ctx.filter_sql is None
                # any HAVING disqualifies the whole statement: windows
                # evaluate AFTER the HAVING filter, so a subtotal window
                # would sum only the surviving groups while the context
                # join computes it from all base rows
                and having_pos is None
                # a function call in ORDER BY may be an aggregate
                # (ORDER BY ANY_VALUE(col) + 1, measures.test:1209-1215)
                # which Spark cannot evaluate in a Sort above a window
                # projection — keep the join path for those statements
                and not (
                    info.order_by is not None
                    and re.search(r"\w\s*\(", info.order_by)
                )
            ):
                corr_norm = {normalize_dim_key(d) for d in ctx.corr_dims}
                eff_by_norm = {
                    normalize_dim_key(d): d for d in effective_dims
                }
                expr = self._apply_dim_exprs(resolved.eval_expression, resolved)
                fn_m = re.match(
                    r"\s*(SUM|COUNT|MIN|MAX)\s*\(", expr, re.IGNORECASE
                )
                if fn_m and corr_norm <= set(eff_by_norm):
                    close = find_matching_paren(expr, fn_m.end() - 1)
                    if close == len(expr.rstrip()) - 1:
                        window_fn = {"SUM": "SUM", "COUNT": "SUM",
                                     "MIN": "MIN", "MAX": "MAX"}[
                            fn_m.group(1).upper()]
            if window_fn is not None:
                needed = self._inline_base_cols(expr, inline_view)
                if needed is not None:
                    part = ", ".join(
                        eff_by_norm[normalize_dim_key(d)]
                        for d in ctx.corr_dims
                    )
                    wrapped = (
                        f"{window_fn}(({expr})) OVER (PARTITION BY {part})"
                    )
                    for c in needed:
                        inline_cols.setdefault(c)
                    inlined = True
                    replacements.append((site.start, site.end, wrapped))
                    continue

            spec, value_alias = self._ctx_for(
                ctxs, resolved, ctx, info, ctx_counter,
                measure_name=site.measure_name,
            )
            ctx_counter = len(ctxs)
            value_ref = f"{spec.alias}.{value_alias}"
            if in_where:
                # row-level context (paper Listing 12): the measure value
                # joins per-row; no aggregation wrapper
                replacements.append((site.start, site.end, value_ref))
                continue
            wrapped = f"any_value({value_ref})"
            if self._needs_zero_coalesce(resolved, ctx, outer_where):
                wrapped = f"coalesce({wrapped}, 0)"
            if uses_grouping_sets and ctx.corr_dims:
                # ROLLUP/CUBE subtotal rows have NULL dims; correlation on a
                # NULL dim finds no group -> NULL measure (S6,
                # measures.test:3267-3283)
                guards = " + ".join(
                    f"grouping({d})" for d in ctx.corr_dims
                )
                wrapped = f"(CASE WHEN {guards} > 0 THEN NULL ELSE {wrapped} END)"
            replacements.append((site.start, site.end, wrapped))

        out = sql
        for s, e, r in replacements:
            out = out[:s] + r + out[e:]

        if inlined:
            out = self._inline_rewrite_from(out, info, inline_view,
                                            list(inline_cols))

        if ctxs:
            if uses_grouping_sets:
                warnings.append(
                    "AT modifiers combined with ROLLUP/CUBE correlate on the "
                    "output group values per output row"
                )
            out = self._attach_joins(out, list(ctxs.values()))

        # implicit GROUP BY (S1, measures.rs:7562-7576) — only when some
        # site is in aggregation position; WHERE-only sites keep the
        # query row-level (Listing 12)
        has_agg_position_site = any(
            not (
                info.where_start is not None
                and s.start > info.where_start
                and (info.where_end is None or s.end <= info.where_end)
            )
            for s in sites
        )
        if (
            has_agg_position_site
            and find_top_level_keyword(out, "GROUP BY") is None
            and dim_cols
        ):
            stop = find_first_top_level_keyword(
                out, 0, ["HAVING", "QUALIFY", "WINDOW", "ORDER BY", "LIMIT", "OFFSET"]
            )
            semi = out.rstrip()
            trailing_semi = semi.endswith(";")
            if stop:
                insert = stop[0]
                out = (
                    out[:insert].rstrip()
                    + " GROUP BY "
                    + ", ".join(dim_cols)
                    + " "
                    + out[insert:]
                )
            else:
                body = semi[:-1] if trailing_semi else out.rstrip()
                out = body.rstrip() + " GROUP BY " + ", ".join(dim_cols) + (";" if trailing_semi else "")
        out = self._collapse_multifact_relations(out, info, sites, sql)
        out = self._strip_alias_namespace(out, info)
        out = _hoist_order_by_subqueries(out)
        return ExpandResult(out, had_aggregate=True, warnings=warnings)

    def _strip_alias_namespace(self, out: str, info: SelectInfo) -> str:
        """DuckDB exposes select aliases under an `alias.` namespace
        (`ORDER BY alias.year_total`, measures.test:1184-1194); Spark has
        no such scope.  Strip the qualifier when no FROM relation is
        actually named `alias` (a real table alias wins, :1196-1232)."""
        if any(t.effective.lower() == "alias" or t.name.lower() == "alias"
               for t in info.tables):
            return out
        select_aliases = {
            it.alias.lower() for it in info.items if it.alias
        }
        if not select_aliases:
            return out

        def repl(m: "re.Match[str]") -> str:
            name = m.group(1)
            return name if name.lower() in select_aliases else m.group(0)

        return re.sub(r"\balias\s*\.\s*([A-Za-z_]\w*)", repl, out)

    def _collapse_multifact_relations(
        self, out: str, info: SelectInfo, sites, original_sql: str
    ) -> str:
        """Multi-fact scale optimization: when measure views are joined
        purely to align their dimensions (every select item is a dim or an
        AGGREGATE() site, no direct aggregates anywhere), the row-level
        view join only determines WHICH dimension groups exist — measure
        values come from the ctx joins against each base.  Joining two
        base-cardinality views on a low-cardinality dim is then an
        accidental O(n*m) blow-up; collapse each view relation to
        SELECT DISTINCT <referenced dims> before the join.  Correctness:
        groups and ctx correlations are unchanged (any_value over >=1 row
        per group); skipped whenever a direct aggregate (COUNT(*), SUM of
        a joined column, window fn) could observe row multiplicity."""
        if not info.tables:
            return out
        single = len(info.tables) == 1
        for t in info.tables:
            if self.catalog.get(t.name) is None:
                return out
            if not t.alias and not single:
                return out
        for it in info.items:
            if it.is_star or it.is_aggregate:
                return out
        # only grouped queries may collapse — row-level results (Listing
        # 12) depend on base cardinality
        if find_top_level_keyword(out, "GROUP BY") is None:
            return out
        # any aggregate/window function outside AGGREGATE() sites -> bail
        from .ddl import find_aggregation_in_expression

        masked = original_sql
        for site in sorted(
            find_aggregate_sites(original_sql), key=lambda s: -s.start
        ):
            masked = masked[: site.start] + "1" + masked[site.end:]
        if find_aggregation_in_expression(masked) is not None:
            return out
        if re.search(r"\bOVER\s*\(", masked, re.IGNORECASE):
            return out
        # column references, from the FINAL sql (includes ctx join keys)
        qualified: dict[str, set] = {}
        unqualified: set = set()
        idents = list(iter_identifiers(out))
        for idx, (s, e, t) in enumerate(idents):
            nxt = next_nonspace(out, e)
            if nxt < len(out) and out[nxt] == ".":
                continue  # this token is a qualifier
            prev_q = None
            is_alias_def = False
            if idx > 0:
                ps, pe, pt = idents[idx - 1]
                between = out[pe:s]
                if between.strip() == ".":
                    prev_q = pt.lower()
                elif pt.upper() == "AS" and between.strip() == "":
                    is_alias_def = True  # output alias, not a column ref
            if prev_q:
                qualified.setdefault(prev_q, set()).add(t.lower())
            elif not is_alias_def:
                unqualified.add(t.lower())
        new_out = out
        for t in info.tables:
            cols = self.view_columns(t.name)
            if not cols:
                return out
            cols_lower = {c.lower(): c for c in cols}
            refs = qualified.get(t.effective.lower(), set()) & set(cols_lower)
            if single:
                # in a single-table query every bare column ref is this
                # view's (ctx-subquery idents that match are harmless —
                # extra DISTINCT columns only widen the group set)
                refs |= unqualified & set(cols_lower)
            elif unqualified & set(cols_lower):
                continue  # ambiguous bare refs might belong to this view
            if not refs:
                continue
            proj = ", ".join(sorted(cols_lower[r] for r in refs))
            alias = t.alias or t.name
            if t.alias:
                pat = re.compile(
                    rf"\b(FROM|JOIN)\s+{re.escape(t.name)}\s+(?:AS\s+)?"
                    rf"{re.escape(t.alias)}\b",
                    re.IGNORECASE,
                )
            else:
                pat = re.compile(
                    rf"\b(FROM|JOIN)\s+{re.escape(t.name)}\b(?!\s*\.)",
                    re.IGNORECASE,
                )
            m = pat.search(new_out)
            if m is None:
                continue
            # a subquery before the main FROM could also reference the
            # view; only rewrite when the first match IS the main FROM
            if re.search(r"\(\s*SELECT\b", new_out[: m.start()],
                         re.IGNORECASE):
                continue
            new_out = (
                new_out[: m.start()]
                + f"{m.group(1)} (SELECT DISTINCT {proj} "
                  f"FROM {t.name}) {alias}"
                + new_out[m.end():]
            )
        return new_out

    def _allowed_qualifiers(self, resolved: ResolvedMeasure, info: SelectInfo) -> set[str]:
        quals = {resolved.source_view.lower()}
        for t in info.tables:
            if t.name.lower() == resolved.source_view.lower():
                quals.add(t.effective.lower())
        return quals

    def _filter_dims_for_measure(
        self, dims: list[str], resolved: ResolvedMeasure, info: SelectInfo
    ) -> list[str]:
        """Keep query dims that belong to the measure's source view
        (filter_group_by_cols_for_measure + source-dim retention,
        measures.rs:7266-7304)."""
        source_dims = self._source_dim_names(resolved.source_view)
        allowed = self._allowed_qualifiers(resolved, info)
        out: list[str] = []
        for col in dims:
            ref = parse_simple_measure_ref(col)
            if ref and ref[0]:
                if ref[0].lower() in allowed or ref[1].lower() in source_dims:
                    out.append(col)
                continue
            key = normalize_dim_key(col)
            if (
                not source_dims
                or key in source_dims
                or key in resolved.dimension_exprs
                or any(_mentions_ident(col, d) for d in source_dims)
            ):
                out.append(col)
        return out

    def _needs_zero_coalesce(
        self, resolved: ResolvedMeasure, ctx: EvalContext, outer_where: str | None
    ) -> bool:
        """A LEFT JOIN miss yields NULL where the reference's correlated
        subquery computes an aggregate over zero rows.  Only COUNT-rooted
        expressions differ (COUNT() over empty = 0), and only contexts that
        can actually miss (SET translations / replaced filters)."""
        expr = resolved.eval_expression
        if not re.match(r"\s*COUNT\s*\(", expr, re.IGNORECASE):
            return False
        if ctx.set_conditions:
            return True
        if ctx.filter_sql is not None and ctx.corr_dims and (
            outer_where is None
            or normalize_ws(ctx.filter_sql).lower()
            != normalize_ws(strip_qualifiers(outer_where)).lower()
        ):
            return True
        return False

    def _ctx_for(
        self,
        ctxs: dict[tuple, CtxSpec],
        resolved: ResolvedMeasure,
        ctx: EvalContext,
        info: SelectInfo,
        counter: int,
        measure_name: str | None = None,
    ) -> tuple[CtxSpec, str]:
        base_sql = (
            resolved.base_relation_sql
            or (f"SELECT * FROM {resolved.base_table}" if resolved.base_table else None)
            or f"SELECT * FROM {resolved.source_view}"
        )

        inner_keys: list[str] = []
        outer_keys: list[str] = []
        if not ctx.grand_total:
            for dim in ctx.corr_dims:
                inner_keys.append(self._inner_expr_for_dim(dim, resolved))
                outer_keys.append(dim)
            for dim, value in ctx.set_conditions:
                inner_keys.append(self._inner_expr_for_dim(dim, resolved))
                outer_keys.append(value)

        filter_sql = None
        if ctx.filter_sql:
            filter_sql = strip_qualifiers(
                ctx.filter_sql, self._allowed_qualifiers(resolved, info) | {"_inner"}
            )
            filter_sql = self._apply_dim_exprs(filter_sql, resolved)

        probe = CtxSpec(
            alias="",
            value_exprs=[],
            value_aliases=[],
            inner_keys=inner_keys,
            outer_keys=outer_keys,
            base_sql=base_sql,
            filter_sql=filter_sql,
        )
        key = probe.key()
        spec = ctxs.get(key)
        if spec is None:
            probe.alias = f"__ys_ctx{len(ctxs)}"
            probe.window_specs = []
            ctxs[key] = spec = probe

        expr = self._apply_dim_exprs(resolved.eval_expression, resolved)
        window_spec = None
        if resolved.is_window:
            window_spec = (expr, measure_name or resolved.source_view)
        # reuse identical value expressions
        for va, ve, ws in zip(spec.value_aliases, spec.value_exprs, spec.window_specs):
            if normalize_ws(ve).lower() == normalize_ws(expr).lower() and (
                (ws is None) == (window_spec is None)
            ):
                return spec, va
        alias = f"__ys_v{len(spec.value_aliases)}"
        spec.value_exprs.append(expr)
        spec.value_aliases.append(alias)
        spec.window_specs.append(window_spec)
        return spec, alias

    def _inner_expr_for_dim(self, dim: str, resolved: ResolvedMeasure) -> str:
        key = normalize_dim_key(dim)
        mapped = resolved.dimension_exprs.get(key)
        if mapped and normalize_dim_key(mapped) != key:
            return mapped
        if "(" in dim:
            return strip_qualifiers(dim)
        return dim.split(".")[-1].strip()

    def _apply_dim_exprs(self, expr: str, resolved: ResolvedMeasure) -> str:
        """Replace view dimension aliases with their defining expressions so
        the text is valid over the raw base relation
        (qualify_where_for_inner_with_dimensions)."""
        mapping = {
            k: f"({v})"
            for k, v in resolved.dimension_exprs.items()
            if normalize_dim_key(v) != k
        }
        if not mapping:
            return expr
        return replace_identifiers(expr, mapping)

    def _inline_target(self, info: SelectInfo) -> MeasureView | None:
        """The measure view a site may aggregate over in place, or None.

        This is the reference's own decomposable-measure strategy —
        "measures re-aggregate over the view rows of the calling
        query" (/root/reference/README.md:129; the decomposable branch
        of expand_aggregate_with_at, measures.rs:7110-7592) — applied
        whenever the site's evaluation context provably equals the
        outer grouping; every other context keeps the join plan the
        reference calls preferred for recompute (measures.rs:5249).

        Inlining is only sound when the outer query reads exactly the
        view's row grain: a single-table FROM (no join fan-out — S8),
        no DISTINCT, and a view body that is a plain row-level SELECT
        (no GROUP BY materialization, no set operations, no DISTINCT)
        so appending base columns to its projection changes nothing.
        """
        if len(info.tables) != 1 or info.distinct:
            return None
        tref = info.tables[0]
        view = self.catalog.get(tref.name)
        if view is None:
            return None
        body = view.base_query
        for kw in ("UNION", "INTERSECT", "EXCEPT"):
            if find_top_level_keyword(body, kw) is not None:
                return None
        binfo = parse_select(body)
        if (
            binfo is None
            or binfo.from_start is None
            or binfo.distinct
            or binfo.group_by is not None
            or binfo.having is not None
        ):
            return None
        if binfo.select_pos > 0 and body[:binfo.select_pos].strip():
            return None  # CTE prefix — injection point would be ambiguous
        # prove the outer FROM reference is rewritable BEFORE any site
        # commits to the inline path: a quoting/formatting shape the
        # matcher misses must keep the join path, not crash mid-rewrite
        if self._inline_from_match(info.sql, info) is None:
            return None
        # the definitive base-scope column set: injected columns are
        # validated against it, so a non-column token in a measure
        # expression (a numeric type suffix like 1D, an EXTRACT field,
        # an INTERVAL unit) can never be injected — those sites fall
        # back to the always-correct context-join path instead
        avail: set[str] = set()
        for t in binfo.tables:
            cols = self.view_columns(t.name) if t.name else None
            if not cols:
                return None  # unresolvable base scope — no inlining
            avail.update(c.lower() for c in cols)
        self._inline_avail = avail
        return view

    def _inline_base_cols(
        self, expr: str, view: MeasureView
    ) -> list[str] | None:
        """Base-relation columns `expr` needs that the view does not
        already project, or None when a reference cannot be proven safe
        (an unexpanded measure name, a computed view alias the dim-expr
        mapping did not rewrite, or any token that is not a verified
        base-scope column — type suffixes, EXTRACT fields, INTERVAL
        units all land here and push the site to the join path)."""
        avail = getattr(self, "_inline_avail", None)
        if avail is None:
            return None
        outputs = {normalize_dim_key(c) for c in view.group_by_cols}
        passthrough = {
            k for k in outputs
            if normalize_dim_key(view.dimension_exprs.get(k, k)) == k
        }
        measure_names = {m.column_name.lower() for m in view.measures}
        cols: dict[str, None] = {}
        n = len(expr)
        for start, end, text in iter_identifiers(expr):
            t = text.lower()
            k = next_nonspace(expr, end)
            if k < n and expr[k] == "(":
                continue  # function name
            p = prev_nonspace(expr, start)
            if (p >= 0 and expr[p] == ".") or (k < n and expr[k] == "."):
                return None  # qualified ref — scope changes under rewrite
            if t.upper() in SQL_KEYWORDS:
                continue
            if t in measure_names:
                return None
            if t in passthrough:
                continue  # view projects this base column unchanged
            if t in outputs:
                return None  # computed alias the mapping missed
            if t not in avail:
                return None  # not a base column — cannot prove safe
            cols.setdefault(text)
        return list(cols)

    def _inline_from_match(self, sql: str, info: SelectInfo):
        """Locate the outer FROM's view reference in `sql`, or None.

        Returns (parsed SelectInfo for `sql`, regex match relative to
        its FROM region).  Used twice: as a dry-run gate in
        _inline_target (so unrewritable shapes keep the join path) and
        as the actual locator in _inline_rewrite_from."""
        if not info.tables:
            return None
        tref = info.tables[0]
        out = parse_select(sql)
        if out is None or out.from_start is None:
            return None
        region = sql[out.from_start:out.from_end]
        qual = (
            re.escape(tref.qualifier) + r"\s*\.\s*" if tref.qualifier else ""
        )
        pat = re.compile(
            r'(?is)\b' + qual + '("?)' + re.escape(tref.name) + r'("?)'
        )
        m = pat.search(region)
        if m is None:
            return None
        return out, m

    def _inline_rewrite_from(
        self, sql: str, info: SelectInfo, view: MeasureView,
        extra_cols: list[str],
    ) -> str:
        """Swap the outer FROM's view reference for an inline subquery:
        the view body with `extra_cols` appended to its projection, so
        inlined aggregate expressions see their base columns while every
        existing column reference keeps resolving (same aliases, same
        rows).  Catalyst collapses the nested projections."""
        tref = info.tables[0]
        body = view.base_query.strip().rstrip(";")
        if extra_cols:
            binfo = parse_select(body)
            if binfo is None or binfo.from_start is None:
                raise YardstickError(
                    f"inline rewrite: view body for {tref.name} lost its "
                    "FROM clause between _inline_target and rewrite"
                )
            body = (
                body[:binfo.from_start].rstrip()
                + ", " + ", ".join(extra_cols) + " "
                + body[binfo.from_start:]
            )
        alias = tref.alias or tref.name
        found = self._inline_from_match(sql, info)
        if found is None:
            # _inline_target dry-ran this same match on the pre-rewrite
            # SQL, so this is unreachable unless site replacement mangled
            # the FROM region; fail loudly rather than emit wrong SQL
            raise YardstickError(
                f"inline rewrite: FROM target {tref.name} not found"
            )
        out, m = found
        region = sql[out.from_start:out.from_end]
        tail = region[m.end():]
        has_alias = bool(re.match(r"\s+(?!(AS\s+)?(WHERE|GROUP|HAVING|"
                                  r"QUALIFY|WINDOW|ORDER|LIMIT|OFFSET|"
                                  r"JOIN|ON|USING)\b)(AS\s+)?[A-Za-z_\"]",
                                  tail, re.IGNORECASE)) if tail.strip() else False
        repl = f"({body})" + ("" if has_alias else f" AS {alias}")
        region = region[:m.start()] + repl + tail
        return sql[:out.from_start] + region + sql[out.from_end:]

    def _attach_joins(self, sql: str, specs: list[CtxSpec]) -> str:
        info = parse_select(sql)
        assert info is not None and info.from_end is not None
        joins: list[str] = []
        for spec in specs:
            ctx_sql = self._render_ctx_sql(spec)
            if spec.inner_keys:
                conds = " AND ".join(
                    f"{spec.alias}.__ys_k{i} <=> ({outer})"
                    for i, outer in enumerate(spec.outer_keys)
                )
            else:
                conds = "TRUE"
            joins.append(f" LEFT JOIN ({ctx_sql}) AS {spec.alias} ON {conds}")
        insert = info.from_end
        return sql[:insert].rstrip() + "".join(joins) + " " + sql[insert:]

    def _ctx_source(self, spec: CtxSpec) -> str:
        """FROM(+WHERE) text for a context query over the base relation.

        When the base is the canonical `SELECT * FROM <from> [WHERE c]`
        shape, splice the FROM clause in directly instead of wrapping it
        as a derived table: a view body that JOINS tables with aliases
        (`FROM orders o JOIN nation n ...`) keeps those aliases visible,
        so qualified dimension/measure expressions (`n.n_name`,
        `SUM(o.o_totalprice)`) still resolve — a derived-table wrapper
        erases the inner aliases and breaks them.  Set-op bases arrive
        as `SELECT * FROM (body)` and so also take the splice
        (harmlessly — the tail is a parenthesized subquery); only
        CTE-prefixed bases keep the wrapper."""
        m = re.match(r"\s*SELECT\s+\*\s+FROM\s", spec.base_sql, re.IGNORECASE)
        if m:
            tail = spec.base_sql[m.end():].strip()
            # the splice assumes nothing after FROM but an optional
            # WHERE; any other trailing clause (ORDER BY/LIMIT/GROUP
            # BY/HAVING) would make `FROM <tail> WHERE f` invalid or
            # swallow the clause into the condition — wrap instead
            kw = find_first_top_level_keyword(
                tail, 0, ["GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
                          "QUALIFY", "WINDOW"]
            )
            if kw is None:
                if not spec.filter_sql:
                    return f"FROM {tail}"
                wpos = find_top_level_keyword(tail, "WHERE")
                if wpos is None:
                    return f"FROM {tail} WHERE {spec.filter_sql}"
                cond = tail[wpos + 5:].strip()
                return (f"FROM {tail[:wpos]} WHERE ({cond}) "
                        f"AND ({spec.filter_sql})")
        where = f" WHERE {spec.filter_sql}" if spec.filter_sql else ""
        return f"FROM ({spec.base_sql}){where}"

    def _render_ctx_sql(self, spec: CtxSpec) -> str:
        key_items = [
            f"{k} AS __ys_k{i}" for i, k in enumerate(spec.inner_keys)
        ]
        source = self._ctx_source(spec)
        has_window = any(ws is not None for ws in spec.window_specs)
        if not has_window:
            value_items = [
                f"{e} AS {a}" for e, a in zip(spec.value_exprs, spec.value_aliases)
            ]
            select = ", ".join(key_items + value_items)
            group = (
                " GROUP BY " + ", ".join(f"__ys_k{i}" for i in range(len(spec.inner_keys)))
                if spec.inner_keys
                else ""
            )
            return f"SELECT {select} {source}{group}"
        # window-measure recompute: evaluate window rows per context
        # partition, then enforce single-valuedness (N4,
        # measures.rs:5233-5247; error contract measures.test:2977-3033)
        row_items = list(key_items)
        for idx, (e, a) in enumerate(zip(spec.value_exprs, spec.value_aliases)):
            ws = spec.window_specs[idx]
            if ws is None:
                row_items.append(f"{e} AS __ys_raw{idx}")
            else:
                row_items.append(
                    f"{_inject_partition(e, [f'__ys_k{i}' for i in range(len(spec.inner_keys))], spec.inner_keys)} AS __ys_raw{idx}"
                )
        inner = f"SELECT {', '.join(row_items)} {source}"
        outer_vals = []
        for idx, a in enumerate(spec.value_aliases):
            ws = spec.window_specs[idx]
            if ws is None:
                outer_vals.append(f"any_value(__ys_raw{idx}) AS {a}")
            else:
                mname = ws[1]
                outer_vals.append(
                    f"CASE WHEN count(distinct __ys_raw{idx}) "
                    f"+ (CASE WHEN count(*) > count(__ys_raw{idx}) THEN 1 ELSE 0 END) > 1 "
                    f"THEN raise_error('Window measure {mname} returned multiple "
                    f"values for the evaluation context') "
                    f"ELSE any_value(__ys_raw{idx}) END AS {a}"
                )
        keys_sel = [f"__ys_k{i}" for i in range(len(spec.inner_keys))]
        group = " GROUP BY " + ", ".join(keys_sel) if keys_sel else ""
        sel = ", ".join(keys_sel + outer_vals)
        return f"SELECT {sel} FROM ({inner}){group}"


def _hoist_order_by_subqueries(sql: str) -> str:
    """Spark's planner rejects subqueries inside ORDER BY (only filters /
    projections / aggregations allowed; measures.test:1261, :1285).
    Rewrite to a three-layer form where the sort keys are computed as
    projected helper columns over the query's OUTPUT rows:

        SELECT a, b FROM t x ORDER BY (SELECT v FROM s WHERE s.k = x.a)
        -> SELECT a, b FROM (
             SELECT __ys_qi.*, (SELECT v FROM s WHERE s.k = __ys_qi.a)
                    AS __ys_ord0
             FROM (SELECT a, b FROM t x) __ys_qi) __ys_q
           ORDER BY __ys_ord0

    Outer-alias refs inside the sort keys are re-qualified to __ys_qi's
    output columns; `X IN (SELECT ...)` sort keys become scalar
    count-comparisons (IN is likewise unsupported in projections)."""
    info = parse_select(sql)
    if info is None or info.order_by is None:
        return sql
    if not re.search(r"\(\s*SELECT\b", info.order_by, re.IGNORECASE):
        return sql
    ob_pos = find_top_level_keyword(sql, "ORDER BY")
    if ob_pos is None:
        return sql
    ob_start = ob_pos + len("ORDER BY")
    stop = find_first_top_level_keyword(sql, ob_start, ["LIMIT", "OFFSET"])
    ob_end = stop[0] if stop else len(sql.rstrip().rstrip(";"))
    tail = sql[ob_end:].rstrip().rstrip(";")
    items = split_top_level(sql[ob_start:ob_end])

    out_cols: list[str] = []
    for it in info.items:
        if it.is_star:
            return sql  # cannot enumerate output columns
        name = it.alias or it.expr.split(".")[-1].strip().strip('"`')
        if not re.match(r"^[A-Za-z_]\w*$", name):
            return sql
        out_cols.append(name)
    out_col_set = {c.lower() for c in out_cols}
    aliases = {t.effective.lower() for t in info.tables}

    def requalify(text: str, to: str) -> str | None:
        """alias.col -> <to>col for inner table aliases; fails (None) if
        the referenced col is not an output column."""
        pieces: list[str] = []
        last = 0
        for m in re.finditer(r"\b([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)", text):
            if m.group(1).lower() not in aliases:
                continue
            if m.group(2).lower() not in out_col_set:
                return None
            pieces.append(text[last:m.start()])
            pieces.append(f"{to}{m.group(2)}")
            last = m.end()
        pieces.append(text[last:])
        return "".join(pieces)

    helper_items: list[str] = []
    new_order: list[str] = []
    changed = False
    for idx, raw in enumerate(items):
        item = raw.strip()
        m = re.search(r"\s+(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?\s*$",
                      item, re.IGNORECASE)
        suffix = item[m.start():] if m else ""
        body = item[: m.start()] if m else item
        if not re.search(r"\(\s*SELECT\b", body, re.IGNORECASE):
            plain = requalify(body, "")
            if plain is None:
                return sql
            new_order.append(plain + suffix)
            continue
        body = requalify(body, "__ys_qi.")
        if body is None:
            return sql
        def in_repl(mm: "re.Match[str]") -> str:
            x = mm.group(1)
            # a bare output-column ref would be shadowed by the subquery's
            # own scope — qualify it against the wrapped query
            if re.match(r"^[A-Za-z_]\w*$", x) and x.lower() in out_col_set:
                x = f"__ys_qi.{x}"
            return (f"((SELECT count(*) FROM ({mm.group(2)}) __ys_in "
                    f"WHERE __ys_in.{_first_select_col(mm.group(2))}"
                    f" = {x}) > 0)")

        body = re.sub(
            r"(\S+)\s+IN\s*\(\s*(SELECT\b[^()]*(?:\([^()]*\)[^()]*)*)\)",
            in_repl,
            body,
            flags=re.IGNORECASE,
        )
        alias = f"__ys_ord{idx}"
        helper_items.append(f"{body} AS {alias}")
        new_order.append(alias + suffix)
        changed = True
    if not changed:
        return sql

    inner = sql[:ob_pos].rstrip().rstrip(";")
    return (
        f"SELECT {', '.join(out_cols)} FROM ("
        f"SELECT __ys_qi.*, {', '.join(helper_items)} "
        f"FROM ({inner}) __ys_qi) __ys_q "
        f"ORDER BY {', '.join(new_order)}{tail}"
    )


def _first_select_col(select_sql: str) -> str:
    inf = parse_select(select_sql)
    if inf and inf.items:
        it = inf.items[0]
        return it.alias or it.expr.split(".")[-1].strip().strip('"`')
    return "col1"


def _split_top_level_and(cond: str) -> list[str]:
    parts: list[str] = []
    i, n, last, depth = 0, len(cond), 0, 0
    upper = cond.upper()
    while i < n:
        j = skip_code_unit(cond, i)
        if j > i:
            i = j
            continue
        c = cond[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (depth == 0 and upper.startswith("AND", i)
              and is_word_boundary(cond, i, i + 3)):
            parts.append(cond[last:i])
            last = i + 3
            i += 3
            continue
        i += 1
    parts.append(cond[last:])
    return [p for p in (x.strip() for x in parts) if p]


def _has_top_level_or(cond: str) -> bool:
    i, n, depth = 0, len(cond), 0
    upper = cond.upper()
    while i < n:
        j = skip_code_unit(cond, i)
        if j > i:
            i = j
            continue
        c = cond[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (depth == 0 and upper.startswith("OR", i)
              and is_word_boundary(cond, i, i + 2)):
            return True
        i += 1
    return False


def _find_top_level_eq(expr: str) -> int | None:
    i, n, depth = 0, len(expr), 0
    while i < n:
        j = skip_code_unit(expr, i)
        if j > i:
            i = j
            continue
        c = expr[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and c == "=":
            prev = expr[i - 1] if i > 0 else ""
            nxt = expr[i + 1] if i + 1 < n else ""
            if prev in "<>!=" or nxt in "=>":
                i += 1
                continue
            return i
        i += 1
    return None


def _extract_filter_correlations(
    cond: str, info: SelectInfo
) -> tuple[list[tuple[str, str]], str | None]:
    """Split an AT (WHERE ...) condition into (inner_expr, outer_expr)
    correlation pairs (conjuncts of form `x = outer_alias.y`) and the
    residual uncorrelated filter.  Qualified refs mean the OUTER row;
    unqualified refs mean the evaluation relation (the reference's
    qualify_outer_reference convention)."""
    if _has_top_level_or(cond):
        return [], cond
    # only EXPLICIT table aliases mark outer-row references; a bare view
    # name qualifier (`sales_v.region = 'US'`, measures.test:1381-1390)
    # means the evaluation relation and is stripped like any inner ref
    aliases = {t.alias.lower() for t in info.tables if t.alias}

    def outer_qualified(side: str) -> bool:
        idents = list(iter_identifiers(side))
        for idx in range(len(idents) - 1):
            s, e, t = idents[idx]
            s2, _, _ = idents[idx + 1]
            if side[e:s2].strip() == "." and t.lower() in aliases:
                return True
        return False

    def references_column(side: str) -> bool:
        for s, e, t in iter_identifiers(side):
            k = next_nonspace(side, e)
            if k < len(side) and side[k] == "(":
                continue  # function call
            if t.upper() in ("NULL", "TRUE", "FALSE", "DATE", "TIMESTAMP",
                             "INTERVAL", "AND", "OR", "NOT"):
                continue
            return True
        return False

    corr: list[tuple[str, str]] = []
    rest: list[str] = []
    for part in _split_top_level_and(cond):
        eq = _find_top_level_eq(part)
        handled = False
        if eq is not None:
            lhs, rhs = part[:eq].strip(), part[eq + 1:].strip()
            lo, ro = outer_qualified(lhs), outer_qualified(rhs)
            if lo and not ro and references_column(rhs):
                corr.append((rhs, lhs))
                handled = True
            elif ro and not lo and references_column(lhs):
                corr.append((lhs, rhs))
                handled = True
        if not handled:
            rest.append(part)
    return corr, (" AND ".join(rest) if rest else None)


def _inject_partition(window_expr: str, keys: list[str], raw_keys: list[str]) -> str:
    """Inject PARTITION BY <context keys> into the measure's OVER clause so
    the window evaluates within each correlation group."""
    if not raw_keys:
        return window_expr
    m = re.search(r"\bOVER\s*\(", window_expr, re.IGNORECASE)
    if not m:
        return window_expr
    open_pos = m.end() - 1
    close = find_matching_paren(window_expr, open_pos)
    if close is None:
        return window_expr
    inside = window_expr[open_pos + 1 : close].strip()
    keys_sql = ", ".join(raw_keys)
    if re.match(r"^PARTITION\s+BY\b", inside, re.IGNORECASE):
        new_inside = re.sub(
            r"^PARTITION\s+BY\b",
            f"PARTITION BY {keys_sql},",
            inside,
            flags=re.IGNORECASE,
        )
    elif inside:
        new_inside = f"PARTITION BY {keys_sql} {inside}"
    else:
        new_inside = f"PARTITION BY {keys_sql}"
    return window_expr[: open_pos + 1] + new_inside + window_expr[close:]


def _mentions_ident(expr: str, name: str) -> bool:
    low = name.lower()
    return any(t.lower() == low for _, _, t in iter_identifiers(expr))


def _mentions_ident_outside_current(expr: str, name: str) -> bool:
    """expr mentions `name` not immediately preceded by CURRENT."""
    low = name.lower()
    idents = list(iter_identifiers(expr))
    for idx, (start, end, t) in enumerate(idents):
        if t.lower() != low:
            continue
        if idx > 0 and idents[idx - 1][2].upper() == "CURRENT":
            between = expr[idents[idx - 1][1] : start]
            if between.strip() == "":
                continue
        return True
    return False
