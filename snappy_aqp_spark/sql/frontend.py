"""SQL front-end: ``SELECT ... WITH ERROR e [CONFIDENCE c] [BEHAVIOR 'b']``.

Rebuilds the reference's parser surface (sql/snappyAQPParsers.scala:39-106 —
a parboiled2 PEG extending the Snappy parser) as a lightweight single-block
SELECT parser: the reference's AQP grammar only *adds* the trailing WITH
clause, the ``CREATE SAMPLE TABLE`` DDL and four error functions; everything
else stays standard SQL and falls through to ``spark.sql`` untouched.

Routing parity (common/QueryRoutingRules.scala:55-92,
QueryProcessingRules.scala:1335-1459):
  * only SUM / AVG / COUNT are approximated; MIN/MAX alongside them bypass
    error calculation when their arg is in the QCS (ByPassErrorCalc,
    QueryRoutingRules.scala:55-92) and route the whole query exact
    otherwise; COUNT(DISTINCT ...), COUNT(IF(...)), window functions and
    other constructs route the query to the base table exactly, with error
    functions constant-folded to 0 / identity (QueryRoutingRules.scala:370-404)
  * closed-form is the default estimator; AVG with a HAVING above the
    aggregate picks bootstrap (QueryProcessingRules.scala:1421-1447)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from ..specs import (BEHAVIORS, ERROR_FUNCTIONS, ApproxAgg, ApproxQuerySpec,
                     CompositeSpec, JoinSpec, SubqueryPred)
from ..tables import DEFAULT_COL_BOUNDS
from . import composite as comp

# WITH ERROR is optional: the reference also accepts bare trailing
# `CONFIDENCE x` / `BEHAVIOR 'y'` clauses (QuerySyntaxTestSuite.scala:123-165)
# whose error then resolves from the session/connection default. Unlike the
# reference's fixed ERROR->CONFIDENCE->BEHAVIOR rule, components here may
# appear in ANY order — `confidence .85 with error .07` is the reference's
# own ignored SNAP-225 test (BootStrapAggregateFunctionTest.scala:89-101),
# deferred there because the parboiled rule can't reorder.
_WITH_COMPONENT_RE = re.compile(
    r"(?<![A-Za-z0-9_])(?:"
    r"(?P<w>WITH\s+ERROR)(?:\s+(?P<e>[0-9.eE+-]+))?"
    r"|CONFIDENCE\s+(?P<c>[0-9.eE+-]+)"
    r"|BEHAVIOR\s+'(?P<b>\w+)'"
    r")\s*;?\s*$",
    re.IGNORECASE)

_CLAUSES = ["FROM", "WHERE", "GROUP BY", "HAVING", "ORDER BY", "LIMIT"]


class SQLFrontendError(ValueError):
    pass


@dataclass
class WithClause:
    error: float | None
    confidence: float | None
    behavior: str | None
    has_error_kw: bool = True     # WITH ERROR keyword present (vs bare
                                  # CONFIDENCE/BEHAVIOR trailing clause)


def validate_error_confidence(error: float | None,
                              confidence: float | None) -> None:
    """Reference range contract (QuerySyntaxTestSuite.scala:168-259):
    0 < error < 1 and 0 < confidence < 1, both endpoints excluded. A
    NEGATIVE error is not a range violation — it is the reference's
    'AQP disabled' sentinel (`spark.sql.aqp.error=-1d`): the query routes
    exact instead of raising."""
    if error is not None and error >= 0 and not 0 < error < 1:
        raise SQLFrontendError(
            f"error within range of 0 to 1 required, got {error}")
    if confidence is not None and not 0 < confidence < 1:
        raise SQLFrontendError(
            f"confidence within range of 0 to 1 required, got {confidence}")


@dataclass
class ParsedSelect:
    select_items: list[tuple[str, str | None]]      # (expr, alias)
    from_table: str
    from_alias: str | None = None       # ``FROM t alias`` (kept: WHERE/ON
                                        # may reference columns through it)
    joins: list[JoinSpec] = field(default_factory=list)
    where: str | None = None
    group_by: list[str] = field(default_factory=list)
    having: str | None = None
    order_by: list[str] = field(default_factory=list)
    limit: int | None = None


def strip_with_clause(sql: str) -> tuple[str, WithClause | None]:
    head = sql
    err = conf = beh = None
    has_error_kw = False
    while True:
        m = _WITH_COMPONENT_RE.search(head)
        if not m:
            break
        if m.group("w"):
            val = float(m.group("e")) if m.group("e") else None
            if has_error_kw and err is not None and val is not None:
                raise SQLFrontendError("duplicate WITH ERROR clause")
            # a second BARE `WITH ERROR` is the reference's trailing
            # ErrorDefaults marker (snappyAQPParsers.scala:52) — keep the
            # valued one
            has_error_kw = True
            err = val if val is not None else err
        elif m.group("c") is not None:
            if conf is not None:
                raise SQLFrontendError("duplicate CONFIDENCE clause")
            conf = float(m.group("c"))
        else:
            if beh is not None:
                raise SQLFrontendError("duplicate BEHAVIOR clause")
            beh = m.group("b").lower()
        head = head[:m.start()].rstrip()
    if not (has_error_kw or conf is not None or beh is not None):
        return sql, None
    wc = WithClause(error=err, confidence=conf, behavior=beh,
                    has_error_kw=has_error_kw)
    if wc.behavior is not None and wc.behavior not in BEHAVIORS:
        raise SQLFrontendError(f"unknown behavior '{wc.behavior}'")
    validate_error_confidence(wc.error, wc.confidence)
    # the reference grammar is (WITH ERROR expr)? (CONFIDENCE)? (BEHAVIOR)?
    # (snappyAQPParsers.scala:48-52) — "WITH BEHAVIOR"/"WITH CONFIDENCE"
    # is invalid there; without this check the bare-clause match would
    # silently leave the dangling WITH in the query text
    if re.search(r"\bWITH\s*$", head, re.IGNORECASE):
        raise SQLFrontendError(
            "expected ERROR after WITH (the clause grammar is "
            "[WITH ERROR <f>] [CONFIDENCE <f>] [BEHAVIOR '<b>'])")
    return head, wc


def _split_top(s: str, sep: str = ",") -> list[str]:
    """split on top-level separators (paren- and quote-aware)."""
    parts, depth, cur, i = [], 0, [], 0
    in_str = False
    while i < len(s):
        ch = s[i]
        if in_str:
            cur.append(ch)
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif depth == 0 and ch == sep:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


def _find_clauses(sql: str) -> dict[str, str]:
    """locate top-level clause keywords and slice the query."""
    upper = sql.upper()
    positions: list[tuple[int, str]] = []
    depth = 0
    in_str = False
    i = 0
    while i < len(sql):
        ch = sql[i]
        if in_str:
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            for kw in _CLAUSES:
                end = i + len(kw)
                if (upper.startswith(kw, i)
                        and (i == 0 or not upper[i - 1].isalnum())
                        and (end >= len(sql) or not upper[end].isalnum())):
                    positions.append((i, kw))
                    i = end - 1
                    break
        i += 1
    if not upper.lstrip().startswith("SELECT"):
        raise SQLFrontendError("expected SELECT")
    sel_start = upper.index("SELECT") + len("SELECT")
    out: dict[str, str] = {}
    bounds = positions + [(len(sql), "")]
    out["SELECT"] = sql[sel_start:bounds[0][0]].strip()
    for (pos, kw), (nxt, _) in zip(positions, bounds[1:]):
        out[kw] = sql[pos + len(kw):nxt].strip()
    return out


_JOIN_RE = re.compile(
    r"\s+(?P<how>INNER\s+|LEFT\s+(?:OUTER\s+)?|RIGHT\s+(?:OUTER\s+)?)?JOIN\s+"
    r"(?P<table>\w+)(?:\s+(?:AS\s+)?(?P<alias>(?!ON\b)\w+))?\s+ON\s+",
    re.IGNORECASE)

# plain relation with an optional alias: ``table [AS] alias`` (the
# reference's perf/join corpora qualify everything through aliases, e.g.
# ``FROM FlightData fd, Flight fl`` — perfJoinQueries.sql:1-4)
_REL_RE = re.compile(r"^(?P<table>\w+)(?:\s+(?:AS\s+)?(?P<alias>\w+))?$",
                     re.IGNORECASE)

# derived table in FROM: ``(SELECT ...) [AS] alias`` — inlined like a
# projection view (the reference routes FROM-clause subqueries through the
# sample after analysis; SubQueryRoutingTestSuite.scala "subquery in from
# clause" protocols)
_DERIVED_RE = re.compile(
    r"^\(\s*(?P<sub>SELECT\b.*)\)\s*(?:AS\s+)?(?P<alias>\w+)?\s*$",
    re.IGNORECASE | re.DOTALL)


def _strip_alias_prefix(text: str | None, alias: str) -> str | None:
    """drop ``alias.`` qualifiers after a derived table is inlined."""
    if not text:
        return text
    return re.sub(rf"(?<![\w.]){re.escape(alias)}\.(?=\w)", "", text,
                  flags=re.IGNORECASE)


def _strip_qualifiers(text: str | None, quals: set[str]) -> str | None:
    """Drop ``alias.`` / ``table.`` column qualifiers (string-literal-aware).

    The engine executes fragments against joined DataFrames whose columns
    carry no relation qualifier, so ``fd.uniquecarrier`` must become
    ``uniquecarrier``. Sound when column names are unique across the joined
    relations (true of the TPC-H-ish test schema); a genuinely ambiguous
    schema would need per-relation renames — out of scope, the reference's
    own test corpora never alias two same-named measure columns into one
    approx query."""
    if not text or not quals:
        return text
    alt = "|".join(sorted((re.escape(q) for q in quals), key=len,
                          reverse=True))
    pat = re.compile(rf"('(?:[^']|'')*')|(?<![\w.])(?:{alt})\.(?=\w)",
                     re.IGNORECASE)
    return pat.sub(lambda m: m.group(1) if m.group(1) is not None else "",
                   text)


def _split_item_alias(part: str) -> tuple[str, str | None]:
    """Select-list item -> (expr, alias). Accepts ``expr AS alias`` and the
    bare form ``expr alias`` (reference corpora: ``COUNT(*) sample_``,
    validationQueries.sql:2; ``ROUND(pickup_latitude, 4) lat``). The bare
    form is recognized only when the alias follows a closing paren or a
    single identifier — never inside arithmetic."""
    part = part.strip()
    am = re.search(r"\s+AS\s+(\w+)\s*$", part, re.IGNORECASE)
    if am:
        return part[:am.start()].strip(), am.group(1)
    bm = (re.match(r"^(.*\))\s+(\w+)$", part, re.DOTALL)
          or re.match(r"^([A-Za-z_]\w*(?:\.\w+)?)\s+([A-Za-z_]\w*)$", part))
    if bm:
        return bm.group(1).strip(), bm.group(2)
    return part, None


def parse_select(sql: str) -> ParsedSelect:
    clauses = _find_clauses(sql)
    if "FROM" not in clauses:
        raise SQLFrontendError("expected FROM")
    frm = clauses["FROM"]
    # comma-separated FROM list = implicit cross joins whose predicates live
    # in WHERE (the reference's perf corpus is written in this style,
    # perfJoinQueries.sql:1-4); Catalyst and DuckDB both fold the WHERE
    # equalities back into equi-joins, so we keep them there untouched
    segments = _split_top(frm)
    if not segments:
        raise SQLFrontendError("empty FROM")
    base_seg, cross_segs = segments[0], segments[1:]
    joins: list[JoinSpec] = []
    quals: set[str] = set()           # alias/table names to strip as prefixes
    from_alias = None
    m = _JOIN_RE.search(base_seg)
    if m:
        base = base_seg[:m.start()].strip()
        rest = base_seg[m.start():]
        while True:
            m = _JOIN_RE.match(rest)
            if not m:
                break
            nxt = _JOIN_RE.search(rest, m.end())
            on = rest[m.end():nxt.start() if nxt else len(rest)].strip()
            how = (m.group("how") or "inner").strip().lower().split()[0]
            joins.append(JoinSpec(m.group("table"), on, how,
                                  alias=m.group("alias")))
            quals.add(m.group("table").lower())
            if m.group("alias"):
                quals.add(m.group("alias").lower())
            rest = rest[nxt.start():] if nxt else ""
            if not rest:
                break
    else:
        base = base_seg.strip()
    for seg in cross_segs:
        rm = _REL_RE.match(seg.strip())
        if rm is None:
            raise SQLFrontendError(
                f"unsupported FROM-list relation: {seg!r} (routes exact)")
        joins.append(JoinSpec(rm.group("table"), None, "cross",
                              alias=rm.group("alias")))
        quals.add(rm.group("table").lower())
        if rm.group("alias"):
            quals.add(rm.group("alias").lower())
    derived = None
    if not re.fullmatch(r"\w+", base):
        rm = _REL_RE.match(base)
        if rm is not None and rm.group("alias"):
            base = rm.group("table")
            from_alias = rm.group("alias")
            quals.add(rm.group("alias").lower())
        else:
            derived = _DERIVED_RE.match(base)
            if derived is None:
                raise SQLFrontendError(
                    f"unsupported FROM: {base!r} (subqueries route exact)")
    if re.fullmatch(r"\w+", base or ""):
        quals.add(base.lower())

    items = []
    for part in _split_top(clauses["SELECT"]):
        items.append(_split_item_alias(part))

    limit = None
    if "LIMIT" in clauses:
        limit = int(clauses["LIMIT"].strip())

    # GROUP BY / ORDER BY ordinals (`GROUP BY 1,2`, `ORDER BY 2 DESC`) —
    # standard positional references into the select list; the reference's
    # NYC corpus uses them throughout (sampleTableNYCQueries.sql:1,5).
    # Resolved here so downstream analysis never sees a bare literal (which
    # would silently group every row into one bucket).
    # positional ONLY when the whole item is a bare integer literal plus an
    # optional ASC/DESC [NULLS FIRST|LAST] suffix — `ORDER BY 2 + 1` is a
    # constant expression in Spark/DuckDB, not an ordinal, and must pass
    # through unchanged
    _ORDINAL_RE = re.compile(
        r"^(\d+)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$",
        re.IGNORECASE)

    def deref(item: str, keep_alias: bool) -> str:
        dm = _ORDINAL_RE.match(item.strip())
        if not dm:
            return item
        idx = int(dm.group(1)) - 1
        if not 0 <= idx < len(items):
            raise SQLFrontendError(f"ORDER/GROUP BY position {idx + 1} "
                                   f"out of range")
        expr, alias = items[idx]
        ref = (alias if keep_alias and alias else expr)
        return ref + (dm.group(2) or "")
    # Qualifier handling: SELECT/GROUP BY/HAVING/ORDER BY fragments execute
    # post-join (or over output aliases) where relation qualifiers are gone,
    # so ``fd.x`` strips to ``x`` there (sound while measure names are
    # unique across the join — the documented envelope). WHERE and join ON
    # keep their qualifiers verbatim: both executors plan every relation
    # under its alias, so ``fd.uniqueCarrier = ref.Code AND
    # fl.uniqueCarrier = ref.Code`` stays unambiguous even when the two
    # fact tables share the column name (perfJoinQueries.sql:1-4 — a
    # stripped rewrite would silently conflate the two predicates).
    sq = lambda t: _strip_qualifiers(t, quals)      # noqa: E731
    out = ParsedSelect(
        select_items=[(sq(e), a) for e, a in items],
        from_table="__derived__" if derived else base,
        from_alias=from_alias,
        joins=joins,
        where=clauses.get("WHERE"),
        group_by=[sq(deref(g, keep_alias=False))
                  for g in _split_top(clauses.get("GROUP BY", ""))],
        having=sq(clauses.get("HAVING")),
        order_by=[sq(deref(o, keep_alias=True))
                  for o in _split_top(clauses.get("ORDER BY", ""))],
        limit=limit)
    if derived is None:
        return out
    inner = parse_select(derived.group("sub"))
    if not is_projection_view(inner):
        raise SQLFrontendError(
            "non-projection derived table routes exact")
    alias = derived.group("alias")
    if alias:
        import dataclasses
        sa = lambda t: _strip_alias_prefix(t, alias)     # noqa: E731
        out = dataclasses.replace(
            out,
            select_items=[(sa(e), a) for e, a in out.select_items],
            joins=[dataclasses.replace(j, on=sa(j.on)) for j in out.joins],
            where=sa(out.where),
            group_by=[sa(g) for g in out.group_by],
            having=sa(out.having),
            order_by=[sa(o) for o in out.order_by])
    return expand_view(out, {"__derived__": inner})


_AGG_RE = re.compile(r"^(SUM|AVG|COUNT|MIN|MAX)\s*\((.*)\)$",
                     re.IGNORECASE | re.DOTALL)


def _balanced(text: str) -> bool:
    """parens balanced and never negative — distinguishes one aggregate
    call from composites like ``sum(a)/sum(b)`` under _AGG_RE's greedy arg."""
    depth = 0
    for ch in text:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0
# target: an alias, OR the aggregate's own function text — the reference's
# DataFrame API addresses unaliased aggregates as "avg(col)" and @ignore's
# its test for it (AbstractAQPDataFrameAPIPart1Test.scala:457-465); here
# both spellings resolve
_ERRFN_RE = re.compile(r"^(ABSOLUTE_ERROR|RELATIVE_ERROR|LOWER_BOUND|UPPER_BOUND)"
                       r"\s*\(\s*(\w+(?:\s*\(\s*[^()]*\s*\))?)\s*\)$",
                       re.IGNORECASE)
# unanchored form: direct error-fn calls inside HAVING/ORDER BY text.
# The target alternative mirrors _ERRFN_RE: a bare alias OR the aggregate's
# own function text (lower_bound(avg(l_quantity))) — both spellings must
# fold/rewrite on every route, not just the anchored select-item path
_ERRFN_CALL_RE = re.compile(
    r"\b(ABSOLUTE_ERROR|RELATIVE_ERROR|LOWER_BOUND|UPPER_BOUND)"
    r"\s*\(\s*(\w+(?:\s*\(\s*[^()]*\s*\))?)\s*\)", re.IGNORECASE)
_UNSUPPORTED_RE = re.compile(
    r"\bOVER\s*\(|\bDISTINCT\b|\bGROUPING\b|\bCUBE\b|\bROLLUP\b",
    re.IGNORECASE)
# conditional counts — COUNT(IF(..)) / COUNT(CASE ..) — are NOT weighted
# like plain counts (the condition interacts with stratification); the
# reference routes them exact (common/QueryRoutingRules.scala:55-92)
_COND_COUNT_RE = re.compile(r"\bIF\s*\(|\bCASE\b", re.IGNORECASE)
# decimal-typed measure: SUM/AVG(CAST(expr AS DECIMAL(p, s))) takes the
# exact decimal-widening path (reference QueryProcessingRules.scala:1461-1466)
_DEC_MEASURE_RE = re.compile(
    r"^CAST\s*\(.*\s+AS\s+DECIMAL\s*\(\s*\d+\s*,\s*(\d+)\s*\)\s*\)$",
    re.IGNORECASE | re.DOTALL)


_SUBQ_OPEN_RE = re.compile(r"\(\s*SELECT\b", re.IGNORECASE)
_IN_SUBQ_RE = re.compile(r"^(?P<lhs>.+?)\s+(?P<neg>NOT\s+)?IN\s*"
                         r"\(\s*(?P<sub>SELECT\b.*)\)$",
                         re.IGNORECASE | re.DOTALL)


def _split_and(s: str) -> list[str]:
    """split a boolean expression on top-level ANDs (paren/quote aware)."""
    parts, cur = [], []
    depth, in_str, i = 0, False, 0
    up = s.upper()
    while i < len(s):
        ch = s[i]
        if in_str:
            cur.append(ch)
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif (depth == 0 and up.startswith("AND", i)
              and (i == 0 or not up[i - 1].isalnum() and up[i - 1] != "_")
              and (i + 3 >= len(s) or not (up[i + 3].isalnum() or up[i + 3] == "_"))):
            parts.append("".join(cur).strip())
            cur = []
            i += 2
        else:
            cur.append(ch)
        i += 1
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


def extract_subqueries(where: str) -> tuple[str | None, tuple[SubqueryPred, ...]]:
    """Split a WHERE clause into plain conjuncts and subquery predicates
    (the front half of the reference's PlaceHolderPlan routing,
    QueryProcessingRules.scala:119-148). Supported per conjunct:
    ``lhs [NOT] IN (SELECT ...)`` and a single scalar subquery anywhere in
    a comparison. EXISTS, OR-nested subqueries, and non-single-block
    subqueries raise (-> the query routes exact)."""
    plain: list[str] = []
    subs: list[SubqueryPred] = []
    for conj in _split_and(where):
        if not _SUBQ_OPEN_RE.search(conj):
            plain.append(f"({conj})")
            continue
        if re.search(r"\bEXISTS\s*\(", conj, re.IGNORECASE):
            raise SQLFrontendError("EXISTS subquery routes exact")
        m = _IN_SUBQ_RE.match(conj.strip())
        if (m and not _SUBQ_OPEN_RE.search(m.group("lhs"))
                and not re.search(r"\bOR\b|\bAND\b|\bNOT\b|[<>=!]",
                                  m.group("lhs"), re.IGNORECASE)):
            sub_sql = m.group("sub").strip()
            sub_parsed = parse_select(sub_sql)      # raises -> exact route
            if len(sub_parsed.select_items) != 1:
                raise SQLFrontendError("IN subquery must select one column")
            subs.append(SubqueryPred(
                "not_in" if m.group("neg") else "in",
                m.group("lhs").strip(), sub_sql,
                (sub_parsed.from_table, *[j.table for j in sub_parsed.joins]),
                sub_select=sub_parsed.select_items[0][0],
                sub_where=sub_parsed.where))
            continue
        if re.search(r"\bIN\s*\(\s*SELECT\b", conj, re.IGNORECASE):
            raise SQLFrontendError("unsupported IN-subquery shape routes exact")
        # scalar subquery inside a comparison: exactly one (SELECT ...) span
        om = _SUBQ_OPEN_RE.search(conj)
        depth, j = 0, om.start()
        while j < len(conj):
            if conj[j] == "(":
                depth += 1
            elif conj[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0 or _SUBQ_OPEN_RE.search(conj, j):
            raise SQLFrontendError("unsupported subquery shape routes exact")
        sub_sql = conj[om.start() + 1:j].strip()
        sub_parsed = parse_select(sub_sql)          # raises -> exact route
        template = conj[:om.start()] + "__SUBQ__" + conj[j + 1:]
        subs.append(SubqueryPred(
            "scalar", template.strip(), sub_sql,
            (sub_parsed.from_table, *[jn.table for jn in sub_parsed.joins])))
    return (" AND ".join(plain) or None), tuple(subs)


def measure_bound(measure: str, col_bounds: dict[str, float] | None = None
                  ) -> float:
    """|measure| bound -> quantization scale. ``col_bounds`` overlays the
    static schema map with session-derived bounds (max(abs(col)) observed
    at sample-build time) — without a real bound the 2^20 fallback makes
    the variance lattice so coarse that small-valued measures quantize to
    a zero CI."""
    table = dict(DEFAULT_COL_BOUNDS)
    if col_bounds:
        table.update(col_bounds)
    bounds = [b for col, b in table.items()
              if re.search(rf"\b{col}\b", measure, re.IGNORECASE)]
    return 2.0 * max(bounds) if bounds else 2.0 ** 20


@dataclass
class AnalyzedQuery:
    """outcome of the routing decision."""
    spec: ApproxQuerySpec | None      # None -> exact route
    parsed: ParsedSelect
    rename: dict[str, str]            # engine output name -> user alias
    reason: str | None = None         # why exact-routed


def analyze(parsed: ParsedSelect, wc: WithClause, sample_spec,
            defaults: dict, from_relation: str | None = None) -> AnalyzedQuery:
    """Map a parsed SELECT + WITH clause + chosen sample to a query spec.

    ``from_relation``: outer FROM table when the chosen sample lives on a
    JOINed relation instead (ReplaceWithSampleTable picks the one sampled
    relation anywhere in the join tree, QueryProcessingRules.scala:504-515).

    Returns spec=None (exact route) for unsupported aggregate shapes —
    mirroring the reference's whole-query routing."""
    # GROUP BY <select-alias> resolves to the aliased EXPRESSION
    # (standard lateral alias semantics; the reference's NYC corpus:
    # `hour(pickup_datetime) as hour ... GROUP BY hour`,
    # sampleTableNYCQueries.sql:2). A real base column of the same name
    # wins over the alias, matching Spark's own resolution order.
    alias_to_expr = {a.lower(): e for e, a in parsed.select_items
                     if a and not _AGG_RE.match(e.strip())}
    if alias_to_expr and parsed.group_by:
        from ..tables import TABLE_COLUMNS
        base_cols = {c.lower()
                     for t in ([parsed.from_table]
                               + [j.table for j in parsed.joins])
                     for c in TABLE_COLUMNS.get(t.lower(), ())}
        import dataclasses as _dc
        parsed = _dc.replace(parsed, group_by=[
            alias_to_expr.get(g.strip().lower(), g)
            if g.strip().lower() not in base_cols else g
            for g in parsed.group_by])

    # GROUP BY items join the scan: ROLLUP/CUBE/GROUPING SETS live there,
    # not in the select list, and route exact like every other unsupported
    # shape (QueryRoutingRules.scala:86-92)
    full_text = " ".join([e for e, _ in parsed.select_items]
                         + list(parsed.group_by))
    if _UNSUPPORTED_RE.search(full_text):
        return AnalyzedQuery(None, parsed, {}, "unsupported expression")

    # negative error — explicit (`WITH ERROR -1.3`) or from the session
    # default (`spark.sql.aqp.error=-1d`) when the clause omits a value —
    # is the reference's AQP-off sentinel: route exact, don't raise
    # (QuerySyntaxTestSuite.scala:150-161,205-211)
    resolved_error = wc.error if wc.error is not None else defaults["error"]
    if resolved_error is None or resolved_error < 0:
        return AnalyzedQuery(None, parsed, {},
                             "negative/unset error: AQP disabled")

    # WHERE-clause subqueries: one sampled relation per subquery tree
    # (PlaceHolderPlan routing) — subqueries run exact, outer query samples
    where_plain, where_subs = parsed.where, ()
    if parsed.where and _SUBQ_OPEN_RE.search(parsed.where):
        try:
            where_plain, where_subs = extract_subqueries(parsed.where)
        except SQLFrontendError as exc:
            return AnalyzedQuery(None, parsed, {}, str(exc))

    # a GROUP BY entry that is itself an aggregate (e.g. an ordinal
    # resolving to an agg select item) is invalid SQL — reject here so the
    # engine never builds a broken plan; the exact route then surfaces
    # Spark's own clear error
    for g in parsed.group_by:
        if _AGG_RE.match(g.strip()) or comp.split_agg_calls(g) is not None:
            return AnalyzedQuery(None, parsed, {},
                                 "GROUP BY references an aggregate")

    aggs: list[ApproxAgg] = []
    agg_by_alias: dict[str, ApproxAgg] = {}
    group_items: list[tuple[str, str | None]] = []
    errfns: list[tuple[str, str, str | None]] = []   # (fn, target, alias)
    # aggregate-arithmetic select items (AQP-283 shape): alias ->
    # (guarded template, component agg aliases); errors attach later
    comp_items: dict[str, tuple[str, tuple[str, ...]]] = {}
    hidden: list[str] = []
    gen = 0

    def build_agg(fn: str, arg: str, alias: str | None
                  ) -> tuple[ApproxAgg | None, str | None]:
        """one validated ApproxAgg, or (None, route-exact reason)."""
        nonlocal gen
        if fn == "count" and arg != "*" and _COND_COUNT_RE.search(arg):
            return None, "conditional COUNT routes exact"
        if fn in ("min", "max"):
            # MIN/MAX alongside approx aggs bypass error calc ONLY when
            # their arg is a QCS expression (every stratum is represented
            # in the sample, so the sample extremum is trustworthy) —
            # reference QueryRoutingRules.scala:55-92,
            # QueryProcessingRules.scala:1335-1459
            qcs_norm = {q.strip().lower() for q in sample_spec.qcs}
            if arg.strip().lower() not in qcs_norm:
                return None, "min/max arg not in QCS"
        if alias is None:
            gen += 1
            alias = f"{fn}_{gen}"
        if fn == "count" and arg == "*":
            return ApproxAgg("count_star", None, alias), None
        dm = _DEC_MEASURE_RE.match(arg) if fn in ("sum", "avg") else None
        return ApproxAgg(fn, arg, alias,
                         measure_bound(arg, defaults.get("col_bounds")),
                         dec_scale=int(dm.group(1)) if dm else None), None

    for expr, alias in parsed.select_items:
        em = _ERRFN_RE.match(expr)
        if em:
            errfns.append((em.group(1).lower(), em.group(2), alias))
            continue
        m = _AGG_RE.match(expr)
        # the greedy arg capture also matches composites like
        # `sum(a)/sum(b)` (arg = `a)/sum(b`): only treat the item as ONE
        # call when the captured argument is paren-balanced
        if m and _balanced(m.group(2)):
            agg, reason = build_agg(m.group(1).lower(), m.group(2).strip(),
                                    alias)
            if agg is None:
                return AnalyzedQuery(None, parsed, {}, reason)
            aggs.append(agg)
            agg_by_alias[agg.alias.lower()] = agg
            continue
        split = comp.split_agg_calls(expr)
        if split is not None:
            # arithmetic over several aggregates in one item (AQP-283):
            # components become HIDDEN aggs, the item a guarded template
            skeleton, calls = split
            template = comp.parse_template(skeleton, len(calls))
            if template is None:
                return AnalyzedQuery(None, parsed, {},
                                     f"unsupported aggregate arithmetic: {expr}")
            members: list[str] = []
            for fn, arg in calls:
                gen += 1
                agg, reason = build_agg(fn, arg, f"__ca{gen}")
                if agg is None:
                    return AnalyzedQuery(None, parsed, {}, reason)
                aggs.append(agg)
                agg_by_alias[agg.alias.lower()] = agg
                hidden.append(agg.alias)
                members.append(agg.alias)
            if alias is None:
                gen += 1
                alias = f"expr_{gen}"
            comp_items[alias] = (template, tuple(members))
            continue
        group_items.append((expr, alias))

    if not any(a.func in ("sum", "avg", "count", "count_star") for a in aggs):
        return AnalyzedQuery(None, parsed, {}, "no approximable aggregates")

    # attach error functions to their target aggregates
    rename: dict[str, str] = {}
    by_alias: dict[str, list[str]] = {}
    comp_errors: dict[str, list[str]] = {}    # composite alias -> error fns
    comp_norm = {a.lower(): a for a in comp_items}
    # function-text lookup for unaliased targets: "avg(l_quantity)" ->
    # the agg whose (func, measure) renders to that text
    def _fntext(a) -> str:
        body = "*" if a.func == "count_star" else (a.measure or "")
        fn_name = "count" if a.func == "count_star" else a.func
        return f"{fn_name}({body})".replace(" ", "").lower()
    agg_by_text = {_fntext(a): a for a in aggs}
    for fn, target, alias in errfns:
        agg = (agg_by_alias.get(target.lower())
               or agg_by_text.get(target.replace(" ", "").lower()))
        if agg is not None:
            by_alias.setdefault(agg.alias, []).append(fn)
            if alias:
                rename[f"{agg.alias}_{fn}"] = alias
            continue
        ca = comp_norm.get(target.lower())
        if ca is not None:
            comp_errors.setdefault(ca, []).append(fn)
            if alias:
                rename[f"{ca}_{fn}"] = alias
            continue
        return AnalyzedQuery(None, parsed, {},
                             f"error function references unknown alias {target}")

    # error functions called DIRECTLY in HAVING/ORDER BY (not just by
    # select-list alias): rewrite the call into the engine's hidden error
    # column and compute it even when unselected, dropping it from the
    # visible output (reference resolves these via GetErrorBounds /
    # ErrorEstimateAttribute, QueryProcessingRules.scala:1525-1566)
    selected = set()
    for f, t, _ in errfns:
        agg = (agg_by_alias.get(t.lower())
               or agg_by_text.get(t.replace(" ", "").lower()))
        selected.add(((agg.alias if agg else comp_norm[t.lower()]), f))

    def rewrite_direct(text: str | None) -> str | None:
        if not text:
            return text

        def repl(m: re.Match) -> str:
            fn, tgt = m.group(1).lower(), m.group(2)
            agg = (agg_by_alias.get(tgt.lower())
                   or agg_by_text.get(tgt.replace(" ", "").lower()))
            if agg is not None:
                name = agg.alias
                by_alias.setdefault(name, []).append(fn)
            elif tgt.lower() in comp_norm:
                name = comp_norm[tgt.lower()]
                comp_errors.setdefault(name, []).append(fn)
            else:
                return m.group(0)        # not an agg alias; leave untouched
            eng = f"{name}_{fn}"
            if (name, fn) not in selected and eng not in hidden:
                hidden.append(eng)
            return eng

        return _ERRFN_CALL_RE.sub(repl, text)

    having_rw = rewrite_direct(parsed.having)
    order_rw = [rewrite_direct(o) for o in parsed.order_by]

    # select items that are expressions OVER the group keys or error
    # functions, not the group text itself — AQP-229 (CASE over the grouped
    # column) and AQP-210/227 (`lower_bound(x) + upper_bound(x)` arithmetic,
    # CommonBugTest.scala:1204-1260). Error-fn calls inside them rewrite to
    # the engine columns now so their hidden columns get computed.
    gb_norm = {g.strip().lower() for g in parsed.group_by}
    derived_rw = [(rewrite_direct(expr.strip()), alias or f"d_{i}")
                  for i, (expr, alias) in enumerate(group_items)
                  if expr.strip().lower() not in gb_norm]

    if by_alias:
        aggs = [ApproxAgg(a.func, a.measure, a.alias, a.max_abs,
                          tuple(dict.fromkeys(by_alias.get(a.alias, ()))),
                          dec_scale=a.dec_scale)
                for a in aggs]

    # group-by output aliases: select-list alias > the identifier itself > g_i
    alias_by_expr = {e.strip().lower(): a for e, a in group_items if a}

    def group_alias(i: int, g: str) -> str:
        a = alias_by_expr.get(g.strip().lower())
        if a:
            return a
        if re.fullmatch(r"\w+", g.strip()):
            return g.strip()
        return f"g_{i}"

    group_aliases = tuple(group_alias(i, g) for i, g in enumerate(parsed.group_by))

    # grouping by a column that is NOT selected (AQP-201 shape:
    # `SELECT sum(x) ... GROUP BY w ORDER BY w`): the key participates in
    # grouping and tail clauses but stays out of the visible output, per
    # SQL semantics — computed as a hidden column
    sel_texts = {e.strip().lower() for e, _ in parsed.select_items}
    sel_aliases = {a.lower() for _, a in parsed.select_items if a}
    for i, g in enumerate(parsed.group_by):
        ga = group_aliases[i]
        if (g.strip().lower() not in sel_texts
                and ga.lower() not in sel_aliases and ga not in hidden):
            hidden.append(ga)

    # reference decision (QueryProcessingRules.scala:1414-1447): with the
    # closed-form default, AVG alongside ANY filter — WHERE below the
    # aggregate or HAVING above it — routes to bootstrap
    # (AvgQueryWithWhereClauseUsesBootstrapAnalysis protocol); pure AVG and
    # the SUM/COUNT family stay closed-form
    estimator = "closed_form"
    if (any(a.func == "avg" for a in aggs)
            and (parsed.having or parsed.where)):
        estimator = "bootstrap"
    # error functions over an aggregate-arithmetic item (AQP-283 shape):
    # the CI composes per bootstrap trial — closed-form has no ratio
    # variance, so the whole query routes bootstrap (same decision class
    # as the AVG+filter rule above)
    if comp_errors:
        estimator = "bootstrap"
    if wc.error is None and wc.confidence is None and wc.behavior is None:
        # bare WITH ERROR -> session defaults (ErrorDefaults node)
        pass

    # rewrite having/order-by: user error-fn aliases back to engine names,
    # raw group expressions to their output aliases
    rev = {v: k for k, v in rename.items()}

    # HAVING/ORDER BY may repeat an aggregate's expression text instead of
    # its alias (`ORDER BY sum(fare_amount) desc`, sampleTableNYCQueries
    # .sql:1); the finalized relation only carries the alias, so rewrite
    # matching call spans (whitespace/case-insensitive) to it
    agg_by_text: dict[str, str] = {}
    for a in aggs:
        if a.func == "count_star":
            agg_by_text["count(*)"] = a.alias
        elif a.measure is not None:
            agg_by_text[
                f"{a.func}({re.sub(chr(92) + 's+', '', a.measure).lower()})"
            ] = a.alias

    def rewrite_agg_calls(text: str) -> str:
        out: list[str] = []
        i = 0
        for m in re.finditer(r"\b(SUM|AVG|COUNT|MIN|MAX)\s*\(", text,
                             re.IGNORECASE):
            if m.start() < i:
                continue
            depth, j = 0, m.end() - 1
            while j < len(text):
                if text[j] == "(":
                    depth += 1
                elif text[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if depth != 0:
                break
            inner = text[m.end():j]
            norm = (f"{m.group(1).lower()}"
                    f"({re.sub(chr(92) + 's+', '', inner).lower()})")
            alias = agg_by_text.get(norm)
            if alias is not None:
                out.append(text[i:m.start()])
                out.append(alias)
                i = j + 1
        out.append(text[i:])
        return "".join(out)

    def unalias(text: str | None) -> str | None:
        if not text:
            return text
        text = rewrite_agg_calls(text)
        for user, eng in rev.items():
            text = re.sub(rf"\b{user}\b", eng, text)
        for i, g in enumerate(parsed.group_by):
            ga = group_aliases[i]
            if g.strip().lower() != ga.lower():
                # boundary-guarded: a bare replace would corrupt expressions
                # where the group text is a substring of another token
                text = re.sub(rf"(?<![\w.]){re.escape(g.strip())}(?![\w.])",
                              ga, text)
        return text

    derived = tuple((unalias(e), n) for e, n in derived_rw)

    # aggregate-arithmetic items: WITH error functions they ride the
    # bootstrap trial pipeline as CompositeSpec entries; WITHOUT they are
    # plain post-aggregation derived items over the component aliases
    # (point estimate only — identical value on any estimator)
    composites = []
    for ca, (template, members) in comp_items.items():
        errs = tuple(dict.fromkeys(comp_errors.get(ca, ())))
        if errs:
            composites.append(CompositeSpec(ca, template, members, errs))
        else:
            derived += ((template.format(*members), ca),)

    spec = ApproxQuerySpec(
        sample=sample_spec,
        from_relation=from_relation,
        from_alias=parsed.from_alias,
        aggs=tuple(aggs),
        group_by=tuple(parsed.group_by),
        group_aliases=group_aliases,
        derived_items=derived,
        composites=tuple(composites),
        joins=tuple(parsed.joins),
        where=where_plain,
        where_subs=where_subs,
        having=unalias(having_rw),
        order_by=tuple(unalias(o) for o in order_rw),
        limit=parsed.limit,
        hidden_cols=tuple(hidden),
        error=resolved_error,
        confidence=(wc.confidence if wc.confidence is not None
                    else defaults["confidence"]),
        behavior=wc.behavior or defaults["behavior"],
        estimator=estimator,
        trials=defaults.get("trials", 100),
    )
    return AnalyzedQuery(spec, parsed, rename)


# --- DDL --------------------------------------------------------------------

_CREATE_TOPK_RE = re.compile(
    r"^\s*CREATE\s+TOPK\s+TABLE\s+(?P<name>\w+)\s+ON\s+(?P<base>\w+)\s+"
    r"OPTIONS\s*\((?P<opts>.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)


def parse_create_topk(sql: str) -> tuple[str, str, dict[str, str]] | None:
    m = _CREATE_TOPK_RE.match(sql)
    if not m:
        return None
    opts = dict(_OPT_RE.findall(m.group("opts")))
    return m.group("name"), m.group("base"), {k.lower(): v for k, v in opts.items()}


# the close paren is only stripped when it matches an open paren right after
# AS — an optional trailing \)? would eat a paren belonging to the body
# (e.g. "... WHERE x IN (1,2)")
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(?P<name>\w+)\s+AS\s+"
    r"(?:\(\s*(?P<b1>SELECT\b.*?)\s*\)|(?P<b2>SELECT\b.*?))\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)

_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE)


def parse_create_view(sql: str) -> tuple[str, str] | None:
    m = _CREATE_VIEW_RE.match(sql)
    if not m:
        return None
    return m.group("name"), (m.group("b1") or m.group("b2"))


def parse_drop_view(sql: str) -> str | None:
    m = _DROP_VIEW_RE.match(sql)
    return m.group("name") if m else None


_EXPLAIN_AQP_RE = re.compile(r"^\s*EXPLAIN\s+AQP\s+(?P<q>.*)$",
                             re.IGNORECASE | re.DOTALL)


def parse_explain_aqp(sql: str) -> str | None:
    """``EXPLAIN AQP <query>`` -> the query text."""
    m = _EXPLAIN_AQP_RE.match(sql)
    return m.group("q") if m else None


def expand_view(parsed: ParsedSelect,
                views: dict[str, ParsedSelect]) -> ParsedSelect:
    """Resolve a query over a registered projection view down to its base
    table so sample selection sees through it (the reference analyzes the
    view-expanded plan; AbstractViewTest.scala:141-165 runs WITH ERROR
    queries against plain views). View aliases substitute into every query
    text (boundary-guarded); view and query predicates conjoin."""
    import dataclasses
    for _ in range(10):                       # nested views, cycle-capped
        v = views.get(parsed.from_table.lower())
        if v is None:
            return parsed
        # views are single-relation, so alias qualifiers are unambiguous —
        # strip the query's alias for the view (v.col) and the view body's
        # own FROM alias before substitution (WHERE text keeps qualifiers
        # in general now; here the aliased relation is being replaced)
        if parsed.from_alias:
            pa = parsed.from_alias
            parsed = dataclasses.replace(
                parsed,
                select_items=[(_strip_alias_prefix(e, pa), a)
                              for e, a in parsed.select_items],
                where=_strip_alias_prefix(parsed.where, pa),
                group_by=[_strip_alias_prefix(g, pa) for g in parsed.group_by],
                having=_strip_alias_prefix(parsed.having, pa),
                order_by=[_strip_alias_prefix(o, pa) for o in parsed.order_by],
                from_alias=None)
        if v.from_alias:
            v = dataclasses.replace(
                v,
                select_items=[(_strip_alias_prefix(e, v.from_alias), a)
                              for e, a in v.select_items],
                where=_strip_alias_prefix(v.where, v.from_alias),
                from_alias=None)
        sub = {a.lower(): e for e, a in v.select_items
               if a is not None and a.lower() != e.strip().lower()}

        if sub:
            # single-pass alternation: sequential per-alias re.sub would
            # cascade when one alias's expansion mentions another alias
            # ("SELECT b AS a, c AS b"); string literals are consumed by the
            # first alternative so aliases inside them never substitute
            alt = "|".join(sorted((re.escape(a) for a in sub),
                                  key=len, reverse=True))
            pat = re.compile(
                rf"('(?:[^']|'')*')|(?<![\w.])({alt})(?![\w.])",
                re.IGNORECASE)

            def rw(t: str | None) -> str | None:
                if not t:
                    return t
                return pat.sub(
                    lambda m: m.group(1) if m.group(1) is not None
                    else f"({sub[m.group(2).lower()]})", t)
        else:
            def rw(t: str | None) -> str | None:
                return t

        parts = [p for p in (v.where, rw(parsed.where)) if p]
        parsed = dataclasses.replace(
            parsed,
            select_items=[(rw(e), a) for e, a in parsed.select_items],
            from_table=v.from_table,
            joins=[dataclasses.replace(j, on=rw(j.on))
                   for j in parsed.joins],
            where=(" AND ".join(f"({p})" for p in parts) if parts else None),
            group_by=[rw(g) for g in parsed.group_by],
            having=rw(parsed.having),
            order_by=[rw(o) for o in parsed.order_by])
    raise SQLFrontendError("view nesting too deep (cycle?)")


def is_projection_view(parsed: ParsedSelect) -> bool:
    """only projection(+filter) views participate in approx routing; any
    other shape still works on the exact path as a plain Spark temp view."""
    return (not parsed.joins and not parsed.group_by and not parsed.having
            and not parsed.order_by and parsed.limit is None
            and all("(" not in e for e, _ in parsed.select_items))


_TOPK_SCAN_RE = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+(?P<name>\w+)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"(?:\s+LIMIT\s+(?P<k>\d+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)

_TOPK_TIME_RE = re.compile(
    r"^(?P<col>StartTime|EndTime)\s*=\s*'(?P<val>[^']*)'\s*$", re.IGNORECASE)


def parse_topk_scan(sql: str) -> tuple[str, int | None, int | None,
                                       int | None] | None:
    """``SELECT * FROM <topk> [WHERE StartTime='..' [AND EndTime='..']]
    [LIMIT k]`` — the reference's PrunedFilteredScan surface, which
    recognizes exactly the StartTime/EndTime equality filters
    (topk/TopKRelation.scala:59-87). Times are epoch-microsecond integers
    or ``yyyy-MM-dd HH:mm:ss[.ffffff]`` strings (naive; reference parses
    with the JVM default calendar, we pin UTC-naive for determinism).
    Returns None when the text is not this shape (caller falls through to
    the normal SQL path)."""
    m = _TOPK_SCAN_RE.match(sql)
    if not m:
        return None
    start = end = None
    if m.group("where"):
        for conj in re.split(r"\bAND\b", m.group("where"), flags=re.IGNORECASE):
            tm = _TOPK_TIME_RE.match(conj.strip())
            if not tm:
                return None
            us = _parse_time_us(tm.group("val"))
            if tm.group("col").lower() == "starttime":
                start = us
            else:
                end = us
    k = int(m.group("k")) if m.group("k") else None
    return m.group("name"), start, end, k


def _parse_time_us(val: str) -> int:
    if re.fullmatch(r"\d+", val):
        return int(val)
    from datetime import datetime, timezone
    fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in val else "%Y-%m-%d %H:%M:%S"
    dt = datetime.strptime(val, fmt).replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1_000_000)


# full reference grammar (snappyAQPParsers.scala:77-103): ON <base> is
# optional when an AS-select populate form names the base relation; the
# options list never nests parens, so [^)]* keeps the AS tail out of it
_CREATE_SAMPLE_RE = re.compile(
    r"^\s*CREATE\s+SAMPLE\s+TABLE\s+(?P<name>\w+)"
    r"(?:\s+ON\s+(?P<base>\w+))?\s+"
    # option VALUES may contain parens inside their quotes — function QCS
    # like qcs 'hour(pickup_dateTime)' is the reference's own NYC demo
    # shape (create_and_load_NYCTaxiSample_hour.sql:3)
    r"OPTIONS\s*\((?P<opts>(?:'[^']*'|[^()'])*)\)"
    r"(?:\s+AS\s+(?P<as_sql>SELECT\b.*?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)
_DROP_SAMPLE_RE = re.compile(
    r"^\s*DROP\s+SAMPLE\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE)
_OPT_RE = re.compile(r"(\w+)\s+'([^']*)'")


def parse_create_sample(sql: str) -> tuple[str, str | None, dict[str, str],
                                           str | None] | None:
    m = _CREATE_SAMPLE_RE.match(sql)
    if not m:
        return None
    opts = dict(_OPT_RE.findall(m.group("opts")))
    return (m.group("name"), m.group("base"),
            {k.lower(): v for k, v in opts.items()}, m.group("as_sql"))


def parse_drop_sample(sql: str) -> str | None:
    m = _DROP_SAMPLE_RE.match(sql)
    return m.group("name") if m else None


_NOT_ALIAS_KW = ("JOIN", "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING",
                 "ON", "INNER", "LEFT", "RIGHT", "CROSS", "UNION", "WITH")


def find_derived_spans(sql: str) -> list[tuple[int, int, str, str | None]]:
    """Locate every FROM/JOIN-position derived table: a list of
    (start, end, inner_sql, alias) spanning ``(SELECT ...) [AS] alias``.
    Used for the reference's sample-query-in-subquery protocols
    (CommonBugTest AQP-224/AQP-247/AQP-231; AQP-225 joins TWO such
    subqueries): each AGGREGATING subquery over a sampled base runs as its
    own approx query and the outer query joins the weighted estimates."""
    out: list[tuple[int, int, str, str | None]] = []
    for m in re.finditer(r"\b(?:FROM|JOIN)\s*\(", sql, re.IGNORECASE):
        i = m.end() - 1
        depth = 0
        j = i
        while j < len(sql):
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            continue
        inner = sql[i + 1:j].strip()
        if not inner.upper().startswith("SELECT"):
            continue
        am = re.match(r"\s*(?:AS\s+)?(\w+)", sql[j + 1:], re.IGNORECASE)
        alias = None
        end = j + 1
        if am and am.group(1).upper() not in _NOT_ALIAS_KW:
            alias = am.group(1)
            end = j + 1 + am.end()
        out.append((i, end, inner, alias))
    return out


def find_from_derived(sql: str) -> tuple[int, int, str, str | None] | None:
    """first FROM-clause derived table (see find_derived_spans)."""
    spans = [s for s in find_derived_spans(sql)
             if re.search(r"\bFROM\s*\($", sql[:s[0] + 1], re.IGNORECASE)]
    return spans[0] if spans else None


# --- streaming session commands ---------------------------------------------
# AQPStreamingSuite.scala:63-130: STREAMING INIT <duration> / START / STOP,
# CREATE STREAM TABLE name (schema) USING provider OPTIONS (...), and
# DROP TABLE [IF EXISTS] over stream/TopK tables.

_STREAMING_CMD_RE = re.compile(
    r"^\s*STREAMING\s+(?:(?P<init>INIT)\s+(?P<dur>[\w ]+?)|(?P<cmd>START|STOP))"
    r"\s*;?\s*$", re.IGNORECASE)

_CREATE_STREAM_RE = re.compile(
    # schema is non-greedy and anchored on USING so column types with
    # parens (decimal(10,2), varchar(32)) don't truncate at the first ')'
    r"^\s*CREATE\s+STREAM\s+TABLE\s+(?P<name>\w+)\s*"
    r"(?:\((?P<schema>.*?)\)\s*)?"
    r"USING\s+(?P<provider>\w+)\s+OPTIONS\s*\((?P<opts>.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)

# the reference drops sample tables with PLAIN `DROP TABLE [IF EXISTS]`
# too (its samples live in the ordinary catalog — the NYC demo scripts,
# src/test/resources/scripts/create_and_load_NYCTaxiSample_*.sql): the
# session checks streams, TopK, the sample catalog, and session-registered
# relations before passing through to Spark
_DROP_TABLE_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<ife>IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE)


_SET_AQP_RE = re.compile(
    r"^\s*SET\s+spark\.sql\.aqp\.(?P<key>error|confidence|behavior|"
    r"numBootStrapTrials|hllCountDistinct|hllPrecision|"
    r"histogramQuantile|histogramBinWidth)"
    r"\s*=\s*(?P<val>'[^']*'|\S+)\s*;?\s*$",
    re.IGNORECASE)


def parse_set_aqp(sql: str) -> tuple[str, str] | None:
    """``SET spark.sql.aqp.<prop>=<value>`` — the reference's dynamic
    session-property surface (AQP-285, AQPConnectionPropertySetTest: a SET
    statement mid-session changes how SUBSEQUENT plain queries route).
    Returns (canonical_key, raw_value) or None. Values may be quoted."""
    m = _SET_AQP_RE.match(sql)
    if not m:
        return None
    canon = {"error": "error", "confidence": "confidence",
             "behavior": "behavior", "numbootstraptrials": "numBootStrapTrials",
             "hllcountdistinct": "hllCountDistinct",
             "hllprecision": "hllPrecision",
             "histogramquantile": "histogramQuantile",
             "histogrambinwidth": "histogramBinWidth"}
    return canon[m.group("key").lower()], m.group("val").strip("'")


_SHOW_AQP_RE = re.compile(
    r"^\s*SHOW\s+(?P<kind>SAMPLE|TOPK)\s+TABLES\s*;?\s*$", re.IGNORECASE)


def parse_show_aqp(sql: str) -> str | None:
    """``SHOW SAMPLE TABLES`` / ``SHOW TOPK TABLES`` -> 'sample' | 'topk'
    — registry listing as a relation (the SQL face of the reference's
    catalog metadata; plain ``SHOW TABLES`` passes through to Spark)."""
    m = _SHOW_AQP_RE.match(sql)
    return m.group("kind").lower() if m else None


def parse_streaming_cmd(sql: str) -> tuple[str, str | None] | None:
    """('init', '2secs') | ('start', None) | ('stop', None) | None."""
    m = _STREAMING_CMD_RE.match(sql)
    if not m:
        return None
    if m.group("init"):
        return "init", m.group("dur").strip()
    return m.group("cmd").lower(), None


def parse_create_stream(sql: str) -> tuple[str, str | None, str,
                                           dict[str, str]] | None:
    m = _CREATE_STREAM_RE.match(sql)
    if not m:
        return None
    opts = {k.lower(): v for k, v in _OPT_RE.findall(m.group("opts"))}
    schema = m.group("schema").strip() if m.group("schema") else None
    return m.group("name"), schema, m.group("provider"), opts


def parse_drop_table(sql: str) -> tuple[str, bool] | None:
    """plain ``DROP TABLE [IF EXISTS] name`` -> (name, if_exists)."""
    m = _DROP_TABLE_RE.match(sql)
    return (m.group("name"), bool(m.group("ife"))) if m else None


# --- mutations --------------------------------------------------------------
# The reference analyzes UPDATE/DELETE/INSERT against the mutable base table
# (AnalyzeMutableOperations, internal/SnappyAQPSessionState.scala:133) and
# never lets a mutation hit a sample or TopK structure; we reproduce the
# routing surface: detect the statement, forbid AQP-managed targets, and
# hand everything else to Spark untouched.
_MUTATION_RE = re.compile(
    r"^\s*(?:UPDATE\s+(?P<u>\w+)|DELETE\s+FROM\s+(?P<d>\w+)|"
    r"INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?(?P<i>\w+)|"
    r"MERGE\s+INTO\s+(?P<m>\w+))\b", re.IGNORECASE)


def parse_mutation_target(sql: str) -> str | None:
    """table name targeted by an UPDATE/DELETE/INSERT/MERGE, else None."""
    m = _MUTATION_RE.match(sql)
    if not m:
        return None
    return m.group("u") or m.group("d") or m.group("i") or m.group("m")


def fold_error_functions(sql: str, parsed: ParsedSelect | None) -> str:
    """Constant-fold error functions for exact routes: absolute/relative -> 0,
    lower/upper -> NULL (routing hook QueryRoutingRules.scala:370-404; the
    observable contract is QueryRoutingTestSuite.scala:142-143/250-251/554-557
    — bounds are NULL and errors 0.0 on every exact plan).

    ``parsed`` may be None for queries the mini-parser rejected; a best-
    effort re-parse recovers the alias map. If even that fails (e.g. a
    computed-column FROM-subquery, sampleTableCCQueries.sql:3), the calls
    still fold — LENIENTLY, without alias validation: the exact-route
    contract (errors 0, bounds NULL) holds for any target, and leaving
    the calls unfolded would guarantee an UNRESOLVED_ROUTINE failure on a
    query the reference runs."""
    if parsed is None:
        try:
            parsed = parse_select(sql)
        except SQLFrontendError:
            def lenient(m: re.Match) -> str:
                return ("CAST(0.0 AS DOUBLE)"
                        if m.group(1).lower() in ("absolute_error",
                                                  "relative_error")
                        else "CAST(NULL AS DOUBLE)")
            return _ERRFN_CALL_RE.sub(lenient, sql)
    expr_by_alias = {a.lower(): e for e, a in parsed.select_items if a}
    # function-text targets ("lower_bound(avg(l_quantity))") resolve
    # against the select expressions themselves, same as _ERRFN_RE does
    # on the approx route
    expr_texts = {e.replace(" ", "").lower() for e, _ in parsed.select_items}

    def repl(m: re.Match) -> str:
        fn, target = m.group(1).lower(), m.group(2)
        if fn in ("absolute_error", "relative_error"):
            return "CAST(0.0 AS DOUBLE)"
        if (expr_by_alias.get(target.lower()) is None
                and target.replace(" ", "").lower() not in expr_texts):
            raise SQLFrontendError(f"error fn references unknown alias {target}")
        return "CAST(NULL AS DOUBLE)"

    # top-level select items that ARE a bare error-fn call keep an implied
    # alias derived from the call text: two unaliased folds would otherwise
    # emit identical auto-generated column names, which engines dedupe
    # differently (DuckDB appends _1, Spark keeps duplicates) — a schema
    # mismatch on an exact route. Other occurrences (inside expressions,
    # HAVING, ORDER BY) fold in place.
    try:
        clauses = _find_clauses(sql)
    except Exception:
        return _ERRFN_CALL_RE.sub(repl, sql)
    if "FROM" not in clauses:
        return _ERRFN_CALL_RE.sub(repl, sql)
    items = []
    for part in _split_top(clauses["SELECT"]):
        expr, alias = _split_item_alias(part)
        em = _ERRFN_RE.match(expr.strip())
        if em is not None and alias is None:
            name = re.sub(r"\W+", "_", expr.strip()).strip("_").lower()
            items.append(f"{_ERRFN_CALL_RE.sub(repl, expr)} AS {name}")
        else:
            items.append(_ERRFN_CALL_RE.sub(repl, part))
    out = "SELECT " + ", ".join(items) + " FROM " + clauses["FROM"]
    for kw in ("WHERE", "GROUP BY", "HAVING", "ORDER BY", "LIMIT"):
        if kw in clauses:
            out += f" {kw} " + _ERRFN_CALL_RE.sub(repl, clauses[kw])
    return out
