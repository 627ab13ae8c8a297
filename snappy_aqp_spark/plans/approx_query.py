"""Approximate-query planner: spec -> executable Spark program / SQL replay.

This is the rebuild of the reference's rule pipeline — ``ReplaceWithSampleTable``
→ ``WeightageRule`` → ``ErrorEstimateRule`` → ``SampleTablePlan`` HAC
enforcement (reference: common/QueryProcessingRules.scala:114-230,
WeightedAggregates.scala:34-171, common/AQPRules.scala:115-519) — expressed as
an explicit DataFrame program instead of catalyst rules: Catalyst still does
all generic optimization (pushdown, pruning, join selection, AQE) on the plan
we emit.

Stage layout (both engines, identical math — see operators/closedform.py):

    sample -> [joins] -> [where] -> project group/stratum keys
           -> inner agg (group x stratum)   [shuffle 1: tiny after partials]
           -> outer agg (group)             [shuffle 2: group rows only]
           -> estimate/bound -> rel-error -> HAC -> visible output

HAC behaviors (reference common/AQPRules.scala:288-502):
    do_nothing      pass through
    local_omit      per-group NaN-out inside the aggregate finalize
    strict          any relative error above the contract -> raise
    run_on_full_table   any violation -> rerun the query exactly on base
    partial_run_on_base_table  violating groups recomputed exactly, union
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..dialect import DUCKDB, SPARK
from ..operators import bootstrap as bs
from ..operators import closedform as cf
from ..sampling.samplers import stratified_sample
from ..sampling.sql import sample_cte_stages, stages_to_sql
from ..specs import ApproxQuerySpec
from ..stage_cache import StageCache
from ..tables import TABLE_COLUMNS


# --------------------------------------------------------------------------
# shared stage-fragment assembly
# --------------------------------------------------------------------------

def _gcols(spec: ApproxQuerySpec) -> list[str]:
    return [f"__g{i}" for i in range(len(spec.group_by))]


def _qcols(spec: ApproxQuerySpec) -> list[str]:
    return [f"__sq{i}" for i in range(len(spec.sample.qcs))]


def _scales(spec: ApproxQuerySpec) -> dict[str, cf.AggScales]:
    return {a.alias: cf.agg_scales(a, spec.rows_hint) for a in spec.aggs}


def _inner_frags(spec: ApproxQuerySpec) -> dict[str, str]:
    sc = _scales(spec)
    frags = {"__sns": f"MAX({cf.STRATA_SAMPLED_COL})",
             "__snt": f"MAX({cf.STRATA_TOTAL_COL})"}
    for a in spec.aggs:
        frags.update(cf.inner_frags(a, sc[a.alias]))
    return frags


def _outer_frags(spec: ApproxQuerySpec) -> dict[str, str]:
    sc = _scales(spec)
    frags: dict[str, str] = {}
    for a in spec.aggs:
        frags.update(cf.outer_frags(a, sc[a.alias]))
    return frags


def _fin_est_frags(spec: ApproxQuerySpec, dialect: str) -> dict[str, str]:
    sc = _scales(spec)
    frags: dict[str, str] = {}
    for a in spec.aggs:
        frags.update(cf.fin_est_frags(a, sc[a.alias], spec.confidence, dialect))
    return frags


def _fin_rel_frags(spec: ApproxQuerySpec) -> dict[str, str]:
    frags: dict[str, str] = {}
    for a in spec.aggs:
        frags.update(cf.fin_rel_frags(a))
    return frags


def _output_frags(spec: ApproxQuerySpec) -> dict[str, str]:
    frags: dict[str, str] = {}
    mod = bs if spec.estimator == "bootstrap" else cf
    aggs = list(spec.aggs)
    if spec.estimator == "bootstrap":
        aggs += _composite_pseudo_aggs(spec)
    for a in aggs:
        frags.update(mod.output_frags(a, spec))
    return frags


# --- bootstrap stage fragments (per-agg dicts merged) -----------------------

def _bs_inner_frags(spec: ApproxQuerySpec) -> dict[str, str]:
    sc = _scales(spec)
    frags = {"__sns": f"MAX({cf.STRATA_SAMPLED_COL})",
             "__snt": f"MAX({cf.STRATA_TOTAL_COL})"}
    frags.update(bs.mask_frag(spec.sample))
    for a in spec.aggs:
        frags.update(bs.inner_frags(a, sc[a.alias], spec.sample))
    return frags


def _bs_outer_frags(spec: ApproxQuerySpec) -> dict[str, str]:
    sc = _scales(spec)
    frags = {"__bmask": "MAX(__bmask)"}
    for a in spec.aggs:
        frags.update(bs.outer_frags(a, sc[a.alias]))
    return frags


def _bs_trial_frags(spec: ApproxQuerySpec) -> dict[str, str]:
    sc = _scales(spec)
    frags: dict[str, str] = {}
    for a in spec.aggs:
        frags.update(bs.trial_value_frag(a, sc[a.alias]))
    return frags


def _composite_pseudo_aggs(spec: ApproxQuerySpec) -> list:
    """composite select items ride the per-trial machinery as pseudo-aggs:
    once ``__bv_<alias>`` exists (arithmetic over component trial values),
    group/fin/rel/output fragments treat them exactly like a SUM."""
    from ..specs import ApproxAgg
    return [ApproxAgg("sum", "0", comp.alias, errors=comp.errors)
            for comp in spec.composites]


def _composite_bv_frags(spec: ApproxQuerySpec) -> dict[str, str]:
    """per (group, trial) composite values over the component __bv columns
    (evaluated in a follow-on projection of the trial-value stage)."""
    return {f"__bv_{comp.alias}":
            comp.template.format(*[f"__bv_{c}" for c in comp.components])
            for comp in spec.composites}


def _bs_group_frags(spec: ApproxQuerySpec, dialect: str) -> dict[str, str]:
    frags: dict[str, str] = {}
    for a in list(spec.aggs) + _composite_pseudo_aggs(spec):
        frags.update(bs.group_frags(a, dialect))
    return frags


def _bs_fin_frags(spec: ApproxQuerySpec, dialect: str) -> dict[str, str]:
    frags: dict[str, str] = {}
    for a in list(spec.aggs) + _composite_pseudo_aggs(spec):
        frags.update(bs.fin_frags(a, spec, dialect))
    return frags


def _bs_rel_frags(spec: ApproxQuerySpec) -> dict[str, str]:
    frags: dict[str, str] = {}
    for a in list(spec.aggs) + _composite_pseudo_aggs(spec):
        frags.update(bs.rel_frags(a))
    return frags


def _violation_cond(spec: ApproxQuerySpec) -> str:
    """any aggregate's relative error above the contract."""
    conds = [cf.omitted_cond(a, spec.error)
             for a in list(spec.aggs) + _composite_pseudo_aggs(spec)]
    return "(" + " OR ".join(conds) + ")"


def _exact_frags(spec: ApproxQuerySpec) -> dict[str, str]:
    sc = _scales(spec)
    frags: dict[str, str] = {}
    for a in spec.aggs:
        frags.update(cf.exact_output_frags(a, sc[a.alias]))
    # composite exact value: the arithmetic over the components' exact
    # aggregate TEXTS (siblings in one SELECT cannot reference each other);
    # exact error functions constant-fold like every other agg (NULL bounds /
    # 0.0 errors — QueryRoutingTestSuite.scala:554-557 protocol)
    for comp in spec.composites:
        est = comp.template.format(*[f"({frags[c]})" for c in comp.components])
        frags[comp.alias] = est
        err_val = {"absolute_error": "CAST(0.0 AS DOUBLE)",
                   "relative_error": "CAST(0.0 AS DOUBLE)",
                   "lower_bound": "CAST(NULL AS DOUBLE)",
                   "upper_bound": "CAST(NULL AS DOUBLE)"}
        for fn in comp.errors:
            frags[f"{comp.alias}_{fn}"] = err_val[fn]
    return frags


def output_columns(spec: ApproxQuerySpec) -> list[str]:
    """every computed output column, including hidden error columns that
    exist only for HAVING/ORDER BY evaluation."""
    cols = list(spec.group_out)
    for a in spec.aggs:
        cols.append(a.alias)
        cols.extend(f"{a.alias}_{fn}" for fn in a.errors)
    for comp in spec.composites:
        cols.append(comp.alias)
        cols.extend(f"{comp.alias}_{fn}" for fn in comp.errors)
    cols.extend(n for _, n in spec.derived_items)
    return cols


def _derive_sql(spec: ApproxQuerySpec, inner_sql: str, alias: str) -> str:
    """wrap a relation SQL with the post-aggregation derived select items
    (exprs over the output aliases — AQP-229 shape)."""
    if not spec.derived_items:
        return inner_sql
    parts = ", ".join(f"{e} AS {n}" for e, n in spec.derived_items)
    return f"SELECT {alias}.*, {parts} FROM ({inner_sql}) {alias}"


def _derive_df(spec: ApproxQuerySpec, df: DataFrame) -> DataFrame:
    if not spec.derived_items:
        return df
    return df.select("*", *[F.expr(e).alias(n)
                            for e, n in spec.derived_items])


def visible_columns(spec: ApproxQuerySpec) -> list[str]:
    return [c for c in output_columns(spec) if c not in spec.hidden_cols]


def _project_visible(spec: ApproxQuerySpec, df: DataFrame) -> DataFrame:
    return df.select(*visible_columns(spec)) if spec.hidden_cols else df


# --------------------------------------------------------------------------
# Spark execution path
# --------------------------------------------------------------------------

def _select_frags(df: DataFrame, keep: list[str], frags: dict[str, str]) -> DataFrame:
    return df.select(*[F.col(c) for c in keep],
                     *[F.expr(sql).alias(name) for name, sql in frags.items()])


def _one_partition(df: DataFrame) -> bool:
    """True when Spark plans ``df`` as one partition. Only an exchange-free
    plan is asked: building its RDD is file-split (or local-data) planning
    and runs no Spark job, where an adaptive plan would run its stages."""
    qe = df._jdf.queryExecution()
    tree = qe.executedPlan().toString()
    if "AdaptiveSparkPlan" in tree or "Exchange" in tree:
        return False
    return qe.toRdd().getNumPartitions() == 1


def get_sample(base: DataFrame, sample, cache_token: str | None) -> DataFrame:
    """materialized stratified sample for a SampleSpec, kept in the
    session's ``sample`` cache under (spec, token).

    One partition in, one partition out: a sample is never larger than its
    base, so when Spark reads the base as one partition the sample is
    persisted as one. The cached relation then reports SinglePartition and
    the queries over it plan no exchange (every stage of the shuffled plan
    ran as one task anyway). Answers do not depend on the partitioning."""
    if cache_token is None:
        return stratified_sample(base, sample)

    def build() -> DataFrame:
        s = stratified_sample(base, sample)
        if _one_partition(base):
            s = s.coalesce(1)
        s = s.persist()
        s.count()
        return s
    return StageCache.of(base.sparkSession).build(
        "sample", (sample, cache_token), build)


def _sql_literal(val) -> str:
    """render a collected scalar as a portable SQL literal."""
    if val is None:
        return "NULL"
    if isinstance(val, bool):
        return "TRUE" if val else "FALSE"
    if isinstance(val, int):
        return str(val)
    if isinstance(val, float):
        from ..dialect import dlit
        return dlit(val)
    return "'" + str(val).replace("'", "''") + "'"


def _apply_subqueries(df: DataFrame, spec: ApproxQuerySpec,
                      tables: dict[str, DataFrame],
                      cache_token: str | None = None) -> DataFrame:
    """Execute WHERE-clause subquery predicates (SubqueryPred): the subquery
    plan runs exactly via spark.sql over temp views; IN/NOT IN become
    semi/anti joins against the (distinct, typically tiny -> broadcast)
    value set, scalar comparisons inline the collected value as a literal.
    At scale the semi-join is the shape you want anyway: Catalyst broadcasts
    the value set and the sampled scan is never shuffled.

    A SubqueryPred carrying its own ``sample`` (one sample query per
    subquery tree) is rebuilt directly over the materialized sample instead
    of its base relation — in every path of the approx query, including HAC
    exact reroutes: the replacement is an analysis-time plan rewrite, as in
    the reference."""
    if not spec.where_subs:
        return df
    spark = df.sparkSession
    for sp in spec.where_subs:
        if sp.sample is not None:
            sub_src = get_sample(tables[sp.sample.base_table], sp.sample,
                                 cache_token)
            if sp.sub_where:
                sub_src = sub_src.where(F.expr(sp.sub_where))
            sub = sub_src.select(
                F.expr(sp.sub_select).alias("__subv")).distinct()
            df = df.join(F.broadcast(sub),
                         on=F.expr(sp.expr) == sub["__subv"], how="leftsemi")
            continue
        if sp.sub_spec is not None:        # scalar subquery on its own sample
            sub = run_approx_query(df.sparkSession, sp.sub_spec, tables,
                                   cache_token=cache_token)
            val = sub.collect()[0]["__sv"]
            df = df.where(F.expr(sp.expr.replace("__SUBQ__", _sql_literal(val))))
            continue
        for t in sp.tables:
            tables[t].createOrReplaceTempView(t)
        if sp.kind == "scalar":
            val = spark.sql(sp.sub_sql).collect()[0][0]
            df = df.where(F.expr(sp.expr.replace("__SUBQ__", _sql_literal(val))))
        else:
            sub = spark.sql(sp.sub_sql)
            sub = sub.select(F.col(sub.columns[0]).alias("__subv")).distinct()
            how = "leftsemi" if sp.kind == "in" else "leftanti"
            df = df.join(F.broadcast(sub),
                         on=F.expr(sp.expr) == sub["__subv"], how=how)
    return df


def full_where_sql(spec: ApproxQuerySpec) -> str | None:
    """WHERE text with subquery predicates re-inlined (oracle replay path —
    DuckDB evaluates the subqueries natively). Sampled subquery trees
    reference their sample CTE ``__subs{i}`` (emitted by oracle_sql_for)."""
    parts = [f"({spec.where})"] if spec.where else []
    for i, sp in enumerate(spec.where_subs):
        if sp.kind == "scalar":
            if sp.sub_spec is not None:
                # replay the subquery's own approx plan inline; every
                # internal identifier is re-prefixed so the nested WITH
                # chain cannot collide with (or shadow) the outer one
                inner = re.sub(r"\b__(?=\w)", f"__ssq{i}_",
                               oracle_sql_for(sp.sub_spec))
                rep = (f"(SELECT __ssq{i}_sv FROM ({inner}) __ssq{i})")
            else:
                rep = f"({sp.sub_sql})"
            parts.append("(" + sp.expr.replace("__SUBQ__", rep) + ")")
        elif sp.sample is not None:
            w = f" WHERE {sp.sub_where}" if sp.sub_where else ""
            parts.append(f"({sp.expr} IN (SELECT {sp.sub_select} "
                         f"FROM __subs{i}{w}))")
        else:
            op = "IN" if sp.kind == "in" else "NOT IN"
            parts.append(f"({sp.expr} {op} ({sp.sub_sql}))")
    return " AND ".join(parts) if parts else None


def _prepare(spec: ApproxQuerySpec, tables: dict[str, DataFrame],
             sampled: bool, cache_token: str | None = None) -> DataFrame:
    sampled_tbl = spec.sample.base_table
    start = (spec.from_relation or sampled_tbl).lower()

    def rel(name: str, alias: str | None) -> DataFrame:
        if name.lower() == sampled_tbl:
            base = (get_sample(tables[sampled_tbl], spec.sample, cache_token)
                    if sampled else tables[name.lower()])
            if sampled:
                # QCS exprs are sample-table attributes: compute them
                # BEFORE the join so a joined relation sharing the column
                # name can never make them ambiguous
                for i, q in enumerate(spec.sample.qcs):
                    base = base.withColumn(f"__sq{i}", F.expr(q))
        else:
            base = tables[name.lower()]
        # every relation plans under its SQL alias (default: its own
        # name), so WHERE/ON keep qualified references — required when
        # joined relations share column names (perfJoinQueries.sql:1-4)
        return base.alias(alias or name)

    df = rel(start, spec.from_alias)
    # joined relations may duplicate column names of earlier relations
    # (NYC corpus: pickup_datetime/medallion on BOTH fact tables). Rule:
    # the LEFTMOST relation's column wins for bare references; later
    # duplicates are dropped AFTER the WHERE filter (whose qualified
    # references still need both sides). Mirrored exactly by the oracle's
    # explicit projection lists in prepared_stage.
    seen_cols = {c.lower() for c in df.columns}
    dup_drops = []                     # (right_frame, column_name)
    for j in spec.joins:
        r = rel(j.table, j.alias)
        dup_drops += [(r, c) for c in r.columns if c.lower() in seen_cols]
        seen_cols |= {c.lower() for c in r.columns}
        if j.how == "cross":
            # comma-style FROM list: predicate stays in spec.where and
            # Catalyst folds it back into an equi-join after the filter
            df = df.crossJoin(r)
        else:
            df = df.join(r, on=F.expr(j.on), how=j.how)
    if spec.where:
        df = df.where(F.expr(spec.where))
    for r, c in dup_drops:
        df = df.drop(r[c])
    df = _apply_subqueries(df, spec, tables, cache_token)
    for i, g in enumerate(spec.group_by):
        df = df.withColumn(f"__g{i}", F.expr(g))
    return df


def _finalize_visible(spec: ApproxQuerySpec, fin_rel: DataFrame,
                      extra: dict[str, str] | None = None) -> DataFrame:
    out_frags = _output_frags(spec)
    sel = [F.col(f"__g{i}").alias(name) for i, name in enumerate(spec.group_out)]
    sel += [F.expr(sql).alias(name) for name, sql in out_frags.items()]
    if extra:
        sel += [F.expr(sql).alias(name) for name, sql in extra.items()]
    return _derive_df(spec, fin_rel.select(*sel))


_SORT_DIR_RE = re.compile(
    r"^(?P<e>.*?)\s+(?P<dir>ASC|DESC)"
    r"(?:\s+NULLS\s+(?P<nulls>FIRST|LAST))?\s*$",
    re.IGNORECASE | re.DOTALL)


def _sort_col(item: str):
    """ORDER BY item -> Column: ``expr [ASC|DESC] [NULLS FIRST|LAST]``
    (F.expr parses expressions only, not sort direction — the reference
    corpus sorts descending all over, perfFunctionalQueries.sql:8)."""
    m = _SORT_DIR_RE.match(item)
    if not m:
        return F.expr(item)
    col = F.expr(m.group("e"))
    desc = m.group("dir").upper() == "DESC"
    nulls = (m.group("nulls") or "").upper()
    if nulls == "FIRST":
        return col.desc_nulls_first() if desc else col.asc_nulls_first()
    if nulls == "LAST":
        return col.desc_nulls_last() if desc else col.asc_nulls_last()
    return col.desc() if desc else col.asc()


def _apply_tail(spec: ApproxQuerySpec, df: DataFrame) -> DataFrame:
    if spec.having:
        df = df.where(F.expr(spec.having))
    if spec.order_by:
        df = df.orderBy(*[_sort_col(o) for o in spec.order_by])
    if spec.limit is not None:
        df = df.limit(spec.limit)
    return df


def _exact_query(spec: ApproxQuerySpec, tables: dict[str, DataFrame],
                 restrict_to: DataFrame | None = None) -> DataFrame:
    """Exact replica on the base table (HAC rerouting target)."""
    df = _prepare(spec, tables, sampled=False)
    gcols = _gcols(spec)
    if restrict_to is not None:
        df = df.join(restrict_to, on=gcols, how="leftsemi")
    frags = _exact_frags(spec)
    grouped = df.groupBy(*gcols) if gcols else df.groupBy()
    agged = grouped.agg(*[F.expr(sql).alias(name) for name, sql in frags.items()])
    sel = [F.col(f"__g{i}").alias(name) for i, name in enumerate(spec.group_out)]
    # exact error functions may reference the estimate alias (lower/upper = est)
    order = output_columns(spec)
    agged = agged.select(*sel, *[c for c in agged.columns if c not in _gcols(spec)])
    return _derive_df(spec, agged).select(*order)


def _agg_frags(df: DataFrame, by: list[str], frags: dict[str, str]) -> DataFrame:
    grouped = df.groupBy(*by) if by else df.groupBy()
    return grouped.agg(*[F.expr(s).alias(n) for n, s in frags.items()])


def _closedform_fin_rel(spec: ApproxQuerySpec, df: DataFrame) -> DataFrame:
    gcols, qcols = _gcols(spec), _qcols(spec)
    inner = _agg_frags(df, gcols + qcols, _inner_frags(spec))
    outer = _agg_frags(inner, gcols, _outer_frags(spec))
    fin_est = _select_frags(outer, gcols + [c for c in outer.columns if c.startswith("__c_")],
                            _fin_est_frags(spec, SPARK))
    return fin_est.select("*", *[F.expr(s).alias(n)
                                 for n, s in _fin_rel_frags(spec).items()])


def _bs_wide_inner_rel(spec: ApproxQuerySpec, df: DataFrame) -> DataFrame:
    """Trial-unrolled inner stage: ONE hash aggregate over the sample at
    (group, stratum) computing all R per-trial integer sums as separate
    columns, then a posexplode of the tiny groups x strata relation back
    to (group, stratum, trial) rows with the exact schema the cross-join
    form produced.

    vs the previous ``df.crossJoin(broadcast(trials))``: the sample is no
    longer multiplied by R before the first partial aggregation — each
    input row is scanned once, evaluates the shared key hash once
    (``__bsb``), and updates R aggregation buffers after a single group
    lookup instead of making R hash-map probes on R materialized copies.
    Row expansion now happens AFTER aggregation, on groups x strata rows.
    The per-trial integer sums are exact, so results are bit-identical to
    the cross-join form (which remains the oracle's replay shape).
    Reference analog: the per-row R-vector DeclarativeAggregate
    (bootstrap/DeclarativeBootstrapAggregateFunction.scala)."""
    gcols, qcols = _gcols(spec), _qcols(spec)
    sc = _scales(spec)
    dfm = df.select("*", *[F.expr(s).alias(n) for n, s in
                           bs.wide_trial_columns(spec.sample,
                                                 spec.trials).items()])
    static = {"__sns": f"MAX({cf.STRATA_SAMPLED_COL})",
              "__snt": f"MAX({cf.STRATA_TOTAL_COL})"}
    per_trial: list[dict[str, str]] = []
    for t in range(spec.trials):
        ft = bs.mask_frag(spec.sample, m_sql=f"__bsm{t}")
        for a in spec.aggs:
            for n, s in bs.inner_frags(a, sc[a.alias], spec.sample,
                                       m_sql=f"__bsm{t}").items():
                if n.startswith("__bmm_"):
                    # min/max ignore resampling: trial-invariant, one copy
                    static.setdefault(n, s)
                else:
                    ft[n] = s
        per_trial.append(ft)
    wide = dict(static)
    for t, ft in enumerate(per_trial):
        for n, s in ft.items():
            wide[f"{n}__t{t}"] = s
    agged = _agg_frags(dfm, gcols + qcols, wide)
    trial_names = list(per_trial[0].keys())
    structs = [F.struct(F.lit(t).cast("bigint").alias(bs.TRIAL_COL),
                        *[F.col(f"{n}__t{t}").alias(n) for n in trial_names])
               for t in range(spec.trials)]
    keep = gcols + qcols + list(static.keys())
    return (agged
            .select(*keep, F.explode(F.array(*structs)).alias("__w"))
            .select(*keep, "__w.*"))


# bootstrap form pick: one count() per (spec, token), kept in the
# session's ``bs_rows`` cache -- the prepared sample relation is cached, so
# the count is a cheap cached-scan job, paid once per plan. Token-less
# calls are never counted: without a token the data location isn't pinned,
# and the count would derive the un-cached sample once just to throw it
# away; they take the wide form, the scale-safe default.

# form-pick threshold in aggregation CELLS (sample rows x trials): below
# it the legacy cross-join form wins (stays inside WholeStageCodegen —
# the wide form's ~3R-column aggregate exceeds codegen's field limits and
# runs interpreted, round-8 PLANS.md); above it the wide form wins (the
# cross-join multiplies the sample by R BEFORE the first partial
# aggregation — 102.9 s vs 22.9 s at 10x sf0.1). Both forms are
# bit-identical (integer trial sums), so this is purely a physical pick.
_BS_XJOIN_MAX_CELLS = 20_000_000


def _bs_xjoin_inner_rel(spark: SparkSession, spec: ApproxQuerySpec,
                        df: DataFrame) -> DataFrame:
    """Legacy cross-join inner stage (also the oracle's replay shape):
    sample x broadcast(trial relation), one hash aggregate at
    (group, stratum, trial) with the per-row ``__trial``-salted
    multiplicity CASE. Bit-identical to ``_bs_wide_inner_rel`` — kept as
    the small-sample fast path (see _BS_XJOIN_MAX_CELLS)."""
    gcols, qcols = _gcols(spec), _qcols(spec)
    trials = spark.range(spec.trials).select(
        F.col("id").cast("bigint").alias(bs.TRIAL_COL))
    dfm = df.crossJoin(F.broadcast(trials))
    return _agg_frags(dfm, gcols + qcols + [bs.TRIAL_COL],
                      _bs_inner_frags(spec))


def _bootstrap_fin_rel(spark: SparkSession, spec: ApproxQuerySpec,
                       df: DataFrame,
                       cache_token: str | None = None) -> DataFrame:
    gcols, qcols = _gcols(spec), _qcols(spec)
    rows = (None if cache_token is None else StageCache.of(spark).build(
        "bs_rows", (spec, cache_token), df.count))
    if rows is not None and rows * spec.trials <= _BS_XJOIN_MAX_CELLS:
        inner = _bs_xjoin_inner_rel(spark, spec, df)
    else:
        inner = _bs_wide_inner_rel(spec, df)
    outer = _agg_frags(inner, gcols + [bs.TRIAL_COL], _bs_outer_frags(spec))
    trialv = _select_frags(outer, gcols + [bs.TRIAL_COL, "__bmask"],
                           _bs_trial_frags(spec))
    if spec.composites:
        trialv = trialv.select("*", *[F.expr(s).alias(n) for n, s in
                                      _composite_bv_frags(spec).items()])
    grp = _agg_frags(trialv, gcols, _bs_group_frags(spec, SPARK))
    fin = _select_frags(grp, gcols, _bs_fin_frags(spec, SPARK))
    return fin.select("*", *[F.expr(s).alias(n)
                             for n, s in _bs_rel_frags(spec).items()])


def set_interactive_latency_mode(spark: SparkSession,
                                 enabled: bool = True) -> None:
    """Serving profile for interactive approx queries over CACHED samples.

    AQE's extra query-stage scheduling costs more than it saves when every
    input is a small in-memory sample: measured at sf0.1/local[8]
    (PLANS.md A/B), disabling it cuts the cf_* medians 15-40%
    (cf_sum_global 0.045 -> 0.026 s) with only bs_sum_group ~10% slower.
    AQE stays ON for ETL-shaped pipelines (dedup/ANN/streaming ingest),
    where runtime re-planning and skew handling actually pay — call with
    ``enabled=False`` to restore before running those."""
    spark.conf.set("spark.sql.adaptive.enabled",
                   "false" if enabled else "true")


def run_approx_query(spark: SparkSession, spec: ApproxQuerySpec,
                     tables: dict[str, DataFrame],
                     cache_token: str | None = None,
                     rename: dict[str, str] | None = None) -> DataFrame:
    """Execute the approximate query; returns the visible-result DataFrame
    with its columns renamed by ``rename`` (output column -> name). With a
    ``cache_token`` that final DataFrame is kept in the session's ``plan``
    cache, whatever the behavior, so a hit returns a Dataset Spark has
    already analyzed and planned; without one it is built per call."""
    def build() -> DataFrame:
        out = _answer(spark, spec, tables, cache_token)
        return out.withColumnsRenamed(rename) if rename else out
    if cache_token is None:
        return build()
    return StageCache.of(spark).build(
        "plan", (spec, cache_token, tuple((rename or {}).items())), build)


def _answer(spark: SparkSession, spec: ApproxQuerySpec,
            tables: dict[str, DataFrame],
            cache_token: str | None) -> DataFrame:
    """Build fin_rel once and return the relation ``spec.behavior`` answers
    with. strict / run_on_full_table / a global partial reroute decide the
    error contract with one check job over fin_rel, as the reference checks
    the error flags on the computed aggregation (AQPRules.scala:341-363);
    a grouped partial reroute stays lazy and decides per group."""
    df = _prepare(spec, tables, sampled=True, cache_token=cache_token)
    fin_rel = (_bootstrap_fin_rel(spark, spec, df, cache_token)
               if spec.estimator == "bootstrap"
               else _closedform_fin_rel(spec, df))
    behavior, gcols = spec.behavior, _gcols(spec)
    viol = F.expr(_violation_cond(spec))
    if behavior == "partial_run_on_base_table" and gcols:
        # violating groups -> exact, the others -> approx
        bad_keys = fin_rel.where(viol).select(*gcols).distinct()
        out = _finalize_visible(spec, fin_rel.where(~viol)).unionByName(
            _exact_query(spec, tables, restrict_to=bad_keys))
    elif (behavior in ("do_nothing", "local_omit")
          or fin_rel.where(viol).limit(1).count() == 0):
        out = _finalize_visible(spec, fin_rel)
    elif behavior == "strict":
        raise cf.ErrorLimitExceededException(
            f"relative error exceeded {spec.error} (behavior=strict)")
    else:
        # run_on_full_table; a partial reroute with no GROUP BY has one
        # global group (no group keys to join on, also on empty input),
        # so it degenerates to the full reroute
        out = _exact_query(spec, tables)
    return _project_visible(spec, _apply_tail(spec, out))


def run_exact_query(spark: SparkSession, spec: ApproxQuerySpec,
                    tables: dict[str, DataFrame]) -> DataFrame:
    """Exact path (unsupported-aggregate routing / benchmarking baseline)."""
    return _project_visible(spec, _apply_tail(spec, _exact_query(spec, tables)))


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] | None = None) -> dict[str, DataFrame]:
    names = names or tuple(TABLE_COLUMNS)
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}


# --------------------------------------------------------------------------
# oracle SQL emission (DuckDB replay; also valid Spark SQL for self-checks)
# --------------------------------------------------------------------------

def _dict_select(frags: dict[str, str], keep: list[str]) -> str:
    parts = keep + [f"{sql} AS {name}" for name, sql in frags.items()]
    return ", ".join(parts)


def oracle_sql_for(spec: ApproxQuerySpec, dialect: str = DUCKDB,
                   sample_stages_override: list | None = None,
                   rename: dict[str, str] | None = None) -> str:
    """``sample_stages_override``: replaces the sample-derivation CTE chain
    (must end in a stage named ``__sample``). Used when the engine-side
    sample is ATTACHED rows rather than a re-derivation — e.g. the AQP-211
    auto-detected weighted tables, whose oracle replays the PRODUCING
    spec's chain and then reads the stored hidden columns verbatim.
    ``rename`` (output column -> name) mirrors ``run_approx_query``'s."""
    gcols, qcols = _gcols(spec), _qcols(spec)
    stages = []
    # sampled subquery trees: each gets its own sample CTE (__subs{i}),
    # referenced from full_where_sql in BOTH the sampled and the exact
    # replica stage (the replacement is an analysis-time rewrite)
    for i, sp in enumerate(spec.where_subs):
        if sp.sample is not None:
            stages += sample_cte_stages(sp.sample, out_name=f"__subs{i}",
                                        prefix=f"__s{i}")
    if sample_stages_override is not None:
        assert sample_stages_override[-1][0] == "__sample"
        stages += sample_stages_override
    else:
        stages += sample_cte_stages(spec.sample, out_name="__sample")

    def prepared_stage(src: str, sampled: bool) -> str:
        sampled_tbl = spec.sample.base_table
        from ..tables import TABLE_COLUMNS

        def rel(name: str, alias: str | None) -> str:
            if name.lower() == sampled_tbl and sampled:
                body = src
                if spec.sample.qcs:
                    # QCS computed inside the sampled relation (pre-join),
                    # mirroring the DataFrame path — a joined relation
                    # sharing the column name cannot make it ambiguous
                    qsel = ", ".join(f"{q} AS __sq{i}"
                                     for i, q in enumerate(spec.sample.qcs))
                    body = f"(SELECT *, {qsel} FROM {src})"
                return f"{body} AS {alias or name}"
            # alias every relation (WHERE/ON keep qualified references)
            return f"{name} AS {alias}" if alias else name

        def hidden_of(name: str) -> list[str]:
            if not (name.lower() == sampled_tbl and sampled):
                return []
            from ..specs import (STRATA_SAMPLED_COL, STRATA_TOTAL_COL,
                                 WEIGHT_COL)
            return ([STRATA_SAMPLED_COL, STRATA_TOTAL_COL, WEIGHT_COL]
                    + [f"__sq{i}" for i in range(len(spec.sample.qcs))])

        # explicit projection with LEFTMOST-relation-wins dedup of
        # duplicate column names — mirrors _prepare's post-WHERE drops;
        # WHERE evaluates at the same SELECT level, so qualified
        # references to the dropped duplicates still resolve there.
        # Relations outside the schema registry (dynamically attached
        # tables whose oracle is built session-free, e.g. the AQP-211
        # auto-weighted fixtures) fall back to SELECT * — they are
        # single-relation shapes with no duplicate risk.
        start_name = spec.from_relation or sampled_tbl
        start_al = spec.from_alias or start_name
        rels = ([(start_name, start_al)]
                + [(j.table, j.alias or j.table) for j in spec.joins])
        sel: list[str] = []
        if all(n.lower() in TABLE_COLUMNS for n, _ in rels):
            seen: set[str] = set()
            for name, alias in rels:
                for c in list(TABLE_COLUMNS[name.lower()]) + hidden_of(name):
                    if c.lower() not in seen:
                        seen.add(c.lower())
                        sel.append(f"{alias}.{c}")
        else:
            sel = ["*"]

        frm = rel(start_name, spec.from_alias)
        for j in spec.joins:
            if j.how == "cross":
                frm += f" CROSS JOIN {rel(j.table, j.alias)}"
            else:
                frm += f" {j.how.upper()} JOIN {rel(j.table, j.alias)} ON {j.on}"
        sql = f"SELECT {', '.join(sel)} FROM {frm}"
        where_full = full_where_sql(spec)
        if where_full:
            sql += f" WHERE {where_full}"
        # group exprs bind ABOVE the deduped projection (bare column
        # references would be ambiguous at the join level while both
        # duplicates are still in scope)
        proj = [f"{g} AS __g{i}" for i, g in enumerate(spec.group_by)]
        proj_sql = ("*, " + ", ".join(proj)) if proj else "*"
        return f"SELECT {proj_sql} FROM ({sql}) __p"

    stages.append(("__pre", prepared_stage("__sample", sampled=True)))
    if spec.estimator == "bootstrap":
        stages.append(("__trials",
                       f"SELECT CAST(range AS BIGINT) AS {bs.TRIAL_COL} "
                       f"FROM range(0, {spec.trials})"))
        group1 = ", ".join(gcols + qcols + [bs.TRIAL_COL])
        stages.append(("__binner",
                       f"SELECT {_dict_select(_bs_inner_frags(spec), gcols + qcols + [bs.TRIAL_COL])} "
                       f"FROM __pre CROSS JOIN __trials GROUP BY {group1}"))
        group2 = ", ".join(gcols + [bs.TRIAL_COL])
        stages.append(("__bouter",
                       f"SELECT {_dict_select(_bs_outer_frags(spec), gcols + [bs.TRIAL_COL])} "
                       f"FROM __binner GROUP BY {group2}"))
        stages.append(("__btrial",
                       f"SELECT {_dict_select(_bs_trial_frags(spec), gcols + [bs.TRIAL_COL, '__bmask'])} "
                       f"FROM __bouter"))
        grp_src = "__btrial"
        if spec.composites:
            comp_sel = ", ".join(f"{s} AS {n}" for n, s in
                                 _composite_bv_frags(spec).items())
            stages.append(("__btrialc",
                           f"SELECT *, {comp_sel} FROM __btrial"))
            grp_src = "__btrialc"
        group3 = ", ".join(gcols) or None
        stages.append(("__bgrp",
                       f"SELECT {_dict_select(_bs_group_frags(spec, dialect), gcols)} "
                       f"FROM {grp_src}" + (f" GROUP BY {group3}" if group3 else "")))
        stages.append(("__bfin",
                       f"SELECT {_dict_select(_bs_fin_frags(spec, dialect), gcols)} "
                       f"FROM __bgrp"))
        stages.append(("__fin_rel",
                       f"SELECT *, {_dict_select(_bs_rel_frags(spec), [])} FROM __bfin"))
    else:
        group1 = ", ".join(gcols + qcols) or None
        inner_sel = _dict_select(_inner_frags(spec), gcols + qcols)
        stages.append(("__inner", f"SELECT {inner_sel} FROM __pre" +
                       (f" GROUP BY {group1}" if group1 else "")))
        group2 = ", ".join(gcols) or None
        outer_all = _outer_frags(spec)
        outer_sel = _dict_select(outer_all, gcols)
        stages.append(("__outer", f"SELECT {outer_sel} FROM __inner" +
                       (f" GROUP BY {group2}" if group2 else "")))
        keep_c = [n for n in outer_all if n.startswith("__c_")]
        stages.append(("__fin_est",
                       f"SELECT {_dict_select(_fin_est_frags(spec, dialect), gcols + keep_c)} "
                       f"FROM __outer"))
        stages.append(("__fin_rel",
                       f"SELECT *, {_dict_select(_fin_rel_frags(spec), [])} FROM __fin_est"))

    out_frags = _output_frags(spec)
    vis_parts = [f"__g{i} AS {name}" for i, name in enumerate(spec.group_out)]
    vis_parts += [f"{sql} AS {name}" for name, sql in out_frags.items()]
    vis_sql = _derive_sql(
        spec, f"SELECT {', '.join(vis_parts)} FROM __fin_rel", "__dv")

    behavior = spec.behavior
    if behavior in ("partial_run_on_base_table", "run_on_full_table"):
        viol = _violation_cond(spec)
        # exact replica stages over the base table
        stages.append(("__pre_exact",
                       prepared_stage(spec.sample.base_table, sampled=False)))
        exact_parts = [f"__g{i} AS __eg{i}" for i in range(len(gcols))]
        exact_parts += [f"{sql} AS {name}" for name, sql in _exact_frags(spec).items()]
        exact_group = ", ".join(gcols) or None
        stages.append(("__exact_agg",
                       f"SELECT {', '.join(exact_parts)} FROM __pre_exact" +
                       (f" GROUP BY {exact_group}" if exact_group else "")))
        exact_vis_parts = [f"__eg{i} AS {name}" for i, name in enumerate(spec.group_out)]
        derived_names = {n for _, n in spec.derived_items}
        exact_vis_parts += [a for a in output_columns(spec)
                            if a not in spec.group_out
                            and a not in derived_names]
        exact_vis = _derive_sql(
            spec, f"SELECT {', '.join(exact_vis_parts)} FROM __exact_agg",
            "__edv")
        if behavior == "run_on_full_table" or not gcols:
            # partial reroute degenerates to full reroute for the single
            # global group (and avoids an empty join-key tuple)
            stages.append(("__has_viol",
                           f"SELECT CASE WHEN EXISTS (SELECT 1 FROM __fin_rel WHERE {viol}) "
                           f"THEN 1 ELSE 0 END AS v"))
            stages.append(("__vis",
                           f"SELECT * FROM ({vis_sql}) __a WHERE (SELECT v FROM __has_viol) = 0 "
                           f"UNION ALL "
                           f"SELECT * FROM ({exact_vis}) __e WHERE (SELECT v FROM __has_viol) = 1"))
        else:
            key_tuple = "(" + ", ".join(gcols) + ")"
            ekey_tuple = "(" + ", ".join(f"__eg{i}" for i in range(len(gcols))) + ")"
            stages.append(("__bad",
                           f"SELECT DISTINCT {', '.join(gcols)} FROM __fin_rel WHERE {viol}"))
            stages.append(("__exact_bad",
                           f"SELECT * FROM __exact_agg "
                           f"WHERE {ekey_tuple} IN (SELECT {key_tuple} FROM __bad)"))
            good_vis = _derive_sql(
                spec, f"SELECT {', '.join(vis_parts)} FROM __fin_rel "
                      f"WHERE NOT {viol}", "__gdv")
            bad_vis = _derive_sql(
                spec, f"SELECT {', '.join(exact_vis_parts)} "
                      f"FROM __exact_bad", "__bdv")
            stages.append(("__vis", f"{good_vis} UNION ALL {bad_vis}"))
    else:
        stages.append(("__vis", vis_sql))

    final = f"SELECT {', '.join(visible_columns(spec))} FROM __vis"
    if spec.having:
        final += f" WHERE {spec.having}"
    if spec.order_by:
        final += f" ORDER BY {', '.join(spec.order_by)}"
    if spec.limit is not None:
        final += f" LIMIT {spec.limit}"
    sql = stages_to_sql(stages, final)
    if not rename:
        return sql
    cols = [f"{c} AS {rename.get(c, c)}" for c in visible_columns(spec)]
    return f"SELECT {', '.join(cols)} FROM (\n{sql}\n) __renamed"
