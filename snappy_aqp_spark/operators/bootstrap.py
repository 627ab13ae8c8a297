"""Bootstrap (Poisson-resampling) error-estimated aggregation.

Rebuilds the reference's bootstrap pipeline — Poisson(1) multiplicity vectors
per row/trial (bootstrap/bootstrapExpressions.scala:35,157-225), per-trial
weighted aggregates (bootstrap/BootstrapSum.scala, BootstrapCount.scala,
BootstrapAverage.scala), the group-nonempty multiplicity mask
(bootstrap/BootstrapMultiplicityAggregate.scala:26-210) and the quantile
finalize ``evalApproxColumn`` (bootstrap/BootstrapFunctions.scala:143-216):

    trial 0 is the actual sample estimate (multiplicity 1 everywhere);
    trials 1..R-1 draw m ~ Poisson(1) per row.
    value_t = per-trial Horvitz-Thompson aggregate (sum: Σ w·m·x, ...)
    include trial t iff the group was non-empty in t (and value not NaN,
    except Count); sorted ascending:
        lb = sorted[floor(R'·(1-conf)/2)]     (0-based)
        ub = sorted[ceil(R'·(1+conf)/2) - 1]
    absErr = (ub-lb)/2;  relErr = |(ub-lb)/(2·safeEst)| with
    safeEst = est if |est|>1 else est±1;  LOCAL_OMIT -> all NULL.

Like the reference's per-row R-vector columns (bootstrap/
DeclarativeBootstrapAggregateFunction.scala — R aggregation buffer slots
updated per input row), the Spark execution path unrolls the R trials into
R projection columns sharing one key-hash base (``wide_trial_columns``) and
aggregates them in a single pass at (group, stratum); the trial dimension
is exploded only AFTER aggregation, on groups x strata rows
(plans/approx_query.py ``_bs_wide_inner_rel``). Multiplicities come from
the deterministic key hash (detrng.py) salted by trial, so the whole thing
replays exactly in DuckDB — the oracle replays the equivalent (bit-exact,
integer-sum) CROSS JOIN of a trial relation, which is also the form the
per-row ``multiplicity_sql`` serves. Scale note: the sample is scanned
once regardless of R; the pre-shuffle volume is groups x strata x R
buffer cells, never rows x R (A/B at 10x sf0.1: 102.9 s cross-join ->
22.9 s wide, bit-identical — PLANS.md round-8 audit).
"""

from __future__ import annotations

from ..detrng import _MIX, _MUL, MODULUS, hash_sql
from ..dialect import dlit, nan_literal
from ..quant import pow2_literal
from ..specs import ApproxAgg, ApproxQuerySpec, SampleSpec
from ..stats import poisson1_cdf_thresholds
from .closedform import AggScales, quantized_measure

TRIAL_COL = "__trial"
BASE_HASH_COL = "__bsb"          # wide form: per-row key-hash, salt-free


def multiplicity_sql(sample: SampleSpec) -> str:
    """Poisson(1) multiplicity for (row, trial); trial 0 -> always 1."""
    h = hash_sql(list(sample.key_cols), seed=sample.seed * 31 + 1709, salt=TRIAL_COL)
    th = poisson1_cdf_thresholds(MODULUS)
    branches = " ".join(
        f"WHEN {h} < {c} THEN {k}" for k, c in enumerate(th))
    return f"(CASE WHEN {TRIAL_COL} = 0 THEN 1 {branches} ELSE {len(th)} END)"


def wide_trial_columns(sample: SampleSpec, trials: int) -> dict[str, str]:
    """Projection fragments for the trial-unrolled (wide) bootstrap form:
    ``__bsb`` = the salt-free polynomial key hash (computed ONCE per row),
    then ``__bsm{t}`` = the Poisson(1) multiplicity for trial t with the
    trial salt folded to a Python-computed constant.

    Arithmetic is bit-identical to ``multiplicity_sql`` evaluated with
    ``__trial = t``: ``hash_sql``'s expression-salt path computes
    ``((keys_hash + ((salt)*MIX + 777) % M) * MUL + 99991) % M`` and
    ``hash_sql(salt=0)`` IS the bare ``keys_hash``, so folding
    ``(t*MIX + 777) % M`` in Python reproduces the identical BIGINT values
    (all intermediates < 2^63, same as the per-row form). This is the
    reference's per-row R-vector layout (bootstrap/
    DeclarativeBootstrapAggregateFunction.scala) re-expressed as R
    projection columns feeding one hash aggregate, instead of a CROSS JOIN
    that multiplies the sample by R before the first partial aggregation.
    """
    base = hash_sql(list(sample.key_cols), seed=sample.seed * 31 + 1709, salt=0)
    th = poisson1_cdf_thresholds(MODULUS)
    cols: dict[str, str] = {BASE_HASH_COL: base}
    for t in range(trials):
        if t == 0:
            # trial 0 is the actual sample: multiplicity 1 everywhere
            cols["__bsm0"] = "1"
            continue
        salt_c = (t * _MIX + 777) % MODULUS
        h = f"((({BASE_HASH_COL} + {salt_c}) * {_MUL} + 99991) % {MODULUS})"
        branches = " ".join(
            f"WHEN {h} < {c} THEN {k}" for k, c in enumerate(th))
        cols[f"__bsm{t}"] = f"(CASE {branches} ELSE {len(th)} END)"
    return cols


def inner_frags(agg: ApproxAgg, sc: AggScales, sample: SampleSpec,
                m_sql: str | None = None) -> dict[str, str]:
    """per (group, stratum, trial): integer-exact resampled sums.

    ``m_sql`` overrides the multiplicity expression (the wide form passes a
    precomputed ``__bsm{t}`` column); default is the per-row ``__trial``
    CASE used by the oracle's CROSS JOIN replay."""
    a = agg.alias
    if agg.func in ("min", "max"):
        # bypass aggregate (ByPassErrorCalc): extremum over the ACTUAL
        # sample rows — resampling multiplicities are ignored, the trial
        # dimension just carries the value through unchanged
        return {f"__bmm_{a}": f"CAST({agg.func.upper()}({agg.measure}) AS DOUBLE)"}
    m = m_sql or multiplicity_sql(sample)
    out: dict[str, str] = {}
    if agg.func == "count_star":
        out[f"__bm_{a}"] = f"CAST(SUM({m}) AS BIGINT)"
    else:
        notnull = f"CASE WHEN ({agg.measure}) IS NOT NULL THEN {m} ELSE 0 END"
        out[f"__bm_{a}"] = f"CAST(SUM({notnull}) AS BIGINT)"
        if agg.func in ("sum", "avg"):
            mq = quantized_measure(agg.measure, sc.m)
            out[f"__bsx_{a}"] = f"CAST(SUM(({m}) * ({mq})) AS BIGINT)"
    return out


def mask_frag(sample: SampleSpec, m_sql: str | None = None) -> dict[str, str]:
    """group-nonempty indicator per trial (BootstrapMultiplicityAggregate)."""
    m = m_sql or multiplicity_sql(sample)
    return {"__bmask": f"MAX(CASE WHEN ({m}) > 0 THEN 1 ELSE 0 END)"}


def outer_frags(agg: ApproxAgg, sc: AggScales) -> dict[str, str]:
    """per (group, trial): lattice-combined weighted estimates."""
    a = agg.alias
    if agg.func in ("min", "max"):
        return {f"__bmm_{a}": f"{agg.func.upper()}(__bmm_{a})"}
    w = "(CAST(__snt AS DOUBLE) / CAST(__sns AS DOUBLE))"

    def qsum(term: str, s: int) -> str:
        return (f"CAST(SUM(CAST(FLOOR(({term}) * {pow2_literal(s)}) AS BIGINT)) "
                f"AS BIGINT)")

    wc_term = f"(CAST(__bm_{a} AS DOUBLE) * {w})"
    out = {f"__bqwc_{a}": qsum(wc_term, sc.sw)}
    if agg.func in ("sum", "avg"):
        sx_d = f"(CAST(__bsx_{a} AS DOUBLE) * {pow2_literal(-sc.m)})"
        out[f"__bqts_{a}"] = qsum(f"({sx_d} * {w})", sc.st)
    return out


def trial_value_frag(agg: ApproxAgg, sc: AggScales) -> dict[str, str]:
    """per (group, trial) scalar estimate."""
    a = agg.alias
    if agg.func in ("min", "max"):
        return {f"__bv_{a}": f"__bmm_{a}"}
    wc = f"(CAST(__bqwc_{a} AS DOUBLE) * {pow2_literal(-sc.sw)})"
    if agg.func in ("count", "count_star"):
        return {f"__bv_{a}": wc}
    ts = f"(CAST(__bqts_{a} AS DOUBLE) * {pow2_literal(-sc.st)})"
    if agg.func == "sum":
        return {f"__bv_{a}": ts}
    return {f"__bv_{a}": (f"(CASE WHEN {wc} = CAST('0.0' AS DOUBLE) "
                          f"THEN {nan_literal()} ELSE {ts} / {wc} END)")}


def group_frags(agg: ApproxAgg, dialect: str) -> dict[str, str]:
    """per group: trial-0 estimate + sorted included-trial values."""
    from ..dialect import array_sort, collect_list
    a = agg.alias
    v = f"__bv_{a}"
    if agg.func in ("min", "max"):
        return {f"__best_{a}": f"MAX(CASE WHEN {TRIAL_COL} = 0 THEN {v} END)"}
    if agg.func in ("count", "count_star"):
        include = f"(__bmask = 1)"
    else:
        include = f"(__bmask = 1 AND NOT isnan({v}))"
    coll = collect_list(dialect, v)
    return {
        f"__best_{a}": f"MAX(CASE WHEN {TRIAL_COL} = 0 THEN {v} END)",
        f"__bvals_{a}": f"{array_sort(dialect, coll + f' FILTER (WHERE {include})')}",
        f"__blen_{a}": f"COUNT(CASE WHEN {include} THEN 1 END)",
    }


def fin_frags(agg: ApproxAgg, spec: ApproxQuerySpec, dialect: str) -> dict[str, str]:
    """per group: est/lb/ub/abs/rel named like the closed-form stage so the
    HAC machinery (strict / rerouting) is shared."""
    from ..dialect import element_at
    a = agg.alias
    if agg.func in ("min", "max"):
        e = f"__best_{a}"
        return {f"__est_{a}": e, f"__blb_{a}": e, f"__bub_{a}": e}
    est, vals, ln = f"__best_{a}", f"__bvals_{a}", f"__blen_{a}"
    lower = (1.0 - spec.confidence) / 2.0
    upper = (1.0 + spec.confidence) / 2.0
    lb_idx = f"(CAST(FLOOR(CAST({ln} AS DOUBLE) * {dlit(lower)}) AS INT) + 1)"
    ub_idx = f"CAST(CEIL(CAST({ln} AS DOUBLE) * {dlit(upper)}) AS INT)"
    empty_guard = f"{ln} > 0"
    lb = f"(CASE WHEN {empty_guard} THEN {element_at(dialect, vals, lb_idx)} END)"
    ub = f"(CASE WHEN {empty_guard} THEN {element_at(dialect, vals, ub_idx)} END)"
    return {f"__est_{a}": est, f"__blb_{a}": lb, f"__bub_{a}": ub}


def rel_frags(agg: ApproxAgg) -> dict[str, str]:
    a = agg.alias
    e, lb, ub = f"__est_{a}", f"__blb_{a}", f"__bub_{a}"
    safe = (f"(CASE WHEN {e} < {dlit(-1.0)} OR {e} > {dlit(1.0)} THEN {e} "
            f"WHEN {e} >= {dlit(0.0)} THEN {e} + {dlit(1.0)} "
            f"ELSE {e} - {dlit(1.0)} END)")
    return {f"__rel_{a}": (
        f"(CASE WHEN {e} IS NULL THEN NULL "
        f"ELSE ABS(({ub} - {lb}) / ({dlit(2.0)} * {safe})) END)")}


def output_frags(agg: ApproxAgg, spec: ApproxQuerySpec) -> dict[str, str]:
    """visible outputs; bootstrap LOCAL_OMIT yields SQL NULLs
    (BootstrapFunctions.scala:195-203) unlike closed-form NaNs."""
    a = agg.alias
    e, lb, ub, r = f"__est_{a}", f"__blb_{a}", f"__bub_{a}", f"__rel_{a}"
    absq = f"(({ub} - {lb}) / {dlit(2.0)})"
    count_default = (f"COALESCE({e}, {dlit(0.0)})"
                     if agg.func in ("count", "count_star") else e)
    if spec.behavior == "local_omit":
        om = f"({r} IS NOT NULL AND NOT isnan({r}) AND {r} > {dlit(spec.error)})"
        out = {a: f"(CASE WHEN {om} THEN NULL ELSE {count_default} END)"}
        err_val = {
            "absolute_error": f"(CASE WHEN {om} THEN NULL ELSE {absq} END)",
            "relative_error": f"(CASE WHEN {om} THEN NULL ELSE {r} END)",
            "lower_bound": f"(CASE WHEN {om} THEN NULL ELSE {lb} END)",
            "upper_bound": f"(CASE WHEN {om} THEN NULL ELSE {ub} END)",
        }
    else:
        out = {a: count_default}
        err_val = {"absolute_error": absq, "relative_error": r,
                   "lower_bound": lb, "upper_bound": ub}
    for fn in agg.errors:
        out[f"{a}_{fn}"] = err_val[fn]
    return out
