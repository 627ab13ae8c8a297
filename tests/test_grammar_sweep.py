"""Deterministic grammar sweep of the WITH-ERROR SQL surface.

Enumerates a bounded cross-product of the dialect's axes — aggregate mix,
filter, grouping (incl. ordinals and function keys), tail clauses, error
functions (selected, derived arithmetic, direct in HAVING), behaviors,
alias styles — and checks EVERY routed query bit-exactly against the
DuckDB replay of its analyzed spec. The reference spreads these shapes
over QuerySyntaxTestSuite / QueryRoutingTestSuite / CommonBugTest; the
sweep packs the combinational coverage into one deterministic pass (no
randomness: failures reproduce by name).
"""

from __future__ import annotations

import itertools

import pytest

from snappy_aqp_spark.api import AQPSession, Route
from snappy_aqp_spark.plans.approx_query import oracle_sql_for
from tests.conftest import SF_SMALL, compare_frames

AGGS = [
    "sum(l_quantity) AS m",
    "avg(l_extendedprice) AS m",
    "count(*) AS m",
    "sum(l_extendedprice * (1.0 - l_discount)) AS m",
]
ERRS = [
    "",
    ", absolute_error(m), relative_error(m)",
    ", lower_bound(m) + upper_bound(m) AS span",
]
WHERES = ["", " WHERE l_quantity BETWEEN 5 AND 45"]
GROUPS = [
    ("", ""),
    (" GROUP BY l_returnflag", "l_returnflag, "),
    (" GROUP BY 1", "CAST(FLOOR(l_quantity / 25) AS BIGINT) qb, "),
]
TAILS = ["", " ORDER BY m DESC LIMIT 3"]
BEHAVIORS = ["", " BEHAVIOR 'do_nothing'", " BEHAVIOR 'local_omit'",
             " BEHAVIOR 'partial_run_on_base_table'",
             # the exact-reroute path: error-fn folding (NULL bounds /
             # 0 errors, QueryRoutingTestSuite protocol) swept across the
             # same agg/error/group axes — ERROR 0.0001 forces the reroute
             " BEHAVIOR 'run_on_full_table'"]


def _cases():
    for i, (agg, err, where, (group, gsel), tail, beh) in enumerate(
            itertools.product(AGGS, ERRS, WHERES, GROUPS, TAILS, BEHAVIORS)):
        # trim the cross-product: behaviors beyond do_nothing only vary
        # meaningfully with groups + errors present
        if beh in ("", " BEHAVIOR 'do_nothing'") or (group and err):
            err_val = ("0.0001" if "run_on_full_table" in beh else "0.7")
            yield (f"case{i}",
                   f"SELECT {gsel}{agg}{err} FROM lineitem{where}{group}"
                   f"{tail} WITH ERROR {err_val} CONFIDENCE 0.95{beh}")


CASES = list(_cases())

# join-form block: every FROM spelling the reference corpora use, crossed
# with the aggregate/error axes (comma-style, aliased explicit JOIN,
# sampled-dim selection through the join)
JOIN_FROMS = [
    ("FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey", ""),
    ("FROM lineitem l, orders o", " AND l.l_orderkey = o.o_orderkey"),
    ("FROM lineitem, orders", " AND l_orderkey = o_orderkey"),
]


def _join_cases():
    i = 0
    for frm, jpred in JOIN_FROMS:
        for agg in AGGS[:2] + ["sum(o_totalprice) AS m"]:
            for err in ERRS:
                for group, gsel in (("", ""),
                                    (" GROUP BY o_orderpriority",
                                     "o_orderpriority, ")):
                    where = " WHERE o_orderpriority LIKE '1%'" + jpred
                    i += 1
                    yield (f"join{i}",
                           f"SELECT {gsel}{agg}{err} {frm}{where}{group}"
                           f" WITH ERROR 0.7")


CASES += list(_join_cases())

# deep-join block: the sampled fact through a 4-5 hop dimension chain
# (the TPC-H Q5 shape), in every FROM spelling — explicit JOIN chain,
# comma-style with WHERE equalities, and an aliased chain carrying a
# dim-dim predicate inside a compound ON
DEEP_FROMS = [
    ("FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
     "JOIN customer ON o_custkey = c_custkey "
     "JOIN nation ON c_nationkey = n_nationkey "
     "JOIN region ON n_regionkey = r_regionkey", ""),
    ("FROM lineitem, orders, customer, nation, region",
     " AND l_orderkey = o_orderkey AND o_custkey = c_custkey "
     "AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey"),
    ("FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
     "JOIN customer c ON o.o_custkey = c.c_custkey "
     "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
     "AND c.c_nationkey = s.s_nationkey "
     "JOIN nation n ON s.s_nationkey = n.n_nationkey", ""),
]


def _deep_join_cases():
    i = 0
    for frm, jpred in DEEP_FROMS:
        for agg in ("sum(l_extendedprice) AS m", "count(*) AS m"):
            for err in ERRS[:2]:
                i += 1
                yield (f"deep{i}",
                       f"SELECT n_name, {agg}{err} {frm} "
                       f"WHERE r_name IN ('ASIA', 'EUROPE')"
                       f"{jpred} GROUP BY n_name ORDER BY n_name "
                       f"WITH ERROR 0.8" if "region" in frm else
                       f"SELECT n_name, {agg}{err} {frm} "
                       f"WHERE n_name LIKE 'NATION_1%'{jpred} "
                       f"GROUP BY n_name ORDER BY n_name WITH ERROR 0.8")


CASES += list(_deep_join_cases())


@pytest.fixture(scope="module")
def sweep_aqp(spark):
    s = AQPSession(spark, data_token="grammar-sweep")
    s.load_tables(SF_SMALL, ["lineitem", "orders", "customer", "supplier",
                             "nation", "region"])
    s.sql("CREATE SAMPLE TABLE li_sweep ON lineitem OPTIONS("
          "qcs 'l_returnflag', fraction '0.1', method 'hash', seed '42')")
    return s


def test_grammar_sweep_counts():
    # keep the sweep meaningful but bounded; adjust deliberately, not by
    # accident
    assert 150 <= len(CASES) <= 600, len(CASES)


@pytest.mark.slow
@pytest.mark.parametrize("name,query", CASES,
                         ids=[n for n, _ in CASES])
def test_grammar_sweep(sweep_aqp, duck, name, query):
    an = sweep_aqp.analyze_sql(query)
    assert an is not None
    if an.spec is None:
        pytest.skip(f"exact route: {an.reason}")
    df = sweep_aqp.sql(query)
    oracle = duck.sql(oracle_sql_for(an.spec)).df().rename(columns=an.rename)
    compare_frames(df, oracle)


# default-run smoke subset: every 8th case of the full sweep (round 11 —
# the 350+-case sweep is behind the slow marker so the driver's bounded
# pytest window can finish; this keeps grammar coverage in every run and
# the full sweep one flag away: `pytest -m ""`)
@pytest.mark.parametrize("name,query", CASES[::8],
                         ids=[n for n, _ in CASES[::8]])
def test_grammar_smoke(sweep_aqp, duck, name, query):
    an = sweep_aqp.analyze_sql(query)
    assert an is not None
    if an.spec is None:
        pytest.skip(f"exact route: {an.reason}")
    df = sweep_aqp.sql(query)
    oracle = duck.sql(oracle_sql_for(an.spec)).df().rename(columns=an.rename)
    compare_frames(df, oracle)


# EXPLAIN AQP must describe the route sql() runs: the default sweep subset
# plus the sketch, derived-subquery, strict and exact route shapes
ROUTE_CASES = CASES[::8] + [
    ("hll", "SELECT COUNT(DISTINCT o_custkey) AS a, absolute_error(a) AS e "
            "FROM orders WITH ERROR"),
    ("hll_grouped", "SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS a "
                    "FROM orders GROUP BY o_orderpriority ORDER BY a "
                    "WITH ERROR 0.3 BEHAVIOR 'local_omit'"),
    ("hll_strict", "SELECT COUNT(DISTINCT o_custkey) AS a FROM orders "
                   "WITH ERROR 0.01 BEHAVIOR 'strict'"),
    ("histogram", "SELECT l_returnflag, APPROX_PERCENTILE(l_quantity, 0.5) "
                  "AS med, upper_bound(med) AS ub FROM lineitem "
                  "GROUP BY l_returnflag WITH ERROR BEHAVIOR 'local_omit'"),
    ("derived", "SELECT o.o_orderstatus, count(*) AS c FROM (SELECT "
                "l_orderkey, sum(l_extendedprice) AS rev FROM lineitem "
                "GROUP BY l_orderkey) big JOIN orders o "
                "ON big.l_orderkey = o.o_orderkey "
                "GROUP BY o.o_orderstatus WITH ERROR 0.5"),
    ("exact_plain", "SELECT count(*) AS c, absolute_error(c) FROM lineitem"),
    ("exact_shape", "SELECT max(l_quantity) AS m FROM lineitem "
                    "WITH ERROR 0.5"),
]


ROUTE_KINDS = {"hll": "hll", "hll_grouped": "hll",
               "hll_strict": "strict_throw", "histogram": "histogram",
               "derived": "derived", "exact_plain": "exact",
               "exact_shape": "exact"}


@pytest.fixture(scope="module")
def route_aqp(sweep_aqp):
    sweep_aqp.sql("SET spark.sql.aqp.hllCountDistinct=true")
    sweep_aqp.sql("SET spark.sql.aqp.histogramQuantile=true")
    yield sweep_aqp
    sweep_aqp.sql("SET spark.sql.aqp.hllCountDistinct=false")
    sweep_aqp.sql("SET spark.sql.aqp.histogramQuantile=false")


@pytest.mark.parametrize("name,query", ROUTE_CASES,
                         ids=[n for n, _ in ROUTE_CASES])
def test_explain_reports_executed_route(route_aqp, monkeypatch, name,
                                        query):
    ran = []
    monkeypatch.setattr(Route, "run", lambda self, aqp: ran.append(self))
    route_aqp.sql(query)
    (route,) = ran
    assert route.kind == ROUTE_KINDS.get(name, route.kind)
    row = route_aqp.sql("EXPLAIN AQP " + query).collect()[0]
    assert tuple(row) == route.explain_row()
    assert row["route"] == {"exact": "exact",
                            "strict_throw": "strict_throw"}.get(
                                route.kind, "approx")
    if route.kind in ("approx", "derived"):
        # the sample fields are those of the spec run_approx_query gets
        an = route.analyzed if route.kind == "approx" else route.derived[-1][3]
        s = an.spec
        assert tuple(row)[1:7] == (
            s.sample.base_table, ",".join(s.sample.qcs), s.sample.method,
            s.estimator, s.behavior, s.error)
    elif route.kind in ("hll", "histogram"):
        assert row["base_table"] == route.sketch["table"]
        assert row["qcs"] == ",".join(route.sketch["group_keys"])
