"""SQL-surface semantics (reference QuerySyntaxTestSuite analog): WITH clause
parsing, DDL, routing decisions, error-function folding, end-to-end equality
with the replay oracle."""

from __future__ import annotations

import math

import pytest

from snappy_aqp_spark.api import AQPSession
from snappy_aqp_spark.plans.approx_query import oracle_sql_for
from snappy_aqp_spark.sql import frontend as fe
from tests.conftest import SF_SMALL, compare_frames


@pytest.fixture(scope="module")
def aqp(spark):
    s = AQPSession(spark, data_token="test-sf0.001")
    s.load_tables(SF_SMALL, ["lineitem", "orders"])
    s.sql("CREATE SAMPLE TABLE li_sample ON lineitem OPTIONS("
          "qcs 'l_returnflag,l_linestatus', fraction '0.05', method 'hash', seed '42')")
    return s


def test_with_clause_parsing():
    q, wc = fe.strip_with_clause(
        "SELECT 1 FROM t WITH ERROR 0.1 CONFIDENCE 0.9 BEHAVIOR 'strict'")
    assert q == "SELECT 1 FROM t"
    assert (wc.error, wc.confidence, wc.behavior) == (0.1, 0.9, "strict")
    q2, wc2 = fe.strip_with_clause("SELECT 1 FROM t WITH ERROR")
    assert wc2.error is None and wc2.behavior is None
    _, wc3 = fe.strip_with_clause("SELECT 1 FROM t")
    assert wc3 is None
    # bare CONFIDENCE / BEHAVIOR clauses are legal (no WITH keyword) —
    # the reference grammar only ties WITH to ERROR
    q4, wc4 = fe.strip_with_clause("SELECT 1 FROM t BEHAVIOR 'strict'")
    assert q4 == "SELECT 1 FROM t" and wc4.behavior == "strict"
    # but WITH directly before CONFIDENCE/BEHAVIOR is a syntax error in
    # the reference (snappyAQPParsers.scala:48-52) — raise instead of
    # leaving a dangling WITH in the query text
    for bad in ("WITH BEHAVIOR 'strict'", "WITH CONFIDENCE 0.9"):
        with pytest.raises(fe.SQLFrontendError, match="expected ERROR"):
            fe.strip_with_clause(f"SELECT 1 FROM t ORDER BY x DESC {bad}")


def test_parse_select_joins_and_clauses():
    p = fe.parse_select(
        "SELECT o_orderstatus, sum(l_extendedprice) AS s FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey WHERE l_quantity < 10 "
        "GROUP BY o_orderstatus HAVING s > 5 ORDER BY o_orderstatus LIMIT 3")
    assert p.from_table == "lineitem"
    assert p.joins[0].table == "orders"
    assert p.where == "l_quantity < 10"
    assert p.group_by == ["o_orderstatus"]
    assert p.limit == 3


def test_sql_approx_matches_oracle(aqp, duck):
    text = ("SELECT l_returnflag, sum(l_extendedprice) AS s, "
            "absolute_error(s), relative_error(s) AS rel_s, "
            "avg(l_discount) AS d, lower_bound(d), upper_bound(d) "
            "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag "
            "WITH ERROR 0.5 CONFIDENCE 0.95")
    analyzed = aqp.analyze_sql(text)
    assert analyzed.spec is not None
    assert analyzed.spec.estimator == "closed_form"
    df = aqp.sql(text)
    oracle = duck.sql(oracle_sql_for(analyzed.spec)).df()
    oracle = oracle.rename(columns=analyzed.rename)
    compare_frames(df, oracle)


def test_avg_having_picks_bootstrap(aqp):
    text = ("SELECT l_returnflag, avg(l_extendedprice) AS a FROM lineitem "
            "GROUP BY l_returnflag HAVING a > 1000 WITH ERROR 0.2")
    analyzed = aqp.analyze_sql(text)
    assert analyzed.spec.estimator == "bootstrap"


def test_unsupported_routes_exact(aqp, duck):
    text = ("SELECT count(DISTINCT l_suppkey) AS u, absolute_error(u) "
            "FROM lineitem WITH ERROR 0.1")
    analyzed = aqp.analyze_sql(text)
    assert analyzed.spec is None
    df = aqp.sql(text).toPandas()
    exact = duck.sql("SELECT count(DISTINCT l_suppkey) AS u, "
                     "CAST(0.0 AS DOUBLE) FROM lineitem").df()
    assert int(df["u"].iloc[0]) == int(exact["u"].iloc[0])
    assert float(df.iloc[0, 1]) == 0.0


def test_no_sample_routes_exact(aqp):
    text = "SELECT sum(o_totalprice) AS s FROM orders WITH ERROR 0.1"
    analyzed = aqp.analyze_sql(text)
    assert analyzed.spec is None and analyzed.reason == "no sample registered"
    df = aqp.sql(text).toPandas()
    assert len(df) == 1 and df["s"].iloc[0] > 0


def test_no_with_clause_passthrough(aqp):
    df = aqp.sql("SELECT count(*) AS n FROM lineitem").toPandas()
    assert int(df["n"].iloc[0]) == 6000


def test_strict_behavior_via_sql(aqp):
    from snappy_aqp_spark import ErrorLimitExceededException
    with pytest.raises(ErrorLimitExceededException):
        aqp.sql("SELECT sum(l_extendedprice) AS s FROM lineitem "
                "GROUP BY l_returnflag WITH ERROR 0.000001 BEHAVIOR 'strict'")


def test_sample_selection_priority(aqp):
    # second sample with qcs exactly matching a different group-by
    aqp.sql("CREATE SAMPLE TABLE li_by_mode ON lineitem OPTIONS("
            "qcs 'l_linestatus', fraction '0.1', method 'hash', seed '9')")
    a = aqp.analyze_sql("SELECT l_linestatus, count(*) AS c FROM lineitem "
                        "GROUP BY l_linestatus WITH ERROR 0.3")
    assert a.spec.sample.qcs == ("l_linestatus",)
    b = aqp.analyze_sql("SELECT l_returnflag, l_linestatus, count(*) AS c "
                        "FROM lineitem GROUP BY l_returnflag, l_linestatus "
                        "WITH ERROR 0.3")
    assert set(b.spec.sample.qcs) == {"l_returnflag", "l_linestatus"}
    aqp.sql("DROP SAMPLE TABLE li_by_mode")


def test_error_stats_defaults(aqp):
    # session defaults apply on bare WITH ERROR
    a = aqp.analyze_sql("SELECT sum(l_quantity) AS q FROM lineitem WITH ERROR")
    assert a.spec.error == 0.2 and a.spec.confidence == 0.95


def test_create_topk_table_ddl(aqp, spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from tests.conftest import SF_SMALL
    aqp.register_table("events", spark.read.parquet(f"{SF_SMALL}/events.parquet"))
    aqp.sql("CREATE TOPK TABLE ev_topk ON events OPTIONS("
            "key 'user_id', timeSeriesColumn 'ts', timeInterval '259200000000ms', "
            "size '10', width '4096', intKey 'true')")
    res = aqp.query_approx_ts_topk("ev_topk", k=5).toPandas()
    assert len(res) == 5
    assert list(res.columns) == ["key", "EstimatedValue", "LowerBound",
                                 "MaxBound", "Probability"]
    assert res["EstimatedValue"].is_monotonic_decreasing


def test_minmax_alongside_routing(aqp):
    """MIN/MAX next to approx aggs: bypass when the arg is in the QCS,
    whole-query exact route otherwise (QueryRoutingRules.scala:55-92)."""
    a = aqp.analyze_sql(
        "SELECT l_returnflag, sum(l_extendedprice) AS s, "
        "min(l_returnflag) AS mn FROM lineitem "
        "GROUP BY l_returnflag WITH ERROR 0.5")
    assert a.spec is not None
    assert [g.func for g in a.spec.aggs] == ["sum", "min"]
    # arg NOT in the QCS -> exact route
    b = aqp.analyze_sql(
        "SELECT l_returnflag, sum(l_extendedprice) AS s, "
        "max(l_quantity) AS mx FROM lineitem "
        "GROUP BY l_returnflag WITH ERROR 0.5")
    assert b.spec is None and "not in QCS" in b.reason
    # only MIN/MAX (no approximable agg) -> exact route
    c = aqp.analyze_sql(
        "SELECT min(l_returnflag) AS mn FROM lineitem WITH ERROR 0.5")
    assert c.spec is None and c.reason == "no approximable aggregates"


def test_conditional_count_routes_exact(aqp):
    a = aqp.analyze_sql(
        "SELECT count(CASE WHEN l_quantity > 10 THEN 1 END) AS c "
        "FROM lineitem WITH ERROR 0.5")
    assert a.spec is None and "conditional COUNT" in a.reason


def test_subquery_routing(aqp):
    """IN-subquery + scalar subquery both feed the sampled outer plan;
    EXISTS and OR-nested subqueries route exact."""
    a = aqp.analyze_sql(
        "SELECT sum(l_extendedprice) AS s FROM lineitem "
        "WHERE l_orderkey IN (SELECT o_orderkey FROM orders "
        "WHERE o_orderpriority LIKE '1%') AND l_quantity > 5 "
        "WITH ERROR 0.5")
    assert a.spec is not None
    assert len(a.spec.where_subs) == 1
    assert a.spec.where_subs[0].kind == "in"
    assert a.spec.where_subs[0].tables == ("orders",)
    assert a.spec.where == "(l_quantity > 5)"
    b = aqp.analyze_sql(
        "SELECT sum(l_extendedprice) AS s FROM lineitem "
        "WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem) "
        "WITH ERROR 0.5")
    assert b.spec is not None and b.spec.where_subs[0].kind == "scalar"
    c = aqp.analyze_sql(
        "SELECT sum(l_extendedprice) AS s FROM lineitem "
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey) "
        "WITH ERROR 0.5")
    assert c.spec is None and "EXISTS" in c.reason
    d = aqp.analyze_sql(
        "SELECT sum(l_extendedprice) AS s FROM lineitem "
        "WHERE l_quantity > 40 OR l_orderkey IN (SELECT o_orderkey FROM orders) "
        "WITH ERROR 0.5")
    assert d.spec is None


def test_subquery_execution_matches_inline(aqp, duck):
    """the semi-join rewrite of the IN-subquery must equal DuckDB's native
    IN evaluation over the identical sample."""
    text = ("SELECT l_linestatus, sum(l_extendedprice) AS s, "
            "absolute_error(s) FROM lineitem "
            "WHERE l_orderkey IN (SELECT o_orderkey FROM orders "
            "WHERE o_totalprice > 150000.0) "
            "GROUP BY l_linestatus ORDER BY l_linestatus WITH ERROR 0.5")
    analyzed = aqp.analyze_sql(text)
    assert analyzed.spec is not None and analyzed.spec.where_subs
    compare_frames(aqp.sql(text), duck.sql(oracle_sql_for(analyzed.spec)))


def test_session_conf_property_surface(spark):
    """spark.sql.aqp.* conf keys feed session defaults; constructor args win
    (reference SnappyAQPSessionState.scala:222)."""
    keys = {AQPSession.CONF_ERROR: "0.07", AQPSession.CONF_CONFIDENCE: "0.9",
            AQPSession.CONF_BEHAVIOR: "LOCAL_OMIT", AQPSession.CONF_TRIALS: "37"}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        s = AQPSession(spark)
        assert s.defaults == {"error": 0.07, "confidence": 0.9,
                              "behavior": "local_omit", "trials": 37,
                              "col_bounds": {}, "error_conf_set": True,
                              "hll_count_distinct": False, "hll_p": 12,
                              "hist_quantile": False, "hist_bin_width": 50}
        # explicit constructor args override the conf
        s2 = AQPSession(spark, error=0.2, behavior="strict")
        assert s2.defaults["error"] == 0.2
        assert s2.defaults["behavior"] == "strict"
        assert s2.defaults["confidence"] == 0.9    # still from conf
        assert s2.defaults["trials"] == 37
        spark.conf.set(AQPSession.CONF_BEHAVIOR, "bogus")
        with pytest.raises(ValueError, match="unknown behavior"):
            AQPSession(spark)
    finally:
        for k in keys:
            spark.conf.unset(k)
    # without conf keys, built-in defaults apply
    s3 = AQPSession(spark)
    assert s3.defaults == {"error": 0.2, "confidence": 0.95,
                           "behavior": "do_nothing", "trials": 100,
                           "col_bounds": {}, "error_conf_set": False,
                           "hll_count_distinct": False, "hll_p": 12,
                           "hist_quantile": False, "hist_bin_width": 50}


def test_bare_confidence_and_behavior_clauses(aqp):
    """QuerySyntaxTestSuite.scala:123-165: CONFIDENCE / BEHAVIOR may appear
    without WITH ERROR — the error then resolves from the session default."""
    a = aqp.analyze_sql("SELECT sum(l_extendedprice) AS s FROM lineitem "
                        "GROUP BY l_returnflag CONFIDENCE 0.5")
    assert a is not None and a.spec is not None
    assert a.spec.confidence == 0.5
    b = aqp.analyze_sql("SELECT avg(l_quantity) AS a FROM lineitem "
                        "GROUP BY l_returnflag BEHAVIOR 'do_nothing'")
    assert b is not None and b.spec is not None
    assert b.spec.behavior == "do_nothing"
    # a trailing bare column is NOT a with-clause
    assert aqp.analyze_sql("SELECT count(*) AS n FROM lineitem") is None


def test_error_confidence_range_validation():
    """QuerySyntaxTestSuite.scala:168-259: both values strictly in (0,1)."""
    for bad in ("WITH ERROR 1.3", "WITH ERROR 1", "WITH ERROR 0",
                "WITH ERROR 0.3 CONFIDENCE 1.2",
                "WITH ERROR 0.3 CONFIDENCE -0.9",
                "WITH ERROR 0.3 CONFIDENCE 0.0",
                "WITH ERROR 0.3 CONFIDENCE 1.0"):
        with pytest.raises(fe.SQLFrontendError):
            fe.strip_with_clause(f"SELECT 1 FROM t {bad}")


def test_negative_error_disables_aqp(aqp, spark):
    """negative error = the reference's AQP-off sentinel: route exact, not
    raise — explicit (QuerySyntaxTestSuite.scala:205-211) and via
    spark.sql.aqp.error=-1d (:150-161)."""
    a = aqp.analyze_sql("SELECT sum(l_extendedprice) AS s FROM lineitem "
                        "GROUP BY l_returnflag WITH ERROR -1.3")
    assert a is not None and a.spec is None
    neg = AQPSession(spark, error=-1.0, data_token="test-sf0.001-neg")
    neg.load_tables(SF_SMALL, ["lineitem"])
    neg.sql("CREATE SAMPLE TABLE li_neg ON lineitem OPTIONS("
            "qcs 'l_returnflag', fraction '0.05', method 'hash', seed '42')")
    b = neg.analyze_sql("SELECT sum(l_extendedprice) AS s FROM lineitem "
                        "GROUP BY l_returnflag CONFIDENCE 0.5")
    assert b is not None and b.spec is None


def test_topk_sql_scan(aqp, spark):
    """SELECT * FROM <topk> with StartTime/EndTime equality filters — the
    reference's PrunedFilteredScan surface (topk/TopKRelation.scala:59-87).
    Must be identical to the Python query API, and must NOT intercept scans
    of non-TopK tables."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from tests.conftest import SF_SMALL
    aqp.register_table("events", spark.read.parquet(f"{SF_SMALL}/events.parquet"))
    aqp.sql("CREATE TOPK TABLE ev_topk2 ON events OPTIONS("
            "key 'user_id', timeSeriesColumn 'ts', timeInterval '259200000000ms', "
            "size '10', width '4096', intKey 'true')")
    via_sql = aqp.sql("SELECT * FROM ev_topk2 LIMIT 5").toPandas()
    via_api = aqp.query_approx_ts_topk("ev_topk2", k=5).toPandas()
    assert via_sql.equals(via_api)
    # time-filtered: epoch-us bounds behave like the API's bucket filters
    t = aqp.topk.get("ev_topk2")
    s = t.epoch_us
    e = t.epoch_us + 30 * 24 * 3600 * 1_000_000
    via_sql2 = aqp.sql(f"SELECT * FROM ev_topk2 WHERE StartTime = '{s}' "
                       f"AND EndTime = '{e}' LIMIT 5").toPandas()
    via_api2 = aqp.query_approx_ts_topk("ev_topk2", s, e, 5).toPandas()
    assert via_sql2.equals(via_api2)
    # a plain table scan is not intercepted
    assert aqp.sql("SELECT * FROM events LIMIT 3").count() == 3


def test_parse_topk_scan_shapes():
    from snappy_aqp_spark.sql.frontend import parse_topk_scan
    assert parse_topk_scan("SELECT * FROM t1") == ("t1", None, None, None)
    assert parse_topk_scan("SELECT * FROM t1 LIMIT 7") == ("t1", None, None, 7)
    name, s, e, k = parse_topk_scan(
        "SELECT * FROM t1 WHERE StartTime = '1970-01-02 00:00:00' "
        "AND EndTime = '86500000000' LIMIT 3")
    assert (name, s, e, k) == ("t1", 86_400_000_000, 86_500_000_000, 3)
    # non-matching shapes fall through
    assert parse_topk_scan("SELECT key FROM t1") is None
    assert parse_topk_scan("SELECT * FROM t1 WHERE key = 'x'") is None


def test_view_routing(aqp):
    """a WITH ERROR query through a projection view routes to the base
    table's sample, equals the directly-written query, and view aliases +
    predicates fold in (AbstractViewTest protocols)."""
    aqp.sql("CREATE VIEW lv AS (SELECT l_returnflag, l_quantity AS qty "
            "FROM lineitem WHERE l_quantity > 2)")
    a = aqp.analyze_sql("SELECT sum(qty) AS s FROM lv WHERE qty < 40 "
                        "WITH ERROR 0.5")
    assert a.spec is not None
    assert a.spec.sample.base_table == "lineitem"
    via_view = aqp.sql("SELECT l_returnflag, sum(qty) AS s FROM lv "
                       "GROUP BY l_returnflag ORDER BY l_returnflag "
                       "WITH ERROR 0.5").toPandas()
    direct = aqp.sql("SELECT l_returnflag, sum(l_quantity) AS s "
                     "FROM lineitem WHERE l_quantity > 2 "
                     "GROUP BY l_returnflag ORDER BY l_returnflag "
                     "WITH ERROR 0.5").toPandas()
    assert via_view.equals(direct)
    # non-projection views stay on the exact path
    aqp.sql("CREATE VIEW lagg AS (SELECT l_returnflag, sum(l_quantity) AS s "
            "FROM lineitem GROUP BY l_returnflag)")
    b = aqp.analyze_sql("SELECT sum(s) AS t FROM lagg WITH ERROR 0.5")
    assert b.spec is None
    assert aqp.sql("SELECT sum(s) AS t FROM lagg WITH ERROR 0.5").count() == 1
    aqp.sql("DROP VIEW lv")
    aqp.sql("DROP VIEW IF EXISTS lagg")


def test_fluent_dataframe_api(aqp):
    """reference DataFrame-API chain (AbstractAQPDataFrameAPIPart1Test):
    fluent withError == the SQL form, behaviors accepted uppercase."""
    fluent = (aqp.table("lineitem")
              .where("l_quantity > 5")
              .groupBy("l_returnflag")
              .agg("sum(l_extendedprice) AS s", "absolute_error(s)")
              .orderBy("l_returnflag")
              .withError(0.5, 0.95, "DO_NOTHING")).toPandas()
    via_sql = aqp.sql(
        "SELECT l_returnflag, sum(l_extendedprice) AS s, absolute_error(s) "
        "FROM lineitem WHERE l_quantity > 5 GROUP BY l_returnflag "
        "ORDER BY l_returnflag WITH ERROR 0.5 CONFIDENCE 0.95 "
        "BEHAVIOR 'do_nothing'").toPandas()
    assert fluent.equals(via_sql)
    # dict-agg shape: agg(Map("arrdelay" -> "count"))
    cnt = (aqp.table("lineitem").agg({"l_quantity": "count"})
           .withError(0.9, 0.1)).collect()
    assert len(cnt) == 1 and cnt[0]["count_l_quantity"] > 0
    # STRICT behavior raises when the error contract is violated
    import pytest as _pt
    from snappy_aqp_spark import ErrorLimitExceededException
    with _pt.raises(ErrorLimitExceededException):
        (aqp.table("lineitem")
         .agg("sum(l_extendedprice) AS s", "relative_error(s)")
         .withError(0.00001, 0.95, "STRICT")).collect()


# --- round-3 ADVICE regressions ---------------------------------------------

def test_create_view_body_ending_in_paren():
    # unparenthesized body ending with ')' must keep its close paren
    name, body = fe.parse_create_view(
        "CREATE VIEW v AS SELECT a FROM t WHERE x IN (1,2)")
    assert name == "v"
    assert body == "SELECT a FROM t WHERE x IN (1,2)"
    # parenthesized form still strips exactly the wrapping parens
    name2, body2 = fe.parse_create_view(
        "CREATE VIEW v2 AS (SELECT a FROM t WHERE x IN (1,2))")
    assert body2 == "SELECT a FROM t WHERE x IN (1,2)"


def test_expand_view_no_alias_cascade():
    # view 'SELECT b AS a, c AS b': query ref 'a' must become (b), not ((c))
    v = fe.parse_select("SELECT b AS a, c AS b FROM base")
    q = fe.parse_select("SELECT a, count(*) AS c1 FROM vw GROUP BY a")
    out = fe.expand_view(q, {"vw": v})
    assert out.from_table == "base"
    assert out.select_items[0][0] == "(b)"
    assert out.group_by == ["(b)"]


def test_expand_view_rewrites_join_on_and_skips_literals():
    v = fe.parse_select("SELECT l_orderkey AS ok, l_quantity AS qty "
                        "FROM lineitem")
    q = fe.parse_select("SELECT o_orderstatus, count(*) AS c FROM vw "
                        "JOIN orders ON ok = o_orderkey "
                        "WHERE o_comment = 'keep ok literal' "
                        "GROUP BY o_orderstatus")
    out = fe.expand_view(q, {"vw": v})
    assert out.joins[0].on == "(l_orderkey) = o_orderkey"
    assert "'keep ok literal'" in out.where


def test_build_views_tolerates_unsupported_view_body():
    from snappy_aqp_spark.api import build_views_from_ddl
    views = build_views_from_ddl([
        "CREATE VIEW weird AS SELECT a FROM (SELECT 1 a) t",   # unparseable
        "CREATE VIEW ok AS SELECT l_orderkey AS k FROM lineitem"])
    assert "ok" in views and "weird" not in views


def test_fluent_collect_survives_with_error_literal(spark):
    aqp2 = AQPSession(spark, data_token="collect-lit")
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame(
        {"k": [1, 2], "note": ["x WITH ERROR y", "z"]}))
    aqp2.register_table("notes", df)
    rows = (aqp2.table("notes").where("note = 'x WITH ERROR y'")
            .agg("count(*) AS c").collect())
    assert rows[0]["c"] == 1


# --- round-3: UPDATE/DELETE passthrough surface ------------------------------

def test_mutation_parse():
    assert fe.parse_mutation_target("UPDATE t SET x = 1") == "t"
    assert fe.parse_mutation_target("DELETE FROM li_sample WHERE 1=1") == "li_sample"
    assert fe.parse_mutation_target("INSERT INTO tab VALUES (1)") == "tab"
    assert fe.parse_mutation_target("insert overwrite table tab SELECT 1") == "tab"
    assert fe.parse_mutation_target("MERGE INTO tgt USING s ON 1=1") == "tgt"
    assert fe.parse_mutation_target("SELECT * FROM t") is None


def test_mutation_on_sample_raises_on_base_passes(aqp, tmp_path):
    # AQP-managed structures are mutation-protected
    # (AnalyzeMutableOperations surface, SnappyAQPSessionState.scala:133)
    for stmt in ("UPDATE li_sample SET l_quantity = 0",
                 "DELETE FROM li_sample WHERE l_quantity > 0",
                 "INSERT INTO li_sample VALUES (1)"):
        with pytest.raises(fe.SQLFrontendError, match="AQP-managed"):
            aqp.sql(stmt)
    # base-table mutations pass through to Spark untouched
    aqp.spark.sql(f"CREATE TABLE mut_base (a INT) USING parquet "
                  f"LOCATION '{tmp_path}/mut_base'")
    try:
        aqp.sql("INSERT INTO mut_base VALUES (1)")
        aqp.sql("INSERT INTO mut_base VALUES (2)")
        assert aqp.spark.sql("SELECT count(*) c FROM mut_base").first()["c"] == 2
    finally:
        aqp.spark.sql("DROP TABLE mut_base")


# --- round-3: sample selection anywhere in the query -------------------------

def _mk_catalog(*ddls):
    from snappy_aqp_spark.api import build_catalog_from_ddl
    return build_catalog_from_ddl(list(ddls))


_LI_DDL = ("CREATE SAMPLE TABLE li_s ON lineitem OPTIONS("
           "qcs 'l_returnflag,l_linestatus', fraction '0.05', "
           "method 'hash', seed '42')")
_ORD_DDL = ("CREATE SAMPLE TABLE ord_s ON orders OPTIONS("
            "qcs 'o_orderpriority', fraction '0.1', method 'hash', seed '42')")
_JOIN_Q = ("SELECT o_orderpriority, sum(l_extendedprice) AS rev "
           "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
           "GROUP BY o_orderpriority WITH ERROR 0.5")


def test_two_candidate_samples_exactly_one_chosen():
    """FROM-table sample wins over a joined relation's sample (the
    reference's traversal order); with only the dimension sampled, the
    joined relation is picked and from_relation records the FROM table."""
    from snappy_aqp_spark.api import analyze_text
    defaults = {"error": 0.2, "confidence": 0.95, "behavior": "do_nothing"}
    both = analyze_text(_JOIN_Q, _mk_catalog(_LI_DDL, _ORD_DDL), defaults)
    assert both.spec is not None
    assert both.spec.sample.base_table == "lineitem"
    assert both.spec.from_relation is None
    dim_only = analyze_text(_JOIN_Q, _mk_catalog(_ORD_DDL), defaults)
    assert dim_only.spec is not None
    assert dim_only.spec.sample.base_table == "orders"
    assert dim_only.spec.from_relation == "lineitem"


def test_outer_join_keeps_from_table_only():
    """sampled joined relations are only eligible under all-inner joins."""
    from snappy_aqp_spark.api import analyze_text
    defaults = {"error": 0.2, "confidence": 0.95, "behavior": "do_nothing"}
    q = ("SELECT o_orderpriority, sum(l_extendedprice) AS rev "
         "FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey "
         "GROUP BY o_orderpriority WITH ERROR 0.5")
    out = analyze_text(q, _mk_catalog(_ORD_DDL), defaults)
    assert out.spec is None and "no sample" in out.reason


def test_subquery_tree_gets_own_sample():
    from snappy_aqp_spark.api import analyze_text
    defaults = {"error": 0.2, "confidence": 0.95, "behavior": "do_nothing"}
    q = ("SELECT l_returnflag, sum(l_extendedprice) AS s FROM lineitem "
         "WHERE l_orderkey IN (SELECT o_orderkey FROM orders "
         "WHERE o_orderpriority LIKE '1%') "
         "GROUP BY l_returnflag WITH ERROR 0.5")
    out = analyze_text(q, _mk_catalog(_LI_DDL, _ORD_DDL), defaults)
    assert out.spec is not None
    (sub,) = out.spec.where_subs
    assert sub.sample is not None and sub.sample.base_table == "orders"
    # NOT IN subquery trees stay exact (documented direction asymmetry)
    q_not = q.replace("IN (SELECT", "NOT IN (SELECT")
    out_not = analyze_text(q_not, _mk_catalog(_LI_DDL, _ORD_DDL), defaults)
    (sub_not,) = out_not.spec.where_subs
    assert sub_not.sample is None


# --- round-3: error functions called directly in HAVING/ORDER BY -------------

def test_having_direct_error_fn(aqp, duck):
    text = ("SELECT l_returnflag, sum(l_extendedprice) AS s FROM lineitem "
            "GROUP BY l_returnflag HAVING relative_error(s) < 0.9 "
            "ORDER BY l_returnflag WITH ERROR 0.5")
    analyzed = aqp.analyze_sql(text)
    assert analyzed.spec is not None
    assert analyzed.spec.hidden_cols == ("s_relative_error",)
    assert "s_relative_error < 0.9" in analyzed.spec.having
    df = aqp.sql(text)
    assert df.columns == ["l_returnflag", "s"]      # hidden col dropped
    oracle = duck.sql(oracle_sql_for(analyzed.spec)).df()
    compare_frames(df, oracle)


def test_order_by_direct_error_fn(aqp, duck):
    text = ("SELECT l_returnflag, sum(l_extendedprice) AS s FROM lineitem "
            "GROUP BY l_returnflag "
            "ORDER BY absolute_error(s), l_returnflag WITH ERROR 0.5")
    analyzed = aqp.analyze_sql(text)
    assert analyzed.spec is not None
    assert analyzed.spec.hidden_cols == ("s_absolute_error",)
    assert analyzed.spec.order_by[0] == "s_absolute_error"
    df = aqp.sql(text)
    assert df.columns == ["l_returnflag", "s"]
    oracle = duck.sql(oracle_sql_for(analyzed.spec)).df()
    compare_frames(df, oracle)


def test_direct_error_fn_also_selected_stays_visible(aqp):
    text = ("SELECT l_returnflag, sum(l_extendedprice) AS s, "
            "relative_error(s) AS r FROM lineitem GROUP BY l_returnflag "
            "HAVING relative_error(s) < 0.9 ORDER BY l_returnflag "
            "WITH ERROR 0.5")
    analyzed = aqp.analyze_sql(text)
    assert analyzed.spec is not None
    assert analyzed.spec.hidden_cols == ()          # selected -> visible
    df = aqp.sql(text)
    assert df.columns == ["l_returnflag", "s", "r"]


# --- round-3: DDL parity (error-limit options, AS-select populate) -----------

def test_create_sample_ddl_parses_error_limit_and_as_select():
    from snappy_aqp_spark.api import spec_from_ddl
    p = fe.parse_create_sample(
        "CREATE SAMPLE TABLE s1 ON lineitem OPTIONS(qcs 'l_returnflag', "
        "errorLimitColumn 'l_extendedprice', errorLimitPercent '5')")
    name, base, opts, as_sql = p
    spec = spec_from_ddl(base, opts, as_sql=as_sql)
    assert spec.method == "error_limit"
    assert spec.error_limit_col == "l_extendedprice"
    assert spec.error_limit_pct == 0.05           # reference percent is 0-100
    p2 = fe.parse_create_sample(
        "CREATE SAMPLE TABLE s2 OPTIONS(qcs 'l_returnflag', fraction '0.1') "
        "AS SELECT * FROM lineitem WHERE l_quantity > 10")
    name2, base2, opts2, as_sql2 = p2
    assert base2 is None and as_sql2.startswith("SELECT")
    spec2 = spec_from_ddl(base2, opts2, as_sql=as_sql2)
    assert spec2.base_table == "lineitem"
    assert spec2.base_filter == "l_quantity > 10"
    # ON/AS base mismatch is an error
    with pytest.raises(fe.SQLFrontendError, match="ON names"):
        spec_from_ddl("orders", opts2, as_sql=as_sql2)
    # unsupported AS shapes are rejected
    with pytest.raises(fe.SQLFrontendError, match="filter-populate"):
        spec_from_ddl(None, opts2,
                      as_sql="SELECT l_returnflag FROM lineitem")


def test_as_select_sample_matches_filtered_population(spark):
    """the AS-select sample is bit-equal to sampling the filtered base."""
    import dataclasses
    from snappy_aqp_spark.fixtures import LI_HASH
    from snappy_aqp_spark.sampling.samplers import stratified_sample
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    spec = dataclasses.replace(LI_HASH, base_filter="l_quantity > 10")
    via_spec = stratified_sample(li, spec).toPandas()
    plain = dataclasses.replace(LI_HASH)
    via_filter = stratified_sample(li.where("l_quantity > 10"),
                                   plain).toPandas()
    cols = sorted(via_spec.columns)
    a = via_spec.sort_values(cols).reset_index(drop=True)[cols]
    b = via_filter.sort_values(cols).reset_index(drop=True)[cols]
    assert a.equals(b)


# --- round-3: derived tables in FROM -----------------------------------------

def test_from_subquery_inlines_as_view():
    p = fe.parse_select(
        "SELECT l_returnflag, sum(li.l_extendedprice) AS s "
        "FROM (SELECT * FROM lineitem WHERE l_quantity > 5) li "
        "GROUP BY l_returnflag")
    assert p.from_table == "lineitem"
    assert p.where == "(l_quantity > 5)"
    assert p.select_items[1][0] == "sum(l_extendedprice)"
    # projected+aliased derived table substitutes its aliases
    p2 = fe.parse_select(
        "SELECT rf, count(*) AS c FROM (SELECT l_returnflag AS rf "
        "FROM lineitem) t GROUP BY rf")
    assert p2.from_table == "lineitem"
    assert p2.group_by == ["(l_returnflag)"]
    # non-projection derived tables route exact
    with pytest.raises(fe.SQLFrontendError, match="non-projection"):
        fe.parse_select("SELECT a FROM (SELECT a, count(*) c FROM t "
                        "GROUP BY a) x")


def test_from_subquery_routes_through_sample(aqp, duck):
    text = ("SELECT l_returnflag, sum(li.l_extendedprice) AS s, "
            "absolute_error(s) "
            "FROM (SELECT * FROM lineitem WHERE l_quantity > 5) li "
            "GROUP BY l_returnflag ORDER BY l_returnflag WITH ERROR 0.5")
    analyzed = aqp.analyze_sql(text)
    assert analyzed.spec is not None
    assert analyzed.spec.sample.base_table == "lineitem"
    assert "l_quantity > 5" in analyzed.spec.where
    df = aqp.sql(text)
    oracle = duck.sql(oracle_sql_for(analyzed.spec)).df()
    compare_frames(df, oracle)


def test_error_fn_resolves_through_aggregating_subquery(aqp, duck):
    """error functions targeting an inner aggregate alias resolve through
    the derived table (GetErrorBounds-through-subquery): the inner query
    computes them, the outer references the materialized column. This
    shape previously crash-routed; it is now the AQP-224 family path."""
    text = ("SELECT x, absolute_error(x) AS e FROM (SELECT l_returnflag, "
            "sum(l_quantity) AS x FROM lineitem GROUP BY l_returnflag) t "
            "ORDER BY x WITH ERROR 0.5")
    analyzed = aqp.analyze_sql(text)
    assert analyzed.spec is None          # whole-query analysis still exact
    rows = aqp.sql(text).toPandas()
    assert len(rows) == 3 and (rows["e"] > 0).all()
    # equals the inner approx query's own error column
    inner = aqp.sql("SELECT l_returnflag, sum(l_quantity) AS x, "
                    "absolute_error(x) AS e FROM lineitem "
                    "GROUP BY l_returnflag ORDER BY x "
                    "WITH ERROR 0.5").toPandas()
    assert list(rows["e"]) == list(inner["e"])
    assert list(rows["x"]) == list(inner["x"])


def test_scalar_subquery_gets_own_sample_spec():
    from snappy_aqp_spark.api import analyze_text
    defaults = {"error": 0.2, "confidence": 0.95, "behavior": "do_nothing"}
    q = ("SELECT o_orderpriority, sum(o_totalprice) AS st FROM orders "
         "WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) "
         "GROUP BY o_orderpriority WITH ERROR 0.4 CONFIDENCE 0.9")
    out = analyze_text(q, _mk_catalog(_ORD_DDL), defaults)
    assert out.spec is not None
    (sub,) = out.spec.where_subs
    assert sub.sub_spec is not None
    assert sub.sub_spec.sample.base_table == "orders"
    # the subquery inherits the OUTER query's error/confidence
    assert sub.sub_spec.error == 0.4
    assert sub.sub_spec.confidence == 0.9
    # MAX / DISTINCT / conditional shapes stay exact
    for inner in ("max(o_totalprice)", "count(DISTINCT o_custkey)",
                  "sum(IF(o_custkey > 5, o_totalprice, 0))"):
        q2 = q.replace("avg(o_totalprice)", inner)
        out2 = analyze_text(q2, _mk_catalog(_ORD_DDL), defaults)
        (sub2,) = out2.spec.where_subs
        assert sub2.sub_spec is None, inner


def test_nested_subquery_tree_stays_exact():
    """a subquery whose own WHERE nests another subquery cannot rebuild
    over a sample — it must keep the exact path, not crash at runtime."""
    from snappy_aqp_spark.api import analyze_text
    defaults = {"error": 0.2, "confidence": 0.95, "behavior": "do_nothing"}
    q = ("SELECT o_orderpriority, sum(o_totalprice) AS st FROM orders "
         "WHERE o_custkey IN (SELECT o_custkey FROM orders "
         "WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)) "
         "GROUP BY o_orderpriority WITH ERROR 0.5")
    out = analyze_text(q, _mk_catalog(_ORD_DDL), defaults)
    if out.spec is not None and out.spec.where_subs:
        for sub in out.spec.where_subs:
            assert sub.sample is None and sub.sub_spec is None


def test_fluent_join_api(aqp):
    """fluent .join() == the SQL join form, routed through the lineitem
    sample with the orders dimension exact (DataFrame-API join protocols,
    JoinQueryTest)."""
    fluent = (aqp.table("lineitem")
              .join("orders", "l_orderkey = o_orderkey")
              .where("o_orderpriority LIKE '1%'")
              .groupBy("o_orderstatus")
              .agg("sum(l_extendedprice) AS rev", "absolute_error(rev)")
              .orderBy("o_orderstatus")
              .withError(0.5, 0.95)).toPandas()
    via_sql = aqp.sql(
        "SELECT o_orderstatus, sum(l_extendedprice) AS rev, "
        "absolute_error(rev) FROM lineitem JOIN orders "
        "ON l_orderkey = o_orderkey WHERE o_orderpriority LIKE '1%' "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus "
        "WITH ERROR 0.5 CONFIDENCE 0.95").toPandas()
    assert fluent.equals(via_sql)
    import pytest as _pt
    with _pt.raises(ValueError):
        aqp.table("lineitem").join("orders", "a = b", how="full")


def test_topk_ddl_bare_interval_is_milliseconds(aqp):
    """bare timeInterval numbers are milliseconds, matching the sample-DDL
    convention (and stratifiedSampling.scala's parseLong fallback) —
    checked END-TO-END through the CREATE TOPK TABLE branch, not just the
    parser helper."""
    import snappy_aqp_spark.api as api_mod
    assert api_mod._interval_us("5000") == 5_000_000
    assert api_mod._interval_us("5000ms") == 5_000_000
    assert api_mod._interval_us("5s") == 5_000_000
    aqp.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    aqp.load_tables(SF_SMALL, ("events",))
    aqp.sql("CREATE TOPK TABLE tk_bare_iv ON events OPTIONS("
            "key 'user_id', timeSeriesColumn 'ts', "
            "timeInterval '259200000', intKey 'true')")
    spec = aqp.topk.get("tk_bare_iv").spec
    assert spec.time_interval_us == 259_200_000 * 1_000     # ms -> us


def test_mutation_invalidates_sample_and_plan_caches(spark):
    """an INSERT through the session must drop cached samples/plans over
    the mutated base so the next approx query sees the new rows."""
    import pyspark.sql.utils  # noqa: F401
    from snappy_aqp_spark.api import AQPSession
    from snappy_aqp_spark.stage_cache import StageCache
    cache = StageCache.of(spark)
    aqp = AQPSession(spark, data_token="mut-test", error=0.5,
                     confidence=0.95, behavior="do_nothing")
    aqp.load_tables(SF_SMALL, ("lineitem",))
    aqp.sql("CREATE SAMPLE TABLE li_mut_sample ON lineitem OPTIONS("
            "qcs 'l_returnflag', fraction '0.05', method 'hash', seed '42')")
    aqp.sql("SELECT sum(l_extendedprice) AS s FROM lineitem "
            "WITH ERROR 0.5").collect()
    assert any(k[0].base_table == "lineitem" and k[1] == "mut-test"
               for k in cache.entries("sample"))
    assert any(k[0].sample.base_table == "lineitem" and k[1] == "mut-test"
               for k in cache.entries("plan"))
    # the temp view is not insertable -> Spark raises, but invalidation
    # must happen BEFORE the engine attempt (mutation-first semantics)
    try:
        aqp.sql("INSERT INTO lineitem VALUES (1)")
    except Exception:
        pass
    assert not any(k[0].base_table == "lineitem" and k[1] == "mut-test"
                   for k in cache.entries("sample"))
    assert not any(k[0].sample.base_table == "lineitem" and k[1] == "mut-test"
                   for k in cache.entries("plan"))


def test_mutation_invalidation_scope(spark):
    """eviction covers the FROM relation of join-sampled plans and stays
    scoped to the mutating session's data token."""
    from snappy_aqp_spark.specs import ApproxAgg, ApproxQuerySpec, SampleSpec
    from snappy_aqp_spark.stage_cache import StageCache

    cache = StageCache.of(spark)
    spec = ApproxQuerySpec(
        sample=SampleSpec("orders", ("o_orderkey",), ("o_orderpriority",),
                          "hash", fraction=0.1, seed=1),
        from_relation="lineitem",
        aggs=(ApproxAgg("sum", "o_totalprice", "s", 2.0 ** 19),))
    cache.put("plan", (spec, "tokA"), spark.range(1))
    cache.put("plan", (spec, "tokB"), spark.range(2))
    # from_relation counts as a touched table; token scopes the eviction
    cache.evict("tokA", base="lineitem")
    assert (spec, "tokA") not in cache.entries("plan")
    assert (spec, "tokB") in cache.entries("plan")
    cache.evict(None, base="lineitem")           # token=None -> all tokens
    assert (spec, "tokB") not in cache.entries("plan")


def test_parse_aliases_and_comma_joins():
    # reference perfJoinQueries.sql style: aliased comma-FROM, predicates in
    # WHERE. Qualifiers are PRESERVED in WHERE/ON (relations plan under
    # their aliases) so same-named columns across relations stay
    # unambiguous; SELECT items still strip (they run post-join)
    p = fe.parse_select(
        "SELECT AVG(l.l_extendedprice) AS x FROM lineitem l, orders o "
        "WHERE l.l_orderkey = o.o_orderkey AND o.o_orderpriority = '1-URGENT'")
    assert p.from_table == "lineitem"
    assert p.from_alias == "l"
    assert [(j.table, j.on, j.how, j.alias) for j in p.joins] \
        == [("orders", None, "cross", "o")]
    assert "l.l_orderkey = o.o_orderkey" in p.where
    assert p.select_items[0][0].lower() == "avg(l_extendedprice)"
    # aliased explicit JOIN
    p2 = fe.parse_select(
        "SELECT sum(l.l_quantity) AS s FROM lineitem AS l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "GROUP BY o.o_orderstatus")
    assert p2.joins[0].how == "inner"
    assert p2.joins[0].on == "l.l_orderkey = o.o_orderkey"
    assert p2.group_by == ["o_orderstatus"]
    # qualifier text inside string literals is never stripped
    p3 = fe.parse_select(
        "SELECT count(*) AS c FROM orders o WHERE o_comment = 'o.k.'")
    assert "'o.k.'" in p3.where


def test_comma_join_routes_through_sample(aqp, duck):
    text = ("SELECT avg(l.l_extendedprice) AS x, absolute_error(x) "
            "FROM lineitem l, orders o WHERE l.l_orderkey = o.o_orderkey "
            "AND o.o_orderpriority LIKE '1%' WITH ERROR 0.5")
    analyzed = aqp.analyze_sql(text)
    assert analyzed.spec is not None, analyzed.reason
    assert analyzed.spec.joins[0].how == "cross"
    df = aqp.sql(text)
    oracle = duck.sql(oracle_sql_for(analyzed.spec)).df()
    oracle = oracle.rename(columns=analyzed.rename)
    compare_frames(df, oracle)


def test_parse_bare_aliases_and_ordinals():
    # validationQueries.sql:2 — bare alias, no AS
    p = fe.parse_select("SELECT COUNT(*) sample_ FROM orders")
    assert p.select_items == [("COUNT(*)", "sample_")]
    # sampleTableNYCQueries.sql:5 — GROUP BY 1,2 ordinals resolve to the
    # select expressions; ORDER BY ordinal resolves to the alias
    p2 = fe.parse_select(
        "SELECT ROUND(l_discount, 2) lat, ROUND(l_tax, 2) lon, "
        "COUNT(*) c FROM lineitem GROUP BY 1, 2 ORDER BY 3 DESC LIMIT 5")
    assert p2.group_by == ["ROUND(l_discount, 2)", "ROUND(l_tax, 2)"]
    assert p2.order_by == ["c DESC"]
    with pytest.raises(fe.SQLFrontendError):
        fe.parse_select("SELECT COUNT(*) c FROM orders GROUP BY 9")
    # `2 + 1` is a constant EXPRESSION, not an ordinal — must pass through
    p3 = fe.parse_select("SELECT o_orderstatus s, COUNT(*) c FROM orders "
                         "GROUP BY o_orderstatus ORDER BY 2 + 1")
    assert p3.order_by == ["2 + 1"]
    # ordinal + NULLS suffix still resolves
    p4 = fe.parse_select("SELECT o_orderstatus s, COUNT(*) c FROM orders "
                         "GROUP BY 1 ORDER BY 2 DESC NULLS LAST")
    assert p4.group_by == ["o_orderstatus"]
    assert p4.order_by == ["c DESC NULLS LAST"]


def test_order_by_agg_expression_rewrites_to_alias():
    # nycQueries.sql:1 — `order by sum(fare_amount) desc` names the
    # aggregate by its expression, not its alias
    p = fe.parse_select(
        "SELECT o_orderstatus, sum(o_totalprice) AS st FROM orders "
        "GROUP BY o_orderstatus ORDER BY sum( o_totalprice ) desc")
    from snappy_aqp_spark.specs import SampleSpec
    ss = SampleSpec("orders", ("o_orderkey",), ("o_orderstatus",))
    wc = fe.WithClause(0.5, 0.95, None)
    an = fe.analyze(p, wc, ss,
                    {"error": 0.5, "confidence": 0.95,
                     "behavior": "do_nothing"})
    assert an.spec is not None
    assert an.spec.order_by == ("st desc",)


def test_direct_sample_table_query(aqp, duck):
    # ErrorEstimateFunctionTest.scala:175-193: aggregates + error functions
    # fired at the sample table itself, with NO WITH clause, route through
    # AQP with infinite error tolerance and weighted estimates
    text = ("SELECT sum(l_quantity) AS x, absolute_error(x), "
            "count(*) AS c FROM li_sample")
    an = aqp.analyze_sql(text)
    assert an is not None and an.spec is not None, an and an.reason
    assert an.spec.sample.base_table == "lineitem"
    assert an.spec.error > 1e300            # INIFINITE_ERROR_TOLERANCE
    df = aqp.sql(text)
    oracle = duck.sql(oracle_sql_for(an.spec)).df()
    compare_frames(df, oracle.rename(columns=an.rename))
    # the weighted estimate equals the base-routed one (same sample/HT math)
    via_base = aqp.sql("SELECT sum(l_quantity) AS x FROM lineitem "
                       "WITH ERROR 0.5").collect()[0][0]
    assert df.collect()[0][0] == via_base


def test_direct_sample_scan_and_projection(aqp):
    # CFEEFunctionWithDatasourceAPITest.scala:29 — plain scans return raw
    # sample rows (hidden weight columns included), never estimates
    rows = aqp.sql("SELECT * FROM li_sample")
    from snappy_aqp_spark.specs import WEIGHT_COL
    assert WEIGHT_COL in rows.columns
    n_raw = rows.count()
    assert n_raw == aqp.sql("SELECT l_quantity AS T FROM li_sample").count()
    # AQP-154 (CommonBugTest.scala:1012-1045): count(*) WITHOUT error
    # functions is the raw sample-size probe; WITH an error function it is
    # the weighted estimate of the BASE count
    raw = aqp.sql("SELECT count(*) AS sample_ FROM li_sample").collect()[0][0]
    assert raw == n_raw
    est = aqp.sql("SELECT count(*) AS c, absolute_error(c) FROM li_sample"
                  ).collect()[0][0]
    assert est > n_raw


def test_approx_derived_aggregating_subquery_join(aqp, duck):
    """AQP-224/AQP-247 (CommonBugTest.scala:1364-1420): an aggregating
    FROM-subquery over the sampled base routes through its own sample;
    the outer join/aggregate runs exact over the weighted estimates."""
    inner = ("SELECT l_orderkey, sum(l_extendedprice) AS rev "
             "FROM lineitem GROUP BY l_orderkey")
    q = ("SELECT o.o_orderstatus, "
         "CAST(sum(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)"
         " AS cents "
         f"FROM ({inner}) big JOIN orders o "
         "ON big.l_orderkey = o.o_orderkey WHERE big.rev > 50000.0 "
         "GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus "
         "WITH ERROR 0.5")
    # whole-query analysis cannot route (aggregating derived table) ...
    an = aqp.analyze_sql(q)
    assert an.spec is None
    # ... but the session runs the subquery approx + outer exact
    sp = aqp.sql(q).toPandas()
    inner_an = aqp.analyze_sql(inner + " WITH ERROR 0.5")
    assert inner_an.spec is not None
    # and EXPLAIN AQP reports that route with the subquery's sample
    s = inner_an.spec
    row = aqp.sql("EXPLAIN AQP " + q).collect()[0]
    assert tuple(row)[:7] == (
        "approx", s.sample.base_table, ",".join(s.sample.qcs),
        s.sample.method, s.estimator, s.behavior, s.error)
    osql = ("WITH big AS (" + oracle_sql_for(inner_an.spec) + ") "
            "SELECT o.o_orderstatus, "
            "CAST(sum(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            " AS cents "
            "FROM big JOIN orders o ON big.l_orderkey = o.o_orderkey "
            "WHERE big.rev > 50000.0 "
            "GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus")
    compare_frames(aqp.sql(q), duck.sql(osql).df())
    assert len(sp) > 0


def test_find_from_derived_spans():
    f = fe.find_from_derived
    got = f("SELECT a FROM (SELECT b FROM t WHERE x IN (1,2)) s JOIN u ON c = d")
    assert got is not None
    start, end, inner, alias = got
    assert inner == "SELECT b FROM t WHERE x IN (1,2)"
    assert alias == "s"
    assert f("SELECT a FROM t") is None
    # keyword after the paren is not an alias
    got2 = f("SELECT a FROM (SELECT b FROM t) WHERE b > 1")
    assert got2 is not None and got2[3] is None


def test_join_of_two_approx_subqueries(aqp, duck):
    """AQP-225 (CommonBugTest.scala:2001): TWO aggregating subqueries, each
    over a sampled base, joined by an exact outer query."""
    sub1 = ("SELECT l_returnflag, sum(l_quantity) AS q1 "
            "FROM lineitem WHERE l_tax > 0.02 GROUP BY l_returnflag")
    sub2 = ("SELECT l_returnflag, sum(l_quantity) AS q2 "
            "FROM lineitem WHERE l_tax <= 0.02 GROUP BY l_returnflag")
    q = (f"SELECT a.l_returnflag, a.q1, b.q2, absolute_error(q1) AS e1 "
         f"FROM ({sub1}) a JOIN ({sub2}) b "
         "ON a.l_returnflag = b.l_returnflag "
         "ORDER BY a.l_returnflag WITH ERROR 0.5")
    sp = aqp.sql(q).toPandas()
    assert len(sp) == 3 and (sp["e1"] > 0).all()
    # equals the two standalone approx queries joined
    r1 = aqp.sql(sub1 + " WITH ERROR 0.5").toPandas().set_index("l_returnflag")
    r2 = aqp.sql(sub2 + " WITH ERROR 0.5").toPandas().set_index("l_returnflag")
    for _, row in sp.iterrows():
        assert row.q1 == r1.loc[row.l_returnflag, "q1"]
        assert row.q2 == r2.loc[row.l_returnflag, "q2"]


def test_case_over_group_key_select_item(aqp, duck):
    """AQP-229 (CommonBugTest.scala:1482-1530): a select item that is an
    expression over the group key survives into the output, computed
    post-aggregation — previously it was silently dropped."""
    q = ("SELECT sum(l_quantity) AS sq, relative_error(sq), "
         "CASE WHEN l_returnflag = 'A' THEN 'Accepted' "
         "WHEN l_returnflag = 'N' THEN 'New' ELSE 'Returned' END AS flag "
         "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag "
         "WITH ERROR 0.9")
    an = aqp.analyze_sql(q)
    assert an.spec is not None
    assert an.spec.derived_items and an.spec.derived_items[0][1] == "flag"
    df = aqp.sql(q)
    assert "flag" in df.columns
    compare_frames(df, duck.sql(oracle_sql_for(an.spec)).df()
                   .rename(columns=an.rename))
    # derived expr over a FUNCTION group key goes through the g_i alias
    q2 = ("SELECT sum(l_quantity) AS sq, "
          "CASE WHEN FLOOR(l_quantity / 10) = 0 THEN 'low' ELSE 'hi' END "
          "AS b FROM lineitem GROUP BY FLOOR(l_quantity / 10) "
          "ORDER BY sq WITH ERROR 0.9 BEHAVIOR 'run_on_full_table'")
    an2 = aqp.analyze_sql(q2)
    assert an2.spec is not None
    by_name = {n: e for e, n in an2.spec.derived_items}
    assert by_name["b"].startswith("CASE WHEN g_0")
    # the unselected group key is computed hidden (AQP-201 semantics) —
    # only the selected items appear, exactly the reference's output shape
    assert set(aqp.sql(q2).columns) == {"sq", "b"}


def test_errfn_arithmetic_select_items(aqp, duck):
    """AQP-210/227 (CommonBugTest.scala:1204-1260): lower_bound(x) +
    upper_bound(x) as a select item and in HAVING; components hidden when
    not selected separately."""
    q = ("SELECT l_returnflag, sum(l_quantity) AS x, "
         "lower_bound(x) + upper_bound(x) AS lbub FROM lineitem "
         "GROUP BY l_returnflag ORDER BY l_returnflag WITH ERROR 0.5")
    an = aqp.analyze_sql(q)
    assert an.spec is not None
    assert dict((n, e) for e, n in an.spec.derived_items)["lbub"] \
        == "x_lower_bound + x_upper_bound"
    df = aqp.sql(q)
    assert set(df.columns) == {"l_returnflag", "x", "lbub"}  # comps hidden
    compare_frames(df, duck.sql(oracle_sql_for(an.spec)).df()
                   .rename(columns=an.rename))
    # identity when components ARE selected
    q2 = ("SELECT l_returnflag, sum(l_quantity) AS x, lower_bound(x), "
          "upper_bound(x), lower_bound(x) + upper_bound(x) AS lbub "
          "FROM lineitem GROUP BY l_returnflag "
          "HAVING lower_bound(x) + upper_bound(x) > 0 "
          "ORDER BY l_returnflag WITH ERROR 0.5")
    sp = aqp.sql(q2).toPandas()
    assert ((sp["x_lower_bound"] + sp["x_upper_bound"]) == sp["lbub"]).all()
    assert (sp["lbub"] > 0).all()


def test_composite_agg_arithmetic(aqp, duck):
    """AQP-283 (CommonBugTest.scala:2666-2712): arithmetic ACROSS
    aggregates in one select item. Without error functions the composite
    is a derived item over hidden component aggs on the chosen estimator;
    WITH error functions the whole query routes bootstrap and the CI
    composes per trial."""
    q = ("SELECT l_returnflag, sum(l_extendedprice)/sum(l_quantity) AS r "
         "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag "
         "WITH ERROR 0.5")
    an = aqp.analyze_sql(q)
    assert an.spec is not None and an.spec.estimator == "closed_form"
    assert not an.spec.composites          # errorless -> derived item
    assert [a.alias for a in an.spec.aggs] == ["__ca1", "__ca2"]
    assert set(an.spec.hidden_cols) >= {"__ca1", "__ca2"}
    df = aqp.sql(q)
    assert df.columns == ["l_returnflag", "r"]
    compare_frames(df, duck.sql(oracle_sql_for(an.spec)).df())

    q2 = ("SELECT l_returnflag, sum(l_extendedprice)/sum(l_quantity) AS r, "
          "relative_error(r), lower_bound(r), upper_bound(r) "
          "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag "
          "WITH ERROR 0.5")
    an2 = aqp.analyze_sql(q2)
    assert an2.spec.estimator == "bootstrap"
    assert an2.spec.composites[0].errors == ("relative_error", "lower_bound",
                                             "upper_bound")
    sp = aqp.sql(q2).toPandas()
    # the CI brackets the estimate; trial-0 estimate equals the errorless
    # composite's point estimate
    assert (sp["r_lower_bound"] <= sp["r"]).all()
    assert (sp["r"] <= sp["r_upper_bound"]).all()
    compare_frames(aqp.sql(q2), duck.sql(oracle_sql_for(an2.spec)).df()
                   .rename(columns=an2.rename))


def test_composite_division_by_zero_yields_null(aqp, duck):
    """the guarded division: a zero denominator gives NULL on both engines
    (ANSI Spark would otherwise raise DIVIDE_BY_ZERO)."""
    q = ("SELECT sum(l_extendedprice) / sum(l_quantity - l_quantity) AS r "
         "FROM lineitem WITH ERROR 0.5")
    an = aqp.analyze_sql(q)
    sp = aqp.sql(q).toPandas()
    assert len(sp) == 1 and sp["r"].isna().all()
    compare_frames(aqp.sql(q), duck.sql(oracle_sql_for(an.spec)).df())


def test_composite_routing_envelope(aqp):
    """outside the arithmetic grammar -> exact route; GROUP BY containing
    an aggregate composite -> rejected; unknown error target still errors."""
    # a non-arithmetic wrapper around the aggregate is not a composite
    an = aqp.analyze_sql("SELECT abs(sum(l_quantity)) AS a FROM lineitem "
                         "WITH ERROR 0.5")
    assert an.spec is None and "aggregate arithmetic" in an.reason
    # mixed identifier outside any aggregate
    an2 = aqp.analyze_sql("SELECT sum(l_quantity)/l_partkey AS a "
                          "FROM lineitem WITH ERROR 0.5")
    assert an2.spec is None
    an3 = aqp.analyze_sql("SELECT 1 FROM lineitem "
                          "GROUP BY sum(l_quantity)/sum(l_tax) "
                          "WITH ERROR 0.5")
    assert an3.spec is None


def test_avg_with_where_picks_bootstrap(aqp):
    """AvgQueryWithWhereClauseUsesBootstrapAnalysis (CommonBugTest
    .scala:917): AVG + any filter routes bootstrap; pure AVG stays
    closed-form."""
    a = aqp.analyze_sql("SELECT avg(l_quantity) AS a FROM lineitem "
                        "WHERE l_tax > 0.02 WITH ERROR 0.5")
    assert a.spec.estimator == "bootstrap"
    b = aqp.analyze_sql("SELECT avg(l_quantity) AS a FROM lineitem "
                        "WITH ERROR 0.5")
    assert b.spec.estimator == "closed_form"
    c = aqp.analyze_sql("SELECT sum(l_quantity) AS s FROM lineitem "
                        "WHERE l_tax > 0.02 WITH ERROR 0.5")
    assert c.spec.estimator == "closed_form"   # no AVG -> closed-form


def test_basetable_option_and_case_partial_route(aqp, duck):
    """baseTable DDL option (CommonBugTest.scala:955) + AQP-223: CASE over
    the group key through partial_run_on_base_table HAC."""
    aqp.sql("CREATE SAMPLE TABLE li_bt OPTIONS(qcs 'l_returnflag', "
            "fraction '0.1', method 'hash', seed '42', "
            "baseTable 'lineitem')")
    assert aqp.catalog.get("li_bt").spec.base_table == "lineitem"
    q = ("SELECT count(*) AS numRides, "
         "CASE WHEN l_returnflag = 'A' THEN 'Acc' "
         "WHEN l_returnflag = 'N' THEN 'New' ELSE 'Ret' END AS flag "
         "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag "
         "WITH ERROR 0.001 BEHAVIOR 'partial_run_on_base_table'")
    an = aqp.analyze_sql(q)
    assert an.spec is not None and an.spec.derived_items
    compare_frames(aqp.sql(q), duck.sql(oracle_sql_for(an.spec)).df()
                   .rename(columns=an.rename))
    aqp.sql("DROP SAMPLE TABLE li_bt")


def test_empty_table_all_behaviors(aqp, spark):
    """QueryRoutingTestSuite 'empty table with behaviour involving routing'
    (:1078-1194): every behavior returns the NULL global-aggregate row on
    an empty base, never crashing — incl. partial reroute, which
    degenerates to full reroute when there is no GROUP BY."""
    empty = spark.createDataFrame([], "ol_number int, ol_amount double, "
                                      "ol_id long")
    aqp.tables["order_line_e"] = empty
    aqp.sql("CREATE SAMPLE TABLE ol_e_sample ON order_line_e OPTIONS("
            "qcs 'ol_number', fraction '0.01', method 'hash', seed '42', "
            "keyColumns 'ol_id')")
    for beh in ("", " BEHAVIOR 'run_on_full_table'",
                " BEHAVIOR 'partial_run_on_base_table'",
                " BEHAVIOR 'local_omit'", " BEHAVIOR 'strict'"):
        rows = aqp.sql("SELECT sum(ol_number) AS s, absolute_error(s) "
                       "FROM order_line_e WITH ERROR .95" + beh).collect()
        assert len(rows) == 1 and rows[0].s is None
    aqp.sql("DROP SAMPLE TABLE ol_e_sample")


def test_global_partial_reroute_degenerates_to_full(aqp, duck):
    q = ("SELECT sum(l_quantity) AS sq, relative_error(sq) FROM lineitem "
         "WITH ERROR 0.000001 BEHAVIOR 'partial_run_on_base_table'")
    an = aqp.analyze_sql(q)
    compare_frames(aqp.sql(q), duck.sql(oracle_sql_for(an.spec)).df()
                   .rename(columns=an.rename))


def test_direct_sample_query_never_reroutes(aqp):
    """QueryRoutingTestSuite :732-938: HAC reroute behaviors are inert for
    queries fired AT the sample table."""
    an = aqp.analyze_sql("SELECT sum(l_quantity) AS x, absolute_error(x) "
                         "FROM li_sample WITH ERROR 0.000001 "
                         "BEHAVIOR 'run_on_full_table'")
    assert an.spec is not None and an.spec.behavior == "do_nothing"


def test_direct_sample_session_default_reroute_also_inert(spark):
    """the no-reroute guard must also catch a reroute behavior arriving as
    the SESSION default (no explicit BEHAVIOR clause): a tight error on a
    direct sample query would otherwise reroute to the base."""
    s = AQPSession(spark, data_token="reroute-default-test",
                   behavior="run_on_full_table")
    s.load_tables(SF_SMALL, ["lineitem"])
    s.sql("CREATE SAMPLE TABLE li_rr ON lineitem OPTIONS("
          "qcs 'l_returnflag', fraction '0.05', method 'hash', seed '42')")
    an = s.analyze_sql("SELECT sum(l_quantity) AS x, absolute_error(x) "
                       "FROM li_rr WITH ERROR 0.000001")
    assert an.spec is not None and an.spec.behavior == "do_nothing"


def test_auto_weighted_table_detection(spark, duck):
    """AQP-211 (stratifiedSampling.scala:55-63): registering a PLAIN table
    that carries the sampler's hidden columns auto-attaches it as a sample
    — queries at it route through the weighted estimators with no DDL, and
    point estimates equal the direct weighted SQL over the same rows."""
    from snappy_aqp_spark.sampling.samplers import stratified_sample
    from snappy_aqp_spark.specs import SampleSpec, WEIGHT_COL
    s = AQPSession(spark, data_token="auto-w-test")
    s.load_tables(SF_SMALL, ["lineitem"])
    P = SampleSpec("lineitem", ("l_orderkey", "l_linenumber"),
                   ("l_returnflag",), "hash", 0.1, seed=42)
    rows = stratified_sample(s.tables["lineitem"], P)
    s.register_table("li_autow", rows)
    assert s.catalog.get("li_autow") is not None      # detected
    got = {r["rf"]: r["sq"] for r in s.sql(
        "SELECT l_returnflag AS rf, sum(l_quantity) AS sq "
        "FROM li_autow GROUP BY l_returnflag WITH ERROR 0.9").collect()}
    # HT estimate == weighted sum over the very same rows (modulo the
    # engine's reproducible-mode measure quantization)
    rows.createOrReplaceTempView("__li_autow_rows")
    want = {r["rf"]: r["sq"] for r in spark.sql(
        f"SELECT l_returnflag AS rf, SUM(l_quantity * {WEIGHT_COL}) AS sq "
        "FROM __li_autow_rows GROUP BY l_returnflag").collect()}
    for k, v in want.items():
        assert abs(got[k] - v) / v < 1e-3, (k, got[k], v)
    # a table WITHOUT hidden columns must not be detected
    s.register_table("li_plain", s.tables["lineitem"].limit(10))
    assert s.catalog.get("li_plain") is None


def test_external_csv_table_routes_through_sample(spark, tmp_path):
    """AQP-282 protocol (QueryProcessingSuite.scala:211-231): an EXTERNAL
    CSV table becomes an AQP base relation — CREATE SAMPLE TABLE with the
    baseTable option builds over it, and a grouped approx query routes
    closed-form with estimates matching the DuckDB replay on the same
    CSV, bit-exact."""
    import duckdb
    csv = tmp_path / "orderline.csv"
    rows = [(i, (i * 7) % 5, round(10.0 + (i % 13) * 0.25, 2))
            for i in range(1, 401)]
    csv.write_text("ol_id,ol_cat,ol_amt\n" +
                   "\n".join(f"{a},{b},{c}" for a, b, c in rows))
    s = AQPSession(spark, data_token="ext-csv-test")
    s.create_external_table("orderline", "csv", str(csv),
                            {"header": "true", "inferSchema": "true"})
    s.sql("CREATE SAMPLE TABLE ol_sample ON orderline OPTIONS("
          "qcs 'ol_cat', fraction '0.5', method 'hash', seed '42', "
          "keyColumns 'ol_id')")
    an = s.analyze_sql("SELECT ol_cat, sum(ol_amt) AS sa, "
                       "absolute_error(sa) FROM orderline "
                       "GROUP BY ol_cat ORDER BY ol_cat WITH ERROR 0.8")
    assert an.spec is not None            # routed approx, not exact
    got = s.sql("SELECT ol_cat, sum(ol_amt) AS sa, absolute_error(sa) "
                "FROM orderline GROUP BY ol_cat ORDER BY ol_cat "
                "WITH ERROR 0.8").toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orderline AS SELECT * FROM "
            f"read_csv_auto('{csv}', header=true)")
    from snappy_aqp_spark.plans.approx_query import oracle_sql_for
    dk = con.sql(oracle_sql_for(an.spec)).df().rename(columns=an.rename or {})
    cols = sorted(got.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = dk[cols].sort_values(cols).reset_index(drop=True)
    assert a.shape == b.shape
    for c in cols:
        assert (a[c] == b[c]).all() or (a[c] - b[c]).abs().max() < 1e-9, c


def test_rebuild_resamples_despite_session_cache(spark, tmp_path):
    """rebuild=True must bypass the session sample cache AND rewrite the
    persisted parquet at path (the cache-hit fast path was returning the
    stale sample)."""
    import os
    import time
    from snappy_aqp_spark.specs import SampleSpec
    p = str(tmp_path / "li_rb")
    s = AQPSession(spark, data_token="rebuild-test")
    s.load_tables(SF_SMALL, ["lineitem"])
    spec = SampleSpec("lineitem", ("l_orderkey",), ("l_returnflag",),
                      fraction=0.1, method="hash", seed=42)
    s.create_sample_table_from_spec("li_rb", spec, path=p)
    mtimes = {f: os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)}
    time.sleep(0.05)
    s.create_sample_table_from_spec("li_rb", spec, path=p, rebuild=True)
    after = {f: os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)}
    assert after != mtimes          # the parquet was actually rewritten


def test_sample_persist_and_attach(spark, tmp_path, duck):
    """CREATE SAMPLE TABLE ... OPTIONS(path ...) persists the sample; a
    fresh session with the same DDL ATTACHES the parquet instead of
    re-scanning the base (sample content is a deterministic function of
    the spec, so attach == rebuild bit-for-bit), and queries through it
    still match the oracle."""
    import os
    from snappy_aqp_spark.api import AQPSession
    p = str(tmp_path / "li_persist")
    ddl = ("CREATE SAMPLE TABLE li_persist ON lineitem OPTIONS("
           "qcs 'l_returnflag', fraction '0.1', method 'hash', seed '42', "
           f"path '{p}')")
    s1 = AQPSession(spark, data_token="persist-a")
    s1.load_tables(SF_SMALL, ["lineitem"])
    s1.sql(ddl)
    q = ("SELECT l_returnflag, sum(l_quantity) AS sq, absolute_error(sq) "
         "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag "
         "WITH ERROR 0.5")
    r1 = s1.sql(q).collect()
    mtimes = {f: os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)}
    # fresh session, different token -> cache cold; same DDL attaches
    s2 = AQPSession(spark, data_token="persist-b")
    s2.load_tables(SF_SMALL, ["lineitem"])
    s2.sql(ddl)
    r2 = s2.sql(q).collect()
    assert r1 == r2
    # the parquet was NOT rewritten (attach, not rebuild)
    assert mtimes == {f: os.path.getmtime(os.path.join(p, f))
                      for f in os.listdir(p)}
    an = s2.analyze_sql(q)
    compare_frames(s2.sql(q), duck.sql(oracle_sql_for(an.spec)).df()
                   .rename(columns=an.rename))
    # rebuild 'true' forces a rewrite
    s3 = AQPSession(spark, data_token="persist-c")
    s3.load_tables(SF_SMALL, ["lineitem"])
    s3.sql(ddl.replace("path", "rebuild 'true', path"))
    assert mtimes != {f: os.path.getmtime(os.path.join(p, f))
                      for f in os.listdir(p)}
    assert s3.sql(q).collect() == r1


def test_attach_sample_from_sidecar(spark, tmp_path, duck):
    """A persisted sample is SELF-DESCRIBING: attach_sample(path) restores
    registration + routing in a fresh session from the sidecar alone — no
    DDL replay (reference: registrations persist in the session catalog,
    SnappyAQPSessionCatalog.scala:54 addSampleDataFrame)."""
    import json
    import os
    from snappy_aqp_spark.api import AQPSession
    from snappy_aqp_spark.sampling.samplers import SIDECAR_NAME
    from snappy_aqp_spark.specs import SampleSpec
    p = str(tmp_path / "li_sidecar")
    s1 = AQPSession(spark, data_token="sidecar-a")
    s1.load_tables(SF_SMALL, ["lineitem"])
    spec = SampleSpec("lineitem", ("l_orderkey",), ("l_returnflag",),
                      fraction=0.1, method="hash", seed=42)
    s1.create_sample_table_from_spec("li_sidecar", spec, path=p)
    q = ("SELECT l_returnflag, sum(l_quantity) AS sq, absolute_error(sq) "
         "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag "
         "WITH ERROR 0.5")
    r1 = s1.sql(q).collect()
    side = json.load(open(os.path.join(p, SIDECAR_NAME)))
    assert side["name"] == "li_sidecar"
    assert tuple(side["spec"]["qcs"]) == ("l_returnflag",)
    # fresh session: NO DDL, only the path
    s2 = AQPSession(spark, data_token="sidecar-b")
    s2.load_tables(SF_SMALL, ["lineitem"])
    df = s2.attach_sample(p)
    assert s2.catalog.get("li_sidecar") is not None
    an = s2.analyze_sql(q)
    assert an is not None and an.spec.sample == spec  # routed to the sample
    assert s2.sql(q).collect() == r1
    compare_frames(s2.sql(q), duck.sql(oracle_sql_for(an.spec)).df()
                   .rename(columns=an.rename))
    # the sample is queryable as a plain relation too
    assert df.count() == spark.sql("SELECT * FROM li_sidecar").count()
    # discover_samples walks a directory tree and attaches everything
    s3 = AQPSession(spark, data_token="sidecar-c")
    s3.load_tables(SF_SMALL, ["lineitem"])
    assert s3.discover_samples(str(tmp_path)) == ["li_sidecar"]
    assert s3.catalog.get("li_sidecar") is not None


def test_session_api_parity_methods(aqp, spark):
    """thin session analogs of SnappyContextAQPFunctions: errorStats,
    errorEstimateAverage, convertToStratifiedSample, dropTopK."""
    from snappy_aqp_spark.specs import WEIGHT_COL
    es = aqp.error_stats("li_sample", "l_extendedprice").toPandas()
    assert len(es) > 0 and "weighted_count" in "".join(es.columns).lower() \
        or len(es.columns) >= 3
    ea = aqp.error_estimate_average("li_sample", "l_quantity").collect()
    assert len(ea) == 1
    adhoc = aqp.convert_to_stratified_sample(
        aqp.tables["lineitem"], qcs=["l_returnflag"],
        key_cols=["l_orderkey", "l_linenumber"], fraction=0.1,
        method="hash", seed=7)
    assert WEIGHT_COL in adhoc.columns and 0 < adhoc.count() < 6000
    aqp.create_approx_ts_topk("tk_parity", "lineitem", key="l_returnflag",
                              int_key=False)
    assert "tk_parity" in aqp.topk.tables
    aqp.drop_topk("tk_parity")
    assert "tk_parity" not in aqp.topk.tables


def test_unselected_group_key_is_hidden(aqp, duck):
    """AQP-201 (PartialQueryRoutingTestSuite:1221): GROUP BY/ORDER BY a
    column that is not selected — it groups and sorts but stays out of
    the visible output."""
    q = ("SELECT sum(l_extendedprice) AS s, absolute_error(s) "
         "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag "
         "WITH ERROR 0.3 BEHAVIOR 'partial_run_on_base_table'")
    an = aqp.analyze_sql(q)
    assert "l_returnflag" in an.spec.hidden_cols
    df = aqp.sql(q)
    assert "l_returnflag" not in df.columns
    compare_frames(df, duck.sql(oracle_sql_for(an.spec)).df()
                   .rename(columns=an.rename))


def test_attach_sample_data(spark, tmp_path, duck):
    """AQP-211 spirit: a relation carrying the sampler's hidden columns is
    attached as THE sample for its spec — no base scan; queries through it
    equal the normally-created sample bit-for-bit and match the oracle."""
    from snappy_aqp_spark.api import AQPSession
    from snappy_aqp_spark.specs import SampleSpec
    spec = SampleSpec("lineitem", ("l_orderkey", "l_linenumber"),
                      ("l_returnflag",), method="hash", fraction=0.1,
                      seed=42)
    # provenance simulation: sample built elsewhere, shipped as parquet
    s0 = AQPSession(spark, data_token="attach-src")
    s0.load_tables(SF_SMALL, ["lineitem"])
    rows = s0.convert_to_stratified_sample(
        s0.tables["lineitem"], qcs=["l_returnflag"],
        key_cols=["l_orderkey", "l_linenumber"], method="hash",
        fraction=0.1, seed=42)
    p = str(tmp_path / "shipped_sample")
    rows.write.parquet(p)
    # consumer session attaches the rows; base never scanned for sampling
    s1 = AQPSession(spark, data_token="attach-dst")
    s1.load_tables(SF_SMALL, ["lineitem"])
    s1.attach_sample_data("li_shipped", spark.read.parquet(p), spec)
    q = ("SELECT l_returnflag, sum(l_quantity) AS sq, absolute_error(sq) "
         "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag "
         "WITH ERROR 0.5")
    an = s1.analyze_sql(q)
    assert an.spec is not None and an.spec.sample == spec
    compare_frames(s1.sql(q), duck.sql(oracle_sql_for(an.spec)).df()
                   .rename(columns=an.rename))
    # scans by name work; non-sample relations are rejected
    assert s1.sql("SELECT * FROM li_shipped").count() == rows.count()
    with pytest.raises(ValueError, match="missing hidden"):
        s1.attach_sample_data("bogus", s1.tables["lineitem"], spec)


def test_set_aqp_property_routing(spark):
    """AQP-285 (AQPConnectionPropertySetTest.scala:120-213): a
    `SET spark.sql.aqp.error=...` statement mid-session flips SUBSEQUENT
    plain (no WITH clause) queries from exact to approx routing; invalid
    values raise; a negative error is the AQP-off sentinel."""
    s = AQPSession(spark, data_token="set-props")
    s.load_tables(SF_SMALL, ["lineitem"])
    s.sql("CREATE SAMPLE TABLE li_setp ON lineitem OPTIONS("
          "qcs 'l_returnflag', fraction '0.05', method 'hash', seed '42')")
    plain = ("SELECT l_returnflag, avg(l_extendedprice) AS a FROM lineitem "
             "GROUP BY l_returnflag ORDER BY l_returnflag")
    # before SET: plain query routes exact (no analysis)
    assert s.analyze_sql(plain) is None
    exact = {r["l_returnflag"]: r["a"] for r in s.sql(plain).collect()}
    s.sql("SET spark.sql.aqp.error=0.4")
    an = s.analyze_sql(plain)
    assert an is not None and an.spec is not None
    assert an.spec.error == 0.4
    approx = {r["l_returnflag"]: r["a"] for r in s.sql(plain).collect()}
    assert set(approx) == set(exact)
    assert any(abs(approx[k] - exact[k]) > 1e-9 for k in exact)
    # validation mirrors getErrorDefaults
    with pytest.raises(ValueError, match="error within range"):
        s.sql("SET spark.sql.aqp.error=0")
    with pytest.raises(ValueError, match="error within range"):
        s.sql("SET spark.sql.aqp.error=1.5")
    with pytest.raises(ValueError, match="confidence within range"):
        s.sql("SET spark.sql.aqp.confidence=1.0")
    with pytest.raises(ValueError, match="unknown behavior"):
        s.sql("SET spark.sql.aqp.behavior='bogus'")
    # behavior/confidence/trials update the session defaults
    s.sql("SET spark.sql.aqp.behavior='local_omit'")
    assert s.defaults["behavior"] == "local_omit"
    s.sql("SET spark.sql.aqp.numBootStrapTrials=37")
    assert s.defaults["trials"] == 37
    # negative error: AQP disabled -> plain queries route exact again
    s.sql("SET spark.sql.aqp.error=-1")
    an2 = s.analyze_sql(plain)
    assert an2 is None or an2.spec is None


def test_sample_survives_session_restart(spark, tmp_path):
    """AQP-295 (SamplingTest.scala:291-310): a persisted sample table is
    recreated with IDENTICAL contents after a restart — per-stratum counts
    before and after must match exactly. The rebuild analog here: a fresh
    AQPSession (cold catalog/cache) attaching the same `path` DDL serves
    the same rows without rescanning the base."""
    p = str(tmp_path / "li_restart_sample")
    ddl = ("CREATE SAMPLE TABLE li_restart ON lineitem OPTIONS("
           "qcs 'l_returnflag', fraction '0.06', method 'hash', seed '7', "
           f"path '{p}')")
    probe = ("SELECT l_returnflag, count(*) AS n FROM li_restart "
             "GROUP BY l_returnflag ORDER BY l_returnflag")
    s0 = AQPSession(spark, data_token="restart-a")
    s0.load_tables(SF_SMALL, ["lineitem"])
    s0.sql(ddl)
    before = [(r["l_returnflag"], r["n"]) for r in s0.sql(probe).collect()]
    assert before and all(n > 0 for _, n in before)
    # "cluster restart": brand-new session, cold catalog — same DDL attaches
    # the persisted parquet (create_sample_table_from_spec attach path)
    s1 = AQPSession(spark, data_token="restart-b")
    s1.load_tables(SF_SMALL, ["lineitem"])
    s1.sql(ddl)
    after = [(r["l_returnflag"], r["n"]) for r in s1.sql(probe).collect()]
    assert after == before
    # weighted estimates over the reattached sample match the live one
    q = ("SELECT l_returnflag, sum(l_quantity) AS sq, absolute_error(sq) "
         "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag "
         "WITH ERROR 0.5")
    assert [tuple(r) for r in s1.sql(q).collect()] \
        == [tuple(r) for r in s0.sql(q).collect()]


def test_rollup_cube_route_exact(aqp):
    """ROLLUP/CUBE/GROUPING SETS group items route exact with folded
    error functions (QueryRoutingRules.scala:86-92). Regression: the
    ROLLUP call previously leaked into the approx plan's withColumn and
    crashed with UNRESOLVED_ROUTINE."""
    for gb in ("ROLLUP(l_returnflag, l_linestatus)",
               "CUBE(l_returnflag, l_linestatus)"):
        q = ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq, "
             f"absolute_error(sq) AS ae FROM lineitem GROUP BY {gb} "
             "ORDER BY l_returnflag, l_linestatus WITH ERROR 0.5")
        an = aqp.analyze_sql(q)
        assert an is not None and an.spec is None
        rows = aqp.sql(q).collect()
        assert rows and all(r.ae == 0.0 for r in rows)
        # the grand-total row proves the real ROLLUP/CUBE ran
        assert any(r.l_returnflag is None and r.l_linestatus is None
                   for r in rows)


def test_function_text_errfn_folds_on_exact_routes(aqp):
    """Function-text error-fn targets (lower_bound(avg(l_quantity)) with no
    alias) must fold on EVERY exact route, not just resolve on the approx
    route: ROLLUP, and the negative-error AQP-off sentinel. Regression for
    the _ERRFN_CALL_RE \\w+-only gap — the call was left unfolded in the
    SQL and Spark raised UNRESOLVED_ROUTINE."""
    # ROLLUP route: bounds fold to NULL, errors to 0
    q = ("SELECT l_returnflag, avg(l_quantity) AS aq, "
         "lower_bound(avg(l_quantity)) AS lb, "
         "absolute_error(avg(l_quantity)) AS ae "
         "FROM lineitem GROUP BY ROLLUP(l_returnflag) "
         "ORDER BY l_returnflag WITH ERROR 0.5")
    rows = aqp.sql(q).collect()
    assert rows and all(r.lb is None and r.ae == 0.0 for r in rows)
    # negative error = AQP-off sentinel -> exact route, same folding
    q2 = ("SELECT avg(l_quantity) AS aq, "
          "upper_bound(avg(l_quantity)) AS ub, "
          "relative_error(avg(l_quantity)) AS re "
          "FROM lineitem WITH ERROR -1")
    r2 = aqp.sql(q2).collect()
    assert len(r2) == 1 and r2[0].ub is None and r2[0].re == 0.0
    # fold_error_functions itself: nested target resolves by select text
    parsed = fe.parse_select(
        "SELECT avg(l_quantity) FROM lineitem GROUP BY l_returnflag")
    folded = fe.fold_error_functions(
        "SELECT avg(l_quantity), lower_bound(avg(l_quantity)) "
        "FROM lineitem GROUP BY l_returnflag", parsed)
    assert "lower_bound(" not in folded.lower()   # call folded (alias stays)
    assert "CAST(NULL AS DOUBLE)" in folded
    # unknown nested target still raises the frontend's clear error
    with pytest.raises(fe.SQLFrontendError):
        fe.fold_error_functions(
            "SELECT avg(l_quantity), lower_bound(sum(l_tax)) "
            "FROM lineitem GROUP BY l_returnflag", parsed)


def test_function_text_errfn_in_having_order_by(aqp, duck):
    """Direct error-fn calls in HAVING/ORDER BY with function-text targets
    rewrite to the hidden engine columns on the approx route (previously
    only bare-alias targets matched _ERRFN_CALL_RE)."""
    q = ("SELECT l_returnflag, avg(l_quantity) AS aq, "
         "lower_bound(avg(l_quantity)) AS lb "
         "FROM lineitem GROUP BY l_returnflag "
         "HAVING absolute_error(avg(l_quantity)) >= 0 "
         "ORDER BY lower_bound(avg(l_quantity)) "
         "WITH ERROR 0.5")
    rows = aqp.sql(q).collect()
    assert rows and all(r.aq is not None for r in rows)
    # every group survives HAVING error >= 0; output is ordered by lb
    lbs = [r.lb for r in rows]
    assert lbs == sorted(lbs)


def test_pending_feature_bare_confidence_on_avg(spark):
    """The reference's ONLY pending feature (PendingFeatureTest.scala:104
    is @ignore'd there): `SELECT avg(x) FROM t confidence .95` — a bare
    CONFIDENCE clause (leading-dot literal, no WITH ERROR) on an AVG over
    a measure-column QCS sample. Routes approx here with the clause
    applied — this engine runs the query their suite defers."""
    from snappy_aqp_spark.api import AQPSession
    from tests.conftest import SF_SMALL
    s = AQPSession(spark, data_token="pending-feature", error=0.2,
                   confidence=0.5, behavior="do_nothing")
    s.load_tables(SF_SMALL, ["lineitem"])
    s.sql("CREATE SAMPLE TABLE li_pend ON lineitem OPTIONS("
          "qcs 'l_quantity', fraction '0.05', method 'hash', seed '42')")
    q = "SELECT avg(l_quantity) AS a FROM lineitem confidence .95"
    an = s.analyze_sql(q)
    assert an.spec is not None and an.spec.confidence == 0.95
    rows = s.sql(q).collect()
    assert len(rows) == 1 and 20 < rows[0].a < 31   # uniform(1,50)-ish mean


def test_with_clause_any_order_snap225():
    """SNAP-225 (ignored in the reference — its parboiled rule is
    order-fixed): clause components in ANY order, including
    `confidence .85 with error .07` and a trailing bare WITH ERROR
    (ErrorDefaults marker) after a valued one."""
    q, wc = fe.strip_with_clause(
        "SELECT sum(x) AS t FROM m confidence .85 with error .07")
    assert q.rstrip() == "SELECT sum(x) AS t FROM m"
    assert (wc.error, wc.confidence) == (0.07, 0.85)
    q2, wc2 = fe.strip_with_clause(
        "SELECT 1 FROM t BEHAVIOR 'local_omit' WITH ERROR 0.2")
    assert (wc2.error, wc2.behavior) == (0.2, "local_omit")
    _, wc3 = fe.strip_with_clause(
        "SELECT 1 FROM t WITH ERROR 0.2 BEHAVIOR 'strict' WITH ERROR")
    assert (wc3.error, wc3.behavior, wc3.has_error_kw) == \
        (0.2, "strict", True)
    for bad in ("WITH ERROR 0.1 WITH ERROR 0.2",
                "CONFIDENCE 0.9 CONFIDENCE 0.8",
                "BEHAVIOR 'strict' BEHAVIOR 'strict'"):
        with pytest.raises(fe.SQLFrontendError, match="duplicate"):
            fe.strip_with_clause(f"SELECT 1 FROM t {bad}")


def test_errfn_targets_unaliased_aggregate_text(spark, duck):
    """The reference's @ignore'd DataFrame-API case
    (AbstractAQPDataFrameAPIPart1Test.scala:457-465): an error function
    addressing an UNALIASED aggregate by its function text —
    absolute_error(avg(l_quantity)) — resolves to that aggregate and the
    routed result matches the replay oracle."""
    from snappy_aqp_spark.api import AQPSession
    from snappy_aqp_spark.plans.approx_query import oracle_sql_for
    from tests.conftest import SF_SMALL, compare_frames
    s = AQPSession(spark, data_token="noalias-errfn", error=0.2,
                   confidence=0.95, behavior="do_nothing")
    s.load_tables(SF_SMALL, ["lineitem"])
    s.sql("CREATE SAMPLE TABLE li_noalias ON lineitem OPTIONS("
          "qcs 'l_returnflag', fraction '0.1', method 'hash', seed '42')")
    q = ("SELECT avg(l_quantity), absolute_error(avg(l_quantity)) "
         "FROM lineitem WITH ERROR 0.5")
    an = s.analyze_sql(q)
    assert an.spec is not None
    assert any("absolute_error" in a.errors for a in an.spec.aggs)
    compare_frames(s.sql(q),
                   duck.sql(oracle_sql_for(an.spec)))


def test_explain_aqp_statement(spark):
    """EXPLAIN AQP <query> returns the routing decision as a one-row
    relation without executing the query (AQPInfo surface analog)."""
    from snappy_aqp_spark.api import AQPSession
    s = AQPSession(spark, data_token="explain-test")
    s.load_tables(SF_SMALL, ["lineitem"])
    s.sql("CREATE SAMPLE TABLE li_ex ON lineitem OPTIONS("
          "qcs 'l_returnflag', fraction '0.1', method 'hash', seed '42')")
    r = s.sql("EXPLAIN AQP SELECT l_returnflag, sum(l_quantity) AS sq, "
              "absolute_error(sq) FROM lineitem GROUP BY l_returnflag "
              "WITH ERROR 0.5").collect()[0]
    assert r["route"] == "approx" and r["base_table"] == "lineitem"
    assert r["qcs"] == "l_returnflag" and r["estimator"] == "closed_form"
    assert r["error"] == 0.5
    # AVG + HAVING -> bootstrap (routing parity)
    r2 = s.sql("EXPLAIN AQP SELECT l_returnflag, avg(l_quantity) AS a "
               "FROM lineitem GROUP BY l_returnflag HAVING a > 0 "
               "WITH ERROR 0.5").collect()[0]
    assert r2["estimator"] == "bootstrap"
    # unsupported aggregate -> exact with a reason
    r3 = s.sql("EXPLAIN AQP SELECT count(DISTINCT l_suppkey) AS u "
               "FROM lineitem WITH ERROR 0.5").collect()[0]
    assert r3["route"] == "exact" and r3["reason"]
    # no WITH clause -> exact
    r4 = s.sql("EXPLAIN AQP SELECT count(*) FROM lineitem").collect()[0]
    assert r4["route"] == "exact"


def test_drop_table_invalidates_view_backed_relation(spark):
    """round-6 ADVICE (medium): DROP TABLE on a register_table relation
    must invalidate cached samples — tableExists() returns True for temp
    views, so the old 'in tables and not in catalog' test never fired and
    a same-named re-register could be served the STALE sample."""
    s = AQPSession(spark, data_token="drop-reregister", error=0.5,
                   confidence=0.95, behavior="do_nothing")
    df1 = spark.range(1000).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS g", "CAST(id AS DOUBLE) AS v")
    s.register_table("dropreg", df1)
    ddl = ("CREATE SAMPLE TABLE dropreg_s ON dropreg OPTIONS("
           "qcs 'g', fraction '0.5', method 'hash', seed '42', "
           "keyColumns 'k')")
    s.sql(ddl)
    q = "SELECT count(*) AS c FROM dropreg WITH ERROR 0.9"
    c1 = s.sql(q).collect()[0]["c"]
    assert 500 < c1 < 1500
    s.sql("DROP TABLE dropreg")
    assert "dropreg" not in s.tables
    # re-register the SAME name with 5x the rows; same spec, same token —
    # the estimate must reflect the NEW data, not the cached sample
    df2 = spark.range(5000).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS g", "CAST(id AS DOUBLE) AS v")
    s.register_table("dropreg", df2)
    s.sql(ddl)
    c2 = s.sql(q).collect()[0]["c"]
    assert 4000 < c2 < 6000, (c1, c2)
    s.sql("DROP TABLE dropreg")


@pytest.mark.parametrize("drop", [True, False], ids=["drop", "no_drop"])
def test_reattach_same_spec_serves_new_rows(spark, drop):
    """Sample rows re-attached under a spec that was already queried — with
    or without a drop in between — must be what the next query reads: the
    plan cached over the old rows goes with the old sample entry."""
    from snappy_aqp_spark.sampling.samplers import stratified_sample
    from snappy_aqp_spark.specs import SampleSpec
    spec = SampleSpec("lineitem", ("l_orderkey", "l_linenumber"),
                      ("l_returnflag",), "hash", 0.1, 50, 42)
    q = ("SELECT l_returnflag, SUM(l_quantity) AS s FROM lineitem "
         "GROUP BY l_returnflag ORDER BY l_returnflag WITH ERROR 0.5")

    def session(token):
        s = AQPSession(spark, data_token=token)
        s.load_tables(SF_SMALL, ["lineitem"])
        return s

    s = session(f"reattach-{drop}")
    li = s.tables["lineitem"]
    rows_b = stratified_sample(li.where("l_orderkey % 2 = 1"), spec)
    s.attach_sample_data(
        "li_re", stratified_sample(li.where("l_orderkey % 2 = 0"), spec),
        spec)
    s.sql(q).collect()
    if drop:
        s.drop_sample_table("li_re")
    s.attach_sample_data("li_re", rows_b, spec)
    fresh = session(f"reattach-fresh-{drop}")
    fresh.attach_sample_data("li_re", rows_b, spec)
    assert s.sql(q).collect() == fresh.sql(q).collect()


# --- HAC decisions through the plan cache ------------------------------------

_HAC_REROUTE_TEXTS = {
    "run_on_full_table": (
        "SELECT l_returnflag, SUM(l_quantity) AS sq, lower_bound(sq) AS lb "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag "
        "WITH ERROR 0.001 BEHAVIOR 'run_on_full_table'"),
    "partial_run_on_base_table": (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sq, "
        "lower_bound(sq) AS lb FROM lineitem "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus "
        "WITH ERROR 0.001 BEHAVIOR 'partial_run_on_base_table'"),
}


def _sql_jobs(aqp, text, group):
    """(jobs started by ``aqp.sql(text)`` alone, the returned frame)."""
    sc = aqp.spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = aqp.sql(text)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), df


@pytest.mark.parametrize("behavior", sorted(_HAC_REROUTE_TEXTS))
def test_repeated_reroute_sql_starts_no_jobs(aqp, behavior):
    """The reroute decision is kept with the plan it chose: repeating the
    text starts no Spark job in sql() and answers with the same rows."""
    text = _HAC_REROUTE_TEXTS[behavior]
    first = aqp.sql(text).collect()
    assert first and all(r["lb"] is None for r in first)   # rerouted
    jobs, df = _sql_jobs(aqp, text, f"hac-repeat-{behavior}")
    assert jobs == 0
    assert repr(df.collect()) == repr(first)


def test_strict_violation_raises_on_every_repeat(aqp):
    """A strict raise is never cached: every repeat checks and raises."""
    from snappy_aqp_spark import ErrorLimitExceededException
    text = ("SELECT l_returnflag, SUM(l_quantity) AS sq FROM lineitem "
            "GROUP BY l_returnflag WITH ERROR 0.001 BEHAVIOR 'strict'")
    for _ in range(3):
        with pytest.raises(ErrorLimitExceededException):
            aqp.sql(text)


@pytest.mark.parametrize("behavior", sorted(_HAC_REROUTE_TEXTS))
def test_reattach_decides_hac_again(spark, behavior):
    """A cached reroute decision is made again after a re-attach under the
    same spec: rows with no sampling error (every row, weight 1) flip the
    decision from the exact route (NULL bounds) to the estimate."""
    import dataclasses

    from snappy_aqp_spark.sampling.samplers import stratified_sample
    from snappy_aqp_spark.specs import SampleSpec
    spec = SampleSpec("lineitem", ("l_orderkey", "l_linenumber"),
                      ("l_returnflag", "l_linestatus"), "hash", 0.1, 50, 42)
    text = _HAC_REROUTE_TEXTS[behavior]
    s = AQPSession(spark, data_token=f"hac-reattach-{behavior}")
    s.load_tables(SF_SMALL, ["lineitem"])
    li = s.tables["lineitem"]
    s.attach_sample_data("li_hac", stratified_sample(li, spec), spec)
    exact = s.sql(text).collect()
    assert all(r["lb"] is None for r in exact)
    every_row = stratified_sample(li, dataclasses.replace(spec, fraction=1.0))
    s.attach_sample_data("li_hac", every_row, spec)
    approx = s.sql(text).collect()
    assert len(approx) == len(exact)
    assert all(r["lb"] == r["sq"] for r in approx)
    s.drop_sample_table("li_hac")


def test_catalog_table_measure_gets_a_derived_bound(spark, tmp_path):
    """A session-registered table is not built-in: building its sample
    derives max |amt| as the measure bound, so values of 0.5 survive the
    quantization lattice (at the 2^20 fallback they quantized away and
    the CI read 0), and the answer equals its DuckDB replay."""
    import duckdb
    loc = f"{tmp_path}/bound_cat"
    spark.sql(f"CREATE TABLE bound_cat (k BIGINT, g STRING, amt DOUBLE) "
              f"USING parquet LOCATION '{loc}'")
    try:
        spark.sql("INSERT INTO bound_cat SELECT id, CAST(id % 4 AS STRING), "
                  "CAST(id % 3 AS DOUBLE) / 2 FROM range(800)")
        s = AQPSession(spark, data_token="bound-cat")
        s.register_catalog_table("bound_cat")
        s.sql("CREATE SAMPLE TABLE bound_cat_s ON bound_cat OPTIONS("
              "qcs 'g', fraction '0.5', method 'hash', seed '42', "
              "keyColumns 'k')")
        assert s.col_bounds["amt"] == 1.0
        q = ("SELECT g, SUM(amt) AS sv, relative_error(sv) AS re "
             "FROM bound_cat GROUP BY g ORDER BY g WITH ERROR 0.9")
        an = s.analyze_sql(q)
        assert [a.max_abs for a in an.spec.aggs] == [2.0]
        got = s.sql(q)
        assert all(r["re"] > 0 for r in got.collect())
        con = duckdb.connect()
        con.sql(f"CREATE VIEW bound_cat AS SELECT * FROM "
                f"read_parquet('{loc}/*.parquet')")
        compare_frames(got, con.sql(oracle_sql_for(an.spec)).df()
                       .rename(columns=an.rename))
        s.sql("DROP TABLE bound_cat_s")
    finally:
        spark.sql("DROP TABLE IF EXISTS bound_cat")


def test_mutation_decides_hac_again(spark, tmp_path):
    """A cached strict decision is made again after a mutation
    pass-through: a constant measure has no sampling error, and the rows
    an INSERT adds make the same text violate its contract."""
    from snappy_aqp_spark import ErrorLimitExceededException
    spark.sql(f"CREATE TABLE hac_mut (k BIGINT, g STRING, amt DOUBLE) "
              f"USING parquet LOCATION '{tmp_path}/hac_mut'")
    try:
        # the measure bound is derived from these amounts at sample build
        # time; the rows the INSERT adds stay within twice that bound
        spark.sql("INSERT INTO hac_mut SELECT id, CAST(id % 2 AS STRING), "
                  "250000.0D FROM range(400)")
        s = AQPSession(spark, data_token="hac-mutation")
        s.register_catalog_table("hac_mut")
        s.sql("CREATE SAMPLE TABLE hac_mut_s ON hac_mut OPTIONS("
              "qcs 'g', fraction '0.5', method 'hash', seed '42', "
              "keyColumns 'k')")
        text = ("SELECT g, SUM(amt) AS sv FROM hac_mut GROUP BY g ORDER BY g "
                "WITH ERROR 0.01 BEHAVIOR 'strict'")
        assert [r["sv"] for r in s.sql(text).collect()] == [5e7, 5e7]
        assert [r["sv"] for r in s.sql(text).collect()] == [5e7, 5e7]
        s.sql("INSERT INTO hac_mut SELECT id, CAST(id % 2 AS STRING), "
              "CAST(id % 3 AS DOUBLE) * 250000 FROM range(400, 800)")
        with pytest.raises(ErrorLimitExceededException):
            s.sql(text)
        s.sql("DROP TABLE hac_mut_s")
    finally:
        spark.sql("DROP TABLE IF EXISTS hac_mut")


def test_show_sample_and_topk_tables(spark):
    """SHOW SAMPLE TABLES / SHOW TOPK TABLES list the session registries
    as relations; plain SHOW TABLES still passes through to Spark."""
    from tests.conftest import SF_SMALL
    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token="showtbl")
    aqp.load_tables(SF_SMALL, ("lineitem", "events"))
    assert aqp.sql("SHOW SAMPLE TABLES").count() == 0
    aqp.sql("CREATE SAMPLE TABLE li_show ON lineitem OPTIONS ("
            "qcs 'l_returnflag', fraction '0.1', strataReservoirSize '10')")
    rows = {r["name"]: r for r in aqp.sql("SHOW SAMPLE TABLES").collect()}
    assert "li_show" in rows
    r = rows["li_show"]
    assert r["base_table"] == "lineitem"
    assert r["qcs"] == "l_returnflag"
    assert r["fraction"] == 0.1
    aqp.sql("CREATE TOPK TABLE tk_show ON events OPTIONS (key 'user_id', "
            "timeSeriesColumn 'ts', timeInterval '60000ms', size '5')")
    tk = {r["name"]: r for r in aqp.sql("SHOW TOPK TABLES").collect()}
    assert "tk_show" in tk and tk["tk_show"]["key"] == "user_id"
    assert tk["tk_show"]["size"] == 5
    # plain SHOW TABLES is NOT intercepted
    assert "isTemporary" in aqp.sql("SHOW TABLES").columns \
        or aqp.sql("SHOW TABLES").count() >= 0
    aqp.sql("DROP TABLE li_show")
    assert "li_show" not in {
        r["name"] for r in aqp.sql("SHOW SAMPLE TABLES").collect()}
