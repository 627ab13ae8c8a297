"""Opt-in HLL route for ``COUNT(DISTINCT) ... WITH ERROR``.

Extension beyond the reference: snappy-aqp routes COUNT(DISTINCT) to the
exact path unconditionally (common/QueryRoutingRules.scala:55-92). The
``spark.sql.aqp.hllCountDistinct`` session property flips exactly that one
shape onto the dual-emitted HLL register lattice (pipeline/distinct.py),
with error functions answering from the sketch's 1.04/sqrt(m) standard
error. Off by default — these tests pin BOTH sides of the switch, the
bit-exact DuckDB replay, the EXPLAIN AQP introspection row, and the
fall-through of every unsupported shape back to the exact route.
"""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod
from snappy_aqp_spark.api import AQPSession
from snappy_aqp_spark.sql import frontend as fe
from snappy_aqp_spark.stats import normal_ppf
from tests.conftest import SF_SMALL, compare_frames

Q = ("SELECT COUNT(DISTINCT o_custkey) AS approx_customers, "
     "absolute_error(approx_customers) AS abs_err, "
     "lower_bound(approx_customers) AS lb, "
     "upper_bound(approx_customers) AS ub "
     "FROM orders WITH ERROR")


def _session(spark, token, on=True, p=9):
    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token=token)
    aqp.load_tables(SF_SMALL, ("orders", "lineitem"))
    if on:
        aqp.sql("SET spark.sql.aqp.hllCountDistinct=true")
        aqp.sql(f"SET spark.sql.aqp.hllPrecision={p}")
    return aqp


def test_off_by_default_routes_exact(spark):
    aqp = _session(spark, "hlloff", on=False)
    exact = spark.sql(
        "SELECT COUNT(DISTINCT o_custkey) c FROM orders").collect()[0][0]
    row = aqp.sql(Q).collect()[0]
    assert row[0] == exact                       # reference-parity exact
    assert row["abs_err"] == 0.0                 # errfns fold on exact route


def test_on_routes_to_sketch_with_bounds(spark):
    aqp = _session(spark, "hllon")
    exact = spark.sql(
        "SELECT COUNT(DISTINCT o_custkey) c FROM orders").collect()[0][0]
    row = aqp.sql(Q).collect()[0]
    m = 1 << 9
    rel = normal_ppf(0.975) * 1.04 / math.sqrt(m)
    est = row["approx_customers"]
    assert est != exact                          # it IS an estimate
    assert row["abs_err"] == pytest.approx(rel * est)
    assert row["lb"] == pytest.approx(est - rel * est)
    assert row["ub"] == pytest.approx(est + rel * est)
    # the exact-route property flip is dynamic: turning it back off
    # returns the exact answer mid-session (AQP-285 semantics)
    aqp.sql("SET spark.sql.aqp.hllCountDistinct=false")
    assert aqp.sql(Q).collect()[0][0] == exact


def test_estimate_accuracy_above_lc_regime(spark):
    """Accuracy in the raw-HLL regime: cardinality well above the
    linear-counting cutoff 2.5*m, so the LC branch must NOT fire.
    sf0.001 lineitem has ~1.5k distinct orderkeys >> 160 = 2.5*64."""
    aqp = _session(spark, "hllacc", p=6)
    exact = spark.sql(
        "SELECT COUNT(DISTINCT l_orderkey) c FROM lineitem").collect()[0][0]
    est = aqp.sql("SELECT COUNT(DISTINCT l_orderkey) AS a "
                  "FROM lineitem WITH ERROR").collect()[0][0]
    assert 2.5 * 64 < exact                      # above the LC cutoff
    assert abs(est - exact) / exact < 4 * 1.04 / math.sqrt(64)


def test_low_cardinality_takes_linear_counting(spark):
    """round-9 VERDICT #1: below the 2.5*m cutoff the route answers with
    the deterministic linear-counting correction (driver-computed
    literal lookup, pipeline/distinct._lc_lookup) instead of the biased
    raw estimator. l_linestatus has 2 distinct values; with p=9 the raw
    HLL estimate of 2 keys would be ~alpha*m ~ 370 — LC lands within a
    fraction of a key."""
    aqp = _session(spark, "hlllc")
    est = aqp.sql("SELECT COUNT(DISTINCT l_linestatus) AS a "
                  "FROM lineitem WITH ERROR").collect()[0][0]
    assert abs(est - 2.0) < 0.1                  # LC, not raw HLL
    # and the error columns still wrap the exact count
    row = aqp.sql("SELECT COUNT(DISTINCT l_linestatus) AS a, "
                  "lower_bound(a) AS lb, upper_bound(a) AS ub "
                  "FROM lineitem WITH ERROR").collect()[0]
    assert row["lb"] <= 2 <= row["ub"]


def test_ltz_key_gated_on_session_timezone(spark):
    """round-9 VERDICT #2 / ADVICE: a TIMESTAMP_LTZ key is admitted onto
    the avalanche's instant fold ONLY under a UTC session timezone; any
    other timezone maps it to the md5/string path (always a correct
    Spark-side estimate — the gate is about the instant-vs-naive replay
    divergence the round-9 caveat documented). NTZ stays on the
    timezone-independent epoch fold regardless."""
    aqp = _session(spark, "hllltz")
    tz_conf = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_conf)
    spark.sql("SELECT CAST(l_shipdate AS TIMESTAMP) AS ts, "
              "l_shipdate AS ts_ntz FROM lineitem") \
        .createOrReplaceTempView("__ltz_probe")
    try:
        spark.conf.set(tz_conf, "UTC")
        assert aqp._hll_key_kind("ts", "__ltz_probe") == "timestamp"
        assert aqp._hll_key_kind("ts_ntz", "__ltz_probe") == "timestamp_ntz"
        spark.conf.set(tz_conf, "America/New_York")
        assert aqp._hll_key_kind("ts", "__ltz_probe") == "string"
        assert aqp._hll_key_kind("ts_ntz", "__ltz_probe") == "timestamp_ntz"
    finally:
        spark.conf.set(tz_conf, old_tz)
        spark.catalog.dropTempView("__ltz_probe")


def test_ltz_string_fallback_replays_on_oracle_under_non_utc_tz(spark, duck):
    """the non-UTC fallback path end-to-end: a wall-clock-sourced LTZ key
    (CAST from NTZ interprets the wall clock in the session timezone)
    hashed via md5(CAST(ts AS STRING)) renders the SAME wall-clock text
    Spark read it from, so the DuckDB replay (naive rendering of the same
    parquet values) matches bit-for-bit even though the session timezone
    is America/New_York."""
    from snappy_aqp_spark.dialect import DUCKDB as _DK, SPARK as _SP
    from snappy_aqp_spark.pipeline.distinct import (
        hll_count_distinct_query_sql)
    tz_conf = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_conf)
    try:
        spark.conf.set(tz_conf, "America/New_York")
        spark.sql("SELECT CAST(l_shipdate AS TIMESTAMP) AS ts "
                  "FROM lineitem").createOrReplaceTempView("__ltz_t")
        sp = spark.sql(hll_count_distinct_query_sql(
            _SP, col="ts", table="__ltz_t", p=6, alias="a",
            key_kind="string")).collect()[0][0]
    finally:
        spark.conf.set(tz_conf, old_tz)
        spark.catalog.dropTempView("__ltz_t")
    duck.sql("CREATE OR REPLACE VIEW __ltz_t AS "
             "SELECT l_shipdate AS ts FROM lineitem")
    try:
        dk = duck.sql(hll_count_distinct_query_sql(
            _DK, col="ts", table="__ltz_t", p=6, alias="a",
            key_kind="string")).fetchone()[0]
    finally:
        duck.sql("DROP VIEW IF EXISTS __ltz_t")
    assert sp == dk


@pytest.mark.slow
def test_default_precision_lookup_parses_and_corrects(spark, duck):
    """the route DEFAULT (p=12 -> a 4096-entry LC lookup, ~90 KB of SQL)
    must analyze and execute on BOTH engines — the literal-array size is
    the one cost the deterministic LC trades for engine-side libm — and
    at sf0.001 every tested cardinality sits far below 2.5*4096, so the
    answer IS the LC branch."""
    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token="hllp12")
    aqp.load_tables(SF_SMALL, ("orders",))
    aqp.sql("SET spark.sql.aqp.hllCountDistinct=true")   # default p=12
    exact = spark.sql(
        "SELECT COUNT(DISTINCT o_custkey) c FROM orders").collect()[0][0]
    est = aqp.sql("SELECT COUNT(DISTINCT o_custkey) AS a "
                  "FROM orders WITH ERROR").collect()[0][0]
    assert abs(est - exact) / exact < 0.05               # LC regime
    from snappy_aqp_spark.dialect import DUCKDB as _DK
    from snappy_aqp_spark.pipeline.distinct import (
        hll_count_distinct_query_sql)
    dk = duck.sql(hll_count_distinct_query_sql(
        _DK, col="o_custkey", table="orders", p=12, alias="a",
        key_kind="bigint")).fetchone()[0]
    assert est == dk


def test_lc_with_expression_group_keys(spark, duck):
    """the LC branch composed with EXPRESSION group keys: the __hll_est
    stage must thread the pre-projected __gk columns, every per-group
    estimate takes linear counting (few distinct flags per year), and
    the statement replays bit-exactly."""
    from snappy_aqp_spark.dialect import DUCKDB as _DK, SPARK as _SP
    from snappy_aqp_spark.pipeline.distinct import (
        hll_count_distinct_query_sql)
    spark.read.parquet(f"{SF_SMALL}/lineitem.parquet") \
        .createOrReplaceTempView("lineitem")
    kw = dict(col="l_returnflag", table="lineitem", p=8,
              group_keys=("year(l_shipdate)",), group_out=("yr",),
              alias="flags", err_cols=(("upper_bound", "ub"),),
              order_by=("yr",), key_kind="string")
    sp = spark.sql(hll_count_distinct_query_sql(_SP, **kw)).collect()
    dk = duck.sql(hll_count_distinct_query_sql(_DK, **kw)).fetchall()
    assert [tuple(r) for r in sp] == dk
    for r in sp:
        assert 1.0 <= r["flags"] <= 3.5        # LC: within half a key
        assert r["ub"] >= r["flags"]


def test_float_keys_fall_through_to_exact(spark):
    """float/double COUNT(DISTINCT) keys don't sketch-route (round-10):
    the md5 path hashes the STRING RENDERING and float renderings are
    engine-specific (Java Double.toString's scientific-notation
    thresholds differ from DuckDB's formatter), so the replay contract
    can't hold — the probe returns None and the exact route answers.
    Decimal keys render fixed-point identically and stay routable."""
    aqp = _session(spark, "hllfloat")
    assert aqp._hll_key_kind("l_quantity", "lineitem") is None  # double
    assert aqp._hll_key_kind("CAST(l_quantity AS DECIMAL(12,2))",
                             "lineitem") == "string"
    assert aqp.route(
        "SELECT COUNT(DISTINCT l_quantity) AS a FROM lineitem "
        "WITH ERROR").kind == "exact"
    exact = spark.sql(
        "SELECT COUNT(DISTINCT l_quantity) c FROM lineitem").collect()[0][0]
    row = aqp.sql("SELECT COUNT(DISTINCT l_quantity) AS a, "
                  "absolute_error(a) AS e FROM lineitem "
                  "WITH ERROR").collect()[0]
    assert row["a"] == exact and row["e"] == 0.0    # exact route answered
    # the explicit DataFrame API keeps answering (Spark-only contract):
    # md5 of the rendering is injective per distinct double
    est = aqp.approx_count_distinct("lineitem", "l_quantity",
                                    p=9).collect()[0][0]
    assert abs(est - exact) / exact < 4 * 1.04 / (1 << 9) ** 0.5
    # under behavior=strict with an unmeetable sketch bound, a float key
    # must NOT raise — the gate sends it to the exact route BEFORE the
    # HAC contract check, and the exact route's error (0) satisfies any
    # contract (round-10 review fix)
    strict = AQPSession(spark, error=0.001, confidence=0.95,
                        behavior="strict", data_token="hllfloatstrict")
    strict.load_tables(SF_SMALL, ("lineitem",))
    strict.sql("SET spark.sql.aqp.hllCountDistinct=true")
    assert strict.sql("SELECT COUNT(DISTINCT l_quantity) AS a "
                      "FROM lineitem WITH ERROR").collect()[0][0] == exact


def test_signed_zero_double_key_via_explicit_api(spark):
    """round-10 review: COUNT(DISTINCT) normalizes -0.0 == 0.0 but the
    string rendering does not ('-0.0' vs '0.0') — the explicit API folds
    -0.0 onto 0.0 (+0.0 IEEE add) before hashing, so a low-cardinality
    float column with both zeros estimates 1 key, not 2."""
    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token="hllsz")
    spark.sql("SELECT CAST(IF(id % 2 = 0, 0.0, -0.0) AS DOUBLE) AS z "
              "FROM range(100)").createOrReplaceTempView("__sz_t")
    try:
        exact = spark.sql(
            "SELECT COUNT(DISTINCT z) c FROM __sz_t").collect()[0][0]
        assert exact == 1                        # Spark normalizes -0.0
        est = aqp.approx_count_distinct("__sz_t", "z", p=9).collect()[0][0]
        assert abs(est - 1.0) < 0.1              # LC: one key, not two
    finally:
        spark.catalog.dropTempView("__sz_t")


def test_explain_aqp_reports_route(spark):
    aqp = _session(spark, "hllexp")
    row = aqp.sql("EXPLAIN AQP " + Q).collect()[0]
    assert row["route"] == "approx"
    assert row["estimator"] == "hll_count_distinct"
    assert row["sample_method"] == "hll(p=9)"
    assert row["base_table"] == "orders"
    assert row["behavior"] == "do_nothing"
    # the row reports the WITH clause's behavior, not the session default
    row = aqp.sql("EXPLAIN AQP " + Q + " BEHAVIOR 'local_omit'").collect()[0]
    assert row["estimator"] == "hll_count_distinct"
    assert row["behavior"] == "local_omit"
    aqp.sql("SET spark.sql.aqp.hllCountDistinct=false")
    row = aqp.sql("EXPLAIN AQP " + Q).collect()[0]
    assert row["route"] == "exact"


def test_fixture_matches_duckdb_oracle(spark, duck):
    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()
    for name in ("sql_count_distinct_hll", "sql_count_distinct_hll_grouped"):
        compare_frames(qs[name](spark, SF_SMALL), duck.sql(oracles[name]))


@pytest.mark.parametrize("text", [
    # two sketches in one query
    "SELECT COUNT(DISTINCT o_custkey) a, COUNT(DISTINCT o_orderstatus) b "
    "FROM orders WITH ERROR",
    # join
    "SELECT COUNT(DISTINCT o_custkey) a FROM orders o "
    "JOIN lineitem l ON o.o_orderkey = l.l_orderkey WITH ERROR",
    # HAVING
    "SELECT o_orderpriority, COUNT(DISTINCT o_custkey) a FROM orders "
    "GROUP BY o_orderpriority HAVING COUNT(*) > 10 WITH ERROR",
    # extra non-distinct aggregate alongside
    "SELECT COUNT(DISTINCT o_custkey) a, SUM(o_totalprice) s "
    "FROM orders WITH ERROR",
])
def test_unsupported_shapes_fall_through(spark, text):
    aqp = _session(spark, "hllfall")
    assert aqp.route(text).kind == "exact"
    aqp.sql(text)                                # exact route still works


def test_output_name_collisions_fall_through(spark):
    """round-8 ADVICE: a group-key alias colliding with the estimate or
    an errfn output would generate a duplicate-named final SELECT plus an
    ambiguous ORDER BY — such shapes must return None from routing (the
    exact route answers) instead of raising mid-plan."""
    aqp = _session(spark, "hllcollide")
    # key alias == estimate alias
    assert aqp.route(
        "SELECT year(o_orderdate) AS approx_customers, "
        "COUNT(DISTINCT o_custkey) AS approx_customers "
        "FROM orders GROUP BY year(o_orderdate) WITH ERROR").kind == "exact"
    # key alias == errfn output alias
    assert aqp.route(
        "SELECT year(o_orderdate) AS lb, COUNT(DISTINCT o_custkey) AS a, "
        "lower_bound(a) AS lb FROM orders GROUP BY year(o_orderdate) "
        "WITH ERROR").kind == "exact"
    # estimate alias == errfn output alias
    assert aqp.route(
        "SELECT COUNT(DISTINCT o_custkey) AS a, lower_bound(a) AS a "
        "FROM orders WITH ERROR").kind == "exact"
    # same contract on the histogram route
    aqp.sql("SET spark.sql.aqp.histogramQuantile=true")
    assert aqp.route(
        "SELECT year(o_orderdate) AS med, "
        "APPROX_PERCENTILE(o_totalprice, 0.5) AS med "
        "FROM orders GROUP BY year(o_orderdate) WITH ERROR").kind == "exact"


def test_no_with_clause_never_routes(spark):
    aqp = _session(spark, "hllplain")
    exact = spark.sql(
        "SELECT COUNT(DISTINCT o_custkey) c FROM orders").collect()[0][0]
    got = aqp.sql(
        "SELECT COUNT(DISTINCT o_custkey) AS c FROM orders").collect()[0][0]
    assert got == exact


def test_hac_contract_strict_raises(spark):
    """The sketch's relative error is known a priori, so the WITH ERROR
    contract resolves at plan time: p=9 -> rel ~0.092 > 0.05 demanded."""
    from snappy_aqp_spark.operators.closedform import (
        ErrorLimitExceededException)
    aqp = _session(spark, "hllstrict")
    q = ("SELECT COUNT(DISTINCT o_custkey) AS a FROM orders "
         "WITH ERROR 0.05 BEHAVIOR 'strict'")
    with pytest.raises(ErrorLimitExceededException, match="hll route"):
        aqp.sql(q)
    # satisfiable contract proceeds on the sketch
    ok = aqp.sql("SELECT COUNT(DISTINCT o_custkey) AS a FROM orders "
                 "WITH ERROR 0.2 BEHAVIOR 'strict'").collect()[0][0]
    assert ok != int(ok) or ok > 0               # sketch double came back


def test_explain_aqp_reports_strict_throw_without_raising(spark):
    """EXPLAIN AQP introspects — it must report the strict outcome as a
    row, not raise it."""
    aqp = _session(spark, "hllexpstrict")
    row = aqp.sql("EXPLAIN AQP SELECT COUNT(DISTINCT o_custkey) AS a "
                  "FROM orders WITH ERROR 0.05 BEHAVIOR 'strict'"
                  ).collect()[0]
    assert row["route"] == "strict_throw"
    assert "exceeds contract" in row["reason"]


def test_hac_contract_reroutes_to_exact(spark):
    """run_on_full_table under an unsatisfiable contract = the exact
    answer (the fall-through exact route IS the full-table reroute)."""
    aqp = _session(spark, "hllreroute")
    exact = spark.sql(
        "SELECT COUNT(DISTINCT o_custkey) c FROM orders").collect()[0][0]
    got = aqp.sql("SELECT COUNT(DISTINCT o_custkey) AS a FROM orders "
                  "WITH ERROR 0.05 BEHAVIOR 'run_on_full_table'"
                  ).collect()[0][0]
    assert got == exact


@pytest.mark.parametrize("behavior", ["run_on_full_table",
                                      "partial_run_on_base_table"])
def test_hac_rerouting_behaviors_route_exact(spark, behavior):
    """Both rerouting behaviors send a COUNT(DISTINCT) whose a-priori HLL
    error breaks the contract to the exact route (a sketch has no
    per-group base-table fallback, so partial routing is the full one)."""
    aqp = _session(spark, "hllreroutebeh")
    assert aqp.route("SELECT COUNT(DISTINCT o_custkey) AS a FROM orders "
                     f"WITH ERROR 0.01 BEHAVIOR '{behavior}'"
                     ).kind == "exact"


def test_set_property_validation(spark):
    aqp = _session(spark, "hllval", on=False)
    with pytest.raises(fe.SQLFrontendError, match="boolean"):
        aqp.sql("SET spark.sql.aqp.hllCountDistinct=maybe")
    with pytest.raises(fe.SQLFrontendError, match="hllPrecision"):
        aqp.sql("SET spark.sql.aqp.hllPrecision=99")


def test_expression_group_key_routes(spark):
    """An EXPRESSION group key keeps the sketch route (round-8: the
    builder pre-projects it to a generated column before the register
    lattice) — but only when the selected key carries an output alias;
    an unaliased expression key still falls through."""
    aqp = _session(spark, "hllexprkey")
    route = aqp.route(
        "SELECT year(o_orderdate) AS y, COUNT(DISTINCT o_custkey) a "
        "FROM orders GROUP BY year(o_orderdate) WITH ERROR")
    assert route.kind == "hll"
    assert route.sketch["group_keys"] == ("year(o_orderdate)",)
    assert route.sketch["group_out"] == ("y",)
    rows = aqp.sql(
        "SELECT year(o_orderdate) AS y, COUNT(DISTINCT o_custkey) AS a "
        "FROM orders GROUP BY year(o_orderdate) ORDER BY y WITH ERROR"
    ).collect()
    exact = {r["y"]: r["c"] for r in spark.sql(
        "SELECT year(o_orderdate) AS y, COUNT(DISTINCT o_custkey) c "
        "FROM orders GROUP BY year(o_orderdate)").collect()}
    assert {r["y"] for r in rows} == set(exact)
    # the answers are sketch ESTIMATES (float, not the exact integers —
    # accuracy above the LC regime is pinned elsewhere; this fixture's
    # per-year cardinalities sit below 2.5*m at p=9)
    assert all(isinstance(r["a"], float) and r["a"] > 0 for r in rows)
    assert any(r["a"] != exact[r["y"]] for r in rows)
    # unaliased expression key: no output column name -> exact path
    assert aqp.route(
        "SELECT year(o_orderdate), COUNT(DISTINCT o_custkey) a "
        "FROM orders GROUP BY year(o_orderdate) WITH ERROR").kind == "exact"


@pytest.mark.slow
def test_route_works_over_a_stream_table(spark, tmp_path):
    """The route is plain SQL generation over a named relation, so it
    composes with the streaming surface: COUNT(DISTINCT) WITH ERROR on a
    stream table answers from the sketch over the rows ingested so far
    and equals the identical sketch computed in batch."""
    import json
    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token="hllstream")
    src = tmp_path / "src"
    src.mkdir()
    aqp.sql("STREAMING INIT 1secs")
    aqp.sql("CREATE STREAM TABLE hll_stream (uid long, v long) "
            f"USING file_stream OPTIONS (path '{src}', format 'json')")
    aqp.sql("STREAMING START")
    with open(src / "b1.json", "w") as f:
        for i in range(500):
            f.write(json.dumps({"uid": i % 311, "v": i}) + "\n")
    aqp.streaming.process_all()
    aqp.sql("SET spark.sql.aqp.hllCountDistinct=true")
    aqp.sql("SET spark.sql.aqp.hllPrecision=5")
    q = "SELECT COUNT(DISTINCT uid) AS u FROM hll_stream WITH ERROR"
    est1 = aqp.sql(q).collect()[0][0]
    # identical sketch over the same rows computed in batch
    from snappy_aqp_spark.dialect import SPARK
    from snappy_aqp_spark.pipeline.distinct import (
        hll_count_distinct_query_sql)
    batch = spark.sql(hll_count_distinct_query_sql(
        SPARK, col="uid", table="hll_stream", p=5, alias="u",
        key_kind="bigint")       # uid is LONG: the route's type probe
    ).collect()[0][0]            # picks the avalanche path — mirror it
    assert est1 == batch
    # more data moves the estimate (the stream table grew)
    with open(src / "b2.json", "w") as f:
        for i in range(400, 900):
            f.write(json.dumps({"uid": i, "v": i}) + "\n")
    aqp.streaming.process_all()
    est2 = aqp.sql(q).collect()[0][0]
    assert est2 > est1
    aqp.sql("STREAMING STOP")
    aqp.sql("DROP TABLE IF EXISTS hll_stream")


def test_session_approx_count_distinct_api(spark):
    """DataFrame-API face: explicit calls bypass the SQL-surface gate and
    agree with the routed SQL bit-for-bit."""
    aqp = _session(spark, "hllapi")           # property ON at p=9
    via_sql = aqp.sql(Q).collect()[0]
    via_api = aqp.approx_count_distinct("orders", "o_custkey", p=9
                                        ).collect()[0]
    assert via_api["approx_count_distinct"] == via_sql["approx_customers"]
    assert via_api["lower_bound"] == via_sql["lb"]
    # grouped + filtered form
    rows = aqp.approx_count_distinct(
        "orders", "o_custkey", group_by="o_orderpriority", p=6,
        where="o_totalprice > 1000").collect()
    assert len(rows) >= 2
    assert all(r["lower_bound"] <= r["approx_count_distinct"]
               <= r["upper_bound"] for r in rows)
    # explicit API works even with the SQL-surface property OFF
    off = _session(spark, "hllapioff", on=False)
    assert off.approx_count_distinct("orders", "o_custkey", p=9
                                     ).count() == 1


def test_null_group_key_kept_and_replays(spark):
    """A NULL group key is a real group on the exact route, so the sketch
    route must return it too (round-8 ADVICE) — and its ORDER BY must pin
    NULL placement explicitly, since Spark and DuckDB default opposite
    ways. Checked against a fresh DuckDB replay of the identical rows."""
    import duckdb
    import pandas as pd
    from snappy_aqp_spark.dialect import DUCKDB, SPARK
    from snappy_aqp_spark.pipeline.distinct import \
        hll_count_distinct_query_sql
    pdf = pd.DataFrame({
        "k": ["a", "a", None, "b", None, "b", None],
        "v": [1, 2, 3, 4, 5, 1, 3]})
    spark.createDataFrame(pdf).createOrReplaceTempView("hll_nulls_t")
    con = duckdb.connect()
    con.register("hll_nulls_t", pdf)
    kw = dict(col="v", table="hll_nulls_t", p=9, group_keys=("k",),
              alias="acd")
    sp = spark.sql(hll_count_distinct_query_sql(SPARK, **kw))
    dk = con.sql(hll_count_distinct_query_sql(DUCKDB, **kw))
    # the NULL-keyed group exists, alongside a and b
    rows = sp.collect()
    assert len(rows) == 3 and any(r["k"] is None for r in rows)
    compare_frames(sp, dk)
