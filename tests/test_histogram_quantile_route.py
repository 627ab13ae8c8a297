"""Opt-in histogram route for ``APPROX_PERCENTILE ... WITH ERROR``.

Extension beyond the reference (which approximates only SUM/AVG/COUNT):
``spark.sql.aqp.histogramQuantile`` routes the percentile shape through
the mergeable fixed-width bin lattice
(pipeline/quantiles.py::histogram_quantile_query_sql); error functions
answer from the deterministic bin envelope (abs = width/2, bounds = the
bin's [lo, hi)). Off by default — when off, Spark's native
approx_percentile answers on the exact route with error functions
constant-folded, same as any other exact plan.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from snappy_aqp_spark.api import AQPSession
from snappy_aqp_spark.sql import frontend as fe
from tests.conftest import SF_SMALL, compare_frames

Q = ("SELECT APPROX_PERCENTILE(n_chars, 0.5) AS med, "
     "absolute_error(med) AS abs_err, "
     "lower_bound(med) AS lb, upper_bound(med) AS ub "
     "FROM documents WITH ERROR")


def _session(spark, token, on=True, width=50):
    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token=token)
    aqp.load_tables(SF_SMALL, ("documents",))
    if on:
        aqp.sql("SET spark.sql.aqp.histogramQuantile=true")
        aqp.sql(f"SET spark.sql.aqp.histogramBinWidth={width}")
    return aqp


def test_off_by_default_runs_native(spark):
    aqp = _session(spark, "hqoff", on=False)
    row = aqp.sql(Q).collect()[0]
    native = spark.sql("SELECT APPROX_PERCENTILE(n_chars, 0.5) "
                       "FROM documents").collect()[0][0]
    assert row["med"] == native                  # exact route, native agg
    assert row["abs_err"] == 0.0 and row["lb"] is None


def test_on_bin_envelope_contains_true_quantile(spark):
    aqp = _session(spark, "hqon")
    row = aqp.sql(Q).collect()[0]
    true_med = spark.sql("SELECT percentile(n_chars, 0.5) "
                         "FROM documents").collect()[0][0]
    assert row["lb"] <= true_med <= row["ub"]    # envelope is REAL
    assert row["ub"] - row["lb"] == 50.0         # one bin wide
    assert row["abs_err"] == 25.0
    assert row["med"] == (row["lb"] + row["ub"]) / 2
    # dynamic flip back off mid-session
    aqp.sql("SET spark.sql.aqp.histogramQuantile=false")
    assert aqp.sql(Q).collect()[0]["abs_err"] == 0.0


def test_explain_aqp_reports_route(spark):
    aqp = _session(spark, "hqexp")
    row = aqp.sql("EXPLAIN AQP " + Q).collect()[0]
    assert row["route"] == "approx"
    assert row["estimator"] == "histogram_quantile"
    assert row["sample_method"] == "histogram(width=50)"
    assert row["error"] == 25.0
    assert row["behavior"] == "do_nothing"
    # the row reports the WITH clause's behavior, not the session default
    row = aqp.sql("EXPLAIN AQP " + Q + " BEHAVIOR 'local_omit'").collect()[0]
    assert row["estimator"] == "histogram_quantile"
    assert row["behavior"] == "local_omit"


def test_fixture_matches_duckdb_oracle(spark, duck):
    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()
    for name in ("sql_histogram_quantile_route",
                 "sql_histogram_quantile_route_grouped"):
        compare_frames(qs[name](spark, SF_SMALL), duck.sql(oracles[name]))


@pytest.mark.parametrize("text", [
    # two different columns -> two histograms: falls through
    "SELECT APPROX_PERCENTILE(n_chars, 0.5) a, "
    "APPROX_PERCENTILE(doc_id, 0.5) b FROM documents WITH ERROR",
    # unaliased estimate column
    "SELECT APPROX_PERCENTILE(n_chars, 0.5) FROM documents WITH ERROR",
    # q outside (0, 1)
    "SELECT APPROX_PERCENTILE(n_chars, 1.5) a FROM documents WITH ERROR",
    # mixed with another aggregate
    "SELECT APPROX_PERCENTILE(n_chars, 0.5) a, SUM(n_chars) s "
    "FROM documents WITH ERROR",
])
def test_unsupported_shapes_fall_through(spark, text):
    aqp = _session(spark, "hqfall")
    assert aqp.route(text).kind == "exact"


def test_hac_explicit_error_with_certifying_behavior_goes_exact(spark):
    """The bin envelope's relative error is data-dependent, so an
    EXPLICIT error bound under strict / run_on_full_table cannot be
    certified at plan time — those queries take the exact route (errors
    fold to 0, the only certified answer); bare WITH ERROR stays on the
    sketch."""
    aqp = _session(spark, "hqhac")
    q = ("SELECT APPROX_PERCENTILE(n_chars, 0.5) AS med, "
         "absolute_error(med) AS abs_err FROM documents "
         "WITH ERROR 0.05 BEHAVIOR 'strict'")
    row = aqp.sql(q).collect()[0]
    assert row["abs_err"] == 0.0                 # exact route, folded
    row = aqp.sql(Q).collect()[0]                # bare WITH ERROR
    assert row["abs_err"] == 25.0                # sketch envelope


@pytest.mark.parametrize("behavior", ["run_on_full_table",
                                      "partial_run_on_base_table"])
def test_explicit_error_rerouting_behaviors_route_exact(spark, behavior):
    """Both rerouting behaviors send an explicit-error histogram query to
    the exact route; bare WITH ERROR keeps the sketch under the same
    behavior."""
    aqp = _session(spark, "hqhacbeh")
    q = ("SELECT APPROX_PERCENTILE(n_chars, 0.5) AS med FROM documents "
         "WITH ERROR")
    assert aqp.route(f"{q} 0.05 BEHAVIOR '{behavior}'").kind == "exact"
    assert aqp.route(f"{q} BEHAVIOR '{behavior}'").kind == "histogram"


def test_set_property_validation(spark):
    aqp = _session(spark, "hqval", on=False)
    with pytest.raises(fe.SQLFrontendError, match="boolean"):
        aqp.sql("SET spark.sql.aqp.histogramQuantile=definitely")
    with pytest.raises(fe.SQLFrontendError, match="histogramBinWidth"):
        aqp.sql("SET spark.sql.aqp.histogramBinWidth=0")


def test_null_group_key_kept_and_replays(spark):
    """NULL-keyed groups must survive the histogram route (the exact
    route and the HLL route both return them — round-8 ADVICE medium):
    no group-key IS NOT NULL filter, window PARTITION BY treats NULL as
    one group on both engines, and the generated ORDER BY pins NULLS
    FIRST explicitly so the dual replay stays bit-exact."""
    import duckdb
    import pandas as pd
    from snappy_aqp_spark.dialect import DUCKDB, SPARK
    from snappy_aqp_spark.pipeline.quantiles import \
        histogram_quantile_query_sql
    pdf = pd.DataFrame({
        "k": ["a", None, "a", "b", None, "b", None, "a"],
        "v": [10, 120, 30, 40, 150, 60, 170, 80]})
    spark.createDataFrame(pdf).createOrReplaceTempView("hq_nulls_t")
    con = duckdb.connect()
    con.register("hq_nulls_t", pdf)
    kw = dict(col="v", table="hq_nulls_t", width=50,
              pcts=((0.5, "p50"),), group_keys=("k",))
    sp = spark.sql(histogram_quantile_query_sql(SPARK, **kw))
    dk = con.sql(histogram_quantile_query_sql(DUCKDB, **kw))
    rows = sp.collect()
    assert len(rows) == 3 and any(r["k"] is None for r in rows)
    # NULL group values 120,150,170 -> bins 2,3,3; rank ceil(.5*3)=2 hits
    # bin 3, midpoint (3+0.5)*50
    nul = [r for r in rows if r["k"] is None][0]
    assert nul["p50"] == 175.0
    compare_frames(sp, dk)


def test_expression_group_key_routes(spark):
    """Expression group keys route through the histogram builder's
    pre-projection (round-8), mirroring the HLL route."""
    from snappy_aqp_spark.api import AQPSession
    from tests.conftest import SF_SMALL
    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token="hqexprkey")
    aqp.load_tables(SF_SMALL, ("documents",))
    aqp.sql("SET spark.sql.aqp.histogramQuantile=true")
    route = aqp.route(
        "SELECT doc_id % 3 AS b, APPROX_PERCENTILE(n_chars, 0.5) AS med "
        "FROM documents GROUP BY doc_id % 3 WITH ERROR")
    assert route.kind == "histogram"
    assert route.sketch["group_keys"] == ("doc_id % 3",)
    assert route.sketch["group_out"] == ("b",)
    rows = aqp.sql(
        "SELECT doc_id % 3 AS b, APPROX_PERCENTILE(n_chars, 0.5) AS med "
        "FROM documents GROUP BY doc_id % 3 ORDER BY b WITH ERROR"
    ).collect()
    assert len(rows) == 3 and [r["b"] for r in rows] == [0, 1, 2]
    assert all(r["med"] % 50 == 25.0 for r in rows)   # bin midpoints
